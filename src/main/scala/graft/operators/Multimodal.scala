package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Section C (part 4) of SURVEY §2: multimodal column plumbing.
  *
  * Media (image/audio/video) are opaque `binary` columns + typed metadata.
  * The Spark-side plumbing is real — schema, partition-parallel decode via
  * typed Dataset transforms (the Scala analog of `mapInPandas` batch UDFs),
  * deterministic frame sampling — while the codec itself is a clearly-marked
  * STUB (no image/audio libraries in this environment): `decodeStub` derives
  * metadata deterministically from the bytes, standing in for a JPEG/WAV
  * header parse. Swapping in a real codec changes only the function body;
  * every schema and shuffle stays as-is.
  *
  * Scale: decode is embarrassingly parallel (mapPartitions, no shuffle);
  * frame sampling explodes bounded per-asset rows (stride-capped), so output
  * volume is a controlled multiple of input.
  */
object Multimodal {

  /** Raw media asset: id + opaque payload (here: utf8 bytes of `text`,
    * standing in for an encoded image/video). */
  case class Asset(doc_id: Long, payload: Array[Byte])

  /** Typed decode result — what a real header parse would return. */
  case class MediaMeta(doc_id: Long, n_bytes: Int, width: Int, height: Int,
      channels: Int, n_frames: Int)

  /** STUB codec: deterministic pseudo-metadata from payload bytes.
    * A real implementation would parse the container header here. */
  def decodeStub(a: Asset): MediaMeta = {
    val n = a.payload.length
    val b0 = if (n > 0) a.payload(0) & 0xff else 0
    MediaMeta(
      doc_id = a.doc_id,
      n_bytes = n,
      width = 16 + (n % 624),
      height = 16 + ((n * 7 + b0) % 464),
      channels = 3,
      n_frames = 1 + (n % 24))
  }

  /** PNG file signature (PNG spec / RFC 2083 §3.1). */
  private val PngMagic =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** The decode dispatch: payloads carrying a real PNG signature parse
    * through `javax.imageio` (ships in the JDK — a REAL container decode,
    * no new dependency): actual pixel dimensions, the color model's
    * channel count, one frame. Everything else falls through to the
    * arithmetic stub — the synthetic corpus is ASCII text, which can never
    * start with the 0x89 signature byte, so every gated result is
    * unchanged and stays oracle-replayable; the real branch is pinned by
    * MultimodalSpec on a generated PNG. */
  /** The ONE codec dispatch all three real-branch consumers share
    * (decode, phash, resample): Some(image) only for a payload that both
    * carries the PNG signature AND actually decodes. Real crawled data
    * routinely contains truncated/corrupt files whose first 8 bytes still
    * match — ImageIO returns null or throws there, and every consumer
    * must fall back to the byte stub rather than kill the task. */
  private[graft] def decodePng(a: Asset): Option[java.awt.image.BufferedImage] =
    if (a.payload.length >= 8 && a.payload.take(8).sameElements(PngMagic))
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(a.payload)))
      catch { case scala.util.control.NonFatal(_) => None }
    else None

  def decodeAsset(a: Asset): MediaMeta =
    decodePng(a) match {
      case Some(img) =>
        MediaMeta(a.doc_id, a.payload.length, img.getWidth, img.getHeight,
          img.getColorModel.getNumComponents, 1)
      case None => decodeStub(a)
    }

  private def assets(s: SparkSession, dir: String) = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[Asset]
  }

  /** Binary → typed metadata via partition-parallel typed map. */
  def decodeAssets(ds: org.apache.spark.sql.Dataset[Asset]): DataFrame = {
    val s = ds.sparkSession
    import s.implicits._
    ds.mapPartitions(_.map(decodeAsset)).toDF()
  }

  def decode(s: SparkSession, dir: String): DataFrame =
    decodeAssets(assets(s, dir))

  /** Deterministic frame sampling: every 8th frame, max 4 per asset; each
    * sampled frame's payload slice is fingerprinted. */
  def frameSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    assets(s, dir).flatMap { a =>
      val meta = decodeAsset(a)
      val idxs = (0 until meta.n_frames by 8).take(4)
      idxs.map { i =>
        val start = (i * 41) % math.max(meta.n_bytes, 1)
        val len = math.min(64, meta.n_bytes - start)
        val slice = a.payload.slice(start, start + math.max(len, 0))
        (a.doc_id, i, md5OfHex(slice))
      }
    }.toDF("doc_id", "frame_idx", "frame_md5")
  }

  /** RIFF/WAVE container magic (RIFF spec: 'RIFF' at 0, 'WAVE' at 8). */
  private val RiffMagic = "RIFF".getBytes("US-ASCII")
  private val WaveMagic = "WAVE".getBytes("US-ASCII")

  /** The audio half of the codec dispatch, mirroring [[decodePng]]:
    * payloads carrying the RIFF/WAVE signature parse through
    * `javax.sound.sampled` (ships in the JDK — a REAL container decode,
    * no new dependency) into interleaved integer PCM samples; anything
    * that fails to parse — truncated headers, compressed encodings, any
    * NonFatal the platform reader throws on crafted bytes — degrades to
    * the byte stub rather than killing the task. 8- and 16-bit PCM only
    * (signed or unsigned, either endianness); the synthetic corpus is
    * ASCII text whose bytes 8-11 are never 'WAVE' behind a 'RIFF' prefix,
    * so every gated result is unchanged and stays oracle-replayable. */
  private[graft] def decodeWavSamples(a: Asset): Option[Array[Int]] =
    if (a.payload.length >= 12 && a.payload.take(4).sameElements(RiffMagic) &&
        a.payload.slice(8, 12).sameElements(WaveMagic))
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(a.payload))
        try {
          val fmt = in.getFormat
          val enc = fmt.getEncoding
          val bits = fmt.getSampleSizeInBits
          val signed = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
          val unsigned = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
          if (!(signed || unsigned) || (bits != 8 && bits != 16)) None
          else {
            val bytes = in.readAllBytes()
            val n = bytes.length / (bits / 8)
            val out = new Array[Int](n)
            var i = 0
            while (i < n) {
              out(i) =
                if (bits == 8) { if (signed) bytes(i).toInt else (bytes(i) & 0xff) - 128 }
                else {
                  val raw =
                    if (fmt.isBigEndian) (bytes(2 * i).toInt << 8) | (bytes(2 * i + 1) & 0xff)
                    else (bytes(2 * i + 1).toInt << 8) | (bytes(2 * i) & 0xff)
                  if (signed) raw else ((raw & 0xffff) - 32768)
                }
              i += 1
            }
            Some(out)
          }
        } finally in.close()
      } catch { case scala.util.control.NonFatal(_) => None }
    else None

  /** Audio feature extraction: hopping-window energy (256-unit windows,
    * 128-unit hop, bounded at 8 windows/asset) — the decode → frame →
    * per-frame-features shape a real audio pipeline runs. Real RIFF/WAVE
    * payloads window DECODED PCM samples (sum of squared sample values —
    * format-invariant: the same PCM re-containered 8-vs-16-bit scales by
    * exactly (2^8)^2, and signed/unsigned/endian variants are identical;
    * spec-asserted on generated WAVs); everything else windows raw bytes
    * (the stub), so the gated corpus stays oracle-exact. */
  def audioWindows(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    assets(s, dir).flatMap(audioWindowsOf _).toDF("doc_id", "window_idx", "n_samples", "energy")
  }

  private[graft] def audioWindowsOf(a: Asset): Seq[(Long, Int, Int, Long)] = {
    val win = 256; val hop = 128
    decodeWavSamples(a) match {
      case Some(samples) =>
        val starts = (0 until math.max(samples.length - win + 1, 1) by hop).take(8)
        starts.map { st =>
          val end = math.min(st + win, samples.length)
          var energy = 0L
          var i = st
          while (i < end) { energy += samples(i).toLong * samples(i); i += 1 }
          (a.doc_id, st / hop, end - st, energy)
        }
      case None =>
        val bytes = a.payload
        val starts = (0 until math.max(bytes.length - win + 1, 1) by hop).take(8)
        starts.map { st =>
          val end = math.min(st + win, bytes.length)
          var energy = 0L
          var i = st
          while (i < end) { val c = (bytes(i) & 0xff) - 128; energy += c.toLong * c; i += 1 }
          (a.doc_id, st / hop, end - st, energy)
        }
    }
  }

  /** 64-bit AUDIO fingerprint — the Haitsma-Kalker shape (binarized
    * band-energy pattern over hopping windows; "A Highly Robust Audio
    * Fingerprinting System", 2002): the asset's 8 hopping windows (the
    * [[audioWindows]] grid) each split into 8 EQUAL sub-bands of the
    * window's actual span (integer boundaries lo_b = st + b·len/8 — the
    * phash segment rule, so short assets keep 8 discriminating bands
    * instead of degenerating into two fixed-width ones), and bit (w*8+b)
    * is set iff sub-band b's energy exceeds its window's mean
    * (8·S > E — integer cross-multiplied, exact). Identical audio collides
    * exactly; re-encoded/lightly-clipped audio lands within a small
    * hamming distance, so the simhash/phash pigeonhole pairing applies
    * verbatim to this column. Real RIFF/WAVE payloads fingerprint DECODED
    * PCM (spec-asserted re-container invariance); everything else
    * fingerprints raw bytes (the stub), keeping the gated corpus
    * oracle-exact — the audioWindows discipline. */
  private[graft] def audioFingerprintOf(a: Asset): (Long, Long, Int) = {
    val win = 256; val hop = 128
    def bands(value: Int => Long, n: Int): Seq[Array[Long]] = {
      val starts = (0 until math.max(n - win + 1, 1) by hop).take(8)
      starts.map { st =>
        val end = math.min(st + win, n)
        val len = end - st
        val subs = new Array[Long](8)
        var b = 0
        while (b < 8) {
          var i = st + b * len / 8
          val hi = st + (b + 1) * len / 8
          while (i < hi) {
            val c = value(i)
            subs(b) += c * c
            i += 1
          }
          b += 1
        }
        subs
      }
    }
    val ws = decodeWavSamples(a) match {
      case Some(samples) => bands(i => samples(i).toLong, samples.length)
      case None =>
        val b = a.payload
        bands(i => ((b(i) & 0xff) - 128).toLong, b.length)
    }
    var fp = 0L
    ws.zipWithIndex.foreach { case (subs, w) =>
      val tot = subs.sum
      var j = 0
      while (j < 8) {
        if (subs(j) * 8 > tot) fp |= 1L << (w * 8 + j)
        j += 1
      }
    }
    (a.doc_id, fp, ws.length)
  }

  def audioFingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    assets(s, dir).map(audioFingerprintOf _).toDF("doc_id", "afp", "n_windows")
  }

  /** Audio near-dup candidate pairs: hamming <= 2 over [[audioFingerprint]]
    * via the SHARED pigeonhole-block engine (Dedup.hammingPairs — the
    * simhash/phash path verbatim: 3 bucket rows per asset, salted census,
    * XOR-popcount verification only on candidates; never all-pairs). */
  def audioPairs(s: SparkSession, dir: String): DataFrame =
    // the verified pair relation is registry-served per corpus state
    // (the minhashVerified discipline)
    graft.operators.AnnModels.audioPairs(s, dir)

  /** The audio hash family's registry-served degenerate census (shared
    * by the pairing query and the CC-label trainer). */
  private[operators] def audioDegen(s: SparkSession, dir: String): Seq[(Int, Long)] =
    Dedup.degenOf(graft.operators.AnnModels.audioDegen(s, dir))

  /** The (doc_id, h) audio-print relation the hamming engine pairs. */
  private[operators] def audioHashed(s: SparkSession, dir: String): DataFrame =
    audioFingerprint(s, dir).select(col("doc_id"), col("afp").as("h"))

  /** The AUDIO-perceptual CC labeling (doc_id, cluster_id) — the
    * [[phashLabelsOf]] recipe on the Haitsma-Kalker fingerprint column
    * (one fingerprint pass, degenerate-masked hamming pairs, the shared
    * star-contraction CC engine); persisted per corpus state by
    * AnnModels.audioLabels and served to [[audioDedup]] / [[audioKeep]] —
    * the audio column's survivor table, completing the image/text/audio
    * dedup triad's serving story. */
  def audioLabelsOf(s: SparkSession, dir: String): DataFrame =
    // edges from the served pair artifact (one pairing chain per corpus
    // state, shared with the gated pairing query); vertices are one
    // cheap fingerprint pass
    Dedup.ccLabels(audioFingerprint(s, dir).select(col("doc_id")),
      audioPairs(s, dir).select(col("doc_a"), col("doc_b")))

  /** Audio dedup — one row per canonical asset with its representation
    * count (the [[phashDedup]] shape on the fingerprint column): CC over
    * the verified hamming pairs, labels registry-served. */
  def audioDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.clusterReport(graft.operators.AnnModels.audioLabels(s, dir), "doc_id")

  /** [[audioDedup]] with the keep-best-copy rule: within each perceptual
    * cluster keep the LONGEST recording (max fingerprint windows — the
    * most audio content survives, the byte-domain "highest bitrate"
    * stand-in), by [[Dedup.keepBest]]. */
  def audioKeep(s: SparkSession, dir: String): DataFrame =
    Dedup.keepBest(graft.operators.AnnModels.audioLabels(s, dir)
      .join(audioFingerprint(s, dir).select(col("doc_id"), col("n_windows")), Seq("doc_id")),
      "n_windows", "doc_id")

  /** aHash-style perceptual fingerprint over the payload (the image-dedup
    * primitive): the payload is cut into 64 equal byte segments and bit j
    * is set iff segment j's mean byte value exceeds the whole-payload mean
    * (integer cross-multiplied — exact, no division). Identical assets
    * collide exactly; re-encoded/lightly-edited assets land within a small
    * hamming distance, which is what perceptual dedup buckets on. A real
    * pHash swaps the byte segments for DCT coefficients of decoded pixels —
    * same 64-bit shape, same downstream pairing (dedup_simhash_pairs'
    * pigeonhole blocks apply verbatim to this column). */
  /** Exact a*b > c*d for non-negative longs via the 128-bit product —
    * seg*n reaches ~255*n^2/64, which wraps a 64-bit long beyond ~1.5 GB
    * payloads (real video assets; the JVM byte-array cap is 2 GB). The SQL
    * mirror's BIGINT products cover the test corpus; past the BIGINT range
    * DuckDB raises rather than silently diverging. */
  private def prodGt(a: Long, b: Long, c: Long, d: Long): Boolean = {
    val hi1 = Math.multiplyHigh(a, b)
    val hi2 = Math.multiplyHigh(c, d)
    if (hi1 != hi2) hi1 > hi2
    else java.lang.Long.compareUnsigned(a * b, c * d) > 0
  }

  def phashStub(a: Asset): (Long, Int, Long) = {
    val n = a.payload.length
    var total = 0L
    var i = 0
    while (i < n) { total += (a.payload(i) & 0xff); i += 1 }
    var h = 0L
    var j = 0
    while (j < 64) {
      // Long math: j * n overflows Int beyond ~34 MB payloads (real video
      // assets exceed that); the oracle's BIGINT arithmetic already agrees.
      val lo = ((j.toLong * n) / 64).toInt
      val hi = (((j + 1).toLong * n) / 64).toInt
      var seg = 0L
      var k = lo
      while (k < hi) { seg += (a.payload(k) & 0xff); k += 1 }
      if (prodGt(seg, n.toLong, total, (hi - lo).toLong)) h |= (1L << j)
      j += 1
    }
    (a.doc_id, n, h)
  }

  /** PIXEL-domain aHash over a decoded image — the standard perceptual
    * fingerprint form: 8×8 grid of mean luminances (ITU-R BT.601 integer
    * weights 299/587/114, exact long arithmetic), bit j set iff cell j's
    * mean exceeds the whole-image mean (the same cross-multiplied compare
    * as the byte stub). Because it runs on DECODED pixels, the same image
    * re-encoded (different PNG filter/compression settings) produces the
    * SAME 64-bit hash — the property byte-domain segmentation lacks and
    * the one image-dedup actually needs (spec-asserted on a
    * twice-encoded image). Cells with no pixels (degenerate <8px images)
    * contribute 0 bits, deterministically. */
  /** The BT.601 luminance plane (1000-scaled ints, row-major) of a decoded
    * image, read in BULK: the common ImageIO decode layouts
    * (TYPE_3BYTE_BGR / TYPE_4BYTE_ABGR with a packed pixel-interleaved
    * byte raster) read the raster's backing byte array DIRECTLY — zero
    * per-pixel dispatches, zero color-model conversions, the ~5-10x
    * multi-megapixel win; every other layout goes through
    * ONE bulk `getRGB(0,0,w,h,...)` call, keeping getRGB's color-model
    * semantics exactly (gray and indexed images CONVERT under getRGB —
    * e.g. TYPE_BYTE_GRAY maps through linear-to-sRGB — so a raw-raster
    * read there would change hashes; the packed-BGR fast path is
    * conversion-free by construction, which is why it is the only raw
    * path). Parity across layouts is spec-asserted. */
  private[graft] def lumPlane(img: java.awt.image.BufferedImage): Array[Int] = {
    import java.awt.image.BufferedImage.{TYPE_3BYTE_BGR, TYPE_4BYTE_ABGR}
    val w = img.getWidth
    val h = img.getHeight
    val out = new Array[Int](w * h)
    val t = img.getType
    val raster = img.getRaster
    val ps = if (t == TYPE_3BYTE_BGR) 3 else 4
    val packed = (t == TYPE_3BYTE_BGR || t == TYPE_4BYTE_ABGR) &&
      raster.getSampleModelTranslateX == 0 && raster.getSampleModelTranslateY == 0 &&
      (raster.getSampleModel match {
        case sm: java.awt.image.PixelInterleavedSampleModel =>
          sm.getPixelStride == ps && sm.getScanlineStride == ps.toLong * w &&
            raster.getDataBuffer.isInstanceOf[java.awt.image.DataBufferByte] &&
            raster.getDataBuffer.getOffset == 0
        case _ => false
      })
    if (packed) {
      val data = raster.getDataBuffer.asInstanceOf[java.awt.image.DataBufferByte].getData
      val off = ps - 3 // ABGR leads with the alpha byte our formula ignores
      var i = 0
      var p = 0
      while (i < out.length) {
        out(i) = 114 * (data(p + off) & 0xff) + 587 * (data(p + off + 1) & 0xff) +
          299 * (data(p + off + 2) & 0xff)
        i += 1
        p += ps
      }
    } else {
      val rgb = img.getRGB(0, 0, w, h, null, 0, w)
      var i = 0
      while (i < out.length) {
        val v = rgb(i)
        out(i) = 299 * ((v >> 16) & 0xff) + 587 * ((v >> 8) & 0xff) + 114 * (v & 0xff)
        i += 1
      }
    }
    out
  }

  def phashPixels(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    val lum = lumPlane(img)
    val cellSum = new Array[Long](64)
    val cellPix = new Array[Long](64)
    var y = 0
    while (y < h) {
      val gy = math.min(y * 8 / h, 7)
      var x = 0
      while (x < w) {
        val gx = math.min(x * 8 / w, 7)
        val c = gy * 8 + gx
        cellSum(c) += lum(y * w + x)
        cellPix(c) += 1
        x += 1
      }
      y += 1
    }
    val total = cellSum.sum
    val totPix = cellPix.sum
    var hsh = 0L
    var j = 0
    while (j < 64) {
      if (cellPix(j) > 0 && prodGt(cellSum(j), totPix, total, cellPix(j)))
        hsh |= (1L << j)
      j += 1
    }
    hsh
  }

  /** The phash dispatch, mirroring [[decodeAsset]]: real PNG payloads hash
    * in the PIXEL domain (re-encode-invariant), everything else keeps the
    * byte-segment stub — so the gated corpus (ASCII text payloads, which
    * can never carry the 0x89 signature) is byte-for-byte unchanged and
    * stays oracle-replayable. */
  def phashAsset(a: Asset): (Long, Int, Long) =
    decodePng(a) match {
      case Some(img) => (a.doc_id, a.payload.length, phashPixels(img))
      case None => phashStub(a)
    }

  /** Perceptual-hash fingerprints, partition-parallel (no shuffle). */
  def phash(s: SparkSession, dir: String): DataFrame =
    phashOf(Tables.load(s, dir, "documents"))

  /** [[phash]] over ANY documents-shaped relation — the split the
    * incremental family needs (hash the ingest batch alone; the corpus
    * side comes from the persisted index, never a re-hash). */
  def phashOf(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    d.select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")).as[Asset]
      .mapPartitions(_.map(phashAsset)).toDF("doc_id", "n_bytes", "phash")
  }

  /** Perceptual near-dup pairs: assets within hamming <= Dedup.MaxHamming
    * on the phash column — literally `Dedup.hammingPairs` (the simhash
    * pigeonhole + salted-census engine) applied to the multimodal
    * fingerprint; one pairing engine serves both modalities. */
  def phashPairs(s: SparkSession, dir: String): DataFrame =
    // the verified pair relation is registry-served per corpus state
    // (the minhashVerified discipline)
    graft.operators.AnnModels.phashPairs(s, dir)

  /** The image hash family's registry-served degenerate census (shared
    * by the pairing query and the CC-label trainer). */
  private[operators] def phashDegen(s: SparkSession, dir: String): Seq[(Int, Long)] =
    Dedup.degenOf(graft.operators.AnnModels.phashDegen(s, dir))

  /** The (doc_id, h) image-hash relation the hamming engine pairs. */
  private[operators] def phashed(s: SparkSession, dir: String): DataFrame =
    phash(s, dir).select(col("doc_id"), col("phash").as("h"))

  /** Perceptual-hash image DEDUP — the image half of a multimodal
    * curation pipeline (the DataComp/LAION near-duplicate removal step:
    * cluster perceptual-hash neighbors, keep one canonical asset per
    * cluster): connected components over [[phashPairs]] via the shared
    * min-label CC engine (`Dedup.ccLabels` — one labeling engine for text
    * LSH pairs, semantic pairs AND perceptual pairs), reported as one row
    * per surviving canonical asset with its representation count — the
    * `dedup_survivors` shape on the phash column.
    *
    * Scale: pairs are pigeonhole-bucketed and salt-capped (never
    * all-pairs), the CC loop's state is bounded by edge-touched assets
    * (singleton images never enter the iteration), and the output is one
    * row per cluster. */
  def phashDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.clusterReport(graft.operators.AnnModels.phashLabels(s, dir), "doc_id")

  /** The perceptual CC labeling (doc_id, cluster_id) — ONE hash pass,
    * hamming pairs, the shared star-contraction CC engine; persisted per
    * corpus state by AnnModels.phashLabels (the survivorLabels shape) and
    * served to both [[phashDedup]] and [[phashKeep]]. */
  def phashLabelsOf(s: SparkSession, dir: String): DataFrame =
    // edges from the served pair artifact (one pairing chain per corpus
    // state, shared with the gated pairing query); vertices are one
    // cheap hash pass
    Dedup.ccLabels(phash(s, dir).select(col("doc_id")),
      phashPairs(s, dir).select(col("doc_a"), col("doc_b")))

  /** [[phashDedup]] with the KEEP-BEST-COPY rule a crawl pipeline actually
    * applies (near-duplicate images differ in resolution/re-encode
    * quality; the survivor should be the best available copy, not an
    * arbitrary id): within each perceptual cluster keep the LARGEST
    * asset (max payload bytes — the byte-domain stand-in for highest
    * resolution), by [[Dedup.keepBest]] — the `dedup_semantic_keep` rule
    * applied to the perceptual column. */
  def phashKeep(s: SparkSession, dir: String): DataFrame =
    // Labels come from the registry (one CC run per corpus state); only
    // the cheap partition-parallel n_bytes pass runs in-query.
    Dedup.keepBest(graft.operators.AnnModels.phashLabels(s, dir)
      .join(phash(s, dir).select(col("doc_id"), col("n_bytes")), Seq("doc_id")),
      "n_bytes", "doc_id")

  /** The 3-block pigeonhole INDEX rows of a corpus's perceptual hashes —
    * (band = block index, h = block value, doc_id, phash) — the relation
    * AnnModels.phashIndex persists once per corpus state and every
    * nightly/streaming ingest batch probes (the lshIndex deployment shape
    * applied to the perceptual column). Blocked at build
    * time so the probe is a bare equijoin: 3 rows per asset, corpus-sized,
    * natural partitioning. */
  def phashIndexOf(d: DataFrame): DataFrame =
    Dedup.hammingBlocked(phashOf(d).select(col("doc_id"), col("phash").as("h")))
      .select(col("band"), col("h"), col("doc_id"), col("full").as("phash"))

  /** Probe an ingest batch against a PERSISTED perceptual-hash index: the
    * batch's assets hash partition-parallel (|batch| decodes, never a
    * corpus re-hash), fan out to their 3 pigeonhole blocks, and equijoin
    * the index under the shared salted dense-bucket policy
    * (Dedup.saltedIndexSide / saltedProbeSide — identical capping to the
    * text LSH probe, with both sides' full 64-bit hashes riding the join
    * for the XOR-popcount verify at Dedup.MaxHamming). Output: per batch
    * asset, the distinct-corpus-match count and a novelty flag — the
    * incrementalLshMatch contract on the perceptual column. */
  def phashIncrementalMatch(batch: DataFrame, index: DataFrame): DataFrame = {
    val (idxBounded, dense) = Dedup.saltedIndexSide(
      index.withColumnRenamed("phash", "hc"), keep = Seq("hc"))
    val probes = Dedup.saltedProbeSide(
      Dedup.hammingBlocked(phashOf(batch).select(col("doc_id"), col("phash").as("h")))
        .withColumnRenamed("full", "hb"),
      dense, keep = Seq("hb"))
    val matches = probes.join(idxBounded, Seq("band", "h", "salt"))
      .filter(col("doc_id") =!= col("corpus_id") &&
        expr("CAST(bit_count(hb ^ hc) AS INT)") <= Dedup.MaxHamming)
      .select(col("doc_id"), col("corpus_id")).distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("nm"))
    batch.select(col("doc_id"))
      .join(matches, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nm"), lit(0L)).as("n_matches"),
        when(col("nm").isNull, 1).otherwise(0).as("is_novel"))
  }

  /** Gated view of [[phashIncrementalMatch]]: batch = source 'src0',
    * index = the rest (built in-query here; EventStreams.phashVsIndex is
    * the artifact-served deployment form, same oracle). */
  def phashIncremental(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
    phashIncrementalMatch(d.filter(col("source") === "src0"),
      phashIndexOf(d.filter(col("source") =!= "src0")))
  }

  /** CROSS-MODAL image-text ALIGNMENT gate (the LAION/DataComp CLIP-score
    * filter shape): score each asset by the cosine
    * between a deterministic 64-dim ±1 image direction — the asset's
    * perceptual-hash bits, the in-engine stand-in for an image-encoder
    * embedding (a real CLIP image tower swaps in at exactly this
    * projection; every join, census and gate below is unchanged) — and
    * its document's text embedding (the `embeddings` table, the text
    * tower). The keep rule is the corpus-calibrated TOP-HALF alignment
    * bar (TextOps.calibratedThresholdOf — the quantile form CLIP-score
    * filtering actually deploys: DataComp pools keep a score quantile,
    * not an absolute constant that breaks on a foreign corpus).
    *
    * Float discipline: round(cos, 4) — the proven sim-family parity grid;
    * the census then compares exact 4-decimal doubles. Scale: phash is
    * partition-parallel, the embeddings join is id-keyed, the census is
    * value-histogram-sized, the one-row bar broadcasts — no corpus-sized
    * sort or window anywhere.
    *
    * Gated queries serve the REGISTRY artifact ([[AnnModels.alignScores]],
    * r13): the asset decode + hash + embedding join is the most expensive
    * avoidable per-query stage in the engine, it is corpus-state-keyed
    * (documents × embeddings), and it feeds two gated consumers — so it
    * scores once per corpus state and reads many, like every other
    * multi-consumer corpus-scored relation; this chain is its build. */
  private[graft] def alignScoresOf(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.cosineSim
    val pvec = array((0 until 64).map(j =>
      when(shiftright(col("phash"), j).bitwiseAND(lit(1L)) === lit(1L), lit(1.0d))
        .otherwise(lit(-1.0d))): _*)
    // the scored relation feeds the census count, bounds, census and flag
    // projection — materialize once (12 bytes/row; the qualityCalibrated
    // localCheckpoint discipline) so phash+join run one pass, not four
    val scored = phashOf(Tables.load(s, dir, "documents"))
      .select(col("doc_id"), col("phash"))
      .join(Tables.load(s, dir, "embeddings")
        .select(col("vec_id").as("doc_id"), col("embedding")), Seq("doc_id"))
      .select(col("doc_id"),
        round(cosineSim(pvec, col("embedding")), 4).as("align4"))
      .localCheckpoint()
    val thr = TextOps.calibratedThresholdOf(
      scored.select(col("doc_id"), col("align4").as("logit8")))
    scored.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("align4"),
        when(col("align4") >= col("thr"), 1).otherwise(0).as("align_keep"))
  }

  /** Registry-served [[alignScoresOf]] — see that chain's Scaladoc. */
  def textAlign(s: SparkSession, dir: String): DataFrame =
    AnnModels.alignScores(s, dir)

  /** Asset-gate thresholds (the LAION/DataComp image pre-filter family:
    * drop tiny images, extreme aspect ratios, and byte-trivial payloads
    * before any expensive decode/embed stage). Integer-exact. */
  val MinImgSide = 64
  val MaxAspect = 3
  val MinAssetBytes = 32

  /** Multimodal curation gate over the DECODE metadata — the cheap
    * metadata pre-filter every image pipeline runs before embedding
    * (LAION-5B filters on original width/height and aspect; DataComp's
    * pools are built behind the same rule shape): per-asset integer
    * flags for minimum side ([[MinImgSide]]), bounded aspect ratio
    * (neither side more than [[MaxAspect]]x the other — the comparison is
    * cross-multiplied, no division) and minimum payload size
    * ([[MinAssetBytes]]), plus the conjunction `mm_keep`.
    *
    * Scale: a pure map over [[decode]]'s partition-parallel metadata —
    * no shuffle anywhere (plan-asserted); at 100 TB this is the gate that
    * runs FIRST, so everything downstream sees only surviving assets. */
  def mmFilter(s: SparkSession, dir: String): DataFrame =
    decode(s, dir).select(col("doc_id"), col("width"), col("height"),
      when(least(col("width"), col("height")) >= MinImgSide, 1)
        .otherwise(0).as("ok_side"),
      when(col("width") <= lit(MaxAspect) * col("height") &&
        col("height") <= lit(MaxAspect) * col("width"), 1)
        .otherwise(0).as("ok_aspect"),
      when(col("n_bytes") >= MinAssetBytes, 1).otherwise(0).as("ok_bytes"))
      .withColumn("mm_keep",
        col("ok_side") * col("ok_aspect") * col("ok_bytes"))

  val MaxSide = 224
  val Patch = 16

  /** Output geometry of one asset — the [[resizePlan]] column formulas in
    * scalar form, shared by the stub and pixel resamplers so the gated
    * arithmetic and the real branch cannot drift (parity spec-asserted
    * against resizePlan's own output). */
  def outDims(w: Int, h: Int): (Int, Int) =
    if (math.max(w, h) <= MaxSide) (w, h)
    else if (w >= h) (MaxSide, math.max(1, h * MaxSide / w))
    else (math.max(1, w * MaxSide / h), MaxSide)

  /** Box-filter average-pool of the decoded image's BT.601 luminance to
    * (ow × oh) — the REAL resample for the real-codec branch: each output
    * cell is the exact integer mean (1000-scaled weights, one division at
    * the end) of its source box; boxes tile the image via the same
    * floor-division edges the phash grid uses. */
  def poolLuminance(img: java.awt.image.BufferedImage, ow: Int, oh: Int): Array[Byte] = {
    val w = img.getWidth
    val h = img.getHeight
    val lum = lumPlane(img)
    val out = new Array[Byte](ow * oh)
    var oy = 0
    while (oy < oh) {
      val y0 = (oy.toLong * h / oh).toInt
      val y1 = math.max(((oy + 1).toLong * h / oh).toInt, y0 + 1)
      var ox = 0
      while (ox < ow) {
        val x0 = (ox.toLong * w / ow).toInt
        val x1 = math.max(((ox + 1).toLong * w / ow).toInt, x0 + 1)
        var sum = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            sum += lum(y * w + x)
            x += 1
          }
          y += 1
        }
        val npx = (y1 - y0).toLong * (x1 - x0)
        out(oy * ow + ox) = (sum / (npx * 1000L)).toByte
        ox += 1
      }
      oy += 1
    }
    out
  }

  // One digest per task thread: MessageDigest.getInstance allocates (and
  // provider-lookups) per call — at one fingerprint per asset that was
  // measurable churn in the resample hot loop (the r11 mm_resize_sample
  // regression; re-measured r12).
  private val Md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val HexDigits = "0123456789abcdef".getBytes(
    java.nio.charset.StandardCharsets.US_ASCII)

  private def md5hex(b: Array[Byte]): String = {
    val md = Md5.get()
    md.reset()
    val d = md.digest(b)
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      val v = d(i) & 0xff
      out(2 * i) = HexDigits(v >> 4)
      out(2 * i + 1) = HexDigits(v & 0xf)
      i += 1
    }
    new String(out, java.nio.charset.StandardCharsets.US_ASCII)
  }

  /** Byte-content fingerprint: md5 of the LOWERCASE-HEX rendering of `b`
    * (not of the raw bytes). Hex is an injective ASCII transport for
    * arbitrary bytes, so this is still an exact content hash — and it is
    * the only form the SQL oracle can replay: DuckDB's md5()/substring()
    * take VARCHAR only (no BLOB overloads), so the oracle fingerprints
    * substr(lower(hex(encode(text))), ...) byte slices. md5-of-raw-bytes
    * only agreed with a char-domain oracle on pure-ASCII payloads —
    * caught by the round-11 unicode parity sweep. The hex expansion
    * writes ASCII bytes straight into one array (the r11 form staged
    * through StringBuilder → String → getBytes — three copies of a
    * buffer that reaches ~75 KB per asset; the mm_resize_sample
    * regression's main cost). */
  private[graft] def md5OfHex(b: Array[Byte]): String = {
    val out = new Array[Byte](b.length * 2)
    var i = 0
    while (i < b.length) {
      val v = b(i) & 0xff
      out(2 * i) = HexDigits(v >> 4)
      out(2 * i + 1) = HexDigits(v & 0xf)
      i += 1
    }
    md5hex(out)
  }

  /** Stub resample: ow·oh payload bytes sampled at pos(i) = i·n DIV (ow·oh)
    * — a deterministic byte-domain stand-in with the real output SHAPE
    * (the resized grid's size), oracle-replayable as substr/ascii over the
    * text payload. Empty payloads fingerprint the empty grid. */
  def resampleStub(a: Asset): (Long, Int, Int, String) = {
    val m = decodeStub(a)
    val (ow, oh) = outDims(m.width, m.height)
    val n = a.payload.length
    val total = ow * oh
    if (n == 0) return (a.doc_id, ow, oh, md5OfHex(Array.emptyByteArray))
    // pos(i) = i·n DIV total, advanced incrementally (quotient step +
    // remainder carry — exact, replacing a 64-bit division per sampled
    // byte), hex-expanded straight into the digest buffer (no
    // intermediate pick array; with md5OfHex's copy removal this took the
    // r11 regression 1.9 s → ~1.1 s at sf0.1).
    val q = n / total
    val r = n % total
    val hex = new Array[Byte](2 * total)
    var pos = 0
    var acc = 0
    var i = 0
    while (i < total) {
      val v = a.payload(pos) & 0xff
      hex(2 * i) = HexDigits(v >> 4)
      hex(2 * i + 1) = HexDigits(v & 0xf)
      pos += q
      acc += r
      if (acc >= total) { acc -= total; pos += 1 }
      i += 1
    }
    (a.doc_id, ow, oh, md5hex(hex))
  }

  /** The resample dispatch, mirroring [[decodeAsset]]/[[phashAsset]]: real
    * PNG payloads pool DECODED luminance (re-encode-invariant, the true
    * vision-preprocessing step between decode and patching); everything
    * else keeps the byte stub, so the gated corpus stays oracle-exact. */
  def resampleAsset(a: Asset): (Long, Int, Int, String) =
    decodePng(a) match {
      case Some(img) =>
        val (ow, oh) = outDims(img.getWidth, img.getHeight)
        (a.doc_id, ow, oh, md5OfHex(poolLuminance(img, ow, oh)))
      case None => resampleStub(a)
    }

  /** Resampled-content fingerprints, served (AnnModels.resampleIndex):
    * the decode + pooled-luminance resample is the preprocessing product a
    * vision pipeline MATERIALIZES (the resized asset store), so the
    * typed-closure decode pass does not re-run per invocation. Ints + hex
    * strings: bit-identical round-trip. */
  def resizeSample(s: SparkSession, dir: String): DataFrame =
    AnnModels.resampleIndex(s, dir)

  /** The decode+resample pass itself, partition-parallel (no shuffle) —
    * what the artifact build runs once per corpus state. */
  private[graft] def resampleIndexOf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    assets(s, dir).mapPartitions(_.map(resampleAsset))
      .toDF("doc_id", "out_w", "out_h", "resample_md5")
  }

  /** Resize planner + patch grid — the preprocessing step between decode
    * and a vision model: aspect-preserving downscale with the long side
    * capped at `MaxSide` (images already within bounds pass through), and
    * the ceil-divided `Patch`x`Patch` grid count for the resized frame.
    * Integer arithmetic only (DIV, no floats), pure column expressions over
    * the decode output — no shuffle, engine-exact. A real pixel resampler
    * slots in at the same place the codec stub does; the planning
    * arithmetic a data pipeline shards work by is what's computed here. */
  def resizePlan(s: SparkSession, dir: String): DataFrame =
    decode(s, dir).selectExpr(
      "doc_id",
      "width AS src_w",
      "height AS src_h",
      s"CAST(CASE WHEN greatest(width, height) <= $MaxSide THEN width " +
        s"WHEN width >= height THEN $MaxSide " +
        s"ELSE greatest(1, (width * $MaxSide) DIV height) END AS INT) AS out_w",
      s"CAST(CASE WHEN greatest(width, height) <= $MaxSide THEN height " +
        s"WHEN width >= height THEN greatest(1, (height * $MaxSide) DIV width) " +
        s"ELSE $MaxSide END AS INT) AS out_h")
    .selectExpr("doc_id", "src_w", "src_h", "out_w", "out_h",
      s"CAST(((out_w + ${Patch - 1}) DIV $Patch) * ((out_h + ${Patch - 1}) DIV $Patch) AS INT) AS n_patches")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_decode" -> (decode _),
    "mm_frame_sample" -> (frameSample _),
    "mm_audio_windows" -> (audioWindows _),
    "mm_audio_fingerprint" -> (audioFingerprint _),
    "mm_audio_pairs" -> (audioPairs _),
    "mm_audio_dedup" -> (audioDedup _),
    "mm_audio_keep" -> (audioKeep _),
    "mm_resize" -> (resizePlan _),
    "mm_resize_sample" -> (resizeSample _),
    "mm_phash" -> (phash _),
    "mm_phash_pairs" -> (phashPairs _),
    "mm_phash_dedup" -> (phashDedup _),
    "mm_phash_keep" -> (phashKeep _),
    "mm_phash_incremental" -> (phashIncremental _),
    "mm_text_align" -> (textAlign _),
    "mm_filter" -> (mmFilter _))

  /** Segment sums replay as ascii() sums over substr slices; the signed
    * 64-bit assembles as a sum of BIGINT bit values (bit 63 contributes
    * -2^63 — the two's-complement identity, so no HUGEINT wrap needed). */
  /** Oracle fragment: value of payload byte #`pos` (1-based SQL expr),
    * parsed from the shared `hx` column — the lowercase hex rendering of
    * the utf8 payload, the oracle's byte-domain view of the binary. */
  private def hexByteSql(pos: String): String =
    s"((strpos('0123456789abcdef', substr(hx, CAST(2 * ($pos) - 1 AS INT), 1)) - 1) * 16 + " +
      s"(strpos('0123456789abcdef', substr(hx, CAST(2 * ($pos) AS INT), 1)) - 1))"

  /** Shared base CTE: byte length + hex view of the utf8 payload. */
  private val hxBase =
    "base AS (SELECT doc_id, lower(hex(encode(text))) AS hx, strlen(text) AS n FROM documents)"

  /** Oracle mirror of [[audioFingerprintOf]]'s stub path, ending in
    * `afpn(doc_id, afp, n_windows)`: the audioWindows start grid, per
    * (window, sub-band) energies over hex bytes, the 8·S > E bit rule
    * (bit 63 emitted as Long.MinValue — the phashCtes sign discipline),
    * bits summed to the signed 64-bit fingerprint. */
  private val audioFpCtes: String =
    s"$hxBase, " +
      "aw AS (SELECT doc_id, hx, n, st, least(st + 256, n) - st AS len " +
      "FROM (SELECT doc_id, hx, n, unnest(generate_series(0, least(greatest(n - 256, 0), 896), 128)) AS st FROM base)), " +
      "awb AS (SELECT doc_id, st // 128 AS w, b, " +
      "coalesce(list_sum(list_transform(generate_series(st + (b * len) // 8 + 1, st + ((b + 1) * len) // 8), " +
      s"i -> (CAST(${hexByteSql("i")} AS BIGINT) - 128) * (CAST(${hexByteSql("i")} AS BIGINT) - 128))), 0) AS se " +
      "FROM aw CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS b)), " +
      "awe AS (SELECT doc_id, w, CAST(sum(se) AS BIGINT) AS e FROM awb GROUP BY 1, 2), " +
      "awn AS (SELECT doc_id, count(*) AS nw FROM aw GROUP BY 1), " +
      "abits AS (SELECT awb.doc_id, CASE WHEN 8 * awb.se > awe.e THEN " +
      "(CASE WHEN awb.w * 8 + awb.b = 63 THEN CAST(-9223372036854775808 AS BIGINT) " +
      "ELSE (CAST(1 AS BIGINT) << CAST(awb.w * 8 + awb.b AS INT)) END) " +
      "ELSE CAST(0 AS BIGINT) END AS bv " +
      "FROM awb JOIN awe ON awe.doc_id = awb.doc_id AND awe.w = awb.w), " +
      "afpn AS (SELECT b.doc_id, CAST(coalesce(sum(b.bv), 0) AS BIGINT) AS afp, " +
      "CAST(any_value(w.nw) AS INT) AS n_windows " +
      "FROM abits b JOIN awn w ON w.doc_id = b.doc_id GROUP BY b.doc_id)"

  private val phashCtes =
    s"$hxBase, " +
      "tot AS (SELECT doc_id, hx, n, coalesce(list_sum(list_transform(generate_series(1, n), " +
      s"i -> CAST(${hexByteSql("i")} AS BIGINT))), 0) AS total FROM base), " +
      "seg AS (SELECT doc_id, hx, n, total, j, (j * n) // 64 AS lo, ((j + 1) * n) // 64 AS hi " +
      "FROM tot CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j)), " +
      "bits AS (SELECT doc_id, n, CASE WHEN coalesce(list_sum(list_transform(generate_series(lo + 1, hi), " +
      s"i -> CAST(${hexByteSql("i")} AS BIGINT))), 0) * n > total * (hi - lo) " +
      "THEN (CASE WHEN j = 63 THEN CAST(-9223372036854775808 AS BIGINT) ELSE (CAST(1 AS BIGINT) << CAST(j AS INT)) END) " +
      "ELSE CAST(0 AS BIGINT) END AS b FROM seg)"

  /** The stub codec is pure arithmetic over the payload BYTES. The oracle
    * replays it byte-exactly from lower(hex(encode(text))): byte length is
    * strlen(text), byte #i is a two-hex-digit parse ([[hexByteSql]]), and
    * byte-slice fingerprints are md5 over the hex substring — which is why
    * the engine fingerprints are defined as md5-of-hex ([[md5OfHex]]).
    * (The previous char-domain mirror — substr/ascii over `text` — only
    * agreed on pure-ASCII payloads; the round-11 unicode sweep broke it on
    * every multibyte document.) Swapping in a real native codec is exactly
    * when these revert to rows-only checks. */
  def oracles: Map[String, String] = Map(
    "mm_decode" ->
      (s"WITH $hxBase " +
        "SELECT doc_id, CAST(n AS INT) AS n_bytes, CAST(16 + n % 624 AS INT) AS width, " +
        "CAST(16 + (n * 7 + b0) % 464 AS INT) AS height, CAST(3 AS INT) AS channels, " +
        "CAST(1 + n % 24 AS INT) AS n_frames FROM " +
        s"(SELECT doc_id, n, CASE WHEN n > 0 THEN ${hexByteSql("1")} ELSE 0 END AS b0 FROM base)"),
    "mm_frame_sample" ->
      // idxs = (0 until n_frames by 8).take(4) with n_frames <= 24 is always
      // a subset of {0, 8, 16}; byte start/len mirror the Scala slice
      // arithmetic, applied at 2x on the hex view (md5-of-hex fingerprint).
      (s"WITH $hxBase, " +
        "fr AS (SELECT doc_id, hx, n, 1 + n % 24 AS nf, unnest([0, 8, 16]) AS fi FROM base) " +
        "SELECT doc_id, CAST(fi AS INT) AS frame_idx, " +
        "md5(substr(hx, CAST(2 * ((fi * 41) % greatest(n, 1)) AS INT) + 1, " +
        "CAST(2 * least(64, n - (fi * 41) % greatest(n, 1)) AS INT))) AS frame_md5 " +
        "FROM fr WHERE fi < nf"),
    "mm_resize" ->
      (s"WITH $hxBase, " +
        s"m AS (SELECT doc_id, CAST(n AS INT) AS n, CASE WHEN n > 0 THEN ${hexByteSql("1")} ELSE 0 END AS b0 FROM base), " +
        "d AS (SELECT doc_id, CAST(16 + n % 624 AS INT) AS w, CAST(16 + (n * 7 + b0) % 464 AS INT) AS h FROM m), " +
        s"r AS (SELECT doc_id, w, h, CAST(CASE WHEN greatest(w, h) <= $MaxSide THEN w " +
        s"WHEN w >= h THEN $MaxSide ELSE greatest(1, (w * $MaxSide) // h) END AS INT) AS out_w, " +
        s"CAST(CASE WHEN greatest(w, h) <= $MaxSide THEN h " +
        s"WHEN w >= h THEN greatest(1, (h * $MaxSide) // w) ELSE $MaxSide END AS INT) AS out_h FROM d) " +
        "SELECT doc_id, w AS src_w, h AS src_h, out_w, out_h, " +
        s"CAST(((out_w + ${Patch - 1}) // $Patch) * ((out_h + ${Patch - 1}) // $Patch) AS INT) AS n_patches FROM r"),
    "mm_resize_sample" ->
      // stub resample replay: resizePlan geometry, then the i·n DIV (ow·oh)
      // byte picks as two-hex-digit slices of the hex view, md5 over the
      // assembled hex string (md5-of-hex fingerprint)
      (s"WITH $hxBase, " +
        s"m AS (SELECT doc_id, hx, CAST(n AS INT) AS n, CASE WHEN n > 0 THEN ${hexByteSql("1")} ELSE 0 END AS b0 FROM base), " +
        "d AS (SELECT doc_id, hx, n, CAST(16 + n % 624 AS INT) AS w, CAST(16 + (n * 7 + b0) % 464 AS INT) AS h FROM m), " +
        s"r AS (SELECT doc_id, hx, n, CAST(CASE WHEN greatest(w, h) <= $MaxSide THEN w " +
        s"WHEN w >= h THEN $MaxSide ELSE greatest(1, (w * $MaxSide) // h) END AS INT) AS out_w, " +
        s"CAST(CASE WHEN greatest(w, h) <= $MaxSide THEN h " +
        s"WHEN w >= h THEN greatest(1, (h * $MaxSide) // w) ELSE $MaxSide END AS INT) AS out_h FROM d) " +
        "SELECT doc_id, out_w, out_h, " +
        "md5(CASE WHEN n = 0 THEN '' ELSE array_to_string(list_transform(" +
        "generate_series(0, out_w * out_h - 1), " +
        "i -> substr(hx, CAST(2 * ((i * n) // (out_w * out_h)) AS INT) + 1, 2)), '') END) AS resample_md5 FROM r"),
    "mm_phash" ->
      (s"WITH $phashCtes " +
        "SELECT doc_id, CAST(n AS INT) AS n_bytes, CAST(sum(b) AS BIGINT) AS phash " +
        "FROM bits GROUP BY doc_id, n"),
    "mm_phash_dedup" ->
      // the dedup_survivors recipe on the phash column: hamming pairs
      // (shared pigeonhole/salt mirror), reachability CC, one row per
      // canonical asset
      (s"WITH RECURSIVE $phashCtes, " +
        "php AS (SELECT doc_id, CAST(sum(b) AS BIGINT) AS h FROM bits GROUP BY doc_id), " +
        s"${Dedup.hammingPairsCtes("php")}, " +
        s"ppairs AS (${Dedup.hammingPairsSelect}), " +
        "edges AS (SELECT doc_a AS src, doc_b AS dst FROM ppairs " +
        "UNION ALL SELECT doc_b AS src, doc_a AS dst FROM ppairs), " +
        "reach(src, dst) AS (SELECT doc_id, doc_id FROM documents " +
        "UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src), " +
        "lab AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src) " +
        "SELECT cluster_id AS doc_id, count(*) AS n_repr FROM lab GROUP BY cluster_id"),
    "mm_phash_keep" ->
      // same labeling chain; the survivor per cluster is the LARGEST
      // asset (byte-domain best copy), ties to the smallest doc_id
      (s"WITH RECURSIVE $phashCtes, " +
        "php AS (SELECT doc_id, CAST(sum(b) AS BIGINT) AS h FROM bits GROUP BY doc_id), " +
        s"${Dedup.hammingPairsCtes("php")}, " +
        s"ppairs AS (${Dedup.hammingPairsSelect}), " +
        "edges AS (SELECT doc_a AS src, doc_b AS dst FROM ppairs " +
        "UNION ALL SELECT doc_b AS src, doc_a AS dst FROM ppairs), " +
        "reach(src, dst) AS (SELECT doc_id, doc_id FROM documents " +
        "UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src), " +
        "lab AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src), " +
        "pn AS (SELECT doc_id, CAST(n AS INT) AS n_bytes FROM base), " +
        "kk AS (SELECT lab.doc_id, pn.n_bytes, " +
        "row_number() OVER (PARTITION BY lab.cluster_id ORDER BY pn.n_bytes DESC, lab.doc_id ASC) AS rn, " +
        "count(*) OVER (PARTITION BY lab.cluster_id) AS n_repr " +
        "FROM lab JOIN pn ON pn.doc_id = lab.doc_id) " +
        "SELECT doc_id, n_bytes, n_repr FROM kk WHERE rn = 1"),
    "mm_filter" ->
      // decode-metadata gate replay: the mm_decode width/height/n_bytes
      // arithmetic, then the three integer flags and their conjunction
      (s"WITH $hxBase, " +
        s"m AS (SELECT doc_id, n, CASE WHEN n > 0 THEN ${hexByteSql("1")} ELSE 0 END AS b0 FROM base), " +
        "d AS (SELECT doc_id, CAST(n AS INT) AS n_bytes, CAST(16 + n % 624 AS INT) AS width, " +
        "CAST(16 + (n * 7 + b0) % 464 AS INT) AS height FROM m) " +
        s"SELECT doc_id, width, height, " +
        s"CASE WHEN least(width, height) >= $MinImgSide THEN 1 ELSE 0 END AS ok_side, " +
        s"CASE WHEN width <= $MaxAspect * height AND height <= $MaxAspect * width THEN 1 ELSE 0 END AS ok_aspect, " +
        s"CASE WHEN n_bytes >= $MinAssetBytes THEN 1 ELSE 0 END AS ok_bytes, " +
        s"(CASE WHEN least(width, height) >= $MinImgSide THEN 1 ELSE 0 END) * " +
        s"(CASE WHEN width <= $MaxAspect * height AND height <= $MaxAspect * width THEN 1 ELSE 0 END) * " +
        s"(CASE WHEN n_bytes >= $MinAssetBytes THEN 1 ELSE 0 END) AS mm_keep FROM d"),
    "mm_phash_pairs" ->
      // The SAME hamming-pair CTE mirror the dedup_simhash_pairs oracle
      // uses, over the phash relation — one engine path, one SQL mirror.
      (s"WITH $phashCtes, " +
        "ph AS (SELECT doc_id, CAST(sum(b) AS BIGINT) AS h FROM bits GROUP BY doc_id), " +
        s"${Dedup.hammingPairsCtes("ph")} ${Dedup.hammingPairsSelect}"),
    "mm_audio_windows" ->
      // starts = (0 until max(n-255,1) by 128).take(8): inclusive stop is
      // min(max(n-256,0), 896); energy sums (byte-128)^2 over the window.
      (s"WITH $hxBase, " +
        "w AS (SELECT doc_id, hx, n, unnest(generate_series(0, least(greatest(n - 256, 0), 896), 128)) AS st FROM base) " +
        "SELECT doc_id, CAST(st // 128 AS INT) AS window_idx, " +
        "CAST(least(st + 256, n) - st AS INT) AS n_samples, " +
        "CAST(coalesce(list_sum(list_transform(generate_series(st + 1, least(st + 256, n)), " +
        s"j -> (CAST(${hexByteSql("j")} AS BIGINT) - 128) * " +
        s"(CAST(${hexByteSql("j")} AS BIGINT) - 128))), 0) AS BIGINT) AS energy " +
        "FROM w"),
    "mm_audio_fingerprint" ->
      (s"WITH $audioFpCtes SELECT doc_id, afp, n_windows FROM afpn"),
    "mm_audio_pairs" ->
      (s"WITH $audioFpCtes, af AS (SELECT doc_id, afp AS h FROM afpn), " +
        s"${Dedup.hammingPairsCtes("af")} ${Dedup.hammingPairsSelect}"),
    "mm_audio_dedup" ->
      // the mm_phash_dedup recipe on the fingerprint column: hamming
      // pairs (shared pigeonhole/mask/salt mirror), reachability CC,
      // one row per canonical asset
      (s"WITH RECURSIVE $audioFpCtes, af AS (SELECT doc_id, afp AS h FROM afpn), " +
        s"${Dedup.hammingPairsCtes("af")}, " +
        s"apairs AS (${Dedup.hammingPairsSelect}), " +
        "edges AS (SELECT doc_a AS src, doc_b AS dst FROM apairs " +
        "UNION ALL SELECT doc_b AS src, doc_a AS dst FROM apairs), " +
        "reach(src, dst) AS (SELECT doc_id, doc_id FROM afpn " +
        "UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src), " +
        "lab AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src) " +
        "SELECT cluster_id AS doc_id, count(*) AS n_repr FROM lab GROUP BY cluster_id"),
    "mm_audio_keep" ->
      // same labeling chain; the survivor per cluster is the LONGEST
      // recording (max fingerprint windows), ties to the smallest doc_id
      (s"WITH RECURSIVE $audioFpCtes, af AS (SELECT doc_id, afp AS h FROM afpn), " +
        s"${Dedup.hammingPairsCtes("af")}, " +
        s"apairs AS (${Dedup.hammingPairsSelect}), " +
        "edges AS (SELECT doc_a AS src, doc_b AS dst FROM apairs " +
        "UNION ALL SELECT doc_b AS src, doc_a AS dst FROM apairs), " +
        "reach(src, dst) AS (SELECT doc_id, doc_id FROM afpn " +
        "UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src), " +
        "lab AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src), " +
        "kk AS (SELECT lab.doc_id, a.n_windows, " +
        "row_number() OVER (PARTITION BY lab.cluster_id ORDER BY a.n_windows DESC, lab.doc_id ASC) AS rn, " +
        "count(*) OVER (PARTITION BY lab.cluster_id) AS n_repr " +
        "FROM lab JOIN afpn a ON a.doc_id = lab.doc_id) " +
        "SELECT doc_id, n_windows, n_repr FROM kk WHERE rn = 1"),
    "mm_phash_incremental" -> phashIncrementalSql,
    "mm_text_align" ->
      s"WITH $textAlignFullCtes SELECT doc_id, align4, align_keep FROM xalk")

  /** CTE chain for the alignment gate (expects [[phashCtes]]'s `bits` in
    * scope): the phash ±1 direction list, the embeddings join, the
    * round-4 cosine (the cosBetween shape — list_sum products in index
    * order, ||±1 vector|| = 8 exactly), and the calibrated top-half
    * census bar (the qualityCalibratedSql chain). Ends in
    * `xalk(doc_id, align4, align_keep)`. Names x-prefixed so the chain
    * composes into the curation oracle without CTE collisions. */
  private[operators] val textAlignCtes: String = {
    val pl = (0 until 64).map(j =>
      s"CASE WHEN (s // ${BigInt(1) << j}) % 2 = 1 THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END")
      .mkString("[", ", ", "]")
    "xphp AS (SELECT doc_id, CAST(sum(b) AS BIGINT) AS h FROM bits GROUP BY doc_id), " +
      "xphu AS (SELECT doc_id, CAST(h AS HUGEINT) + CASE WHEN h < 0 THEN CAST('18446744073709551616' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS s FROM xphp), " +
      s"xpv AS (SELECT doc_id, $pl AS pl FROM xphu), " +
      "xpe AS (SELECT p.doc_id, p.pl, e.embedding AS em FROM xpv p JOIN embeddings e ON e.vec_id = p.doc_id), " +
      "xal AS (SELECT doc_id, CASE WHEN ne = 0 THEN 0.0 ELSE round(dot / (8 * sqrt(ne)), 4) END AS align4 FROM " +
      "(SELECT doc_id, list_sum(list_transform(generate_series(1, 64), i -> pl[i] * CAST(em[i] AS DOUBLE))) AS dot, " +
      "list_sum(list_transform(generate_series(1, 64), i -> CAST(em[i] AS DOUBLE) * CAST(em[i] AS DOUBLE))) AS ne FROM xpe)), " +
      "xann AS (SELECT count(*) AS n, (count(*) + 1) // 2 AS keep_n FROM xal), " +
      "xatt AS (SELECT n - keep_n + 1 AS target FROM xann), " +
      "xacc AS (SELECT align4, cnt, sum(cnt) OVER (ORDER BY align4) AS cum FROM (SELECT align4, count(*) AS cnt FROM xal GROUP BY 1)), " +
      "xathr AS (SELECT xacc.align4 AS thr FROM xacc, xatt WHERE xacc.cum >= xatt.target AND xacc.cum - xacc.cnt < xatt.target), " +
      "xalk AS (SELECT xal.doc_id, xal.align4, CASE WHEN xal.align4 >= xathr.thr THEN 1 ELSE 0 END AS align_keep FROM xal CROSS JOIN xathr)"
  }

  /** [[phashCtes]] + [[textAlignCtes]] — the whole alignment replay, for
    * composition into the Pipeline curation oracle. */
  private[operators] lazy val textAlignFullCtes: String =
    s"$phashCtes, $textAlignCtes"

  /** Replay of the perceptual ingest probe: the phash chain over ALL
    * documents, split index/batch by source, then the shared
    * salted-policy cross-probe mirror (Dedup.hammingMatchOracle) with the
    * XOR-popcount verify. One oracle serves both the in-query form
    * (`mm_phash_incremental`) and the artifact-served deployment form
    * (`stream_ingest_phash` — AnnModels.phashIndex replays phashIndexOf
    * bit-for-bit, deterministic hashes, parquet-exact longs). */
  private[graft] val phashIncrementalSql: String =
    s"WITH $phashCtes, " +
      "php AS (SELECT doc_id, CAST(sum(b) AS BIGINT) AS h FROM bits GROUP BY doc_id), " +
      "phsrc AS (SELECT p.doc_id, d.source, p.h FROM php p JOIN documents d USING (doc_id)), " +
      s"${Dedup.hammingMatchOracle("phsrc", "source <> 'src0'", "source = 'src0'")} " +
      "SELECT b.doc_id, coalesce(mc.n_matches, 0) AS n_matches, " +
      "CASE WHEN mc.doc_id IS NULL THEN 1 ELSE 0 END AS is_novel " +
      "FROM (SELECT doc_id FROM documents WHERE source = 'src0') b LEFT JOIN mc USING (doc_id)"
}
