package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}

import graft.sources.Tables

/** The model registry: every per-corpus product the engine trains or
  * builds once and serves to all later consumers (IVF/PQ quantizers, LMs,
  * quality gates, dedup pair and label relations, tokenizer outputs,
  * curation and build manifests).
  *
  * The registry is ONE declarative table. Each [[Artifact]] names its own
  * constants and its dependencies — other artifacts, shared constant
  * groups ([[Consts]]) and source tables ([[Source]]). Its store key is
  * hash(dataset dir, name, own constants, the keys of its deps)
  * ([[keyOf]]), so editing any constant re-keys — and so retrains —
  * exactly the artifacts downstream of it. The corpus fingerprint that
  * gates serving covers the union of the source tables its deps reach.
  *
  * Store protocol: `<root>/<name>-<key>/g-<fp-hash>[-k]/` holds one
  * generation; `_GRAFT_COMPLETE` (written last, by rename) records the
  * corpus fingerprint and the serving generation. A probe serves
  * lock-free iff the marker matches the corpus's current fingerprint;
  * otherwise the artifact trains under the JVM-wide monitor into a fresh
  * generation, and GC keeps the current and the previous one (a held
  * DataFrame survives one retrain). Root: `$SPARK_GRAFT_MODEL_DIR`, else a
  * per-application temp dir. The store assumes a single writer process.
  * Served relations are bit-identical to their builds (integer or exact
  * double columns; parquet round-trips them exactly), which is what lets
  * the DuckDB oracle replay training from scratch.
  */
object AnnModels {

  /** A node of the registry's dependency graph. */
  sealed trait Node {
    def name: String
    def deps: Seq[Node]
  }

  /** A source table of the dataset dir: fingerprinted, never keyed on content. */
  final case class Source(table: String) extends Node {
    def name: String = table
    def deps: Seq[Node] = Nil
  }

  /** A named constant group. `material` renders the constants an artifact's
    * content depends on; corpus-derived ones (the auto-sized IVF and graph
    * geometries) read the dataset through fingerprint-keyed memos. */
  final class Consts(val name: String, val deps: Seq[Node],
      val material: (SparkSession, String) => String) extends Node

  private def consts(name: String, deps: Node*)(material: => String): Consts =
    new Consts(name, deps, (_, _) => material)

  private def hashOf(material: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(material.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
  }

  /** Every artifact, in declaration (= dependency) order. */
  private val registered = scala.collection.mutable.ArrayBuffer.empty[Artifact]
  private[graft] def table: Seq[Artifact] = registered.toSeq

  /** The build record: committed-or-attempted writes per artifact name. */
  private val buildCounts = new ConcurrentHashMap[String, Integer]()
  private[graft] def builds(name: String): Int = buildCounts.getOrDefault(name, 0)

  /** The serve record: reads per artifact name, built or not. */
  private val serveCounts = new ConcurrentHashMap[String, Integer]()
  private[graft] def serves(name: String): Int = serveCounts.getOrDefault(name, 0)

  /** (building artifact, artifact it served) pairs observed during builds —
    * what a build actually reads, to check against its declared deps. */
  private val observed = ConcurrentHashMap.newKeySet[(String, String)]()
  private[graft] def readsWhileBuilding: Set[(String, String)] = {
    import scala.jdk.CollectionConverters._
    observed.asScala.toSet
  }
  private val building = new ThreadLocal[List[String]] {
    override def initialValue(): List[String] = Nil
  }

  /** One registry entry. `apply(s, dir)` serves it, building it first when
    * no fresh generation exists. Its own constants render at key time, like
    * a constant group's material. */
  sealed abstract class Artifact(val name: String, ownConsts: => String,
      val deps: Seq[Node]) extends Node {
    def consts: String = ownConsts

    require(deps.forall(_ != null), s"$name: a dep is declared after it")
    require(!registered.exists(_.name == name), s"duplicate artifact $name")
    registered += this

    /** This artifact's entry in the build record. */
    def builds: Int = AnnModels.builds(name)

    /** The source tables this artifact's content derives from. */
    lazy val tables: Seq[String] =
      closure(this).toSeq.collect { case Source(t) => t }.sorted

    protected def serve(s: SparkSession, dir: String)(write: Path => Unit): Path = {
      serveCounts.merge(name, 1, (a, b) => a + b)
      building.get.headOption.foreach(b => observed.add((b, name)))
      val p = new Path(root(s), s"$name-${keyOf(this, dir, c => c.material(s, dir))}")
      ensureGen(s, p, dir, tables.mkString(","), name)(write)
    }
  }

  /** A single-relation artifact. `build` computes it; one-file models set
    * `coalesce1`, corpus-sized relations keep their partitioning. */
  final class Relation(name: String, consts: => String, deps: Seq[Node],
      coalesce1: Boolean, val build: (SparkSession, String) => DataFrame)
      extends Artifact(name, consts, deps) {
    def apply(s: SparkSession, dir: String): DataFrame =
      s.read.parquet(serve(s, dir) { genDir =>
        val out = build(s, dir)
        (if (coalesce1) out.coalesce(1) else out)
          .write.mode("overwrite").parquet(genDir.toString)
      }.toString)
  }

  /** A multi-relation artifact: `write` fills one subdirectory per part of
    * the generation dir, so all parts commit under one marker. */
  final class Parts(name: String, consts: => String, deps: Seq[Node],
      val parts: Seq[String], val write: (SparkSession, String, Path) => Unit)
      extends Artifact(name, consts, deps) {
    def apply(s: SparkSession, dir: String): IndexedSeq[DataFrame] = {
      val gen = serve(s, dir)(write(s, dir, _))
      parts.map(part => s.read.parquet(new Path(gen, part).toString)).toIndexedSeq
    }
  }

  private def Artifact(name: String, consts: => String, deps: Seq[Node],
      coalesce1: Boolean = false)(build: (SparkSession, String) => DataFrame): Relation =
    new Relation(name, consts, deps, coalesce1, build)

  private def Parts(name: String, consts: => String, deps: Seq[Node], parts: String*)(
      write: (SparkSession, String, Path) => Unit): Parts =
    new Parts(name, consts, deps, parts, write)

  /** `n` and everything it reaches through deps. */
  private[graft] def closure(n: Node): Set[Node] =
    n.deps.foldLeft(Set[Node](n))((acc, d) => acc ++ closure(d))

  /** THE key function: hash(dir, name, own constants, deps' keys) for an
    * artifact, hash(name, material, deps' keys) for a constant group. Pure
    * in `material`, the seam the key spec substitutes. */
  private[graft] def keyOf(node: Node, dir: String, material: Consts => String): String = {
    val memo = scala.collection.mutable.HashMap.empty[Node, String]
    def k(n: Node): String = memo.get(n) match {
      case Some(v) => v
      case None =>
        val depKeys = n.deps.map(k).mkString(",")
        val v = n match {
          case Source(t) => t
          case c: Consts => hashOf(s"${c.name}|${material(c)}|$depKeys")
          case a: Artifact => hashOf(s"$dir|${a.name}|${a.consts}|$depKeys")
        }
        memo(n) = v
        v
    }
    k(node)
  }

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  private def writePart(df: DataFrame, genDir: Path, part: String): Unit =
    df.write.mode("overwrite").parquet(new Path(genDir, part).toString)

  // --- sources and shared constant groups --------------------------------

  val Docs: Source = Source("documents")
  val Emb: Source = Source("embeddings")

  val Lm: Consts = consts("lm")("n=3,i=500/375/125")
  val Lm5: Consts = consts("lm5")("n=5,kn,d=1/2")
  val GopherRules: Consts = consts("gopher")(
    s"rules=${hashOf(TextOps.gopherSql)},stop=${TextOps.GopherStop.mkString(",")}")
  val GopherSeed: Consts = consts("seed", GopherRules)(s"min=${TextOps.QualitySeedMinFlags}")
  val Markers: Consts = consts("markers")(
    hashOf(TextOps.Markers.map { case (l, ws) => l + ":" + ws.mkString(",") }.mkString(";")))
  val Stopwords: Consts = consts("stopwords", Markers)(hashOf(TextOps.AllStopwords.mkString(",")))
  val QualityCoef: Consts = consts("qcoef", Stopwords)(
    Seq(TextOps.QmBias, TextOps.QmStop, TextOps.QmRepUni, TextOps.QmRep3,
      TextOps.QmPunct, TextOps.QmNll, TextOps.QmLenPerTok).mkString("/") +
      s"x${TextOps.QmLenCap}")
  val QualityFeatures: Consts = consts("qfeat", Stopwords)(
    s"${TextOps.QualityFeatNames.mkString(",")},cap=${TextOps.QmLenCap}")
  val LrFit: Consts = consts("lrfit")(
    s"k=${TextOps.QualityLrIters},eta=${TextOps.QualityLrEtaNum}/${TextOps.QualityLrEtaDen}," +
      "ctr=mean-clamp1e4,half=even")
  val Minhash: Consts = consts("minhash")(
    s"p=${Dedup.MinhashPerms},n=${Dedup.ShingleN},cap=${Dedup.MaxBucket}")
  val Hamming: Consts = consts("hamming")(
    s"ham=${Dedup.MaxHamming},cap=${Dedup.MaxBucket},share=${Dedup.DegenShare}," +
      s"blocks=${Dedup.BlockLayout}")
  val Substr: Consts = consts("substr")(s"w=${Dedup.SubstrGram},h=xx64")
  val Cosine: Consts = consts("cosine")(s"cap=${Dedup.LabelCap},cos=${Dedup.CosineThreshold}")
  val IvfGeom: Consts = new Consts("ivfgeom", Seq(Emb), (s, dir) =>
    s"i=${Similarity.KMeansIters},m=${Similarity.TrainMod},k=${Similarity.ivfK(s, dir)}")
  val PqGeom: Consts = consts("pqgeom")(
    s"i=${Similarity.PqIters},m=${Similarity.TrainMod},k=${Similarity.PqCentroids}," +
      s"s=${Similarity.PqSubspaces}x${Similarity.PqSubDims}")
  val GraphGeom: Consts = new Consts("graphgeom", Seq(Emb), { (s, dir) =>
    val (tables, planes) = Similarity.graphSize(s, dir)
    s"t=$tables,p=$planes,cap=${Similarity.GraphBucketCap},k=${Similarity.GraphK}," +
      s"target=${Similarity.GraphSizeTarget}"
  })
  val BpeStatic: Consts = consts("bpestatic")(
    hashOf(TextOps.BpeMerges.map(p => p._1 + "+" + p._2).mkString(";")))
  val Pack: Consts = consts("pack")(
    s"ntok=ws,pb=${Pipeline.PackBlock},ctx=${Pipeline.CtxTokens}")
  val Shuffle: Consts = consts("shuffle")(s"sb=${Pipeline.ShuffleBlock},h=md5h64")
  val CurateGates: Consts = consts("curate")(s"lang=en,q=${Pipeline.QualityThreshold},ex=md5min")

  // --- embeddings: quantizers, assignments, pair and label relations -----

  val ivfCentroids: Relation = Artifact("ivf", "", Seq(Emb, IvfGeom), coalesce1 = true)(
    (s, dir) => Similarity.trainIvfCentroids(s, dir,
      Similarity.KMeansIters, Similarity.TrainMod, Similarity.ivfK(s, dir)))
  val pqCodebook: Relation =
    Artifact("pq", "", Seq(Emb, PqGeom), coalesce1 = true)(Similarity.trainPqCodebook)
  val pqCodes: Relation = Artifact("pqcodes", "round=4", Seq(pqCodebook))(Similarity.pqCodesOf)
  val ivfAssign: Relation = Artifact("ivfasn", "round=4", Seq(ivfCentroids))(
    (s, dir) => Similarity.ivfAssignWith(Tables.load(s, dir, "embeddings"), ivfCentroids(s, dir)))
  val semanticLabels: Relation =
    Artifact("semlab", "", Seq(ivfAssign, Cosine))(Dedup.semanticLabelsOf)
  val embedPairs: Relation =
    Artifact("embpairs", "", Seq(Emb, Cosine))(Dedup.embedPairsOf)
  val knnGraph: Relation = Artifact("knng", "", Seq(GraphGeom)) { (s, dir) =>
    val (tables, planes) = Similarity.graphSize(s, dir)
    Similarity.knnGraphTuned(s, dir, tables, planes, Similarity.GraphBucketCap)
  }
  val alignScores: Relation =
    Artifact("align", "dims=64,round=4,bar=ceilhalf", Seq(Docs, Emb))(Multimodal.alignScoresOf)

  // --- language models and their scores ----------------------------------

  /** Trigram LM counts (c3, c2, u) from one cached corpus snapshot. */
  val trigramLm: Parts = Parts("lm", "", Seq(Docs, Lm), "c3", "c2", "u") { (s, dir, genDir) =>
    val corpus = docs(s, dir).persist()
    try {
      val (c3, c2, u) = TextOps.trainNgramLmOf(corpus)
      writePart(c3, genDir, "c3"); writePart(c2, genDir, "c2"); writePart(u, genDir, "u")
    } finally corpus.unpersist(false)
  }

  /** The 5-gram Kneser-Ney LM's counts (c5, c4, c3, c2, u). */
  val kn5Lm: Parts = Parts("lm5", "", Seq(Docs, Lm5), "c5", "c4", "c3", "c2", "u") {
    (s, dir, genDir) =>
      val corpus = docs(s, dir).persist()
      try {
        val (c5, c4, c3, c2, u) = TextOps.trainKn5LmOf(corpus)
        Seq(c5 -> "c5", c4 -> "c4", c3 -> "c3", c2 -> "c2", u -> "u")
          .foreach { case (df, part) => writePart(df, genDir, part) }
      } finally corpus.unpersist(false)
  }

  val pplScores: Relation = Artifact("ppl", "", Seq(trigramLm)) { (s, dir) =>
    val Seq(c3, c2, u) = trigramLm(s, dir)
    TextOps.perplexityScore(docs(s, dir), c3, c2, u)
  }
  val ppl5Scores: Relation = Artifact("ppl5", "", Seq(kn5Lm)) { (s, dir) =>
    val Seq(c5, c4, c3, c2, u) = kn5Lm(s, dir)
    TextOps.kn5Score(docs(s, dir), c5, c4, c3, c2, u)
  }

  /** The corpus-side ingest admission model: the LM of source <> 'src0'
    * (c3, c2, u) and the calibrated logit8 bar (thr, NULL on an empty
    * corpus), all from ONE cached snapshot; thr scores against the
    * persisted LM parts. */
  val ingestGate: Parts = Parts("ig", "keep=half,excl=src0", Seq(Docs, Lm, QualityCoef),
      "c3", "c2", "u", "thr") { (s, dir, genDir) =>
    val corpus = docs(s, dir).filter(col("source") =!= "src0").persist()
    try {
      val (c3, c2, u) = TextOps.trainNgramLmOf(corpus)
      writePart(c3, genDir, "c3"); writePart(c2, genDir, "c2"); writePart(u, genDir, "u")
      val lm = Seq("c3", "c2", "u").map(p => s.read.parquet(new Path(genDir, p).toString))
      val logits = TextOps.ingestLogits(corpus, lm(0), lm(1), lm(2)).persist()
      try writePart(TextOps.calibratedThresholdOf(logits).coalesce(1), genDir, "thr")
      finally logits.unpersist(false)
    } finally corpus.unpersist(false)
  }

  // --- text scores, flags and learned quality gates ----------------------

  val langidCentroids: Relation = Artifact("langid", s"b=${TextOps.LangidBuckets},half=even",
    Seq(Docs), coalesce1 = true)((s, dir) => TextOps.trainLangidCentroids(docs(s, dir)))
  val langidScores: Relation =
    Artifact("lidsc", "", Seq(Docs, Markers))((s, dir) => TextOps.langidOf(docs(s, dir)))
  /** Heuristic quality scores plus a trailing `source` column: the artifact
    * doubles as the pack family's (source, doc_id, n_tok) spine, one row
    * per document (Pipeline.docTokens counts exactly these rows). */
  val qualityScores: Relation = Artifact("qsc", "coef=5/3/2+2e-1,r=4,src", Seq(Docs, Stopwords))(
    (s, dir) => TextOps.qualityOf(docs(s, dir), withSource = true))
  val gopherFlags: Relation = Artifact("gflags", "", Seq(Docs, GopherRules))(
    (s, dir) => TextOps.gopherRulesOf(docs(s, dir)))
  val qualityLogits: Relation = Artifact("qlog", "", Seq(pplScores, QualityCoef))(
    (s, dir) => TextOps.qualityModelWith(docs(s, dir), pplScores(s, dir)))
  val calibKeep: Relation = Artifact("calib", "rule=ceilhalf", Seq(qualityLogits))(
    (s, dir) => TextOps.qualityCalibratedOf(qualityLogits(s, dir)))
  val qualityCentroids: Relation = Artifact("qualcent", "",
    Seq(pplScores, QualityFeatures, GopherSeed), coalesce1 = true)(TextOps.trainQualityCentroids)
  val trainedMargins: Relation = Artifact("qtm", "fit=rocchio",
    Seq(pplScores, qualityCentroids, QualityFeatures))((s, dir) => TextOps.qualityTrainedWith(
      TextOps.qualityFeaturesOf(docs(s, dir), pplScores(s, dir)), qualityCentroids(s, dir).collect()))
  val lrMargins: Relation = Artifact("qlr", "fit=lr",
    Seq(pplScores, QualityFeatures, GopherSeed, LrFit)) { (s, dir) =>
    val feats = TextOps.qualityFeaturesOf(docs(s, dir), pplScores(s, dir)).localCheckpoint()
    val (mu, w) = TextOps.qualityLrFit(feats, TextOps.gopherSeedOf(docs(s, dir)))
    TextOps.qualityLrScoreWith(feats, mu, w)
  }
  val lrGate: Relation = Artifact("qlrg", "fit=lr,excl=src0",
    Seq(ingestGate, QualityFeatures, GopherSeed, LrFit), coalesce1 = true)(TextOps.qualityLrGateOf)
  val ftMargins: Relation = Artifact("qft",
    s"fit=lr-hash,b=${TextOps.FtBuckets},k=${TextOps.FtIters}," +
      s"eta=${TextOps.FtEtaNum}/${TextOps.FtEtaDen},grams=1+2,half=even,norm=1e6",
    Seq(Docs, GopherSeed))((s, dir) => TextOps.qualityFtOf(docs(s, dir)))
  val dirtyGrams: Relation =
    Artifact("dirty", "g=5,bench=lt10", Seq(Docs))(Pipeline.dirtyGramsOf)
  val tokenTotals: Relation = Artifact("toktot", "tok=ws", Seq(Docs), coalesce1 = true)(
    // the ONE token counter the pack family budgets in, so chunk-id
    // continuity between census, delta pack and full pack cannot drift
    (s, dir) => docs(s, dir).groupBy("source").agg(sum(Pipeline.wsTokenCount).as("base_off")))

  /** DSIR importance model: the per-bucket log-ratio table (lr) between the
    * Gopher-seed target and the raw corpus, and the calibrated top-quartile
    * logw6 bar (thr) scored under the persisted lr. */
  private def dsirWriter(excludeSrc0: Boolean, buckets: Long)(
      s: SparkSession, dir: String, genDir: Path): Unit = {
    val corpus = if (excludeSrc0) docs(s, dir).filter(col("source") =!= "src0") else docs(s, dir)
    // ONE cached (doc, bucket) relation feeds the model counts AND the
    // threshold's scoring pass; released after the writes
    val wt = TextOps.dsirWt(corpus, buckets).persist()
    try {
      writePart(TextOps.dsirLr(wt, buckets).coalesce(1), genDir, "lr")
      val lr = s.read.parquet(new Path(genDir, "lr").toString)
      val s6 = TextOps.dsirScores(wt.select(col("doc_id"), col("b"), col("occ")), lr).persist()
      try writePart(TextOps.dsirThr(s6).coalesce(1), genDir, "thr")
      finally s6.unpersist(false)
    } finally wt.unpersist(false)
  }
  val dsirModel: Parts = Parts("dsir", s"b=${TextOps.DsirBuckets},keep=quarter",
    Seq(Docs, GopherSeed), "lr", "thr")(dsirWriter(excludeSrc0 = false, TextOps.DsirBuckets))
  val dsirModel8k: Parts = Parts("dsir8k", s"b=${TextOps.DsirBuckets8k},keep=quarter",
    Seq(Docs, GopherSeed), "lr", "thr")(dsirWriter(excludeSrc0 = false, TextOps.DsirBuckets8k))
  val dsirGate: Parts = Parts("dsirig", s"b=${TextOps.DsirBuckets},keep=quarter,excl=src0",
    Seq(Docs, GopherSeed), "lr", "thr")(dsirWriter(excludeSrc0 = true, TextOps.DsirBuckets))
  val dsirScored: Relation = Artifact("dsirsc", "", Seq(dsirModel))(TextOps.importanceDsirServe)
  val dsirScored8k: Relation =
    Artifact("dsirsc8k", "", Seq(dsirModel8k))(TextOps.importanceDsirServe8k)

  // --- tokenizers ----------------------------------------------------------

  val bpeMergeTable: Relation = Artifact("bpe", s"k=${TextOps.BpeTrainMerges}", Seq(Docs),
    coalesce1 = true)(TextOps.bpeTrain)
  val bpeMergeTableBig: Relation = Artifact("bpebig",
    s"k=${TextOps.BpeTrainMergesBig},b=${TextOps.BpeTrainBatch}", Seq(Docs),
    coalesce1 = true)(TextOps.bpeTrainBig)
  val uniVocab: Relation = Artifact("uni",
    s"l=${UnigramLm.UniMaxPieceLen},seed=${UnigramLm.UniSeedVocab}," +
      s"v=${UnigramLm.UniVocab},em=${UnigramLm.UniIters},grid=1e6",
    Seq(Docs), coalesce1 = true)((s, dir) => UnigramLm.uniTrainOf(docs(s, dir)))
  val uniVocabBig: Relation = Artifact("unibig",
    s"l=${UnigramLm.UniMaxPieceLen},seed=${UnigramLm.UniSeedVocabBig}," +
      s"v=${UnigramLm.UniVocabBig},em=${UnigramLm.UniItersBig},grid=1e6",
    Seq(Docs), coalesce1 = true)((s, dir) => UnigramLm.uniTrainOf(docs(s, dir),
      UnigramLm.UniSeedVocabBig, UnigramLm.UniVocabBig, UnigramLm.UniItersBig))
  val bpeStaticVocab: Relation = Artifact("bvoc", "", Seq(Docs, BpeStatic), coalesce1 = true)(
    (s, dir) => TextOps.bpeVocabWith(docs(s, dir), TextOps.BpeMerges))
  val bpeStaticIdStream: Relation = Artifact("bids", "", Seq(Docs, BpeStatic))(
    (s, dir) => TextOps.bpeIdsWith(docs(s, dir), TextOps.BpeMerges))
  val bpeDecodeAudit: Relation =
    Artifact("bdec", "", Seq(bpeStaticVocab, bpeStaticIdStream))(TextOps.bpeDecodeOf)
  val bpeTrainedIdStream: Relation = Artifact("btids", "", Seq(bpeMergeTable))(
    (s, dir) => TextOps.bpeIdsWith(docs(s, dir), TextOps.trainedMerges(s, dir)))
  val bpeTrainedIdStreamBig: Relation = Artifact("btidsbig", "", Seq(bpeMergeTableBig))(
    (s, dir) => TextOps.bpeIdsWith(docs(s, dir), TextOps.trainedMergesBig(s, dir)))
  val bpeDocTokens: Relation = Artifact("bdtok", "", Seq(Docs, BpeStatic))(
    (s, dir) => Pipeline.docTokensWith(s, dir, TextOps.bpeCount(col("text"))))
  val trainedDocTokens: Relation = Artifact("bdtok-t", "", Seq(bpeMergeTable))(
    (s, dir) => Pipeline.docTokensWith(s, dir,
      graft.functions.BpeExpressions.bpeCount(col("text"), TextOps.trainedMerges(s, dir))))
  val trainedDocTokensBig: Relation = Artifact("bdtok-tb", "", Seq(bpeMergeTableBig))(
    (s, dir) => Pipeline.docTokensWith(s, dir,
      graft.functions.BpeExpressions.bpeCount(col("text"), TextOps.trainedMergesBig(s, dir))))

  // --- near-dup indexes, pairs and labelings -------------------------------

  /** The corpus (source <> 'src0') MinHash signature index (doc_id, band, h). */
  val lshIndex: Relation = Artifact("lshidx", "excl=src0", Seq(Docs, Minhash))(
    (s, dir) => Dedup.lshIndexOf(docs(s, dir).filter(col("source") =!= "src0")))
  val candPairs: Relation = Artifact("mhcand", "", Seq(Docs, Minhash))(
    (s, dir) => Dedup.minhashLshCapped(s, dir, Dedup.MaxBucket))
  val bandedPairs: Relation = Artifact("mhband", s"r=${Dedup.BandRows}", Seq(Docs, Minhash))(
    Dedup.bandedPairsOf)
  val shinglePairs: Relation = Artifact("shpairs", "", Seq(Docs, Minhash))(
    Dedup.shinglePairsOf)
  val candSigs: Relation = Artifact("mhsig", "", Seq(candPairs))(Dedup.candSigsOf)
  val candGramCounts: Relation = Artifact("mhgc", "", Seq(candPairs))(Dedup.candGramCountsOf)
  val candLabels: Relation = Artifact("ccraw", "", Seq(candPairs))(
    (s, dir) => Dedup.ccLabels(docs(s, dir).select(col("doc_id")), candPairs(s, dir)))
  val verifiedPairs: Relation = Artifact("vpairs", s"j=${Dedup.JaccardThreshold}",
    Seq(candPairs))(Dedup.verifiedPairsOf)
  val survivorLabels: Relation =
    Artifact("cclab", "exact=md5", Seq(verifiedPairs))(Dedup.survivorLabelsOf)
  val substrStats: Relation = Artifact("substat", "", Seq(Docs, Substr))(Dedup.substrStatsOf)
  val dupStarts: Relation = Artifact("dupstart", "", Seq(Docs, Substr))(Dedup.dupStartsOf)
  val boilerTop: Relation = Artifact("boiltop", s"k=${Dedup.BoilerplateK}", Seq(Docs, Substr),
    coalesce1 = true)(Dedup.boilerTopOf)

  /** Degenerate-block censuses (≤ 9 rows) and verified hamming pairs of
    * the three 64-bit hash families: simhash, image phash, audio print. */
  val simhashDegen: Relation = Artifact("dgsim", "", Seq(Docs, Hamming), coalesce1 = true)(
    (s, dir) => Dedup.degenCensusOf(Dedup.simhashed(s, dir)))
  val phashDegen: Relation = Artifact("dgph", "", Seq(Docs, Hamming), coalesce1 = true)(
    (s, dir) => Dedup.degenCensusOf(Multimodal.phashed(s, dir)))
  val audioDegen: Relation = Artifact("dgau", "", Seq(Docs, Hamming), coalesce1 = true)(
    (s, dir) => Dedup.degenCensusOf(Multimodal.audioHashed(s, dir)))
  val simhashPairs: Relation = Artifact("hpsim", "", Seq(simhashDegen))((s, dir) =>
    Dedup.hammingPairs(Dedup.simhashed(s, dir), Dedup.degenOf(simhashDegen(s, dir))))
  val phashPairs: Relation = Artifact("hpph", "", Seq(phashDegen))((s, dir) =>
    Dedup.hammingPairs(Multimodal.phashed(s, dir), Multimodal.phashDegen(s, dir)))
  val audioPairs: Relation = Artifact("hpau", "", Seq(audioDegen))((s, dir) =>
    Dedup.hammingPairs(Multimodal.audioHashed(s, dir), Multimodal.audioDegen(s, dir)))
  val phashLabels: Relation = Artifact("phlab", "", Seq(phashPairs))(Multimodal.phashLabelsOf)
  val audioLabels: Relation = Artifact("aulab", "", Seq(audioPairs))(Multimodal.audioLabelsOf)
  val phashIndex: Relation = Artifact("phidx", "blocks=3,excl=src0", Seq(Docs))(
    (s, dir) => Multimodal.phashIndexOf(docs(s, dir).filter(col("source") =!= "src0")))
  val resampleIndex: Relation = Artifact("rsmp", s"side=${Multimodal.MaxSide},pool=lum,h=md5",
    Seq(Docs))(Multimodal.resampleIndexOf)

  // --- curation, build manifests and loader orders -------------------------

  val funnelFlags: Relation = Artifact("funfl", "",
    Seq(langidScores, qualityScores, semanticLabels, alignScores, CurateGates))(
    Pipeline.funnelFlagsOf)
  val curateManifest: Relation = Artifact("curheur", "",
    Seq(langidScores, qualityScores, CurateGates))((s, dir) => Pipeline.curateGated(s, dir,
    TextOps.quality(s, dir).filter(col("quality_score") >= Pipeline.QualityThreshold)
      .select(col("doc_id"), col("quality_score"))))
  val curateModelManifest: Relation = Artifact("curmod", "rule=model0",
    Seq(langidScores, qualityLogits, CurateGates))((s, dir) => Pipeline.curateGated(s, dir,
    TextOps.qualityModel(s, dir).filter(col("model_keep") === 1)
      .select(col("doc_id"), col("logit"))))
  val curateNearDupManifest: Relation = Artifact("curnd", "",
    Seq(curateManifest, survivorLabels))((s, dir) => Pipeline.curate(s, dir)
    .join(Dedup.survivors(s, dir).select(col("doc_id")), Seq("doc_id"), "left_semi"))
  val curateSemanticManifest: Relation = Artifact("cursem", "",
    Seq(curateManifest, semanticLabels))((s, dir) => Pipeline.curate(s, dir)
    .join(Dedup.semanticDedupKeep(s, dir).select(col("vec_id").as("doc_id")),
      Seq("doc_id"), "left_semi"))
  val curateAlignedManifest: Relation = Artifact("curalg", "",
    Seq(curateSemanticManifest, alignScores))((s, dir) => Pipeline.curateSemantic(s, dir)
    .join(Multimodal.textAlign(s, dir).filter(col("align_keep") === 1).select(col("doc_id")),
      Seq("doc_id"), "left_semi"))
  val srcStats: Relation = Artifact("srcst", "ntok=ws", Seq(gopherFlags, survivorLabels),
    coalesce1 = true)(TextOps.sourceStatsOf)
  val curateSourceManifest: Relation = Artifact("cursrc",
    s"slack=${Pipeline.SourceDupSlackPpm},rule=half/2x",
    Seq(srcStats, gopherFlags, survivorLabels))(Pipeline.curateSourceOf)

  /** Build manifests: the Gopher / near-dup / contamination gates, the
    * model-gate slot and the two-level pack over the qsc token spine. */
  private val buildGates = Seq(gopherFlags, survivorLabels, dirtyGrams, qualityScores, Pack)
  private def buildFlags = s"flags=${Pipeline.BuildGopherFlags.mkString(",")}"
  val buildManifest: Relation = Artifact("bldmod", s"$buildFlags,rule=model0",
    qualityLogits +: buildGates, coalesce1 = true)((s, dir) => Pipeline.buildWith(s, dir,
      TextOps.qualityModel(s, dir).filter(col("model_keep") === 1).select("doc_id")))
  val calibManifest: Relation = Artifact("bldcal", s"$buildFlags,rule=ceilhalf",
    calibKeep +: buildGates, coalesce1 = true)((s, dir) => Pipeline.buildWith(s, dir,
      TextOps.qualityCalibrated(s, dir).filter(col("calib_keep") === 1).select("doc_id")))
  val trainedManifest: Relation = Artifact("bldqtm", s"$buildFlags,rule=margin0",
    trainedMargins +: buildGates, coalesce1 = true)((s, dir) => Pipeline.buildWith(s, dir,
      TextOps.qualityTrained(s, dir).filter(col("trained_keep") === 1).select("doc_id")))
  val lrManifest: Relation = Artifact("bldqlr", s"$buildFlags,rule=z0",
    lrMargins +: buildGates, coalesce1 = true)((s, dir) => Pipeline.buildWith(s, dir,
      TextOps.qualityLr(s, dir).filter(col("lr_keep") === 1).select("doc_id")))
  val interleaveOrder: Relation = Artifact("ilv", "temper=sqrt1e6,key=1e9div",
    Seq(Docs, Shuffle))(Pipeline.interleaveOf)
  val curriculumOrder: Relation =
    Artifact("curric", "tiers=tertile", Seq(pplScores, Shuffle))(Pipeline.curriculumOf)

  // --- store protocol --------------------------------------------------------

  private var rootOverride: Option[String] = None

  /** Test hook: run `f` against a fresh artifact root (and restore). */
  private[graft] def withRoot[T](dir: String)(f: => T): T = synchronized {
    val prev = rootOverride
    rootOverride = Some(dir)
    try f finally rootOverride = prev
  }

  private def root(s: SparkSession): String =
    rootOverride.orElse(sys.env.get("SPARK_GRAFT_MODEL_DIR")).getOrElse(
      new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-models-${s.sparkContext.applicationId}").toString)

  /** Corpus-freshness fingerprint: the sorted (relative path, length,
    * mtime) triples of every file under `dir/table.parquet`, RECURSIVELY
    * (partitioned layouts' leaf files count). One listing per access, no
    * data scan. A rewrite preserving every path and length within one
    * mtime tick is below its resolution (the FileStreamSource trade). A
    * missing table fingerprints as "absent". Several tables
    * (comma-separated) concatenate their fingerprints. Exposed for
    * corpus-derived memos that must share this freshness discipline
    * (Similarity.embCount). */
  private[graft] def fingerprint(s: SparkSession, dir: String, table: String): String =
    if (table.indexOf(',') >= 0)
      table.split(",").map(t => fingerprintOne(s, dir, t)).mkString("||")
    else fingerprintOne(s, dir, table)

  private def fingerprintOne(s: SparkSession, dir: String, table: String): String = {
    val p = new Path(dir, s"$table.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) "absent"
    else {
      val st = fs.getFileStatus(p)
      if (st.isDirectory) {
        val base = p.toUri.getPath
        val it = fs.listFiles(p, true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) {
          val f = it.next()
          val rel = f.getPath.toUri.getPath.stripPrefix(base)
          buf += s"$rel:${f.getLen}:${f.getModificationTime}"
        }
        buf.sorted.mkString("|")
      } else s"${p.getName}:${st.getLen}:${st.getModificationTime}"
    }
  }

  private def markerPath(p: Path) = new Path(p, "_GRAFT_COMPLETE")

  /** Generation directory names: retrains land in a NEW `g-<md5(fp)>[-k]`
    * subdirectory of the stable artifact key instead of overwriting the
    * served files in place — a DataFrame handle a live consumer already
    * holds (e.g. a running stream's static join side) stays readable
    * across ONE retrain. [[gcGenerations]] keeps exactly the current and
    * previous generation, so the store stays bounded at two copies per
    * (dataset, constants) regardless of corpus churn. */
  private def genName(fp: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    "g-" + md.digest(fp.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
  }

  /** A generation name NO retrain has used before under key `p`: the
    * fingerprint hash, suffixed `-1`, `-2`, … past any directory that
    * already exists. Uniqueness per retrain matters when a corpus REVERTS
    * to an earlier fingerprint (A→B→A): a name reuse would retrain by
    * overwriting gen(A) in place — the very directory kept as 'previous'
    * that a live handle may still reference. The marker
    * records which name actually serves, so lookup never recomputes it. */
  private def freshGenName(fs: FileSystem, p: Path, fp: String): String = {
    val base = genName(fp)
    Iterator.from(0)
      .map(i => if (i == 0) base else s"$base-$i")
      .find(n => !fs.exists(new Path(p, n)))
      .get
  }

  /** The marker records (corpus fingerprint, serving generation name),
    * newline-separated. A marker without a generation line reads as no
    * marker, so its artifact retrains. */
  private def readMarker(fs: FileSystem, p: Path): Option[(String, String)] = {
    val m = markerPath(p)
    if (!fs.exists(m)) None
    else {
      val in = fs.open(m)
      try {
        val bytes = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
        new String(bytes.toByteArray, "UTF-8").split("\n", 2) match {
          case Array(fp, gen) if gen.nonEmpty => Some((fp, gen))
          case _ => None
        }
      } finally in.close()
    }
  }

  /** Mark the artifact complete — but only if the corpus still
    * fingerprints as it did when training started. A mid-train corpus
    * mutation leaves the artifact unmarked, so the next access retrains
    * against the new state instead of serving a mixed one. Returns
    * whether the marker was committed. */
  private def commitIfFresh(s: SparkSession, fs: FileSystem, p: Path,
      fp: String, gen: String, dir: String, table: String): Boolean =
    fingerprint(s, dir, table) == fp && {
      // Write-then-RENAME, never truncate-in-place: an in-place overwrite
      // leaves a window where a lock-free reader (same or another process)
      // sees a torn marker — fp line intact, generation line missing — and
      // resolves to a generation name GC may have deleted. Rename is atomic
      // on the FileSystems the engine targets (local, HDFS). Some
      // implementations refuse to clobber the destination, so the stale
      // marker is dropped first; a reader in that gap sees NO marker and
      // falls through to the locked path — a spurious retrain at worst,
      // never a torn read.
      val tmp = new Path(p, "_GRAFT_COMPLETE.tmp")
      val out = fs.create(tmp, true)
      try out.write(s"$fp\n$gen".getBytes("UTF-8")) finally out.close()
      val m = markerPath(p)
      if (fs.exists(m)) fs.delete(m, false)
      fs.rename(tmp, m)
      true
    }

  /** Drop every generation directory except the just-committed one and
    * the one the previous marker served (live readers of the PREVIOUS
    * generation survive one retrain; older handles — and generations
    * abandoned by mid-train corpus mutations — are collected). */
  private def gcGenerations(fs: FileSystem, p: Path, keep: Set[String]): Unit =
    if (fs.exists(p))
      fs.listStatus(p).filter(st => st.isDirectory &&
          st.getPath.getName.startsWith("g-") && !keep(st.getPath.getName))
        .foreach(st => fs.delete(st.getPath, true))

  /** The generation path serving `fp` under stable key `p`, training it
    * first when absent or stale. Single-relation artifacts write the
    * parquet directly at the generation dir; multi-relation artifacts
    * pass `write` a generation dir to fill with part subdirectories.
    * Retries once if the corpus mutates mid-train (the current caller
    * then gets an artifact of the NEW state instead of a stale one);
    * after two failed attempts the freshest attempt serves — the marker
    * stays uncommitted, so the next access retrains. */
  private def ensureGen(s: SparkSession, p: Path, dir: String, table: String, name: String)
      (write: Path => Unit): Path = {
    // LOCK-FREE serve path: the marker protocol makes an
    // unlocked freshness check safe — the marker is written LAST, names
    // the serving generation, and GC always keeps that generation plus
    // the previous one — so the common case (a fresh artifact exists)
    // never waits behind another artifact's corpus-scale training under
    // the global monitor. Training and the re-check that guards it still
    // serialize globally. Test roots stay safe: suites run sequentially in
    // the forked test JVM, so a withRoot swap can never interleave with an
    // unlocked read.
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val fp0 = fingerprint(s, dir, table)
    readMarker(fs, p) match {
      // Belt-and-braces with the rename-commit: serve lock-free only when
      // the named generation directory actually exists — a marker that
      // names a collected or never-written generation (foreign tampering)
      // falls through to the locked path, which re-checks under the
      // monitor and retrains if needed.
      case Some((mfp, gen)) if mfp == fp0 && fs.exists(new Path(p, gen)) =>
        new Path(p, gen)
      case _ => ensureGenLocked(s, fs, p, dir, table, name)(write)
    }
  }

  private def ensureGenLocked(s: SparkSession, fs: FileSystem, p: Path,
      dir: String, table: String, name: String)(write: Path => Unit): Path =
    synchronized {
      var fp = fingerprint(s, dir, table)
      readMarker(fs, p) match {
        case Some((mfp, gen)) if mfp == fp && fs.exists(new Path(p, gen)) =>
          new Path(p, gen)
        case prev =>
          val prevGen = prev.map(_._2)
          var attempts = 0
          var committed = false
          var gen = ""
          while (!committed && attempts < 2) {
            attempts += 1
            gen = freshGenName(fs, p, fp)
            buildCounts.merge(name, 1, (a, b) => a + b)
            building.set(name :: building.get)
            try write(new Path(p, gen)) finally building.set(building.get.tail)
            committed = commitIfFresh(s, fs, p, fp, gen, dir, table)
            if (!committed) fp = fingerprint(s, dir, table)
          }
          if (committed)
            gcGenerations(fs, p, Set(gen) ++ prevGen)
          new Path(p, gen) // serve what was actually written
      }
    }
}
