package graft

import org.apache.spark.sql.functions._
import graft.functions._

class FunctionsSpec extends SparkSpec {
  private val ss = SparkSpec.spark
  import ss.implicits._

  test("text_repetition flags a fully templated doc and clears a distinct one") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rep").toString
    Seq((1L, "src0", "spam ham eggs spam ham eggs spam ham eggs"),
        (2L, "src0", "one two three four five six seven"),
        (3L, "src0", "too short"))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextOps.repetition(ss, dir).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getDouble(3))).toMap
    // doc 1: 7 trigram instances over 3 distinct -> 4/7 repeated
    assert(got(1L) == ((7, 4, math.floor(4.0 / 7 * 1e6 + 0.5) / 1e6)))
    assert(got(2L) == ((5, 0, 0.0)), "distinct text must score zero")
    assert(got(3L) == ((0, 0, 0.0)), "sub-n docs have no grams and ratio 0")
  }

  test("text_quality_model separates clean prose from spam and punctuation garbage") {
    val dir = java.nio.file.Files.createTempDirectory("graft_qm").toString
    Seq(
      (1L, "src0", "the cat sat of the mat and in the park a dog ran with the ball in a bright day of sun and fun"),
      (2L, "src0", "buy now buy now buy now buy now buy now buy now buy now buy now"),
      (3L, "src0", "!!! ??? *** $$$ %%% ### @@@ &&& ^^^ +++"))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextOps.qualityModel(ss, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getInt(3)))).toMap
    val (goodL8, goodLogit, goodKeep) = got(1L)
    val (spamL8, _, spamKeep) = got(2L)
    val (punctL8, _, punctKeep) = got(3L)
    assert(goodKeep == 1, s"clean prose must pass the gate: ${got(1L)}")
    assert(spamKeep == 0, s"repetition spam must fail the gate: ${got(2L)}")
    assert(punctKeep == 0, s"punctuation garbage must fail the gate: ${got(3L)}")
    assert(goodL8 > spamL8 && goodL8 > punctL8, s"ordering violated: $got")
    // the double logit is the exact fixed-point value scaled down
    assert(goodLogit == goodL8.toDouble / 1e8)
  }

  test("text_normalize cleans messy docs and passes clean ones through byte-identically") {
    val dir = java.nio.file.Files.createTempDirectory("graft_norm").toString
    Seq(
      (1L, "src0", "Hello   WORLD\tfrom\u0000graft"),
      (2L, "src0", "  leading and trailing  "),
      (3L, "src0", "already clean text"))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextOps.normalize(ss, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(got(1L)._1 == "hello world from graft", s"got ${got(1L)}")
    assert(got(1L)._2 == 1)
    assert(got(2L)._1 == "leading and trailing" && got(2L)._2 == 1)
    assert(got(3L) == (("already clean text", 0, 18)), "clean text must pass through unchanged")
  }

  test("text_perplexity_bucket tertiles each language independently with integer quotas") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pplb").toString
    // two languages, varied fluency; doc 13 has no trigrams and must not appear
    val docs = Seq(
      (1L, "src0", "en", "the cat sat on the mat and the dog sat on the rug"),
      (2L, "src0", "en", "the cat ran to the park and the dog ran to the gate"),
      (3L, "src0", "en", "a bird flew over the hill in the morning light"),
      (4L, "src0", "en", "quantum flux harmonics destabilize the manifold spectrum"),
      (5L, "src0", "en", "zebra xylophone quasar jumbles vortex plasma"),
      (6L, "src0", "en", "the cat sat on the mat and the cat sat on the mat"),
      (7L, "src0", "de", "der hund lief durch den park und der hund lief schnell"),
      (8L, "src0", "de", "die katze schlief auf dem warmen dach im sommer"),
      (9L, "src0", "de", "das wetter ist heute sehr schoen und warm"),
      (10L, "src0", "de", "der hund lief durch den park und der hund lief schnell heim"),
      (11L, "src0", "de", "ein vogel flog ueber den berg am morgen"),
      (12L, "src0", "de", "blitz donner wirbel sturm chaos nebel"),
      (13L, "src0", "en", "solo"))
    docs.toDF("doc_id", "source", "lang", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.operators.TextOps.perplexityBucket(ss, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
    assert(!rows.exists(_._1 == 13L), "a doc with no trigrams has no perplexity bucket")
    rows.groupBy(_._2).foreach { case (lang, rs) =>
      val n = rs.length
      val byBucket = rs.groupBy(_._4).view.mapValues(_.map(_._3)).toMap
      val h = byBucket.getOrElse("head", Array.empty[Double]).length
      val m = byBucket.getOrElse("middle", Array.empty[Double]).length
      val t = byBucket.getOrElse("tail", Array.empty[Double]).length
      assert(h + m + t == n, s"$lang: buckets must partition the scored docs")
      assert(h >= (n + 2) / 3, s"$lang: head quota ceil(n/3) not met")
      assert(h + m >= (2 * n + 2) / 3, s"$lang: head+middle quota ceil(2n/3) not met")
      assert(h > 0 && m > 0 && t > 0, s"$lang: every tertile must be populated here")
      // buckets are nll-ordered: head strictly below middle strictly below tail
      assert(byBucket("head").max < byBucket("middle").min, s"$lang: head/middle overlap")
      assert(byBucket("middle").max < byBucket("tail").min, s"$lang: middle/tail overlap")
    }
  }

  test("pipeline_mix_temperature flattens a skewed census and plans integer epochs") {
    val counts = Seq(("big", 6400L), ("small", 100L)).toDF("source", "n_docs")
    val got = graft.operators.Pipeline.mixTemperatureOf(counts).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // hand-computed: w = sqrt(n)*1e6 -> 8e7 / 1e7, tw = 9e7, tn = 6500.
    // shares 888889/111111 (sum EXACTLY 1e6), targets 5778/722, epochs 1/8.
    assert(got("big") == ((6400L, 888889L, 5778L, 1L)), s"got ${got("big")}")
    assert(got("small") == ((100L, 111111L, 722L, 8L)), s"got ${got("small")}")
    // the tempering property the constants encode: raw share of the small
    // source is 100/6500 = 1.5%; tempered share is 11.1% — flattened up.
  }

  test("text_entropy scores degenerate, balanced and empty docs on the integer grid") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ent").toString
    Seq((1L, "src0", "aaaaaaaa"), (2L, "src0", "abababab"),
        (3L, "src0", "aab"), (4L, "src0", ""))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextOps.entropy(ss, dir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getDouble(3), r.getDouble(4)))).toMap
    // single-char run: zero entropy, modal share 1
    assert(got(1L) == ((8, 1, 1.0, 0.0)), s"got ${got(1L)}")
    // two chars balanced: H = ln 2 on the 1e-6 grid
    assert(got(2L) == ((8, 2, 0.5, 0.693147)), s"got ${got(2L)}")
    // 2:1 mix: H = ln 3 - (2/3) ln 2
    assert(got(3L) == ((3, 2, 0.666667, 0.636514)), s"got ${got(3L)}")
    // empty doc: all-zero row, not a crash (sequence(1,0) would descend)
    assert(got(4L) == ((0, 0, 0.0, 0.0)), s"got ${got(4L)}")
  }

  test("pipeline_mix_manifest emits full epochs plus a hash-fixed fractional subset") {
    val docs = (0L until 6400L).map(i => (i, "big")) ++
      (10000L until 10100L).map(i => (i, "small"))
    val dir = java.nio.file.Files.createTempDirectory("graft_mixm").toString
    docs.toDF("doc_id", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.Pipeline.mixManifest(ss, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val (bigN, bigT, bigF, bigE) = got("big")
    val (smlN, smlT, smlF, smlE) = got("small")
    // plan side is the hand-computed mix_temperature fixture
    assert((bigN, bigT, bigF) == ((6400L, 5778L, 0L)), s"got ${got("big")}")
    assert((smlN, smlT, smlF) == ((100L, 722L, 7L)), s"got ${got("small")}")
    // emitted counts: full*n <= emitted <= (full+1)*n, binomially near target
    assert(bigE >= 0 && bigE <= bigN && math.abs(bigE - bigT) <= 300,
      s"big emitted $bigE vs target $bigT")
    assert(smlE >= 7 * smlN && smlE <= 8 * smlN && math.abs(smlE - smlT) <= 30,
      s"small emitted $smlE vs target $smlT")
  }

  test("dedup_boilerplate surfaces the planted shared window with exact counts") {
    val dir = java.nio.file.Files.createTempDirectory("graft_boiler").toString
    val boiler = "shared license header text here"
    Seq(
      (1L, "src0", s"$boiler and unique tail one extra"),
      (2L, "src0", s"$boiler with another ending entirely"),
      (3L, "src0", s"prefix words then $boiler again"),
      (4L, "src0", "totally unrelated document body words"))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.Dedup.boilerplateTopK(ss, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty, "planted boilerplate not surfaced")
    // the 5-word planted window occurs once in each of docs 1, 2, 3
    val hit = got.find(_._1 == boiler)
    assert(hit.contains((boiler, 3L, 3L)), s"expected ($boiler, 3, 3); got $got")
    // nothing from the unrelated doc can appear (its windows are unique)
    assert(got.forall(_._2 >= 2), "census admitted a single-document window")
  }

  test("text_pii detects emails, phones, IPs and long ids on a synthetic corpus") {
    // The shipped corpus is digit-free (the gated oracle run proves parity
    // at zero counts); detection itself is pinned here.
    val dir = java.nio.file.Files.createTempDirectory("graft_pii").toString
    Seq(
      (1L, "src0", "contact me at jane.doe@example.com or bob@mail.co today"),
      (2L, "src0", "call 555-867-5309 from 10.0.0.1 with account 123456789"),
      (3L, "src0", "nothing sensitive here at all"),
      (4L, "src0", "short num 12345 is not an id and 999.1.2 is not an ip"))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextOps.pii(ss, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)), r.getInt(5), r.getInt(6)))
      .toMap
    assert(got(1L) == (((2, 0, 0, 0), 2, 1)), s"emails: ${got(1L)}")
    assert(got(2L) == (((0, 1, 1, 1), 3, 1)), s"phone+ip+id: ${got(2L)}")
    assert(got(3L) == (((0, 0, 0, 0), 0, 0)), "clean doc must not flag")
    assert(got(4L) == (((0, 0, 0, 0), 0, 0)), "5-digit runs and non-quad dots must not flag")
    val red = graft.operators.TextOps.piiRedact(ss, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(red(1L) == (("contact me at <EMAIL> or <EMAIL> today", 1)), red(1L))
    assert(red(2L) == (("call <PHONE> from <IP> with account <ID>", 1)), red(2L))
    assert(red(3L) == (("nothing sensitive here at all", 0)), "clean doc must pass through byte-identical")
  }

  test("BPE count replays rank-ordered greedy merges exactly") {
    // Hand-derived against TextOps.BpeMerges: (t,h) then (th,e) collapse
    // "the" to ONE symbol; (i,n)+(in,g) collapse "ing"; within-rank merges
    // scan left-to-right ("ththth" -> th|th|th, never a mid-symbol match);
    // multi-word text sums per-word counts.
    val cases = Seq(
      "the" -> 1L,       // t,h -> th; th,e -> the
      "and" -> 1L,       // a,n -> an; an,d -> and
      "ing" -> 1L,       // i,n -> in; in,g -> ing
      "there" -> 3L,     // th | er | e
      "sort" -> 3L,      // s | or | t ((s,t) never adjacent)
      "ththth" -> 3L,    // greedy left-to-right, symbol-boundary safe
      "inin" -> 2L,      // in | in
      "x" -> 1L,
      "the and ing" -> 3L)
    val df = cases.map(_._1).toDF("text")
      .select(col("text"), graft.operators.TextOps.bpeCount(col("text")).as("n"))
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    cases.foreach { case (t, want) =>
      assert(got(t) == want, s"'$t': got ${got(t)}, want $want")
    }
  }

  test("hash64 equals the signed big-endian first md5 digest half") {
    def reference(s: String): Long = {
      val dg = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      (0 until 8).foldLeft(0L)((v, i) => (v << 8) | (dg(i) & 0xffL))
    }
    val vals = Seq("", "a", "the quick fox", "spark graft", "0", "ffffffff")
    val got = vals.toDF("v").select(col("v"), hash64(col("v")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    vals.foreach(v => assert(got(v) == reference(v), s"hash64('$v')"))
    // at least one test value must exercise the negative (top-bit-set) range
    assert(vals.exists(v => reference(v) < 0), "need a negative-case witness")
  }

  test("wordShingles is empty below n tokens and sliding above") {
    val df = Seq("a b", "a b c d").toDF("text")
      .select(wordShingles(wsTokens(col("text")), 3).as("sh"))
    val got = df.collect().map(_.getSeq[String](0).toList).toList
    assert(got == List(Nil, List("a b c", "b c d")))
  }

  test("minhashSignature is deterministic and element-wise minimal") {
    val df = Seq("x y z w").toDF("text")
      .select(minhashSignature(wordShingles(wsTokens(col("text")), 3), 4).as("sig"))
    val a = df.collect().head.getSeq[String](0)
    val b = df.collect().head.getSeq[String](0)
    assert(a == b && a.length == 4 && a.forall(_.length == 32))
  }

  test("simhash64 matches an independent per-token bit-vote computation") {
    // Reference: plain-Scala Charikar simhash — one md5 per token, votes
    // from the big-endian first digest half, majority per bit.
    def reference(text: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val votes = new Array[Int](64)
      text.split(" ", -1).foreach { t =>
        val dg = md.digest(t.getBytes("UTF-8"))
        val h = (0 until 8).foldLeft(0L)((v, i) => (v << 8) | (dg(i) & 0xffL))
        (0 until 64).foreach(j => votes(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1))
      }
      (0 until 64).foldLeft(0L)((acc, j) => if (votes(j) > 0) acc | (1L << j) else acc)
    }
    val rows = graft.sources.Tables.load(spark, sf, "documents").limit(100)
      .select(col("text"), ShingleExpressions.simhash64(col("text")).as("h")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == reference(r.getString(0)),
        s"native simhash64 differs from reference for: ${r.getString(0).take(60)}")
    }
  }

  test("native grid L2 is bit-identical to the HOF formulation on real embeddings") {
    val e = graft.sources.Tables.load(spark, sf, "embeddings").limit(60)
      .select(col("vec_id"),
        transform(col("embedding"), v => floor(v.cast("double") * 1024 + 0.5).cast("long")).as("q"),
        transform(col("embedding"), v => (v.cast("double") * 0.5)).as("c"))
    val hof = aggregate(zip_with(col("a.q"), col("b.c"),
        (q, c) => (q.cast("double") / 1024.0 - c) * (q.cast("double") / 1024.0 - c)),
      lit(0.0), (acc, v) => acc + v)
    val both = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(VectorExpressions.gridL2(col("a.q"), col("b.c")).as("native"), hof.as("ref"))
    assert(both.filter(col("native") =!= col("ref")).count() == 0)
  }

  test("cosineSim of a vector with itself is 1") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f)))
      .toDF("a", "b").select(cosineSim(col("a"), col("b")).as("c"))
    assert(math.abs(df.collect().head.getDouble(0) - 1.0) < 1e-12)
  }

  test("cosine of a zero vector is 0, never NaN — on both eval paths") {
    // Spark SQL orders NaN above every number, so an unguarded 0/0 makes
    // zero vectors pass every similarity threshold (the degenerate-
    // embeddings sweep measured a 3.4x pair explosion in dedup_embedding)
    val zero = Array.fill(3)(0.0f)
    val some = Array(1.0f, 2.0f, 3.0f)
    val df = Seq((zero, some), (zero, zero), (some, zero))
      .toDF("a", "b").select(cosineSim(col("a"), col("b")).as("c"))
    df.collect().foreach(r => assert(r.getDouble(0) == 0.0, s"got ${r.getDouble(0)}"))
    // interpreted eval (driver-side Literal fold takes this path)
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    val conv = CatalystTypeConverters.createToCatalystConverter(
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
    val expr = graft.functions.CosineSimilarityExpr(
      Literal.create(conv(zero), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      Literal.create(conv(some), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))
    assert(expr.eval(null) == 0.0)
  }

  test("native codegen cosine is bit-identical to the HOF reference on real data") {
    val e = graft.sources.Tables.load(spark, sf, "embeddings").limit(50)
    val both = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        cosineSim(col("a.embedding"), col("b.embedding")).as("native"),
        cosineSimHof(col("a.embedding"), col("b.embedding")).as("hof"))
    val diff = both.filter(col("native") =!= col("hof")).count()
    assert(diff == 0, s"$diff pairs differ between native and HOF cosine")
  }

  test("native shingles are identical to the declarative formulation on real docs") {
    val d = graft.sources.Tables.load(spark, sf, "documents")
    val cmp = d.select(
      ShingleExpressions.shingles(col("text"), 3).as("native_sh"),
      wordShingles(wsTokens(col("text")), 3).as("hof_sh"))
    val shDiff = cmp.filter(col("native_sh") =!= col("hof_sh")).count()
    assert(shDiff == 0, s"$shDiff docs differ in shingles")
  }

  test("derived-hash minhash matches an independent reference implementation") {
    // Reference: the Broder construction computed in plain Scala from the
    // shingle strings — one md5 per shingle, h1/h2 = big-endian digest
    // halves, perm p = h1 + p*h2 (wrapping), unsigned min per perm.
    def reference(text: String, k: Int, n: Int): Seq[Long] = {
      val toks = text.split(" ", -1)
      val shingles = toks.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSeq
      if (shingles.isEmpty) return Seq.empty
      val md = java.security.MessageDigest.getInstance("MD5")
      val mins = new Array[Long](k)
      shingles.zipWithIndex.foreach { case (sh, idx) =>
        val dg = md.digest(sh.getBytes("UTF-8"))
        def be(off: Int) = (0 until 8).foldLeft(0L)((v, i) => (v << 8) | (dg(off + i) & 0xffL))
        val h1 = be(0); val h2 = be(8)
        (0 until k).foreach { p =>
          val h = h1 + p * h2
          if (idx == 0 || java.lang.Long.compareUnsigned(h, mins(p)) < 0) mins(p) = h
        }
      }
      mins.toSeq
    }
    val d = graft.sources.Tables.load(spark, sf, "documents").limit(100)
    val rows = d.select(col("text"),
      ShingleExpressions.minhashSig(col("text"), 8, 3).as("mh")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1) == reference(r.getString(0), 8, 3),
        s"native minhash differs from reference for: ${r.getString(0).take(60)}")
    }
  }

  test("graft_cosine is callable from SQL") {
    graft.functions.VectorExpressions.register(spark)
    val r = spark.sql("SELECT graft_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), array(CAST(0.0 AS FLOAT), CAST(1.0 AS FLOAT))) AS c")
      .collect().head.getDouble(0)
    assert(r == 0.0)
  }

  test("graft_shingles/graft_minhash/graft_lsh_sign are callable from SQL and match the DataFrame path") {
    graft.functions.GraftFunctions.register(spark)
    val sh = spark.sql("SELECT graft_shingles('a b c d', 3) AS s")
      .collect().head.getSeq[String](0)
    assert(sh == Seq("a b c", "b c d"))
    graft.sources.Tables.load(spark, sf, "documents").limit(20)
      .createOrReplaceTempView("fn_docs")
    val viaSql = spark.sql("SELECT doc_id, graft_minhash(text, 8, 3) AS mh FROM fn_docs")
    val viaDf = graft.sources.Tables.load(spark, sf, "documents").limit(20)
      .select(col("doc_id"), ShingleExpressions.minhashSig(col("text"), 8, 3).as("mh"))
    assert(viaSql.exceptAll(viaDf).count() == 0 && viaDf.exceptAll(viaSql).count() == 0)
    val sig = spark.sql("SELECT graft_lsh_sign(array(CAST(0.5 AS FLOAT), CAST(-0.5 AS FLOAT)), 8, 2) AS s")
      .collect().head.getLong(0)
    assert(sig >= 0 && sig < 256)
    val sh64 = spark.sql("SELECT graft_simhash64('spark sql engine') AS h").collect().head.getLong(0)
    val sh64Df = spark.range(1)
      .select(ShingleExpressions.simhash64(lit("spark sql engine"))).collect().head.getLong(0)
    assert(sh64 == sh64Df)
    val g = spark.sql("SELECT graft_grid_l2(array(CAST(1024 AS BIGINT)), array(CAST(0.0 AS DOUBLE))) AS d")
      .collect().head.getDouble(0)
    assert(g == 1.0)
    val rec = spark.sql("SELECT graft_gensort_record(CAST(0 AS BIGINT)) AS r")
      .collect().head.getAs[Array[Byte]](0)
    assert(rec.length == 100 && rec.sameElements(GensortLcg.record(0L)))
  }

  test("langid bigram buckets hash CODE POINTS (non-BMP parity with the oracle)") {
    // "𝕊a": code points [0x1D54A, 'a'] -> exactly ONE bigram in the
    // oracle's (ascii(c_i)*31 + ascii(c_{i+1})) % buckets rule. The old
    // charAt loop hashed the two surrogate halves as separate "characters"
    // (two bigrams, wrong buckets) — round-11 unicode sweep failure.
    val buckets = graft.operators.TextOps.LangidBuckets
    val cnt = LangidBytes.bucketCounts(
      org.apache.spark.unsafe.types.UTF8String.fromString("𝕊a"), buckets)
    val total = (0 until buckets).map(cnt.getLong).sum
    assert(total == 1L, s"expected one code-point bigram, got $total")
    assert(cnt.getLong((0x1D54A * 31 + 'a'.toInt) % buckets) == 1L)
    // ASCII behavior unchanged: "ab" lands in (97*31+98) % buckets
    val ab = LangidBytes.bucketCounts(
      org.apache.spark.unsafe.types.UTF8String.fromString("ab"), buckets)
    assert(ab.getLong((97 * 31 + 98) % buckets) == 1L)
  }

  test("mm byte fingerprints are md5 over the lowercase-hex byte rendering") {
    // md5OfHex(bytes) must equal md5 of the hex STRING — the only form
    // DuckDB can replay for arbitrary (non-UTF-8-safe) payload slices
    val bytes = Array[Byte](0x00, 0x7f, -1, 0x20)
    val viaHex = java.security.MessageDigest.getInstance("MD5")
      .digest("007fff20".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      .map("%02x".format(_)).mkString
    assert(graft.operators.Multimodal.md5OfHex(bytes) == viaHex)
  }

  private def bits(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
    if (r.isNullAt(i)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(i)))

  test("percentileSorted equals Spark percentile bit for bit, before rounding") {
    val groups: Seq[(String, Seq[Option[Double]])] = Seq(
      "one" -> Seq(Some(5.5)),
      "two" -> Seq(Some(3.0), Some(1.0)),
      "even" -> Seq(Some(0.7), Some(10.3), Some(0.1), Some(0.2)),
      "odd" -> Seq(Some(0.3), Some(2.9), Some(1.1), Some(7.7), Some(0.01)),
      "ties" -> Seq(Some(2.0), Some(1.0), Some(3.0), Some(2.0), Some(3.0), Some(2.0)),
      "equal" -> Seq.fill(3)(Some(7.25)),
      "negative" -> Seq(Some(-3.5), Some(-1.25), Some(-10.0), Some(2.0), Some(-0.1)),
      "nulls" -> Seq(None, Some(2.0), None, Some(1.0), Some(4.5), None),
      "all_null" -> Seq(None, None))
    val rnd = new scala.util.Random(17)
    val random = (1 to 40).map { g =>
      s"r$g" -> Seq.fill(1 + rnd.nextInt(30))(
        Some(if (g % 2 == 0) rnd.nextInt(5).toDouble else rnd.nextDouble() * 1e4 - 5e3))
    }
    val df = (groups ++ random)
      .flatMap { case (g, xs) => xs.map(x => (g, x)) }.toDF("g", "x")
    // the quartile points plus 0.1 and 0.9: only there are the interpolation
    // weights inexact, so only there does the equal-neighbour rule show
    val ps = Seq(0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0)
    val got = df.groupBy("g")
      .agg(sortedDoubles(col("x")).as("v"),
        ps.indices.map(i => expr(s"percentile(x, ${ps(i)})").as(s"spark_$i")): _*)
      .select(col("g") +: size(col("v")).as("n") +:
        ps.indices.flatMap(i => Seq(col(s"spark_$i"), percentileSorted(col("v"), ps(i)))): _*)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got.size == groups.size + random.size)
    got.foreach { case (g, r) =>
      ps.indices.foreach { i =>
        assert(bits(r, 2 + 2 * i) == bits(r, 3 + 2 * i),
          s"group $g p=${ps(i)}: percentile ${r.get(2 + 2 * i)} vs sorted list ${r.get(3 + 2 * i)}")
      }
    }
    def sorted(g: String, p: Double): Double = got(g).getDouble(3 + 2 * ps.indexOf(p))
    assert(got("nulls").getInt(1) == 3, "size(a) counts only the non-null values")
    assert(sorted("nulls", 0.5) == 2.0)
    assert(got("all_null").getInt(1) == 0 && got("all_null").isNullAt(3))
    // both branches are live: an interpolated value, and an equal pair that
    // interpolation would perturb ((1 - 0.2) * 7.25 + 0.2 * 7.25 != 7.25)
    assert(sorted("even", 0.25) != 0.2 && sorted("even", 0.25) != 0.7)
    assert(sorted("equal", 0.1) == 7.25)
  }

  /** lineitem with the pricing summary's columns, `files` parquet files. */
  private def lineitem(rows: Seq[(String, Option[Double], Option[Double], Double, Double)],
      files: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_money").toString
    rows.toDF("l_returnflag", "l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .withColumn("l_linestatus", lit("O"))
      .withColumn("l_shipdate", lit("1998-01-01").cast("timestamp_ntz"))
      .repartition(files)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("pricing summary's long money sums equal dsum(dec(...)) bit for bit") {
    val rnd = new scala.util.Random(23)
    val limit = 9999999999.99 // the largest DECIMAL(12,2)
    val ties = Seq(0.005, 1.005, 2.675, 0.125)
    val rows =
      Seq.fill(2000)(("R", Some(rnd.nextDouble() * 50), Some(rnd.nextDouble() * 1e5),
        rnd.nextDouble() * 0.1, rnd.nextDouble() * 0.08)) ++
      ties.flatMap(v => Seq(("T", Some(v), Some(v), v, v), ("T", Some(-v), Some(v * 1000), -v, v))) ++
      Seq.fill(200)(("N", Some(-rnd.nextDouble() * 50), Some(-rnd.nextDouble() * 1e5),
        -rnd.nextDouble() * 0.1, -rnd.nextDouble() * 0.08)) ++
      // sums past 2^53 units, where a double sum of the longs rounds twice
      (0 until 800).map(i => (s"B${i % 8}", Some(rnd.nextDouble() * 50),
        Some(limit - rnd.nextDouble() * 1e9), rnd.nextDouble() * 0.1, rnd.nextDouble() * 0.08)) ++
      Seq(("L", Some(limit), Some(limit), 0.05, 0.08), ("L", Some(-limit), Some(limit), 0.99, 0.99),
        ("L", Some(limit - 0.01), Some(-limit), -0.99, -0.99), ("L", None, None, 0.0, 0.0))
    val dir = lineitem(rows, 3)
    val one = lit(1).cast("decimal(12,2)")
    val want = graft.sources.Tables.load(ss, dir, "lineitem")
      .select(col("l_returnflag"), dec(col("l_quantity")).as("qty"),
        dec(col("l_extendedprice")).as("price"), dec(col("l_discount")).as("disc"),
        dec(col("l_tax")).as("tax"))
      .groupBy("l_returnflag")
      .agg(dsum(col("qty")), dsum(col("price")),
        dsum(col("price") * (one - col("disc"))),
        dsum(col("price") * (one - col("disc")) * (one + col("tax"))),
        (sum(col("qty")).cast("double") / count(lit(1))),
        (sum(col("price")).cast("double") / count(lit(1))), count(lit(1)))
      .collect().map(r => r.getString(0) -> r).toMap
    val got = graft.operators.Analytics.pricingSummary(ss, dir).drop("l_linestatus")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got.keySet == Set("R", "T", "N", "L") ++ (0 until 8).map(i => s"B$i"))
    got.foreach { case (g, r) =>
      (1 to 6).foreach { i =>
        assert(bits(r, i) == bits(want(g), i), s"group $g column $i: ${r.get(i)} vs ${want(g).get(i)}")
      }
      assert(r.getLong(7) == want(g).getLong(7))
    }
  }

  test("a long money partial that overflows raises ARITHMETIC_OVERFLOW instead of wrapping") {
    // charge at scale 6: 999999999999 * 199 * 199 ~ 3.96e16 units per row;
    // 300 rows in one split sum past Long.MaxValue (9.22e18)
    val dir = lineitem(Seq.fill(300)(("O", Some(1.0), Some(9999999999.99), -0.99, 0.99)), 1)
    val e = intercept[Exception](
      graft.operators.Analytics.pricingSummary(ss, dir).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains("ARITHMETIC_OVERFLOW")), e)
  }
}
