package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.ShingleExpressions
import graft.operators.{AnnModels, Dedup, Pipeline, TextOps}

/** Round-7 curation operators: the Gopher rule battery's rule-level
  * separation on crafted documents, the MinHash signature-agreement
  * estimator's binomial error band against exact Jaccard, and stratified
  * sampling's equivalence to the window formulation it replaces (the
  * TopKPerKey bounded-heap plan must select EXACTLY the rows a
  * row_number-over-cluster window would, without that window's
  * one-task-per-dense-cluster sort). */
class CurationOpsSpec extends SparkSpec {
  private val ss = SparkSpec.spark
  import ss.implicits._

  test("native bigram-bucket histogram equals the declarative HOF reference") {
    val d = graft.sources.Tables.load(spark, sf, "documents")
    val ref = transform(sequence(lit(0), lit(TextOps.LangidBuckets - 1)),
      b => size(filter(TextOps.langidBigrams(col("text")), x => x === b)).cast("long"))
    val bad = d.select(
        graft.functions.LangidExpressions.bigramBuckets(col("text"), TextOps.LangidBuckets).as("native"),
        ref.as("ref"))
      .filter(col("native") =!= col("ref"))
    assert(bad.count() == 0, "native histogram must equal the 32-filter formulation")
  }

  test("native argmax scores a 128-language model in one plan node") {
    // A fastText-sized language set: the retired per-language inlined
    // aggregates would have compiled 128 candidate subtrees into one
    // projection; the native expression holds the whole matrix as a
    // referenced object. Checked against a plain-Scala argmax replay.
    val langs = (0 until 128).map(i => f"l$i%03d")
    val weights: Seq[Seq[Long]] = langs.indices.map { i =>
      Seq.tabulate(TextOps.LangidBuckets)(b =>
        if (b == i % TextOps.LangidBuckets) 1000L + i else (i % 7).toLong)
    }
    val d = graft.sources.Tables.load(spark, sf, "documents")
    val cntCol = graft.functions.LangidExpressions.bigramBuckets(col("text"), TextOps.LangidBuckets)
    val got = d.select(col("doc_id"), cntCol.as("cnt"),
      graft.functions.LangidExpressions.argmaxLang(cntCol, langs, weights).as("pred"))
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val cnt = r.getSeq[Long](1)
      val expect =
        if (cnt.sum == 0L) "und"
        else {
          val scores = weights.map(w => cnt.zip(w).map(p => p._1 * p._2).sum)
          langs(scores.indexOf(scores.max)) // first max = lexically smallest
        }
      assert(r.getString(2) == expect, s"doc ${r.getLong(0)}")
    }
    // bigram-less input scores 'und' through the same node
    val tiny = Seq((1L, "x")).toDF("doc_id", "text")
    assert(tiny.select(graft.functions.LangidExpressions.argmaxLang(
        graft.functions.LangidExpressions.bigramBuckets(col("text"), TextOps.LangidBuckets),
        langs, weights)).head.getString(0) == "und")
  }

  test("rocchio langid separates char-distribution-distinct languages") {
    val ss = SparkSpec.spark
    import ss.implicits._
    // two "languages" with disjoint alphabets: centroids must separate
    // them perfectly, including on the odd-id docs the model never saw
    val docs = (0L until 40L).map { i =>
      if (i % 4 < 2) (i, "aa ab ba ab aa ba ab aa", "aa")
      else (i, "zz zy yz zy zz yz zy zz", "zz")
    }.toDF("doc_id", "text", "lang")
    val got = graft.operators.TextOps.langidModelOf(docs).collect()
    assert(got.length == 40)
    got.foreach { r =>
      assert(r.getInt(3) == 1,
        s"doc ${r.getLong(0)}: predicted ${r.getString(2)}, wanted ${r.getString(1)}")
    }
  }

  test("rocchio langid predicts 'und' for bigram-less documents") {
    val ss = SparkSpec.spark
    import ss.implicits._
    val docs = Seq(
      (0L, "aa ab aa ab", "aa"), (2L, "zz zy zz zy", "zz"),
      (1L, "x", "aa"), (3L, "", "zz"))
      .toDF("doc_id", "text", "lang")
    val got = graft.operators.TextOps.langidModelOf(docs)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // "x" has one char (no bigram), "" has none — both und
    assert(got(1L) == "und" && got(3L) == "und")
    assert(got(0L) == "aa" && got(2L) == "zz")
  }

  test("rocchio langid scores zero-overlap docs against every trained language") {
    val ss = SparkSpec.spark
    import ss.implicits._
    // bucket(c1,c2) = (31*c1 + c2) mod 32 = (c2 - c1) mod 32: "aaaa"
    // occupies only bucket 0, "cece" only buckets {2, 30}, while "abab"
    // hits buckets {1, 31} — zero bucket overlap with every centroid. The
    // argmax still ranges over every trained language (all scores 0), so
    // the doc takes the lex-smallest one — exactly what the oracle's
    // coalesced cross join computes; an inner bucket join would have
    // emitted no candidate rows and mislabeled the doc 'und'.
    val docs = Seq(
      (0L, "aaaa", "aa"), (2L, "aaaa", "aa"),
      (4L, "cece", "cc"), (6L, "cece", "cc"),
      (1L, "abab", "xx"))
      .toDF("doc_id", "text", "lang")
    val got = graft.operators.TextOps.langidModelOf(docs)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got(1L) == "aa",
      s"zero-overlap doc must take the lex-smallest trained language, got ${got(1L)}")
    assert(got(0L) == "aa" && got(4L) == "cc")
  }

  test("gopher battery separates crafted good and bad documents rule by rule") {
    val good = ("the of and that be to have with " * 8).trim
    val docs = Seq(
      (0L, good),                                                  // passes all rules
      (1L, "the of and"),                                          // too few words
      (2L, ("a b c d " * 20).trim),                                // mean word length < 3
      (3L, good + " " + ("# " * 30).trim),                         // symbol-heavy
      (4L, ("table scan row " * 20).trim),                         // no Gopher stopwords
      (5L, "- one thing here\n- two thing here\n- three thing"),   // bullet lines
      (6L, "it goes on...\nand on...\nalso on..."))                // ellipsis lines
      .toDF("doc_id", "text")
    val got = TextOps.gopherRulesOf(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(0L).getAs[Int]("keep") == 1, "the crafted good doc must pass")
    val expectFail = Seq(1L -> "r_word_count", 2L -> "r_mean_len", 3L -> "r_symbol",
      4L -> "r_stop", 5L -> "r_bullet", 6L -> "r_ellipsis")
    expectFail.foreach { case (id, rule) =>
      assert(got(id).getAs[Int](rule) == 0, s"doc $id must fail $rule")
      assert(got(id).getAs[Int]("keep") == 0, s"doc $id must not pass the composite")
    }
  }

  test("minhash estimate: 1.0 on identical docs, binomial band vs exact Jaccard") {
    val est = Dedup.minhashEstimate(spark, sf)
    val shd = graft.sources.Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        array_distinct(ShingleExpressions.shingles(col("text"), Dedup.ShingleN)).as("sh"))
    val inter = size(array_intersect(col("sha"), col("shb"))).cast("double")
    val rows = est
      .join(shd.select(col("doc_id").as("doc_a"), col("sh").as("sha")), Seq("doc_a"))
      .join(shd.select(col("doc_id").as("doc_b"), col("sh").as("shb")), Seq("doc_b"))
      .select(col("est_jaccard"),
        (inter / (size(col("sha")) + size(col("shb")) - inter)).as("exact"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (e, x) = (r.getDouble(0), r.getDouble(1))
      assert(e >= 1.0 / Dedup.MinhashPerms && e <= 1.0, s"estimate $e out of range")
      if (x == 1.0) assert(e == 1.0, "identical shingle sets must estimate 1.0")
    }
    val meanErr = rows.map(r => math.abs(r.getDouble(0) - r.getDouble(1))).sum / rows.length
    // k=8 binomial sd is <= 0.177; candidate selection biases low-J pairs
    // upward, so the band is generous — but a broken estimator (shifted
    // hashing, off-by-one band join) lands far outside it.
    assert(meanErr <= 0.25, s"mean |estimate - exact| = $meanErr")
  }

  test("shuffle positions are a dense permutation equal to the global-order reference") {
    val d = graft.sources.Tables.load(spark, sf, "documents")
    val n = d.count()
    val got = Pipeline.shuffle(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n)
    assert(got.values.toSeq.sorted == (0L until n), "positions must be dense 0..n-1")
    val reference = d
      .select(col("doc_id"), graft.functions.hash64(col("doc_id")).as("h"))
      .withColumn("pos", row_number().over(
        Window.orderBy(col("h"), col("doc_id"))) - 1)
      .collect().map(r => r.getLong(0) -> (r.getInt(2) - 0L)).toMap
    assert(got == reference, "two-level rank must equal the single-window reference")
  }

  test("stratified sample equals the window formulation, capped per cluster") {
    // Reference: the row_number window over the SAME assignment the
    // operator reads (persisted centroids; ivfParts' exact tie-breaks).
    val cent = AnnModels.ivfCentroids(spark, sf)
    val assign = graft.sources.Tables.load(spark, sf, "embeddings")
      .join(broadcast(cent))
      .select(col("vec_id"), col("cent_id"),
        round(graft.functions.cosineSim(col("embedding"), col("cent_emb")), 4).as("ccos"))
      .withColumn("arn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cent_id").asc)))
      .filter(col("arn") === 1)
    val expected = assign
      .withColumn("rk", graft.functions.hash52(col("vec_id")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cent_id")).orderBy(col("rk").asc, col("vec_id").asc)))
      .filter(col("rn") <= Pipeline.StratifiedCap)
      .select(col("cent_id"), col("vec_id"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val got = Pipeline.sampleStratified(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(got == expected, "bounded-heap selection must match the window selection")
    val perCluster = got.groupBy(_._1).view.mapValues(_.size)
    assert(perCluster.values.forall(_ <= Pipeline.StratifiedCap))
    assert(perCluster.values.exists(_ > 1), "sample should retain multiple members somewhere")
  }

  test("temperature sample keeps ceil(C*sqrt(n)) per cluster, exactly the window draw") {
    // same assignment rebuild as the stratified spec (persisted centroids,
    // ivfParts' exact tie-breaks)
    val cent = AnnModels.ivfCentroids(spark, sf)
    val assign = graft.sources.Tables.load(spark, sf, "embeddings")
      .join(broadcast(cent))
      .select(col("vec_id"), col("cent_id"),
        round(graft.functions.cosineSim(col("embedding"), col("cent_emb")), 4).as("ccos"))
      .withColumn("arn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cent_id").asc)))
      .filter(col("arn") === 1)
    val sizes = assign.groupBy("cent_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val quota = sizes.view.mapValues(n =>
      math.ceil(Pipeline.TempCoeff * math.sqrt(n.toDouble)).toLong).toMap
    val expected = assign
      .withColumn("rk", graft.functions.hash52(col("vec_id")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cent_id")).orderBy(col("rk").asc, col("vec_id").asc)))
      .collect()
      .filter(r => r.getAs[Int]("rn") <= quota(r.getAs[Int]("cent_id")))
      .map(r => (r.getAs[Int]("cent_id"), r.getAs[Long]("vec_id"))).toSet
    val got = Pipeline.sampleCluster(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(got == expected, "two-stage heap+window draw must match the brute-force window")
    // per-cluster counts must be exactly min(quota, size), computed purely
    // from the independent census (never from the operator's own output —
    // a self-referential expected value would pass on over-retention)
    val perCluster = got.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val wanted = sizes.map { case (c, n) => c -> math.min(quota(c), n) }
    assert(perCluster == wanted,
      s"per-cluster counts must equal min(quota, size): $perCluster vs $wanted")
    // the flattening discriminates on the shipped corpus: every cluster is
    // genuinely subsampled, and quotas differ with cluster size
    assert(sizes.forall { case (c, n) => quota(c) < n },
      s"shipped clusters must all exceed their quotas: $quota vs $sizes")
    assert(perCluster.values.toSet.size > 1, s"quotas should vary with density: $perCluster")
    // the cut runs heaps-then-bounded-window, never a corpus-keyed window
    val plan = Pipeline.sampleCluster(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"),
      s"per-cluster cap must run in the bounded-heap operator first:\n${plan.take(1500)}")
  }

  test("calibrated quality gate keeps the top half of ANY logit distribution") {
    // brute force on the shipped corpus: threshold = the ceil(N/2)-th
    // largest logit8, ties kept
    val model = TextOps.qualityModel(spark, sf)
      .select(col("doc_id"), col("logit8")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = model.size
    val keepN = (n + 1) / 2
    val thr = model.values.toSeq.sorted.apply(n - keepN)
    val kept = TextOps.qualityCalibrated(spark, sf)
      .filter(col("calib_keep") === 1).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(kept == model.filter(_._2 >= thr).keySet,
      "calibrated keep set must be exactly the >=threshold docs")
    assert(kept.size >= keepN, s"must keep at least ceil(N/2), got ${kept.size}")

    // a corpus the FIXED gate annihilates (every logit far below zero)
    // still keeps its top half under calibration — the SCALE.md r8
    // empty-manifest failure mode, pinned in miniature
    val ss2 = spark
    import ss2.implicits._
    val shifted = (1L to 101L).map(i => (i, -1000000000000L - i)).toDF("doc_id", "logit8")
    assert(shifted.filter(col("logit8") >= 0).count() == 0, "fixed gate keeps nothing here")
    val calib = TextOps.qualityCalibratedOf(shifted)
      .filter(col("calib_keep") === 1).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(calib.size == 51, s"calibrated gate must keep ceil(101/2)=51, got ${calib.size}")
    assert(calib == (1L to 51L).toSet, "must keep the LARGEST logits (smallest doc ids here)")

    // full tie saturation: every doc at the same logit — the threshold IS
    // that value and ties are kept, so the whole corpus survives (both
    // engines state the same >= rule; degenerate distributions can't
    // under-keep)
    val ties = (1L to 100L).map(i => (i, -5L)).toDF("doc_id", "logit8")
    assert(TextOps.qualityCalibratedOf(ties)
      .filter(col("calib_keep") === 1).count() == 100L,
      "a fully-tied distribution must keep every document")
  }

  test("DSIR importance selection keeps the top quartile and enriches the target") {
    val out = TextOps.importanceDsir(spark, sf)
      .select("doc_id", "logw6", "dsir_keep").collect()
    val n = out.length
    assert(n == graft.sources.Tables.load(spark, sf, "documents").count(),
      "every document must be scored (split(' ') yields >= 1 token per doc)")
    // brute-force the order statistic: threshold = ceil(N/4)-th largest
    // weight, ties kept
    val w = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val keepN = (n + 3) / 4
    val thr = w.values.toSeq.sorted.apply(n - keepN)
    val kept = out.filter(_.getInt(2) == 1).map(_.getLong(0)).toSet
    assert(kept == w.filter(_._2 >= thr).keySet,
      "keep set must be exactly the >=threshold docs")
    assert(kept.size >= keepN, s"must keep at least ceil(N/4), got ${kept.size}")
    // importance weighting must ENRICH the target distribution: the
    // seed-rate (>= QualitySeedMinFlags of 7 Gopher rules — the target
    // definition) among selected docs exceeds the corpus-wide rate
    // (that is the whole point of the importance weights)
    val gk = TextOps.gopherRules(spark, sf)
      .select(col("doc_id"), when(TextOps.GopherFlagNames.map(col).reduce(_ + _)
        >= TextOps.QualitySeedMinFlags, 1).otherwise(0).as("tgt"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val selRate = kept.toSeq.map(gk).sum.toDouble / kept.size
    val allRate = gk.values.sum.toDouble / gk.size
    assert(selRate > allRate,
      f"selected Gopher-pass rate $selRate%.3f must exceed corpus rate $allRate%.3f")

    // fully-tied corpus: identical texts -> identical weights -> the
    // threshold IS the common value and every document survives
    val ss2 = spark
    import ss2.implicits._
    val ties = (1L to 40L).map(i => (i, "the same text here", "en", "src0"))
      .toDF("doc_id", "text", "lang", "source")
    assert(TextOps.importanceDsirOf(ties).filter(col("dsir_keep") === 1).count() == 40L,
      "a fully-tied importance distribution must keep every document")
  }

  test("delta pack converges to the full pack and never cumsum-scans the old corpus") {
    // per-doc chunk assignment under the delta path must equal the full
    // pack's for every delta doc: compare manifests restricted to delta
    val d = graft.sources.Tables.load(spark, sf, "documents")
    val sp = d.agg(expr("(max(doc_id) * 4) DIV 5")).collect()(0).getLong(0)
    val nTok = size(graft.functions.wsTokens(col("text"))).cast("long")
    val full = d.select(col("source"), col("doc_id"), nTok.as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(
        Window.partitionBy("source").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("doc_id") >= sp)
      .withColumn("chunk_id", expr(s"(cum - n_tok) DIV ${Pipeline.CtxTokens}"))
      .groupBy("source", "chunk_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val delta = Pipeline.packDelta(spark, sf)
      .select("source", "chunk_id", "n_docs", "n_tokens")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(delta == full, s"delta manifest must equal the full pack's delta slice: " +
      s"${delta.diff(full)} / ${full.diff(delta)}")
    // a brand-new source (no base offset row) starts at chunk 0
    val ss2 = spark
    import ss2.implicits._
    val fresh = Seq(("newsrc", 100L, 7L), ("newsrc", 101L, 7L)).toDF("source", "doc_id", "n_tok")
    val out = Pipeline.packOf(fresh,
      baseOff = Some(Seq(("oldsrc", 5000L)).toDF("source", "base_off")))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(out == Set(("newsrc", 0L)), s"an offset-less source must start at chunk 0: $out")
  }

  test("token-budget planner: shares sum to ~1e6, epochs balance across skewed sources") {
    val rows = Pipeline.tokenBudget(spark, sf).collect()
    assert(rows.nonEmpty)
    val shareSum = rows.map(_.getAs[Long]("share6")).sum
    assert(math.abs(shareSum - 1000000L) <= rows.length,
      s"tempered token shares must sum to ~1e6 (±1 per source): $shareSum")
    // budget conservation: targets sum to ~BudgetEpochs x corpus tokens
    val totToks = rows.map(_.getAs[Long]("n_toks")).sum
    val totTarget = rows.map(_.getAs[Long]("target_toks")).sum
    assert(math.abs(totTarget - Pipeline.BudgetEpochs * totToks) <= rows.length,
      s"budget slices must conserve the total: $totTarget vs ${Pipeline.BudgetEpochs * totToks}")
    // tempering: on a skewed corpus the small source gets MORE epochs than
    // the large one (sqrt flattening upsamples the tail) — the shipped
    // corpus's sources are near-uniform, so assert on epochs6 spread sign
    // via the exact fixed-point definition instead: epochs6 replays as
    // round(target/n * 1e6) for every source
    rows.foreach { r =>
      val (n, t, e) = (r.getAs[Long]("n_toks"), r.getAs[Long]("target_toks"),
        r.getAs[Long]("epochs6"))
      val expect = ((BigInt(t) * 1000000 + n / 2) / BigInt(n)).toLong
      assert(e == expect, s"epochs6 decomposition must be exact: $e vs $expect")
    }
  }

  test("trigram LM separates templated text a bigram LM scores as fluent") {
    // The corpus is a pivot family "<l> m <r>": every bigram the templated
    // doc uses occurs in the corpus with the SAME counts as the fluent
    // docs' bigrams, but its TRIPLE never occurs — the spam shape (slot-
    // filled templates over fluent word pairs) that motivated the r12
    // bigram→trigram upgrade.
    val corpus = Seq(
      (1L, "srcA", "a m b"),
      (2L, "srcA", "b m c"),
      (3L, "srcA", "c m a")).toDF("doc_id", "source", "text")
    val templated = Seq((4L, "srcA", "a m c")).toDF("doc_id", "source", "text")
    val (c3, c2, u) = TextOps.trainNgramLmOf(corpus)
    val scored = TextOps.perplexityScore(corpus.union(templated), c3, c2, u)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // the trigram mixture separates: the templated doc is strictly more
    // surprising than EVERY fluent doc
    assert(Seq(1L, 2L, 3L).forall(id => scored(4L) > scored(id)),
      s"trigram LM must rank the templated doc worst: $scored")
    // ...while a pure bigram conditional over the same counts cannot:
    // the templated doc's bigram set {a m, m c} carries the same counts
    // as doc 1's {a m, m b}, so its bigram score TIES the fluent doc's
    val stats = u.agg(count(lit(1)).as("v"),
      coalesce(sum(col("cu")), lit(0L)).as("ntok"))
    val bg = corpus.union(templated)
      .select(col("doc_id"),
        explode(graft.functions.wordShingles(graft.functions.wsTokens(col("text")), 2)).as("g"))
      .withColumn("w1", split(col("g"), " ").getItem(0))
      .join(c2, Seq("g"), "left")
      .join(u.select(col("w").as("w1"), col("cu").as("cu1")), Seq("w1"), "left")
      .crossJoin(broadcast(stats))
      .groupBy("doc_id")
      .agg(avg(round(-log((coalesce(col("c2"), lit(0L)) + 1).cast("double") /
        (coalesce(col("cu1"), lit(0L)) + col("v"))), 6)).as("bg_nll"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(bg(4L) - bg(1L)) < 1e-9,
      s"construction check: the bigram conditional must NOT separate (doc4 ${bg(4L)} vs doc1 ${bg(1L)})")
  }

  test("5-gram KN separates templated text the trigram LM scores as fluent " +
      "(the depth probe that gates text_perplexity_kn5)") {
    // Pivot-family "<l> m n o <r>" with a TRIPLE pivot: the templated doc
    // "a m n o c" shares every trigram AND every 4-gram type (with the
    // same counts) with the fluent docs — only its 5-gram never occurs.
    // This is the order-5 analog of the r12 bigram→trigram probe, and the
    // measured strict gain is what gates the kn5 query.
    val corpus = Seq(
      (1L, "srcA", "a m n o b"),
      (2L, "srcA", "b m n o c"),
      (3L, "srcA", "c m n o a")).toDF("doc_id", "source", "text")
    val templated = Seq((4L, "srcA", "a m n o c")).toDF("doc_id", "source", "text")
    val all = corpus.union(templated)
    // construction check: the interpolated-TRIGRAM score provably ties —
    // the templated doc's trigram/bigram/unigram count multiset matches
    // every fluent doc's
    val (c3, c2, u) = TextOps.trainNgramLmOf(corpus)
    val tri = TextOps.perplexityScore(all, c3, c2, u)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(Seq(1L, 2L, 3L).forall(id => math.abs(tri(4L) - tri(id)) < 1e-9),
      s"construction check: the trigram LM must NOT separate: $tri")
    // the 5-gram KN mixture separates strictly: the unseen 5-gram loses
    // its max(c5-D,0) mass and the templated doc scores worst
    val (k5, k4, k3, k2, ku) = TextOps.trainKn5LmOf(corpus)
    val kn = TextOps.kn5Score(all, k5, k4, k3, k2, ku)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(Seq(1L, 2L, 3L).forall(id => kn(4L) > kn(id) + 1e-9),
      s"KN5 must rank the templated doc strictly worst: $kn")
    // sanity on the shipped corpus: scores are finite, every >=5-token
    // doc is covered, and the artifact path serves without retraining
    val scored = TextOps.perplexityKn5(spark, sf).collect()
    assert(scored.length > 0 && scored.forall(r =>
      !r.getDouble(2).isNaN && !r.getDouble(2).isInfinite && r.getDouble(2) > 0))
    val t0 = AnnModels.kn5Lm.builds
    TextOps.perplexityKn5(spark, sf).collect()
    assert(AnnModels.kn5Lm.builds == t0, "second access must serve the persisted LM")
  }

  test("pipeline_curate_aligned = curate_semantic restricted to the alignment keep set") {
    val sem = Pipeline.curateSemantic(spark, sf).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val keepSet = graft.operators.Multimodal.textAlign(spark, sf)
      .filter(col("align_keep") === 1).collect().map(_.getLong(0)).toSet
    val aligned = Pipeline.curateAligned(spark, sf).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(aligned == (sem intersect keepSet),
      s"aligned must be semantic ∩ align-keep: ${aligned.size} vs ${(sem intersect keepSet).size}")
    assert(aligned.subsetOf(sem) && aligned.nonEmpty && aligned != sem,
      s"the alignment gate must actually restrict: ${aligned.size} of ${sem.size}")
  }

  test("logistic gate beats the Rocchio margin on a corpus the centroid " +
      "midpoint cannot separate") {
    // A class-0 outlier cluster drags c0 far below the main class-0 mass,
    // so the equidistant Rocchio hyperplane lands INSIDE class 0 and
    // mislabels its entire main cluster (50% accuracy). The logistic fit
    // places the boundary inside the true corridor — at the SHIPPED
    // constants (QualityLrIters/Eta), not a spec-only configuration.
    val sp = spark
    import sp.implicits._
    val rows = (0 until 80).map(i => (i.toLong * 2, 1, 9900L)) ++
      (0 until 100).map(i => (200L + i * 2, 0, 8700L)) ++
      (0 until 20).map(i => (500L + i * 2, 0, 500L))
    val wide = rows.toDF("doc_id", "cls", "f_punct")
      .select(col("doc_id"), col("cls"), lit(5000L).as("f_stop"),
        lit(5000L).as("f_rep"), col("f_punct"), lit(5000L).as("f_rep3"),
        lit(5000L).as("f_nll"), lit(5000L).as("f_len"))
    val labels = wide.select("doc_id", "cls")
    val feats = wide.drop("cls")
    def acc(scored: org.apache.spark.sql.DataFrame, keepCol: String): Double =
      scored.join(labels, Seq("doc_id"))
        .select(avg(when(col(keepCol) === col("cls"), 1.0).otherwise(0.0)))
        .collect().head.getDouble(0)
    // Rocchio on the same matrix: the same integer-mean centroid recipe
    // trainQualityCentroidsOf applies, over the same even-id half
    val cent = wide.filter(col("doc_id") % 2 === 0).groupBy("cls")
      .agg(count(lit(1)).as("n"),
        TextOps.QualityFeatNames.map(f => sum(col(f)).as(s"s$f")): _*)
      .select(col("cls") +: col("n") +:
        TextOps.QualityFeatNames.map(f =>
          expr(s"s$f DIV n").as(f.replaceFirst("f_", "w_"))): _*)
    val rocAcc = acc(TextOps.qualityTrainedWith(feats, cent.collect()), "trained_keep")
    val (mu, w) = TextOps.qualityLrFit(feats, labels)
    val lrAcc = acc(TextOps.qualityLrScoreWith(feats, mu, w), "lr_keep")
    assert(rocAcc <= 0.51, s"the corpus must defeat the centroid midpoint, got $rocAcc")
    assert(lrAcc == 1.0, s"the logistic fit must separate the corridor, got $lrAcc")
    // and on the shipped corpus the gate is non-degenerate and seed-faithful
    val d = graft.sources.Tables.load(spark, sf, "documents")
    val realFeats = TextOps.qualityFeaturesOf(d, TextOps.perplexity(spark, sf))
      .localCheckpoint()
    val flagSum = TextOps.GopherFlagNames.map(col).reduce(_ + _)
    val realLabels = TextOps.gopherRulesOf(d).select(col("doc_id"),
      when(flagSum >= TextOps.QualitySeedMinFlags, 1).otherwise(0).as("cls"))
    val (rmu, rw) = TextOps.qualityLrFit(realFeats, realLabels)
    val realScored = TextOps.qualityLrScoreWith(realFeats, rmu, rw)
    val keeps = realScored.agg(sum(col("lr_keep"))).collect().head.getLong(0)
    val n = realScored.count()
    assert(keeps > 0 && keeps < n, s"degenerate gate: $keeps of $n kept")
    val realAcc = realScored.join(realLabels, Seq("doc_id"))
      .select(avg(when(col("lr_keep") === col("cls"), 1.0).otherwise(0.0)))
      .collect().head.getDouble(0)
    assert(realAcc >= 0.95, s"seed agreement regressed: $realAcc")
  }

  test("source-level gate: junk and mirror-heavy sources drop whole; good sources keep gopher-passing docs") {
    // Three crafted sources, each hitting a different bar:
    //  - srcgood: 12 distinct Gopher-passing docs (cross-doc 3-gram
    //    Jaccard 6/34 ~ 0.176 < 0.2 -> no verified near-dups);
    //  - srcjunk: 12 two-word docs (fail r_word_count; no shingles at
    //    all, so invisible to LSH) -> fails the keep-rate bar only;
    //  - srcmirror: 12 Gopher-PASSING near-copies (pairwise Jaccard
    //    17/23 ~ 0.74 -> one 12-doc cluster, 11 non-canonical) ->
    //    passes the keep bar, fails the near-dup bar.
    val dir = java.nio.file.Files.createTempDirectory("graft_srcgate").toString
    val stop = "the of and that be to have with"
    def goodDoc(i: Long) =
      ((stop + " " + (0 until 12).map(j => s"topic${j}doc$i").mkString(" ") + " ") * 8).trim
    def mirrorDoc(i: Long) =
      ((stop + " " + (0 until 11).map(j => s"mirror$j").mkString(" ") + s" mark$i ") * 8).trim
    val rows =
      (0L until 12L).map(i => (i, "srcgood", goodDoc(i))) ++
        (12L until 24L).map(i => (i, "srcjunk", s"junk$i stuff")) ++
        (24L until 36L).map(i => (i, "srcmirror", mirrorDoc(i)))
    rows.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val st = TextOps.sourceStats(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(st("srcgood").getAs[Long]("n_keep") == 12L &&
      st("srcgood").getAs[Long]("n_neardup") == 0L,
      s"srcgood must be clean: ${st("srcgood")}")
    assert(st("srcjunk").getAs[Long]("n_keep") == 0L,
      s"srcjunk must fail gopher wholesale: ${st("srcjunk")}")
    assert(st("srcmirror").getAs[Long]("n_keep") == 12L &&
      st("srcmirror").getAs[Long]("n_neardup") == 11L,
      s"srcmirror must be one 12-doc near-dup cluster: ${st("srcmirror")}")
    assert(st.values.map(_.getAs[Long]("n_docs")).sum == 36L,
      "source stats must partition the corpus")
    val out = Pipeline.curateSource(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(out.map(_._2).toSet == Set("srcgood"),
      s"only srcgood may pass the source bars, got ${out.map(_._2).toSet}")
    assert(out.map(_._1).toSet == (0L until 12L).toSet,
      "every doc of a passing source must survive (doc gates compose downstream)")
  }

  test("FFD packing: decreasing first-fit fills windows exactly, oversize docs isolate in flagged bins") {
    // sorted desc: 600,300,300,212,212 -> FFD bins [600*],[300+212],[300+212]
    // (arrival order would leave 300|300+212|212+600*: three part-full
    // bins plus the same oversize; decreasing order zero-pads here)
    val dir = java.nio.file.Files.createTempDirectory("graft_ffd").toString
    def docOf(n: Int) = ("w " * n).trim
    Seq((0L, "s", 300), (1L, "s", 300), (2L, "s", 212), (3L, "s", 212), (4L, "s", 600))
      .map { case (i, src, n) => (i, src, docOf(n)) }
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Pipeline.packFfd(spark, dir).collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3), r.getLong(4), r.getInt(5))))
      .toMap
    assert(got == Map(
      0L -> ((1L, 600L, 0L, 1)),
      1L -> ((2L, 512L, 0L, 0)),
      2L -> ((2L, 512L, 0L, 0))),
      s"FFD manifest diverged: $got")
  }

  test("FFD packing equals a JVM replay of the per-shard fold on the corpus") {
    val got = Pipeline.packFfd(spark, sf).collect()
      .map(r => ((r.getString(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select(col("source"), col("doc_id"), col("text")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2).split(" ", -1).length.toLong))
    val want = docs.groupBy(d => (d._1, d._2 / Pipeline.FfdBlock)).flatMap {
      case ((src, blk), ds) =>
        val loads = scala.collection.mutable.ArrayBuffer[Long]()
        val nd = scala.collection.mutable.ArrayBuffer[Long]()
        ds.sortBy(d => (-d._3, d._2)).foreach { d =>
          val i = loads.indexWhere(_ + d._3 <= Pipeline.CtxTokens)
          if (i < 0) { loads += d._3; nd += 1L } else { loads(i) += d._3; nd(i) += 1 }
        }
        loads.indices.map(i =>
          ((src, blk.toLong * Pipeline.FfdBlock + i), (nd(i), loads(i))))
    }
    assert(got == want.toMap, "Spark FFD fold diverged from the JVM replay")
    assert(got.values.map(_._1).sum == docs.length.toLong,
      "every document must land in exactly one bin")
  }

  test("pipeline_funnel stages are monotone and pin the capstone row counts by construction") {
    val f = Pipeline.funnel(spark, sf).collect()
      .map(r => r.getInt(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(f.keySet == (0 to 5).toSet)
    assert(f(0)._1 == "corpus" && f(0)._3 == 1000000L,
      "stage 0 is the whole corpus at 1e6 ppm")
    val counts = (0 to 5).map(f(_)._2)
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
      s"cumulative gates must be monotone nonincreasing: $counts")
    assert(f(3)._2 == Pipeline.curate(spark, sf).count(),
      "stage 3 must equal pipeline_curate's survivor count")
    assert(f(4)._2 == Pipeline.curateSemantic(spark, sf).count(),
      "stage 4 must equal pipeline_curate_semantic's survivor count")
    assert(f(5)._2 == Pipeline.curateAligned(spark, sf).count(),
      "stage 5 must equal pipeline_curate_aligned's survivor count")
  }

  test("pipeline_funnel_source rolls up to the corpus funnel exactly, per-source ppm is self-based") {
    val corpus = Pipeline.funnel(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    val bySrc = Pipeline.funnelSource(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(3), r.getLong(4)))
    assert(bySrc.map(_._1).distinct.length > 1,
      "the shipped corpus must exercise multiple sources")
    // the corpus rollup of the per-source report equals the corpus funnel
    // at every stage — the two reports can never disagree
    val rollup = bySrc.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    assert(rollup == corpus, s"per-source rollup $rollup != corpus funnel $corpus")
    // per-source sanity: stage 0 is that source's own count at 1e6 ppm,
    // stages monotone within a source
    val bySource = bySrc.groupBy(_._1)
    bySource.foreach { case (src, rows) =>
      val byStage = rows.map(r => r._2 -> ((r._3, r._4))).toMap
      assert(byStage.keySet == (0 to 5).toSet, s"$src missing stages")
      assert(byStage(0)._2 == 1000000L, s"$src stage 0 must be 1e6 ppm")
      val counts = (0 to 5).map(byStage(_)._1)
      assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
        s"$src stages must be monotone nonincreasing: $counts")
    }
  }

  test("hashed-ngram gate separates junk TOPIC that the surface-statistics " +
      "LR provably passes") {
    // The documented failure mode of every surface gate:
    // a junk-topic document with clean length/punct/stopword statistics.
    // Construction: clean-surface docs over a GOOD vocabulary and over a
    // SPAM vocabulary are built by the same template (identical surface
    // features by construction); the training half also carries obvious
    // spam spew (short, stopword-free — fails 2 Gopher rules) that shares
    // the spam VOCABULARY. The 6-feature LR learns surface thresholds and
    // must pass the disguised junk; the hashed-ngram gate learns word
    // identity and must reject it.
    val sp = spark
    import sp.implicits._
    val goodW = Seq("lattice", "spectrum", "quantum", "boson", "energy",
      "field", "theory", "measure", "tensor", "matrix", "vector", "basis",
      "operator", "phase", "wave", "particle")
    val spamW = Seq("casino", "jackpot", "pills", "miracle", "bonus",
      "winner", "deposit", "luck", "prize", "lottery", "cash", "offer",
      "discount", "deal", "click", "gamble")
    val stops = Seq("the", "of", "and", "to", "be", "that", "have", "with")
    // 60-token clean-surface doc: every 4th token a Gopher stopword, the
    // rest cycle the vocabulary; 3 rotation variants bound the bigram
    // type count (the 256-bucket space must not collision-saturate)
    def clean(ws: Seq[String], id: Long): String = {
      val off = (id % 3).toInt
      (0 until 60).map(i => if (i % 4 == 3) stops((i / 4 + off) % stops.size)
        else ws((i + off) % ws.size)).mkString(" ")
    }
    // 20-token stopword-free spew: fails r_word_count AND r_stop -> cls 0
    def spew(ws: Seq[String], id: Long): String =
      (0 until 20).map(i => ws((i + (id % 3).toInt) % ws.size)).mkString(" ")
    val docs = (0L until 120L).map { id =>
      (id, (id % 4) match {
        case 0 => clean(goodW, id) // train: good, seed cls 1
        case 2 => spew(spamW, id)  // train: obvious junk, seed cls 0
        case 1 => clean(goodW, id) // test: good
        case _ => clean(spamW, id) // test: DISGUISED junk (clean stats)
      })
    }.toDF("doc_id", "text").localCheckpoint()
    // the seed labels see exactly what the construction intends
    val flagSum = TextOps.GopherFlagNames.map(col).reduce(_ + _)
    val labels = TextOps.gopherRulesOf(docs).select(col("doc_id"),
      when(flagSum >= TextOps.QualitySeedMinFlags, 1).otherwise(0).as("cls"))
    val cls = labels.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert((0L until 120L).forall(id => cls(id) == (if (id % 4 == 2) 0 else 1)),
      "crafted corpus: clean-surface docs must be Gopher seeds, spew must not")
    val disguised = (0L until 120L).filter(_ % 4 == 3)
    val goodTest = (0L until 120L).filter(_ % 4 == 1)
    // the 6-feature LR (surface statistics only) PASSES the disguised junk
    val feats = TextOps.qualityFeaturesOf(docs, TextOps.perplexityOf(docs))
      .localCheckpoint()
    val (mu, w6) = TextOps.qualityLrFit(feats, labels)
    val lrKeep = TextOps.qualityLrScoreWith(feats, mu, w6)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(goodTest.forall(lrKeep(_) == 1),
      "the surface LR must keep the good test docs")
    assert(disguised.forall(lrKeep(_) == 1),
      "the surface LR must PASS every disguised-junk doc — identical " +
        "surface features by construction; if this fails the corpus no " +
        "longer demonstrates the failure mode")
    // the hashed-ngram gate separates on word identity
    val ft = TextOps.qualityFtOf(docs)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(goodTest.forall(ft(_) == 1),
      s"ft gate must keep every good test doc: ${goodTest.filter(ft(_) == 0)}")
    assert(disguised.forall(ft(_) == 0),
      s"ft gate must reject every disguised-junk doc: ${disguised.filter(ft(_) == 1)}")
  }
}
