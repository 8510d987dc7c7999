package graft

import graft.operators.Similarity

/** ANN quality gate: an ANN path that is never measured for
  * recall is not an ANN feature. Recall@k here = |ann-top-k ∩ exact-top-k| /
  * |exact-top-k| summed over all queries, with sim_topk_bruteforce as ground
  * truth on the same data.
  */
class SimilaritySpec extends SparkSpec {

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private lazy val exact = pairs(Similarity.topkBruteforce(spark, sf))

  private def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
    val got = pairs(df)
    (got & exact).size.toDouble / exact.size
  }

  test("sim_ann_lsh recall@5 vs bruteforce meets the floor") {
    val r = recallOf(Similarity.annLsh(spark, sf))
    info(f"LSH recall@${Similarity.TopK} = $r%.3f")
    assert(r >= 0.6, s"LSH recall $r below floor")
  }

  test("sim_ann_ivf recall@5 vs bruteforce meets the floor") {
    val r = recallOf(Similarity.annIvf(spark, sf))
    info(f"IVF recall@${Similarity.TopK} = $r%.3f")
    assert(r >= 0.6, s"IVF recall $r below floor")
  }

  test("sim_ann_pq recall@5 vs exact grid L2 meets the floor and codes are complete") {
    import org.apache.spark.sql.functions._
    // Ground truth for the L2-ranked PQ path: EXACT squared distance on the
    // same 1/1024 integer grid PQ quantizes to — pure integer math.
    val q = graft.sources.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), v => floor(v.cast("double") * 1024 + 0.5).cast("long")).as("qemb"))
    val exactL2 = q.as("a").join(q.filter(col("vec_id") < Similarity.NumQueries).as("b"),
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("b.vec_id").as("query_id"), col("a.vec_id").as("neighbor_id"),
        aggregate(zip_with(col("a.qemb"), col("b.qemb"), (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, v) => acc + v).as("d2"))
      .withColumn("rank", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("d2").asc, col("neighbor_id").asc)))
      .filter(col("rank") <= Similarity.TopK)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.annPq(spark, sf)
    val got = pairs(pq)
    val r = (got & exactL2).size.toDouble / exactL2.size
    info(f"PQ recall@${Similarity.TopK} = $r%.3f")
    assert(r >= 0.4, s"PQ recall $r below floor")
    // every query scores every other vector through all 16 subspace codes
    val n = graft.sources.Tables.load(spark, sf, "embeddings").count()
    val perQuery = pq.groupBy("query_id").count().agg(min("count")).collect().head.getLong(0)
    assert(perQuery == Similarity.TopK, "PQ scan must rank a full top-k per query")
    assert(got.size == Similarity.NumQueries * Similarity.TopK && n > 0)
  }

  test("sim_ann_ivfpq composes list pruning with ADC: recall floor, distance parity with PQ") {
    import org.apache.spark.sql.functions._
    def distMap(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
      df.select("query_id", "neighbor_id", "dist2_pq").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivfpq = distMap(Similarity.annIvfPq(spark, sf))
    // full top-k per query: probed lists hold far more than TopK vectors
    assert(ivfpq.size == Similarity.NumQueries * Similarity.TopK,
      s"expected a full top-k per query, got ${ivfpq.size} pairs")
    // ADC parity: any pair both paths rank carries the IDENTICAL compressed
    // distance — the composition changes the candidate set, never the metric
    val pq = distMap(Similarity.annPq(spark, sf))
    val common = ivfpq.keySet & pq.keySet
    assert(common.nonEmpty, "IVF-PQ and PQ top-k sets are disjoint — pruning is broken")
    common.foreach { k =>
      assert(ivfpq(k) == pq(k), s"ADC distance diverges for $k: ${ivfpq(k)} vs ${pq(k)}")
    }
    // recall vs the full compressed scan: list pruning may only cost recall
    // bounded by the probe fraction; floor set well under observed
    val overlap = common.size.toDouble / pq.size
    info(f"IVF-PQ overlap with full PQ scan top-k = $overlap%.3f")
    assert(overlap >= 0.3, s"IVF-PQ overlap $overlap below floor")
  }

  test("sim_ann_ivfpq_rerank rescoring draws only from the ADC shortlist and never loses recall") {
    import org.apache.spark.sql.functions._
    val rr = Similarity.annIvfPqRerank(spark, sf)
    val rrRows = rr.collect()
    // full top-k per query, ranks dense 1..k ordered by exact cosine
    assert(rrRows.length == Similarity.NumQueries * Similarity.TopK,
      s"expected a full top-k per query, got ${rrRows.length}")
    rrRows.groupBy(_.getLong(0)).values.foreach { qs =>
      val byRank = qs.sortBy(_.getInt(3))
      assert(byRank.map(_.getInt(3)).toSeq == (1 to Similarity.TopK),
        "ranks must be dense 1..k")
      val coss = byRank.map(_.getDouble(2))
      assert(coss.zip(coss.tail).forall { case (a, b) => a >= b },
        "rerank order must be exact-cosine descending")
    }
    // candidates come ONLY from the ADC top-R shortlist
    val shortlist = graft.plans.TopKPerKey.topKPerKey(
      Similarity.ivfPqScored(spark, sf), Seq("query_id"),
      Seq(col("dist2_pq").asc, col("neighbor_id").asc), Similarity.RerankR)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rrPairs = pairs(rr)
    assert(rrPairs.subsetOf(shortlist),
      "rerank may only rescore the ADC shortlist, never read other vectors")
    // exact rescoring can only surface MORE of the true top-k than ranking
    // on the compressed distance did (truth members in the shortlist always
    // win an exact-cosine ranking)
    val rAdc = recallOf(Similarity.annIvfPq(spark, sf))
    val rRr = recallOf(rr)
    info(f"IVF-PQ recall@${Similarity.TopK} = $rAdc%.3f, +rerank = $rRr%.3f")
    assert(rRr >= rAdc, s"rerank recall $rRr fell below the ADC ranking's $rAdc")
  }

  test("knn graph plans the custom TopKPerKey operator, bounds degree, and overlaps exact top-3") {
    import org.apache.spark.sql.functions._
    val g = Similarity.knnGraph(spark, sf)
    // the BUILD ranks through the custom operator; the gated entry is a
    // registry-served artifact read (r16), so the plan contract pins the
    // inline trainer
    assert(graft.operators.AnnModels.knnGraph.build(spark, sf)
        .queryExecution.executedPlan.toString.contains("TopKPerKey"),
      "knn graph build must rank through the custom physical operator")
    val maxDeg = g.groupBy("src").count().agg(max("count")).collect().head.getLong(0)
    assert(maxDeg <= Similarity.GraphK)
    // graph edges for the query vectors vs their exact top-3: LSH-bucketed
    // approximation, so partial overlap — assert a floor
    val graphEdges = g.filter(col("src") < Similarity.NumQueries)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact3 = Similarity.topkBruteforce(spark, sf)
      .filter(col("rank") <= Similarity.GraphK)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (graphEdges & exact3).size.toDouble / exact3.size
    info(f"knn-graph top-3 recall = $recall%.3f")
    assert(recall >= 0.5, s"knn graph recall $recall below floor")
  }

  test("knnGraph auto-sizing: shipped scales keep the (8, 5) geometry; big corpora grow planes") {
    import graft.operators.Similarity.graphSizing
    // every shipped test scale (500 / 2000 vectors) lands on the legacy
    // constants — the gated result is unchanged by the auto-sizing
    assert(graphSizing(500) == ((8, 5)) && graphSizing(2000) == ((8, 5)))
    // the rule kicks in once expected bucket population passes the
    // sizing target (64 — deliberately below the salt cap, r15)
    assert(graphSizing(6145)._2 == 7, s"got ${graphSizing(6145)}")
    assert(graphSizing(200000) == ((5, 12)), s"got ${graphSizing(200000)}")
    // monotone planes, signature budget respected everywhere
    var prev = 0
    for (e <- 8 to 40) {
      val (t, p) = graphSizing(1L << e)
      assert(p >= prev && t * p <= 64, s"n=2^$e -> ($t, $p)")
      prev = p
    }
  }

  test("knnGraph applies the sizing on an above-threshold generated corpus") {
    // 6500 vectors > GraphSizeTarget * 2^5: auto-sizing must pick 7
    // planes. The auto path must equal the explicitly-sized call —
    // proving the gated entry applies the rule, not the fixed constants.
    val dir = java.nio.file.Files.createTempDirectory("graft_knn_auto").toString
    graft.Scale.genEmbeddings(spark, 6500, dir)
    val (tables, planes) = graft.operators.Similarity.graphSizing(6500)
    assert(planes == 7 && tables == 8)
    def edges(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val auto = edges(Similarity.knnGraph(spark, dir))
    val explicit = edges(Similarity.knnGraphTuned(spark, dir, 8, 7,
      Similarity.GraphBucketCap))
    assert(auto == explicit, "auto-sized graph diverges from the explicitly sized one")
    val fixedConstants = Similarity.knnGraphTuned(spark, dir, 8, 5,
      Similarity.GraphBucketCap)
    assert(auto != edges(fixedConstants),
      "auto path produced the fixed-constant graph — sizing did not kick in")
  }

  test("IVF auto-sizing: shipped scales keep K=8; big corpora grow the list count") {
    import Similarity.ivfSizing
    // every shipped test scale (500 / 2000 vectors) lands on the legacy
    // K=8 floor — the gated results are unchanged by the auto-sizing
    assert(ivfSizing(500) == 8 && ivfSizing(2000) == 8 && ivfSizing(2048) == 8)
    // the rule kicks in one vector past the floor threshold
    assert(ivfSizing(2049) == 9, s"got ${ivfSizing(2049)}")
    // the x100 scale-harness corpus and a production-ish count
    assert(ivfSizing(50000) == 40 && ivfSizing(500000) == 125)
    // monotone and Θ(√N): K never shrinks, and K² stays within N so the
    // centroid table a query scans never outgrows an inverted list
    var prev = 0
    for (e <- 8 to 40) {
      val k = ivfSizing(1L << e)
      assert(k >= prev && k.toLong * k <= math.max(1L << e, 64L), s"n=2^$e -> K=$k")
      prev = k
    }
  }

  test("annIvf applies the sizing on an above-threshold generated corpus") {
    // 3200 vectors → K = ceil(√(3200/32)) = 10: the registry must train
    // the GROWN geometry — the served centroids equal an explicitly
    // K=10-sized training run, proving the gated entry applies the rule
    // rather than the fixed floor constant.
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_auto").toString
    graft.Scale.genEmbeddings(spark, 3200, dir)
    assert(Similarity.ivfK(spark, dir) == 10)
    val cents = graft.operators.AnnModels.ivfCentroids(spark, dir)
      .select("cent_id").collect().map(_.getInt(0)).toSet
    assert(cents.size > 8 && cents.subsetOf((0 until 10).toSet),
      s"trained geometry $cents is not the grown K=10 one")
    def centRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    val explicit = Similarity.trainIvfCentroids(spark, dir,
      Similarity.KMeansIters, Similarity.TrainMod, 10)
    assert(centRows(graft.operators.AnnModels.ivfCentroids(spark, dir)
      .select("cent_id", "cent_emb")) == centRows(explicit),
      "auto-sized IVF centroids diverge from the explicitly K=10-trained ones")
    assert(pairs(Similarity.annIvf(spark, dir)).nonEmpty)
  }

  test("prototype pruning keeps the hard (low-ccos) fraction per cluster, quota met exactly") {
    import org.apache.spark.sql.functions._
    val kept = Similarity.prototypePrune(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(kept.nonEmpty)
    // recompute every member's assignment independently of the pruning
    // path (inline trainer, not the served artifact the pruner reads)
    val all = graft.operators.AnnModels.ivfAssign.build(spark, sf)
      .select(col("vec_id"), col("cent_id"), floor(col("ccos") * 1e4 + 0.5).cast("long"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val keptByC = kept.groupBy(_._2)
    all.groupBy(_._2).foreach { case (c, members) =>
      val k = keptByC.getOrElse(c, Array.empty[(Long, Int, Long)])
      val n = members.length
      val quota = (7 * n + 9) / 10
      assert(k.length >= quota, s"cluster $c kept ${k.length} < quota $quota of $n")
      // kept set = everything at-or-below the threshold bin: every kept
      // cc4 must be <= every dropped cc4 (the hard examples survive)
      val keptIds = k.map(_._1).toSet
      val dropped = members.filterNot(m => keptIds.contains(m._1))
      if (dropped.nonEmpty && k.nonEmpty)
        assert(k.map(_._3).max <= dropped.map(_._3).min,
          s"cluster $c kept a more prototypical member than one it dropped")
      // bounded overshoot: only threshold-bin ties may exceed the quota
      val thr = k.map(_._3).max
      val belowThr = members.count(_._3 < thr)
      assert(belowThr < quota, s"cluster $c threshold bin sits above the quota point")
    }
  }

  test("trained IVF centroids do not lose recall vs the untrained init") {
    // iters = 0: the untrained init (the first K sample vectors on the
    // 1/1024 grid), scored through the same probe-and-rank seam
    val cent0 = Similarity.trainIvfCentroids(spark, sf, 0,
      Similarity.TrainMod, Similarity.ivfK(spark, sf)).localCheckpoint()
    val asn0 = Similarity.ivfAssignWith(
      graft.sources.Tables.load(spark, sf, "embeddings"), cent0)
    val untrained = recallOf(Similarity.annIvfWith(spark, sf, cent0, asn0))
    val trained = recallOf(Similarity.annIvf(spark, sf))
    info(f"IVF recall@5: untrained=$untrained%.3f trained=$trained%.3f")
    assert(trained >= untrained,
      s"training regressed recall: $trained < $untrained")
  }

  test("recall audit equals a driver-side recount of the two gated rankings") {
    import org.apache.spark.sql.functions.col
    val exact = Similarity.topkBruteforce(spark, sf)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ann = Similarity.annLsh(spark, sf)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val audit = Similarity.annRecall(spark, sf).collect()
    assert(audit.nonEmpty)
    val exByQ = exact.groupBy(_._1)
    audit.foreach { r =>
      val (q, nHit, nTrue) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val ex = exByQ(q)
      assert(nTrue == ex.length, s"query $q: n_true mismatch")
      val recount = ex.count(ann.contains)
      assert(nHit == recount, s"query $q: n_hit $nHit != recount $recount")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
  }
}
