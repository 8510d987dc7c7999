package graft

import graft.operators.Dedup

class DedupSpec extends SparkSpec {

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** JVM mirror of graft.functions.hash52 % groups — the salting rule every
    * candidate path shares, recomputed independently of Spark. */
  private def salt52(v: Long, groups: Long): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(v.toString.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.substring(0, 13), 16) % groups
  }

  test("capped LSH with a generous cap equals the exact candidate set") {
    assert(pairs(Dedup.minhashLshCapped(spark, sf, 100000)) ==
      pairs(Dedup.minhashLsh(spark, sf)))
  }

  test("salted LSH with a tight cap is a subset of the exact candidate set") {
    val salted = pairs(Dedup.minhashLshCapped(spark, sf, 2))
    val full = pairs(Dedup.minhashLshCapped(spark, sf, 100000))
    assert(salted.subsetOf(full))
  }

  test("degenerate corpus: the DEFAULT gated path salts the dense bucket into bounded groups") {
    // 500 identical docs agree on every minhash band -> one bucket of 500.
    // Uncapped that expands to 500*499/2 pairs on a single task; the gated
    // default (cap 64) salts the bucket into ceil(500/64) = 8 md5-hash
    // groups, retaining exactly the within-group pairs — near-dup-dense
    // regions keep candidates instead of vanishing (the round-2 drop
    // policy returned ZERO pairs here).
    val dir = java.nio.file.Files.createTempDirectory("graft_degen").toString
    val s = spark
    import s.implicits._
    (0L until 500L).map(i => (i, "src0", "the same boilerplate text repeated verbatim"))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(pairs(Dedup.minhashLshCapped(spark, dir, 1000)).size == 500 * 499 / 2)
    val salted = pairs(Dedup.minhashLsh(spark, dir))
    val groups = ((500 + Dedup.MaxBucket - 1) / Dedup.MaxBucket).toLong
    val expected = (for {
      a <- 0L until 500L; b <- a + 1 until 500L; if salt52(a, groups) == salt52(b, groups)
    } yield (a, b)).toSet
    assert(salted == expected,
      s"salting must retain exactly the within-salt-group pairs (got ${salted.size}, want ${expected.size})")
  }

  test("strided doc_ids cannot collapse the salt: dense bucket keeps pairs") {
    // 500 identical docs whose ids all share residue 0 mod 8 — under the
    // old id-mod salting (divisor ceil(500/64) = 8) every doc landed in
    // salt group 0, the group blew past the 2x cap, and the census dropped
    // it: ZERO candidate pairs for exactly the densest near-dup region.
    // hash52 salting is blind to the id layout, so the bucket still splits
    // into bounded groups and every doc keeps in-group partners.
    val dir = java.nio.file.Files.createTempDirectory("graft_stride").toString
    val s = spark
    import s.implicits._
    val ids = (0L until 500L).map(_ * 8)
    ids.map(i => (i, "src0", "the same boilerplate text repeated verbatim"))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val salted = pairs(Dedup.minhashLsh(spark, dir))
    val groups = ((500 + Dedup.MaxBucket - 1) / Dedup.MaxBucket).toLong
    val bySalt = ids.groupBy(salt52(_, groups))
    assert(bySalt.values.forall(_.size <= 2 * Dedup.MaxBucket),
      s"hash salt must bound every group: ${bySalt.view.mapValues(_.size).toMap}")
    val expected = (for {
      a <- ids; b <- ids; if a < b && salt52(a, groups) == salt52(b, groups)
    } yield (a, b)).toSet
    assert(salted == expected && salted.nonEmpty,
      s"strided ids must keep within-salt-group pairs (got ${salted.size}, want ${expected.size})")
  }

  test("salted-bucket policy: ceil(n/cap) hash groups, one pair set for both forms, 2x cap net, uncapped at Int.MaxValue") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val cap = 4
    // bucket 1: 3*cap+1 distinct ids (dense); bucket 2: 3 ids (under the
    // cap); bucket 3: one id repeated 3*cap+1 times — a single-hash
    // pile-up no salt can spread, so only the 2x-cap net bounds it
    val dense = (100L until 113L).map(i => (1, i))
    val sparse = (200L until 203L).map(i => (2, i))
    val pile = Seq.fill(3 * cap + 1)((3, 300L))
    val df = (dense ++ sparse ++ pile).toDF("k", "id")
    val groups = ((dense.size + cap - 1) / cap).toLong // also the pile-up's

    val (salted, census) = Dedup.saltedBuckets(df, Seq("k"), "id", cap)
    assert(census.collect().map(r => (r.getInt(0), r.getLong(1))).toSet ==
      Set((1, dense.size.toLong), (3, pile.size.toLong)), "census holds exactly the buckets over cap")
    val saltOf = salted.collect().map(r => (r.getAs[Int]("k"), r.getAs[Long]("id")) -> r.getAs[Long]("salt"))
    saltOf.foreach { case ((k, id), salt) =>
      val want = if (k == 2) 0L else salt52(id, groups)
      assert(salt == want, s"row ($k, $id): salt $salt, want $want")
    }
    assert(saltOf.collect { case ((1, _), salt) => salt }.toSet == (0L until groups).toSet,
      s"the dense bucket must split into ceil(n/cap) = $groups salt groups")

    def pairSet(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val collected = pairSet(Dedup.bucketPairs(df, Seq("k"), "id", struct(col("k"), col("id")), cap)
      .select(col("p.a.k"), col("p.a.id"), col("p.b.id")))
    val (bounded, _) = Dedup.boundedBuckets(df, Seq("k"), "id", cap)
    val joined = pairSet(bounded.as("a").join(bounded.as("b"), col("a.k") === col("b.k") &&
        col("a.salt") === col("b.salt") && col("a.id") < col("b.id"))
      .select(col("a.k"), col("a.id"), col("b.id")))
    assert(collected == joined, "collect-and-pair and bounded self-join must give one pair set")
    val expected = (for {
      (k, a) <- dense ++ sparse; (k2, b) <- dense ++ sparse
      if k == k2 && a < b && (k == 2 || salt52(a, groups) == salt52(b, groups))
    } yield (k, a, b)).toSet
    assert(collected == expected, "pairs are exactly the within-salt-group pairs")
    assert(!bounded.collect().exists(_.getAs[Int]("k") == 3),
      "a salt group over 2x cap is dropped")

    val (uncapped, noCensus) = Dedup.saltedBuckets(df, Seq("k"), "id", Int.MaxValue)
    assert(noCensus.isEmpty && uncapped.collect().forall(_.getAs[Long]("salt") == 0L),
      "Int.MaxValue must not salt")
    val n = dense.size * (dense.size - 1) / 2 + 3 + pile.size * (pile.size - 1) / 2
    assert(Dedup.bucketPairs(df, Seq("k"), "id", col("id"), Int.MaxValue).count() == n,
      "Int.MaxValue must keep every bucket whole (a 2x-cap Int bound would overflow)")
  }

  test("semantic dedup conserves vectors and only ever merges within a learned cluster") {
    val survivors = Dedup.semanticDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val e = graft.sources.Tables.load(spark, sf, "embeddings")
    val total = e.count()
    assert(survivors.values.sum == total, "every vector must be represented exactly once")
    assert(survivors.values.forall(_ >= 1L))
    assert(survivors.size <= total)
    // canonical = min id of its group, so every survivor id is a real vector
    val ids = e.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(survivors.keySet.subsetOf(ids))
  }

  test("substring dedup flags exactly the cross-doc repeated windows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_substr").toString
    val s = spark
    import s.implicits._
    // docs 1 and 2 share the 5-word passage "p q r s t" at different
    // offsets; doc 3 is disjoint; doc 4 repeats a window IN-DOC only
    // (in-doc repetition is text_repetition's signal, not cross-doc dedup's
    // — but a cross-doc window counts every instance, spec'd via doc 5).
    Seq(
      (1L, "src0", "p q r s t u v w"),
      (2L, "src0", "x y z p q r s t"),
      (3L, "src0", "a b c d e f g"),
      (4L, "src0", "m n o he he m n o he he"),
      (5L, "src0", "p q r s t p q r s t"))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.substringDup(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((4L, 1L, 0.25)), s"doc1: ${got(1L)}")
    assert(got(2L) == ((4L, 1L, 0.25)), s"doc2: ${got(2L)}")
    assert(got(3L) == ((3L, 0L, 0.0)), "disjoint doc must not flag")
    assert(got(4L)._2 == 0L, "in-doc-only repeats are not cross-doc duplicates")
    // doc 5 holds "p q r s t" twice -> BOTH instances count as duplicated,
    // plus it shares that window with docs 1/2.
    assert(got(5L)._1 == 6L && got(5L)._2 == 2L, s"doc5: ${got(5L)}")
  }

  test("banded LSH (AND-amplification) candidates are a subset of the UNCAPPED r=1 candidates") {
    // Uncapped on the r=1 side: each path caps its own bucket granularity,
    // so the CAPPED sets are not nested (an (h1,h2) bucket can stay under
    // the cap while both single-hash buckets blow past it).
    val banded = pairs(Dedup.minhashLshBanded(spark, sf))
    val r1 = pairs(Dedup.minhashLshCapped(spark, sf, Int.MaxValue))
    assert(banded.nonEmpty, "banded LSH found no candidates on the test corpus")
    assert(banded.subsetOf(r1),
      "a pair matching BOTH rows of a band must match each row's uncapped r=1 bucket")
  }

  test("simhash block pigeonhole finds EXACTLY the brute-force hamming<=2 pairs (uncapped)") {
    import org.apache.spark.sql.functions._
    val simhashed = Dedup.simhashed(spark, sf)
    val census = Dedup.degenOf(Dedup.degenCensusOf(simhashed))
    val got = Dedup.hammingPairs(simhashed, census, Int.MaxValue)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val h = Dedup.simhash(spark, sf)
    val brute = h.as("a").join(h.as("b"), col("a.doc_id") < col("b.doc_id"))
      .filter(expr("bit_count(a.simhash ^ b.simhash) <= 2"))
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute,
      s"pigeonhole missed ${(brute -- got).size} / extra ${(got -- brute).size} pairs")
  }

  test("degenerate-block mask: clean-block pairs kept exactly, lottery candidates dropped, all-degenerate corpora fall back") {
    import org.apache.spark.sql.functions._
    val sp = spark
    import sp.implicits._
    def cands(df: org.apache.spark.sql.DataFrame, mask: Boolean): Set[(Long, Long)] =
      Dedup.hammingCandidates(df,
        if (mask) Dedup.degenOf(Dedup.degenCensusOf(df)) else Nil)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // crafted: every doc's b1/b2 blocks are 0 (both buckets hold the whole
    // corpus → degenerate at DegenShare=4), b0 carries content — docs 2k
    // and 2k+1 share b0 value k. The masked candidates must be EXACTLY
    // the clean-b0-bucket pairs; unmasked adds the salt-capped clique
    // lottery from the two saturated blocks.
    val crafted = (0 until 120).map(i => (i.toLong, (i / 2).toLong)).toDF("doc_id", "h")
    val truePairs = (0 until 60).map(k => (2L * k, 2L * k + 1)).toSet
    val m = cands(crafted, mask = true)
    val u = cands(crafted, mask = false)
    assert(m == truePairs, s"masked candidates must be exactly the clean-bucket pairs: ${m.size}")
    assert(truePairs.subsetOf(u) && u.size > 10 * m.size,
      s"unmasked must add the degenerate lottery on top: ${u.size} vs ${m.size}")
    // all-degenerate corpus (every block of every doc saturated): the
    // per-doc fallback keeps the rows — the mask never empties a doc
    val allSame = (0 until 100).map(i => (i.toLong, 5L)).toDF("doc_id", "h")
    assert(cands(allSame, mask = true) == cands(allSame, mask = false) &&
      cands(allSame, mask = true).nonEmpty,
      "an all-degenerate corpus must fall back to the salted buckets unchanged")
    // shipped corpus: simhash and phash have NO degenerate buckets (every
    // bucket far under the DegenShare bar), so the gated outputs are
    // unchanged by construction
    val sh = Dedup.simhash(spark, sf).select(col("doc_id"), col("simhash").as("h"))
    assert(cands(sh, mask = true) == cands(sh, mask = false),
      "simhash candidates must be untouched by the mask on the shipped corpus")
    val ph = graft.operators.Multimodal.phash(spark, sf)
      .select(col("doc_id"), col("phash").as("h"))
    assert(cands(ph, mask = true) == cands(ph, mask = false),
      "phash candidates must be untouched by the mask on the shipped corpus")
    // audio (saturated upper windows): masked candidates are a strict,
    // much smaller subset — the clean-block (content) paths survive
    val af = graft.operators.Multimodal.audioFingerprint(spark, sf)
      .select(col("doc_id"), col("afp").as("h")).localCheckpoint()
    val am = cands(af, mask = true)
    val au = cands(af, mask = false)
    assert(am.subsetOf(au) && am.nonEmpty && am.size < au.size,
      s"audio masked candidates must be a strict non-empty subset: ${am.size} vs ${au.size}")
  }

  test("verified minhash pairs are candidates with independently recomputed exact jaccard") {
    import org.apache.spark.sql.functions._
    val ver = Dedup.minhashVerified(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(ver.nonEmpty, "no verified near-dup pairs on the test corpus")
    assert(ver.keySet.subsetOf(pairs(Dedup.minhashLsh(spark, sf))),
      "verified pairs must come from the LSH candidate set")
    val sets = graft.sources.Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        graft.functions.ShingleExpressions.shingles(col("text"), Dedup.ShingleN).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    ver.foreach { case ((a, b), j) =>
      val (sa, sb) = (sets(a), sets(b))
      val inter = (sa & sb).size.toDouble
      val expect = math.round(inter / (sa.size + sb.size - inter) * 1e4) / 1e4
      assert(j >= Dedup.JaccardThreshold && math.abs(j - expect) < 1e-9,
        s"pair ($a,$b): got $j want $expect")
    }
  }

  test("containment flags the subset-duplication pair that Jaccard is blind to") {
    // doc 2 is doc 1's 10-word span quoted whole inside 72 extra words:
    // containment = 1.0 (every shingle of the small doc is shared) while
    // jaccard = 8/78 ≈ 0.10 sits under the 0.2 gate. doc 3 is unrelated.
    val dir = java.nio.file.Files.createTempDirectory("graft_contain").toString
    val s = spark
    import s.implicits._
    val span = (0 until 10).map(i => s"quoted$i").mkString(" ")
    val long = ((0 until 36).map(i => s"pre$i") ++ Seq(span) ++
      (0 until 36).map(i => s"post$i")).mkString(" ")
    Seq((1L, "src0", span), (2L, "src0", long),
        (3L, "src0", (0 until 20).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cont = Dedup.containment(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cont == Map((1L, 2L) -> 1.0),
      s"containment must flag exactly the planted subset pair: $cont")
    val jac = pairs(Dedup.ngramJaccard(spark, dir))
    assert(!jac.contains((1L, 2L)),
      "the planted pair must sit BELOW the symmetric jaccard gate — " +
        "otherwise this spec no longer demonstrates the asymmetric rule")
  }

  test("degenerate embedding corpus: a dense label salts into bounded md5-hash groups") {
    // 600 identical vectors under ONE label: unsalted, that block is a
    // 600*599/2-pair quadratic wherever the label lands. The gated path
    // salts it into ceil(600/LabelCap) = 3 md5-hash (hash52) groups and
    // keeps exactly the within-group pairs (cos = 1.0 for all of them).
    // Sequential 0..599 ids are exactly the strided layout that would
    // collapse a raw id-mod salt if the stride matched the divisor.
    val dir = java.nio.file.Files.createTempDirectory("graft_embdegen").toString
    val s = spark
    import s.implicits._
    val emb = Seq.fill(64)(0.5f)
    (0L until 600L).map(i => (i, emb, 0)).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = pairs(Dedup.embeddingNearDup(spark, dir))
    val groups = (600 + Dedup.LabelCap - 1) / Dedup.LabelCap
    assert(groups == 3)
    def salt(v: Long): Long = salt52(v, groups)
    val bySalt = (0L until 600L).groupBy(salt)
    assert(bySalt.size == groups && bySalt.values.forall(_.size <= 2 * Dedup.LabelCap),
      s"hash salt must spread the label into $groups bounded groups: ${bySalt.view.mapValues(_.size).toMap}")
    val expected = (for {
      a <- 0L until 600L; b <- a + 1 until 600L; if salt(a) == salt(b)
    } yield (a, b)).toSet
    assert(got == expected,
      s"embedding salting must keep exactly the within-salt-group pairs (got ${got.size}, want ${expected.size})")
  }

  test("degenerate corpus collapses to a single survivor despite salting") {
    // Identical docs split across salt groups are not LSH pairs, but the
    // exact-hash star edges reconnect them: 500 verbatim copies -> one
    // surviving doc representing all 500.
    val dir = java.nio.file.Files.createTempDirectory("graft_surv").toString
    val s = spark
    import s.implicits._
    (0L until 500L).map(i => (i, "src0", "the same boilerplate text repeated verbatim"))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Dedup.survivors(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((0L, 500L)), s"expected one survivor (0, 500), got $rows")
  }

  test("survivor representation counts partition the corpus") {
    val total = graft.sources.Tables.load(spark, sf, "documents").count()
    val sums = Dedup.survivors(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("n_repr")).collect().head.getLong(0)
    assert(sums == total, s"survivors represent $sums of $total docs")
  }

  test("cluster ids are canonical: every cluster_id is the min doc_id of its cluster") {
    val rows = Dedup.clusterAssign(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_._1).min == cid, s"cluster $cid min is not the label")
    }
  }

  test("substring removal excises exactly the duplicated windows, merging overlaps") {
    val dir = java.nio.file.Files.createTempDirectory("graft_substr_rm").toString
    val s = spark
    import s.implicits._
    // docs 1/2/4 share "aa bb cc dd ee"; docs 1/4 ALSO share the
    // overlapping "bb cc dd ee ff" -> their two cuts must merge into one
    // contiguous 6-token excision; doc 3 is disjoint and passes through.
    Seq(
      (1L, "src0", "aa bb cc dd ee ff gg hh"),
      (2L, "src0", "xx yy aa bb cc dd ee zz"),
      (3L, "src0", "mm nn oo pp qq rr"),
      (4L, "src0", "aa bb cc dd ee ff qq ww"))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.substringRemove(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(got(1L) == ((8, 6, "gg hh")), s"doc1: ${got(1L)}")
    assert(got(2L) == ((8, 5, "xx yy zz")), s"doc2: ${got(2L)}")
    assert(got(3L) == ((6, 0, "mm nn oo pp qq rr")), "disjoint doc must pass through untouched")
    assert(got(4L) == ((8, 6, "qq ww")), s"doc4 overlapping cuts must merge: ${got(4L)}")
  }

  test("incremental LSH matches a batch against a PERSISTED index: corpus side is scan-only") {
    val dir = java.nio.file.Files.createTempDirectory("graft_inc_lsh").toString
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "a completely different corpus document about tables"),
      (12L, "yet another unrelated line of corpus text here"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"), // near-dup of 10
      (101L, "totally novel words nobody wrote before today"))
      .toDF("doc_id", "text")
    // build the index ONCE, persist it, and match against the parquet copy
    Dedup.lshIndexOf(corpus).write.mode("overwrite").parquet(s"$dir/index")
    val out = Dedup.incrementalLshMatch(batch, spark.read.parquet(s"$dir/index"))
    // scan-only contract: EXACTLY ONE MinHash signature expression in the
    // whole optimized plan (the batch side) — the corpus text is never
    // re-hashed, its signatures stream off the parquet index
    var sigs = 0
    out.queryExecution.optimizedPlan.foreach { node =>
      node.expressions.foreach(_.foreach {
        case _: graft.functions.MinHashSigExpr => sigs += 1
        case _ => ()
      })
    }
    assert(sigs == 1, s"expected ONE signature pass (batch only), found $sigs")
    val got = out.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(got(100L)._1 >= 1L && got(100L)._2 == 0, s"duplicate batch doc must match: ${got(100L)}")
    assert(got(101L) == ((0L, 1)), s"novel batch doc must flag novel: ${got(101L)}")
  }

  test("semantic keep rule: the survivor is its cluster's centroid-nearest member") {
    // Independent JVM-side replay: from the labeling and the assignment's
    // own ccos, the expected keeper per cluster is argmax on
    // (floor(ccos*1e4+0.5), then min vec_id) — exactly the paper's rule.
    val lab = graft.operators.AnnModels.semanticLabels.build(spark, sf)
    val ccos = graft.operators.AnnModels.ivfAssign.build(spark, sf)
      .select("vec_id", "ccos").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expected = lab.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._2).map { case (_, members) =>
        val ids = members.map(_._1)
        val keeper = ids.maxBy(v => (math.floor(ccos(v) * 1e4 + 0.5).toLong, -v))
        keeper -> ids.length.toLong
      }
    val got = Dedup.semanticDedupKeep(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected, s"keep rule diverged on ${got.size} clusters")
    // and the grouping itself matches the min-id variant's sizes
    val sizesA = got.values.toSeq.sorted
    val sizesB = Dedup.semanticDedup(spark, sf).collect().map(_.getLong(1)).toSeq.sorted
    assert(sizesA == sizesB, "keep variant changed the duplicate-group structure")
  }

  test("lsh recall audit: identical pairs land in the top band at total recall") {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_lshrec").toString
    // ten identical pairs over disjoint vocabularies (jaccard 1.0 -> band
    // 9, and identical docs share every minhash so the candidate generator
    // CANNOT miss them) + ten unrelated docs (no shared shingles -> no
    // truth pairs at all)
    val rows =
      (0 until 10).flatMap { i =>
        val text = s"pair$i alpha$i beta$i gamma$i delta$i epsilon$i zeta$i"
        Seq((i.toLong, text), (i.toLong + 100L, text))
      } ++ (0 until 10).map { i =>
        (i.toLong + 200L, s"solo$i uniq$i${i} only$i$i words$i here$i now$i")
      }
    rows.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.lshRecall(spark, dir).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == Set(9), s"only the identical pairs may share shingles: $got")
    val (nPairs, nHit, ppm) = got(9)
    assert(nPairs == 10L, s"expected the 10 planted pairs, got $nPairs")
    assert(nHit == 10L && ppm == 1000000L,
      s"identical pairs must be recalled totally: hit=$nHit ppm=$ppm")
  }

  test("banded recall shows AND-amplification: suppressed mid-band, same truth") {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_lshrec2").toString
    // 50 pairs at jaccard 1/3 (4 shared of 12 total shingles), disjoint
    // vocab between pairs: r=1 catches ~1-(2/3)^8 = 96% of them, r=2 only
    // ~1-(1-1/9)^4 = 38% — the S-curve's mid-band is exactly where
    // AND-amplification bites
    val rows = (0 until 50).flatMap { i =>
      val shared = (0 until 6).map(j => s"p${i}w$j").mkString(" ")
      Seq((i.toLong, s"$shared p${i}t0 p${i}t1 p${i}t2 p${i}t3"),
        (i.toLong + 100L, s"$shared q${i}t0 q${i}t1 q${i}t2 q${i}t3"))
    }
    rows.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def byBand(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val flat = byBand(Dedup.lshRecall(spark, dir))
    val banded = byBand(Dedup.lshRecallBanded(spark, dir))
    assert(flat.view.mapValues(_._1).toMap == banded.view.mapValues(_._1).toMap,
      "the ground truth must be identical across generators")
    val band = (4 * Dedup.RecallBands) / 12 // jaccard 1/3 decile
    assert(flat(band)._1 == 50L, s"expected the 50 planted pairs in band $band: $flat")
    assert(banded(band)._2 < flat(band)._2,
      s"r=2 banding must suppress mid-band recall: banded=${banded(band)._2} flat=${flat(band)._2}")
    assert(flat(band)._2 > 40L, s"r=1 should catch most mid-band pairs: ${flat(band)._2}")
    assert(banded(band)._2 > 0L, "banding should still surface some mid-band pairs")
  }

  test("maximal-span audit: covered tokens equal the removal's union, " +
      "abutting windows merge into one span") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    // the union-coverage identity on the shipped corpus: what the spans
    // report as covered is exactly what substringRemove excises
    val spans = Dedup.substringSpans(spark, sf)
      .select("doc_id", "covered_tokens").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val removed = Dedup.substringRemove(spark, sf)
      .select("doc_id", "n_removed").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(spans == removed, "span coverage diverges from the removal union")
    assert(spans.values.exists(_ > 0), "the shipped corpus must exercise spans")
    // crafted: two duplicated 5-gram windows whose coverage abuts (starts
    // 1 and 6 -> [1,5]+[6,10]) merge into ONE 10-token span; a far window
    // (start 13 -> [13,17]) stays its own span
    val dir = java.nio.file.Files.createTempDirectory("graft_spans").toString
    val shared1 = "a b c d e"
    val shared2 = "f g h i j"
    val shared3 = "x y z w v"
    val doc0 = s"$shared1 $shared2 q r $shared3"  // 17 tokens
    Seq(
      (0L, "src1", doc0),
      (1L, "src2", s"$shared1 k1 k2 k3 k4 k5"),
      (2L, "src2", s"$shared2 m1 m2 m3 m4 m5"),
      (3L, "src2", s"$shared3 n1 n2 n3 n4 n5"))
      .toDF("doc_id", "source", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = Dedup.substringSpans(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(2), r.getInt(3), r.getInt(4)))).toMap
    assert(got(0L) == ((2, 10, 15)),
      s"doc0 must merge the abutting windows into one 10-token span: ${got(0L)}")
    assert(got(1L) == ((1, 5, 5)) && got(3L) == ((1, 5, 5)),
      s"single shared window docs must report one 5-token span: ${got(1L)}, ${got(3L)}")
  }

  test("thresholded span removal: short duplicated windows survive, long spans are excised") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    // crafted: doc0 shares a SHORT 5-token window (below MinSpanLen=10)
    // with doc1 and a LONG 10-token run (a merged span of six overlapping
    // windows, at the bar) with doc2 — the unthresholded removal excises
    // both, the thresholded one must keep the short window and cut the span
    val short5 = "a b c d e"
    val long10 = "p q r s t u v w x y"
    val dir = java.nio.file.Files.createTempDirectory("graft_rm_spans").toString
    Seq(
      (0L, "src1", s"$short5 z1 z2 $long10 z3"), // 18 tokens
      (1L, "src2", s"$short5 k1 k2 k3 k4 k5"),
      (2L, "src2", s"$long10 m1 m2 m3"),
      (3L, "src2", "n1 n2 n3 n4 n5 n6"))
      .toDF("doc_id", "source", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = Dedup.substringRemoveSpans(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(got(0L) == ((18, 10, "a b c d e z1 z2 z3")),
      s"doc0 must keep the short window and excise the 10-token span: ${got(0L)}")
    assert(got(1L) == ((10, 0, s"$short5 k1 k2 k3 k4 k5")),
      s"doc1's only duplication is below the bar — must pass through: ${got(1L)}")
    assert(got(2L) == ((13, 10, "m1 m2 m3")), s"doc2: ${got(2L)}")
    assert(got(3L) == ((6, 0, "n1 n2 n3 n4 n5 n6")),
      s"disjoint doc must pass through untouched: ${got(3L)}")
    // the unthresholded removal takes the short window too
    val rmAll = Dedup.substringRemove(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(rmAll(0L) == 15 && rmAll(1L) == 5,
      s"unthresholded removal must excise the short window as well: $rmAll")
    // shipped-corpus identities: removal == the qualifying-span union per
    // doc, never exceeds the unthresholded removal, and the threshold
    // BITES (some doc keeps tokens the unthresholded removal takes)
    val qualSum = Dedup.dupSpans(spark, sf)
      .filter(col("sp_end") - col("sp_start") + 1 >= Dedup.MinSpanLen)
      .groupBy("doc_id")
      .agg(sum(col("sp_end") - col("sp_start") + 1).as("q")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rmSp = Dedup.substringRemoveSpans(spark, sf)
      .select("doc_id", "n_removed").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val rm = Dedup.substringRemove(spark, sf)
      .select("doc_id", "n_removed").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    rmSp.foreach { case (d, n) =>
      assert(n == qualSum.getOrElse(d, 0L), s"doc $d: removed $n != qualifying union")
      assert(n <= rm(d), s"doc $d: thresholded removal exceeds the unthresholded one")
    }
    assert(rmSp.exists { case (d, n) => n == 0L && rm(d) > 0L },
      "the shipped corpus must exercise a below-bar survivor")
    assert(rmSp.values.exists(_ > 0L),
      "the shipped corpus must exercise an above-bar excision")
  }

  test("star-contraction CC labels match the propagation reference on adversarial graphs") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    def labels(nodes: Seq[Long], pairs: Seq[(Long, Long)]): (Set[(Long, Long)], Set[(Long, Long)]) = {
      val d = nodes.toDF("doc_id")
      val pr = pairs.toDF("doc_a", "doc_b")
      val star = Dedup.ccLabels(d, pr).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val prop = Dedup.ccLabelsPropagate(d, pr).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (star, prop)
    }
    // deep chain: diameter 300 — the shape that makes per-round full-edge
    // propagation expensive and exercises many star rounds
    val chain = (0L until 300L).map(i => (i, i + 1))
    val (s1, p1) = labels(0L to 300L, chain)
    assert(s1 == p1, "chain labels diverge")
    assert(s1.forall(_._2 == 0L), "a chain is one component rooted at 0")
    // clique (heavy-merge), reverse star (center is the LARGEST id), and
    // two components + isolated nodes, in one graph
    val clique = for (i <- 0L until 40L; j <- (i + 1) until 40L) yield (i, j)
    val revStar = (100L until 140L).map(i => (i, 140L))
    val mixed = clique ++ revStar
    val (s2, p2) = labels((0L until 40L) ++ (100L to 140L) ++ Seq(500L, 501L), mixed)
    assert(s2 == p2, "mixed-graph labels diverge")
    assert(s2.contains((140L, 100L)) && s2.contains((500L, 500L)),
      s"reverse star must root at its min id; isolated nodes self-label")
    // hash-random graph over 400 nodes (duplicate and self pairs included
    // deliberately: the engine must canonicalize them away)
    val rnd = (0 until 600).map { k =>
      val a = (k * 2654435761L) % 400
      val b = (k * 40503L + 7) % 400
      (a, b)
    }
    val (s3, p3) = labels(0L until 400L, rnd)
    assert(s3 == p3, "random-graph labels diverge")
    // the soundness counterexample for the weaker "no node both center and
    // leaf" probe: after one star round these four edges become
    // {(1,5),(2,5),(1,10),(2,11)} — centers {1,2} and leaves {5,10,11} are
    // disjoint, but leaf 5 hangs under TWO centers, so stopping there
    // splits the single component {1,2,5,10,11} into {1,5,10} / {2,11}.
    // The strengthened probe (each leaf exactly once) must keep iterating.
    val torn = Seq((1L, 10L), (5L, 10L), (5L, 11L), (2L, 11L))
    val (s4, p4) = labels(Seq(1L, 2L, 5L, 10L, 11L), torn)
    assert(s4 == p4, "counterexample-graph labels diverge")
    assert(s4 == Set((1L, 1L), (2L, 1L), (5L, 1L), (10L, 1L), (11L, 1L)),
      "the two-center-leaf graph is ONE component rooted at 1")
    // same shape embedded in a larger graph, shifted ids (center ≠ global min)
    val torn2 = torn.map { case (a, b) => (a + 50, b + 50) } ++ Seq((200L, 201L))
    val (s5, p5) = labels(Seq(51L, 52L, 55L, 60L, 61L, 200L, 201L, 300L), torn2)
    assert(s5 == p5, "shifted counterexample labels diverge")
    assert(s5.filter(_._1 <= 61L).forall(_._2 == 51L),
      "shifted two-center-leaf graph must be one component rooted at 51")
    // corpus-level: the gated clusterAssign path itself (LSH pairs)
    val star = Dedup.clusterAssign(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val prop = Dedup.ccLabelsPropagate(
      graft.sources.Tables.load(spark, sf, "documents").select(col("doc_id")),
      Dedup.minhashLsh(spark, sf)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(star == prop, "corpus LSH-pair labels diverge between engines")
  }

  test("weighted jaccard equals an independently recomputed multiset min/max on every candidate pair") {
    import org.apache.spark.sql.functions._
    val rows = Dedup.weightedJaccard(spark, sf).collect()
    assert(rows.nonEmpty, "no LSH candidate pairs on the test corpus")
    val texts = graft.sources.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def counts(t: String): Map[String, Int] = {
      val toks = t.split(" ", -1)
      if (toks.length < Dedup.ShingleN) Map.empty
      else toks.sliding(Dedup.ShingleN).map(_.mkString(" ")).toSeq
        .groupBy(identity).map { case (k, v) => k -> v.size }
    }
    rows.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val (ca, cb) = (counts(texts(a)), counts(texts(b)))
      val smin = ca.keysIterator.map(k => math.min(ca(k), cb.getOrElse(k, 0))).sum.toLong
      val smax = ca.values.sum.toLong + cb.values.sum.toLong - smin
      assert(r.getLong(2) == smin, s"pair ($a,$b): summin ${r.getLong(2)} want $smin")
      val wj = math.floor(smin.toDouble / smax * 1e4 + 0.5) / 1e4
      assert(r.getDouble(3) == wj, s"pair ($a,$b): got ${r.getDouble(3)} want $wj")
    }
  }

  test("weighted jaccard discounts repeated shared content where the distinct-set view saturates") {
    // doc 0 repeats one 4-word paragraph five times; doc 1 is a single
    // copy. Distinct-set Jaccard sees 2 shared types of doc 0's 4 =
    // 0.5 — "near-identical" — while the multiset view matches only one
    // replica of each shared shingle: sum-min 2 of sum-max 18 = 0.1111.
    val dir = java.nio.file.Files.createTempDirectory("graft_wj").toString
    val s = spark
    import s.implicits._
    val p = "alpha beta gamma delta"
    Seq(
      (0L, "src0", Seq.fill(5)(p).mkString(" ")),
      (1L, "src0", p))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(pairs(Dedup.minhashLsh(spark, dir)).contains((0L, 1L)),
      "premise: the replica pair must be an LSH candidate")
    val wj = Dedup.weightedJaccard(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3)))).toMap
    assert(wj((0L, 1L)) == ((2L, 0.1111)),
      s"multiset view must discount the unmatched replicas, got ${wj((0L, 1L))}")
    val setJ = Dedup.minhashVerified(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(setJ((0L, 1L)) == 0.5, "distinct-set view saturates at 0.5")
  }
}
