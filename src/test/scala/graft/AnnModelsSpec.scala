package graft

import org.apache.spark.sql.DataFrame
import graft.operators.{AnnModels, Dedup, Similarity}

/** The persisted-model contract: every registry artifact builds at most
  * ONCE per (dataset, constants) across all consumers, later consumers read
  * the parquet artifact, served relations are bit-identical to their builds
  * (the oracle replays training from scratch, so parity here is what keeps
  * the correctness gate meaningful), and every key covers every constant
  * and artifact its content depends on.
  */
class AnnModelsSpec extends SparkSpec {

  // sorted multiset, not Set: a duplicate-row multiplicity divergence
  // between the artifact and the inline chain must fail parity (ADVICE r16)
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def freshRoot(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-annmodels-$tag")
    d.toFile.deleteOnExit()
    d.toString
  }

  test("all five model consumers share one IVF training pass and one PQ training pass") {
    AnnModels.withRoot(freshRoot("share")) {
      val (i0, p0) = (AnnModels.ivfCentroids.builds, AnnModels.pqCodebook.builds)
      Similarity.annIvf(spark, sf).collect()
      Similarity.annPq(spark, sf).collect()
      Similarity.annIvfPq(spark, sf).collect()
      Dedup.semanticDedup(spark, sf).collect()
      Dedup.semanticDedupKeep(spark, sf).collect()
      assert(AnnModels.ivfCentroids.builds == i0 + 1,
        s"expected ONE IVF training pass across consumers, got ${AnnModels.ivfCentroids.builds - i0}")
      assert(AnnModels.pqCodebook.builds == p0 + 1,
        s"expected ONE PQ training pass across consumers, got ${AnnModels.pqCodebook.builds - p0}")
    }
  }

  test("trigram LM trains once per dataset and artifact scores are bit-identical") {
    AnnModels.withRoot(freshRoot("lm")) {
      val t0 = AnnModels.trigramLm.builds
      val first = rows(graft.operators.TextOps.perplexity(spark, sf))
      assert(AnnModels.trigramLm.builds == t0 + 1, "first access must train the LM")
      // artifact-served run: no retraining, identical scores
      val second = rows(graft.operators.TextOps.perplexity(spark, sf))
      assert(AnnModels.trigramLm.builds == t0 + 1, "second access must serve the artifact")
      assert(second == first, "artifact round-trip changed perplexity scores")
      // inline training (the df-based spec path) agrees exactly
      val inline = rows(graft.operators.TextOps.perplexityOf(
        graft.sources.Tables.load(spark, sf, "documents")))
      assert(first == inline, "artifact diverges from inline LM training")
      // the downstream model consumers share the one trained LM
      graft.operators.TextOps.qualityModel(spark, sf).collect()
      graft.operators.Pipeline.curateModel(spark, sf).collect()
      assert(AnnModels.trigramLm.builds == t0 + 1,
        s"LM consumers retrained: ${AnnModels.trigramLm.builds - t0} passes")
    }
  }

  test("langid centroids train once; artifact-served scoring is bit-identical to inline") {
    AnnModels.withRoot(freshRoot("langid")) {
      val t0 = AnnModels.langidCentroids.builds
      val first = rows(graft.operators.TextOps.langidModel(spark, sf))
      assert(AnnModels.langidCentroids.builds == t0 + 1, "first access must train the centroids")
      val second = rows(graft.operators.TextOps.langidModel(spark, sf))
      assert(AnnModels.langidCentroids.builds == t0 + 1, "second access must serve the artifact")
      assert(second == first, "artifact round-trip changed predictions")
      val inline = rows(graft.operators.TextOps.langidModelOf(
        graft.sources.Tables.load(spark, sf, "documents")))
      assert(first == inline, "artifact-served scoring diverges from inline training")
    }
  }

  test("BPE merge table trains once; the trained table drives the encoder chain") {
    AnnModels.withRoot(freshRoot("bpe")) {
      val t0 = AnnModels.bpeMergeTable.builds
      val first = rows(graft.operators.TextOps.bpeTrainedIds(spark, sf))
      assert(AnnModels.bpeMergeTable.builds == t0 + 1, "first access must train the merge table")
      val second = rows(graft.operators.TextOps.bpeTrainedIds(spark, sf))
      assert(AnnModels.bpeMergeTable.builds == t0 + 1, "second access must serve the artifact")
      assert(second == first, "artifact round-trip changed the id stream")
      assert(rows(AnnModels.bpeMergeTable(spark, sf)) ==
        rows(graft.operators.TextOps.bpeTrain(spark, sf)),
        "persisted merge table diverges from inline training")
      // the trained chain is a REAL tokenizer output: ids per doc, and the
      // trained table differs from the static constant's vocabulary ids
      assert(first.nonEmpty)
    }
  }

  test("quality centroids train once; the trained gate splits the corpus") {
    AnnModels.withRoot(freshRoot("qual")) {
      val t0 = AnnModels.qualityCentroids.builds
      val first = rows(graft.operators.TextOps.qualityTrained(spark, sf))
      assert(AnnModels.qualityCentroids.builds == t0 + 1, "first access must train the centroids")
      val second = rows(graft.operators.TextOps.qualityTrained(spark, sf))
      assert(AnnModels.qualityCentroids.builds == t0 + 1, "second access must serve the artifact")
      assert(second == first, "artifact round-trip changed the gate")
      // non-degenerate on the shipped corpus: the learned hyperplane keeps
      // some and drops some (the >=6-of-7 seed split generalizes)
      val keeps = graft.operators.TextOps.qualityTrained(spark, sf)
        .groupBy("trained_keep").count().collect()
        .map(r => (r.getInt(0), r.getLong(1))).toMap
      assert(keeps.getOrElse(1, 0L) > 0 && keeps.getOrElse(0, 0L) > 0,
        s"trained gate must split the corpus, got $keeps")
    }
  }

  test("single-class seed corpus: trained gate degrades deterministically") {
    val sp = spark
    import sp.implicits._
    // every doc fails r_word_count (too short) -> positive class empty ->
    // keep centroid is the zero vector; the gate must still score every
    // document (margin = -2x.c0 + |c0|^2 compare), not crash or emit null
    val d = Seq((2L, "tiny doc"), (4L, "two words"), (6L, "-"), (7L, "odd id"))
      .toDF("doc_id", "text")
    val cent = graft.operators.TextOps.trainQualityCentroidsOf(
      d, graft.operators.TextOps.perplexityOf(d)).collect()
    assert(cent.map(_.getInt(0)).toSet == Set(0), "only the fail class trains")
    val out = graft.operators.TextOps.qualityTrainedWith(
      graft.operators.TextOps.qualityFeaturesOf(d, graft.operators.TextOps.perplexityOf(d)),
      cent).collect()
    assert(out.length == 4 && out.forall(r => !r.isNullAt(1) && !r.isNullAt(2)))
  }

  test("in-place corpus mutation invalidates artifacts: the incremental probe sees new docs") {
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-fresh").toString
    val dir = s"$base/corpus"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    def writeDocs(rows: Seq[(Long, String, String)]): Unit = {
      val tmp = s"$base/tmp"
      rows.toDF("doc_id", "source", "text").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(dir, "documents.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    AnnModels.withRoot(freshRoot("fresh")) {
      writeDocs(Seq(
        (1L, "srcA", shared),
        (2L, "srcA", "unrelated corpus filler content nine ten eleven twelve"),
        (10L, "src0", shared)))
      val b0 = AnnModels.lshIndex.builds
      val first = graft.streaming.EventStreams.incrementalVsIndex(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(first == Set((10L, 1L, 0)), s"probe matches the one corpus copy: $first")
      assert(AnnModels.lshIndex.builds == b0 + 1)
      // MUTATE the corpus IN PLACE at the same path: add corpus doc 5 with
      // the shared text. Without the freshness fingerprint the persisted
      // index still exists for this (dir, params) key and doc 5 would be
      // invisible to every later probe — silent wrong answers.
      writeDocs(Seq(
        (1L, "srcA", shared),
        (2L, "srcA", "unrelated corpus filler content nine ten eleven twelve"),
        (5L, "srcB", shared),
        (10L, "src0", shared)))
      val second = graft.streaming.EventStreams.incrementalVsIndex(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(AnnModels.lshIndex.builds == b0 + 2,
        "in-place mutation must retrain the index")
      assert(second == Set((10L, 2L, 0)),
        s"retrained index must surface the backfilled corpus doc: $second")
    }
  }

  test("phash index: builds once, serves the stream probe, retrains on corpus edit") {
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-phidx").toString
    val dir = s"$base/corpus"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    def writeDocs(rows: Seq[(Long, String, String)]): Unit = {
      val tmp = s"$base/stage"
      rows.toDF("doc_id", "source", "text").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(dir, "documents.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val shared = "identical payload bytes for the perceptual cluster " * 3
    AnnModels.withRoot(freshRoot("phidx")) {
      writeDocs(Seq(
        (1L, "srcA", shared),
        (2L, "srcA", "unrelated corpus asset content nine ten eleven twelve"),
        (10L, "src0", shared)))
      val b0 = AnnModels.phashIndex.builds
      val first = graft.streaming.EventStreams.phashVsIndex(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(first == Set((10L, 1L, 0)), s"probe matches the one corpus copy: $first")
      assert(AnnModels.phashIndex.builds == b0 + 1)
      // artifact-served form == the in-query form, and serving never retrains
      val inQuery = graft.operators.Multimodal.phashIncremental(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(inQuery == first, "artifact-served probe diverged from the in-query form")
      graft.streaming.EventStreams.phashVsIndex(spark, dir).collect()
      assert(AnnModels.phashIndex.builds == b0 + 1, "second probe must serve the artifact")
      // in-place corpus backfill: a second copy of the shared payload must
      // retrain the index and surface in the next probe
      writeDocs(Seq(
        (1L, "srcA", shared),
        (2L, "srcA", "unrelated corpus asset content nine ten eleven twelve"),
        (5L, "srcB", shared),
        (10L, "src0", shared)))
      val second = graft.streaming.EventStreams.phashVsIndex(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(AnnModels.phashIndex.builds == b0 + 2,
        "in-place mutation must retrain the index")
      assert(second == Set((10L, 2L, 0)),
        s"retrained index must surface the backfilled corpus asset: $second")
    }
  }

  test("phash labels artifact: one CC run serves both phash dedup and keep-best-copy") {
    AnnModels.withRoot(freshRoot("phlab")) {
      val b0 = AnnModels.phashLabels.builds
      val dedup = graft.operators.Multimodal.phashDedup(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(AnnModels.phashLabels.builds == b0 + 1, "first consumer must build the labeling")
      graft.operators.Multimodal.phashKeep(spark, sf).collect()
      assert(AnnModels.phashLabels.builds == b0 + 1,
        "the second consumer must serve the same artifact")
      // served labels are bit-identical to the inline CC run
      val inline = graft.operators.Multimodal.phashLabelsOf(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val served = AnnModels.phashLabels(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(served == inline, "artifact-served labeling diverged from the inline CC run")
      assert(dedup.iterator.map(_._2).sum == served.size.toLong,
        "n_repr must conserve the asset count")
    }
  }

  test("quality logits and trained margins: registry-served, bit-identical to inline") {
    val T = graft.operators.TextOps
    AnnModels.withRoot(freshRoot("qlog")) {
      val a0 = AnnModels.qualityLogits.builds
      val served = rows(T.qualityModel(spark, sf))
      assert(AnnModels.qualityLogits.builds == a0 + 1, "first consumer must score the corpus")
      assert(served == rows(AnnModels.qualityLogits.build(spark, sf)),
        "artifact-served logits diverged from the inline scoring chain")
      T.qualityCalibrated(spark, sf).collect()
      graft.operators.Pipeline.curateModel(spark, sf).collect()
      assert(AnnModels.qualityLogits.builds == a0 + 1,
        "calibrated gate and curation must serve the one scored relation")
      val b0 = AnnModels.trainedMargins.builds
      val servedT = rows(T.qualityTrained(spark, sf))
      assert(AnnModels.trainedMargins.builds == b0 + 1)
      assert(servedT == rows(T.qualityTrainedInline(spark, sf)),
        "artifact-served margins diverged from the inline trained chain")
      graft.operators.Pipeline.buildTrained(spark, sf).collect()
      assert(AnnModels.trainedMargins.builds == b0 + 1,
        "the build capstone must serve the trained relation")
    }
  }

  test("shingle-pair store: one posting-list expansion serves all four verifiers") {
    AnnModels.withRoot(freshRoot("shpairs")) {
      val b0 = AnnModels.shinglePairs.builds
      val jac = rows(Dedup.ngramJaccard(spark, sf))
      assert(AnnModels.shinglePairs.builds == b0 + 1, "first consumer must build the store")
      Dedup.containment(spark, sf).collect()
      Dedup.lshRecall(spark, sf).collect()
      Dedup.lshRecallBanded(spark, sf).collect()
      assert(AnnModels.shinglePairs.builds == b0 + 1,
        "all verifiers must serve the one pair store")
      // served pairs are bit-identical to the inline expansion
      assert(rows(AnnModels.shinglePairs(spark, sf)) ==
        rows(Dedup.shingleInterPairsInline(spark, sf)),
        "artifact-served pair store diverged from the inline expansion")
      assert(jac.nonEmpty, "construction check: the corpus has jaccard pairs")
    }
  }

  test("verified pairs: one candidate+verify chain serves the gated query, the overlap matrix and the CC trainer") {
    AnnModels.withRoot(freshRoot("vpairs")) {
      val v0 = AnnModels.verifiedPairs.builds
      val served = rows(Dedup.minhashVerified(spark, sf))
      assert(AnnModels.verifiedPairs.builds == v0 + 1, "first consumer must run the chain")
      assert(served == rows(Dedup.minhashVerifiedInline(spark, sf)),
        "artifact-served verified pairs diverged from the inline chain")
      assert(served.nonEmpty, "construction check: the corpus has verified pairs")
      Dedup.sourceOverlap(spark, sf).collect()
      Dedup.survivors(spark, sf).collect()
      assert(AnnModels.verifiedPairs.builds == v0 + 1,
        "the overlap matrix and the survivor trainer must serve the one pair relation")
    }
  }

  test("perplexity scores: one scoring pass serves the bucket, curriculum and gate consumers") {
    val T = graft.operators.TextOps
    AnnModels.withRoot(freshRoot("ppl")) {
      val p0 = AnnModels.pplScores.builds
      val served = rows(T.perplexity(spark, sf))
      assert(AnnModels.pplScores.builds == p0 + 1, "first consumer must score the corpus")
      assert(served == rows(T.perplexityInline(spark, sf)),
        "artifact-served scores diverged from the inline scoring pass")
      T.perplexityBucket(spark, sf).collect()
      graft.operators.Pipeline.curriculum(spark, sf).collect()
      T.qualityModel(spark, sf).collect()
      assert(AnnModels.pplScores.builds == p0 + 1,
        "bucket, curriculum and quality consumers must serve the one scored relation")
    }
  }

  test("nested partitioned corpus layout: an in-place partition rewrite invalidates") {
    val sp = spark
    import sp.implicits._
    // documents.parquet as a PARTITIONED directory — leaf files live under
    // source=*/ subdirectories. A non-recursive fingerprint (ADVICE r10)
    // sees only the top-level entries and misses a nested rewrite.
    val base = java.nio.file.Files.createTempDirectory("graft-nested").toString
    val dir = s"$base/corpus"
    val table = s"$dir/documents.parquet"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    Seq(
      (1L, "srcA", "unrelated corpus filler content nine ten eleven twelve"),
      (10L, "src0", shared))
      .toDF("doc_id", "source", "text")
      .write.partitionBy("source").mode("overwrite").parquet(table)
    AnnModels.withRoot(freshRoot("nested")) {
      val b0 = AnnModels.lshIndex.builds
      val first = graft.streaming.EventStreams.incrementalVsIndex(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(first == Set((10L, 0L, 1)), s"no corpus copy of the probe text yet: $first")
      assert(AnnModels.lshIndex.builds == b0 + 1)
      // mutate ONE nested partition in place: a leaf file with a copy of
      // the shared text lands under source=srcA/ WITHOUT any top-level
      // file changing (the directory entry itself is not a file, so the
      // old non-recursive (name,len,mtime) listing fingerprints this
      // layout identically before and after)
      val tmp = s"$base/leaf"
      Seq((5L, shared)).toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val leaf = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      java.nio.file.Files.move(leaf.toPath,
        java.nio.file.Paths.get(table, "source=srcA", "part-backfill.parquet"))
      val second = graft.streaming.EventStreams.incrementalVsIndex(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(AnnModels.lshIndex.builds == b0 + 2,
        "a nested partition rewrite must invalidate the persisted index")
      assert(second == Set((10L, 1L, 0)),
        s"retrained index must surface the rewritten partition's doc: $second")
    }
  }

  test("stable keys: corpus mutations overwrite artifacts in place, never orphan them") {
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-gc").toString
    val dir = s"$base/corpus"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    def writeDocs(rows: Seq[(Long, String, String)]): Unit = {
      val tmp = s"$base/tmp"
      rows.toDF("doc_id", "source", "text").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(dir, "documents.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val root = freshRoot("gc")
    AnnModels.withRoot(root) {
      writeDocs(Seq(
        (1L, "srcA", "alpha beta gamma delta epsilon zeta eta theta iota"),
        (10L, "src0", "probe text one two three four five six seven eight")))
      graft.streaming.EventStreams.incrementalVsIndex(spark, dir).collect()
      def artifacts(): Set[String] =
        new java.io.File(root).listFiles().map(_.getName).toSet
      val a1 = artifacts()
      assert(a1.exists(_.startsWith("lshidx-")), s"index artifact persisted: $a1")
      // a handle served BEFORE the edits — must stay readable across the
      // next retrain (generational store: live readers survive one swap)
      val held = AnnModels.lshIndex(spark, dir)
      // three successive corpus edits: a fingerprint-keyed store would now
      // hold three full index copies (ADVICE r10 unbounded growth)
      for (i <- 2 to 4) {
        writeDocs(Seq(
          (1L, "srcA", "alpha beta gamma delta epsilon zeta eta theta iota"),
          (i.toLong, "srcB", s"edit number $i adds this corpus document"),
          (10L, "src0", "probe text one two three four five six seven eight")))
        graft.streaming.EventStreams.incrementalVsIndex(spark, dir).collect()
        if (i == 2)
          assert(held.count() >= 0, "a pre-edit handle must survive the first retrain")
      }
      assert(artifacts() == a1,
        s"retrains must reuse the same store slots: ${artifacts().diff(a1)} appeared")
      // inside the stable key: at most TWO generations (current + previous)
      val idx = new java.io.File(root).listFiles().find(_.getName.startsWith("lshidx-")).get
      val gens = idx.listFiles().filter(_.isDirectory).map(_.getName).filter(_.startsWith("g-"))
      assert(gens.length <= 2,
        s"the store must keep at most current+previous generations: ${gens.mkString(",")}")
    }
  }

  test("completion marker gates the artifact: no marker, no serve") {
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-marker").toString
    val dir = s"$base/corpus"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    Seq((1L, "srcA", "the quick brown fox jumps over the lazy dog again"),
        (10L, "src0", "the quick brown fox jumps over the lazy dog again"))
      .toDF("doc_id", "source", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val root = freshRoot("marker")
    AnnModels.withRoot(root) {
      val t0 = AnnModels.ingestGate.builds
      val first = rows(graft.streaming.EventStreams.ingestGateBatch(spark, dir))
      assert(AnnModels.ingestGate.builds == t0 + 1)
      // simulate a crash after the relations were written but before the
      // completion marker: a partially-committed artifact must retrain,
      // never serve (the mixed-state guard — ADVICE r10 atomicity)
      val ig = new java.io.File(root).listFiles().find(_.getName.startsWith("ig-")).get
      val marker = new java.io.File(ig, "_GRAFT_COMPLETE")
      assert(marker.exists(), "training must leave a completion marker")
      assert(marker.delete())
      val second = rows(graft.streaming.EventStreams.ingestGateBatch(spark, dir))
      assert(AnnModels.ingestGate.builds == t0 + 2,
        "an unmarked artifact must retrain, not serve")
      assert(second == first)
      // and the four relations live under ONE marker-gated generation dir
      val gens = ig.listFiles().filter(f => f.isDirectory && f.getName.startsWith("g-"))
      assert(gens.nonEmpty, s"generation dir expected under ${ig.getName}")
      val parts = gens.head.listFiles().filter(_.isDirectory).map(_.getName).toSet
      assert(parts == Set("c3", "c2", "u", "thr"),
        s"all gate relations share one generation directory: $parts")
    }
  }

  test("survivor labeling trains once; all curation consumers serve the artifact") {
    AnnModels.withRoot(freshRoot("cclab")) {
      val b0 = AnnModels.survivorLabels.builds
      val first = rows(Dedup.survivors(spark, sf))
      assert(AnnModels.survivorLabels.builds == b0 + 1, "first access must run the CC chain")
      // every other consumer of the canonical set serves the artifact
      graft.operators.Pipeline.curateNearDup(spark, sf).collect()
      graft.operators.Pipeline.build(spark, sf).collect()
      val second = rows(Dedup.survivors(spark, sf))
      assert(AnnModels.survivorLabels.builds == b0 + 1,
        s"curation consumers re-ran CC: ${AnnModels.survivorLabels.builds - b0} passes")
      assert(second == first, "artifact round-trip changed the survivor set")
    }
  }

  test("DSIR model trains once; artifact-served selection is bit-identical to the inline fit") {
    AnnModels.withRoot(freshRoot("dsir")) {
      val t0 = AnnModels.dsirModel.builds
      val served = rows(graft.operators.TextOps.importanceDsir(spark, sf))
      assert(AnnModels.dsirModel.builds == t0 + 1, "first access must train")
      // DECIMAL(18,6) log-ratios and long thresholds parquet round-trip
      // exactly, so the artifact-served chain must reproduce the inline
      // fit bit for bit — the property that lets the oracle replay
      // training from the raw corpus while the engine serves the registry
      val inline = rows(graft.operators.TextOps.importanceDsirOf(
        graft.sources.Tables.load(spark, sf, "documents")))
      assert(served == inline, "artifact-served selection diverged from the inline fit")
      graft.operators.TextOps.importanceDsir(spark, sf).collect()
      assert(AnnModels.dsirModel.builds == t0 + 1,
        "second access must serve the artifact, not retrain")
    }
  }

  test("DSIR 8k width: own artifact key, inline parity, improved seed enrichment") {
    import org.apache.spark.sql.functions._
    AnnModels.withRoot(freshRoot("dsir8k")) {
      val T = graft.operators.TextOps
      val (w0, n0) = (AnnModels.dsirModel8k.builds, AnnModels.dsirModel.builds)
      val wide = T.importanceDsir8k(spark, sf)
      val wideRows = rows(wide)
      assert(AnnModels.dsirModel8k.builds == w0 + 1, "first 8k access must train")
      // bit-identical to the inline fit at the same width (the oracle
      // replays the full train, so this is what keeps the gate meaningful)
      val inline = rows(T.importanceDsirOf(
        graft.sources.Tables.load(spark, sf, "documents"), T.DsirBuckets8k))
      assert(wideRows == inline, "8k artifact-served selection diverged from inline fit")
      T.importanceDsir8k(spark, sf).collect()
      assert(AnnModels.dsirModel8k.builds == w0 + 1, "second access must serve the artifact")
      // the 256-bucket model lives under a DIFFERENT key: training it is a
      // separate pass and the two widths coexist in one store
      val narrow = T.importanceDsir(spark, sf)
      narrow.collect()
      assert(AnnModels.dsirModel.builds == n0 + 1 && AnnModels.dsirModel8k.builds == w0 + 1,
        "the two widths must not share a key")
      // realistic width must never REGRESS seed enrichment on the shipped
      // corpus (measured: the shipped vocabulary does not alias at 256
      // buckets, so the two selections coincide exactly — the strict
      // aliasing win is demonstrated on the crafted corpus below)
      val seed = T.dsirWt(graft.sources.Tables.load(spark, sf, "documents"))
        .select(col("doc_id"), col("tgt")).distinct()
      def enrichment(seedRel: org.apache.spark.sql.DataFrame)(
          sel: org.apache.spark.sql.DataFrame): Double = {
        val kept = sel.filter(col("dsir_keep") === 1).join(seedRel, "doc_id")
        kept.filter(col("tgt") === 1).count().toDouble / kept.count()
      }
      val en = enrichment(seed) _
      assert(en(wide) >= en(narrow),
        s"8192-bucket selection must not regress seed enrichment: ${en(wide)} vs ${en(narrow)}")
    }
  }

  test("DSIR 8k width strictly improves enrichment when 256 buckets alias " +
      "seed and junk vocabulary") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    val T = graft.operators.TextOps
    // Hunt a deterministic hash collision: a seed word u and a junk word v
    // that share a 256-bucket but not an 8192-bucket — the aliasing the
    // paper's 10^4-bucket width exists to avoid.
    val letters = 'a' to 'z'
    val cands = (for (a <- letters; b <- letters; c <- letters) yield s"q$a$b$c").toSeq
    val hm = cands.toDF("w").select(col("w"),
        pmod(graft.functions.hash52(col("w")), lit(256L)).as("b256"),
        pmod(graft.functions.hash52(col("w")), lit(8192L)).as("b8k"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val stopBuckets = Seq("the", "of").toDF("w")
      .select(pmod(graft.functions.hash52(col("w")), lit(256L)))
      .collect().map(_.getLong(0)).toSet
    val (u, v) = hm.groupBy(_._2).valuesIterator
      .filter(g => g.length >= 2 && !stopBuckets(g.head._2) &&
        g.map(_._3).distinct.length >= 2)
      .map(g => (g(0)._1, g.find(_._3 != g(0)._3).get._1))
      .next()
    val bU = hm.find(_._1 == u).get._2
    // background vocabulary and numeric filler: all OUTSIDE u's
    // 256-bucket, so only the junk word aliases into the seed bucket
    val bg = hm.filter(w => w._2 != bU && w._1 != v).map(_._1).take(256)
    val nums = (100 to 999).map(_.toString).toDF("w")
      .select(col("w"), pmod(graft.functions.hash52(col("w")), lit(256L)).as("b"))
      .collect().collect { case r if r.getLong(1) != bU => r.getString(0) }.take(6)
    // 32 docs → kept quartile = exactly 8 (scores tie only within a class):
    //  - 8 seed docs: 7/7 Gopher flags, 50/52 tokens in u's bucket
    //  - 8 junk docs: pure v (fails word-count + stopword rules) — EVERY
    //    token rides u's 256-bucket via the collision
    //  - 16 background docs: stopwords + ordinary words + numeric filler
    //    (fails word-count + alpha-ratio) — they pull the stopword
    //    buckets' importance DOWN, so a seed doc scores strictly below
    //    the undiluted all-aliased junk doc at 256 buckets
    val rows =
      (1L to 8L).map(i => (i, "srcA", ("the of " + (s"$u " * 50)).trim)) ++
      (11L to 18L).map(i => (i, "srcA", (s"$v " * (10 + (i % 5)).toInt).trim)) ++
      (21L to 36L).map(i => (i, "srcA", ("the of " +
        bg.slice(((i - 21) * 16).toInt, ((i - 21) * 16).toInt + 16).mkString(" ") +
        " " + nums.mkString(" "))))
    val corpus = rows.toDF("doc_id", "source", "text")
    val seedRel = T.dsirWt(corpus).select(col("doc_id"), col("tgt")).distinct()
    assert(seedRel.filter(col("tgt") === 1).count() == 8,
      "construction check: exactly the 8 u-docs are Gopher seeds")
    def en(sel: org.apache.spark.sql.DataFrame): Double = {
      val kept = sel.filter(col("dsir_keep") === 1).join(seedRel, "doc_id")
      kept.filter(col("tgt") === 1).count().toDouble / kept.count()
    }
    val e256 = en(T.importanceDsirOf(corpus, 256L))
    val e8k = en(T.importanceDsirOf(corpus, T.DsirBuckets8k))
    // at 256 buckets the junk docs ride the seed bucket's importance and
    // fill the kept quartile ahead of the stopword-diluted seeds; at 8192
    // the junk bucket is raw-only and scores far below the bar
    assert(e8k > e256,
      s"8192 buckets must strictly beat aliased 256 buckets: $e8k vs $e256")
  }

  test("fingerprint revert (A→B→A): retrain writes a FRESH generation, never " +
      "rewrites a directory a prior marker served") {
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-revert").toString
    val dir = s"$base/corpus"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    // Pin the table file's mtime so the SAME rows reproduce the SAME
    // fingerprint (name:len:mtime) — the revert scenario a config rollback
    // or snapshot restore produces in a long-lived store.
    def writeDocs(rows: Seq[(Long, String, String)], mtime: Long): Unit = {
      val tmp = s"$base/tmp"
      rows.toDF("doc_id", "source", "text").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      val target = java.nio.file.Paths.get(dir, "documents.parquet")
      java.nio.file.Files.move(part.toPath, target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      java.nio.file.Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    val stateA = Seq(
      (1L, "srcA", "alpha beta gamma delta epsilon zeta eta theta iota"),
      (10L, "src0", "probe text one two three four five six seven eight"))
    val stateB = Seq(
      (1L, "srcA", "alpha beta gamma delta epsilon zeta eta theta iota"),
      (2L, "srcB", "state b adds this corpus document to the index now"),
      (10L, "src0", "probe text one two three four five six seven eight"))
    val root = freshRoot("revert")
    AnnModels.withRoot(root) {
      writeDocs(stateA, 1000000000000L)
      val firstRows = rows(AnnModels.lshIndex(spark, dir))
      def gens(): Set[String] = {
        val idx = new java.io.File(root).listFiles()
          .find(_.getName.startsWith("lshidx-")).get
        idx.listFiles().filter(_.isDirectory).map(_.getName)
          .filter(_.startsWith("g-")).toSet
      }
      val genA = gens().head
      writeDocs(stateB, 2000000000000L)
      AnnModels.lshIndex(spark, dir).collect()
      // REVERT: byte-identical state A at the original mtime — same
      // fingerprint, so genName(fp) collides with the already-served genA.
      writeDocs(stateA, 1000000000000L)
      val reverted = AnnModels.lshIndex(spark, dir)
      assert(rows(reverted) == firstRows, "reverted corpus must serve state-A content")
      val served = reverted.inputFiles.head
      assert(!served.contains(s"/$genA/"),
        s"retrain reused previously-served generation $genA: $served")
      assert(gens().exists(_.startsWith(genA + "-")),
        s"fingerprint collision must suffix past the served name, got ${gens()}")
      assert(gens().size <= 2, s"store must stay bounded at two generations: ${gens()}")
    }
  }

  test("logistic margins: registry-served, bit-identical to inline, one " +
      "fit across the gate and build consumers") {
    AnnModels.withRoot(freshRoot("qlr")) {
      val t0 = AnnModels.lrMargins.builds
      val served = rows(graft.operators.TextOps.qualityLr(spark, sf))
      assert(AnnModels.lrMargins.builds == t0 + 1, "first access must fit")
      graft.SparkEntry.queries("pipeline_build_lr")(spark, sf).collect()
      assert(AnnModels.lrMargins.builds == t0 + 1,
        "the build consumer must serve the artifact, not refit")
      assert(served == rows(graft.operators.TextOps.qualityLrInline(spark, sf)),
        "served logistic margins diverge from inline")
    }
  }

  test("ivf assignment and semantic labels: registry-served, bit-identical " +
      "to inline, one training pass across all consumers") {
    AnnModels.withRoot(freshRoot("semserve")) {
      val (a0, l0) = (AnnModels.ivfAssign.builds, AnnModels.semanticLabels.builds)
      // consumers: the dedup pair, both narrow assignment readers, a sampler
      Dedup.semanticDedup(spark, sf).collect()
      Dedup.semanticDedupKeep(spark, sf).collect()
      Similarity.prototypePrune(spark, sf).collect()
      Similarity.annIvf(spark, sf).collect()
      assert(AnnModels.ivfAssign.builds == a0 + 1,
        s"expected ONE assignment pass, got ${AnnModels.ivfAssign.builds - a0}")
      assert(AnnModels.semanticLabels.builds == l0 + 1,
        s"expected ONE semantic labeling, got ${AnnModels.semanticLabels.builds - l0}")
      assert(rows(AnnModels.ivfAssign(spark, sf)) ==
        rows(AnnModels.ivfAssign.build(spark, sf)),
        "served assignment diverges from inline")
      assert(rows(AnnModels.semanticLabels(spark, sf)) ==
        rows(Dedup.semanticLabInline(spark, sf)),
        "served semantic labels diverge from inline")
    }
  }

  test("hamming pairs + degenerate census: registry-served, bit-identical " +
      "to inline, ONE build per hash family across all consumers") {
    AnnModels.withRoot(freshRoot("hamserve")) {
      def pairBuilds = AnnModels.simhashPairs.builds + AnnModels.phashPairs.builds +
        AnnModels.audioPairs.builds
      def degenBuilds = AnnModels.simhashDegen.builds + AnnModels.phashDegen.builds +
        AnnModels.audioDegen.builds
      val (p0, d0) = (pairBuilds, degenBuilds)
      // the three gated pairing queries + the CC-label consumers that
      // must ride the SAME served pair artifacts
      graft.operators.Dedup.simhashPairs(spark, sf).collect()
      graft.operators.Multimodal.phashPairs(spark, sf).collect()
      graft.operators.Multimodal.audioPairs(spark, sf).collect()
      graft.operators.Multimodal.audioDedup(spark, sf).collect()
      graft.operators.Multimodal.phashDedup(spark, sf).collect()
      assert(pairBuilds == p0 + 3,
        s"expected ONE pair build per hash family (sim/ph/au), got ${pairBuilds - p0}")
      assert(degenBuilds == d0 + 3,
        s"expected ONE degenerate census per hash family, got ${degenBuilds - d0}")
      assert(rows(graft.operators.Dedup.simhashPairs(spark, sf)) ==
        rows(graft.operators.Dedup.simhashPairsInline(spark, sf)),
        "served simhash pairs diverge from inline")
      assert(rows(graft.operators.Multimodal.audioPairs(spark, sf)) ==
        rows(graft.operators.Multimodal.audioPairsInline(spark, sf)),
        "served audio pairs diverge from inline")
      assert(rows(graft.operators.Multimodal.phashPairs(spark, sf)) ==
        rows(graft.operators.Multimodal.phashPairsInline(spark, sf)),
        "served phash pairs diverge from inline")
      assert(pairBuilds == p0 + 3,
        "re-reading the artifacts must not rebuild the pair relations")
    }
  }

  test("PQ corpus codes: registry-served, bit-identical to inline, ONE " +
      "encoding pass across the whole PQ family") {
    AnnModels.withRoot(freshRoot("pqcodes")) {
      val c0 = AnnModels.pqCodes.builds
      // all three PQ-family consumers: compressed scan, IVFADC, rerank
      Similarity.annPq(spark, sf).collect()
      Similarity.annIvfPq(spark, sf).collect()
      Similarity.annIvfPqRerank(spark, sf).collect()
      assert(AnnModels.pqCodes.builds == c0 + 1,
        s"expected ONE corpus encoding pass, got ${AnnModels.pqCodes.builds - c0}")
      assert(rows(AnnModels.pqCodes(spark, sf)) ==
        rows(Similarity.pqCodesInline(spark, sf)),
        "served PQ codes diverge from inline encoding")
      assert(AnnModels.pqCodes.builds == c0 + 1,
        "re-reading the artifact must not re-encode")
    }
  }

  test("alignment scores: registry-served, bit-identical to inline; an " +
      "embeddings-table edit alone retrains (two-table fingerprint)") {
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-align").toString
    val dir = s"$base/corpus"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    def cp(table: String): Unit = {
      val src = java.nio.file.Paths.get(sf, s"$table.parquet")
      java.nio.file.Files.copy(src, java.nio.file.Paths.get(dir, s"$table.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    cp("documents"); cp("embeddings")
    AnnModels.withRoot(freshRoot("align")) {
      val t0 = AnnModels.alignScores.builds
      val served = rows(graft.operators.Multimodal.textAlign(spark, dir))
      assert(AnnModels.alignScores.builds == t0 + 1, "first access must train")
      assert(served == rows(graft.operators.Multimodal.textAlignInline(spark, dir)),
        "served alignment scores diverge from inline")
      graft.SparkEntry.queries("pipeline_curate_aligned")(spark, dir).collect()
      assert(AnnModels.alignScores.builds == t0 + 1,
        "the curation consumer must serve the artifact, not retrain")
      // touch ONLY the embeddings table: the documents fingerprint is
      // unchanged, but the artifact depends on both — must retrain
      val embFile = java.nio.file.Paths.get(dir, "embeddings.parquet")
      java.nio.file.Files.setLastModifiedTime(embFile,
        java.nio.file.attribute.FileTime.fromMillis(
          java.nio.file.Files.getLastModifiedTime(embFile).toMillis + 60000))
      graft.operators.Multimodal.textAlign(spark, dir).collect()
      assert(AnnModels.alignScores.builds == t0 + 2,
        "an embeddings-only edit must invalidate the alignment artifact")
    }
  }

  test("funnel flags: registry-served, bit-identical to inline, ONE build " +
      "across both funnel queries") {
    AnnModels.withRoot(freshRoot("funfl")) {
      val b0 = AnnModels.funnelFlags.builds
      graft.operators.Pipeline.funnel(spark, sf).collect()
      graft.operators.Pipeline.funnelSource(spark, sf).collect()
      assert(AnnModels.funnelFlags.builds == b0 + 1,
        s"expected ONE flag build across both funnels, got ${AnnModels.funnelFlags.builds - b0}")
      assert(rows(AnnModels.funnelFlags(spark, sf)) ==
        rows(graft.operators.Pipeline.funnelFlagsInline(spark, sf)),
        "served funnel flags diverge from the inline build")
      assert(AnnModels.funnelFlags.builds == b0 + 1,
        "re-reading the artifact must not rebuild the flags")
    }
  }

  test("langid + quality score relations: registry-served, bit-identical " +
      "to inline, ONE text scan each across the whole curate battery") {
    AnnModels.withRoot(freshRoot("scores")) {
      val (l0, q0) = (AnnModels.langidScores.builds, AnnModels.qualityScores.builds)
      // the heaviest per-invocation consumers: three curate variants +
      // both funnels + the gated scoring queries themselves
      graft.operators.TextOps.langid(spark, sf).collect()
      graft.operators.TextOps.quality(spark, sf).collect()
      graft.operators.Pipeline.curate(spark, sf).collect()
      graft.operators.Pipeline.curateNearDup(spark, sf).collect()
      graft.operators.Pipeline.funnel(spark, sf).collect()
      assert(AnnModels.langidScores.builds == l0 + 1,
        s"expected ONE langid scan, got ${AnnModels.langidScores.builds - l0}")
      assert(AnnModels.qualityScores.builds == q0 + 1,
        s"expected ONE quality scan, got ${AnnModels.qualityScores.builds - q0}")
      assert(rows(graft.operators.TextOps.langid(spark, sf)) ==
        rows(AnnModels.langidScores.build(spark, sf)),
        "served langid predictions diverge from inline")
      // the artifact carries a trailing source column (the pack family's
      // spine); full-width parity against the inline chain, and the gated
      // 7-column relation is exactly the projection
      assert(rows(AnnModels.qualityScores(spark, sf)) ==
        rows(AnnModels.qualityScores.build(spark, sf)),
        "served quality scores diverge from inline")
      assert(rows(graft.operators.TextOps.quality(spark, sf)) ==
        rows(AnnModels.qualityScores.build(spark, sf).drop("source")),
        "gated quality relation diverges from the inline projection")
      // coverage contract (ADVICE r16): docTokens IS the artifact, so the
      // pack family counts exactly one spine row per document — a future
      // filter in the quality chain must fail here, not silently shrink
      // pack manifests
      assert(graft.operators.Pipeline.docTokens(spark, sf).count() ==
        graft.sources.Tables.load(spark, sf, "documents").count(),
        "docTokens must cover every document 1:1")
      assert(AnnModels.langidScores.builds == l0 + 1 &&
        AnnModels.qualityScores.builds == q0 + 1,
        "re-reads must not re-scan")
    }
  }

  test("candidate signatures + weighted gram counts: registry-served, " +
      "bit-identical to inline, ONE build each across both verifiers") {
    AnnModels.withRoot(freshRoot("candsig")) {
      val (s0, g0) = (AnnModels.candSigs.builds, AnnModels.candGramCounts.builds)
      Dedup.minhashEstimate(spark, sf).collect()
      Dedup.weightedJaccard(spark, sf).collect()
      assert(AnnModels.candSigs.builds == s0 + 1,
        s"expected ONE signature build, got ${AnnModels.candSigs.builds - s0}")
      assert(AnnModels.candGramCounts.builds == g0 + 1,
        s"expected ONE gram-count build, got ${AnnModels.candGramCounts.builds - g0}")
      assert(rows(AnnModels.candSigs(spark, sf)) ==
        rows(Dedup.candSigsInline(spark, sf)),
        "served candidate signatures diverge from inline")
      assert(rows(AnnModels.candGramCounts(spark, sf)) ==
        rows(Dedup.candGramCountsInline(spark, sf)),
        "served gram counts diverge from inline")
      assert(AnnModels.candSigs.builds == s0 + 1 &&
        AnnModels.candGramCounts.builds == g0 + 1,
        "re-reads must not rebuild")
    }
  }

  test("calibrated build manifest: registry-served, bit-identical to " +
      "inline, ONE composition across calibrated + ordered builds") {
    AnnModels.withRoot(freshRoot("bldcal")) {
      val m0 = AnnModels.calibManifest.builds
      graft.operators.Pipeline.buildCalibrated(spark, sf).collect()
      graft.operators.Pipeline.buildOrdered(spark, sf).collect()
      assert(AnnModels.calibManifest.builds == m0 + 1,
        s"expected ONE manifest composition, got ${AnnModels.calibManifest.builds - m0}")
      assert(rows(graft.operators.Pipeline.buildCalibrated(spark, sf)) ==
        rows(AnnModels.calibManifest.build(spark, sf)),
        "served manifest diverges from the inline composition")
      assert(AnnModels.calibManifest.builds == m0 + 1,
        "re-reads must not re-compose")
    }
  }

  test("r17 served dedup relations: bit-identical to inline, ONE build " +
      "each across all consumers") {
    AnnModels.withRoot(freshRoot("r17dedup")) {
      val (s0, d0, b0, e0, n0) = (AnnModels.substrStats.builds,
        AnnModels.dupStarts.builds, AnnModels.boilerTop.builds,
        AnnModels.embedPairs.builds, AnnModels.bandedPairs.builds)
      Dedup.substringDup(spark, sf).collect()
      Dedup.substringRemove(spark, sf).collect()
      Dedup.substringSpans(spark, sf).collect()
      Dedup.substringRemoveSpans(spark, sf).collect()
      Dedup.boilerplateTopK(spark, sf).collect()
      Dedup.embeddingNearDup(spark, sf).collect()
      Dedup.minhashLshBanded(spark, sf).collect()
      assert(AnnModels.substrStats.builds == s0 + 1, "ONE substring-stat build")
      assert(AnnModels.dupStarts.builds == d0 + 1,
        s"ONE dup-start census across rm/spans/rm_spans, got ${AnnModels.dupStarts.builds - d0}")
      assert(AnnModels.boilerTop.builds == b0 + 1, "ONE boilerplate census")
      assert(AnnModels.embedPairs.builds == e0 + 1, "ONE embedding pair build")
      assert(AnnModels.bandedPairs.builds == n0 + 1, "ONE banded pair build")
      assert(rows(Dedup.substringDup(spark, sf)) ==
        rows(Dedup.substringDupInline(spark, sf)),
        "served substring stats diverge from inline")
      assert(rows(AnnModels.dupStarts(spark, sf)) ==
        rows(Dedup.dupStartsInline(spark, sf)),
        "served dup starts diverge from inline")
      assert(rows(Dedup.boilerplateTopK(spark, sf)) ==
        rows(Dedup.boilerplateTopKInline(spark, sf)),
        "served boilerplate report diverges from inline")
      assert(rows(Dedup.embeddingNearDup(spark, sf)) ==
        rows(Dedup.embeddingNearDupInline(spark, sf)),
        "served embedding pairs diverge from inline")
      assert(rows(Dedup.minhashLshBanded(spark, sf)) ==
        rows(Dedup.minhashLshBandedInline(spark, sf)),
        "served banded pairs diverge from inline")
    }
  }

  test("r17 served build manifests + subword budgets + id streams + DSIR " +
      "scores: bit-identical to inline, ONE build each") {
    AnnModels.withRoot(freshRoot("r17build")) {
      assert(rows(graft.operators.Pipeline.build(spark, sf)) ==
        rows(AnnModels.buildManifest.build(spark, sf)),
        "served default build manifest diverges from inline")
      assert(rows(graft.operators.Pipeline.buildTrained(spark, sf)) ==
        rows(AnnModels.trainedManifest.build(spark, sf)),
        "served trained build manifest diverges from inline")
      assert(rows(graft.operators.Pipeline.buildLr(spark, sf)) ==
        rows(AnnModels.lrManifest.build(spark, sf)),
        "served lr build manifest diverges from inline")
      val (p0, t0, g0) = (AnnModels.bpeDocTokens.builds,
        AnnModels.trainedDocTokens.builds, AnnModels.trainedDocTokensBig.builds)
      assert(rows(graft.operators.Pipeline.packBpe(spark, sf)) ==
        rows(graft.operators.Pipeline.packOf(
          AnnModels.bpeDocTokens.build(spark, sf))),
        "served BPE pack diverges from the inline budget")
      assert(rows(graft.operators.Pipeline.packTrained(spark, sf)) ==
        rows(graft.operators.Pipeline.packOf(
          AnnModels.trainedDocTokens.build(spark, sf))),
        "served trained pack diverges from the inline budget")
      assert(rows(graft.operators.Pipeline.packTrainedBig(spark, sf)) ==
        rows(graft.operators.Pipeline.packOf(
          AnnModels.trainedDocTokensBig.build(spark, sf))),
        "served 256-rule pack diverges from the inline budget")
      graft.operators.Pipeline.packBpe(spark, sf).collect()
      graft.operators.Pipeline.packTrained(spark, sf).collect()
      graft.operators.Pipeline.packTrainedBig(spark, sf).collect()
      assert(AnnModels.bpeDocTokens.builds == p0 + 1 &&
        AnnModels.trainedDocTokens.builds == t0 + 1 &&
        AnnModels.trainedDocTokensBig.builds == g0 + 1,
        "re-reads must not re-count token budgets")
      assert(rows(graft.operators.TextOps.bpeTrainedIds(spark, sf)) ==
        rows(AnnModels.bpeTrainedIdStream.build(spark, sf)),
        "served trained id stream diverges from inline")
      assert(rows(graft.operators.TextOps.bpeTrainedIdsBig(spark, sf)) ==
        rows(AnnModels.bpeTrainedIdStreamBig.build(spark, sf)),
        "served 256-rule id stream diverges from inline")
      assert(rows(graft.operators.TextOps.importanceDsir(spark, sf)) ==
        rows(graft.operators.TextOps.importanceDsirServe(spark, sf)),
        "served DSIR scores diverge from the serving chain")
      assert(rows(graft.operators.TextOps.importanceDsir8k(spark, sf)) ==
        rows(graft.operators.TextOps.importanceDsirServe8k(spark, sf)),
        "served 8k DSIR scores diverge from the serving chain")
      assert(rows(graft.operators.Multimodal.resizeSample(spark, sf)) ==
        rows(graft.operators.Multimodal.resizeSampleInline(spark, sf)),
        "served resample index diverges from the inline decode pass")
    }
  }

  test("r17 batch-3 served curate manifests + source report: bit-identical " +
      "to inline, ONE build each across all consumers") {
    AnnModels.withRoot(freshRoot("r17curate")) {
      val (c0, m0, n0, se0, al0, so0, st0) = (AnnModels.curateManifest.builds,
        AnnModels.curateModelManifest.builds, AnnModels.curateNearDupManifest.builds,
        AnnModels.curateSemanticManifest.builds, AnnModels.curateAlignedManifest.builds,
        AnnModels.curateSourceManifest.builds, AnnModels.srcStats.builds)
      import graft.operators.{Pipeline, TextOps}
      assert(rows(Pipeline.curate(spark, sf)) ==
        rows(Pipeline.curateInline(spark, sf)),
        "served curate manifest diverges from inline")
      assert(rows(Pipeline.curateModel(spark, sf)) ==
        rows(Pipeline.curateModelInline(spark, sf)),
        "served model-gate manifest diverges from inline")
      assert(rows(Pipeline.curateNearDup(spark, sf)) ==
        rows(Pipeline.curateNearDupInline(spark, sf)),
        "served near-dup manifest diverges from inline")
      assert(rows(Pipeline.curateSemantic(spark, sf)) ==
        rows(Pipeline.curateSemanticInline(spark, sf)),
        "served semantic manifest diverges from inline")
      assert(rows(Pipeline.curateAligned(spark, sf)) ==
        rows(Pipeline.curateAlignedInline(spark, sf)),
        "served aligned manifest diverges from inline")
      assert(rows(Pipeline.curateSource(spark, sf)) ==
        rows(Pipeline.curateSourceInline(spark, sf)),
        "served source manifest diverges from inline")
      assert(rows(TextOps.sourceStats(spark, sf)) ==
        rows(TextOps.sourceStatsInline(spark, sf)),
        "served source report diverges from inline")
      // re-reads serve; every stage built exactly once despite the
      // layered consumers (nearDup/semantic inline compose the served
      // curate; aligned composes the served semantic)
      Pipeline.curateAligned(spark, sf).collect()
      Pipeline.curateNearDup(spark, sf).collect()
      assert(AnnModels.curateManifest.builds == c0 + 1, "ONE curate build")
      assert(AnnModels.curateModelManifest.builds == m0 + 1, "ONE model-gate build")
      assert(AnnModels.curateNearDupManifest.builds == n0 + 1, "ONE near-dup build")
      assert(AnnModels.curateSemanticManifest.builds == se0 + 1, "ONE semantic build")
      assert(AnnModels.curateAlignedManifest.builds == al0 + 1, "ONE aligned build")
      assert(AnnModels.curateSourceManifest.builds == so0 + 1, "ONE source build")
      assert(AnnModels.srcStats.builds == st0 + 1,
        "ONE source-stat build across the report + source-curation reads")
    }
  }

  test("r17 batch-3 served tokenizer artifacts + loader orders: " +
      "bit-identical to inline, ONE build each") {
    AnnModels.withRoot(freshRoot("r17tok")) {
      val (v0, i0, d0, il0, cu0) = (AnnModels.bpeStaticVocab.builds,
        AnnModels.bpeStaticIdStream.builds, AnnModels.bpeDecodeAudit.builds,
        AnnModels.interleaveOrder.builds, AnnModels.curriculumOrder.builds)
      import graft.operators.{Pipeline, TextOps}
      assert(rows(TextOps.bpeVocab(spark, sf)) ==
        rows(AnnModels.bpeStaticVocab.build(spark, sf)),
        "served static vocab diverges from inline")
      assert(rows(TextOps.bpeIds(spark, sf)) ==
        rows(AnnModels.bpeStaticIdStream.build(spark, sf)),
        "served static id stream diverges from inline")
      assert(rows(TextOps.bpeDecode(spark, sf)) ==
        rows(TextOps.bpeDecodeInline(spark, sf)),
        "served decode audit diverges from inline")
      assert(rows(Pipeline.interleave(spark, sf)) ==
        rows(Pipeline.interleaveInline(spark, sf)),
        "served interleave order diverges from inline")
      assert(rows(Pipeline.curriculum(spark, sf)) ==
        rows(Pipeline.curriculumInline(spark, sf)),
        "served curriculum order diverges from inline")
      TextOps.bpeDecode(spark, sf).collect()
      TextOps.bpeIds(spark, sf).collect()
      assert(AnnModels.bpeStaticVocab.builds == v0 + 1,
        "ONE vocab build across the vocab read + decode-audit build")
      assert(AnnModels.bpeStaticIdStream.builds == i0 + 1, "ONE id-stream build")
      assert(AnnModels.bpeDecodeAudit.builds == d0 + 1, "ONE decode-audit build")
      assert(AnnModels.interleaveOrder.builds == il0 + 1, "ONE interleave build")
      assert(AnnModels.curriculumOrder.builds == cu0 + 1, "ONE curriculum build")
    }
  }

  test("production-budget unigram vocabulary: own key, ONE train, " +
      "coexists with the toy budget") {
    AnnModels.withRoot(freshRoot("unibig")) {
      val (t0, b0) = (AnnModels.uniVocab.builds, AnnModels.uniVocabBig.builds)
      val big = rows(graft.operators.UnigramLm.unigramVocabBig(spark, sf))
      assert(AnnModels.uniVocabBig.builds == b0 + 1, "first access must train")
      graft.operators.UnigramLm.unigramIdsBig(spark, sf).count()
      assert(AnnModels.uniVocabBig.builds == b0 + 1,
        "the id consumer must serve the artifact, not retrain")
      // the toy-budget artifact is a DIFFERENT key: reading it trains the
      // small model without touching the big one
      graft.operators.UnigramLm.unigramVocab(spark, sf).count()
      assert(AnnModels.uniVocab.builds == t0 + 1 && AnnModels.uniVocabBig.builds == b0 + 1,
        "the two budgets must live under distinct keys")
      assert(big == rows(graft.operators.UnigramLm.uniTrainOf(
          graft.sources.Tables.load(spark, sf, "documents"),
          graft.operators.UnigramLm.UniSeedVocabBig,
          graft.operators.UnigramLm.UniVocabBig,
          graft.operators.UnigramLm.UniItersBig)),
        "served production-budget vocabulary diverges from inline training")
    }
  }

  test("ivfK follows an in-place embeddings edit across a sizing boundary " +
      "(fingerprint-keyed memo, ADVICE r15)") {
    val sp = spark
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfk").toString
    def gen(n: Long): Unit = sp.range(0, n).toDF("vec_id")
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(63)),
          d => (d % 3).cast("float")).as("embedding"),
        lit(0).as("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    gen(100)
    assert(Similarity.ivfK(spark, dir) == Similarity.NumCentroids,
      "small corpus must sit on the K floor")
    // same dir, same session: the memo used to pin the old K here, so the
    // registry keys (which embed K) and the oracle (which derives K from
    // the live corpus) would silently disagree after the edit
    gen(4096)
    assert(Similarity.ivfK(spark, dir) == 12, // ceil(sqrt(4096/32))
      "an in-place corpus edit crossing a sizing boundary must re-derive K")
  }

  test("marker commit is atomic (rename), and a marker naming a missing " +
      "generation falls back to retrain instead of serving a dead path") {
    val root = freshRoot("atomic")
    AnnModels.withRoot(root) {
      val first = rows(AnnModels.ivfCentroids(spark, sf))
      val key = new java.io.File(root).listFiles().find(_.getName.startsWith("ivf-")).get
      // rename-based commit leaves no temp residue next to the marker
      assert(!new java.io.File(key, "_GRAFT_COMPLETE.tmp").exists(),
        "commit must rename the temp marker into place, not leave it behind")
      val marker = new java.io.File(key, "_GRAFT_COMPLETE")
      assert(marker.exists())
      // Simulate the torn-read / stale-marker aftermath the atomic rename
      // prevents going FORWARD, for stores written by the in-place-write
      // code: fp line intact, generation line pointing at a collected dir.
      val fp = new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8")
        .split("\n")(0)
      java.nio.file.Files.write(marker.toPath,
        s"$fp\ng-deadbeefdeadbeef".getBytes("UTF-8"))
      // the raw write above bypasses Hadoop's ChecksumFileSystem — drop the
      // stale sidecar so the tampered marker is readable, as a plain-FS
      // writer's would be
      new java.io.File(key, "._GRAFT_COMPLETE.crc").delete()
      val again = AnnModels.ivfCentroids(spark, sf)
      assert(rows(again) == first,
        "a marker naming a missing generation must retrain, not serve a dead path")
      again.collect() // the served path must actually be readable
    }
  }

  // --- r16 optimization round: the five new served relations ---------------

  test("minhash candidate pairs build once; served pairs are bit-identical " +
      "to the inline LSH chain and feed the CC labeling without a rebuild") {
    AnnModels.withRoot(freshRoot("mhcand")) {
      val (c0, l0) = (AnnModels.candPairs.builds, AnnModels.candLabels.builds)
      val served = rows(Dedup.minhashLsh(spark, sf))
      assert(AnnModels.candPairs.builds == c0 + 1, "first access must build")
      assert(served == rows(AnnModels.candPairs.build(spark, sf)),
        "artifact-served candidate pairs diverged from the inline LSH chain")
      assert(served.nonEmpty, "construction check: the corpus has candidates")
      // every minhash-family consumer rides the ONE pair build
      Dedup.weightedJaccard(spark, sf).collect()
      Dedup.minhashEstimate(spark, sf).collect()
      val labels = rows(Dedup.clusterAssign(spark, sf))
      assert(AnnModels.candPairs.builds == c0 + 1,
        s"expected ONE candidate build across consumers, got ${AnnModels.candPairs.builds - c0}")
      assert(AnnModels.candLabels.builds == l0 + 1, "labels must build once")
      assert(labels == rows(AnnModels.candLabels.build(spark, sf)),
        "artifact-served CC labeling diverged from the inline star loop")
      assert(AnnModels.candLabels.builds == l0 + 1,
        "the inline parity run must not write the registry")
    }
  }

  test("gopher flags, contamination hits and calibrated keeps: " +
      "registry-served, bit-identical to inline, one build each") {
    AnnModels.withRoot(freshRoot("curation")) {
      val T = graft.operators.TextOps
      val P = graft.operators.Pipeline
      val (g0, d0, k0) = (AnnModels.gopherFlags.builds, AnnModels.dirtyGrams.builds,
        AnnModels.calibKeep.builds)
      assert(rows(T.gopherRules(spark, sf)) == rows(AnnModels.gopherFlags.build(spark, sf)),
        "artifact-served gopher flags diverged from the inline battery")
      assert(rows(P.decontaminate(spark, sf)) == rows(P.decontaminateInline(spark, sf)),
        "artifact-served contamination hits diverged from the inline explode")
      assert(rows(T.qualityCalibrated(spark, sf)) ==
        rows(T.qualityCalibratedOf(T.qualityModel(spark, sf))),
        "artifact-served calibrated keeps diverged from the inline census")
      // the build capstone reads all three — no rebuild on a second pass
      P.build(spark, sf).collect()
      P.buildCalibrated(spark, sf).collect()
      assert(AnnModels.gopherFlags.builds == g0 + 1,
        s"expected ONE gopher build, got ${AnnModels.gopherFlags.builds - g0}")
      assert(AnnModels.dirtyGrams.builds == d0 + 1,
        s"expected ONE contamination build, got ${AnnModels.dirtyGrams.builds - d0}")
      assert(AnnModels.calibKeep.builds == k0 + 1,
        s"expected ONE calibrated build, got ${AnnModels.calibKeep.builds - k0}")
    }
  }

  // --- the declarative table: keys, builds and declared deps ---------------

  test("every registry artifact builds once on first serve, not on the second, " +
      "and serves exactly its build's rows") {
    val root = freshRoot("table")
    AnnModels.withRoot(root) {
      def record = AnnModels.table.map(a => a.name -> a.builds).toMap
      // table order is dependency order: each first serve builds ONLY its
      // own artifact, because everything it reads was served before it
      AnnModels.table.foreach { a =>
        val b0 = record
        val served = a match {
          case r: AnnModels.Relation => Seq(rows(r(spark, sf)))
          case p: AnnModels.Parts => p(spark, sf).map(rows)
        }
        val built = record.collect { case (n, c) if c != b0(n) => n -> (c - b0(n)) }
        assert(built == Map(a.name -> 1), s"${a.name}: first serve built $built")
        val again = a match {
          case r: AnnModels.Relation => r(spark, sf).inputFiles.toSeq
          case p: AnnModels.Parts => p(spark, sf).flatMap(_.inputFiles)
        }
        assert(record == b0.updated(a.name, b0(a.name) + 1),
          s"${a.name}: second serve rebuilt")
        assert(again.nonEmpty && again.forall(_.contains("graft-annmodels-table")),
          s"${a.name}: a serve must scan the model store, got ${again.mkString(",")}")
        val inline = a match {
          case r: AnnModels.Relation => Seq(rows(r.build(spark, sf)))
          case p: AnnModels.Parts =>
            val out = new org.apache.hadoop.fs.Path(freshRoot(s"parts-${p.name}"), "g")
            p.write(spark, sf, out)
            p.parts.map(part => rows(spark.read.parquet(s"$out/$part")))
        }
        assert(served == inline, s"${a.name}: served rows diverge from its build")
      }
    }
    // every artifact a build served is one its key covers
    val byName = AnnModels.table.map(a => a.name -> a).toMap
    val undeclared = AnnModels.readsWhileBuilding.filterNot { case (b, read) =>
      AnnModels.closure(byName(b)).exists {
        case a: AnnModels.Artifact => a.name == read
        case _ => false
      }
    }
    assert(AnnModels.readsWhileBuilding.contains(("calib", "qlog")),
      "construction check: the build record observes what builds read")
    assert(undeclared.isEmpty, s"builds read undeclared artifacts: $undeclared")
  }

  test("key spec: editing a constant group re-keys exactly its transitive " +
      "dependents, and a dataset dir keys separately") {
    import AnnModels.Consts
    val groups = AnnModels.table.flatMap(AnnModels.closure)
      .collect { case c: Consts => c }.distinct
    def keys(edited: Option[Consts], dir: String = "/data"): Map[String, String] =
      AnnModels.table.map(a => a.name -> AnnModels.keyOf(a, dir,
        c => if (edited.contains(c)) "edited" else c.name)).toMap
    val base = keys(None)
    def rekeyed(g: Consts): Set[String] = {
      val k = keys(Some(g))
      base.keySet.filter(n => k(n) != base(n))
    }
    assert(groups.size >= 20, s"constant groups: ${groups.map(_.name)}")
    groups.foreach { g =>
      val downstream = AnnModels.table.filter(AnnModels.closure(_).contains(g)).map(_.name).toSet
      assert(downstream.nonEmpty, s"${g.name} keys nothing")
      assert(rekeyed(g) == downstream, s"${g.name}: re-keyed ${rekeyed(g)}, expected $downstream")
    }
    // the key gaps the hand-written params strings left open
    assert(Set("qualcent", "qtm", "qlr", "qft", "qlrg", "dsir", "dsir8k", "dsirig",
        "dsirsc", "dsirsc8k", "bldqtm", "bldqlr").subsetOf(rekeyed(AnnModels.GopherRules)))
    assert(Set("qualcent", "qtm").subsetOf(rekeyed(AnnModels.Lm)))
    assert(Set("qlog", "calib", "qualcent", "bldcal", "bldmod", "curmod")
      .subsetOf(rekeyed(AnnModels.Stopwords)))
    // the dataset dir is part of every artifact key
    val other = keys(None, "/other")
    assert(AnnModels.table.forall(a => other(a.name) != base(a.name)))
    assert(base.values.toSet.size == base.size, "two artifacts share a key")
  }
}
