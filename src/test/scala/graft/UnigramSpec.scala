package graft

import org.apache.spark.sql.functions._
import graft.operators.{AnnModels, TextOps, UnigramLm}

/** The unigram-LM tokenizer family (r15): trainer invariants, the
  * Viterbi segmentation contract, registry serving, and the fertility
  * comparison against the BPE family. */
class UnigramSpec extends SparkSpec {

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-uni-$tag").toString

  test("vocabulary covers every corpus character and respects the budget") {
    AnnModels.withRoot(freshRoot("vocab")) {
      val vocab = UnigramLm.unigramVocab(spark, sf).collect()
      val pieces = vocab.map(_.getString(1)).toSet
      // every character of every non-empty word must be a piece (the DP's
      // totality fallback)
      val chars = graft.sources.Tables.load(spark, sf, "documents")
        .select(explode(split(col("text"), " ", -1)).as("w"))
        .filter(length(col("w")) > 0)
        .select(explode(split(col("w"), "")).as("c"))
        .distinct().collect().map(_.getString(0)).toSet
      assert(chars.subsetOf(pieces),
        s"missing character pieces: ${(chars -- pieces).take(5)}")
      // the PRUNE budget itself (the seed-budget bound also
      // passed when the 256-cap stopped applying): beyond the mandatory
      // single characters, at most UniVocab − |chars| multi-char pieces
      val nMulti = vocab.count(_.getString(1).length > 1)
      assert(nMulti <= UnigramLm.UniVocab - chars.size,
        s"$nMulti multi-char pieces exceed the post-prune budget " +
          s"${UnigramLm.UniVocab} - ${chars.size}")
      // ids are the dense 0..n-1 rank over piece order
      val ids = vocab.sortBy(_.getString(1)).map(_.getInt(0)).toSeq
      assert(ids == ids.indices.map(identity),
        "token ids must be the dense rank over piece ASC")
      // costs are positive (add-one smoothing keeps every ratio > 1)
      assert(vocab.forall(_.getLong(3) > 0), "non-positive piece cost")
    }
  }

  test("viterbi segmentation concatenates back to the word and is total") {
    AnnModels.withRoot(freshRoot("seg")) {
      val costs = UnigramLm.unigramVocab(spark, sf).collect()
        .map(r => r.getString(1) -> r.getLong(3)).toMap
      val words = graft.sources.Tables.load(spark, sf, "documents")
        .select(explode(split(col("text"), " ", -1)).as("w"))
        .filter(length(col("w")) > 0).distinct()
      val bad = words
        .select(col("w"), UnigramLm.viterbiSeg(col("w"), costs).as("seg"))
        .filter(call_function("replace", col("seg"), lit(" "), lit("")) =!= col("w"))
        .count()
      assert(bad == 0, s"$bad words whose pieces do not concatenate back")
    }
  }

  test("a dominant repeated substring becomes a multi-character piece " +
      "and compresses the encoding below character level") {
    val sp = spark
    import sp.implicits._
    AnnModels.withRoot(freshRoot("learn")) {
      val dir = java.nio.file.Files.createTempDirectory("graft_unilearn").toString
      // 'abab' dominates; 'xy' is rare filler so chars x/y stay cheap-ish
      (0L until 80L).map(i => (i,
        if (i % 8 == 7) "xy xy" else "abab abab abab", "en", "src0"))
        .toDF("doc_id", "text", "lang", "source")
        .write.parquet(s"$dir/documents.parquet")
      val vocab = UnigramLm.unigramVocab(spark, dir).collect()
      val pieces = vocab.map(_.getString(1)).toSet
      assert(pieces.contains("abab"),
        s"the dominant substring must survive training: $pieces")
      val ids = UnigramLm.unigramIds(spark, dir)
        .filter(col("doc_id") === 0L).collect().head
      // 'abab abab abab' = 12 chars; with the learned piece it must
      // encode to exactly 3 tokens
      assert(ids.getInt(2) == 3,
        s"dominant word must encode as one piece per word, got ${ids.getInt(2)}")
    }
  }

  test("registry serving: one training pass, served == inline") {
    AnnModels.withRoot(freshRoot("serve")) {
      val t0 = AnnModels.uniVocab.builds
      val served = UnigramLm.unigramVocab(spark, sf).collect()
        .map(_.toSeq).toSet
      assert(AnnModels.uniVocab.builds == t0 + 1, "first access must train")
      UnigramLm.unigramIds(spark, sf).count()
      UnigramLm.unigramFertility(spark, sf).count()
      assert(AnnModels.uniVocab.builds == t0 + 1,
        "the id and fertility consumers must serve the artifact, not retrain")
      val inline = UnigramLm.uniTrainOf(
        graft.sources.Tables.load(spark, sf, "documents")).collect()
        .map(_.toSeq).toSet
      assert(served == inline, "served vocabulary diverges from inline training")
    }
  }

  test("the production budget BINDS on a large-vocabulary corpus: both " +
      "prunes hit their caps exactly, 1k keeps 4x the toy's pieces") {
    val sp = spark
    import sp.implicits._
    AnnModels.withRoot(freshRoot("bind")) {
      val dir = java.nio.file.Files.createTempDirectory("graft_unibind").toString
      // 3000 distinct 6-char words → ≥3000 distinct 4-char substring
      // candidates (the embedded 4-digit number alone), far past both
      // seed budgets — on the shipped corpora neither budget binds
      // (228 candidates total), so this is where the two variants
      // provably differ
      (0L until 3000L).map(i => (i,
          f"w$i%04dx w${(i + 7) % 3000}%04dx", "en", "src0"))
        .toDF("doc_id", "text", "lang", "source")
        .write.parquet(s"$dir/documents.parquet")
      val toy = UnigramLm.unigramVocab(spark, dir).collect()
      val big = UnigramLm.unigramVocabBig(spark, dir).collect()
      val nChars = toy.count(_.getString(1).length == 1)
      assert(nChars == big.count(_.getString(1).length == 1))
      assert(toy.count(_.getString(1).length > 1) == UnigramLm.UniVocab - nChars,
        "the toy prune must bind exactly at its cap")
      assert(big.count(_.getString(1).length > 1) == UnigramLm.UniVocabBig - nChars,
        "the production prune must bind exactly at its cap")
    }
  }

  test("fertility, BUDGET-MATCHED (r16, VERDICT r15 #4): under equal " +
      "256-budgets the trained BPE wins this corpus; the r15 'strictly " +
      "better' pin was a budget artifact") {
    AnnModels.withRoot(freshRoot("fert")) {
      val uni = UnigramLm.unigramFertility(spark, sf).collect()
        .map(r => r.getString(0) -> r.getLong(4)).toMap
      val uniBig = UnigramLm.unigramFertilityBig(spark, sf).collect()
        .map(r => r.getString(0) -> r.getLong(4)).toMap
      val bpeBig = TextOps.bpeFertilityBig(spark, sf).collect()
        .map(r => r.getString(0) -> r.getLong(4)).toMap
      val bpeToy = TextOps.bpeFertility(spark, sf).collect()
        .map(r => r.getString(0) -> r.getLong(4)).toMap
      assert(uni.keySet == bpeBig.keySet && uni.keySet == bpeToy.keySet &&
        uni.keySet == uniBig.keySet, "the audits must cover the same languages")
      uni.keySet.foreach { lang =>
        // ≥ 1.0 floor everywhere (each non-empty word is ≥ 1 token)
        Seq(uni, uniBig, bpeBig, bpeToy).foreach(m =>
          assert(m(lang) >= 1000000L, s"$lang fertility below the floor"))
        // The HONEST budget-matched row: 256 trained merges fully merge
        // this small-vocab corpus (fertility exactly 1.0 — BPE's merge
        // depth is unbounded), while the unigram family is floored at
        // ceil(len/4) pieces per word by its UniMaxPieceLen=4 DP fan-in
        // cap — so at matched budgets BPE compresses at least as well
        // here. The unigram family's value is the probabilistic-cost
        // segmentation and width-independent replay, NOT a fertility win.
        assert(bpeBig(lang) <= uni(lang) && bpeBig(lang) <= uniBig(lang),
          s"$lang: budget-matched BPE ${bpeBig(lang)} vs unigram ${uni(lang)}")
        // the r15 comparison (256 unigram pieces vs the 8-merge TOY
        // table) flips the other way — kept as proof that it measured
        // budget, not algorithm
        assert(uni(lang) < bpeToy(lang),
          s"$lang: the toy-budget foil inverted: ${uni(lang)} vs ${bpeToy(lang)}")
      }
    }
  }
}
