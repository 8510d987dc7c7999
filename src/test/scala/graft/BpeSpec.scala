package graft

import org.apache.spark.sql.functions._
import graft.functions.{BpeCoder, BpeExpressions}
import graft.operators.TextOps

/** The native BPE expression vs the builtin replace-chain fold.
  *
  * The fold is exact but caps at O(100) merge rules (one nested call per
  * rule); the native expression holds the table as a rank map in one plan
  * node. These specs pin (1) equality with the Catalyst fold on the shipped
  * toy table over the real corpus, (2) equality with a plain-Scala replay of
  * the fold on a 1,076-rule synthetic table the Catalyst fold cannot plan,
  * and (3) that the DataFrame path (whole-stage codegen calls the same coder
  * through a reference object) matches driver-side interpreted eval.
  */
class BpeSpec extends SparkSpec {
  private val ss = SparkSpec.spark
  import ss.implicits._

  test("newline-bearing tokens: fold, SQL seeds, and native coder agree (DOTALL)") {
    // plain `.` skips '\n' in both Java and RE2 regex — without (?s) the
    // fold/oracle seeds dropped newline chars while the native coder (raw
    // char iteration) kept them; the perturbed-corpus sweep caught the
    // divergence on bulleted multi-line documents
    val d = Seq((1L, "line one\nline two\n- bullet"), (2L, "plain text"))
      .toDF("doc_id", "text")
      .select(TextOps.bpeCount(col("text")).as("native"),
        TextOps.bpeCountFold(col("text")).as("fold"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    d.foreach { case (native, fold) =>
      assert(native == fold, s"newline token diverged: native=$native fold=$fold")
    }
  }

  test("supplementary characters seed as ONE symbol (code points, not UTF-16 units)") {
    // an emoji (U+1F642, a surrogate pair in UTF-16) must seed one BPE
    // symbol; the old charAt loop seeded two unpaired-surrogate symbols
    // that serialized as U+FFFD — the round-11 unicode sweep's failure
    val coder = new BpeCoder(Seq(("a", "b")))
    val syms = coder.encode("🙂x𝕊")
    assert(syms.toSeq == Seq("🙂", "x", "𝕊"))
    assert(coder.countWord("🙂") == 1L)
    // no replacement chars can appear in the re-assembled stream
    val txt = org.apache.spark.unsafe.types.UTF8String.fromString("mixed 🙂 emoji")
    assert(!coder.encodeText(txt).toString.contains('�'))
  }

  test("unicode text: fold, SQL seeds, and native coder agree (code points)") {
    // fold = Spark builtins (code-point semantics); the native coder must
    // match on CJK (no spaces), accents, and supplementary characters
    val d = Seq((1L, "mixed 🙂 ascii 🙃 emoji"),
        (2L, "café naïve résumé"),
        (3L, "数据处理引擎"),
        (4L, "𝕊𝕡𝕒𝕣𝕜 data"))
      .toDF("doc_id", "text")
      .select(TextOps.bpeCount(col("text")).as("native"),
        TextOps.bpeCountFold(col("text")).as("fold"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    d.foreach { case (native, fold) =>
      assert(native == fold, s"unicode token diverged: native=$native fold=$fold")
    }
  }

  test("native BPE count equals the Catalyst fold on the corpus (toy table)") {
    val d = graft.sources.Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        TextOps.bpeCount(col("text")).as("native"),
        TextOps.bpeCountFold(col("text")).as("fold"))
    assert(d.count() > 0)
    assert(d.filter(col("native") =!= col("fold")).count() == 0,
      "native greedy-merge encoder must replay the rank-ordered fold exactly")
  }

  /** Plain-Scala replay of the fold's semantics (apply each rule once, in
    * rank order, via non-overlapping left-to-right string replace on the
    * "|sym;" delimiter representation) — an independent implementation the
    * expression is checked against at table sizes Catalyst cannot fold. */
  private def foldReference(word: String, merges: Seq[(String, String)]): Long = {
    var s = word.map(c => s"|$c;").mkString
    merges.foreach { case (a, b) => s = s.replace(s"|$a;|$b;", s"|$a$b;") }
    s.count(_ == ';').toLong
  }

  /** 1,076 rules satisfying the operand invariant (operands are raw chars
    * or products of EARLIER rules — the structure real trained tables have):
    * all 676 letter pairs, then 400 pairings of the first twenty 2-char
    * products. */
  private val bigTable: Seq[(String, String)] = {
    val letters = ('a' to 'z').map(_.toString)
    val pairs2 = for (a <- letters; b <- letters) yield (a, b)
    val sym2 = pairs2.map { case (a, b) => a + b }.take(20)
    pairs2 ++ (for (x <- sym2; y <- sym2) yield (x, y))
  }

  test("native BPE encodes a 1k-rule table the fold cannot plan") {
    assert(bigTable.size >= 1000)
    val rnd = new scala.util.Random(7)
    val words = Seq("abab", "ababab", "aaaa", "abcde", "zzz", "q", "") ++
      (0 until 200).map(_ => (0 until (1 + rnd.nextInt(12)))
        .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
    val coder = new BpeCoder(bigTable)
    // interpreted eval parity with the independent fold replay
    words.foreach { w =>
      assert(coder.countWord(w) == foldReference(w, bigTable),
        s"'$w': native ${coder.countWord(w)} vs fold-reference ${foldReference(w, bigTable)}")
    }
    // (ab,ab) is a level-2 rule: "abab" collapses to ONE symbol
    assert(coder.encode("abab").toSeq == Seq("abab"))
    // (ab,cd) is NOT a rule (cd is outside the first-20 products)
    assert(coder.encode("abcde").toSeq == Seq("ab", "cd", "e"))
    // codegen path (DataFrame) against the same reference
    val texts = words.filter(_.nonEmpty)
    val got = texts.toDF("text")
      .select(col("text"), BpeExpressions.bpeCount(col("text"), bigTable).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    texts.foreach { w =>
      assert(got(w) == foldReference(w, bigTable),
        s"codegen path diverged from fold reference on '$w'")
    }
  }

  test("bpeTrain reproduces hand-computed Sennrich merges on a toy corpus") {
    // vocab: aaab f=2, ab f=1.
    //  iter1 pairs: (a,a)=4 [two per aaab], (a,b)=3       -> merge (a,a)
    //  iter2: aaab=|aa;|a;|b; -> (aa,a)=2, (a,b)=2+1=3    -> merge (a,b)
    //  iter3: aaab=|aa;|ab;   -> (aa,ab)=2                -> merge (aa,ab)
    //  iter4: no adjacent pairs left -> early stop at 3 of 8 rules
    // bpeTrain's loop is the batched trainer at batch 1: one merge per
    // round, so 3 merging rounds plus the round that finds no pair
    val toy = Seq((0L, "aaab aaab ab")).toDF("doc_id", "text")
    val (table, rounds) = TextOps.bpeTrainBatchedOn(toy, 8, 1)
    val got = table.orderBy("rank")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == Seq((1, "a", "a", 4L), (2, "a", "b", 3L), (3, "aa", "ab", 2L)))
    assert(rounds == 4, s"batch 1 must merge once per round: $rounds rounds")
  }

  test("trained merges satisfy the operand invariant and drive the native encoder") {
    val merges = TextOps.bpeTrain(spark, sf).orderBy("rank")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.size == TextOps.BpeTrainMerges)
    // Training emits rules in rank order, so every operand is a raw char
    // or the product of an EARLIER rule — the exact invariant the
    // rank-ordered encoder relies on (see BpeCoder's scaladoc).
    val products = scala.collection.mutable.Set.empty[String]
    merges.foreach { case (a, b) =>
      assert(a.length == 1 || products.contains(a), s"left operand $a unseen")
      assert(b.length == 1 || products.contains(b), s"right operand $b unseen")
      products += (a + b)
    }
    // The trained table slots straight into the native encoder and matches
    // the independent fold replay — train and encode are one ecosystem.
    Seq("the", "lower", "window", "scan", "partition").foreach { w =>
      assert(new BpeCoder(merges).countWord(w) == foldReference(w, merges))
    }
  }

  /** Driver-side sequential learn_bpe over a word-frequency vocab: each
    * iteration counts every adjacent pair (overlaps included), merges the
    * (count desc, lhs, rhs) winner greedily left-to-right, and stops at
    * `k` rules or when no pair is left. Strings order by code point, as
    * Spark orders them. */
  private def sequentialBpe(vocab: Seq[(String, Long)], k: Int): Seq[(Int, String, String, Long)] = {
    val (o, c) = (TextOps.BpeOpen, TextOps.BpeClose)
    val sym = s"\\Q$o\\E([^$c]*)\\Q$c\\E".r
    var words = vocab.map { case (w, f) =>
      (w.codePoints.toArray.map(cp => o + new String(Character.toChars(cp)) + c).mkString, f)
    }
    def cpOrder(a: String, b: String): Int =
      java.util.Arrays.compare(a.codePoints.toArray, b.codePoints.toArray)
    val merges = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    var done = false
    while (merges.size < k && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      words.foreach { case (s, f) =>
        sym.findAllMatchIn(s).map(_.group(1)).sliding(2).filter(_.size == 2)
          .foreach(p => counts((p(0), p(1))) += f)
      }
      if (counts.isEmpty) done = true
      else {
        val ((a, b), cnt) = counts.toSeq.sortWith { case (((a1, b1), n1), ((a2, b2), n2)) =>
          if (n1 != n2) n1 > n2
          else if (a1 != a2) cpOrder(a1, a2) < 0
          else cpOrder(b1, b2) < 0
        }.head
        merges += ((merges.size + 1, a, b, cnt))
        words = words.map { case (s, f) => (s.replace(s"$o$a$c$o$b$c", s"$o$a$b$c"), f) }
      }
    }
    merges.toSeq
  }

  test("batched training at batch=1 replays sequential training exactly") {
    def tbl(df: org.apache.spark.sql.DataFrame) = df.orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    def vocab(df: org.apache.spark.sql.DataFrame) =
      df.select(explode(graft.functions.wsTokens(col("text"))).as("w"))
        .groupBy("w").count().collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val toy = Seq((0L, "aaab aaab ab")).toDF("doc_id", "text")
    val (batched, _) = TextOps.bpeTrainBatchedOn(toy, 8, 1)
    assert(tbl(batched) == sequentialBpe(vocab(toy), 8),
      "batch size 1 must degenerate to the sequential trainer")
    val corpus = graft.sources.Tables.load(spark, sf, "documents")
    assert(tbl(TextOps.bpeTrain(spark, sf)) ==
      sequentialBpe(vocab(corpus), TextOps.BpeTrainMerges),
      "batch size 1 must match the sequential trainer on the real corpus")
  }

  test("batched training reaches 1,000 merges in O(k/batch) rounds") {
    // 1,200 two-char words over 2,400 distinct codepoints: every candidate
    // pair is symbol-disjoint from every other, so the disjoint-accept rule
    // fills whole batches and 1,000 merges land in ceil(1000/256) = 4
    // rounds — not 1,000 driver round-trips.
    val alpha = (0 until 2400).map(i => (0x100 + i).toChar)
    val words = (0 until 1200).map(i => s"${alpha(2 * i)}${alpha(2 * i + 1)}")
    val df = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val (table, rounds) = TextOps.bpeTrainBatchedOn(df, 1000, 256)
    val merges = table.orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.size == 1000, s"must train all 1,000 merges, got ${merges.size}")
    assert(rounds <= 6, s"job rounds must stay O(k/batch), got $rounds")
    // rank order still satisfies the operands-exist-first invariant
    val products = scala.collection.mutable.Set.empty[String]
    merges.foreach { case (a, b) =>
      assert(a.length == 1 || products.contains(a), s"left operand $a unseen")
      assert(b.length == 1 || products.contains(b), s"right operand $b unseen")
      products += (a + b)
    }
    // the trained table drives the native encoder: accepted words collapse
    // to one symbol, unaccepted words stay two
    val coder = new BpeCoder(merges)
    assert(coder.countWord(words(0)) == 1L, "merged word must encode as one symbol")
    assert(merges.map(p => p._1 + p._2).toSet.forall(w => coder.countWord(w) == 1L))
    val unmergedWords = words.filterNot(merges.map(p => p._1 + p._2).toSet)
    assert(unmergedWords.nonEmpty && coder.countWord(unmergedWords.head) == 2L)
  }

  test("production-count trained chain: one registry train serves table and ids") {
    val root = java.nio.file.Files.createTempDirectory("graft-bpe-big").toString
    graft.operators.AnnModels.withRoot(root) {
      val t0 = graft.operators.AnnModels.bpeMergeTableBig.builds
      val table = graft.operators.AnnModels.bpeMergeTableBig(spark, sf)
        .orderBy("rank").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
      // the 31-word synthetic corpus saturates below the 256 cap: every
      // word eventually collapses to ONE symbol and the pair space empties
      // — the trainer must stop there, not loop, and the table must still
      // satisfy the operands-exist-first invariant at its full length
      assert(table.nonEmpty && table.size <= TextOps.BpeTrainMergesBig)
      assert(table.map(_._1) == (1 to table.size), "ranks dense and ordered")
      val products = scala.collection.mutable.Set.empty[String]
      table.foreach { case (_, a, b) =>
        assert(a.length == 1 || products.contains(a), s"left operand $a unseen")
        assert(b.length == 1 || products.contains(b), s"right operand $b unseen")
        products += (a + b)
      }
      // saturation really happened: every corpus word encodes to one symbol
      val merges = table.map(t => (t._2, t._3))
      val coder = new BpeCoder(merges)
      val words = graft.sources.Tables.load(spark, sf, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0).distinct().collect().map(_.getString(0))
      assert(words.forall(w => coder.countWord(w) == 1L),
        "pair space exhausted means every word is a single symbol")
      // the ids query reuses the SAME artifact — zero extra training passes
      val ids = TextOps.bpeTrainedIdsBig(spark, sf)
      assert(ids.filter(col("n_tokens") > 0).count() > 0)
      assert(graft.operators.AnnModels.bpeMergeTableBig.builds == t0 + 1,
        s"big table must train exactly once, got ${graft.operators.AnnModels.bpeMergeTableBig.builds - t0}")
    }
  }

  test("trained-tokenizer pack conserves the trained token budget") {
    val root = java.nio.file.Files.createTempDirectory("graft-bpe-pack").toString
    graft.operators.AnnModels.withRoot(root) {
      // two independent computations of the trained budget — the pack
      // manifest total (BpeCountExpr over the trained table) must equal the
      // id-stream lengths (encode + split + size)
      val packed = graft.operators.Pipeline.packTrained(spark, sf)
        .agg(sum(col("n_tokens"))).head.getLong(0)
      val ids = TextOps.bpeTrainedIds(spark, sf)
        .agg(sum(col("n_tokens"))).head.getLong(0)
      assert(packed == ids, s"pack total $packed != id-stream total $ids")
      assert(packed > 0)
      // the production-count chain conserves its own (different) budget
      val packedBig = graft.operators.Pipeline.packTrainedBig(spark, sf)
        .agg(sum(col("n_tokens"))).head.getLong(0)
      val idsBig = TextOps.bpeTrainedIdsBig(spark, sf)
        .agg(sum(col("n_tokens"))).head.getLong(0)
      assert(packedBig == idsBig, s"256 pack total $packedBig != id-stream total $idsBig")
      // more merges -> strictly fewer tokens on this corpus (89 > 8 rules)
      assert(packedBig < packed,
        s"the 256-cap table must compress beyond the k=8 toy: $packedBig >= $packed")
    }
  }

  test("bpe encode emits the token stream whose length is the count") {
    val d = graft.sources.Tables.load(spark, sf, "documents")
      .select(TextOps.bpeCount(col("text")).as("n"),
        BpeExpressions.bpeEncode(col("text"), TextOps.BpeMerges).as("t"))
    assert(d.count() > 0)
    assert(d.filter(size(split(col("t"), " ")) =!= col("n")).count() == 0,
      "token stream length must equal the count expression")
    // hand case under the toy table: t+h, th+e make "the" one symbol;
    // t+h, i+n, in+g leave "thing" as [th, ing]
    val one = Seq("the thing").toDF("text")
      .select(BpeExpressions.bpeEncode(col("text"), TextOps.BpeMerges))
      .head().getString(0)
    assert(one == "the th ing")
  }

  test("vocab ids are unique and the id encoding round-trips the token stream") {
    val vocab = TextOps.bpeVocab(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    assert(vocab.map(_._1).distinct.length == vocab.length, "token ids must be unique")
    assert(vocab.map(_._2).distinct.length == vocab.length, "tokens must be unique")
    assert(vocab.exists(_._3 == "char") && vocab.exists(_._3 == "merge"))
    val byId = vocab.map(t => t._1 -> t._2).toMap
    val enc = TextOps.bpeEncode(spark, sf).select("doc_id", "bpe_text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    TextOps.bpeIds(spark, sf).collect().foreach { r =>
      val ids = r.getString(1).split(" ")
      // totality: a missing vocab entry would null out and array_join
      // would silently shorten the sequence
      assert(ids.length == r.getInt(2), s"doc ${r.getLong(0)} dropped tokens")
      assert(ids.map(s => byId(s.toInt)).mkString(" ") == enc(r.getLong(0)),
        s"doc ${r.getLong(0)} id sequence must decode back to the token stream")
    }
  }

  test("boundary-preserving decode restores the normalized text exactly") {
    val got = TextOps.bpeDecode(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getInt(3) == 1, s"doc ${r.getLong(0)} failed the round trip")
    }
    // hand case under the toy table: "the" is one symbol (id lookup), "ab"
    // merges — word boundaries must survive as spaces, commas stay within
    // words, and double spaces normalize away
    val one = got.head
    assert(one.getString(1).matches("[0-9,]+( [0-9,]+)*"),
      "ids_text must be comma-within-word, space-between-words")
  }

  test("native BPE splits like split(text, ' ') — empty tokens count zero") {
    val got = Seq("the  and", " the", "the ", "")
      .toDF("text").select(TextOps.bpeCount(col("text")).as("n"))
      .collect().map(_.getLong(0)).toSeq
    // "the" and "and" are single symbols under the toy table; empty words 0
    assert(got == Seq(2L, 1L, 1L, 0L))
  }

  test("fertility audit aggregates the per-document counters exactly") {
    import org.apache.spark.sql.functions._
    val perDoc = graft.operators.TextOps.tokens(spark, sf)
      .join(graft.sources.Tables.load(spark, sf, "documents")
        .select(col("doc_id"), col("lang"), octet_length(col("text")).as("nb"),
          // non-empty words — the audit's denominator (empty split tokens
          // carry zero BPE symbols and are excluded on both sides)
          size(filter(split(col("text"), " "), w => length(w) > 0)).as("nw")),
        Seq("doc_id"))
      .collect()
      .groupBy(_.getAs[String]("lang"))
      .map { case (lang, rows) =>
        val (w, b, by) = (rows.map(_.getAs[Int]("nw").toLong).sum,
          rows.map(_.getAs[Long]("n_bpe_real")).sum,
          rows.map(_.getAs[Int]("nb").toLong).sum)
        lang -> ((rows.size.toLong, w, b, b * 1000000L / w, by * 1000000L / b))
      }
    val got = graft.operators.TextOps.bpeFertility(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got == perDoc, s"fertility table must equal the per-doc rollup: $got vs $perDoc")
    // every non-empty word is at least one BPE token, so fertility >= 1.0
    assert(got.values.forall(_._4 >= 1000000L), s"fertility below 1.0: $got")
    // the >= 1.0 floor survives whitespace runs (empty split tokens are
    // excluded) and an all-whitespace group yields NULL ratios, not a
    // divide-by-zero crash under ANSI mode
    val sp = spark
    import sp.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-fert").toString
    Seq((1L, "a  b", "xx", "s", 4L), (2L, "   ", "yy", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val edge = graft.operators.TextOps.bpeFertility(spark, tmp).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(edge("xx").getLong(2) == 2L && edge("xx").getLong(4) >= 1000000L,
      s"double space must not deflate fertility: ${edge("xx")}")
    assert(edge("yy").isNullAt(4) && edge("yy").isNullAt(5),
      s"all-whitespace group must yield NULL ratios: ${edge("yy")}")
  }
}
