package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.CatalystBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native hashed char-bigram bucket counts for the learned language model
  * (TextOps.langidModel).
  *
  * The declarative formulation — split(text, "") to a per-char array, then
  * `buckets` separate filter() passes over a transform(sequence(...)) bigram
  * array — walks interpreted higher-order-function lambdas: O(buckets · len)
  * per document with per-element Column-lambda overhead, measured at ~21 s
  * for the sf0.1 scoring pass. This expression makes ONE pass over the
  * string (O(len)), incrementing a small long[] histogram — the same shape
  * ShingleExpressions gives the dedup path.
  *
  * Bucket rule (shared verbatim with the SQL oracle):
  * (codepoint(c_i) * 31 + codepoint(c_{i+1})) mod buckets — CODE POINTS,
  * exactly the oracle's ascii(substr(text, i, 1)) over code-point
  * positions. (A charAt loop would hash surrogate halves of
  * supplementary characters and count UTF-16 positions, diverging from
  * the oracle on any non-BMP text — caught by the round-11 unicode
  * parity sweep. cp*31+cp' stays far below Int overflow: max code point
  * 0x10FFFF gives ~34.7M.) */
object LangidBytes {
  def bucketCounts(text: UTF8String, buckets: Int): GenericArrayData = {
    val s = text.toString
    val out = new Array[Long](buckets)
    var i = 0
    var prev = -1
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (prev >= 0) out((prev * 31 + cp) % buckets) += 1L
      prev = cp
      i += Character.charCount(cp)
    }
    new GenericArrayData(out)
  }

  private val Und = UTF8String.fromString("und")

  /** Rocchio argmax over the bucket histogram: highest integer dot product
    * Σ_b cnt_b·w_{l,b} wins; ties go to the lexically smallest language
    * (langs arrive sorted ascending and the scan keeps the FIRST strict
    * maximum); a bigram-less histogram (total 0) or an empty model scores
    * 'und'. Plain nested long loops — |langs|·buckets multiply-adds per
    * document in one pass, no per-language expression tree. */
  def argmax(cnt: ArrayData, w: Array[Array[Long]],
      langs: Array[UTF8String]): UTF8String = {
    val b = cnt.numElements()
    var tot = 0L
    var i = 0
    while (i < b) { tot += cnt.getLong(i); i += 1 }
    if (tot == 0L || langs.length == 0) Und
    else {
      var best = 0
      var bestSc = Long.MinValue
      var l = 0
      while (l < langs.length) {
        val wl = w(l)
        var sc = 0L
        var j = 0
        while (j < b) { sc += cnt.getLong(j) * wl(j); j += 1 }
        if (sc > bestSc) { bestSc = sc; best = l }
        l += 1
      }
      langs(best)
    }
  }
}

case class BigramBucketCountsExpr(child: Expression, buckets: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_bigram_buckets"

  override def nullSafeEval(input: Any): Any =
    LangidBytes.bucketCounts(input.asInstanceOf[UTF8String], buckets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"${ev.value} = graft.functions.LangidBytes.bucketCounts($c, $buckets);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The model-holding argmax as ONE plan node (the BpeCountExpr recipe
  * applied to scoring): the previous formulation compiled one inlined
  * aggregate/zip_with candidate per language into a single projection, so
  * the expression tree grew linearly in |langs| and a model-sized language
  * set (fastText ships 176) would hit Catalyst codegen limits and fall
  * back to interpreted eval — the exact blow-up the BPE replace-chain had.
  * Here the whole |langs|×buckets weight matrix rides along
  * as a referenced object and scoring is a nested long loop in
  * [[LangidBytes.argmax]]; the tree is one node at ANY language count. */
case class LangidArgmaxExpr(child: Expression, langs: Seq[String],
    weights: Seq[Seq[Long]]) extends UnaryExpression {

  require(langs.size == weights.size, "one weight row per language")

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_langid_argmax"

  @transient private lazy val mat: Array[Array[Long]] = weights.map(_.toArray).toArray
  @transient private lazy val names: Array[UTF8String] =
    langs.map(UTF8String.fromString).toArray

  override def nullSafeEval(input: Any): Any =
    LangidBytes.argmax(input.asInstanceOf[ArrayData], mat, names)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val matRef = ctx.addReferenceObj("langidWeights", mat, "long[][]")
      val namesRef = ctx.addReferenceObj("langidNames", names,
        "org.apache.spark.unsafe.types.UTF8String[]")
      s"${ev.value} = graft.functions.LangidBytes.argmax($c, $matRef, $namesRef);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LangidExpressions {
  /** Column wrapper: per-row long[buckets] histogram of hashed char
    * bigrams, one codegen'd pass per document. */
  def bigramBuckets(text: Column, buckets: Int): Column =
    CatalystBridge.column(BigramBucketCountsExpr(CatalystBridge.expression(text), buckets))

  /** Column wrapper: the model-holding Rocchio argmax — `langs` must be
    * sorted ascending (the tie rule relies on it). */
  def argmaxLang(cnt: Column, langs: Seq[String], weights: Seq[Seq[Long]]): Column =
    CatalystBridge.column(LangidArgmaxExpr(CatalystBridge.expression(cnt), langs, weights))
}
