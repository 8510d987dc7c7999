package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.CatalystBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native shingling + MinHash for the dedup hot path (SURVEY §2E, §5).
  *
  * The declarative formulation (split → transform(sequence) → slice →
  * concat_ws → md5 per permutation) walks interpreted higher-order-function
  * lambdas and allocates a fresh MessageDigest per md5() call — measured at
  * ~7 s per dedup query at sf0.1, almost all of it in per-element overhead.
  * These expressions do one byte-level pass per document:
  *
  *  - token boundaries are found by scanning for the 0x20 byte (documents
  *    are single-space tokenized; matches string_split(text, ' '));
  *  - an n-token shingle is a zero-copy slice of the original utf8 bytes
  *    (identical bytes to array_to_string(toks[i:i+n-1], ' '));
  *  - MinHash hashes each shingle ONCE with a reused MessageDigest and
  *    derives all k permutation hashes from the two 64-bit digest halves
  *    (see MinHashSigExpr).
  */
case class WordShinglesExpr(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val starts = ShingleBytes.tokenStarts(bytes)
    val numToks = starts.length
    val count = math.max(numToks - n + 1, 0)
    val out = new Array[AnyRef](count)
    var i = 0
    while (i < count) {
      val from = starts(i)
      val until = if (i + n < numToks) starts(i + n) - 1 else bytes.length
      out(i) = UTF8String.fromBytes(bytes, from, until - from)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** k MinHash values over the n-token shingles of a single-space-tokenized
  * text column, via the derived-hash family (Broder's classic construction):
  * ONE md5 per shingle supplies two 64-bit halves (h1 = digest bytes 0-7
  * big-endian, h2 = bytes 8-15), and permutation p's hash is
  * h1 + p * h2 (mod 2^64), minimized per permutation with UNSIGNED order.
  *
  * One md5 per shingle instead of k — the dominant cost of the dedup
  * pipeline at 100 TB drops k-fold — and the bucket key becomes an 8-byte
  * long instead of a 32-char hex string, shrinking the LSH shuffle ~4x.
  * The SQL oracle replays it exactly: hex-parse the same md5 halves as
  * HUGEINT and reduce (h1 + p*h2) mod 2^64 — Java's wrapping long
  * arithmetic and unsigned comparison order coincide with the canonical
  * mod-2^64 values. */
case class MinHashSigExpr(child: Expression, k: Int, n: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  @transient private lazy val md = MessageDigest.getInstance("MD5")

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val starts = ShingleBytes.tokenStarts(bytes)
    val numToks = starts.length
    val count = math.max(numToks - n + 1, 0)
    if (count == 0) return new GenericArrayData(Array.empty[Any])
    val mins = new Array[Long](k)
    var i = 0
    while (i < count) {
      val from = starts(i)
      val until = if (i + n < numToks) starts(i + n) - 1 else bytes.length
      md.reset()
      md.update(bytes, from, until - from)
      val digest = md.digest()
      val h1 = ShingleBytes.longBE(digest, 0)
      val h2 = ShingleBytes.longBE(digest, 8)
      var p = 0
      var h = h1
      while (p < k) {
        if (i == 0 || java.lang.Long.compareUnsigned(h, mins(p)) < 0) mins(p) = h
        h += h2 // (h1 + (p+1) * h2) mod 2^64 via wrapping add
        p += 1
      }
      i += 1
    }
    new GenericArrayData(mins.map(x => x: Any))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 64-bit SimHash over the single-space tokens of a text column (Charikar's
  * construction). Each token's md5 is computed ONCE with a reused digest;
  * bit j of the big-endian FIRST digest half (the same h1 64-bit read
  * MinHashSigExpr uses) votes +1/-1, and bit j of the result is the
  * majority. 64 bits keep the hamming<=2 pigeonhole blocks ~21 bits wide,
  * so organic near-dup bucket populations stay bounded as the corpus grows —
  * a 16-bit space has only 32-64 values per block and saturates at ~1e5
  * docs, exactly where a 100 TB dedup run lives. The SQL oracle replays bit
  * j by hex-parsing digit 16 - j/4 of md5(token) and reading nibble bit
  * j%4 (big-endian hex == the same 64-bit value). */
case class SimHash64Expr(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  @transient private lazy val md = MessageDigest.getInstance("MD5")

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val starts = ShingleBytes.tokenStarts(bytes)
    val votes = new Array[Int](64)
    var i = 0
    while (i < starts.length) {
      val from = starts(i)
      val until = if (i + 1 < starts.length) starts(i + 1) - 1 else bytes.length
      md.reset()
      md.update(bytes, from, until - from)
      val h = ShingleBytes.longBE(md.digest(), 0)
      var j = 0
      while (j < 64) {
        votes(j) += ((((h >>> j) & 1L).toInt) << 1) - 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) out |= (1L << j)
      j += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleBytes {
  /** Byte offsets where tokens start (split on single 0x20; 0x20 never
    * occurs inside a multi-byte utf8 sequence). */
  def tokenStarts(bytes: Array[Byte]): Array[Int] = {
    if (bytes.isEmpty) return Array(0)
    val starts = new scala.collection.mutable.ArrayBuffer[Int](bytes.length / 5 + 1)
    starts += 0
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) == 0x20) starts += i + 1
      i += 1
    }
    starts.toArray
  }

  /** Big-endian 64-bit read (matches parsing the hex string left to right). */
  def longBE(bytes: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (bytes(off + i) & 0xffL); i += 1 }
    v
  }

  private val HexChars = "0123456789abcdef".toCharArray

  def hex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      out(i * 2) = HexChars(b >> 4)
      out(i * 2 + 1) = HexChars(b & 0xf)
      i += 1
    }
    new String(out)
  }
}

object ShingleExpressions {
  def shingles(text: Column, n: Int): Column =
    CatalystBridge.column(WordShinglesExpr(CatalystBridge.expression(text), n))

  def minhashSig(text: Column, k: Int, n: Int): Column =
    CatalystBridge.column(MinHashSigExpr(CatalystBridge.expression(text), k, n))

  def simhash64(text: Column): Column =
    CatalystBridge.column(SimHash64Expr(CatalystBridge.expression(text)))
}
