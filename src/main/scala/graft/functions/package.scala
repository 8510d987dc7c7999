package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.UnscaledValue
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CatalystBridge

/** Column-level building blocks shared across operators.
  *
  * Everything here is pure `org.apache.spark.sql.functions` composition —
  * codegen'd by Catalyst, no UDFs — and each helper has an exact ANSI-SQL
  * mirror used in the DuckDB oracles (see SparkEntry.oracleSql), so results
  * are hash-comparable bit-for-bit.
  *
  * Hash family: md5 over utf8 bytes. The reference's MapReduce shuffle
  * partitions by `HashPartitioner` over Writable hashCodes; we need a hash
  * both Spark and the SQL oracle can replay, so the md5 hex string *is* the
  * portable hash domain (lexicographic order on hex == order on the 128-bit
  * value).
  */
package object functions {

  /** Whitespace tokens; mirror: string_split(text, ' '). */
  def wsTokens(c: Column): Column = split(c, " ")

  /** Lowercase hex md5 of a string column; mirror: md5(c). */
  def md5Hex(c: Column): Column = md5(c.cast("binary"))

  /** Oracle-SQL fragment parsing `digits` hex chars of SQL expression `m`
    * (1-based index `from`) as an integer — the ONE hex parser every oracle
    * builder shares (Dedup 64-bit halves, Extras 52-bit sketch hashes,
    * Pipeline split/sampling buckets), so a change to the digit scheme
    * cannot drift between them. `huge = true` casts terms to HUGEINT
    * (needed from 16 digits, where BIGINT terms overflow). */
  def hexIntSql(m: String, from: Int, digits: Int, huge: Boolean = false): String =
    (0 until digits).map { j =>
      val pow = BigInt(16).pow(digits - 1 - j)
      val hv = s"(strpos('0123456789abcdef', substr($m, ${from + j}, 1)) - 1)"
      if (huge) s"CAST($hv AS HUGEINT) * $pow" else s"$hv * $pow"
    }.mkString("(", " + ", ")")

  /** 52-bit portable hash of a column's decimal-string form — the salting
    * hash: uniform regardless of the id distribution (raw id-mod salting
    * collapses strided ids into one group). Mirror:
    * CAST(hexIntSql("md5(CAST(c AS VARCHAR))", 1, 13) AS BIGINT). */
  def hash52(c: Column): Column =
    conv(substring(md5(c.cast("string").cast("binary")), 1, 13), 16, 10).cast("long")

  /** Oracle-SQL mirror of [[hash52]] for a SQL expression `c`. */
  def hash52Sql(c: String): String =
    s"CAST(${hexIntSql(s"md5(CAST($c AS VARCHAR))", 1, 13)} AS BIGINT)"

  /** Full 64-bit portable hash — the first md5 digest half as a SIGNED
    * long (two's complement of hex digits 1-16, the same h1 read
    * MinHashSigExpr derives). Used where hashed values stand in for SET
    * ELEMENTS (dedup verification shingle sets, posting-list keys): at
    * web scale, billions of distinct shingles make 52-bit collisions —
    * which would merge distinct elements and inflate intersections —
    * expected; 2^-64 per pair keeps them negligible. Spark assembles
    * hi<<32 | lo from two 8-digit conv() parses (a single 16-digit conv
    * overflows the signed-long cast); the wrapping shift IS the
    * two's-complement reinterpretation the SQL mirror replays. */
  def hash64(c: Column): Column = {
    val m = md5(c.cast("string").cast("binary"))
    shiftleft(conv(substring(m, 1, 8), 16, 10).cast("long"), 32)
      .bitwiseOR(conv(substring(m, 9, 8), 16, 10).cast("long"))
  }

  /** Oracle-SQL mirror of [[hash64]]: unsigned 64-bit value as HUGEINT,
    * then the signed two's-complement fold-down to BIGINT. */
  def hash64Sql(c: String): String = {
    val m = s"md5(CAST($c AS VARCHAR))"
    val u = s"(CAST(${hexIntSql(m, 1, 8)} AS HUGEINT) * 4294967296 + ${hexIntSql(m, 9, 8)})"
    s"CAST(CASE WHEN $u >= CAST('9223372036854775808' AS HUGEINT) " +
      s"THEN $u - CAST('18446744073709551616' AS HUGEINT) ELSE $u END AS BIGINT)"
  }

  /** n-word shingles of a token array, empty when fewer than n tokens.
    * Mirror: list_transform(generate_series(1, len(toks)-(n-1)),
    *                        i -> array_to_string(toks[i:i+n-1], ' '))
    * (DuckDB generate_series(1,0) is empty; Spark sequence(1,0) is NOT —
    * hence the `when` guard.) */
  def wordShingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** LEGACY declarative MinHash (k seeded-md5 min-hashes over a shingle
    * array; element i = min over shingles s of md5("<i>|<s>")). NOT the
    * pipeline's hash family: the gated dedup path uses the native
    * derived-hash `ShingleExpressions.minhashSig` (one md5 per shingle,
    * long values). Kept as the naive per-permutation formulation the
    * native expression is measured against (10-30x slower). */
  def minhashSignature(shingleCol: Column, k: Int): Column =
    array((0 until k).map { i =>
      array_min(transform(shingleCol, s => md5(concat(lit(s"$i|"), s).cast("binary"))))
    }: _*)

  /** Double-precision dot product of two float-array columns, summed left to
    * right so it is bit-identical to the oracle's
    * list_sum(list_transform(generate_series(1,d), i -> a[i]::DOUBLE * b[i]::DOUBLE)).
    * HOF reference implementation; the hot path uses the fused codegen
    * expression in VectorExpressions (same accumulation order → same bits). */
  def dotDHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Cosine similarity in double precision: dot / (sqrt(na) * sqrt(nb)). */
  def cosineSimHof(a: Column, b: Column): Column =
    dotDHof(a, b) / (sqrt(dotDHof(a, a)) * sqrt(dotDHof(b, b)))

  /** Native single-pass codegen cosine — the production path. */
  def cosineSim(a: Column, b: Column): Column = VectorExpressions.cosine(a, b)

  /** Money-safe aggregation input: exact decimal, order-independent sums. */
  def dec(c: Column, p: Int = 12, s: Int = 2): Column = c.cast(s"decimal($p,$s)")

  /** Exact decimal sum surfaced as double (schema parity with the oracle). */
  def dsum(c: Column): Column = sum(c).cast("double")

  /** [[dec]] as its unscaled long: the same rounded decimal, counted in
    * units of 10^-s (cents at s = 2). Long arithmetic on it is exact until
    * it overflows, and under ANSI an overflow raises ARITHMETIC_OVERFLOW
    * instead of wrapping. Mirror: CAST(CAST(c AS DECIMAL(p,s)) * 10^s AS
    * BIGINT). */
  def unscaled(c: Column, p: Int = 12, s: Int = 2): Column = {
    require(p <= 18, s"unscaled($p,$s): a long holds at most 18 digits")
    CatalystBridge.column(UnscaledValue(CatalystBridge.expression(dec(c, p, s))))
  }

  /** [[dsum]] over long partials of unscaled values at scale `s`: the
    * partials merge as DECIMAL(38,0) and become a double once, through
    * `sum / 10^s`, so the result equals `dsum` over the decimals bit for
    * bit. A caller sums per input split first (one long per split and
    * group) and merges those here; one long per group would overflow long
    * before the decimal sum does. */
  def dsumUnscaled(partials: Column, s: Int): Column =
    (sum(partials.cast("decimal(38,0)")) /
      lit(new java.math.BigDecimal(java.math.BigInteger.TEN.pow(s)))).cast("double")

  /** A group's non-null values as ascending doubles: the input of
    * [[percentileSorted]]. One list per group replaces `percentile`'s
    * value-to-count map, which costs more when most values are distinct. */
  def sortedDoubles(c: Column): Column = sort_array(collect_list(c.cast("double")))

  /** Spark `percentile(x, p)` over [[sortedDoubles]] `a`, bit for bit:
    * pos = (size(a) - 1) * p; the element at pos when pos is integral or
    * its two neighbours are equal, else (ceil - pos) * lo + (pos - floor)
    * * hi. Null for an empty group. Oracle: quantile_cont(x, p), compared
    * after round(_, 6). */
  def percentileSorted(a: Column, p: Double): Column = {
    val pos = (size(a) - 1) * lit(p)
    val (f, c) = (floor(pos), ceil(pos))
    val (lo, hi) = (get(a, f.cast("int")), get(a, c.cast("int")))
    when(f === c || lo === hi, lo).otherwise((c - pos) * lo + (pos - f) * hi)
  }
}
