package graft.expr

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash over a token array — a native Catalyst expression with
  * whole-stage codegen (`doGenCode` emits a call into the static kernel),
  * not a UDF: it stays inside the generated stage, so the near-dup
  * fingerprint of a 100 TB corpus is one codegen'd projection over the
  * scan, no serialization fence.
  *
  * Semantics: each token hashes to 64 bits (XXH64, fixed seed); bit b of
  * the signature is 1 iff more tokens have bit b set than clear
  * (duplicate tokens count multiply — standard term-frequency-weighted
  * SimHash). Near-duplicate docs differ in few bits (small Hamming
  * distance).
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash64 requires array<string>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    SimHash64.simhash(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.expr.SimHash64.simhash($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** 128-bit SimHash over a token array — the log₂(corpus)-grown
  * signature width the 100-TB deployment answer needs (r13 verdict
  * task 1): with 64 bits, sub-band blocking forces a choice between a
  * constant-FRACTION candidate volume (4×16-bit bands: 4/2¹⁶ of
  * all-pairs — quadratic at 10⁹ docs) and a collapsed pigeonhole
  * guarantee (2×32-bit bands: radius ≤ 1). 128 bits dissolve the
  * trade: 4×32-bit bands are simultaneously collision-free
  * (4/2³² ≈ 9e-10 of all-pairs — O(N) expected random collisions at
  * 10⁹ docs) and radius-3-complete over the 128-bit metric.
  *
  * Output is `array<bigint>` [lo, hi]. The LOW half is bit-identical
  * to [[SimHash64]] (same XXH64 seed 42 per token), so the production
  * Hamming-≤3-on-64-bits contract (q55/q56 — untouched) remains
  * computable from this signature; the HIGH half is an independent
  * second simhash (seed 1337). One token pass updates both counter
  * banks — the wider signature costs one extra hash per token, not a
  * second scan. Same codegen discipline as SimHash64: a static kernel
  * called from generated code, no UDF.
  */
case class SimHash128(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash128 requires array<string>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    SimHash128.simhash(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.expr.SimHash128.simhash($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHash128 =
    copy(child = newChild)
}

object SimHash128 {
  /** Seed of the high half; the low half reuses [[SimHash64.seed]] so
    * lo == simhash64 exactly.
    */
  val seedHi = 1337L

  /** Static kernel shared by interpreted eval and generated code. */
  def simhash(tokens: ArrayData): ArrayData = {
    val lo = new Array[Int](64)
    val hi = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val s = tokens.getUTF8String(i)
        val hLo = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
          s.numBytes, SimHash64.seed)
        val hHi = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
          s.numBytes, seedHi)
        var b = 0
        while (b < 64) {
          if (((hLo >>> b) & 1L) == 1L) lo(b) += 1 else lo(b) -= 1
          if (((hHi >>> b) & 1L) == 1L) hi(b) += 1 else hi(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var outLo = 0L
    var outHi = 0L
    var b = 0
    while (b < 64) {
      if (lo(b) > 0) outLo |= (1L << b)
      if (hi(b) > 0) outHi |= (1L << b)
      b += 1
    }
    new GenericArrayData(Array[Any](outLo, outHi))
  }

  /** Column-level entry point: array<bigint> [lo, hi]. */
  def apply(c: Column): Column =
    GraftColumnBridge.column(SimHash128(GraftColumnBridge.expression(c)))
}

object SimHash64 {
  val seed = 42L

  /** Static kernel shared by interpreted eval and generated code. */
  def simhash(tokens: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = hashToken(tokens.getUTF8String(i))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  def hashToken(s: UTF8String): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed)

  /** Column-level entry point. */
  def apply(c: Column): Column =
    GraftColumnBridge.column(SimHash64(GraftColumnBridge.expression(c)))

  /** Hamming distance between two signatures as a native expression. */
  def hamming(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.bit_count(a.bitwiseXOR(b))
}

/** md5-derived 64-bit SimHash over a token array — the q330 verification
  * twin's signature, computed the way the production kernel
  * ([[SimHash64]]) computes its own: one pass per doc inside
  * whole-stage codegen, 64 counter lanes, no row fan-out (r16 verdict
  * task 1 — the previous Spark plan materialized 64 rows per distinct
  * (doc, token) via posexplode plus two shuffled aggregates; the DuckDB
  * oracle gates OUTPUT only, so the engine is free to use its own
  * production shape).
  *
  * Semantics — bit-identical to the q330 oracle preface
  * (Dedup.simhashMd5Ctes), which is the contract:
  *   - each distinct token's 64 bits come from md5 of its UTF-8 bytes:
  *     bit b = bit (b mod 4) of hex nibble (b div 4) of the digest
  *     (nibble j = high half of digest byte j/2 for even j, low half
  *     for odd — exactly DuckDB's `strpos('0123..f', substr(md5(w),
  *     b//4+1, 1)) - 1` rule);
  *   - lane b accumulates +tf where the bit is set, -tf where clear
  *     (term-frequency weighting: one ±1 per OCCURRENCE ≡ ±tf per
  *     distinct token — the kernel iterates occurrences and caches one
  *     digest per distinct token, preserving the "one md5 per distinct
  *     token" scale claim);
  *   - signature bit b is 1 iff lane b's sum is > 0; the output is the
  *     two non-negative 32-bit halves (sig_hi = bits 63..32, sig_lo =
  *     bits 31..0) — BIGINT-safe in both engines.
  *
  * Returns array<struct<sig_hi, sig_lo>> with AT MOST one element —
  * empty for a token-less doc — so the caller `explode`s it: the
  * generator evaluates the kernel exactly once per row AND drops
  * token-less docs (the oracle's "docs with at least one kept token"
  * grain) with no second evaluation. A nullable struct + isNotNull
  * filter was measured to double-evaluate: predicate pushdown inlines
  * the kernel into the Filter below the Project.
  */
case class SimHashMd5(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(SimHashMd5.sigType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash_md5 requires array<string>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    SimHashMd5.simhash(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.expr.SimHashMd5.simhash($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHashMd5 =
    copy(child = newChild)
}

object SimHashMd5 {
  val sigType: StructType = StructType(Seq(
    StructField("sig_hi", LongType, nullable = false),
    StructField("sig_lo", LongType, nullable = false)))

  private val EMPTY = new GenericArrayData(Array.empty[Any])

  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** A token's 64 signature bits, packed bit b at position b: the
    * md5-nibble rule shared verbatim with the oracle SQL.
    */
  def tokenBits(tok: UTF8String): Long = {
    val d = md.get()
    d.reset()
    val dig = d.digest(tok.getBytes)
    var bits = 0L
    var b = 0
    while (b < 64) {
      val nib = b >> 2
      val by = dig(nib >> 1)
      val nibVal = if ((nib & 1) == 0) (by >> 4) & 0xF else by & 0xF
      if (((nibVal >> (b & 3)) & 1) == 1) bits |= (1L << b)
      b += 1
    }
    bits
  }

  /** Static kernel shared by interpreted eval and generated code; an
    * empty array when no kept tokens (token-less docs leave the
    * relation at the caller's explode).
    */
  def simhash(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    if (n == 0) return EMPTY
    val counts = new Array[Int](64)
    // one digest per DISTINCT token; repeats hit the per-row cache
    val cache = new java.util.HashMap[UTF8String, java.lang.Long](Math.min(n * 2, 1 << 12))
    var any = false
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        any = true
        val t = tokens.getUTF8String(i)
        var bits = cache.get(t)
        if (bits == null) {
          bits = java.lang.Long.valueOf(tokenBits(t))
          cache.put(t, bits)
        }
        val h = bits.longValue()
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    if (!any) return EMPTY
    var hi = 0L
    var lo = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) {
        if (b >= 32) hi |= (1L << (b - 32)) else lo |= (1L << b)
      }
      b += 1
    }
    new GenericArrayData(
      Array[Any](new GenericInternalRow(Array[Any](hi, lo))))
  }

  /** Column-level entry point:
    * array<struct<sig_hi: bigint, sig_lo: bigint>> (0 or 1 element).
    */
  def apply(c: Column): Column =
    GraftColumnBridge.column(SimHashMd5(GraftColumnBridge.expression(c)))
}
