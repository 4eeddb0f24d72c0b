package graft.expr

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Thresholded Levenshtein distance as a native codegen'd expression —
  * same contract as Spark's 3-arg `levenshtein(l, r, max)` (the exact
  * edit distance when ≤ max, else −1), tuned for the near-dup join
  * workloads that call it: blocked candidate pairs share long byte
  * prefixes BY CONSTRUCTION (q247 blocks on the opening two tokens and
  * its planted near-dups are byte-identical for ~100 of 160 key chars),
  * yet Spark's kernel starts every banded DP at column 0 and pays a
  * per-cell `arrayEquals` call plus UTF-8 length decode — measured
  * ~63 µs per 160-char pair, ~2 s of the q247 bench.
  *
  * Three classic exact-preserving cuts, each a textbook identity:
  *   1. COMMON PREFIX/SUFFIX STRIPPING: lev(pa, pb) = lev(a, b) for a
  *      shared prefix/suffix p (any optimal alignment maps equal ends
  *      to each other at cost 0) — the dominant win on blocked pairs,
  *      which reduces near-identical keys to the handful of bytes that
  *      actually differ.
  *   2. ASCII BYTE FAST-PATH: when both remainders are pure ASCII
  *      (one probe pass), the DP runs on plain byte arrays with direct
  *      indexing — no per-char length decode, no method calls in the
  *      cell loop. Non-ASCII falls back to an int array of packed
  *      UTF-8 char bytes (equality of packed chars ⟺ equality of the
  *      byte sequences Spark compares), same DP.
  *   3. The same BANDED early exit Spark uses: cells farther than
  *      `max` off-diagonal hold > max by the |i−j| ≤ cost bound, so
  *      the band is exact and a row whose minimum exceeds the budget
  *      ends the call.
  *
  * Bit-parity with Spark's `levenshtein(l, r, max)` is pinned by
  * LevenshteinBandSpec on random ASCII/Unicode pairs (including
  * multi-byte and astral chars, empties, and near-threshold
  * distances), and the q247/q140/q162 DuckDB oracles re-verify the
  * ≤-threshold region against an independent engine every round.
  */
case class LevenshteinBand(left: Expression, right: Expression, max: Int)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"levenshtein_band requires (string, string), got " +
          s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")

  override def nullSafeEval(a: Any, b: Any): Any =
    LevenshteinBand.distance(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], max)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.LevenshteinBand.distance($a, $b, $max);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LevenshteinBand =
    copy(left = newLeft, right = newRight)
}

object LevenshteinBand {

  /** Static kernel shared by interpreted eval and generated code. */
  def distance(a: UTF8String, b: UTF8String, max: Int): Int = {
    if (max < 0) return -1
    val ab = a.getBytes
    val bb = b.getBytes
    // strip the shared byte prefix/suffix; on the ASCII fast path any
    // byte boundary is a char boundary, and the non-ASCII fallback
    // re-aligns to char starts before decoding (see below)
    var lo = 0
    val minLen = math.min(ab.length, bb.length)
    while (lo < minLen && ab(lo) == bb(lo)) lo += 1
    var ahi = ab.length
    var bhi = bb.length
    while (ahi > lo && bhi > lo && ab(ahi - 1) == bb(bhi - 1)) {
      ahi -= 1; bhi -= 1
    }
    if (lo == ahi && lo == bhi) return 0
    // ASCII probe over the remainders only — the stripped ends are
    // equal bytes, so multi-byte chars there are shared and harmless
    var ascii = true
    var i = lo
    while (ascii && i < ahi) { if (ab(i) < 0) ascii = false; i += 1 }
    i = lo
    while (ascii && i < bhi) { if (bb(i) < 0) ascii = false; i += 1 }
    if (ascii) {
      // a byte stripped from the middle of a multi-byte char is safe
      // here: the remainder being ASCII means the char's remaining
      // bytes (0x80–0xBF continuations) are absent, so the strip ended
      // on a boundary
      bandedAscii(ab, lo, ahi, bb, lo, bhi, max)
    } else {
      // re-derive on full char grain: pack each UTF-8 char's bytes
      // into an int (equality of packs ⟺ equality of chars), strip
      // prefix/suffix on CHARS, then the same DP
      bandedPacked(packChars(ab), packChars(bb), max)
    }
  }

  /** Banded DP over ASCII byte slices [alo, ahi) × [blo, bhi). */
  private def bandedAscii(
      a: Array[Byte], alo0: Int, ahi0: Int,
      b: Array[Byte], blo0: Int, bhi0: Int, max: Int): Int = {
    // keep the DP's column dimension on the SHORTER remainder
    var sa = a; var salo = alo0; var n = ahi0 - alo0
    var sb = b; var sblo = blo0; var m = bhi0 - blo0
    if (n > m) {
      sa = b; salo = blo0; sb = a; sblo = alo0
      val t = n; n = m; m = t
    }
    if (m - n > max) return -1
    if (n == 0) return if (m <= max) m else -1
    var p = new Array[Int](n + 1)
    var d = new Array[Int](n + 1)
    val boundary = math.min(n, max) + 1
    var i = 0
    while (i < boundary) { p(i) = i; i += 1 }
    java.util.Arrays.fill(p, boundary, n + 1, Int.MaxValue)
    java.util.Arrays.fill(d, Int.MaxValue)
    var j = 1
    while (j <= m) {
      val bj = sb(sblo + j - 1)
      d(0) = j
      val lo = math.max(1, j - max)
      val hi = math.min(n, j + max)
      if (lo > 1) d(lo - 1) = Int.MaxValue
      var rowMin = Int.MaxValue
      i = lo
      while (i <= hi) {
        val v =
          if (sa(salo + i - 1) == bj) p(i - 1)
          else {
            val x = math.min(math.min(d(i - 1), p(i)), p(i - 1))
            if (x == Int.MaxValue) x else x + 1
          }
        d(i) = v
        if (v < rowMin) rowMin = v
        i += 1
      }
      if (rowMin > max) return -1
      val t = p; p = d; d = t
      j += 1
    }
    if (p(n) <= max) p(n) else -1
  }

  /** UTF-8 chars of the WHOLE string, each packed into one int. */
  private def packChars(bytes: Array[Byte]): Array[Int] = {
    val out = new Array[Int](bytes.length)
    var n = 0
    var i = 0
    while (i < bytes.length) {
      var len = charLen(bytes(i))
      if (i + len > bytes.length) len = bytes.length - i // defensive
      var v = 0
      var k = 0
      while (k < len) { v = (v << 8) | (bytes(i + k) & 0xff); k += 1 }
      out(n) = v
      n += 1
      i += len
    }
    java.util.Arrays.copyOf(out, n)
  }

  /** UTF-8 sequence length from the lead byte (Spark's convention:
    * continuation/invalid leads count as 1).
    */
  private def charLen(b: Byte): Int = {
    val u = b & 0xff
    if (u < 0x80) 1
    else if (u >= 0xF0) 4
    else if (u >= 0xE0) 3
    else if (u >= 0xC0) 2
    else 1
  }

  /** Same banded DP over packed-char arrays (non-ASCII fallback). */
  private def bandedPacked(a0: Array[Int], b0: Array[Int], max: Int): Int = {
    // strip shared prefix/suffix on char grain
    var lo = 0
    val minLen = math.min(a0.length, b0.length)
    while (lo < minLen && a0(lo) == b0(lo)) lo += 1
    var ahi = a0.length
    var bhi = b0.length
    while (ahi > lo && bhi > lo && a0(ahi - 1) == b0(bhi - 1)) {
      ahi -= 1; bhi -= 1
    }
    var sa = a0; val salo = lo; var n = ahi - lo
    var sb = b0; val sblo = lo; var m = bhi - lo
    if (n > m) {
      sa = b0; sb = a0
      val t = n; n = m; m = t
    }
    if (m - n > max) return -1
    if (n == 0) return if (m <= max) m else -1
    var p = new Array[Int](n + 1)
    var d = new Array[Int](n + 1)
    val boundary = math.min(n, max) + 1
    var i = 0
    while (i < boundary) { p(i) = i; i += 1 }
    java.util.Arrays.fill(p, boundary, n + 1, Int.MaxValue)
    java.util.Arrays.fill(d, Int.MaxValue)
    var j = 1
    while (j <= m) {
      val bj = sb(sblo + j - 1)
      d(0) = j
      val jlo = math.max(1, j - max)
      val jhi = math.min(n, j + max)
      if (jlo > 1) d(jlo - 1) = Int.MaxValue
      var rowMin = Int.MaxValue
      i = jlo
      while (i <= jhi) {
        val v =
          if (sa(salo + i - 1) == bj) p(i - 1)
          else {
            val x = math.min(math.min(d(i - 1), p(i)), p(i - 1))
            if (x == Int.MaxValue) x else x + 1
          }
        d(i) = v
        if (v < rowMin) rowMin = v
        i += 1
      }
      if (rowMin > max) return -1
      val t = p; p = d; d = t
      j += 1
    }
    if (p(n) <= max) p(n) else -1
  }

  /** Column-API entry point. */
  def apply(a: Column, b: Column, max: Int): Column =
    GraftColumnBridge.column(LevenshteinBand(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b), max))
}
