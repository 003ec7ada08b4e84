package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Bounded Levenshtein distance over UTF-8 strings: the distance if it
  * is at most `k`, else -1 — the value Spark's `levenshtein(a, b, k)`
  * (`UTF8String.levenshteinDistance(other, k)`) returns, at O(k·len)
  * per pair. Spark's threshold form re-walks the shorter string's
  * bytes from byte 0 up to the band on every row of its DP, so each
  * pair costs O(|a|·|b|) byte steps however small `k` is (about 2M for
  * two 2,000-char texts).
  *
  * Per pair: decode each string once into per-character keys (a
  * character's UTF-8 bytes, packed; its length comes from its first
  * byte, as `UTF8String.numBytesForFirstByte` gives it, so two keys are
  * equal exactly when `UTF8String` compares the characters equal);
  * return -1 when the lengths differ by more than `k`; strip the common
  * prefix and suffix (which leaves the distance unchanged); then run
  * Ukkonen's banded DP (1985) on what remains, with two int rows,
  * returning -1 as soon as a row's minimum exceeds `k`. Near-duplicate
  * pairs that differ in one place cost O(len) for the decode and the
  * stripping and O(k·edit span) for the DP. */
object BoundedLevenshtein {
  def distance(a: UTF8String, b: UTF8String, k: Int): Int = {
    if (k < 0)
      throw new IllegalArgumentException(s"graft_levenshtein: threshold must be >= 0, got $k")
    val x = new Array[Int](a.numBytes)
    val y = new Array[Int](b.numBytes)
    val nx = decode(a, x)
    val ny = decode(b, y)
    // s is the shorter side
    val (s, t) = if (nx <= ny) (x, y) else (y, x)
    var n = math.min(nx, ny)
    var m = math.max(nx, ny)
    if (m - n > k) return -1
    var pre = 0
    while (pre < n && s(pre) == t(pre)) pre += 1
    while (n > pre && s(n - 1) == t(m - 1)) { n -= 1; m -= 1 }
    n -= pre; m -= pre
    if (n == 0) m else banded(s, t, pre, n, m, k)
  }

  /** Writes one key per character of `u` into `out` (sized to the byte
    * count) and returns the character count. */
  private def decode(u: UTF8String, out: Array[Int]): Int = {
    val base = u.getBaseObject
    val off = u.getBaseOffset
    val nb = u.numBytes
    var pos = 0
    var c = 0
    while (pos < nb) {
      val b0 = Platform.getByte(base, off + pos)
      val len = UTF8String.numBytesForFirstByte(b0)
      var key = b0 & 0xFF
      var q = 1
      while (q < len && pos + q < nb) {
        key |= (Platform.getByte(base, off + pos + q) & 0xFF) << (8 * q)
        q += 1
      }
      out(c) = key
      c += 1
      pos += len
    }
    c
  }

  /** Distance between s[pre, pre+n) and t[pre, pre+m), 1 ≤ n ≤ m,
    * m − n ≤ k: the DP over t's characters keeps only the diagonal band
    * |i − j| ≤ k of each row. */
  private def banded(s: Array[Int], t: Array[Int], pre: Int, n: Int, m: Int,
                     k: Int): Int = {
    var p = new Array[Int](n + 1)
    var d = new Array[Int](n + 1)
    val boundary = math.min(n, k) + 1
    var i = 0
    while (i < boundary) { p(i) = i; i += 1 }
    java.util.Arrays.fill(p, boundary, n + 1, Int.MaxValue)
    java.util.Arrays.fill(d, Int.MaxValue)
    var j = 1
    while (j <= m) {
      val tj = t(pre + j - 1)
      d(0) = j
      val lo = math.max(1, j - k)
      val hi = if (j > Int.MaxValue - k) n else math.min(n, j + k)
      if (lo > 1) d(lo - 1) = Int.MaxValue
      var rowMin = Int.MaxValue
      i = lo
      while (i <= hi) {
        val v =
          if (s(pre + i - 1) == tj) p(i - 1)
          else 1 + math.min(math.min(d(i - 1), p(i)), p(i - 1))
        d(i) = v
        if (v < rowMin) rowMin = v
        i += 1
      }
      if (rowMin > k) return -1
      val swap = p; p = d; d = swap
      j += 1
    }
    if (p(n) <= k) p(n) else -1
  }
}

/** `graft_levenshtein(a, b, k)`: [[BoundedLevenshtein]] as an
  * expression — the edit distance of two strings if it is at most `k`,
  * else -1, and null when any input is null; a negative `k` fails.
  * Whole-stage codegen emits one static call per row. The verify step of
  * [[graft.operators.Dedup.editDistancePairs]]. */
case class EditDistance(left: Expression, right: Expression, threshold: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {

  override def first: Expression = left
  override def second: Expression = right
  override def third: Expression = threshold

  // the implicit casts Spark's levenshtein takes (a NULL literal included)
  override def inputTypes = Seq(StringType, StringType, IntegerType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_levenshtein"
  // null in, null out: the optimizer infers isnotnull filters on the
  // inputs, as it does for Spark's levenshtein
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any, k: Any): Any =
    BoundedLevenshtein.distance(a.asInstanceOf[UTF8String],
      b.asInstanceOf[UTF8String], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, k) =>
      s"${ev.value} = ${BoundedLevenshtein.getClass.getName.stripSuffix("$")}" +
        s".distance($a, $b, $k);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(left = f, right = s, threshold = t)
}

object EditDistance {
  /** Column form of `graft_levenshtein` ([[GraftExtensions]] registers
    * it). */
  def column(a: Column, b: Column, k: Int): Column =
    call_function("graft_levenshtein", a, b, lit(k))
}
