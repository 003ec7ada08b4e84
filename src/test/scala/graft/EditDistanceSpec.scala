package graft

import scala.util.Random
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.expressions.{BoundedLevenshtein, EditDistance}

/** `graft_levenshtein` must return exactly what Spark's threshold
  * `levenshtein(a, b, k)` returns (`UTF8String.levenshteinDistance(other,
  * k)`): the distance when it is at most k, else -1, null on a null
  * input — over 1- to 4-byte characters, through the kernel, the
  * generated code and SQL text alike. */
class EditDistanceSpec extends SparkSpec {
  import spark.implicits._

  // two characters of each UTF-8 width
  private val alphabet = Array("a", "b", "é", "ß", "日", "本", "😀", "🚀")

  private def randomText(rnd: Random, len: Int): String =
    Seq.fill(len)(alphabet(rnd.nextInt(alphabet.length))).mkString

  /** A few random character edits (substitute, insert, delete) of `s`,
    * by code point so a 4-byte character is never split. */
  private def mutate(rnd: Random, s: String): String = {
    val cps = s.codePoints().toArray.map(cp => new String(Character.toChars(cp))).toBuffer
    for (_ <- 0 until rnd.nextInt(7)) {
      val c = alphabet(rnd.nextInt(alphabet.length))
      rnd.nextInt(3) match {
        case 0 if cps.nonEmpty => cps(rnd.nextInt(cps.length)) = c
        case 1 => cps.insert(rnd.nextInt(cps.length + 1), c)
        case _ if cps.nonEmpty => cps.remove(rnd.nextInt(cps.length))
        case _ => cps.insert(0, c)
      }
    }
    cps.mkString
  }

  /** Seeded pairs: lengths 0–40, half of them few-edit mutations, k 0–11. */
  private def pairs(seed: Long, count: Int): Seq[(String, String, Int)] = {
    val rnd = new Random(seed)
    Seq.fill(count) {
      val a = randomText(rnd, rnd.nextInt(41))
      val b = if (rnd.nextBoolean()) mutate(rnd, a) else randomText(rnd, rnd.nextInt(41))
      (a, b, rnd.nextInt(12))
    }
  }

  private def sparkDist(a: String, b: String, k: Int): Int =
    UTF8String.fromString(a).levenshteinDistance(UTF8String.fromString(b), k)

  private def graftDist(a: String, b: String, k: Int): Int =
    BoundedLevenshtein.distance(UTF8String.fromString(a), UTF8String.fromString(b), k)

  test("kernel matches UTF8String.levenshteinDistance on 200k seeded pairs") {
    val mismatches = pairs(11L, 200000).filter { case (a, b, k) =>
      graftDist(a, b, k) != sparkDist(a, b, k)
    }
    assert(mismatches.isEmpty,
      s"${mismatches.size} mismatches, first: ${mismatches.take(3).mkString("; ")}")
  }

  test("generated code and interpreted eval match Spark's levenshtein on 100k pairs") {
    val diff = pairs(12L, 100000).toDF("a", "b", "k")
      .select(call_function("graft_levenshtein", $"a", $"b", $"k").as("g"),
        expr("levenshtein(a, b, k)").as("s"))
      .filter($"g" =!= $"s")
      .count()
    assert(diff == 0, s"$diff rows differ between graft_levenshtein and levenshtein")
    // the interpreted path (nullSafeEval) on a sample
    pairs(13L, 2000).foreach { case (a, b, k) =>
      val e = EditDistance(Literal(a), Literal(b), Literal(k))
      assert(e.eval() == sparkDist(a, b, k), s"eval($a, $b, $k)")
    }
  }

  test("edge cases: an empty side, k = 0, a length gap past k") {
    assert(graftDist("", "", 0) == 0)
    assert(graftDist("", "日本", 2) == 2 && graftDist("日本", "", 2) == 2)
    assert(graftDist("", "日本", 1) == -1 && graftDist("😀", "", 0) == -1)
    assert(graftDist("é😀a", "é😀a", 0) == 0)
    assert(graftDist("é😀a", "é😀b", 0) == -1)
    assert(graftDist("é😀a", "é😀b", 1) == 1)
    // a gap of 3 characters against k = 2, and exactly at k = 3
    assert(graftDist("ab", "ab日本😀", 2) == -1 && sparkDist("ab", "ab日本😀", 2) == -1)
    assert(graftDist("ab", "ab日本😀", 3) == 3)
    // a negative threshold is a caller error, not a silent -1
    intercept[IllegalArgumentException](graftDist("a", "b", -1))
  }

  test("a null input gives null, through SQL text and call_function") {
    val fresh = spark.newSession()
    assert(fresh.sessionState.functionRegistry
      .functionExists(FunctionIdentifier("graft_levenshtein")))
    val row = fresh.sql(
      """SELECT graft_levenshtein(NULL, 'abc', 2), graft_levenshtein('abc', NULL, 2),
        |  graft_levenshtein('abc', 'abd', NULL), graft_levenshtein('abc', 'abd', 2)""".stripMargin)
      .collect().head
    assert(row.isNullAt(0) && row.isNullAt(1) && row.isNullAt(2))
    assert(row.getInt(3) == 1)
    val viaColumn = Seq[(String, String)](("abc", null), (null, "abc"), ("abc", "abc"))
      .toDF("a", "b")
      .select(call_function("graft_levenshtein", $"a", $"b", lit(3)).as("d"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0))).toSeq
    assert(viaColumn == Seq(None, None, Some(0)))
  }

  test("two 2,000-char texts that differ only in their last token") {
    // x13's shape: near-duplicate documents capped at 2,000 characters
    val rnd = new Random(14L)
    val body = Seq.fill(395)(randomText(rnd, 4)).mkString(" ")
    val a = body + " " + "a" * 25
    val near = body + " " + "a" * 20 + "日本😀bé"
    val far = body + " " + "b" * 25
    assert(a.codePointCount(0, a.length) == 2000)
    assert(sparkDist(a, near, 24) == 5 && graftDist(a, near, 24) == 5)
    assert(sparkDist(a, far, 24) == -1 && graftDist(a, far, 24) == -1)
    assert(graftDist(a, far, 25) == 25)
    val got = Seq((a, near), (a, far)).toDF("a", "b")
      .select(EditDistance.column($"a", $"b", 24)).collect().map(_.getInt(0)).toSeq
    assert(got == Seq(5, -1))
  }
}
