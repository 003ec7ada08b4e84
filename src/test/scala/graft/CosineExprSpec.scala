package graft

import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import graft.expressions.{CosineSimilarity, DotProduct}
import graft.operators.{LiteralArms, Similarity}

/** The native codegen expression must be bit-identical to the
  * zip_with/aggregate composition, SQL-callable, and null-safe. */
class CosineExprSpec extends SparkSpec {
  import spark.implicits._

  test("bit-identical to the Column composition on real embeddings") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", Similarity.toDouble($"embedding").as("v"))
    // the reference side is the PURE zip_with/aggregate composition
    // (Similarity.cosine itself routes through the dot kernel since r21,
    // so it can no longer serve as the independent reference)
    def pureCosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
      val d = sqrt(LiteralArms.dot(a, a)) * sqrt(LiteralArms.dot(b, b))
      when(d > 0, LiteralArms.dot(a, b) / d).otherwise(lit(0.0))
    }
    val withBoth = emb.crossJoin(emb.limit(5).select($"v".as("q")))
      .select(
        pureCosine($"q", $"v").as("composed"),
        CosineSimilarity.column($"q", $"v").as("native"),
        Similarity.cosine($"q", $"v").as("routed"))
    val diff = withBoth.filter($"composed" =!= $"native" ||
      $"composed" =!= $"routed").count()
    assert(diff == 0, s"$diff rows differ between composed/native/routed cosine")
  }

  test("graft_dot kernel bit-identical to the zip_with/aggregate dot") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select($"vec_id", Similarity.toDouble($"embedding").as("v"))
    val withBoth = emb.crossJoin(emb.limit(5).select($"v".as("q")))
      .select(
        LiteralArms.dot($"q", $"v").as("composed"),
        Similarity.dotNative($"q", $"v").as("native"))
    val diff = withBoth.filter($"composed" =!= $"native").count()
    assert(diff == 0, s"$diff rows differ between composed and native dot")
  }

  test("SQL-callable after registration") {
    // GraftSession injects every kernel when the session is built, so a
    // fresh session of it resolves all of them with no registration call
    val fresh = spark.newSession()
    val registry = fresh.sessionState.functionRegistry
    for (name <- Seq("graft_cosine", "graft_dot", "graft_nearest_cids",
        "graft_pq_codes", "graft_pq_lut", "graft_hyperplane_sig",
        "graft_bpe_encode", "graft_might_contain"))
      assert(registry.functionExists(FunctionIdentifier(name)), s"$name not registered")
    val r = fresh.sql("SELECT graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c")
      .collect()(0).getDouble(0)
    assert(math.abs(r - 1.0) < 1e-15)
  }

  test("null and zero-vector handling") {
    val df = Seq(
      (Some(Seq(0.0, 0.0)), Some(Seq(1.0, 2.0))),
      (None, Some(Seq(1.0, 2.0)))
    ).toDF("a", "b")
    val got = df.select(CosineSimilarity.column($"a", $"b").as("c")).collect()
    assert(got(0).getDouble(0) == 0.0) // zero vector -> 0, not NaN
    assert(got(1).isNullAt(0))         // null input -> null
  }

  test("ragged input fails loudly in the interpreted and the codegen path") {
    val t = ArrayType(DoubleType, containsNull = false)
    val (a, b) = (BoundReference(0, t, nullable = true), BoundReference(1, t, nullable = true))
    val ragged = InternalRow(ArrayData.toArrayData(Array(1.0, 2.0, 3.0)),
      ArrayData.toArrayData(Array(1.0, 2.0)))
    for (e <- Seq[Expression](DotProduct(a, b), CosineSimilarity(a, b))) {
      val interpreted = intercept[IllegalArgumentException](e.eval(ragged))
      val generated = intercept[IllegalArgumentException](
        GenerateUnsafeProjection.generate(Seq(e)).apply(ragged))
      for (err <- Seq(interpreted, generated))
        assert(err.getMessage.contains("unequal length (3 vs 2)"), s"${e.prettyName}: $err")
    }
    // a query reaches the same guard instead of a truncated score
    val q = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("a", "b")
      .select(Similarity.dotNative($"a", $"b"))
    val err = intercept[Exception](q.collect())
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(c => c.getMessage != null && c.getMessage.contains("unequal length")), err)
  }
}
