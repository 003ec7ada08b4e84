package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import graft.expressions.DotProduct
import graft.operators.{LiteralArms, Similarity}

/** The one cosine ([[Similarity.cosinePrenormed]] over [[Similarity.norm]]s,
  * both through the codegen'd dot kernel) must be bit-identical to the
  * pure zip_with/aggregate composition, with a stated null, zero and NaN
  * contract; the dot kernel is SQL-callable and guards ragged input. */
class CosineExprSpec extends SparkSpec {
  import spark.implicits._

  private def oneCosine(a: Column, b: Column): Column =
    Similarity.cosinePrenormed(a, b, Similarity.norm(a), Similarity.norm(b))

  test("bit-identical to the Column composition on real embeddings") {
    // the reference side is the PURE zip_with/aggregate composition
    def pureCosine(a: Column, b: Column) = {
      val d = sqrt(LiteralArms.dot(a, a)) * sqrt(LiteralArms.dot(b, b))
      when(d > 0, LiteralArms.dot(a, b) / d).otherwise(lit(0.0))
    }
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val raw = graft.Tables.embeddings(spark, s"/root/testdata/$sf")
      val emb = raw.select($"vec_id", Similarity.toDouble($"embedding").as("v"))
      val qids = emb.select($"vec_id").as[Long].orderBy("vec_id").limit(5).collect().toSeq
      val queries = emb.filter($"vec_id".isin(qids: _*))
        .select($"vec_id".as("query_id"), $"v".as("q"))
      val pairs = emb.crossJoin(queries)
        .select($"query_id", $"vec_id".as("neighbor_id"),
          pureCosine($"q", $"v").as("composed"), oneCosine($"q", $"v").as("one"))
      val diff = pairs.filter(!($"composed" <=> $"one")).count()
      assert(diff == 0, s"$sf: $diff rows differ between the composed and the one cosine")
      // bruteForceTopK (the y1 gate and the recall ground truth) scores
      // every pair through the one cosine
      val n = emb.count().toInt
      val brute = Similarity.bruteForceTopK(raw, "vec_id", "embedding", qids, k = n)
      val joined = brute.join(pairs, Seq("query_id", "neighbor_id"))
      assert(joined.count() == qids.size.toLong * (n - 1), s"$sf: pairs missing")
      val off = joined.filter(!($"cosine_sim" <=> $"composed")).count()
      assert(off == 0, s"$sf: $off bruteForceTopK scores differ from the composition")
    }
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
    val kernels = Seq("graft_dot", "graft_nearest_cids", "graft_pq_codes",
      "graft_pq_lut", "graft_hyperplane_sig", "graft_bpe_encode",
      "graft_levenshtein", "graft_might_contain")
    for (name <- kernels)
      assert(registry.functionExists(FunctionIdentifier(name)), s"$name not registered")
    val graftNames = registry.listFunction().map(_.funcName).filter(_.startsWith("graft_"))
    assert(graftNames.sorted == kernels.sorted, s"injected: ${graftNames.sorted}")
    val r = fresh.sql("SELECT graft_dot(array(3.0d, 4.0d), array(3.0d, 4.0d)) AS d")
      .collect()(0).getDouble(0)
    assert(r == 25.0)
  }

  test("null and zero-vector handling") {
    val df = Seq(
      (Some(Seq(0.0, 0.0)), Some(Seq(1.0, 2.0))),
      (None, Some(Seq(1.0, 2.0)))
    ).toDF("a", "b")
    val got = df.select(oneCosine($"a", $"b").as("c")).collect()
    assert(got(0).getDouble(0) == 0.0) // zero vector -> 0, not NaN
    assert(got(1).isNullAt(0))         // null input -> null
  }

  test("a NaN element scores NaN, and bruteForceTopK ranks it first") {
    // Spark's `>` orders NaN above every number, so the one cosine's
    // `d > 0` holds for a NaN norm and the score is NaN; the removed
    // graft_cosine kernel tested `d > 0` in Java, false for NaN, and
    // scored such a pair 0.0 (rank 2 below, behind neighbor 2)
    val corpus = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(Double.NaN, 1.0)), (2L, Seq(1.0, 1.0)))
      .toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", Seq(0L), k = 2)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine_sim")))
    assert(got.map(g => (g._1, g._2)).toSeq == Seq((1, 1L), (2, 2L)), got.toSeq)
    assert(got(0)._3.isNaN, got.toSeq)
    assert(got(1)._3 == 1.0 / math.sqrt(2.0), got.toSeq)
  }

  test("ragged input fails loudly in the interpreted and the codegen path") {
    val t = ArrayType(DoubleType, containsNull = false)
    val e = DotProduct(BoundReference(0, t, nullable = true), BoundReference(1, t, nullable = true))
    val ragged = InternalRow(ArrayData.toArrayData(Array(1.0, 2.0, 3.0)),
      ArrayData.toArrayData(Array(1.0, 2.0)))
    val interpreted = intercept[IllegalArgumentException](e.eval(ragged))
    val generated = intercept[IllegalArgumentException](
      GenerateUnsafeProjection.generate(Seq(e)).apply(ragged))
    for (err <- Seq(interpreted, generated))
      assert(err.getMessage.contains("unequal length (3 vs 2)"), s"${e.prettyName}: $err")
    // a query reaches the same guard instead of a truncated score
    val q = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("a", "b")
      .select(Similarity.dotNative($"a", $"b"))
    val err = intercept[Exception](q.collect())
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(c => c.getMessage != null && c.getMessage.contains("unequal length")), err)
  }
}
