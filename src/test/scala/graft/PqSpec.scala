package graft

import org.apache.spark.sql.functions._
import graft.operators.{LiteralArms, Pq, Similarity}

/** PQ/ADC specs: codebook shapes, encode determinism, twin recall,
  * reconstruction-distance sanity, and the compressed-scan plan shape. */
class PqSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  /** The largest ks the literal expression arm was once dispatched at;
    * the kernel-vs-literal cases run above it. */
  private val LiteralCodebookMaxKs = 32
  private def emb = graft.Tables.embeddings(spark, sf)

  test("seedCodebooks slices seeds into m codebooks of ks centroids") {
    val books = Pq.seedCodebooks(emb, "vec_id", "embedding", m = 8, ks = 16)
    assert(books.size == 8)
    assert(books.forall(_.size == 16))
    assert(books.forall(_.forall(_.size == 8)))
    // subspace s of seed c is literally the seed vector's s-th slice
    val seed0 = emb.filter($"vec_id" % 7 === 0).orderBy($"vec_id")
      .select(Similarity.toDouble($"embedding")).head().getSeq[Double](0)
    assert(books(3)(0) == seed0.slice(24, 32))
  }

  test("encode is deterministic and a seed vector reconstructs to itself") {
    val books = Pq.seedCodebooks(emb, "vec_id", "embedding", m = 8, ks = 16)
    val a = Pq.encode(emb, "vec_id", "embedding", books)
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toMap
    val b = Pq.encode(emb.repartition(7), "vec_id", "embedding", books)
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toMap
    assert(a == b, "codes must not depend on partitioning")
    // the first seed (smallest id % 7 == 0 -> vec_id 0) is centroid 0
    // of every subspace, so its own code vector is all zeros
    assert(a(0L) == Seq.fill(8)(0), s"seed 0 must encode to centroid 0: ${a(0L)}")
  }

  test("adcTopK ranks the identical twin at the self-reconstruction distance") {
    val base = emb.select($"vec_id", Similarity.toDouble($"embedding").as("embedding"))
    val twin = emb.select(($"vec_id" + 100000L).as("vec_id"),
      Similarity.toDouble($"embedding").as("embedding"))
    val corpus = base.unionByName(twin)
    val qs = Seq(1L, 2L, 3L)
    // identical vectors have identical codes -> identical reconstruction
    // -> adc(q, twin) must EQUAL adc(q, q's own codes): the query's
    // self-reconstruction (quantization) distance, computed here
    // independently with the same ordered fold as the engine
    val books = Pq.seedCodebooks(corpus, "vec_id", "embedding", m = 8, ks = 16)
    val d = books.head.head.size
    val vecs = base.filter($"vec_id".isin(qs: _*))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
    def selfAdc(q: Long): Double = {
      val v = vecs(q)
      val total = books.indices.foldLeft(0.0) { (acc, s) =>
        val sub = v.slice(s * d, (s + 1) * d)
        val cent = books(s).minBy(c =>
          c.indices.foldLeft(0.0)((a, i) => a + (sub(i) - c(i)) * (sub(i) - c(i))))
        acc + cent.indices.foldLeft(0.0)((a, i) =>
          a + (sub(i) - cent(i)) * (sub(i) - cent(i)))
      }
      BigDecimal(total).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // k wide enough to absorb same-code ties (which legitimately rank
    // before the twin on the neighbor_id tie-break, but cannot BEAT it:
    // q's own codes minimize ADC by construction)
    val ranked = Pq.adcTopK(corpus, "vec_id", "embedding", qs, k = 100)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    qs.foreach { q =>
      val mine = ranked.filter(_._1 == q)
      val twin = mine.find(_._2 == q + 100000L)
      assert(twin.nonEmpty, s"identical twin of $q must rank in the top-100")
      assert(twin.get._3 == selfAdc(q),
        s"twin adc ${twin.get._3} != self-reconstruction adc ${selfAdc(q)}")
      assert(mine.map(_._3).min == selfAdc(q),
        "no neighbor may score below the self-reconstruction distance")
      assert(twin.get._3 >= 0.0)
    }
  }

  test("adc recall vs brute force is reported") {
    val qs = Seq(0L, 1L, 2L, 3L, 4L)
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qs, 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Pq.adcTopK(emb, "vec_id", "embedding", qs, k = 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    info(s"PQ recall@10 vs cosine brute force = ${(bf intersect pq).size.toDouble / bf.size}")
    assert(pq.size == bf.size)
  }

  test("pq codes/lut: kernel expressions == literal expressions at ks above the threshold") {
    // real embeddings at sf0.01, ks past LiteralCodebookMaxKs: the
    // literal arm (forced) and the PqCodes/PqLut kernels must agree to
    // the bit — same ascending-index folds, same (dist, code) tie-break
    val bigger = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val ks = LiteralCodebookMaxKs + 16
    val books = Pq.seedCodebooks(bigger, "vec_id", "embedding", m = 8,
      ks = ks, stride = 1L)
    val v = Similarity.toDouble($"embedding")
    val litC = bigger.select($"vec_id", LiteralArms.codesCol(v, books).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).sortBy(_._1)
    val kerC = bigger.select($"vec_id", Pq.codesCol(v, books).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).sortBy(_._1)
    assert(litC.nonEmpty && litC.length == kerC.length)
    litC.zip(kerC).foreach { case (l, k) => assert(l == k, s"codes $l != $k") }
    val litL = bigger.limit(20).select($"vec_id", LiteralArms.lutCol(v, books).as("l"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Seq[Double]](1)).sortBy(_._1)
    val kerL = bigger.limit(20).select($"vec_id", Pq.lutCol(v, books).as("l"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Seq[Double]](1)).sortBy(_._1)
    assert(litL.nonEmpty && litL.length == kerL.length)
    litL.zip(kerL).foreach { case (l, k) => assert(l == k, s"lut $l != $k") }
  }

  test("adcTopK above the dispatch threshold still ranks the planted twin first") {
    val bigger = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val twin = bigger.filter($"vec_id" === 3L)
      .select(($"vec_id" + 500000L).as("vec_id"), $"embedding", $"label")
    val corpus = bigger.unionByName(twin)
    val got = Pq.adcTopK(corpus, "vec_id", "embedding", Seq(500003L), k = 3,
      m = 8, ks = LiteralCodebookMaxKs + 16, stride = 1L)
      .filter($"rank" === 1).collect()
    assert(got.length == 1)
    // the twin's nearest neighbor at rank 1 is its identical original
    assert(got(0).getLong(2) == 3L, got.toSeq.mkString(","))
  }

  test("plan: corpus never shuffles; only scored triples reach the window exchange") {
    withAtScaleScans {
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
      import org.apache.spark.sql.types.ArrayType
      val df = Pq.adcTopK(emb, "vec_id", "embedding", Seq(0L, 1L), k = 5)
      val root: SparkPlan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case other => other
      }
      assert(root.collect { case e: BroadcastExchangeExec => e }.nonEmpty,
        "queries+luts must broadcast")
      val shuffles = root.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.size == 1, s"only the top-k window exchange, got ${shuffles.size}")
      shuffles.foreach { e =>
        assert(!e.output.exists(_.dataType.isInstanceOf[ArrayType]),
          "neither vectors nor codes may shuffle: " +
            e.output.map(a => s"${a.name}:${a.dataType.simpleString}").mkString(", "))
      }
    }
  }
}
