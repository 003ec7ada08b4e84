package graft

import org.apache.spark.sql.functions._
import graft.operators.{Ivf, LiteralArms, Similarity}

/** IVF ANN specs: exactness at nprobe=c, twin recall at nprobe<c,
  * Lloyd refinement properties, and the no-corpus-shuffle plan shape. */
class IvfSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def emb = graft.Tables.embeddings(spark, sf)

  test("ivfTopK with nprobe=c is exactly brute force") {
    // probing every inverted list makes the candidate set the whole
    // corpus, so IVF must reproduce the exact top-k
    val qs = Seq(0L, 1L, 2L, 3L)
    val c = 8
    val ivf = Ivf.ivfTopK(emb, "vec_id", "embedding", qs, k = 10, c = c,
      nprobe = c).collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qs, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(ivf.sorted == bf.sorted, "nprobe=c must equal brute force")
  }

  test("assign: kernel path (c > ExpressionAssignMaxC) matches the codegen expression exactly") {
    // same corpus, same centroids, through the kernel projection and the
    // literal reference — assignments, vectors, and norms must be
    // bit-identical (both are left-to-right IEEE sums with a smaller-cid
    // tie-break); c = 38 is past the width the literal arm once served
    val c = 38
    val base = emb.select($"vec_id", $"embedding")
    val corpus = base.unionByName(
      base.select(($"vec_id" + 100000L).as("vec_id"), $"embedding"))
    val cents = Ivf.seedCentroids(corpus, "vec_id", "embedding", c, stride = 1L)
    val viaKernel = Ivf.assign(corpus, "vec_id", "embedding", cents)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getDouble(3))).sortBy(_._1)
    // literal-expression path, forced explicitly (the public
    // nearestCids is the NearestCentroids kernel expression, which the
    // next spec pins separately)
    val viaExpr = corpus.filter($"vec_id".isNotNull)
      .select($"vec_id".as("id"), Similarity.toDouble($"embedding").as("v"))
      .withColumn("cluster_id",
        element_at(LiteralArms.nearestCids(col("v"), cents, 1), 1))
      .withColumn("nv", Similarity.norm(col("v")))
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getDouble(3))).sortBy(_._1)
    assert(viaKernel.length == viaExpr.length && viaKernel.nonEmpty)
    viaKernel.zip(viaExpr).foreach { case (k, e) =>
      assert(k == e, s"kernel $k != expression $e")
    }
  }

  test("nearestCids: kernel expression == literal expression, n=1 and n>1") {
    // duplicated vectors force score ties (the smaller-cid branch) and
    // the corpus is real embeddings — both arms must produce identical
    // probe lists element for element
    val base = emb.select($"vec_id", $"embedding")
    val corpus = base.unionByName(
      base.select(($"vec_id" + 100000L).as("vec_id"), $"embedding"))
    val c = 40
    // duplicate CENTROIDS too (seed twice from the doubled corpus ids):
    // two cids with the same vector tie on every row
    val cents = Ivf.seedCentroids(corpus, "vec_id", "embedding", c, stride = 1L)
    for (n <- Seq(1, 4)) {
      val lit = corpus.select($"vec_id",
          LiteralArms.nearestCids(Similarity.toDouble($"embedding"), cents, n).as("p"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).sortBy(_._1)
      val ker = corpus.select($"vec_id",
          Ivf.nearestCids(Similarity.toDouble($"embedding"), cents, n).as("p"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).sortBy(_._1)
      assert(lit.nonEmpty && lit.length == ker.length)
      lit.zip(ker).foreach { case (l, k) =>
        assert(l == k, s"n=$n: literal $l != kernel $k")
      }
    }
  }

  test("ivfTopK above the dispatch threshold (kernel probes) is still exact at nprobe=c") {
    val bigger = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val qs = Seq(0L, 1L, 2L, 3L)
    val c = 48
    val ivf = Ivf.ivfTopK(bigger, "vec_id", "embedding", qs, k = 10, c = c,
      nprobe = c, stride = 1L).collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val bf = Similarity.bruteForceTopK(bigger, "vec_id", "embedding", qs, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(ivf.sorted == bf.sorted, "nprobe=c must equal brute force")
  }

  test("ivfTopKFromStore over a parquet-roundtripped assignment == direct ivfTopK") {
    val qs = Seq(0L, 1L, 2L, 3L)
    val direct = Ivf.ivfTopK(emb, "vec_id", "embedding", qs, k = 10, c = 8,
        nprobe = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val cents = Ivf.seedCentroids(emb, "vec_id", "embedding", 8)
    val dir = TestDirs.fresh("ivf_store")
    Ivf.assign(emb, "vec_id", "embedding", cents)
      .write.mode("overwrite").parquet(dir + "/assigned")
    Ivf.centroidsAsDf(spark, cents)
      .write.mode("overwrite").parquet(dir + "/centroids")
    val rt = Ivf.centroidsFromDf(spark.read.parquet(dir + "/centroids"))
    assert(rt == cents, "centroid parquet round-trip must be bit-exact")
    val stored = Ivf.ivfTopKFromStore(spark.read.parquet(dir + "/assigned"),
        rt, emb.filter($"vec_id".isin(qs: _*)), "vec_id", "embedding",
        k = 10, nprobe = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(stored.nonEmpty && stored.sorted == direct.sorted)
  }

  test("mergeAssignmentStore == full re-assign on disjoint halves; overlap raises") {
    val cents = Ivf.seedCentroids(emb, "vec_id", "embedding", 8)
    val (evens, odds) = (emb.filter($"vec_id" % 2 === 0), emb.filter($"vec_id" % 2 === 1))
    def normalize(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getSeq[Double](1),
        r.getInt(2), r.getDouble(3))).sortBy(_._1)
    val merged = Ivf.mergeAssignmentStore(
      Ivf.assign(evens, "vec_id", "embedding", cents),
      Ivf.assign(odds, "vec_id", "embedding", cents))
    val rebuilt = Ivf.assign(emb, "vec_id", "embedding", cents)
    assert(normalize(merged).nonEmpty)
    assert(normalize(merged).toSeq == normalize(rebuilt).toSeq)
    val e = intercept[Exception] {
      Ivf.mergeAssignmentStore(
        Ivf.assign(evens, "vec_id", "embedding", cents),
        Ivf.assign(evens, "vec_id", "embedding", cents)).collect()
    }
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("exists in both"), msg)
  }

  test("ivfTopK finds the planted twin at rank 1 with nprobe<c") {
    // a positively-scaled twin has cosine 1 to its query, hence the same
    // argmax centroid — the query's own list is always its first probe,
    // so the twin can never be missed regardless of nprobe
    val base = emb.select($"vec_id", Similarity.toDouble($"embedding").as("embedding"))
    val twin = emb.select(($"vec_id" + 100000L).as("vec_id"),
      transform(Similarity.toDouble($"embedding"), x => x * 1.001).as("embedding"))
    val corpus = base.unionByName(twin)
    val qs = Seq(0L, 1L, 2L, 3L, 4L)
    val top1 = Ivf.ivfTopK(corpus, "vec_id", "embedding", qs, k = 1, c = 16,
      nprobe = 2).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toMap
    qs.foreach(q => assert(top1(q) == q + 100000L,
      s"twin of $q must share its inverted list and rank first"))
  }

  test("ivfTopK(lloydIters=2) == independent driver-local reference (LloydPin)") {
    // the y4 oracle mirrors lloydIters=0 only (means are float-order
    // sensitive); the refinement path pins against tools/LloydPin's
    // driver-local re-derivation — different assignment loop, different
    // mean fold order, same (query, rank, neighbor, cosine@6dp) roster
    // expected (r14 verdict #6). LloydPin runs the same comparison at
    // sf0.01/sf1; this is the in-suite gate-scale arm.
    val qs = Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L)
    val engine = Ivf.ivfTopK(emb, "vec_id", "embedding", qs, k = 10, c = 8,
        nprobe = 3, lloydIters = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        java.math.BigDecimal.valueOf(r.getDouble(3))
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()))
      .toSeq.sorted
    val rows = emb.select($"vec_id", Similarity.toDouble($"embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val ref = graft.tools.LloydPin.reference(rows, c = 8, stride = 7L,
      iters = 2, queryIds = qs, k = 10, nprobe = 3).sorted
    assert(engine.nonEmpty && engine == ref,
      s"lloyd path diverged from the independent reference:\n" +
        s"${engine.toSet.diff(ref.toSet)} vs ${ref.toSet.diff(engine.toSet)}")
  }

  test("lloydRefine moves centroids to cluster means and separates clusters") {
    // two tight blobs on orthogonal axes; two seeds, one per blob after
    // refinement — assignment must split the data exactly by blob
    val blobA = (0L until 20L).map(i => (i, Seq(10.0 + (i % 3) * 0.1, 0.0)))
    val blobB = (0L until 20L).map(i => (i + 100L, Seq(0.0, 10.0 + (i % 3) * 0.1)))
    val df = (blobA ++ blobB).toDF("vec_id", "embedding")
    // stride 100 seeds from both blobs (ids 0 and 100)
    val seeds = Ivf.seedCentroids(df, "vec_id", "embedding", c = 2, stride = 100L)
    assert(seeds.size == 2)
    val refined = Ivf.lloydRefine(df, "vec_id", "embedding", seeds, iters = 2)
    val assigned = Ivf.assign(df, "vec_id", "embedding", refined)
      .select("id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    val aClusters = blobA.map(x => assigned(x._1)).toSet
    val bClusters = blobB.map(x => assigned(x._1)).toSet
    assert(aClusters.size == 1 && bClusters.size == 1 && aClusters != bClusters,
      s"blobs must land in distinct single clusters: $aClusters vs $bClusters")
    // refined centroid of blob A points along x (mean of the blob)
    val ca = refined(assigned(0L)).v
    assert(ca(0) > 9.9 && math.abs(ca(1)) < 1e-9, s"centroid A ≈ blob-A mean: $ca")
  }

  test("lloydRefine keeps the previous centroid for an emptied cluster") {
    // both seeds come from blob ids 0 and 7 (stride 7); a far-away seed
    // that captures no points after reassignment must survive unchanged
    val pts = (0L until 10L).map(i => (i * 7L, Seq(1.0, 0.0)))
    val df = (pts :+ (9999L, Seq(1.0, 0.0))).toDF("vec_id", "embedding")
    val seeds = Seq(Ivf.Centroid(0, Seq(1.0, 0.0), 1.0),
      Ivf.Centroid(1, Seq(-1.0, 0.0), 1.0))
    val refined = Ivf.lloydRefine(df, "vec_id", "embedding", seeds, iters = 1)
    assert(refined(1).v == Seq(-1.0, 0.0), "emptied cluster keeps its centroid")
    assert(refined(0).v == Seq(1.0, 0.0), "cluster 0 mean is the blob itself")
  }

  test("ivfTopK plan: corpus never shuffles pre-join; probes broadcast") {
    withAtScaleScans {
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
      import org.apache.spark.sql.types.ArrayType
      val df = Ivf.ivfTopK(emb, "vec_id", "embedding", Seq(0L, 1L), k = 5, c = 8)
      val root: SparkPlan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case other => other
      }
      val bcasts = root.collect { case e: BroadcastExchangeExec => e }
      assert(bcasts.nonEmpty, "probe side must broadcast")
      val shuffles = root.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.size == 1,
        s"exactly the top-k window exchange expected, got ${shuffles.size}")
      shuffles.foreach { e =>
        assert(!e.output.exists(_.dataType.isInstanceOf[ArrayType]),
          "the only shuffle must carry scored (query, neighbor, sim) rows, " +
            "not vectors: " +
            e.output.map(a => s"${a.name}:${a.dataType.simpleString}").mkString(", "))
      }
    }
  }

  test("filtered search: neighbors satisfy the predicate; TRUE filter == y4 path") {
    val qs = Seq(0L, 1L, 2L, 3L)
    val cents = Ivf.seedCentroids(emb, "vec_id", "embedding", c = 8, stride = 7L)
    val queries = emb.filter($"vec_id".isin(qs: _*))
    def run(corpus: org.apache.spark.sql.DataFrame) =
      Ivf.ivfTopKFromStore(Ivf.assign(corpus, "vec_id", "embedding", cents),
        cents, queries, "vec_id", "embedding", k = 10, nprobe = 3)
    // predicate holds on every returned neighbor
    val labels = emb.select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val filtered = run(emb.filter($"label".isin(1, 3))).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(filtered.nonEmpty)
    assert(filtered.forall { case (_, _, n) => Set(1, 3)(labels(n)) })
    // a TRUE filter reproduces the unfiltered path exactly
    val all = run(emb).collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val viaIvfTopK = Ivf.ivfTopK(emb, "vec_id", "embedding", qs, k = 10,
      c = 8, nprobe = 3).collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(all.sorted == viaIvfTopK.sorted)
    // filtering can only remove candidates: per (query, neighbor) hit
    // in the filtered result, the neighbor also appears unfiltered only
    // if it survived there — but every filtered neighbor's similarity
    // can never exceed the unfiltered rank-1 of the same query
    val bestAll = run(emb).collect()
      .filter(_.getInt(1) == 1).map(r => r.getLong(0) -> r.getDouble(3)).toMap
    run(emb.filter($"label".isin(1, 3))).collect()
      .foreach(r => assert(r.getDouble(3) <= bestAll(r.getLong(0)) + 1e-12))
  }
}
