package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Ivf, Pq, Similarity}

/** Candidate-volume decomposition for the ANN family's big-SF scaling
  * readings (r18 verdict #1): the sf10 lane read y3 at 13.8×, y5 at
  * 13.0×, y6 at 11.4× per 10× data in isolated quiet reruns, and the
  * artifacts could not tell a REGIME effect (numerator and denominator
  * captured in different session windows) from real super-linear
  * candidate growth. This tool measures the work-volume terms directly
  * at any SF, so `step_measured / step_candidates` separates compute
  * growth from environment:
  *
  *  - y2 (LSH top-k, bounded queries): candidate rows entering the
  *    verify join = Σ over query-occupied (t, bucket) of (|bucket|−1),
  *    plus the post-distinct count the cosine stage actually scores.
  *  - y3 (KNN graph, all-docs-as-queries): pre-distinct join volume
  *    Σ_{t,b} |b|·min(|b|,cap) − min(|b|,cap) (the exact output row
  *    count of the capped salted self-join — the gate's dominant term),
  *    the post-distinct scored-pair count, and the bucket histogram
  *    (max/p99/Σ|b|²) that shows whether buckets held their ~32 target.
  *  - y5 (PQ/ADC, bounded queries): encoded rows (= n) and scored pairs
  *    (= n·|Q| − |Q|) — LINEAR BY CONSTRUCTION (no buckets, no lists);
  *    any measured step above ~10× is environment or per-task constants,
  *    never candidate growth.
  *  - y6 (IVF-PQ): coarse-cluster histogram and the ADC-scored candidate
  *    volume Σ_q Σ_{c ∈ probe(q)} |c| (minus self-matches).
  *
  * Counter math mirrors the operator entry points the gates call
  * ([[Similarity.planesFor]]/[[Similarity.hyperplaneSignature]],
  * [[Ivf.seedCentroids]]/[[Ivf.assign]], the y-gate parameterizations in
  * `SimilarityQueries`: tables 8/4, cap 64, c 16, nprobe 4, m 8, ks 16,
  * query ids 0–7), so the volumes are the gates' own, not a model.
  *
  * Usage: runMain graft.tools.AnnCounters <sfDir> [outJson]
  */
object AnnCounters {

  private val QueryIds: Seq[Long] = Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outJson = if (args.length > 1) args(1)
      else s"ANN_COUNTERS_${new java.io.File(sfDir).getName}.json"
    val spark = graft.core.GraftSession.get()

    val emb = graft.Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val base = emb.filter(col("vec_id").isNotNull)
      .select(col("vec_id").as("id"),
        Similarity.toDouble(col("embedding")).as("v"))

    /** (t, bucket) sizes for L tables at the gate's planesFor count,
      * with the gate's bucketsFor fold (r20: y2/y3 fold the signature
      * into round(n/32) buckets so the average bucket is exactly the
      * target at any n — the banding is the gates' own
      * [[Similarity.tableBuckets]]). */
    def bucketSizes(tables: Int): (Int, DataFrame) = {
      val planes = Similarity.planesFor(n, targetBucket = 32)
      val b = Similarity.bucketsFor(n, targetBucket = 32, planes = planes)
      (planes, Similarity.tableBuckets(base, planes, tables, b)
        .groupBy("t", "bucket")
        .agg(count(lit(1)).as("c"),
          sum(when(col("id").isin(QueryIds: _*), 1L).otherwise(0L)).as("nq"))
        .localCheckpoint())
    }

    def histo(sizes: DataFrame): Map[String, Long] = {
      val r = sizes.agg(
        count(lit(1)).as("buckets"), max(col("c")).as("max"),
        expr("percentile(c, 0.99)").cast("long").as("p99"),
        sum(col("c") * col("c")).as("sum_sq")).head()
      Map("buckets" -> r.getLong(0), "max_bucket" -> r.getLong(1),
        "p99_bucket" -> r.getLong(2), "sum_bucket_sq" -> r.getLong(3))
    }

    // ---- y2: tables=8, bounded query set --------------------------------
    val (p2, sizes2) = bucketSizes(8)
    val y2Pre = sizes2.filter(col("nq") > 0)
      .agg(coalesce(sum(col("nq") * (col("c") - 1)), lit(0L))).head().getLong(0)
    val y2Hist = histo(sizes2)

    // ---- y3: tables=4, cap=64, every doc queries ------------------------
    val (p3, sizes3) = bucketSizes(4)
    val cap = 64
    val y3Pre = sizes3.agg(sum(
      col("c") * least(col("c"), lit(cap)) - least(col("c"), lit(cap))))
      .head().getLong(0)
    val y3Hist = histo(sizes3)
    // the post-distinct count the cosine stage actually scores: the real
    // banded self-join, ids only (the probe's one expensive step)
    val planes3 = p3
    val buckets3 = Similarity.bucketsFor(n, targetBucket = 32, planes = p3)
    val banded3 = Similarity.tableBuckets(base, planes3, 4, buckets3)
      .repartition(col("t"), col("bucket"))
    val capW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("t"), col("bucket")).orderBy(col("id"))
    val ranked3 = banded3.withColumn("__rn", row_number().over(capW))
    val y3Distinct = ranked3
      .select(col("id").as("query_id"), col("t"), col("bucket"))
      .join(ranked3.filter(col("__rn") <= cap)
        .select(col("id").as("neighbor_id"), col("t"), col("bucket")),
        Seq("t", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct().count()

    // ---- y5: PQ/ADC — linear by construction ----------------------------
    val y5Encoded = base.count()
    val y5Pairs = y5Encoded * QueryIds.length - QueryIds.length

    // ---- y6: IVF-PQ, c=16, nprobe=4 --------------------------------------
    val cents = Ivf.seedCentroids(emb, "vec_id", "embedding", 16, 7L)
    val assigned = Ivf.assign(emb, "vec_id", "embedding", cents)
    val clusterSizes = assigned.groupBy("cluster_id")
      .agg(count(lit(1)).as("c")).localCheckpoint()
    val probeLists = emb.filter(col("vec_id").isin(QueryIds: _*))
      .select(col("vec_id").as("query_id"),
        explode(Ivf.nearestCids(Similarity.toDouble(col("embedding")), cents,
          math.min(4, cents.size))).as("cluster_id"))
    // self-match correction: a query subtracts itself iff its OWN cluster
    // is among its probes (it always is — its nearest centroid leads the
    // probe list), counted exactly via the assignment join
    val selfHits = probeLists.join(
      assigned.select(col("id").as("query_id"), col("cluster_id")),
      Seq("query_id", "cluster_id")).count()
    val y6Candidates = probeLists.join(clusterSizes, Seq("cluster_id"))
      .agg(coalesce(sum(col("c")), lit(0L))).head().getLong(0) - selfHits
    val y6Hist = {
      val r = clusterSizes.agg(count(lit(1)).as("k"), max("c"), min("c"),
        expr("percentile(c, 0.99)").cast("long")).head()
      Map("clusters" -> r.getLong(0), "max_cluster" -> r.getLong(1),
        "min_cluster" -> r.getLong(2), "p99_cluster" -> r.getLong(3))
    }

    def j(m: Map[String, Long]): String =
      m.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val json =
      s"""{"sf_dir":"$sfDir","n":$n,""" +
        s""""y2":{"planes":$p2,"tables":8,"banding_rows":${n * 8},""" +
        s""""candidates_pre_distinct":$y2Pre,"buckets":${j(y2Hist)}},""" +
        s""""y3":{"planes":$p3,"tables":4,"cap":$cap,"banding_rows":${n * 4},""" +
        s""""candidates_pre_distinct":$y3Pre,"candidates_distinct":$y3Distinct,""" +
        s""""buckets":${j(y3Hist)}},""" +
        s""""y5":{"encoded_rows":$y5Encoded,"scored_pairs":$y5Pairs,""" +
        s""""note":"no data-shape term: corpus scan + |Q| broadcast, linear by construction"},""" +
        s""""y6":{"c":16,"nprobe":4,"adc_scored_candidates":$y6Candidates,""" +
        s""""clusters":${j(y6Hist)}}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json)
    println(json)
    spark.stop()
  }
}
