package graft.tools

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Independent-comparator pin for x10_cluster_keep_best at scale
  * factors the DuckDB oracle cannot reach (the x3-family oracle's
  * 128-lane aggregate + banded self-join spills DuckDB's temp storage
  * past the box's disk at sf10 — the same oracle-limit class as v4's
  * sf1 gap, closed the same way, per the BpeEncodePin precedent):
  * the engine's map-side-combinable max(struct(score, -id)) argmax is
  * compared against an INDEPENDENT window formulation — row_number over
  * (score DESC, id ASC) per cluster, the textbook keep-best shape the
  * operator's scaladoc rejects for skew — over the identical clusters
  * and scores. Selection logic shares no code; agreement over every
  * cluster pins the survivor, the score, and the member count.
  *
  * Usage: tools/run-main.sh graft.tools.X10Pin <sfDir>
  */
object X10Pin {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.get()
    val corpus = graft.queries.TextQueries.nearDupCorpus(spark, sfDir)
    val pairs = graft.operators.Dedup.minhashLshPairs(
      corpus, "doc_id", "text", n = 3, bands = 16, rowsPerBand = 8, threshold = 0.6)
    val clusters = graft.operators.Dedup.components(pairs, "id_a", "id_b")
      .select(col("id").as("doc_id"), col("cluster_id"))
      .localCheckpoint() // one clustering pass feeds BOTH selections
    val scored = corpus.select(col("doc_id"),
      graft.functions.TextAnalysis.qualityScore(col("text")).as("q"))
    val engine = graft.operators.Dedup.clusterRepresentatives(
      clusters, "doc_id", "cluster_id", scored, "doc_id", "q")
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("q").desc, col("doc_id").asc)
    val reference = clusters.join(scored, "doc_id")
      .withColumn("__rn", row_number().over(w))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .filter(col("__rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("keep_id"),
        col("q").as("quality_score"), col("n_members"))
    val eCnt = engine.count()
    val rCnt = reference.count()
    val diff = engine.exceptAll(reference).count() +
      reference.exceptAll(engine).count()
    println(s"[x10pin] engine rows=$eCnt reference rows=$rCnt " +
      s"symmetric-diff rows=$diff => ${if (diff == 0 && eCnt == rCnt) "MATCH" else "MISMATCH"}")
    spark.stop()
  }
}
