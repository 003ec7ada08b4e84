package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.functions.TextAnalysis

/** The r15-advice scenario the cur5 gate corpus (max dup family ~4)
  * never exercises: a corpus with MORE identical copies of one text
  * than `maxBucketSize`. The bucket guard drops every banding row of
  * such a mega-cluster (its buckets all exceed the cap), so a chain
  * that runs the guarded minhash WITHOUT an exact pre-collapse forms
  * no pairs among the copies and every copy survives to packing.
  * cur5's committed shape therefore collapses identical texts to
  * their min-id member BEFORE banding; this spec pins both halves of
  * that contract on a corpus where the guard actually fires. */
class CurationMegaDupSpec extends SparkSpec {
  import spark.implicits._

  private val Cap = 8 // test-scale stand-in for TextQueries.MaxBucket

  // 20 byte-identical copies (>> Cap) + a genuine near-dup pair
  // (long shared prefix, one token differs => shingle jaccard ~0.9,
  // above the 0.6 threshold) + one unrelated singleton.
  private val megaText =
    (1 to 15).map(i => s"copper kettle number token$i").mkString(" ")
  private val base =
    (1 to 60).map(i => s"w$i").mkString(" ")
  private val nearA = base + " tail original"
  private val nearB = base + " tail variant"
  private val lonely = "completely different text about turnip farming methods"

  private lazy val corpus = (
    (1L to 20L).map(i => (i, megaText)) ++
      Seq((100L, nearA), (101L, nearB), (200L, lonely))
  ).toDF("doc_id", "text")

  private def chain(df: org.apache.spark.sql.DataFrame) = {
    val pairs = Dedup.minhashLshPairs(df, "doc_id", "text",
      n = 3, bands = 16, rowsPerBand = 8, threshold = 0.6,
      maxBucketSize = Cap)
    val cl = Dedup.clusters(pairs, "id_a", "id_b")
      .select(col("id").as("doc_id"), col("cluster_id"))
    val reps = Dedup.clusterRepresentatives(cl, "doc_id", "cluster_id",
      df.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("q")), "doc_id", "q")
    (pairs,
      df.join(cl, Seq("doc_id"), "left_anti").select("doc_id")
        .unionByName(reps.select(col("keep_id").as("doc_id"))))
  }

  test("guarded minhash alone forms no pairs inside an over-cap identical cluster") {
    val (pairs, survivors) = chain(corpus)
    // every band bucket of the 20 copies holds 20 ids > Cap: all dropped
    assert(pairs.filter(col("id_a") <= 20 && col("id_b") <= 20).count() === 0L)
    // ... so without a pre-collapse ALL 20 copies survive (the failure
    // mode the advice named), while the under-cap near-dup pair still
    // collapses — the guard is selective, not global
    val ids = survivors.as[Long].collect().toSet
    assert((1L to 20L).forall(ids.contains))
    assert(pairs.filter(col("id_a") === 100L && col("id_b") === 101L).count() === 1L)
  }

  test("cur5's exact pre-collapse restores one-survivor semantics on the mega cluster") {
    val uniq = corpus.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id", "text")
    val (_, survivors) = chain(uniq)
    val ids = survivors.as[Long].collect().toSet
    // exactly the min-id copy of the mega cluster, one of the near-dup
    // pair (equal quality => min-id tie-break), and the singleton
    assert(ids === Set(1L, 100L, 200L))
  }
}
