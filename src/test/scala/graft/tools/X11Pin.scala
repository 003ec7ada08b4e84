package graft.tools

import org.apache.spark.sql.functions._

/** Independent-comparator pin for x11_cross_dedup at scale factors the
  * DuckDB oracle cannot reach (the same x3-family oracle disk limit as
  * X10Pin documents): the engine's A×B cross band-join roster is
  * compared against a derivation through the INDEPENDENT union
  * self-join path — `minhashLshPairs` over A ∪ B, pairs filtered
  * to one-id-per-side by set membership (both orientations), then the
  * same (jaccard desc, min A-id) argmax. The two paths share the hash
  * family and verify formula (they must — a pair scores one jaccard)
  * but band, join, and select through different code; agreement over
  * every leaked doc pins the roster.
  *
  * Usage: tools/run-main.sh graft.tools.X11Pin <sfDir>
  */
object X11Pin {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.get()
    val left = graft.Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val right = graft.queries.TextQueries.perturbedDocs(spark, sfDir)
    // The union-self-join reference below is only valid if the two
    // sides' id sets are DISJOINT (side classification is by id-set
    // membership; an id on both sides would merge two documents in the
    // shared-pairs groupBy and land pairs in both orientations). The
    // +1000000 shift guarantees it for today's ScaleGen id scheme —
    // assert it so a generator change fails loudly here, not as a
    // confusing oracle hash divergence.
    val overlap = left.select(col("doc_id"))
      .intersect(right.select(col("doc_id"))).count()
    require(overlap == 0,
      s"X11Pin: document and perturbed id sets overlap in $overlap ids — " +
        "the union-self-join reference is invalid for this id scheme")
    // both paths carry the gate's bucket guard (r15): the cross form
    // counts COMBINED (A ∪ B) bucket membership, which is exactly what
    // the union self-join's per-bucket count sees — so the two stay
    // roster-equivalent on guarded and unguarded corpora alike
    val engine = graft.operators.Dedup.crossDedupRoster(
      left, right, "doc_id", "text",
      n = 3, bands = 16, rowsPerBand = 8, threshold = 0.6,
      maxBucketSize = graft.queries.TextQueries.MaxBucket)
    val union = left.unionByName(right)
    val pairs = graft.operators.Dedup.minhashLshPairs(
      union, "doc_id", "text", n = 3, bands = 16, rowsPerBand = 8, threshold = 0.6,
      maxBucketSize = graft.queries.TextQueries.MaxBucket)
    val aIds = left.select(col("doc_id").as("a_id"))
    val bIds = right.select(col("doc_id").as("b_id"))
    // both orientations: the self-join orders pairs by id, and at sf1+
    // the copy strides interleave the two sides' id ranges
    val oriented = pairs.select(col("id_a").as("a_id"), col("id_b").as("b_id"),
        col("jaccard_sim"))
      .unionByName(pairs.select(col("id_b").as("a_id"), col("id_a").as("b_id"),
        col("jaccard_sim")))
    val reference = oriented
      .join(aIds, "a_id").join(bIds, "b_id")
      .groupBy(col("b_id").as("doc_id"))
      .agg(max(struct(col("jaccard_sim").as("j"), (-col("a_id")).as("nega"))).as("best"))
      .select(col("doc_id"), (-col("best.nega")).as("matched_doc_id"),
        col("best.j").as("jaccard_sim"))
    val eCnt = engine.count()
    val rCnt = reference.count()
    val diff = engine.exceptAll(reference).count() +
      reference.exceptAll(engine).count()
    println(s"[x11pin] engine rows=$eCnt reference rows=$rCnt " +
      s"symmetric-diff rows=$diff => ${if (diff == 0 && eCnt == rCnt) "MATCH" else "MISMATCH"}")
    // third path (x12): split A's signatures via a PERSISTED parquet
    // store, delta deduped against it — the incremental pipeline must be
    // roster-identical to the recompute at every pinned scale
    val storeDir = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_x11pin_store").toString
    graft.operators.Dedup.signatureStore(left, "doc_id", "text",
        n = 3, bands = 16, rowsPerBand = 8)
      .write.mode("overwrite").parquet(storeDir)
    val incremental = graft.operators.Dedup.incrementalDedupRoster(
      right, spark.read.parquet(storeDir), "doc_id", "text",
      n = 3, bands = 16, rowsPerBand = 8, threshold = 0.6)
    val iCnt = incremental.count()
    val iDiff = incremental.exceptAll(engine).count() +
      engine.exceptAll(incremental).count()
    println(s"[x11pin] incremental(store) rows=$iCnt symmetric-diff vs " +
      s"engine=$iDiff => ${if (iDiff == 0 && iCnt == eCnt) "MATCH" else "MISMATCH"}")
    spark.stop()
  }
}
