package graft.tools


/** Arm-equivalence pin for BPE training at scale factors the v3/v6
  * DuckDB oracle cannot reach (allocator class): run the EXACT
  * distributed trainer and the sampled driver-local trainer with the
  * sample covering the whole corpus, and diff the merge tables round
  * for round. The two arms share nothing but the greedy-merge contract
  * (distributed: regexp rewrite + Spark aggregates + orderBy tie-break;
  * local: array scan + hash-map delta counts + UTF8-byte heap), so
  * agreement at 50k/500k docs pins the sampled arm's whole pipeline at
  * the scales the v6 gate's SQL mirror OOMs at. Expected: diff 0.
  *
  * Usage: tools/run-main.sh graft.tools.BpeArmPin <sfDir> [rounds]
  */
object BpeArmPin {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/testdata/sf1")
    val rounds = args.lift(1).map(_.toInt).getOrElse(12)
    val spark = graft.core.GraftSession.get()
    val docs = graft.Tables.documents(spark, sfDir)
    def collectPicks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    val t0 = System.nanoTime()
    val dist = collectPicks(graft.operators.Lm.bpeMerges(
      docs, "doc_id", "text", rounds))
    val tDist = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val samp = collectPicks(graft.operators.Lm.bpeMergesSampled(
      docs, "doc_id", "text", rounds = rounds, sampleDocs = Int.MaxValue))
    val tSamp = (System.nanoTime() - t1) / 1e9
    val same = dist == samp
    println(f"[bpearmpin] sf=$sfDir rounds=$rounds dist=${dist.size} picks " +
      f"samp=${samp.size} picks equal=$same " +
      f"(dist $tDist%.1f s, sampled $tSamp%.1f s)")
    if (!same) {
      dist.zip(samp).filter { case (a, b) => a != b }.take(10)
        .foreach { case (a, b) => println(s"[bpearmpin] DIFF $a vs $b") }
    }
    spark.stop()
    if (!same) sys.exit(1)
  }
}
