package graft.tools

import org.apache.spark.sql.functions._

/** Roster-neutrality pin for cur5's exact pre-collapse (the r15-advice
  * stage): on corpora whose duplicate families stay under
  * `TextQueries.MaxBucket` the collapse must not move ANY output row —
  * identical texts tie on qualityScore and keep-best breaks ties to
  * min id, so the downstream near-dup dedup collapses them to the same
  * survivor the pre-collapse picks, and with identical rosters the
  * split and packing offsets are byte-identical too. This tool runs the
  * full gate chain BOTH ways (`cur5Chain(preCollapse = true/false)`)
  * and diffs the complete packed manifests.
  *
  * The DIVERGENCE direction of the contract (>MaxBucket identical
  * copies reaching the guarded minhash => every copy survives without
  * the collapse) is pinned by `CurationMegaDupSpec` at unit scale; it
  * cannot be exercised corpus-level on the zipf lanes because cur5's
  * DSIR resample anti-selects exact-dup mega clusters WHOLESALE before
  * dedup ever sees them — identical texts share one margin, hence one
  * p_keep, and a strongly-negative family loses the whole lottery
  * (measured at sf10zipf: the 50,000-copy family's post-resample
  * maximum identical family is 2).
  *
  * Usage: tools/run-main.sh graft.tools.Cur5PreCollapsePin <sfDir>
  * Exit 1 on any roster or offset diff.
  */
object Cur5PreCollapsePin {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.get()

    def arm(pre: Boolean): (org.apache.spark.sql.DataFrame, Double) = {
      val t0 = System.nanoTime()
      val df = graft.queries.ClassifierQueries
        .cur5Chain(spark, sfDir, preCollapse = pre)
        .localCheckpoint() // freeze each arm so the diff scans, not recomputes
      (df, (System.nanoTime() - t0) / 1e9)
    }
    val (withPre, tPre) = arm(pre = true)
    val (without, tNo) = arm(pre = false)
    val nPre = withPre.count()
    val nNo = without.count()
    val onlyPre = withPre.exceptAll(without).count()
    val onlyNo = without.exceptAll(withPre).count()
    val diff = onlyPre + onlyNo
    println(f"[cur5pin] sf=$sfDir preRows=$nPre%d noPreRows=$nNo%d " +
      f"onlyPre=$onlyPre%d onlyNoPre=$onlyNo%d " +
      f"(preCollapse arm $tPre%.1f s, control $tNo%.1f s)")
    if (diff != 0) {
      println("[cur5pin] FAIL: expected diff 0")
      sys.exit(1)
    }
    println("[cur5pin] OK (roster-neutral)")
  }
}
