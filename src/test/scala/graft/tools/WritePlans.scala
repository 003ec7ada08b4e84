package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{REBALANCE_PARTITIONS_BY_COL, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** The executed plan of every file write a gate makes, captured by a
  * `QueryExecutionListener`: the evidence that a change to the write
  * path leaves each write's plan as it was. SourcesSpec reads the store
  * layout off the same capture.
  *
  * Usage: tools/write_plans_alone.sh <sfDir> <outDir> <gate>... (one
  * fresh JVM per gate, ids masked as in tools/explain_alone.sh), or
  * tools/run-main.sh graft.tools.WritePlans <sfDir> <gate> for the raw
  * plans.
  */
object WritePlans extends AdaptiveSparkPlanHelper {

  /** The executed plan of each file write `body` made on any thread, as
    * (output path, plan), sorted by path so legs that write concurrently
    * list in one order. A marked query closes the capture: the listener
    * bus delivers query ends in order. */
  def capture(spark: SparkSession)(body: => Any): Seq[(String, SparkPlan)] = {
    val seen = new ConcurrentLinkedQueue[(String, SparkPlan)]()
    val sentinel = s"graft_write_plans_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    @volatile var closed = false
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        if (qe.analyzed.output.exists(_.name == sentinel)) closed = true
        // under AQE the write command sits inside a result query stage
        collect(qe.executedPlan) {
          case DataWritingCommandExec(cmd: InsertIntoHadoopFsRelationCommand, _) => cmd.outputPath.toString
        }.foreach(path => seen.add(path -> qe.executedPlan))
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF(sentinel).collect()
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (!closed && System.nanoTime < deadline) Thread.sleep(20)
      assert(closed, "the capture's closing query never reached the listener")
      seen.asScala.toSeq.sortBy(_._1)
    } finally spark.listenerManager.unregister(listener)
  }

  /** The key columns of every rebalance exchange in `plan`, adaptive
    * query stages included. */
  def rebalanceKeys(plan: SparkPlan): Seq[Seq[String]] = collect(plan) {
    case s: ShuffleExchangeExec if s.shuffleOrigin == REBALANCE_PARTITIONS_BY_COL =>
      s.outputPartitioning match {
        case h: HashPartitioning =>
          h.expressions.flatMap(_.references.map(_.name))
        case other => Seq(other.toString)
      }
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, gate) = args.take(2)
    val spark = graft.core.GraftSession.get()
    val fn = graft.SparkEntry.queries.getOrElse(gate, sys.error(s"no gate $gate"))
    println("== Physical Plan ==")
    capture(spark)(fn(spark, sfDir)).foreach { case (_, p) => println(p.treeString) }
    spark.stop()
  }
}
