package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import scala.collection.mutable

/** Generic per-query bench forensics (r20 optimization round): runs the
  * named gates N times in one JVM and attributes each run's wall time to
  * jobs / stages / tasks, so a slow gate can be blamed on task compute,
  * a straggler, GC, or driver gaps (planning, codegen, scheduling) —
  * the thing the sf0.1 bench numbers alone cannot distinguish. Each run
  * line also carries the Janino compiles of the run and their ms, so a
  * driver gap splits into codegen and everything else.
  * tools/Y3Probe (deleted after 17eacc8) generalized to any gate; the one
  * per-gate attribution probe. Not part of the library surface.
  *
  *   runMain graft.tools.QueryProbe <sfDir> <query...>
  */
object QueryProbe {
  final case class StageRec(id: Int, name: String, durMs: Long,
                            maxTaskMs: Long, taskSumMs: Long, cpuSumMs: Long,
                            deserSumMs: Long, gcMs: Long, tasks: Int)

  /** JVM-wide (Janino compiles, compile ns) so far; a run's codegen is
    * the difference of two readings. Read it only once a GraftSession
    * exists: the first touch of Spark's CodeGenerator fixes its cache
    * size for the JVM, and without a session that is Spark's default. */
  def codegen(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val names = args.drop(1).toSeq
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val topN = sys.env.getOrElse("SPARK_GRAFT_PROBE_TOP", "8").toInt
    val spark = graft.core.GraftSession.get()

    val stageStart = mutable.Map[Int, Long]()
    val stages = mutable.ArrayBuffer[StageRec]()
    val taskMax = mutable.Map[Int, Long]()
    val taskSum = mutable.Map[Int, Long]()
    val cpuSum = mutable.Map[Int, Long]()
    val deserSum = mutable.Map[Int, Long]()
    val taskGc = mutable.Map[Int, Long]()
    val taskCnt = mutable.Map[Int, Int]()
    var jobs = 0
    var jobMs = 0L
    val jobStart = mutable.Map[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        synchronized { jobStart(j.jobId) = System.nanoTime() }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
        jobs += 1
        jobMs += (System.nanoTime() - jobStart.getOrElse(j.jobId,
          System.nanoTime())) / 1000000L
      }
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        synchronized { stageStart(s.stageInfo.stageId) = System.nanoTime() }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
        val sid = t.stageId
        val m = t.taskMetrics
        if (m != null) {
          val rt = m.executorRunTime
          taskMax(sid) = math.max(taskMax.getOrElse(sid, 0L), rt)
          taskSum(sid) = taskSum.getOrElse(sid, 0L) + rt
          cpuSum(sid) = cpuSum.getOrElse(sid, 0L) + m.executorCpuTime / 1000000L
          deserSum(sid) = deserSum.getOrElse(sid, 0L) + m.executorDeserializeTime
          taskGc(sid) = taskGc.getOrElse(sid, 0L) + m.jvmGCTime
          taskCnt(sid) = taskCnt.getOrElse(sid, 0) + 1
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        synchronized {
          val sid = s.stageInfo.stageId
          val dur = (System.nanoTime() - stageStart.getOrElse(sid,
            System.nanoTime())) / 1000000L
          stages += StageRec(sid, s.stageInfo.name.take(70), dur,
            taskMax.getOrElse(sid, 0L), taskSum.getOrElse(sid, 0L),
            cpuSum.getOrElse(sid, 0L), deserSum.getOrElse(sid, 0L),
            taskGc.getOrElse(sid, 0L), taskCnt.getOrElse(sid, 0))
        }
      }
    spark.sparkContext.addSparkListener(listener)
    spark.range(1000).selectExpr("sum(id)").collect()

    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      for (r <- 1 to runs) {
        synchronized {
          stages.clear(); taskMax.clear(); taskSum.clear()
          cpuSum.clear(); deserSum.clear()
          jobStart.clear(); stageStart.clear()
          taskGc.clear(); taskCnt.clear(); jobs = 0; jobMs = 0L
        }
        val (compiles0, compileNs0) = codegen()
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        val (compiles1, compileNs1) = codegen()
        Thread.sleep(700) // listener bus is async: let it drain
        val (snap, nJobs, sumJobMs) =
          synchronized { (stages.toList, jobs, jobMs) }
        val stageMs = snap.map(_.durMs).sum
        val taskMs = snap.map(_.taskSumMs).sum
        println(f"== $name run=$r wall=$wall%.2f s rows=$n jobs=$nJobs " +
          f"jobMs=$sumJobMs stages=${snap.length} stageMsSum=$stageMs " +
          f"taskMsSum=$taskMs gcMs=${snap.map(_.gcMs).sum} " +
          f"compiles=${compiles1 - compiles0} compileMs=${(compileNs1 - compileNs0) / 1000000L}")
        snap.sortBy(-_.durMs).take(topN).foreach(s => println(
          f"  stage=${s.id}%4d dur=${s.durMs}%6d ms maxTask=${s.maxTaskMs}%5d " +
            f"taskSum=${s.taskSumMs}%6d cpuSum=${s.cpuSumMs}%6d deser=${s.deserSumMs}%5d " +
            f"gc=${s.gcMs}%4d tasks=${s.tasks}%4d  ${s.name}"))
        System.gc()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
    }
    spark.stop()
  }
}
