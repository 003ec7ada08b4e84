package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one JVM-wide session; Test/fork=true). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = graft.core.GraftSession.builder(4).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark

  /** `body`'s result and the Spark jobs it started, on this thread or on
    * any thread it started (a new thread inherits the local property that
    * labels them), counted by a listener. A sentinel job closes the
    * count: the listener bus delivers job starts in order. */
  def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val label = "graft.spec.jobs"
    val run = java.util.UUID.randomUUID().toString
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(label))).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(label, run)
      val out = body
      sc.setLocalProperty(label, s"$run/end")
      spark.range(1).count()
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (!seen.contains(s"$run/end") && System.nanoTime < deadline) Thread.sleep(10)
      assert(seen.contains(s"$run/end"), "the sentinel job's start never arrived")
      (out, seen.asScala.count(_ == run))
    } finally {
      sc.setLocalProperty(label, null)
      sc.removeSparkListener(listener)
    }
  }

  /** Run `body` with scan-split sizing shrunk so the test parquet files
    * plan as MANY splits — the corpus-scale input geometry. Plan-shape
    * specs that pin an operator's AT-SCALE shuffle structure use this so
    * [[graft.core.Fanout.spread]]'s small-input fan-out (an extra
    * REPARTITION_BY_NUM exchange that exists only when the scan is
    * narrower than the core count) stays out of the asserted plan, same
    * as it would on real corpus-sized inputs. */
  def withAtScaleScans[A](body: => A): A = {
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "4096")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
