package graft

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
