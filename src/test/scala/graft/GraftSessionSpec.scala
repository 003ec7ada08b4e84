package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.LoggerContext
import org.apache.spark.sql.functions.{col, lit}
import graft.tools.QueryProbe

/** Session-wide settings of [[graft.core.GraftSession]] that no plan
  * shows. */
class GraftSessionSpec extends SparkSpec {

  test("a second pass over 150 distinct plans compiles no class") {
    // The engine re-runs the same plans (the nightly pipeline, Bench's
    // repeated runs of each gate), so a plan's generated classes must
    // outlive the other plans of one pass; Spark's default cache of 100
    // entries evicted them first and every warm pass recompiled.
    // Each literal is inlined into its own generated class.
    def pass(): Unit = (1 to 150).foreach { i =>
      assert(spark.range(10).select(col("id") * lit(i)).collect().length == 10)
    }
    // CodeGenerator sizes its cache when it first loads, so the session
    // must exist before the first reading
    assert(spark.range(1).count() == 1)
    val (before, _) = QueryProbe.codegen()
    pass()
    val (cold, coldNs) = QueryProbe.codegen()
    assert(cold - before >= 150, s"the first pass compiled only ${cold - before} classes")
    pass()
    val (warm, warmNs) = QueryProbe.codegen()
    assert(warm == cold, s"the second pass recompiled ${warm - cold} classes")
    assert(warmNs == coldNs)
  }

  test("only WindowExec's logger is raised to ERROR") {
    // the global-window "No Partition Defined" warning goes; every other
    // logger keeps the configured level
    assert(spark.version.nonEmpty)
    val cfg = LogManager.getContext(false).asInstanceOf[LoggerContext].getConfiguration
    val name = "org.apache.spark.sql.execution.window.WindowExec"
    val window = cfg.getLoggerConfig(name)
    assert(window.getName == name && window.getLevel == Level.ERROR)
    assert(cfg.getLoggerConfig("org.apache.spark.sql.execution.window.WindowGroupLimitExec")
      .getName == LogManager.ROOT_LOGGER_NAME)
  }
}
