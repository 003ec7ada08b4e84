package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.LoggerContext
import org.apache.spark.sql.functions.{col, lit}
import graft.core.GraftSession
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

  test("the JVM's cached file: filesystem is LocalFs; a stock one is reported with its cause") {
    import org.apache.hadoop.fs.{FileSystem, LocalFileSystem}
    val conf = spark.sparkContext.hadoopConfiguration
    assert(GraftSession.localFsMiss(FileSystem.getLocal(conf)).isEmpty)
    // what a filesystem cached before the first session would be
    val stock = new LocalFileSystem
    stock.initialize(java.net.URI.create("file:///"), new org.apache.hadoop.conf.Configuration(false))
    val miss = GraftSession.localFsMiss(stock)
    assert(miss.exists(m => m.contains("org.apache.hadoop.fs.RawLocalFileSystem") &&
      m.contains("before the JVM's first GraftSession")), miss)
  }

  test("the live codegen cache holds CodegenCacheEntries; Spark's default is reported with its cause") {
    assert(spark.range(1).count() == 1)
    assert(GraftSession.codegenCacheEntries() == GraftSession.CodegenCacheEntries)
    assert(GraftSession.codegenCacheMiss(GraftSession.codegenCacheEntries()).isEmpty)
    val miss = GraftSession.codegenCacheMiss(100)
    assert(miss.exists(m => m.contains("holds 100 entries") &&
      m.contains("before the JVM's first GraftSession")), miss)
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
