package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. The dump loop
  * itself is [[Verify.run]] — a plain function over an explicit query
  * registry, so the failure-ledger contract (a broken query can NEVER
  * read as a smaller denominator) is spec-testable against a scratch
  * registry instead of only observable in production runs. */
object Verify {

  /** Ledger messages are capped: a Spark AnalysisException can carry a
    * full plan tree, and one failure must not bloat `_errors.json` into
    * an artifact the driver's capture clips. */
  private[graft] val MaxErrorLen = 500

  private[graft] def truncated(msg: String): String =
    if (msg.length <= MaxErrorLen) msg
    else msg.take(MaxErrorLen) + s"... [truncated, ${msg.length} chars]"

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The dump loop. Writes each query's result under `outDir/<name>`,
    * aux tables under `<outDir>_aux`, `oracle_sql.json` inside outDir and
    * the failure ledger at `<outDir>_errors.json` (written even when
    * empty: "{}" proves the ledger ran, distinguishing 0 failures from no
    * ledger). Returns the ledger. Failure LEDGER (round-11 finding): a
    * query that throws before its parquet write simply has no output dir,
    * and the driver's correctness file then records a SMALLER DENOMINATOR
    * instead of a failure — 9 broken gates once read as "112/112 green".
    * Every failure (error or timeout) is therefore recorded as explicit
    * artifact evidence, never a silent shrink. */
  private[graft] def run(spark: SparkSession, sfDir: String, outDir: String,
                         queries: Map[String, (SparkSession, String) => DataFrame],
                         oracleSql: Map[String, String],
                         aux: Map[String, (SparkSession, String) => DataFrame],
                         timeoutSec: Long): collection.Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    // Per-query wall-clock cap: one pathological query must not stall the
    // whole correctness dump. Cancellation via Spark job groups.
    import java.util.concurrent.{Executors, TimeUnit, TimeoutException}
    val pool = Executors.newCachedThreadPool()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    def guarded(ledgerKey: String, jobGroup: String)(body: => Unit): Unit = {
      val task = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          spark.sparkContext.setJobGroup(jobGroup, ledgerKey, interruptOnCancel = true)
          body
        }
      })
      try task.get(timeoutSec, TimeUnit.SECONDS)
      catch {
        case _: TimeoutException =>
          spark.sparkContext.cancelJobGroup(jobGroup)
          task.cancel(true)
          System.err.println(s"[verify] $ledgerKey timed out after ${timeoutSec}s")
          errors(ledgerKey) = s"timeout after ${timeoutSec}s"
        case e: Throwable =>
          val msg = Option(e.getCause).getOrElse(e).getMessage
          System.err.println(s"[verify] $ledgerKey failed: ${truncated(Option(msg).getOrElse(""))}")
          errors(ledgerKey) = truncated(Option(msg).getOrElse(e.getClass.getName))
      }
    }
    queries.foreach { case (name, fn) =>
      guarded(name, name) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
    }
    // aux tables for hash-importing oracles (see queries.OracleAux):
    // written after the query dumps so a pathological aux build can't
    // starve the main gate; failures degrade those oracles, not the run.
    // A SIBLING of outDir, not inside it — the driver enumerates outDir's
    // children as query results, and the aux dump is not a query.
    val auxDir = new java.io.File(outDir).getAbsolutePath.stripSuffix("/") + "_aux"
    aux.foreach { case (name, fn) =>
      guarded(s"aux_$name", s"aux_$name") {
        fn(spark, sfDir).write.mode("overwrite").parquet(s"$auxDir/$name")
      }
    }
    pool.shutdownNow()
    val json = oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace(graft.queries.OracleAux.Placeholder, auxDir))}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the failure ledger — a SIBLING file like the aux dir (the driver
    // enumerates outDir's children as query results; an extra file
    // inside could be misread as one).
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(
      new java.io.File(outDir).getAbsolutePath.stripSuffix("/") + "_errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} quer${if (errors.size == 1) "y" else "ies"} failed: ${errors.keys.mkString(", ")}")
    errors
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_AQE=false is the determinism lane's perturbation
    // (tools/determinism_lane.sh): disabling AQE defeats exchange reuse,
    // the configuration under which the sampled-range-boundary bug class
    // (Warehouse r14, Packing r16) actually diverges — production runs
    // keep the default (AQE on).
    val aqe = sys.env.getOrElse("SPARK_GRAFT_AQE", "true")
    val spark = graft.core.GraftSession.builder()
      .config("spark.sql.adaptive.enabled", aqe)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT", "600").toLong
    // optional comma-separated filter (local iteration only — the driver
    // always dumps the full surface)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY").map(_.split(",").toSet)
    val queries = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter { case (k, _) => names.contains(k) })
    run(spark, sfDir, outDir, queries, SparkEntry.oracleSql,
      graft.queries.OracleAux.tables, timeoutSec)
    spark.stop()
  }
}
