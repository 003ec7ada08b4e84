package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CI-style guard for the Verify failure ledger (round-12 verdict #7):
  * drives [[Verify.run]] against a SCRATCH registry with a deliberately
  * failing query and asserts the failure lands as an explicit ledger
  * stub — so a future environment break can never again read as a
  * smaller correctness denominator instead of a failure. */
class VerifyLedgerSpec extends SparkSpec {

  private def scratchDir(): String =
    TestDirs.fresh("ledger_spec") + "/out"

  private val good: (SparkSession, String) => DataFrame =
    (s, _) => s.range(3).select(col("id"))
  private val boom: (SparkSession, String) => DataFrame =
    (_, _) => throw new RuntimeException("deliberate spec failure")

  test("a failing query lands in _errors.json; passing queries still dump") {
    val out = scratchDir()
    val errors = Verify.run(spark, "/nonexistent_sf", out,
      queries = Map("ok_query" -> good, "bad_query" -> boom),
      oracleSql = Map("ok_query" -> "SELECT 1"),
      aux = Map.empty, timeoutSec = 120)
    assert(errors.keySet == Set("bad_query"))
    assert(errors("bad_query").contains("deliberate spec failure"))
    // the ledger file is a SIBLING of outDir, never inside it
    val ledger = Files.readString(Paths.get(out + "_errors.json"))
    assert(ledger.contains("bad_query") && ledger.contains("deliberate spec failure"))
    assert(!Files.exists(Paths.get(s"$out/_errors.json")))
    // the good query's parquet and the oracle map still exist — one bad
    // query can't starve the rest of the dump
    assert(Files.exists(Paths.get(s"$out/ok_query")))
    assert(Files.readString(Paths.get(s"$out/oracle_sql.json")).contains("ok_query"))
  }

  test("empty ledger is still written: {} proves the ledger ran") {
    val out = scratchDir()
    val errors = Verify.run(spark, "/nonexistent_sf", out,
      queries = Map("ok_query" -> good),
      oracleSql = Map.empty, aux = Map.empty, timeoutSec = 120)
    assert(errors.isEmpty)
    assert(Files.readString(Paths.get(out + "_errors.json")) == "{}")
  }

  test("oversized failure messages are truncated in the ledger (ADVICE r12)") {
    val big = "x" * 10000
    val out = scratchDir()
    val errors = Verify.run(spark, "/nonexistent_sf", out,
      queries = Map("huge_fail" -> ((_, _) => throw new RuntimeException(big))),
      oracleSql = Map.empty, aux = Map.empty, timeoutSec = 120)
    val msg = errors("huge_fail")
    assert(msg.length < Verify.MaxErrorLen + 50, s"ledger message not capped: ${msg.length}")
    assert(msg.contains("truncated"))
    assert(Files.readString(Paths.get(out + "_errors.json")).length < 1000)
  }

  test("aux-table failures land in the ledger under an aux_ key") {
    val out = scratchDir()
    val errors = Verify.run(spark, "/nonexistent_sf", out,
      queries = Map.empty, oracleSql = Map.empty,
      aux = Map("broken_aux" -> boom), timeoutSec = 120)
    assert(errors.keySet == Set("aux_broken_aux"))
  }
}
