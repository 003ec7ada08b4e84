package perfbench

import org.apache.spark.sql.functions._

/** Generator determinism check, run by tests/test_generator.py:
  * the same seed writes identical tables, another seed writes different
  * content with identical row counts and per-day row counts. Then a
  * [[Tracer]] check on the same fresh session: each SQL span of the first
  * traced op carries its own execution's plan attributes.
  *
  * Usage: perfbench.SelfTest <scratch dir>. Exits non-zero on a failure.
  */
object SelfTest {
  def main(argv: Array[String]): Unit = {
    val work = argv(0)
    val spark = graft.core.GraftSession.builder()
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sizes = StagingGen.sizes(0.01)
    val tables = sizes.rows.keys.toSeq.sorted

    def generate(seed: Long, dir: String) = {
      StagingGen.write(spark, seed, sizes, dir)
      val frames = tables.map(t => t -> spark.read.parquet(s"$dir/$t.parquet"))
      val perDay = frames.map { case (t, df) =>
        t -> df.groupBy(to_date(col("created_at")).cast("string").as("d")).count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }.toMap
      (Digest.ofAll(frames), perDay)
    }
    val (a, aDays) = generate(1L, s"$work/a")
    val (b, _) = generate(1L, s"$work/b")
    val (c, cDays) = generate(2L, s"$work/c")

    val failures = tables.flatMap { t =>
      Seq(
        if (a(t) != b(t)) Some(s"$t: seed 1 twice gave ${a(t)} and ${b(t)}") else None,
        if (a(t) == c(t)) Some(s"$t: seeds 1 and 2 gave the same content ${a(t)}") else None,
        if (a(t).rows != sizes(t)) Some(s"$t: ${a(t).rows} rows, sized ${sizes(t)}") else None,
        if (a(t).rows != c(t).rows) Some(s"$t: seeds 1 and 2 gave ${a(t).rows} and ${c(t).rows} rows") else None,
        if (aDays(t) != cDays(t)) Some(s"$t: seeds 1 and 2 spread rows over days differently") else None
      ).flatten
    }
    val traceFailures = traceCheck(spark, work)
    spark.stop()
    (failures ++ traceFailures).foreach(f => println(s"FAILED $f"))
    val n = failures.size + traceFailures.size
    println(if (n == 0) s"selftest ok: ${tables.size} tables, tracer" else s"selftest: $n failures")
    if (n > 0) sys.exit(1)
  }

  /** Two writes around a count in the first traced op of the session: the
    * write spans must name their own targets and the count span none. */
  private def traceCheck(spark: org.apache.spark.sql.SparkSession, work: String): Seq[String] = {
    val tracer = new Tracer(spark)
    tracer.attach()
    tracer.begin("op", "selftest")
    spark.range(10).write.parquet(s"$work/trace_a")
    spark.range(5).count()
    spark.range(3).write.parquet(s"$work/trace_b")
    tracer.end()
    tracer.detach()
    val sqls = tracer.spans().filter(_("kind") == "sql")
    val got = sqls.map(s => s("name").toString.takeWhile(_ != ' ') -> s.get("write_target").map(_.toString.split('/').last))
    val want = Seq("parquet" -> Some("trace_a"), "count" -> None, "parquet" -> Some("trace_b"))
    if (got == want) Nil else Seq(s"traced SQL spans are ${got.mkString(", ")}, expected ${want.mkString(", ")}")
  }
}
