package graft

import java.nio.file.Files
import java.sql.{Date, Timestamp}
import org.apache.spark.sql.functions._
import graft.pipeline.{Pipeline, VcPipeline}

/** End-to-end pipeline integration over FIXTURES.md-style staging data:
  * full run, skip-on-empty propagation, and incremental-day filtering. */
class VcPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Write a small, edge-case-bearing staging area, with the tables
    * named in `empty` written without rows; returns its dir. */
  private def writeStaging(empty: Set[String] = Set.empty): String = {
    val dir = TestDirs.fresh("vc_staging")
    def put(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      (if (empty(name)) df.limit(0) else df).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    put("company", Seq(
      ("c:1", "#12 Market St", "Suite 4", "SF", "Bay", "us", ts("2020-01-01 10:00:00")),
      ("c:2", "AB", "", "NY", "", "us", ts("2020-01-02 10:00:00")),
      ("f:3", "Fund HQ", null, "LDN", "London", "gb", ts("2020-01-02 11:00:00"))
    ).toDF("object_id", "address1", "address2", "region", "city", "country_code", "created_at"))

    put("funds", Seq(
      ("fd1", "f:3", " Alpha Fund ", Date.valueOf("2004-02-28"),
        BigDecimal("100.00"), "EUR", " desc ", ts("2020-01-02 09:00:00"))
    ).toDF("fund_id", "object_id", "name", "funded_at", "raised_amount",
      "raised_currency_code", "source_description", "created_at"))

    put("people", Seq(
      ("p1", "p:1", "Ada", "Lovelace", "London", "Analytical", ts("2020-01-01 08:00:00"))
    ).toDF("people_id", "object_id", "first_name", "last_name", "birthplace",
      "affiliation_name", "created_at"))

    put("relationships", Seq(
      ("r1", "p:1", "c:1", "2010-01-01", "2012-01-01", "no", "1", "CEO")
    ).toDF("relationship_id", "person_object_id", "relationship_object_id",
      "start_at", "end_at", "is_past", "sequence", "title"))

    put("investments", Seq(
      (1L, 10L, "c:1", "f:3", ts("2020-01-02 12:00:00")),
      (2L, 99L, "c:2", "f:3", ts("2020-01-01 12:00:00")), // missing round -> nulls
      (3L, 10L, "c:9", "f:3", ts("2020-01-01 12:00:00"))  // orphan company -> dropped
    ).toDF("investment_id", "funding_round_id", "funded_object_id",
      "investor_object_id", "created_at"))

    put("funding_rounds", Seq(
      (10L, Date.valueOf("2000-06-01"), "series-a", "3", BigDecimal("10.00"),
        "USD", BigDecimal("1.00"), BigDecimal("2.00"))
    ).toDF("funding_round_id", "funded_at", "funding_round_type", "participants",
      "raised_amount_usd", "raised_currency_code",
      "pre_money_valuation_usd", "post_money_valuation_usd"))

    put("ipos", Seq(
      ("7", "c:1", BigDecimal("500.00"), BigDecimal("100.00"), "GBP", "USD",
        ts("2010-05-04 00:00:00"), " NQ:ONE ", "first listing", ts("2020-01-01 09:00:00"))
    ).toDF("ipo_id", "object_id", "valuation_amount", "raised_amount",
      "valuation_currency_code", "raised_currency_code", "public_at",
      "stock_symbol", "source_description", "created_at"))

    put("acquisition", Seq((1L, "c:1", "c:2", "cash", BigDecimal("50.00"), "USD",
      ts("2011-01-01 00:00:00"), "deal")).toDF("acquisition_id", "acquiring_object_id",
      "acquired_object_id", "term_code", "price_amount", "price_currency_code",
      "acquired_at", "source_description"))

    put("milestones", milestonesDf(Seq(
      (1, "c:1", "first customer", ts("2020-01-01 08:00:00"), ts("2020-01-01 08:00:00")),
      (2, "c:2", "series a", ts("2020-01-02 08:00:00"), ts("2020-01-02 08:00:00")))))
    dir
  }

  private def milestonesDf(rows: Seq[(Int, String, String, Timestamp, Timestamp)]) =
    rows.toDF("milestone_id", "object_id", "description", "created_at", "updated_at")
      .select($"created_at", $"description", $"created_at".cast("string").as("milestone_at"),
        lit("m-code").as("milestone_code"), $"milestone_id", $"object_id",
        $"description".as("source_description"), lit(null).cast("string").as("source_url"),
        $"updated_at")

  test("full pipeline run produces the whole warehouse") {
    val out = TestDirs.fresh("vc_out")
    val results = VcPipeline.run(spark, VcPipeline.Config(writeStaging(), out))
    assert(results.keySet == Set("dim_date", "dim_company", "dim_funds", "dim_people",
      "fct_investments", "fct_ipos", "fct_acquisition", "bridge_company_people",
      "milestones", "profiling"), s"stages: ${results.keys.toSeq.sorted}")
    assert(results.values.forall(r => r == Pipeline.Completed()),
      s"unexpected stage results: ${results.filterNot(_._2 == Pipeline.Completed())}")

    def read(t: String) = spark.read.parquet(s"$out/$t")
    assert(read("dim_date").count() == 29220)
    assert(read("dim_company").count() == 3)
    assert(read("fct_investments").count() == 2) // orphan dropped
    assert(read("fct_ipos").count() == 1)
    assert(read("fct_acquisition").count() == 1)
    assert(read("bridge_company_people").count() == 1)
    // FK integrity: every fact sk resolves into its dim
    val dimC = read("dim_company").select("sk_company_id")
    assert(read("fct_investments").join(dimC, Seq("sk_company_id"), "left_anti").count() == 0)
    // profiling covered the three profiled tables
    assert(read("data_profile").select("table_name").distinct().count() == 3)
  }

  /** Each column of a written table as its parquet footer declares it:
    * repetition (REQUIRED / OPTIONAL), physical type, name, annotation.
    * Spark reads every file column back as nullable, so only the footer
    * shows whether a column was written non-nullable. */
  private def parquetColumns(dir: String): Seq[String] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new org.apache.hadoop.fs.Path(dir)
    val part = path.getFileSystem(conf).listStatus(path).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).getOrElse(fail(s"no parquet part in $dir"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(part, conf))
    try reader.getFooter.getFileMetaData.getSchema.toString
      .split("[{};]").drop(1).map(_.trim).filter(_.nonEmpty).toSeq
    finally reader.close()
  }

  test("overwrite run pins every table's parquet schema, nullability included") {
    val out = TestDirs.fresh("vc_out_schema")
    VcPipeline.run(spark, VcPipeline.Config(writeStaging(), out))
    // surrogate keys stay REQUIRED in the facts and the bridge: they read
    // the dims' in-run frames, never a re-read of the written files
    val expected = Map(
      "bridge_company_people" -> Seq(
        "required int64 sk_company_id",
        "required int64 sk_people_id",
        "optional binary title (STRING)",
        "optional binary is_past (STRING)",
        "optional int32 relationship_start_at",
        "optional int32 relationship_end_at"),
      "data_profile" -> Seq(
        "required binary schema (STRING)",
        "required binary table_name (STRING)",
        "required binary column_name (STRING)",
        "required int32 ordinal",
        "required binary data_type (STRING)",
        "required int64 n_rows",
        "required int32 n_cols",
        "required int64 not_null_count",
        "optional double percentage_completeness",
        "required binary completeness_grade (STRING)",
        "required int64 negative_count",
        "required boolean is_negative_values",
        "optional binary sample_data (STRING)"),
      "dim_company" -> Seq(
        "optional binary nk_company_id (STRING)",
        "optional binary entity_type (STRING)",
        "optional binary full_address (STRING)",
        "optional binary region (STRING)",
        "optional binary city (STRING)",
        "optional binary country_code (STRING)",
        "required int64 sk_company_id"),
      "dim_date" -> Seq(
        "optional int32 date_id",
        "required int32 date_actual (DATE)",
        "required binary day_suffix (STRING)",
        "required binary day_name (STRING)",
        "required int32 day_of_year",
        "optional int32 week_of_month",
        "required int32 week_of_year",
        "required binary week_of_year_iso (STRING)",
        "required int32 month_actual",
        "required binary month_name (STRING)",
        "required binary month_name_abbreviated (STRING)",
        "required int32 quarter_actual",
        "required binary quarter_name (STRING)",
        "required int32 year_actual",
        "required int32 first_day_of_week (DATE)",
        "required int32 last_day_of_week (DATE)",
        "optional int32 first_day_of_month (DATE)",
        "required int32 last_day_of_month (DATE)",
        "optional int32 first_day_of_quarter (DATE)",
        "optional int32 last_day_of_quarter (DATE)",
        "optional int32 first_day_of_year (DATE)",
        "required int32 last_day_of_year (DATE)",
        "required binary mmyyyy (STRING)",
        "required binary mmddyyyy (STRING)",
        "required binary weekend_indr (STRING)"),
      "dim_funds" -> Seq(
        "optional binary nk_fund_id (STRING)",
        "optional binary fund_name (STRING)",
        "optional int64 raised_amount_usd (DECIMAL(18,2))",
        "optional int32 funded_at",
        "optional binary fund_description (STRING)",
        "required int64 sk_fund_id"),
      "dim_people" -> Seq(
        "optional binary nk_people_id (STRING)",
        "optional binary full_name (STRING)",
        "optional binary affiliation_name (STRING)",
        "required int64 sk_people_id"),
      "fct_acquisition" -> Seq(
        "optional int64 dd_acquisition_id",
        "required int64 sk_acquiring_company_id",
        "required int64 sk_acquired_company_id",
        "optional int64 price_amount_usd (DECIMAL(18,2))",
        "optional int32 acquired_at",
        "optional binary term_code (STRING)",
        "optional binary acquisition_description (STRING)"),
      "fct_investments" -> Seq(
        "optional int64 dd_investment_id",
        "required int64 sk_company_id",
        "required int64 sk_fund_id",
        "optional int32 funded_at",
        "optional binary funding_round_type (STRING)",
        "optional binary num_of_participants (STRING)",
        "optional fixed_len_byte_array(16) raised_amount_usd (DECIMAL(38,18))",
        "optional fixed_len_byte_array(16) pre_money_valuation_usd (DECIMAL(38,18))",
        "optional fixed_len_byte_array(16) post_money_valuation_usd (DECIMAL(38,18))"),
      "fct_ipos" -> Seq(
        "optional int32 dd_ipo_id",
        "required int64 sk_company_id",
        "optional int64 valuation_amount_usd (DECIMAL(18,2))",
        "optional int64 raised_amount_usd (DECIMAL(18,2))",
        "optional int32 public_at",
        "optional binary stock_symbol (STRING)",
        "optional binary ipo_description (STRING)"),
      "milestones" -> Seq(
        "optional int96 created_at",
        "optional binary description (STRING)",
        "optional binary milestone_at (STRING)",
        "optional binary milestone_code (STRING)",
        "optional int32 milestone_id",
        "optional binary object_id (STRING)",
        "optional binary source_description (STRING)",
        "optional binary source_url (STRING)",
        "optional int96 updated_at"))
    val written = expected.keys.map(t => t -> parquetColumns(s"$out/$t")).toMap
    val wrong = expected.keys.filter(t => written(t) != expected(t)).toSeq.sorted
    assert(wrong.isEmpty, wrong.map(t => s"$t: ${written(t).mkString(", ")}").mkString("\n"))
  }

  test("milestones: keyed upsert across runs, delta wins, idempotent replay") {
    val out = TestDirs.fresh("vc_out_ms")
    val staging = writeStaging()
    assert(VcPipeline.run(spark, VcPipeline.Config(staging, out))("milestones")
      == Pipeline.Completed())
    def snapshot() = spark.read.parquet(s"$out/milestones")
      .select("milestone_id", "description", "updated_at")
      .orderBy("milestone_id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(snapshot() == Seq((1, "first customer"), (2, "series a")))

    // day 2: milestone 1 updated (newer updated_at), milestone 3 new
    milestonesDf(Seq(
      (1, "c:1", "first customer REVISED", ts("2020-01-01 08:00:00"), ts("2020-01-05 08:00:00")),
      (3, "f:3", "fund closed", ts("2020-01-05 08:00:00"), ts("2020-01-05 08:00:00"))))
      .write.mode("overwrite").parquet(s"$staging/milestones.parquet")
    assert(VcPipeline.run(spark, VcPipeline.Config(staging, out))("milestones")
      == Pipeline.Completed())
    val day2 = Seq((1, "first customer REVISED"), (2, "series a"), (3, "fund closed"))
    assert(snapshot() == day2)

    // replaying day 2 must not change the snapshot (same keys, same
    // versions — delta rows deterministically replace their twins)
    assert(VcPipeline.run(spark, VcPipeline.Config(staging, out))("milestones")
      == Pipeline.Completed())
    assert(snapshot() == day2)
  }

  test("milestones: a swap interrupted after the rename-aside keeps the prior snapshot") {
    val out = TestDirs.fresh("vc_out_ms_crash")
    val staging = writeStaging()
    assert(VcPipeline.run(spark, VcPipeline.Config(staging, out))("milestones")
      == Pipeline.Completed())
    // a crash between `milestones -> milestones__old` and the rename-in
    // leaves only the aside copy
    Files.move(java.nio.file.Paths.get(s"$out/milestones"),
      java.nio.file.Paths.get(s"$out/milestones__old"))
    // day 2 carries milestone 3 only; milestone 2 lives in the day-1 snapshot
    milestonesDf(Seq(
      (3, "f:3", "fund closed", ts("2020-01-05 08:00:00"), ts("2020-01-05 08:00:00"))))
      .write.mode("overwrite").parquet(s"$staging/milestones.parquet")
    assert(VcPipeline.run(spark, VcPipeline.Config(staging, out))("milestones")
      == Pipeline.Completed())
    val got = spark.read.parquet(s"$out/milestones").select("milestone_id", "description")
      .orderBy("milestone_id").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got == Seq((1, "first customer"), (2, "series a"), (3, "fund closed")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$out/milestones__old")))
  }

  test("empty staging table skips its stage and dependents only") {
    val out = TestDirs.fresh("vc_out_skip")
    val results = VcPipeline.run(spark,
      VcPipeline.Config(writeStaging(Set("acquisition")), out))
    assert(results("fct_acquisition") == Pipeline.Skipped)
    assert(results("fct_investments") == Pipeline.Completed())
    assert(!Files.exists(java.nio.file.Paths.get(s"$out/fct_acquisition")))
  }

  test("an empty funding_rounds table leaves every investment published, round columns null") {
    val out = TestDirs.fresh("vc_out_no_rounds")
    val results = VcPipeline.run(spark,
      VcPipeline.Config(writeStaging(Set("funding_rounds")), out))
    assert(results.values.forall(_ == Pipeline.Completed()),
      s"unexpected stage results: ${results.filterNot(_._2 == Pipeline.Completed())}")
    val facts = spark.read.parquet(s"$out/fct_investments").orderBy("dd_investment_id")
    // investments 1 and 2 resolve their company and fund; 3 is an orphan
    assert(facts.select("dd_investment_id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    val roundColumns = Seq("funded_at", "funding_round_type", "num_of_participants",
      "raised_amount_usd", "pre_money_valuation_usd", "post_money_valuation_usd")
    assert(facts.filter(roundColumns.map(col(_).isNotNull).reduce(_ || _)).count() == 0)
  }

  test("milestones: an empty day over an existing snapshot republishes it unchanged, Completed") {
    val out = TestDirs.fresh("vc_out_ms_empty_day")
    val staging = writeStaging()
    assert(VcPipeline.run(spark, VcPipeline.Config(staging, out))("milestones")
      == Pipeline.Completed())
    def snapshot() = spark.read.parquet(s"$out/milestones").orderBy("milestone_id").collect().toSeq
    val before = snapshot()
    assert(before.map(_.getAs[Int]("milestone_id")) == Seq(1, 2))
    milestonesDf(Nil).write.mode("overwrite").parquet(s"$staging/milestones.parquet")
    assert(VcPipeline.run(spark, VcPipeline.Config(staging, out))("milestones")
      == Pipeline.Completed())
    assert(snapshot() == before)
  }

  test("append mode: two-day replay, continued dense keys, idempotent day 2") {
    val out = TestDirs.fresh("vc_out_append")
    val staging = writeStaging()
    def dimC() = spark.read.parquet(s"$out/dim_company")
      .select("sk_company_id", "nk_company_id").orderBy("sk_company_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq

    // day 1 (ds 2020-01-02 keeps rows created 2020-01-01): company c:1;
    // no fund, and no investment that resolves, so neither table is
    // written, as in overwrite mode
    val day1 = VcPipeline.run(spark, VcPipeline.Config(staging, out,
      incrementalDs = Some("2020-01-02"), appendMode = true))
    assert(dimC() == Seq((1L, "c:1")))
    for (t <- Seq("dim_funds", "fct_investments")) {
      assert(day1(t) == Pipeline.Skipped, t)
      assert(!Files.exists(java.nio.file.Paths.get(s"$out/$t")), s"$t was written empty")
    }

    // day 2: c:2 and f:3 append with keys continuing from the stored max;
    // the day's investments resolve against the FULL dim (c:1 from day 1)
    VcPipeline.run(spark, VcPipeline.Config(staging, out,
      incrementalDs = Some("2020-01-03"), appendMode = true))
    val day2Keys = Seq((1L, "c:1"), (2L, "c:2"), (3L, "f:3"))
    assert(dimC() == day2Keys)
    assert(spark.read.parquet(s"$out/fct_investments").count() == 1)

    // replay of day 2 is idempotent: no duplicate keys, no duplicate facts
    VcPipeline.run(spark, VcPipeline.Config(staging, out,
      incrementalDs = Some("2020-01-03"), appendMode = true))
    assert(dimC() == day2Keys)
    assert(spark.read.parquet(s"$out/fct_investments").count() == 1)
    // key density: surrogate keys are exactly 1..n with no gaps
    val sks = dimC().map(_._1)
    assert(sks == (1L to sks.length))
  }

  test("incremental mode keeps only rows created on ds-1") {
    val out = TestDirs.fresh("vc_out_incr")
    val results = VcPipeline.run(spark,
      VcPipeline.Config(writeStaging(), out, incrementalDs = Some("2020-01-03")))
    // company rows created 2020-01-02: c:2 and f:3 -> dim_company has 2
    assert(spark.read.parquet(s"$out/dim_company").count() == 2)
    // investments created 2020-01-02: id 1 only; its company c:1 was NOT
    // re-extracted that day -> inner join drops it -> empty fact skipped
    assert(results("fct_investments") == Pipeline.Skipped)
  }
}
