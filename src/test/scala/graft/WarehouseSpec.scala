package graft

import java.sql.{Date, Timestamp}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType
import graft.operators.{DimDate, Warehouse}

/** Golden tests for the star-schema builders over FIXTURES.md edge cases. */
class WarehouseSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dimDate = DimDate.build(spark)

  test("dimCompany: entity types, address cleansing, normalization") {
    val company = Seq(
      ("c:1", "#12 Market St", "Suite 4", " SF  ", " Bay ", " us "),
      ("f:2", "AB", "", "", null, null),
      ("x:3", null, "..only-dots-then-text", "  ", "LONDON", " gb ")
    ).toDF("object_id", "address1", "address2", "region", "city", "country_code")
    val got = Warehouse.dimCompany(company).orderBy("nk_company_id").collect()

    assert(got(0).getAs[String]("entity_type") == "company")
    assert(got(0).getAs[String]("full_address") == "12 market st, suite 4")
    assert(got(0).getAs[String]("region") == "sf")
    assert(got(0).getAs[String]("country_code") == "US")
    assert(got(1).getAs[String]("entity_type") == "fund")
    assert(got(1).getAs[String]("full_address") == null) // AB too short, '' blank
    assert(got(2).getAs[String]("entity_type") == null)
    assert(got(2).getAs[String]("full_address") == "only-dots-then-text")
    assert(got(2).getAs[String]("region") == null)
  }

  test("dimFunds: USD conversion, date key, blank description -> null") {
    val funds = Seq(
      ("fd1", "f:1", "  Alpha FUND ", Date.valueOf("2004-02-28"), BigDecimal("100.00"), "EUR", " desc "),
      ("fd2", "f:2", "Beta", Date.valueOf("2035-01-01"), BigDecimal("50.00"), "ZZZ", "   ")
    ).toDF("fund_id", "object_id", "name", "funded_at", "raised_amount",
      "raised_currency_code", "source_description")
    val got = Warehouse.dimFunds(funds).orderBy("nk_fund_id").collect()
    assert(got(0).getAs[String]("fund_name") == "alpha fund")
    assert(got(0).getAs[java.math.BigDecimal]("raised_amount_usd").toString == "114.00")
    assert(got(0).getAs[Int]("funded_at") == 20040228)
    assert(got(0).getAs[String]("fund_description") == "desc")
    // unknown currency -> amount unchanged; 2035 is outside dim_date and the row stays
    assert(got(1).getAs[java.math.BigDecimal]("raised_amount_usd").toString == "50.00")
    assert(got(1).getAs[Int]("funded_at") == 20350101)
    assert(got(1).getAs[String]("fund_description") == null)
  }

  test("fctInvestments: orphan FKs drop, missing round -> nulls, date validity") {
    val dimCompany = Warehouse.withDenseKey(
      Seq(("c:1", "company"), ("c:2", "company")).toDF("nk_company_id", "entity_type"),
      "sk_company_id", "nk_company_id")
    val dimFunds = Warehouse.withDenseKey(
      Seq(("f:1", "alpha")).toDF("nk_fund_id", "fund_name"),
      "sk_fund_id", "nk_fund_id")
    val rounds = Seq(
      (10L, Date.valueOf("2000-06-01"), "series-a", "3", BigDecimal("10.00"), "USD", BigDecimal("1.00"), BigDecimal("2.00")),
      (11L, Date.valueOf("2040-01-01"), "series-b", "4", BigDecimal("20.00"), "USD", BigDecimal("3.00"), BigDecimal("4.00"))
    ).toDF("funding_round_id", "funded_at", "funding_round_type", "participants",
      "raised_amount_usd", "raised_currency_code", "pre_money_valuation_usd", "post_money_valuation_usd")
    val inv = Seq(
      (1L, 10L, "c:1", "f:1"),   // full match
      (2L, 11L, "c:2", "f:1"),   // round date out of dim_date -> round dropped -> nulls
      (3L, 10L, "c:9", "f:1"),   // orphan company -> row dropped
      (4L, 99L, "c:1", "f:1")    // missing round id -> nulls
    ).toDF("investment_id", "funding_round_id", "funded_object_id", "investor_object_id")

    val got = Warehouse.fctInvestments(inv, dimCompany, dimFunds, dimDate, rounds)
      .orderBy("dd_investment_id").collect()
    assert(got.length == 3)
    assert(got(0).getAs[Int]("funded_at") == 20000601)
    assert(got(0).getAs[String]("funding_round_type") == "series-a")
    assert(got(1).isNullAt(got(1).fieldIndex("funded_at")))
    assert(got(2).isNullAt(got(2).fieldIndex("funding_round_type")))
  }

  test("Integrity: bloom-reduced FK check equals the exact anti join") {
    import graft.operators.Integrity
    // 10k child rows over 1k parent keys with ~1% planted orphans
    val parent = (1L to 1000L).map(i => (i, s"p$i")).toDF("pk", "pname")
    val child = (1L to 10000L).map { i =>
      (i, if (i % 101 == 0) 5000L + i else (i % 1000L) + 1L)
    }.toDF("id", "fk")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getLong(0)).sorted.toSeq
    val exact = ids(Integrity.fkViolations(child, "fk", parent, "pk"))
    assert(exact.nonEmpty)
    val bloomPlan = Integrity.fkViolationsBloom(child, "fk", parent, "pk")
    assert(ids(bloomPlan) == exact)
    // each filter is sized from its side's keys (1k parent, 10k child),
    // not from a fixed million-key capacity (~1.2 MB per literal)
    val literalBytes = bloomPlan.queryExecution.logical.collect { case node =>
      node.expressions.flatMap(_.collect { case Literal(b: Array[Byte], BinaryType) => b.length })
    }.flatten
    assert(literalBytes.nonEmpty && literalBytes.forall(_ < 32 * 1024), literalBytes)
    // adversarial: tiny capacity -> high false-positive rate; the exact
    // residual join must still remove every FP (result unchanged)
    val noisy = ids(Integrity.fkViolationsBloom(child, "fk", parent, "pk",
      expectedKeys = Some(10L), fpp = 0.5))
    assert(noisy == exact)
  }

  test("Integrity: bloom variant matches exact on NULL keys, rejects non-integral keys") {
    import graft.operators.Integrity
    // NULL child keys are not violations (SQL FK semantics) in EITHER
    // variant — round-4 advice asked for proven parity here
    val parent = Seq(1L, 2L).toDF("pk")
    val child = Seq(Some(1L), Some(99L), None, None).toDF("fk")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("fk").collect().map(_.getLong(0)).sorted.toSeq
    val exact = ids(Integrity.fkViolations(child, "fk", parent, "pk"))
    val bloom = ids(Integrity.fkViolationsBloom(child, "fk", parent, "pk"))
    assert(exact == Seq(99L), exact)
    assert(bloom == exact)
    // a string key would cast("long") -> NULL in the bloom probe and
    // silently drop every row — must fail fast instead
    val sParent = Seq("a", "b").toDF("pk")
    val sChild = Seq("a", "z").toDF("fk")
    val e = intercept[IllegalArgumentException] {
      Integrity.fkViolationsBloom(sChild, "fk", sParent, "pk")
    }
    assert(e.getMessage.contains("integral"), e.getMessage)
  }

  test("Integrity: FK violations and summary report") {
    import graft.operators.Integrity
    val parent = Seq(("c:1", 1), ("c:2", 2)).toDF("nk", "sk")
    val child = Seq((1L, "c:1"), (2L, "c:9"), (3L, null.asInstanceOf[String]))
      .toDF("id", "fk")
    val v = Integrity.fkViolations(child, "fk", parent, "nk")
      .select("id").collect().map(_.getLong(0))
    assert(v.toSeq == Seq(2L)) // null FK is not a violation
    // report is LAZY — building it must run no jobs (the round-1 version
    // ran one eager count() action per FK from the driver); a single
    // downstream action then evaluates every FK check in one plan.
    spark.sparkContext.setJobGroup("integrity-report-test", "laziness assertion")
    try {
      val repDf = Integrity.report(spark, Seq(
        ("child_fk", child, "fk", parent, "nk"),
        ("self_fk", child, "id", child, "id"))) // zero violations by construction
      val eagerJobs = spark.sparkContext.statusTracker
        .getJobIdsForGroup("integrity-report-test")
      assert(eagerJobs.isEmpty,
        s"Integrity.report ran ${eagerJobs.length} jobs before any action")
      val rep = repDf.orderBy("fk_name").collect()
      assert(rep.length == 2)
      assert(rep(0).getString(0) == "child_fk" && rep(0).getLong(2) == 1L)
      assert(rep(1).getString(0) == "self_fk" && rep(1).getLong(2) == 0L)
      // FUSED: both FKs share `child`, so the plan scans it once as the
      // aggregate input (its parent-key-set appearances are broadcast
      // sides). Round-2's union-of-aggregates scanned the child per FK.
      // `fk` is only read by the fused scan (parent key-sets read nk/id)
      val p = repDf.queryExecution.executedPlan.toString
      val childScans = p.linesIterator
        .count(l => l.contains("LocalTableScan") && l.contains("fk#"))
      assert(childScans == 1,
        s"expected 1 fused child scan, got $childScans:\n$p")
    } finally spark.sparkContext.clearJobGroup()
  }

  test("fctAcquisition: self-join roles incl. same company both sides") {
    val dimCompany = Warehouse.withDenseKey(
      Seq(("c:1", "company"), ("c:2", "company")).toDF("nk_company_id", "entity_type"),
      "sk_company_id", "nk_company_id")
    val acq = Seq(
      (1L, "c:1", "c:2", " CASH ", BigDecimal("100.00"), "GBP", Timestamp.valueOf("2010-05-04 00:00:00"), " Big Deal "),
      (2L, "c:2", "c:2", "", BigDecimal("7.00"), "USD", Timestamp.valueOf("2011-01-01 00:00:00"), ""),
      (3L, "c:9", "c:1", "x", BigDecimal("1.00"), "USD", Timestamp.valueOf("2012-01-01 00:00:00"), "y")
    ).toDF("acquisition_id", "acquiring_object_id", "acquired_object_id", "term_code",
      "price_amount", "price_currency_code", "acquired_at", "source_description")
    val got = Warehouse.fctAcquisition(acq, dimCompany)
      .orderBy("dd_acquisition_id").collect()
    assert(got.length == 2) // c:9 acquirer dropped
    assert(got(0).getAs[Long]("sk_acquiring_company_id") == 1L)
    assert(got(0).getAs[Long]("sk_acquired_company_id") == 2L)
    assert(got(0).getAs[java.math.BigDecimal]("price_amount_usd").toString == "133.00")
    assert(got(0).getAs[String]("term_code") == "cash")
    assert(got(0).getAs[Int]("acquired_at") == 20100504)
    // same company both roles; blank term/description -> null
    assert(got(1).getAs[Long]("sk_acquiring_company_id") == 2L)
    assert(got(1).getAs[Long]("sk_acquired_company_id") == 2L)
    assert(got(1).getAs[String]("term_code") == null)
    assert(got(1).getAs[String]("acquisition_description") == null)
  }

  test("fct_ipos and fct_acquisition plan no dim_date join") {
    // the reference's left join to dim_date selects no column and
    // date_id is unique, so it can neither drop nor duplicate a row:
    // only the company key lookups remain
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val plans = new AdaptiveSparkPlanHelper {}
    def joins(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      plans.collect(df.queryExecution.executedPlan) { case j: BaseJoinExec => j }.size
    }
    val dimCompany = Warehouse.withDenseKey(
      Seq(("c:1", "company"), ("c:2", "company")).toDF("nk_company_id", "entity_type"),
      "sk_company_id", "nk_company_id")
    val ipos = Seq(("7", "c:1", Date.valueOf("2010-05-04"), BigDecimal("10.00"), "USD",
      BigDecimal("1.00"), "GBP", " nasdaq:abc ", " Listed ")).toDF("ipo_id", "object_id",
      "public_at", "valuation_amount", "valuation_currency_code", "raised_amount",
      "raised_currency_code", "stock_symbol", "source_description")
    val acq = Seq((1L, "c:1", "c:2", "cash", BigDecimal("1.00"), "USD",
      Timestamp.valueOf("2010-05-04 00:00:00"), "deal")).toDF("acquisition_id",
      "acquiring_object_id", "acquired_object_id", "term_code", "price_amount",
      "price_currency_code", "acquired_at", "source_description")
    assert(joins(Warehouse.fctIpos(ipos, dimCompany)) == 1)
    assert(joins(Warehouse.fctAcquisition(acq, dimCompany)) == 2)
  }

  test("scd2: transitions open versions, intervals tile, no-change rows collapse") {
    def t(s: String) = Timestamp.valueOf(s)
    val log = Seq(
      // user 1: gold -> gold (collapse) -> silver -> gold again
      (1L, "gold",   t("2020-01-01 00:00:00"), 1L),
      (1L, "gold",   t("2020-02-01 00:00:00"), 2L),
      (1L, "silver", t("2020-03-01 00:00:00"), 3L),
      (1L, "gold",   t("2020-04-01 00:00:00"), 4L),
      // user 2: single row -> single current version
      (2L, "bronze", t("2021-06-15 00:00:00"), 5L)
    ).toDF("user_id", "status", "at", "seq")
    val got = Warehouse.scd2(log, Seq("user_id"), Seq("status"), "at",
      tieBreak = Seq("seq"))
      .orderBy("user_id", "version").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("status"),
        r.getAs[Int]("version"), r.getAs[Timestamp]("effective_from"),
        r.getAs[Timestamp]("effective_to"), r.getAs[Boolean]("is_current")))
    assert(got.toSeq == Seq(
      (1L, "gold",   1, t("2020-01-01 00:00:00"), t("2020-03-01 00:00:00"), false),
      (1L, "silver", 2, t("2020-03-01 00:00:00"), t("2020-04-01 00:00:00"), false),
      (1L, "gold",   3, t("2020-04-01 00:00:00"), null, true),
      (2L, "bronze", 1, t("2021-06-15 00:00:00"), null, true)), got.toSeq)
  }

  test("scd2: null attribute values are versioned null-safely") {
    def t(s: String) = Timestamp.valueOf(s)
    val log = Seq[(Long, String, Timestamp, Long)](
      (1L, null, t("2020-01-01 00:00:00"), 1L),      // null opens v1
      (1L, null, t("2020-02-01 00:00:00"), 2L),      // null==null collapses
      (1L, "a", t("2020-03-01 00:00:00"), 3L),       // null -> value = change
      (1L, null, t("2020-04-01 00:00:00"), 4L)       // value -> null = change
    ).toDF("user_id", "status", "at", "seq")
    val got = Warehouse.scd2(log, Seq("user_id"), Seq("status"), "at",
      tieBreak = Seq("seq")).orderBy("version")
      .collect().map(r => (r.getAs[String]("status"), r.getAs[Int]("version"),
        r.getAs[Boolean]("is_current")))
    assert(got.toSeq == Seq((null, 1, false), ("a", 2, false), (null, 3, true)),
      got.toSeq)
  }

  test("scd2 plans a single hash exchange (one shuffle for the whole build)") {
    def t(s: String) = Timestamp.valueOf(s)
    val log = Seq((1L, "x", t("2020-01-01 00:00:00"), 1L))
      .toDF("user_id", "status", "at", "seq")
    val plan = Warehouse.scd2(log, Seq("user_id"), Seq("status"), "at",
      tieBreak = Seq("seq")).queryExecution.executedPlan.toString
    val nShuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(nShuffles == 1, s"expected 1 exchange, got $nShuffles:\n$plan")
  }
}
