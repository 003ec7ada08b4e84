package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.operators.{DimDate, Warehouse}

/** End-to-end warehouse-build coverage (SURVEY §2.2 P-ops inside real
  * builds, §2.3 J1–J10 joins, §2.5 surrogate keys §2.6 date FKs).
  *
  * The reference's staging tables don't exist in the testdata, so each
  * build first derives a staging-shaped input from the TPC-H tables with
  * deterministic CASE mappings (mirrored verbatim in the DuckDB oracle),
  * then runs the engine's actual [[graft.operators.Warehouse]] builders.
  * Every branch — orphan FKs, out-of-dim_date dates, empty/junk strings,
  * all 8 currencies — fires by construction.
  */
object WarehouseQueries {

  // ---- staging-shaped inputs (Spark side) --------------------------------

  /** staging.company from customer. */
  private def companyStaging(s: SparkSession, d: String): DataFrame = {
    val k = col("c_custkey")
    customer(s, d).select(
      k.as("office_id"),
      when(k % 7 === 0, concat(lit("x:"), k))
        .when(k % 5 === 0, concat(lit("f:"), k))
        .otherwise(concat(lit("c:"), k)).as("object_id"),
      when(k % 5 === 0, concat(lit("#.#"), col("c_name")))
        .when(k % 5 === 1, lit("#123-456"))
        .when(k % 5 === 2, lit("AB"))
        .when(k % 5 === 3, concat(lit(" "), col("c_name"), lit("  ")))
        .otherwise(col("c_name")).as("address1"),
      when(k % 4 === 0, lit(null).cast("string"))
        .when(k % 4 === 1, lit(""))
        .otherwise(concat(lit("Suite "), k % 50)).as("address2"),
      concat(lit("  "), col("c_mktsegment"), lit(" ")).as("region"),
      when(k % 6 === 0, lit("")).otherwise(concat(lit("City "), k % 30)).as("city"),
      when(k % 11 === 0, lit(null).cast("string")).otherwise(lit(" us ")).as("country_code"))
  }

  private def dimCompanyKeyed(s: SparkSession, d: String): DataFrame =
    Warehouse.withDenseKey(
      Warehouse.dimCompany(companyStaging(s, d)), "sk_company_id", "nk_company_id")

  /** staging.funds from supplier. */
  private def fundsStaging(s: SparkSession, d: String): DataFrame = {
    val k = col("s_suppkey")
    val codes = graft.functions.Cleaning.FxRates.map(_._1) :+ "XXX"
    val cur = codes.zipWithIndex.foldLeft(when(lit(false), lit(""))) {
      case (acc, (code, i)) => acc.when(k % 9 === i, lit(code))
    }.otherwise(lit("XXX"))
    supplier(s, d).select(
      concat(lit("fd"), k).as("fund_id"),
      concat(lit("f:"), k).as("object_id"),
      concat(lit("  Fund "), col("s_name"), lit("  ")).as("name"),
      date_add(to_date(lit("1990-01-01")), ((k * 97) % 20000).cast("int")).as("funded_at"),
      (col("s_acctbal") * 1000).cast("decimal(18,2)").as("raised_amount"),
      cur.as("raised_currency_code"),
      when(k % 4 === 0, lit("   "))
        .when(k % 4 === 1, lit(null).cast("string"))
        .otherwise(concat(lit(" Desc "), k)).as("source_description"))
  }

  private def dimFundsKeyed(s: SparkSession, d: String): DataFrame =
    Warehouse.withDenseKey(
      Warehouse.dimFunds(fundsStaging(s, d)),
      "sk_fund_id", "nk_fund_id")

  /** staging.investments from orders. */
  private def investmentsStaging(s: SparkSession, d: String): DataFrame = {
    val k = col("o_orderkey")
    orders(s, d).select(
      k.as("investment_id"),
      (k % 997).as("funding_round_id"),
      when(k % 20 === 0, lit("c:0"))
        .otherwise(concat(lit("c:"), col("o_custkey"))).as("funded_object_id"),
      concat(lit("f:"), (k % 13) + 1).as("investor_object_id"))
  }

  /** staging.funding_rounds from part. */
  private def fundingRoundsStaging(s: SparkSession, d: String): DataFrame = {
    val k = col("p_partkey")
    part(s, d).select(
      k.as("funding_round_id"),
      date_add(to_date(lit("1994-01-01")), ((k * 13) % 15000).cast("int")).as("funded_at"),
      concat(lit("type_"), k % 6).as("funding_round_type"),
      col("p_size").cast("string").as("participants"),
      col("p_retailprice").cast("decimal(18,2)").as("raised_amount_usd"),
      lit("USD").as("raised_currency_code"),
      (col("p_retailprice") * 2).cast("decimal(18,2)").as("pre_money_valuation_usd"),
      (col("p_retailprice") * 3).cast("decimal(18,2)").as("post_money_valuation_usd"))
  }

  /** staging.ipos from every third order. */
  private def iposStaging(s: SparkSession, d: String): DataFrame = {
    val k = col("o_orderkey")
    val codes = graft.functions.Cleaning.FxRates.map(_._1) :+ "XXX"
    def cur(key: org.apache.spark.sql.Column) =
      codes.zipWithIndex.foldLeft(when(lit(false), lit(""))) {
        case (acc, (code, i)) => acc.when(key % 9 === i, lit(code))
      }.otherwise(lit("XXX"))
    orders(s, d).filter(k % 3 === 0).select(
      k.cast("string").as("ipo_id"),
      when(k % 25 === 0, lit("c:0"))
        .otherwise(concat(lit("c:"), col("o_custkey"))).as("object_id"),
      (col("o_totalprice") * 10).cast("decimal(18,2)").as("valuation_amount"),
      col("o_totalprice").cast("decimal(18,2)").as("raised_amount"),
      cur(k).as("valuation_currency_code"),
      cur(k + 4).as("raised_currency_code"),
      col("o_orderdate").as("public_at"),
      when(k % 4 === 0, lit("$$$"))
        .when(k % 4 === 1, lit("123"))
        .when(k % 4 === 2, concat(lit(" NQ:"), col("o_custkey"), lit(" ")))
        .otherwise(lit(null).cast("string")).as("stock_symbol"),
      concat(lit(" IPO of customer "), col("o_custkey")).as("source_description"))
  }

  /** staging.acquisition from lineitem (self-join: both roles hit the same
    * dim_company). */
  private def acquisitionStaging(s: SparkSession, d: String): DataFrame = {
    val ok = col("l_orderkey"); val sk = col("l_suppkey"); val ln = col("l_linenumber")
    val codes = graft.functions.Cleaning.FxRates.map(_._1) :+ "XXX"
    val cur = codes.zipWithIndex.foldLeft(when(lit(false), lit(""))) {
      case (acc, (code, i)) => acc.when(sk % 9 === i, lit(code))
    }.otherwise(lit("XXX"))
    lineitem(s, d).select(
      (ok * 10 + ln).as("acquisition_id"),
      when(sk % 37 === 0, lit("c:0"))
        .otherwise(concat(lit("c:"), (col("l_partkey") % 100) + 1)).as("acquiring_object_id"),
      concat(lit("c:"), (sk * 7 + ln) % 100 + 1).as("acquired_object_id"),
      when(ln % 3 === 0, lit(""))
        .when(ln % 3 === 1, lit(" CASH "))
        .otherwise(lit("Stock")).as("term_code"),
      col("l_extendedprice").cast("decimal(18,2)").as("price_amount"),
      cur.as("price_currency_code"),
      col("l_shipdate").as("acquired_at"),
      when(ok % 2 === 0, lit(""))
        .otherwise(concat(lit(" Acq "), ok)).as("source_description"))
  }

  /** staging.people from customer. */
  private def peopleStaging(s: SparkSession, d: String): DataFrame = {
    val k = col("c_custkey")
    customer(s, d).select(
      concat(lit("p"), k).as("people_id"),
      concat(lit("p:"), k).as("object_id"),
      concat(lit(" "), col("c_mktsegment")).as("first_name"),
      when(k % 6 === 0, lit("")).otherwise(concat(lit("Smith "), k % 40)).as("last_name"),
      lit(null).cast("string").as("birthplace"),
      when(k % 5 === 0, lit(""))
        .when(k % 5 === 1, lit(null).cast("string"))
        .otherwise(concat(lit(" Firm "), k % 20)).as("affiliation_name"))
  }

  private def dimPeopleKeyed(s: SparkSession, d: String): DataFrame =
    Warehouse.withDenseKey(
      Warehouse.dimPeople(peopleStaging(s, d)), "sk_people_id", "nk_people_id")

  /** staging.relationships (all-string columns) from orders. */
  private def relationshipsStaging(s: SparkSession, d: String): DataFrame = {
    val k = col("o_orderkey")
    val companyId = when(col("o_custkey") % 7 === 0, concat(lit("x:"), col("o_custkey")))
      .when(col("o_custkey") % 5 === 0, concat(lit("f:"), col("o_custkey")))
      .otherwise(concat(lit("c:"), col("o_custkey")))
    orders(s, d).select(
      concat(lit("r"), k).as("relationship_id"),
      concat(lit("p:"), col("o_custkey")).as("person_object_id"),
      when(k % 30 === 0, lit("c:0")).otherwise(companyId).as("relationship_object_id"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("start_at"),
      when(k % 5 === 0, lit(null).cast("string"))
        .otherwise(date_format(date_add(to_date(col("o_orderdate")), 365), "yyyy-MM-dd")).as("end_at"),
      when(k % 3 === 0, lit("")).when(k % 3 === 1, lit(" yes ")).otherwise(lit("no")).as("is_past"),
      k.cast("string").as("sequence"),
      when(k % 4 === 0, lit("")).when(k % 4 === 1, lit(" CEO "))
        .when(k % 4 === 2, lit("board member")).otherwise(lit(null).cast("string")).as("title"))
  }

  // ---- queries -----------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dim_company_build" -> { (s, d) =>
      dimCompanyKeyed(s, d).orderBy(col("nk_company_id"))
    },
    "dim_funds_build" -> { (s, d) =>
      dimFundsKeyed(s, d)
        .withColumn("raised_amount_usd", col("raised_amount_usd").cast("double"))
        .orderBy(col("nk_fund_id"))
    },
    "fct_investments_build" -> { (s, d) =>
      Warehouse.fctInvestments(
        investmentsStaging(s, d), dimCompanyKeyed(s, d), dimFundsKeyed(s, d),
        DimDate.build(s), fundingRoundsStaging(s, d))
        .withColumn("raised_amount_usd", col("raised_amount_usd").cast("double"))
        .withColumn("pre_money_valuation_usd", col("pre_money_valuation_usd").cast("double"))
        .withColumn("post_money_valuation_usd", col("post_money_valuation_usd").cast("double"))
        .orderBy(col("dd_investment_id"))
    },
    "fct_ipos_build" -> { (s, d) =>
      Warehouse.fctIpos(iposStaging(s, d), dimCompanyKeyed(s, d))
        .withColumn("valuation_amount_usd", col("valuation_amount_usd").cast("double"))
        .withColumn("raised_amount_usd", col("raised_amount_usd").cast("double"))
        .orderBy(col("dd_ipo_id"))
    },
    "dim_people_build" -> { (s, d) =>
      dimPeopleKeyed(s, d).orderBy(col("nk_people_id"))
    },
    "bridge_company_people_build" -> { (s, d) =>
      Warehouse.bridgeCompanyPeople(
        relationshipsStaging(s, d), dimCompanyKeyed(s, d), dimPeopleKeyed(s, d))
        .orderBy(col("sk_people_id"), col("sk_company_id"),
          col("relationship_start_at"), col("title"), col("is_past"),
          col("relationship_end_at"))
    },
    // J11: referential-integrity check as a runtime operator — orphan
    // FKs in the staged investments against the company dimension.
    "ri1_fk_violations" -> { (s, d) =>
      graft.operators.Integrity.fkViolations(
        investmentsStaging(s, d), "funded_object_id",
        dimCompanyKeyed(s, d), "nk_company_id")
        .select(col("investment_id"), col("funded_object_id"))
        .orderBy(col("investment_id"))
    },
    // bloom-reduced FK check (the huge-parent shape): planted orphans
    // (every 97th order points at a nonexistent customer) must surface
    // EXACTLY as in the plain anti join the oracle runs.
    "ri2_fk_violations_bloom" -> { (s, d) =>
      val staged = orders(s, d).select(col("o_orderkey"),
        when(col("o_orderkey") % 97 === 0, col("o_custkey") + 1000000L)
          .otherwise(col("o_custkey")).as("cust_fk"))
      graft.operators.Integrity.fkViolationsBloom(
        staged, "cust_fk", customer(s, d), "c_custkey")
        .orderBy(col("o_orderkey"))
    },
    "fct_acquisition_build" -> { (s, d) =>
      // dd_acquisition_id collides when (l_orderkey, l_linenumber) repeats
      // in the synthetic lineitem — extend the sort to all non-null cols.
      Warehouse.fctAcquisition(acquisitionStaging(s, d), dimCompanyKeyed(s, d))
        .withColumn("price_amount_usd", col("price_amount_usd").cast("double"))
        .orderBy(col("dd_acquisition_id"), col("price_amount_usd"),
          col("acquired_at"), col("sk_acquiring_company_id"), col("sk_acquired_company_id"))
    }
  )

  // ---- oracle SQL --------------------------------------------------------

  /** Shared CTE text: staging.company + cleaned + keyed dim_company. */
  private val dimCompanySql =
    """company AS (
      |  SELECT c_custkey AS office_id,
      |    CASE WHEN c_custkey % 7 = 0 THEN 'x:' || c_custkey
      |         WHEN c_custkey % 5 = 0 THEN 'f:' || c_custkey
      |         ELSE 'c:' || c_custkey END AS object_id,
      |    CASE WHEN c_custkey % 5 = 0 THEN '#.#' || c_name
      |         WHEN c_custkey % 5 = 1 THEN '#123-456'
      |         WHEN c_custkey % 5 = 2 THEN 'AB'
      |         WHEN c_custkey % 5 = 3 THEN ' ' || c_name || '  '
      |         ELSE c_name END AS address1,
      |    CASE WHEN c_custkey % 4 = 0 THEN NULL
      |         WHEN c_custkey % 4 = 1 THEN ''
      |         ELSE 'Suite ' || (c_custkey % 50) END AS address2,
      |    '  ' || c_mktsegment || ' ' AS region,
      |    CASE WHEN c_custkey % 6 = 0 THEN '' ELSE 'City ' || (c_custkey % 30) END AS city,
      |    CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE ' us ' END AS country_code
      |  FROM customer),
      |comp_strip AS (
      |  SELECT *, regexp_replace(lower(address1), '^[#.]+', '') AS s1,
      |            regexp_replace(lower(address2), '^[#.]+', '') AS s2
      |  FROM company),
      |comp_clean AS (
      |  SELECT *,
      |    CASE WHEN address1 IS NULL THEN NULL
      |         WHEN regexp_matches(s1, '^[\W\d_]+$') THEN NULL
      |         WHEN length(trim(s1)) <= 2 THEN NULL ELSE trim(s1) END AS c1,
      |    CASE WHEN address2 IS NULL THEN NULL
      |         WHEN regexp_matches(s2, '^[\W\d_]+$') THEN NULL
      |         WHEN length(trim(s2)) <= 2 THEN NULL ELSE trim(s2) END AS c2
      |  FROM comp_strip),
      |dim_company AS (
      |  SELECT object_id AS nk_company_id,
      |    CASE WHEN object_id LIKE 'c:%' THEN 'company'
      |         WHEN object_id LIKE 'f:%' THEN 'fund' END AS entity_type,
      |    CASE WHEN c1 IS NULL AND c2 IS NULL THEN NULL
      |         WHEN c1 IS NULL OR c1 = '' THEN c2
      |         WHEN c2 IS NULL OR c2 = '' THEN c1
      |         ELSE c1 || ', ' || c2 END AS full_address,
      |    nullif(trim(lower(region)), '') AS region,
      |    nullif(trim(lower(city)), '') AS city,
      |    nullif(trim(upper(country_code)), '') AS country_code
      |  FROM comp_clean),
      |dim_company_keyed AS (
      |  SELECT *, CAST(row_number() OVER (ORDER BY nk_company_id) AS BIGINT) AS sk_company_id
      |  FROM dim_company)""".stripMargin

  private def sqlToUsd(cur: String, amt: String): String =
    s"""CAST(round(CASE $cur WHEN 'USD' THEN $amt WHEN 'CAD' THEN $amt*0.72
       | WHEN 'EUR' THEN $amt*1.14 WHEN 'SEK' THEN $amt*0.10
       | WHEN 'AUD' THEN $amt*0.64 WHEN 'JPY' THEN $amt*0.007
       | WHEN 'GBP' THEN $amt*1.33 WHEN 'NIS' THEN $amt*0.28
       | ELSE $amt END, 2) AS DECIMAL(18,2))""".stripMargin

  private def sqlCur(key: String): String =
    s"""CASE $key % 9 WHEN 0 THEN 'USD' WHEN 1 THEN 'CAD' WHEN 2 THEN 'EUR'
       | WHEN 3 THEN 'SEK' WHEN 4 THEN 'AUD' WHEN 5 THEN 'JPY' WHEN 6 THEN 'GBP'
       | WHEN 7 THEN 'NIS' ELSE 'XXX' END""".stripMargin

  /** staging.funds + dim_funds keyed. */
  private val dimFundsSql =
    s"""funds AS (
       |  SELECT 'fd' || s_suppkey AS fund_id, 'f:' || s_suppkey AS object_id,
       |    '  Fund ' || s_name || '  ' AS name,
       |    DATE '1990-01-01' + CAST((s_suppkey * 97) % 20000 AS INT) AS funded_at,
       |    CAST(s_acctbal * 1000 AS DECIMAL(18,2)) AS raised_amount,
       |    ${sqlCur("s_suppkey")} AS raised_currency_code,
       |    CASE WHEN s_suppkey % 4 = 0 THEN '   '
       |         WHEN s_suppkey % 4 = 1 THEN NULL
       |         ELSE ' Desc ' || s_suppkey END AS source_description
       |  FROM supplier),
       |dim_funds AS (
       |  SELECT object_id AS nk_fund_id,
       |    trim(lower(name)) AS fund_name,
       |    ${sqlToUsd("raised_currency_code", "raised_amount")} AS raised_amount_usd,
       |    CAST(strftime(funded_at, '%Y%m%d') AS INT) AS funded_at,
       |    nullif(trim(lower(source_description)), '') AS fund_description
       |  FROM funds),
       |dim_funds_keyed AS (
       |  SELECT *, CAST(row_number() OVER (ORDER BY nk_fund_id) AS BIGINT) AS sk_fund_id
       |  FROM dim_funds)""".stripMargin

  /** staging.people + dim_people keyed. */
  private val dimPeopleSql =
    """people AS (
      |  SELECT 'p' || c_custkey AS people_id, 'p:' || c_custkey AS object_id,
      |    ' ' || c_mktsegment AS first_name,
      |    CASE WHEN c_custkey % 6 = 0 THEN '' ELSE 'Smith ' || (c_custkey % 40) END AS last_name,
      |    CASE WHEN c_custkey % 5 = 0 THEN ''
      |         WHEN c_custkey % 5 = 1 THEN NULL
      |         ELSE ' Firm ' || (c_custkey % 20) END AS affiliation_name
      |  FROM customer),
      |dim_people AS (
      |  SELECT object_id AS nk_people_id,
      |    nullif(concat_ws(' ', trim(first_name), trim(last_name)), '') AS full_name,
      |    nullif(trim(affiliation_name), '') AS affiliation_name
      |  FROM people),
      |dim_people_keyed AS (
      |  SELECT *, CAST(row_number() OVER (ORDER BY nk_people_id) AS BIGINT) AS sk_people_id
      |  FROM dim_people)""".stripMargin

  val oracle: Map[String, String] = Map(
    "dim_people_build" ->
      s"""WITH $dimPeopleSql
         |SELECT nk_people_id, full_name, affiliation_name, sk_people_id
         |FROM dim_people_keyed ORDER BY nk_people_id""".stripMargin,

    "bridge_company_people_build" ->
      s"""WITH $dimCompanySql,
         |$dimPeopleSql,
         |rel AS (
         |  SELECT 'p:' || o_custkey AS person_object_id,
         |    CASE WHEN o_orderkey % 30 = 0 THEN 'c:0'
         |         ELSE CASE WHEN o_custkey % 7 = 0 THEN 'x:' || o_custkey
         |                   WHEN o_custkey % 5 = 0 THEN 'f:' || o_custkey
         |                   ELSE 'c:' || o_custkey END END AS relationship_object_id,
         |    strftime(o_orderdate, '%Y-%m-%d') AS start_at,
         |    CASE WHEN o_orderkey % 5 = 0 THEN NULL
         |         ELSE strftime(CAST(o_orderdate AS DATE) + 365, '%Y-%m-%d') END AS end_at,
         |    CASE WHEN o_orderkey % 3 = 0 THEN ''
         |         WHEN o_orderkey % 3 = 1 THEN ' yes ' ELSE 'no' END AS is_past,
         |    CASE WHEN o_orderkey % 4 = 0 THEN ''
         |         WHEN o_orderkey % 4 = 1 THEN ' CEO '
         |         WHEN o_orderkey % 4 = 2 THEN 'board member' ELSE NULL END AS title
         |  FROM orders)
         |SELECT c.sk_company_id, p.sk_people_id,
         |  nullif(trim(rel.title), '') AS title,
         |  nullif(trim(rel.is_past), '') AS is_past,
         |  CAST(strftime(CAST(rel.start_at AS DATE), '%Y%m%d') AS INT) AS relationship_start_at,
         |  CAST(strftime(CAST(rel.end_at AS DATE), '%Y%m%d') AS INT) AS relationship_end_at
         |FROM rel
         |JOIN dim_people_keyed p ON rel.person_object_id = p.nk_people_id
         |JOIN dim_company_keyed c ON rel.relationship_object_id = c.nk_company_id
         |ORDER BY sk_people_id, sk_company_id, relationship_start_at,
         |  title NULLS FIRST, is_past NULLS FIRST, relationship_end_at NULLS FIRST""".stripMargin,

    "ri2_fk_violations_bloom" ->
      """WITH staged AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 97 = 0 THEN o_custkey + 1000000
        |         ELSE o_custkey END AS cust_fk
        |  FROM orders)
        |SELECT o_orderkey, cust_fk FROM staged
        |WHERE cust_fk IS NOT NULL
        |  AND cust_fk NOT IN (SELECT c_custkey FROM customer)
        |ORDER BY o_orderkey""".stripMargin,

    "ri1_fk_violations" ->
      s"""WITH $dimCompanySql,
         |inv AS (
         |  SELECT o_orderkey AS investment_id,
         |    CASE WHEN o_orderkey % 20 = 0 THEN 'c:0' ELSE 'c:' || o_custkey END AS funded_object_id
         |  FROM orders)
         |SELECT investment_id, funded_object_id FROM inv
         |WHERE funded_object_id IS NOT NULL
         |  AND NOT EXISTS (SELECT 1 FROM dim_company_keyed c
         |                  WHERE c.nk_company_id = inv.funded_object_id)
         |ORDER BY investment_id""".stripMargin,

    "dim_company_build" ->
      s"""WITH $dimCompanySql
         |SELECT nk_company_id, entity_type, full_address, region, city,
         |  country_code, sk_company_id
         |FROM dim_company_keyed ORDER BY nk_company_id""".stripMargin,

    "dim_funds_build" ->
      s"""WITH $dimFundsSql
         |SELECT nk_fund_id, fund_name, CAST(raised_amount_usd AS DOUBLE) AS raised_amount_usd,
         |  funded_at, fund_description, sk_fund_id
         |FROM dim_funds_keyed ORDER BY nk_fund_id""".stripMargin,

    "fct_investments_build" ->
      s"""WITH $dimCompanySql,
         |$dimFundsSql,
         |inv AS (
         |  SELECT o_orderkey AS investment_id, o_orderkey % 997 AS funding_round_id,
         |    CASE WHEN o_orderkey % 20 = 0 THEN 'c:0' ELSE 'c:' || o_custkey END AS funded_object_id,
         |    'f:' || ((o_orderkey % 13) + 1) AS investor_object_id
         |  FROM orders),
         |fr AS (
         |  SELECT p_partkey AS funding_round_id,
         |    DATE '1994-01-01' + CAST((p_partkey * 13) % 15000 AS INT) AS funded_at,
         |    'type_' || (p_partkey % 6) AS funding_round_type,
         |    CAST(p_size AS VARCHAR) AS participants,
         |    CAST(p_retailprice AS DECIMAL(18,2)) AS raised_amount_usd,
         |    CAST(p_retailprice * 2 AS DECIMAL(18,2)) AS pre_money_valuation_usd,
         |    CAST(p_retailprice * 3 AS DECIMAL(18,2)) AS post_money_valuation_usd
         |  FROM part),
         |frd AS (
         |  SELECT *, CAST(strftime(funded_at, '%Y%m%d') AS INT) AS funded_at_id
         |  FROM fr
         |  WHERE CAST(strftime(funded_at, '%Y%m%d') AS INT) BETWEEN 19500101 AND 20291231)
         |SELECT inv.investment_id AS dd_investment_id,
         |  c.sk_company_id, f.sk_fund_id,
         |  frd.funded_at_id AS funded_at, frd.funding_round_type,
         |  frd.participants AS num_of_participants,
         |  CAST(frd.raised_amount_usd AS DOUBLE) AS raised_amount_usd,
         |  CAST(frd.pre_money_valuation_usd AS DOUBLE) AS pre_money_valuation_usd,
         |  CAST(frd.post_money_valuation_usd AS DOUBLE) AS post_money_valuation_usd
         |FROM inv
         |JOIN dim_company_keyed c ON inv.funded_object_id = c.nk_company_id
         |JOIN dim_funds_keyed f ON inv.investor_object_id = f.nk_fund_id
         |LEFT JOIN frd ON inv.funding_round_id = frd.funding_round_id
         |ORDER BY dd_investment_id""".stripMargin,

    "fct_ipos_build" ->
      raw"""WITH $dimCompanySql,
         |ipos AS (
         |  SELECT CAST(o_orderkey AS VARCHAR) AS ipo_id,
         |    CASE WHEN o_orderkey % 25 = 0 THEN 'c:0' ELSE 'c:' || o_custkey END AS object_id,
         |    CAST(o_totalprice * 10 AS DECIMAL(18,2)) AS valuation_amount,
         |    CAST(o_totalprice AS DECIMAL(18,2)) AS raised_amount,
         |    ${sqlCur("o_orderkey")} AS valuation_currency_code,
         |    ${sqlCur("(o_orderkey + 4)")} AS raised_currency_code,
         |    o_orderdate AS public_at,
         |    CASE WHEN o_orderkey % 4 = 0 THEN '$$$$$$'
         |         WHEN o_orderkey % 4 = 1 THEN '123'
         |         WHEN o_orderkey % 4 = 2 THEN ' NQ:' || o_custkey || ' '
         |         ELSE NULL END AS stock_symbol,
         |    ' IPO of customer ' || o_custkey AS source_description
         |  FROM orders WHERE o_orderkey % 3 = 0)
         |SELECT CAST(ipo_id AS INT) AS dd_ipo_id, c.sk_company_id,
         |  CAST(${sqlToUsd("valuation_currency_code", "valuation_amount")} AS DOUBLE) AS valuation_amount_usd,
         |  CAST(${sqlToUsd("raised_currency_code", "raised_amount")} AS DOUBLE) AS raised_amount_usd,
         |  CAST(strftime(public_at, '%Y%m%d') AS INT) AS public_at,
         |  CASE WHEN stock_symbol IS NULL THEN NULL
         |       WHEN regexp_matches(trim(lower(stock_symbol)), '^[\W\d_]+$$') THEN NULL
         |       ELSE trim(lower(stock_symbol)) END AS stock_symbol,
         |  trim(lower(source_description)) AS ipo_description
         |FROM ipos
         |JOIN dim_company_keyed c ON ipos.object_id = c.nk_company_id
         |ORDER BY dd_ipo_id""".stripMargin,

    "fct_acquisition_build" ->
      s"""WITH $dimCompanySql,
         |acq_src AS (
         |  SELECT l_orderkey * 10 + l_linenumber AS acquisition_id,
         |    CASE WHEN l_suppkey % 37 = 0 THEN 'c:0'
         |         ELSE 'c:' || ((l_partkey % 100) + 1) END AS acquiring_object_id,
         |    'c:' || ((l_suppkey * 7 + l_linenumber) % 100 + 1) AS acquired_object_id,
         |    CASE WHEN l_linenumber % 3 = 0 THEN ''
         |         WHEN l_linenumber % 3 = 1 THEN ' CASH '
         |         ELSE 'Stock' END AS term_code,
         |    CAST(l_extendedprice AS DECIMAL(18,2)) AS price_amount,
         |    ${sqlCur("l_suppkey")} AS price_currency_code,
         |    l_shipdate AS acquired_at,
         |    CASE WHEN l_orderkey % 2 = 0 THEN '' ELSE ' Acq ' || l_orderkey END AS source_description
         |  FROM lineitem)
         |SELECT a.acquisition_id AS dd_acquisition_id,
         |  acq.sk_company_id AS sk_acquiring_company_id,
         |  acd.sk_company_id AS sk_acquired_company_id,
         |  CAST(${sqlToUsd("a.price_currency_code", "a.price_amount")} AS DOUBLE) AS price_amount_usd,
         |  CAST(strftime(a.acquired_at, '%Y%m%d') AS INT) AS acquired_at,
         |  nullif(trim(lower(a.term_code)), '') AS term_code,
         |  nullif(trim(lower(a.source_description)), '') AS acquisition_description
         |FROM acq_src a
         |JOIN dim_company_keyed acq ON a.acquiring_object_id = acq.nk_company_id
         |JOIN dim_company_keyed acd ON a.acquired_object_id = acd.nk_company_id
         |ORDER BY dd_acquisition_id, price_amount_usd, acquired_at,
         |  sk_acquiring_company_id, sk_acquired_company_id""".stripMargin
  )
}
