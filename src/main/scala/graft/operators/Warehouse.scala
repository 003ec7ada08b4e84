package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Cleaning

/** Star-schema builders — the engine's version of the reference's
  * warehouse transforms (`dags/vcapital_warehouse/tasks/components/
  * extract_transform.py`). IO is injected: each builder takes input
  * DataFrames and returns the dim/fact DataFrame, so the same logic runs
  * against JDBC staging tables, lake parquet, or test fixtures.
  *
  * Scale design vs the reference:
  *  - dims joined to facts are explicitly `broadcast()` when used as pure
  *    key-lookup sides (the reference relies on the implicit 10 MB
  *    threshold); at 100 TB fact scale the dim side must never shuffle
  *    the fact.
  *  - date-dimension joins select only `date_id` before the join (the
  *    reference joins all 25 dim_date columns and lets pruning fix it).
  *  - surrogate keys: the reference delegates to Postgres BIGSERIAL at
  *    load time (init_dwh.sql:32 etc.). In-engine, dims get dense stable
  *    keys via row_number over the natural-key order; facts get
  *    `monotonically_increasing_id`-based keys (no global sort at scale).
  */
object Warehouse {

  /** Plans whose optimizer size estimate is at or below this use the
    * single-window dense-key path; above it, the range-bucket path.
    * 64 MB ≈ a high-hundreds-of-thousands-row dimension with a few string
    * columns — comfortably inside one task's sort budget, far below where
    * the range path's fixed cost (sampling pass + two extra exchanges)
    * pays for itself. */
  val DenseKeySmallBytes: Long = 64L << 20

  /** Dense surrogate key by natural-key order + offset (dimension load).
    *
    * Size-aware dispatch: toy and mid-size dimensions take
    * [[withDenseKeyWindowed]] (one exchange, no sampling pass); anything
    * whose optimizer stats estimate exceeds [[DenseKeySmallBytes]] takes
    * the scale-safe [[withDenseKeyRanged]] path. The estimate comes from
    * `optimizedPlan.stats` — driver-side plan metadata (file sizes ×
    * filter/project selectivity), no job. For UNIQUE `orderCol` values
    * the two variants are bit-identical (spec-proven), so dispatch can
    * never change results; with duplicate keys both variants break ties
    * nondeterministically (and differently), as any `row_number` over a
    * non-unique order does — callers needing stable keys on duplicates
    * must extend `orderCol` to a unique composite first. */
  def withDenseKey(df: DataFrame, keyName: String, orderCol: String,
                   offset: Long = 0L): DataFrame =
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(DenseKeySmallBytes))
      withDenseKeyWindowed(df, keyName, orderCol, offset)
    else withDenseKeyRanged(df, keyName, Seq(orderCol), offset)

  /** Scale-safe dense key (no single-partition pass over the data): the
    * [[rangedRunningSum]] of 1 per row, which equals the global
    * `row_number() OVER (ORDER BY orderCols)` wherever the sampled range
    * bounds fall — bit-identical to [[withDenseKeyWindowed]] for unique
    * keys. Rank order is the lexicographic tuple of `orderCols` (the
    * form a deterministic global shuffle needs; see
    * [[Sampling.shuffledPositions]]). `offset` carries the max existing
    * key for incremental appends. */
  def withDenseKeyRanged(df: DataFrame, keyName: String, orderCols: Seq[String],
                         offset: Long = 0L): DataFrame =
    rangedRunningSum(df, orderCols, lit(1L), keyName)
      .withColumn(keyName, col(keyName) + lit(offset))

  /** `df` plus `out`: the global inclusive running sum of `weight` in
    * `orderCols` order, built without a single-partition pass over the
    * data:
    *  1. range-repartition by `orderCols` to the session's shuffle width
    *     — partition i holds keys strictly below partition i+1's;
    *  2. a running sum within each range partition (a ROWS frame, so
    *     every partition sums in parallel and ties never share a value);
    *  3. per-partition totals (O(#partitions) rows) get an exclusive
    *     prefix sum on one tiny partition and are broadcast-joined back.
    * The result does not depend on where the sampled bounds fall. An
    * all-null prefix sums to 0, not null, so `out` is non-nullable. */
  private[graft] def rangedRunningSum(df: DataFrame, orderCols: Seq[String],
                                      weight: Column, out: String): DataFrame = {
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    val cols = orderCols.map(col)
    // The ranged frame MUST materialize exactly once: both consumers
    // (the per-partition totals and the join leg) depend on the range
    // partitioner's SAMPLED boundaries, and Spark seeds that sampling
    // from the RDD id — if the two legs plan separate exchanges (e.g.
    // column pruning makes the subtrees differ, defeating
    // ReuseExchange; observed at sf1 in ds4 and inside cur5's packing),
    // they sample DIFFERENT boundaries and the offsets no longer
    // describe the partitions the join leg summed, silently corrupting
    // every value past the first divergent partition. The lazy
    // checkpoint pins one materialization — correctness, not (only)
    // perf.
    val local = df.repartitionByRange(n, cols: _*)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__cum", coalesce(sum(weight).over(
        Window.partitionBy(col("__pid")).orderBy(cols: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)), lit(0L)))
      .localCheckpoint(false)
    val offW = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy(col("__pid"))
      .agg(sum(weight).as("__tot"))
      .withColumn("__off", coalesce(sum(col("__tot")).over(offW), lit(0L)))
      .select(col("__pid"), col("__off"))
    local.join(broadcast(offsets), Seq("__pid"))
      .withColumn(out, col("__cum") + col("__off"))
      .drop("__pid", "__cum", "__off")
  }

  /** The global-window variant: a single-partition sort of the whole
    * frame. The right plan for small/mid dimensions, where one task sorts
    * everything and the range path's sampling pass + extra exchanges are
    * pure overhead; [[withDenseKey]] dispatches here below
    * [[DenseKeySmallBytes]]. */
  def withDenseKeyWindowed(df: DataFrame, keyName: String, orderCol: String,
                           offset: Long = 0L): DataFrame =
    df.withColumn(keyName,
      row_number().over(Window.orderBy(col(orderCol))) + lit(offset))

  /** dim_company (extract_transform.py:27-144): entity_type from prefix,
    * cleaned/concatenated address, normalized region/city/country. */
  def dimCompany(company: DataFrame): DataFrame =
    company
      .withColumn("entity_type", Cleaning.entityType(col("object_id")))
      .withColumn("address1_cleaned", Cleaning.cleanAddress(col("address1")))
      .withColumn("address2_cleaned", Cleaning.cleanAddress(col("address2")))
      .withColumn("full_address",
        Cleaning.fullAddress(col("address1_cleaned"), col("address2_cleaned")))
      .withColumn("region", Cleaning.normalizeLower(col("region")))
      .withColumn("city", Cleaning.normalizeLower(col("city")))
      .withColumn("country_code", Cleaning.normalizeUpper(col("country_code")))
      .select(
        col("object_id").as("nk_company_id"),
        col("entity_type"), col("full_address"),
        col("region"), col("city"), col("country_code"))

  /** dim_funds (extract_transform.py:147-234): normalize name/description,
    * raised_amount→USD, yyyyMMdd date FK.
    *
    * The reference LEFT-joins dim_date here (extract_transform.py:199-204)
    * and then selects none of its columns — provably dead work: date_id
    * is unique in dim_date, so a left join can neither drop nor duplicate
    * rows, and Catalyst cannot eliminate it (it can't see the uniqueness).
    * The engine omits the join — identical output, one fewer join stage
    * (so do [[fctIpos]] and [[fctAcquisition]]). */
  def dimFunds(funds: DataFrame): DataFrame = {
    funds
      .withColumn("name", trim(lower(col("name"))))
      .withColumn("source_description", trim(lower(col("source_description"))))
      .withColumn("raised_amount_usd",
        Cleaning.toUsd(col("raised_currency_code"), col("raised_amount")))
      .withColumn("funded_date_id", Cleaning.dateKey(col("funded_at")))
      .withColumn("source_description",
        when(trim(col("source_description")) === "", lit(null))
          .otherwise(col("source_description")))
      .select(
        col("object_id").as("nk_fund_id"),
        col("name").as("fund_name"),
        col("raised_amount_usd"),
        col("funded_date_id").as("funded_at"),
        col("source_description").as("fund_description"))
  }

  /** dim_people — declared in the reference DDL (`init_dwh.sql:43-50`)
    * with no builder in its code; built here from the staging.people
    * schema (`init_stg.sql:141-150`): natural key = object_id, full name
    * from trimmed first+last, affiliation passed through. */
  def dimPeople(people: DataFrame): DataFrame =
    people.select(
      col("object_id").as("nk_people_id"),
      Cleaning.nullIfBlank(
        concat_ws(" ", trim(col("first_name")), trim(col("last_name")))).as("full_name"),
      Cleaning.nullIfBlank(trim(col("affiliation_name"))).as("affiliation_name"))

  /** bridge_company_people (`init_dwh.sql:63-73`): relationships resolved
    * to surrogate-key pairs; the all-string staging.relationships columns
    * (`init_stg.sql:158-169`) are typed here — start/end become yyyyMMdd
    * int date keys, blank titles null out. */
  def bridgeCompanyPeople(relationships: DataFrame, dimCompany: DataFrame,
                          dimPeople: DataFrame): DataFrame = {
    val comp = broadcast(dimCompany.select("sk_company_id", "nk_company_id"))
    val ppl  = broadcast(dimPeople.select("sk_people_id", "nk_people_id"))
    relationships
      .join(ppl, relationships("person_object_id") === ppl("nk_people_id"), "inner")
      .join(comp, relationships("relationship_object_id") === comp("nk_company_id"), "inner")
      .select(
        col("sk_company_id"), col("sk_people_id"),
        Cleaning.nullIfBlank(trim(col("title"))).as("title"),
        Cleaning.nullIfBlank(trim(col("is_past"))).as("is_past"),
        Cleaning.dateKey(to_date(col("start_at"))).as("relationship_start_at"),
        Cleaning.dateKey(to_date(col("end_at"))).as("relationship_end_at"))
  }

  /** fct_investments (extract_transform.py:237-346): company + fund key
    * lookups (inner), funding-round side input validated against dim_date
    * (inner = date-validity semi-join), then a USING-style left join. */
  def fctInvestments(investments: DataFrame, dimCompany: DataFrame,
                     dimFunds: DataFrame, dimDate: DataFrame,
                     fundingRounds: DataFrame): DataFrame = {
    val comp  = broadcast(dimCompany.select("sk_company_id", "nk_company_id"))
    val funds = broadcast(dimFunds.select("sk_fund_id", "nk_fund_id"))
    val dates = broadcast(dimDate.select("date_id"))

    val rounds = fundingRounds
      .withColumn("funded_at", Cleaning.dateKey(col("funded_at")))
      .join(dates, col("funded_at") === dates("date_id"), "inner")
      .select("funding_round_id", "funding_round_type", "participants",
        "raised_amount_usd", "raised_currency_code",
        "pre_money_valuation_usd", "post_money_valuation_usd", "funded_at")

    investments
      .join(comp, investments("funded_object_id") === comp("nk_company_id"), "inner")
      .join(funds, investments("investor_object_id") === funds("nk_fund_id"), "inner")
      .join(rounds, Seq("funding_round_id"), "left")
      .select(
        col("investment_id").as("dd_investment_id"),
        col("sk_company_id"), col("sk_fund_id"), col("funded_at"),
        col("funding_round_type"),
        col("participants").as("num_of_participants"),
        col("raised_amount_usd"),
        col("pre_money_valuation_usd"),
        col("post_money_valuation_usd"))
  }

  /** fct_ipos (extract_transform.py:349-448): int-cast natural id, company
    * key lookup (inner), date FK, two USD conversions, stock-symbol
    * cleanse, description normalize. The reference's left join to
    * dim_date selects no column and is dropped, as in [[dimFunds]]. */
  def fctIpos(ipos: DataFrame, dimCompany: DataFrame): DataFrame = {
    val comp  = broadcast(dimCompany.select("sk_company_id", "nk_company_id"))
    ipos
      .withColumn("ipo_id", col("ipo_id").cast("integer"))
      .join(comp, col("object_id") === comp("nk_company_id"), "inner")
      .withColumn("public_date_id", Cleaning.dateKey(col("public_at")))
      .withColumn("valuation_amount_usd",
        Cleaning.toUsd(col("valuation_currency_code"), col("valuation_amount")))
      .withColumn("raised_amount_usd",
        Cleaning.toUsd(col("raised_currency_code"), col("raised_amount")))
      .withColumn("stock_symbol", Cleaning.cleanStockSymbol(col("stock_symbol")))
      .withColumn("source_description", trim(lower(col("source_description"))))
      .select(
        col("ipo_id").as("dd_ipo_id"),
        col("sk_company_id"),
        col("valuation_amount_usd"), col("raised_amount_usd"),
        col("public_date_id").as("public_at"),
        col("stock_symbol"),
        col("source_description").as("ipo_description"))
  }

  /** SCD Type-2 dimension from a change log — the warehouse-load pattern
    * the reference's overwrite-style dims can't express (history is lost
    * on every reload there; SCD2 keeps one row per attribute VERSION with
    * an effective-time interval). Kimball's standard construction:
    *
    *  1. collapse consecutive rows whose tracked attributes are unchanged
    *     (only genuine transitions open a new version);
    *  2. `effective_from` = the change row's `orderCol`,
    *     `effective_to` = the NEXT version's `effective_from` (half-open
    *     intervals, so versions tile the timeline with no gaps/overlaps),
    *     null on the current version;
    *  3. `version` = 1-based change ordinal, `is_current` flags the open
    *     interval.
    *
    * Scale: both windows and the lead() all share ONE partitioning (the
    * natural key) — Spark plans a single hash exchange for the whole
    * build, and per-key history is small by construction (a dimension
    * row's change count, not fact volume). Ties on `orderCol` are broken
    * by `tieBreak` so the result is arrival-order-independent; pass a
    * unique composite (e.g. a change-log sequence id) — the same contract
    * as [[withDenseKey]].
    *
    * Returns key ++ attrs ++ (version, effective_from, effective_to,
    * is_current). */
  def scd2(changes: DataFrame, keyCols: Seq[String], attrCols: Seq[String],
           orderCol: String, tieBreak: Seq[String] = Nil): DataFrame = {
    require(keyCols.nonEmpty && attrCols.nonEmpty, "scd2: empty key/attrs")
    import org.apache.spark.sql.expressions.Window
    val ord = (orderCol +: tieBreak).map(col)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(ord: _*)
    // a transition = first row per key, or any tracked attribute differing
    // from the previous row (null-safe: <=> catches null<->value flips)
    val changed = attrCols
      .map(a => !(col(a) <=> lag(col(a), 1).over(w)))
      .reduce(_ || _)
    val versions = changes
      .withColumn("__first", lag(col(orderCol), 1).over(w).isNull)
      .withColumn("__chg", col("__first") || changed)
      .filter(col("__chg"))
    // same partitioning as `w` → no second exchange, only a re-sort at
    // worst (the filter preserves the child's hash distribution)
    versions
      .withColumn("version", row_number().over(w))
      .withColumn("effective_from", col(orderCol))
      .withColumn("effective_to", lead(col(orderCol), 1).over(w))
      .withColumn("is_current", col("effective_to").isNull)
      .select((keyCols ++ attrCols).map(col) ++ Seq(col("version"),
        col("effective_from"), col("effective_to"), col("is_current")): _*)
  }

  /** fct_acquisition (extract_transform.py:451-565): the dim_company
    * self-join in two roles (acquiring/acquired) via aliased+renamed key
    * pairs, date FK, USD price, term-code/description cleanse. The
    * reference's left join to dim_date selects no column and is dropped,
    * as in [[dimFunds]]. */
  def fctAcquisition(acquisition: DataFrame, dimCompany: DataFrame): DataFrame = {
    val acq = broadcast(dimCompany.select(
      col("sk_company_id").as("sk_acquiring_company_id"),
      col("nk_company_id").as("nk_acquiring_company_id")))
    val acd = broadcast(dimCompany.select(
      col("sk_company_id").as("sk_acquired_company_id"),
      col("nk_company_id").as("nk_acquired_company_id")))

    val termClean = trim(lower(col("term_code")))
    val descClean = trim(lower(col("source_description")))
    acquisition
      .join(acq, col("acquiring_object_id") === acq("nk_acquiring_company_id"), "inner")
      .join(acd, col("acquired_object_id") === acd("nk_acquired_company_id"), "inner")
      .withColumn("acquired_date_id", Cleaning.dateKey(col("acquired_at")))
      .withColumn("price_amount_usd",
        Cleaning.toUsd(col("price_currency_code"), col("price_amount")))
      .withColumn("term_code", when(termClean === "", lit(null)).otherwise(termClean))
      .withColumn("source_description", when(descClean === "", lit(null)).otherwise(descClean))
      .select(
        col("acquisition_id").as("dd_acquisition_id"),
        col("sk_acquiring_company_id"), col("sk_acquired_company_id"),
        col("price_amount_usd"),
        col("acquired_date_id").as("acquired_at"),
        col("term_code"),
        col("source_description").as("acquisition_description"))
  }
}
