package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** Core relational coverage: scans, filters, aggregation, sort/limit,
  * window surrogate keys (SURVEY §2.1 S2/S3, §2.4, §2.5).
  *
  * Output conventions shared by every query in the engine's oracle harness:
  *  - deterministic total ordering (ORDER BY on key columns, no nulls in
  *    sort keys unless NULLS FIRST is mirrored in the oracle SQL);
  *  - integer outputs cast to int/bigint identically on both sides;
  *  - money math in exact decimal, surfaced as double (exact decimal →
  *    nearest-double is deterministic in both engines — avoids both FP
  *    summation order and decimal precision-width mismatches).
  */
object CoreQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1-shaped pricing summary: partial agg (map-side combine) +
    // final hash agg; at cluster scale this shuffles only 4 groups.
    "q1_pricing_summary" -> { (s, d) =>
      val dec = (c: String) => col(c).cast("decimal(18,2)")
      lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec("l_quantity")).cast("double").as("sum_qty"),
          sum(dec("l_extendedprice")).cast("double").as("sum_base_price"),
          sum((dec("l_extendedprice") * (lit(BigDecimal(1)) - dec("l_discount")))
            .cast("decimal(28,6)")).cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // TPC-H Q3-shaped shipping-priority query: selective filters on both
    // join sides pushed to the scans, then join + grouped agg + top-K.
    "q3_shipping_priority" -> { (s, d) =>
      val o = orders(s, d).filter(col("o_orderdate") < lit("1998-01-01"))
      val li = lineitem(s, d).filter(col("l_shipdate") > lit("1996-01-01"))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(o("o_orderkey"), o("o_orderdate"), o("o_orderpriority"))
        .agg(sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(BigDecimal(1)) - col("l_discount").cast("decimal(18,2)")))
          .cast("decimal(28,6)")).cast("double").as("revenue"))
        .select(col("o_orderkey"), col("revenue"),
          col("o_orderdate").cast("string").as("o_orderdate"), col("o_orderpriority"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(20)
    },

    // TPC-H Q6-shaped forecast-revenue query: the pure scan benchmark —
    // three pushed predicates, two columns read, one global agg.
    "q6_forecast_revenue" -> { (s, d) =>
      lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(sum((col("l_extendedprice").cast("decimal(18,2)") *
          col("l_discount").cast("decimal(18,2)")).cast("decimal(28,4)"))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
    },

    // S3: parquet scan with filter + projection — both must reach the scan
    // (PushedFilters / ReadSchema) so a 100 TB scan reads 2 columns, not 11.
    "s3_parquet_scan_pushdown" -> { (s, d) =>
      lineitem(s, d)
        .filter(col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    },

    // S2: incremental day scan — the reference's `created_at::DATE = ds-1`
    // delta predicate (extract.py:41-43) over the orders table.
    "s2_incremental_day_scan" -> { (s, d) =>
      orders(s, d)
        .filter(to_date(col("o_orderdate")) === date_sub(to_date(lit("1996-06-02")), 1))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    },

    // §2.5 sort + limit (top-K by price; deterministic tie-break).
    "sort_limit_topk" -> { (s, d) =>
      orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(5)
    },

    // §2.5 surrogate keys: dense row_number-equivalent keys by natural-key
    // order + offset — what the reference delegates to Postgres BIGSERIAL.
    // Calls the RANGED variant explicitly (not the size dispatcher, which
    // would route every tested scale to the windowed path) so the oracle
    // gate keeps covering the production scale path: range buckets +
    // per-bucket running count + cumulative offsets, no single-partition
    // pass.
    "w1_surrogate_keys" -> { (s, d) =>
      graft.operators.Warehouse.withDenseKeyRanged(
        customer(s, d).select(col("c_custkey"), col("c_name")),
        "sk_customer_id", Seq("c_custkey"), offset = 100L)
        .orderBy(col("c_custkey"))
    },

    // P3: emptiness short-circuit surfaced as a 1-row boolean (the
    // reference gates whole jobs on df.isEmpty).
    "p3_emptiness_gate" -> { (s, d) =>
      val empty  = orders(s, d).filter(col("o_totalprice") < -1)
      val loaded = orders(s, d).filter(col("o_totalprice") >= 0)
      s.range(1).select(
        lit(empty.isEmpty).as("skip_empty_input"),
        lit(loaded.isEmpty).as("skip_loaded_input"))
    }
  )

  val oracle: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT o_orderkey,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
        |  CAST(CAST(o_orderdate AS TIMESTAMP) AS VARCHAR) AS o_orderdate, o_orderpriority
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey LIMIT 20""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "s3_parquet_scan_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity > 45 ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin,
    "s2_incremental_day_scan" ->
      """SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
        |FROM orders WHERE CAST(o_orderdate AS DATE) = DATE '1996-06-02' - INTERVAL 1 DAY
        |ORDER BY o_orderkey""".stripMargin,
    "sort_limit_topk" ->
      """SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 5""".stripMargin,
    "w1_surrogate_keys" ->
      """SELECT c_custkey, c_name,
        |  CAST(row_number() OVER (ORDER BY c_custkey) + 100 AS BIGINT) AS sk_customer_id
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "p3_emptiness_gate" ->
      """SELECT (SELECT count(*) FROM orders WHERE o_totalprice < -1) = 0 AS skip_empty_input,
        |       (SELECT count(*) FROM orders WHERE o_totalprice >= 0) = 0 AS skip_loaded_input""".stripMargin
  )
}
