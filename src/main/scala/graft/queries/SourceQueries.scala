package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.sources.{JdbcUpsert, Readers, Writers}

/** Source/sink coverage (SURVEY §2.1): CSV round-trip (S8+S9), JSON
  * parse/flatten (S6), keyed upsert-merge semantics (S7), partitioned
  * parquet write + pruned read-back (S4+S3). Sinks are exercised by
  * writing to a fresh [[StoreDirs]] scratch dir inside the query and
  * reading back — the oracle computes the same result straight from the
  * parquet tables, so a lossy round-trip fails the hash compare. */
object SourceQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S6: JSON payload column parsed + flattened + aggregated.
    "s6_json_flatten" -> { (s, d) =>
      events(s, d)
        .withColumn("k", from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    },

    // S7: keyed upsert — merge a delta batch over an existing batch,
    // newest version (highest event_id) wins per key.
    "s7_upsert_merge" -> { (s, d) =>
      val base = events(s, d)
        .select((col("event_id") % 100).as("milestone_id"),
          col("event_id"), col("value"))
      val existing = base.filter(col("event_id") % 3 === 0)
      val delta    = base.filter(col("event_id") % 3 === 1)
      JdbcUpsert.mergeByKey(existing, delta, Seq("milestone_id"), "event_id")
        .withColumn("value", col("value").cast("decimal(18,2)").cast("double"))
        .orderBy(col("milestone_id"))
    },

    // S8+S9: CSV sink then CSV source; decimals fixed to 2dp before the
    // write so the text round-trip is exact.
    // ORC round-trip: write + scan back with filter pushdown intact;
    // the oracle is format-independent (reads the same rows from
    // parquet), so the gate proves the ORC path is lossless.
    "s12_orc_roundtrip" -> { (s, d) =>
      val tmp = StoreDirs.fresh("orc", d)
      val out = customer(s, d).select(
        col("c_custkey"), col("c_mktsegment"),
        col("c_acctbal").cast("decimal(18,2)").as("bal"))
      Writers.orc(out, s"$tmp/customer")
      Readers.orc(s, s"$tmp/customer")
        .filter(col("bal") > 0)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(col("bal")).cast("double").as("total_bal"))
        .orderBy(col("c_mktsegment"))
    },

    "s8s9_csv_roundtrip" -> { (s, d) =>
      val tmp = StoreDirs.fresh("csv", d)
      val out = customer(s, d).select(
        col("c_custkey"), col("c_mktsegment"),
        col("c_acctbal").cast("decimal(18,2)").as("bal"))
      Writers.csv(out, s"$tmp/customer")
      Readers.csv(s, s"$tmp/customer",
        Some(org.apache.spark.sql.types.StructType.fromDDL(
          "c_custkey BIGINT, c_mktsegment STRING, bal DECIMAL(18,2)")))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(col("bal")).cast("double").as("total_bal"))
        .orderBy(col("c_mktsegment"))
    },

    // JSON-lines sink then source round-trip (raw payload persistence).
    "s6b_json_roundtrip" -> { (s, d) =>
      val tmp = StoreDirs.fresh("json", d)
      Writers.json(events(s, d).select(col("event_id"), col("event_type"),
        col("value").cast("decimal(18,2)").as("value")), s"$tmp/events")
      Readers.json(s, s"$tmp/events")
        .select(col("event_id"), col("event_type"),
          col("value").cast("decimal(18,2)").as("value"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).cast("double").as("total"))
        .orderBy(col("event_type"))
    },

    // small-file compaction: fragment the table into 64 tiny files,
    // compact in place (coalesce + write-aside + atomic rename), then
    // aggregate the read-back — the oracle is format-independent, so a
    // row lost or duplicated by the rewrite fails the hash compare (the
    // file-count bound itself is asserted in SourcesSpec).
    "s13_compaction" -> { (s, d) =>
      val tmp = StoreDirs.fresh("compact", d)
      val out = s"$tmp/events"
      Writers.parquet(events(s, d).select(col("event_id"), col("event_type"),
          col("value").cast("decimal(18,2)").as("value")).repartition(64), out)
      Writers.compactParquet(s, out, targetFiles = 4)
      Readers.parquet(s, out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).cast("double").as("total"))
        .orderBy(col("event_type"))
    },

    // Z-order clustered write + read-back: lineitem laid out on the
    // Morton curve over (l_partkey, l_suppkey), then bucketed stats of
    // the curve key — the oracle recomputes the SAME bit interleave
    // (generated from one loop, Clustering.zValueSql) from the raw
    // table, so the key arithmetic, the write, and the scan are all
    // cross-checked. File-interval disjointness (the data-skipping
    // property the layout exists for) is asserted in SourcesSpec.
    "z1_zorder_cluster" -> { (s, d) =>
      val tmp = StoreDirs.fresh("zorder", d)
      graft.operators.Clustering.clusteredWrite(
        lineitem(s, d).select(col("l_partkey"), col("l_suppkey"),
          col("l_quantity")),
        s"$tmp/li", "l_partkey", "l_suppkey", files = 8)
      Readers.parquet(s, s"$tmp/li")
        .groupBy(shiftright(col("zkey"), 12).as("z_bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("zkey")).as("z_min"), max(col("zkey")).as("z_max"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("total_qty"))
        .orderBy(col("z_bucket"))
    },

    // S4: partitioned parquet write with dynamic overwrite, then a pruned
    // read-back (the filter prunes partition directories, not rows).
    "s4_partitioned_write" -> { (s, d) =>
      val tmp = StoreDirs.fresh("part", d)
      Writers.parquetPartitioned(
        events(s, d).select(col("event_id"), col("event_type"),
          col("value").cast("decimal(18,2)").as("value")),
        s"$tmp/events", "event_type")
      Readers.parquet(s, s"$tmp/events")
        .filter(col("event_type") === "purchase")
        .agg(count(lit(1)).as("n"), sum(col("value")).cast("double").as("total"))
    }
  )

  val oracle: Map[String, String] = Map(
    "s6_json_flatten" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "s7_upsert_merge" ->
      """WITH base AS (
        |  SELECT event_id % 100 AS milestone_id, event_id, value
        |  FROM events WHERE event_id % 3 IN (0, 1)),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY milestone_id ORDER BY event_id DESC) AS rn
        |  FROM base)
        |SELECT milestone_id, event_id,
        |  CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS value
        |FROM ranked WHERE rn = 1 ORDER BY milestone_id""".stripMargin,
    "s12_orc_roundtrip" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer WHERE CAST(c_acctbal AS DECIMAL(18,2)) > 0
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "s8s9_csv_roundtrip" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "s6b_json_roundtrip" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "s13_compaction" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "z1_zorder_cluster" -> {
      val z = graft.operators.Clustering.zValueSql("l_partkey", "l_suppkey")
      s"""WITH z AS (SELECT $z AS zkey, l_quantity FROM lineitem)
         |SELECT zkey >> 12 AS z_bucket, count(*) AS n,
         |  min(zkey) AS z_min, max(zkey) AS z_max,
         |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
         |FROM z GROUP BY 1 ORDER BY z_bucket""".stripMargin
    },
    "s4_partitioned_write" ->
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events WHERE event_type = 'purchase'""".stripMargin
  )
}
