package graft.sources

import java.sql.{Connection, DriverManager, PreparedStatement, SQLException}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** S7: keyed JDBC upsert — the engine's version of the reference's
  * `pangres.upsert(..., if_row_exists='update')` into staging.milestones
  * (staging `load.py:94-118`). Spark has no native JDBC MERGE, so this is
  * the documented hard-part (SURVEY §7.4 hard #1), implemented as option
  * (a): `foreachPartition` + batched `INSERT … ON CONFLICT (pk) DO UPDATE`.
  *
  * Scale properties: each partition opens ONE connection and writes in
  * `batchSize` batches — total connections = numPartitions (caller should
  * coalesce to a DB-friendly count); no driver-side collect; works for any
  * DataFrame schema (statement is built from the schema once per
  * partition).
  */
object JdbcUpsert {

  /** Target-dialect seam: each dialect yields the parameterized
    * single-row upsert statement plus the field-index bind order its
    * placeholders expect. The `foreachPartition` execute path below is
    * dialect-agnostic and shared — so a live test against any one
    * dialect (Derby MERGE in `JdbcSpec`) exercises the identical
    * connection/batch/commit code the Postgres path runs in production.
    *
    * With a `versionCol` the statement is version-guarded: the update
    * arm fires only when the incoming `versionCol` is STRICTLY newer
    * than the stored row's, so the table converges to the newest version
    * per key under ANY arrival order (out-of-order micro-batches,
    * replays) — blind upsert is last-writer-wins, which is wrong the
    * moment batches aren't version-monotone. Equal versions no-op: a
    * retried batch re-lands identical state (idempotent). */
  sealed trait Dialect {
    def statement(table: String, schema: StructType, keyCols: Seq[String],
                  versionCol: Option[String]): String
    /** Placeholder bind order as schema field indices. */
    def bindOrder(schema: StructType, keyCols: Seq[String],
                  versionCol: Option[String]): Seq[Int]
  }

  /** PostgreSQL `INSERT … ON CONFLICT (pk) DO UPDATE` — the statement
    * pangres emits for `if_row_exists='update'`. Placeholders appear in
    * schema order. */
  case object Postgres extends Dialect {
    def statement(table: String, schema: StructType, keyCols: Seq[String],
                  versionCol: Option[String]): String = {
      val cols = schema.fields.map(_.name)
      val placeholders = cols.map(_ => "?").mkString(", ")
      val updates = cols.filterNot(keyCols.contains)
        .map(c => s"$c = EXCLUDED.$c").mkString(", ")
      // the guarded form aliases the target: EXCLUDED vs t disambiguates
      // the guard columns
      val target = versionCol.fold(table)(_ => s"$table AS t")
      s"""INSERT INTO $target (${cols.mkString(", ")}) VALUES ($placeholders)
         |ON CONFLICT (${keyCols.mkString(", ")}) DO UPDATE SET $updates""".stripMargin +
        versionCol.fold("")(v => s"\nWHERE EXCLUDED.$v > t.$v")
    }
    def bindOrder(schema: StructType, keyCols: Seq[String],
                  versionCol: Option[String]): Seq[Int] =
      schema.fields.indices.toSeq
  }

  /** SQL:2003 `MERGE INTO` against a one-row dummy table — the portable
    * form Derby/DB2 accept (Derby ≥10.11; `SYSIBM.SYSDUMMY1` is its
    * built-in one-row table). Untyped `?` params need explicit CASTs in
    * Derby, so placeholders carry the column's SQL type. Placeholders
    * appear keys-first (ON), then the version (MATCHED guard, when
    * versioned), then non-keys (UPDATE SET), then all columns (INSERT
    * VALUES). */
  case object Merge extends Dialect {
    private def sqlType(dt: DataType): String = dt match {
      case LongType          => "BIGINT"
      case IntegerType       => "INTEGER"
      case ShortType         => "SMALLINT"
      case DoubleType        => "DOUBLE"
      case FloatType         => "REAL"
      case BooleanType       => "BOOLEAN"
      case DateType          => "DATE"
      case TimestampType     => "TIMESTAMP"
      case d: DecimalType    => s"DECIMAL(${d.precision},${d.scale})"
      case _                 => "VARCHAR(32672)"
    }
    def statement(table: String, schema: StructType, keyCols: Seq[String],
                  versionCol: Option[String]): String = {
      def p(f: StructField) = s"CAST(? AS ${sqlType(f.dataType)})"
      val keys = schema.fields.filter(f => keyCols.contains(f.name))
      val rest = schema.fields.filterNot(f => keyCols.contains(f.name))
      val on = keys.map(f => s"t.${f.name} = ${p(f)}").mkString(" AND ")
      val guard = versionCol.map(schema(_)).fold("")(v => s" AND ${p(v)} > t.${v.name}")
      val set = rest.map(f => s"${f.name} = ${p(f)}").mkString(", ")
      val cols = schema.fields.map(_.name).mkString(", ")
      val vals = schema.fields.map(p).mkString(", ")
      s"""MERGE INTO $table t USING SYSIBM.SYSDUMMY1 ON $on
         |WHEN MATCHED$guard THEN UPDATE SET $set
         |WHEN NOT MATCHED THEN INSERT ($cols) VALUES ($vals)""".stripMargin
    }
    def bindOrder(schema: StructType, keyCols: Seq[String],
                  versionCol: Option[String]): Seq[Int] = {
      val idx = schema.fields.indices
      val keys = idx.filter(i => keyCols.contains(schema.fields(i).name))
      val rest = idx.filterNot(i => keyCols.contains(schema.fields(i).name))
      (keys ++ versionCol.map(schema.fieldIndex) ++ rest ++ idx).toSeq
    }
  }

  private def bind(ps: PreparedStatement, row: Row, schema: StructType,
                   order: Seq[Int]): Unit =
    order.zipWithIndex.foreach { case (fi, pi) =>
      val f = schema.fields(fi)
      val v = if (row.isNullAt(fi)) null else row.get(fi)
      (v, f.dataType) match {
        case (null, _)              => ps.setObject(pi + 1, null)
        case (x: java.math.BigDecimal, _: DecimalType) => ps.setBigDecimal(pi + 1, x)
        case (x: java.sql.Timestamp, TimestampType)    => ps.setTimestamp(pi + 1, x)
        case (x: java.sql.Date, DateType)              => ps.setDate(pi + 1, x)
        case (x, _)                 => ps.setObject(pi + 1, x)
      }
    }

  /** Max attempts for one batch flush. Concurrent keyed upserts throw
    * TRANSIENT failures by design of the underlying engines — Postgres
    * serialization/deadlock errors (SQLSTATE 40001/40P01, whose docs say
    * "retry the transaction"), Derby's batched-MERGE internal errors under
    * concurrent embedded use. Because the upsert statement is idempotent
    * per row (MERGE / ON CONFLICT re-lands identical state; the version
    * guard makes even replays converge), re-executing a failed batch on a
    * fresh connection is always safe. Non-transient errors (bad SQL,
    * schema mismatch) exhaust the attempts and rethrow. */
  private val maxBatchAttempts = 3

  /** One connection + prepared statement with retry-on-transient-failure.
    * `flush` is all-or-nothing per call: on any failure the transaction
    * rolls back, the connection is discarded, and the SAME buffered rows
    * re-execute on a fresh connection (bounded by [[maxBatchAttempts]]).
    * Unless the statement is version-guarded (`versioned`), where a stale
    * row rightly touches nothing, every row must insert or update one:
    * an update count of 0 is a lost row and fails the attempt like a
    * transient error (`SUCCESS_NO_INFO`, -2, is not a miss). */
  private final class BatchWriter(url: String, user: String, pass: String,
                                  sql: String, versioned: Boolean) {
    private var conn: Connection = _
    private var ps: PreparedStatement = _
    private def ensureOpen(): Unit = if (conn == null) {
      conn = DriverManager.getConnection(url, user, pass)
      conn.setAutoCommit(false)
      ps = conn.prepareStatement(sql)
    }
    private def drop(): Unit = {
      if (conn != null) {
        try conn.rollback() catch { case _: Throwable => () }
        try conn.close() catch { case _: Throwable => () }
      }
      conn = null; ps = null
    }
    def flush(rows: Seq[Row], schema: StructType, order: Seq[Int]): Unit = {
      var attempt = 0
      var done = false
      while (!done) {
        attempt += 1
        try {
          ensureOpen()
          rows.foreach { r => bind(ps, r, schema, order); ps.addBatch() }
          val missed = ps.executeBatch().count(_ == 0)
          if (!versioned && missed > 0)
            throw new SQLException(s"upsert: $missed of ${rows.size} rows touched no row")
          conn.commit()
          done = true
        } catch {
          case e: Throwable =>
            drop()
            if (attempt >= maxBatchAttempts) throw e
            Thread.sleep(50L * attempt) // linear backoff widens the race exit
        }
      }
    }
    def close(): Unit = drop() // rollback no-ops after the last commit
  }

  /** `sql` with a comment unique to one writer, so no two connections
    * execute one compiled plan. Derby compiles one plan per statement
    * text and shares it between connections, and its MERGE plan is not
    * safe to run on two at once. In a stress run of 8 writers per fresh
    * table, one shared text hit NullPointerExceptions inside Derby's MERGE
    * (its matching clause's `_actionRS`, the insert's `baseCC`) 6 to 7
    * times per 300 tables, lost a row with every update count 1, and
    * twice did not finish 600 tables in 300 s; a text per writer ran
    * 1,800 tables clean. */
  private def ownStatement(sql: String): String =
    s"$sql\n-- writer ${java.util.UUID.randomUUID()}"

  /** Execute the upsert. `connections` bounds DB fan-in. Rows within one
    * batch must carry distinct keys (dedupe upstream with
    * [[mergeByKey]]/`dropDuplicates` — same requirement pangres has).
    *
    * Commit granularity is PER BATCH (`batchSize` rows), not per
    * partition: that bounds both the memory held for retry and the work a
    * transient failure can void. A mid-partition crash therefore leaves
    * earlier batches committed — safe because the statement is idempotent
    * per row, so the caller's replay (Spark task retry / streaming
    * micro-batch redelivery) converges to the same final table. */
  def upsert(df: DataFrame, url: String, table: String,
             props: java.util.Properties, keyCols: Seq[String],
             connections: Int = 8, batchSize: Int = 1000,
             dialect: Dialect = Postgres,
             versionCol: Option[String] = None): Unit = {
    val schema = df.schema
    versionCol.foreach { v =>
      require(!keyCols.contains(v),
        s"upsert: versionCol '$v' cannot be a key column")
      require(schema.fieldNames.contains(v),
        s"upsert: versionCol '$v' not in schema ${schema.fieldNames.mkString(",")}")
    }
    val sql = dialect.statement(table, schema, keyCols, versionCol)
    val order = dialect.bindOrder(schema, keyCols, versionCol)
    val (user, pass) = (props.getProperty("user"), props.getProperty("password"))
    df.coalesce(connections).foreachPartition { (rows: Iterator[Row]) =>
      if (rows.nonEmpty) {
        val w = new BatchWriter(url, user, pass, ownStatement(sql), versionCol.isDefined)
        try {
          val buf = new scala.collection.mutable.ArrayBuffer[Row](batchSize)
          rows.foreach { r =>
            buf += r
            if (buf.length == batchSize) { w.flush(buf.toSeq, schema, order); buf.clear() }
          }
          if (buf.nonEmpty) w.flush(buf.toSeq, schema, order)
        } finally w.close()
      }
    }
  }

  /** Deterministic tie-break column: xxhash64 over EVERY column in
    * `cols`. `MapType` (incl. nested inside structs/arrays) is unhashable
    * in Spark's `hash`/`xxhash64` (maps are unordered, so there is no
    * canonical hash), so map-bearing columns are hashed through their
    * `to_json` serialization instead of being excluded — the tie-break
    * therefore covers the FULL row: equal-key/equal-version rows that
    * differ only in a map column now pick a stable winner independent of
    * partition order. (JSON renders map entries in the row's physical
    * entry order, so two maps with equal entries built in different
    * orders hash differently — fine for a tie-break, whose only contract
    * is a deterministic winner for identical input rows across
    * retries/repartitionings.) */
  def contentHash(schema: StructType, cols: Seq[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    def hashable(dt: DataType): Boolean = dt match {
      case _: MapType      => false
      case s: StructType   => s.fields.forall(f => hashable(f.dataType))
      case a: ArrayType    => hashable(a.elementType)
      case _               => true
    }
    val hs = cols.map { c =>
      if (hashable(schema(c).dataType)) col(c) else to_json(col(c))
    }
    if (hs.isEmpty) lit(0L) else xxhash64(hs: _*)
  }

  /** Lake-side upsert equivalent (SURVEY §7.4 option (c)): merge a delta
    * batch into an existing snapshot keeping the newest row per key —
    * what `dropDuplicates`-on-union gives when `versionCol` orders
    * versions. Version ties resolve in favor of the DELTA row (the
    * reference's `if_row_exists='update'` semantics: an incoming row
    * replaces the stored one); two DELTA rows with an equal key+version
    * tie resolve to the max content hash, so same-batch replays AND
    * equal-version in-batch duplicates are deterministic. Pure
    * DataFrame; no DB. */
  def mergeByKey(existing: DataFrame, delta: DataFrame,
                 keyCols: Seq[String], versionCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(versionCol).desc, col("__src").desc,
        contentHash(existing.schema, existing.columns.toSeq).desc)
    existing.withColumn("__src", lit(0))
      .unionByName(delta.withColumn("__src", lit(1)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__src")
  }
}
