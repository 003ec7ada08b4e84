package graft

import java.sql.DriverManager
import java.util.Properties
import org.apache.spark.sql.functions._
import graft.sources.{JdbcUpsert, Readers, Writers}

/** Live JDBC integration against embedded Derby (ships with Spark):
  * S5 append sink round-trips through S1 scans, plain and partitioned;
  * S7 keyed upsert drives the real `foreachPartition` execute path via
  * the MERGE dialect (Derby has no ON CONFLICT, but the SQL:2003 MERGE
  * it does accept shares the identical connection/batch/commit code —
  * only the statement text differs, which SourcesSpec shape-tests for
  * the Postgres form). */
class JdbcSpec extends SparkSpec {
  import spark.implicits._

  // Unique in-memory DB per suite instantiation: repeated `sbt test`
  // invocations inside one sbt session (and any future parallel suite)
  // each get a fresh embedded engine instead of sharing `graftdb` state.
  private val url = {
    val id = java.util.UUID.randomUUID().toString.take(8)
    s"jdbc:derby:memory:graftdb_$id;create=true"
  }
  private lazy val props = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    p
  }

  test("jdbc append + read round-trip (plain and partitioned scan)") {
    val conn = DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        "CREATE TABLE companies (id BIGINT, name VARCHAR(64), bal DECIMAL(18,2))")
    } finally conn.close()

    val df = (1L to 100L).map(i => (i, s"company_$i", BigDecimal(i * 10, 2)))
      .toDF("id", "name", "bal")
      .select($"id", $"name", $"bal".cast("decimal(18,2)").as("bal"))
    Writers.jdbcAppend(df, url, "companies", props, connections = 2)

    val plain = Readers.jdbc(spark, url, "companies", props)
    assert(plain.count() == 100)
    assert(plain.filter($"id" === 42L).select("name").collect()(0).getString(0) == "company_42")

    // partitioned range scan: 4 concurrent range predicates
    val parts = Readers.jdbc(spark, url, "companies", props,
      partitionOn = Some(("id", 1L, 100L, 4)))
    assert(parts.rdd.getNumPartitions == 4)
    assert(parts.count() == 100)
    assert(parts.agg(sum($"bal")).collect()(0).getDecimal(0) ==
      plain.agg(sum($"bal")).collect()(0).getDecimal(0))
  }

  test("live keyed upsert (MERGE dialect): insert + update through the real execute path") {
    val conn = DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        "CREATE TABLE milestones (id BIGINT PRIMARY KEY, name VARCHAR(64), amount DECIMAL(18,2))")
    } finally conn.close()

    def batch(ids: Range, tag: String) = ids.map(i =>
      (i.toLong, s"${tag}_$i", BigDecimal(i * 100, 2)))
      .toDF("id", "name", "amount")
      .select($"id", $"name", $"amount".cast("decimal(18,2)").as("amount"))

    // seed: 60 fresh keys -> all rows take the NOT MATCHED (insert) arm;
    // batchSize=16 forces multiple executeBatch flushes per partition
    JdbcUpsert.upsert(batch(1 to 60, "v1"), url, "milestones", props,
      keyCols = Seq("id"), connections = 2, batchSize = 16,
      dialect = JdbcUpsert.Merge)
    // delta: 31..90 -> 30 updates (MATCHED arm) + 30 inserts, same call
    JdbcUpsert.upsert(batch(31 to 90, "v2"), url, "milestones", props,
      keyCols = Seq("id"), connections = 2, batchSize = 16,
      dialect = JdbcUpsert.Merge)

    val back = Readers.jdbc(spark, url, "milestones", props)
    assert(back.count() == 90)                       // PK held: no dup inserts
    def nameOf(id: Long) =
      back.filter($"ID" === id).select("NAME").collect()(0).getString(0)
    assert(nameOf(10L) == "v1_10")                   // untouched by delta
    assert(nameOf(40L) == "v2_40")                   // overlapping key updated
    assert(nameOf(90L) == "v2_90")                   // new key inserted
    assert(back.filter($"NAME".startsWith("v2_")).count() == 60)
  }

  test("two-connection MERGE upserts lose no row, 20 times over on fresh tables") {
    // a statement that touched no row used to commit as a success; it now
    // fails its batch, which retries on a fresh connection
    def batch(ids: Range, tag: String) = ids.map(i => (i.toLong, s"${tag}_$i"))
      .toDF("id", "name")
    val counts = (1 to 20).map { i =>
      val table = s"upsert_rep_$i"
      val conn = DriverManager.getConnection(url)
      try conn.createStatement().execute(s"CREATE TABLE $table (id BIGINT PRIMARY KEY, name VARCHAR(64))")
      finally conn.close()
      JdbcUpsert.upsert(batch(1 to 60, "v1"), url, table, props,
        keyCols = Seq("id"), connections = 2, batchSize = 16, dialect = JdbcUpsert.Merge)
      JdbcUpsert.upsert(batch(31 to 90, "v2"), url, table, props,
        keyCols = Seq("id"), connections = 2, batchSize = 16, dialect = JdbcUpsert.Merge)
      Readers.jdbc(spark, url, table, props).count()
    }
    assert(counts.forall(_ == 90), s"rows per repeat: ${counts.mkString(", ")}")
  }

  test("version-guarded upsert keeps the newer row when an older one arrives late") {
    val conn = DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        "CREATE TABLE versioned (id BIGINT PRIMARY KEY, ver BIGINT, name VARCHAR(64))")
    } finally conn.close()
    def put(ver: Long, name: String): Unit =
      JdbcUpsert.upsert(Seq((1L, ver, name)).toDF("id", "ver", "name"),
        url, "versioned", props, keyCols = Seq("id"),
        dialect = JdbcUpsert.Merge, versionCol = Some("ver"))
    put(5L, "v5")
    put(3L, "v3-late")   // stale: guard must reject
    put(5L, "v5")        // equal version: idempotent no-op
    put(7L, "v7")        // newer: wins
    val back = Readers.jdbc(spark, url, "versioned", props).collect()
    assert(back.length == 1)
    assert(back(0).getAs[Long]("VER") == 7L && back(0).getAs[String]("NAME") == "v7",
      s"got ${back(0)}")
  }

  test("streaming jdbc upsert sink converges to newest version per key (live Derby MERGE)") {
    val conn = DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        "CREATE TABLE user_latest (user_id BIGINT PRIMARY KEY, event_id BIGINT, event_type VARCHAR(64))")
    } finally conn.close()
    val dir = "/root/testdata/sf0.001"
    // many files -> several micro-batches; file order is NOT
    // version-monotone, which is exactly what the guard must absorb
    val src = TestDirs.fresh("ev_jdbc")
    graft.Tables.events(spark, dir).repartition(9).write.mode("overwrite").parquet(src)
    val ckpt = TestDirs.fresh("ckpt_jdbc")
    val q = graft.streaming.EventsStream.jdbcUpsertSink(
      graft.streaming.EventsStream.readEvents(spark, src)
        .select($"user_id", $"event_id", $"event_type"),
      keyCols = Seq("user_id"), versionCol = "event_id",
      url = url, table = "user_latest", props = props, checkpointDir = ckpt,
      dialect = JdbcUpsert.Merge, connections = 2)
    q.awaitTermination()
    assert(q.recentProgress.length > 1, "expected multiple micro-batches")
    val got = Readers.jdbc(spark, url, "user_latest", props)
      .select($"USER_ID", $"EVENT_ID", $"EVENT_TYPE")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val want = {
      import org.apache.spark.sql.expressions.Window
      graft.Tables.events(spark, dir)
        .withColumn("__rn", row_number().over(
          Window.partitionBy($"user_id").orderBy($"event_id".desc)))
        .filter($"__rn" === 1)
        .select($"user_id", $"event_id", $"event_type")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    }
    assert(got.nonEmpty && got == want,
      s"|got|=${got.size} |want|=${want.size} diff=${(want diff got).take(3)}")
  }

  test("live Postgres-dialect upsert: ON CONFLICT executes for real (DuckDB)") {
    // DuckDB accepts PostgreSQL's exact `INSERT … ON CONFLICT (pk)
    // DO UPDATE SET … = EXCLUDED.…` grammar (incl. the `AS t` target
    // alias and the version-guard WHERE) — so the dialect arm that was
    // previously statement-shape-tested now drives the REAL
    // foreachPartition/prepare/batch/commit path end to end.
    val dbFile = TestDirs.fresh("duck") + "/pg.duckdb"
    val duckUrl = s"jdbc:duckdb:$dbFile"
    Class.forName("org.duckdb.DuckDBDriver")
    // PIN one connection for the whole test: in-process duckdb attaches
    // every same-path connection to the live instance, so the sequential
    // upsert connections below never cycle the instance through
    // close-checkpoint-reopen (observed flaky under parallel-suite load:
    // a later reader occasionally missed the prior connection's commits)
    val pin = DriverManager.getConnection(duckUrl)
    try {
    pin.createStatement().execute(
      "CREATE TABLE milestones_pg (id BIGINT PRIMARY KEY, name VARCHAR, amount DOUBLE)")

    def batch(ids: Range, tag: String) = ids.map(i =>
      (i.toLong, s"${tag}_$i", i * 100.0)).toDF("id", "name", "amount")

    // seed: all-insert; delta overlaps -> 30 DO UPDATE + 30 insert.
    // batchSize=16 forces multiple executeBatch flushes; DuckDB file DBs
    // take a single writer, so fan-in stays at 1 connection (the
    // dialect/execute seam is identical at any connection count)
    JdbcUpsert.upsert(batch(1 to 60, "v1"), duckUrl, "milestones_pg", props,
      keyCols = Seq("id"), connections = 1, batchSize = 16,
      dialect = JdbcUpsert.Postgres)
    JdbcUpsert.upsert(batch(31 to 90, "v2"), duckUrl, "milestones_pg", props,
      keyCols = Seq("id"), connections = 1, batchSize = 16,
      dialect = JdbcUpsert.Postgres)
    // version-guarded arm: stale row must be rejected by the WHERE guard
    JdbcUpsert.upsert(Seq((40L, "stale", -1.0)).toDF("id", "name", "amount"),
      duckUrl, "milestones_pg", props, keyCols = Seq("id"),
      connections = 1, dialect = JdbcUpsert.Postgres, versionCol = Some("amount"))
    JdbcUpsert.upsert(Seq((40L, "newer", 99999.0)).toDF("id", "name", "amount"),
      duckUrl, "milestones_pg", props, keyCols = Seq("id"),
      connections = 1, dialect = JdbcUpsert.Postgres, versionCol = Some("amount"))

    val st = pin.createStatement()
    val n = st.executeQuery("SELECT count(*) FROM milestones_pg")
    n.next(); assert(n.getLong(1) == 90, "PK held: no dup inserts")
    def nameOf(id: Long) = {
      val rs = st.executeQuery(s"SELECT name FROM milestones_pg WHERE id = $id")
      rs.next(); rs.getString(1)
    }
    assert(nameOf(10L) == "v1_10")   // untouched by delta
    assert(nameOf(50L) == "v2_50")   // DO UPDATE arm fired
    assert(nameOf(90L) == "v2_90")   // insert arm fired
    assert(nameOf(40L) == "newer")   // guard: stale rejected, newer won
    // 60 v2 rows landed, minus id 40 which the guarded arm replaced
    val v2 = st.executeQuery(
      "SELECT count(*) FROM milestones_pg WHERE name LIKE 'v2_%'")
    v2.next(); assert(v2.getLong(1) == 59)
    } finally pin.close()
  }

  test("streaming sink through the Postgres dialect converges live (DuckDB)") {
    // completes the matrix: the streaming upsert sink previously ran
    // live only through Derby MERGE; this drives the same multi-batch
    // convergence through the ON CONFLICT arm. connections=1: duckdb
    // file databases take a single writer
    val dbFile = TestDirs.fresh("duck_s") + "/s.duckdb"
    val duckUrl = s"jdbc:duckdb:$dbFile"
    Class.forName("org.duckdb.DuckDBDriver")
    val pin = DriverManager.getConnection(duckUrl)
    try {
      pin.createStatement().execute(
        "CREATE TABLE user_latest_pg (user_id BIGINT PRIMARY KEY, event_id BIGINT, event_type VARCHAR)")
      val dir = "/root/testdata/sf0.001"
      val src = TestDirs.fresh("ev_pg")
      graft.Tables.events(spark, dir).repartition(9).write.mode("overwrite").parquet(src)
      val ckpt = TestDirs.fresh("ckpt_pg")
      val q = graft.streaming.EventsStream.jdbcUpsertSink(
        graft.streaming.EventsStream.readEvents(spark, src)
          .select($"user_id", $"event_id", $"event_type"),
        keyCols = Seq("user_id"), versionCol = "event_id",
        url = duckUrl, table = "user_latest_pg", props = props, checkpointDir = ckpt,
        dialect = JdbcUpsert.Postgres, connections = 1)
      q.awaitTermination()
      assert(q.recentProgress.length > 1, "expected multiple micro-batches")
      val st = pin.createStatement()
      val rs = st.executeQuery("SELECT user_id, event_id, event_type FROM user_latest_pg")
      val got = Iterator.continually(rs)
        .takeWhile(_.next()).map(r => (r.getLong(1), r.getLong(2), r.getString(3))).toSet
      val want = {
        import org.apache.spark.sql.expressions.Window
        graft.Tables.events(spark, dir)
          .withColumn("__rn", row_number().over(
            Window.partitionBy($"user_id").orderBy($"event_id".desc)))
          .filter($"__rn" === 1)
          .select($"user_id", $"event_id", $"event_type")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      }
      assert(got.nonEmpty && got == want,
        s"|got|=${got.size} |want|=${want.size} diff=${(want diff got).take(3)}")
    } finally pin.close()
  }

  test("jdbc sink: equal-version in-batch duplicates converge deterministically") {
    val conn = DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        "CREATE TABLE tie_latest (user_id BIGINT PRIMARY KEY, event_id BIGINT, event_type VARCHAR(64))")
    } finally conn.close()
    val rows = Seq((1L, 10L, "payload_a"), (1L, 10L, "payload_b"))
    val schema = rows.toDF("user_id", "event_id", "event_type").schema
    val expected = {
      val df = rows.toDF("user_id", "event_id", "event_type")
      val hs = df.withColumn("__h", JdbcUpsert.contentHash(schema,
        Seq("user_id", "event_id", "event_type")))
        .collect().map(r => (r.getString(2), r.getLong(3))).toMap
      if (hs("payload_a") > hs("payload_b")) "payload_a" else "payload_b"
    }
    val winners = (1 to 3).map { i =>
      val conn2 = DriverManager.getConnection(url)
      try conn2.createStatement().execute("DELETE FROM tie_latest")
      finally conn2.close()
      val src = TestDirs.fresh(s"jtie_src$i")
      // vary physical order per run; the converged row must not move
      rows.toDF("user_id", "event_id", "event_type")
        .repartition(i).write.mode("overwrite").parquet(src)
      val ckpt = TestDirs.fresh(s"jtie_ckpt$i")
      val q = graft.streaming.EventsStream.jdbcUpsertSink(
        spark.readStream.schema(schema).parquet(src),
        keyCols = Seq("user_id"), versionCol = "event_id",
        url = url, table = "tie_latest", props = props, checkpointDir = ckpt,
        dialect = JdbcUpsert.Merge, connections = 2)
      q.awaitTermination()
      val back = Readers.jdbc(spark, url, "tie_latest", props).collect()
      assert(back.length == 1, "duplicate keys must collapse before the upsert")
      back(0).getAs[String]("EVENT_TYPE")
    }
    assert(winners.forall(_ == expected),
      s"expected stable winner $expected, got $winners")
  }

  test("merge and postgres dialects bind the same number of placeholders") {
    val schema = batchSchema
    val pg = JdbcUpsert.Postgres
    val mg = JdbcUpsert.Merge
    val pgSql = pg.statement("t", schema, Seq("id"), None)
    val mgSql = mg.statement("t", schema, Seq("id"), None)
    assert(pgSql.count(_ == '?') == pg.bindOrder(schema, Seq("id"), None).length)
    assert(mgSql.count(_ == '?') == mg.bindOrder(schema, Seq("id"), None).length)
    // merge binds keys (ON), non-keys (SET), then every column (VALUES)
    assert(mg.bindOrder(schema, Seq("id"), None) == Seq(0, 1, 2, 0, 1, 2))
  }

  private def batchSchema =
    Seq((1L, "a", BigDecimal(1))).toDF("id", "name", "amount").schema

  test("an interrupted retry backoff surfaces the attempt's SQL error and keeps the flag") {
    // no driver answers this url, so every attempt fails in
    // getConnection before any database is touched
    val w = new JdbcUpsert.BatchWriter("jdbc:graft-no-driver:db", null, null,
      "INSERT INTO t VALUES (?)", versioned = false)
    var flagKept = false
    Thread.currentThread().interrupt()
    val err =
      try intercept[Throwable](w.flush(Seq(org.apache.spark.sql.Row(1L, "a", BigDecimal(1))),
        batchSchema, Seq(0)))
      finally flagKept = Thread.interrupted() // and clears it for the next test
    assert(flagKept, "the interrupt flag was cleared")
    assert(err.isInstanceOf[java.sql.SQLException], s"not the attempt's error: $err")
    assert(err.getSuppressed.exists(_.isInstanceOf[InterruptedException]),
      s"the interrupt is not suppressed on it: ${err.getSuppressed.toSeq}")
    w.close()
  }

  test("jdbc subquery pushdown (derived-table scan, reference S1 shape)") {
    val sub = Readers.jdbc(spark, url,
      "(SELECT id, name FROM companies WHERE id <= 10) data", props)
    assert(sub.count() == 10)
    assert(sub.columns.toSeq == Seq("ID", "NAME"))
  }
}
