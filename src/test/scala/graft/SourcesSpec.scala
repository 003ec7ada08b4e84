package graft

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources._
import graft.tools.WritePlans

/** IO-layer tests: CSV/JSON round-trips, API source against a local HTTP
  * server, upsert statement generation, merge-by-key semantics. */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("csv round-trip preserves schema'd values") {
    val tmp = TestDirs.fresh("csvspec")
    val df = Seq((1L, "a", BigDecimal("10.50")), (2L, "b", BigDecimal("-3.25")))
      .toDF("id", "name", "amount")
      .select(col("id"), col("name"), col("amount").cast("decimal(18,2)").as("amount"))
    Writers.csv(df, s"$tmp/t")
    val back = Readers.csv(spark, s"$tmp/t",
      Some(StructType.fromDDL("id BIGINT, name STRING, amount DECIMAL(18,2)")))
    assert(back.orderBy("id").collect().map(_.toString).toSeq ==
      df.orderBy("id").collect().map(_.toString).toSeq)
  }

  test("orc round-trip preserves values and keeps filter pushdown") {
    val tmp = TestDirs.fresh("orc_spec")
    val in = Seq((1L, "a", BigDecimal(10)), (2L, "b", BigDecimal(-5)))
      .toDF("id", "s", "v").select($"id", $"s", $"v".cast("decimal(18,2)").as("v"))
    Writers.orc(in, s"$tmp/t")
    val back = Readers.orc(spark, s"$tmp/t").filter($"id" === 1L)
    assert(back.collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a")))
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("id"),
      s"ORC scan must push the id filter:\n$plan")
  }

  test("incremental reader filters to ds-1") {
    val df = Seq(("2020-01-01 10:00:00", 1), ("2020-01-02 09:00:00", 2), ("2020-01-03 00:00:00", 3))
      .toDF("created_at", "v")
      .withColumn("created_at", to_timestamp(col("created_at")))
    val got = Readers.incremental(df, "created_at", "2020-01-03").select("v").collect()
    assert(got.map(_.getInt(0)).toSeq == Seq(2))
  }

  test("ApiJsonSource: fetch + parse + newline scrub via local HTTP server") {
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    val payload = """[{"milestone_id":1,"description":"line1\nline2","object_id":"c:1"},
                    | {"milestone_id":2,"description":"plain","object_id":"c:2"}]""".stripMargin
    server.createContext("/api", (ex: HttpExchange) => {
      val q = ex.getRequestURI.getQuery
      val body = if (q != null && q.contains("start_date=2020-01-01")) payload else "[]"
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes); ex.close()
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val df = ApiJsonSource.read(spark, s"http://localhost:$port/api", "2020-01-01", "2020-01-02")
      val rows = df.orderBy("milestone_id").collect()
      assert(rows.length == 2)
      assert(rows(0).getAs[String]("description") == "line1 line2") // \n scrubbed
      assert(rows(1).getAs[String]("description") == "plain")
    } finally server.stop(0)
  }

  test("ApiJsonSource fails on non-200") {
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/bad", (ex: HttpExchange) => {
      ex.sendResponseHeaders(500, -1); ex.close()
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      intercept[IllegalArgumentException] {
        ApiJsonSource.fetch(s"http://localhost:$port/bad", "a", "b")
      }
    } finally server.stop(0)
  }

  test("ApiJsonSource retry: flaky-then-success, backoff schedule, Retry-After honored") {
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    server.createContext("/flaky", (ex: HttpExchange) => {
      val n = hits.incrementAndGet()
      if (n <= 2) { ex.sendResponseHeaders(500, -1); ex.close() }
      else {
        val b = """[{"v":1}]""".getBytes("UTF-8")
        ex.sendResponseHeaders(200, b.length)
        ex.getResponseBody.write(b); ex.close()
      }
    })
    val hits429 = new java.util.concurrent.atomic.AtomicInteger(0)
    server.createContext("/ratelimited", (ex: HttpExchange) => {
      if (hits429.incrementAndGet() == 1) {
        ex.getResponseHeaders.add("Retry-After", "7")
        ex.sendResponseHeaders(429, -1); ex.close()
      } else {
        val b = """[{"v":2}]""".getBytes("UTF-8")
        ex.sendResponseHeaders(200, b.length)
        ex.getResponseBody.write(b); ex.close()
      }
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
      val p = ApiJsonSource.RetryPolicy(maxAttempts = 4,
        initialBackoffMs = 200L, sleeper = sleeps += _)
      val body = ApiJsonSource.fetch(s"http://localhost:$port/flaky", "a", "b", p)
      assert(body.contains("\"v\":1"))
      assert(hits.get() == 3)
      assert(sleeps.toSeq == Seq(200L, 400L)) // exponential schedule
      sleeps.clear()
      val b2 = ApiJsonSource.fetch(s"http://localhost:$port/ratelimited", "a", "b", p)
      assert(b2.contains("\"v\":2"))
      assert(sleeps.toSeq == Seq(7000L)) // Retry-After overrides backoff
    } finally server.stop(0)
  }

  test("ApiJsonSource retry: non-retryable status fails immediately; exhaustion throws") {
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/gone", (ex: HttpExchange) => {
      ex.sendResponseHeaders(404, -1); ex.close()
    })
    server.createContext("/down", (ex: HttpExchange) => {
      ex.sendResponseHeaders(503, -1); ex.close()
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
      val p = ApiJsonSource.RetryPolicy(maxAttempts = 3, sleeper = sleeps += _)
      intercept[IllegalArgumentException] {
        ApiJsonSource.fetch(s"http://localhost:$port/gone", "a", "b", p)
      }
      assert(sleeps.isEmpty, "404 must not be retried")
      val e = intercept[IllegalArgumentException] {
        ApiJsonSource.fetch(s"http://localhost:$port/down", "a", "b", p)
      }
      assert(e.getMessage.contains("after 3 attempts"), e.getMessage)
      assert(sleeps.length == 2) // attempts-1 sleeps, then give up
    } finally server.stop(0)
  }

  test("ApiJsonSource paging: pages until empty array, one schema inference pass") {
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/paged", (ex: HttpExchange) => {
      val q = Option(ex.getRequestURI.getQuery).getOrElse("")
      val page = q.split("&").collectFirst {
        case kv if kv.startsWith("page=") => kv.drop(5).toInt
      }.getOrElse(-1)
      val body = page match {
        case 1 => """[{"milestone_id":1,"description":"a\nb"}]"""
        case 2 => """[{"milestone_id":2,"description":"c"}]"""
        case _ => "[]"
      }
      val b = body.getBytes("UTF-8")
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b); ex.close()
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val df = ApiJsonSource.readPaged(spark, s"http://localhost:$port/paged",
        "2020-01-01", "2020-01-02")
      val rows = df.orderBy("milestone_id").collect()
      assert(rows.length == 2)
      assert(rows(0).getAs[String]("description") == "a b") // scrubbed
      assert(rows(1).getAs[String]("description") == "c")
      // a server that never ends must hit the maxPages guard, not spin
      val e = intercept[IllegalStateException] {
        ApiJsonSource.fetchPaged(s"http://localhost:$port/paged", "a", "b",
          maxPages = 2, isLastPage = _ => false)
      }
      assert(e.getMessage.contains("maxPages"), e.getMessage)
    } finally server.stop(0)
  }

  test("upsert statement shape (pangres ON CONFLICT parity)") {
    val schema = StructType.fromDDL("milestone_id INT, description STRING, updated_at TIMESTAMP")
    val sql = JdbcUpsert.Postgres.statement("staging.milestones", schema, Seq("milestone_id"), None)
    assert(sql.contains("INSERT INTO staging.milestones (milestone_id, description, updated_at)"))
    assert(sql.contains("ON CONFLICT (milestone_id) DO UPDATE SET"))
    assert(sql.contains("description = EXCLUDED.description"))
    assert(!sql.contains("milestone_id = EXCLUDED.milestone_id"))
  }

  test("versioned upsert statement shape (both dialects guard on the version)") {
    val schema = StructType.fromDDL("milestone_id INT, description STRING, updated_at TIMESTAMP")
    val pg = JdbcUpsert.Postgres.statement(
      "staging.milestones", schema, Seq("milestone_id"), Some("updated_at"))
    assert(pg.contains("INSERT INTO staging.milestones AS t"))
    assert(pg.contains("WHERE EXCLUDED.updated_at > t.updated_at"))
    val mg = JdbcUpsert.Merge.statement(
      "milestones", schema, Seq("milestone_id"), Some("updated_at"))
    assert(mg.contains("WHEN MATCHED AND CAST(? AS TIMESTAMP) > t.updated_at THEN UPDATE SET"))
    // bind order: key, version guard, non-keys, then all columns
    assert(JdbcUpsert.Merge.bindOrder(schema, Seq("milestone_id"), Some("updated_at"))
      == Seq(0, 2, 1, 2, 0, 1, 2))
    assert(JdbcUpsert.Postgres.bindOrder(schema, Seq("milestone_id"), Some("updated_at"))
      == Seq(0, 1, 2))
  }

  test("mergeByKey keeps newest version per key") {
    val existing = Seq((1, "old", 10L), (2, "keep", 11L)).toDF("k", "v", "ver")
    val delta = Seq((1, "new", 20L), (3, "ins", 21L)).toDF("k", "v", "ver")
    val got = JdbcUpsert.mergeByKey(existing, delta, Seq("k"), "ver")
      .orderBy("k").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got == Seq((1, "new"), (2, "keep"), (3, "ins")))
  }

  test("partitioned write + dynamic overwrite replaces only touched partitions") {
    val tmp = TestDirs.fresh("partspec")
    val v1 = Seq((1, "a"), (2, "b")).toDF("id", "pt")
    Writers.parquetPartitioned(v1, s"$tmp/t", "pt")
    // overwrite only partition 'a' with new content
    val v2 = Seq((10, "a")).toDF("id", "pt")
    Writers.parquetPartitioned(v2, s"$tmp/t", "pt")
    val got = Readers.parquet(spark, s"$tmp/t").orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got == Seq((2, "b"), (10, "a")).sortBy(_._1))
  }

  test("parquetStore writes through a rebalance exchange on id, parquet through none") {
    val tmp = TestDirs.fresh("write_layout")
    val df = spark.range(1000).selectExpr("id", "id % 7 AS grp")
    // the rebalance keys of the one write into `name`, whose rows read back
    def layoutOf(write: (org.apache.spark.sql.DataFrame, String) => Unit, name: String): Seq[Seq[String]] = {
      val dir = s"$tmp/$name"
      val plans = WritePlans.capture(spark)(write(df, dir))
      assert(plans.size == 1 && plans.head._1.endsWith(s"/$name"), s"one write of $dir: ${plans.map(_._1)}")
      assert(rowsOf(Readers.parquet(spark, dir)) == rowsOf(df))
      WritePlans.rebalanceKeys(plans.head._2)
    }
    assert(layoutOf(Writers.parquetStore, "store") == Seq(Seq("id")))
    assert(layoutOf(Writers.parquet, "plain") == Nil)
  }

  test("compactParquet: 64 fragments -> <= 4 files, rows and values intact") {
    val tmp = TestDirs.fresh("compact_spec")
    val df = spark.range(10000).selectExpr("id", "id % 7 AS grp")
    // a live directory, and one an interrupted swap left only as __old
    def partFiles(dir: String) = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    for ((out, written) <- Seq(s"$tmp/t" -> s"$tmp/t", s"$tmp/u" -> s"$tmp/u__old")) {
      df.repartition(64).write.parquet(written)
      assert(partFiles(written).length > 4, "precondition: fragmented input")
      Writers.compactParquet(spark, out, targetFiles = 4)
      assert(partFiles(out).length <= 4, s"$out: still ${partFiles(out).length} files")
      assert(!new java.io.File(s"${out}__old").exists(), s"$out: __old left behind")
      val got = Readers.parquet(spark, out)
      assert(got.count() == 10000)
      assert(got.agg(sum(col("id"))).first().getLong(0) == 10000L * 9999 / 2)
    }
  }

  test("parquetReplace of a frame reading its own path leaves only the merged snapshot") {
    val tmp = TestDirs.fresh("replace_spec")
    val snap = s"$tmp/snap"
    Seq((1, "old", 10L), (2, "keep", 11L)).toDF("k", "v", "ver").write.parquet(snap)
    // the garbage of an earlier swap that crashed after its rename-in
    Seq((9, "stale", 1L)).toDF("k", "v", "ver").write.parquet(s"${snap}__old")
    val delta = Seq((1, "new", 20L), (3, "ins", 21L)).toDF("k", "v", "ver")
    Writers.parquetReplace(
      JdbcUpsert.mergeByKey(Readers.parquet(spark, snap), delta, Seq("k"), "ver"), snap)
    assert(new java.io.File(tmp).list().toSeq == Seq("snap"))
    val got = Readers.parquet(spark, snap).orderBy("k").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got == Seq((1, "new"), (2, "keep"), (3, "ins")))
  }

  /** Rows of `df` as sorted strings, binary values as their bytes, for
    * order-free comparison. */
  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.mkString("0x", ".", "")
      case v => String.valueOf(v)
    }.mkString(",")).toSeq.sorted

  /** A scan's plan with expression ids masked: ReadSchema, pushed
    * filters and partition columns, as two reads of one path plan them. */
  private def scanPlan(df: org.apache.spark.sql.DataFrame): String =
    df.filter(col("id") > 1).queryExecution.executedPlan.toString.replaceAll("#\\d+", "#N")

  test("Readers.parquet takes its schema from one footer: no job, spark.read.parquet's schema and rows") {
    val tmp = TestDirs.fresh("footer_schema")
    val rows = Seq((1, "a", 1.5), (2, "b", 2.5), (3, null, 3.5), (4, "a", 4.5)).toDF("id", "s", "x")
    rows.coalesce(1).write.parquet(s"$tmp/one")
    val part = new java.io.File(s"$tmp/one").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val single = s"$tmp/single.parquet"
    java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(single))
    rows.repartition(3).write.parquet(s"$tmp/parts")
    assert(new java.io.File(s"$tmp/parts/_SUCCESS").exists(), "precondition: _SUCCESS written")
    rows.write.partitionBy("s").parquet(s"$tmp/partitioned")
    rows.limit(0).write.parquet(s"$tmp/empty")
    // the counter sees the inference job a bare read starts
    assert(jobsOf(spark.read.parquet(s"$tmp/parts"))._2 >= 1, "the listener missed Spark's inference job")
    for (path <- Seq(single, s"$tmp/parts", s"$tmp/partitioned", s"$tmp/empty")) {
      val (got, jobs) = jobsOf(Readers.parquet(spark, path))
      assert(jobs == 0, s"$path: Readers.parquet started $jobs jobs")
      val want = spark.read.parquet(path)
      assert(got.schema == want.schema, path)
      assert(rowsOf(got) == rowsOf(want), path)
      assert(scanPlan(got) == scanPlan(want), path)
    }
    assert(rowsOf(Readers.parquet(spark, s"$tmp/partitioned")).size == 4)
    // a session that merges parquet schemas gets Spark's merge, not one footer
    Seq((5, 9L)).toDF("id", "y").write.mode("append").parquet(s"$tmp/parts")
    val key = "spark.sql.parquet.mergeSchema"
    spark.conf.set(key, "true")
    try {
      val got = Readers.parquet(spark, s"$tmp/parts")
      assert(got.schema == spark.read.parquet(s"$tmp/parts").schema && got.columns.contains("y"), got.schema)
    } finally spark.conf.unset(key)
  }

  test("Readers.parquet follows spark.sql.parquet.binaryAsString for a binary column without a Spark schema") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val dir = s"${TestDirs.fresh("binary_as_string")}/raw"
    // written by parquet itself, so no Spark row schema in the footer
    val schema = MessageTypeParser.parseMessageType("message m { required int32 id; optional binary b; }")
    val conf = spark.sparkContext.hadoopConfiguration
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$dir/part-0.parquet"), conf)).withType(schema).withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try Seq(1 -> "x", 2 -> "y").foreach { case (i, b) => writer.write(groups.newGroup().append("id", i).append("b", b)) }
    finally writer.close()
    val key = "spark.sql.parquet.binaryAsString"
    val prev = spark.conf.getOption(key)
    try for ((asString, typ) <- Seq("true" -> StringType, "false" -> BinaryType)) {
      spark.conf.set(key, asString)
      val (got, jobs) = jobsOf(Readers.parquet(spark, dir))
      val want = spark.read.parquet(dir)
      assert(jobs == 0)
      assert(got.schema == want.schema && got.schema("b").dataType == typ, got.schema)
      assert(rowsOf(got) == rowsOf(want))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("Readers.parquet of a directory with no data file fails as Spark does") {
    val dir = new java.io.File(TestDirs.fresh("no_data_file"), "t")
    assert(dir.mkdirs() && new java.io.File(dir, "_SUCCESS").createNewFile())
    val e = intercept[org.apache.spark.sql.AnalysisException](Readers.parquet(spark, dir.toString))
    assert(e.getMessage.contains("UNABLE_TO_INFER_SCHEMA"), e.getMessage)
  }

  test("zValue matches hand-computed Morton interleave; masks wide inputs") {
    val got = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (65536L + 2L, 1L))
      .toDF("a", "b")
      .select(graft.operators.Clustering.zValue(col("a"), col("b")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // interleave(3=0b11, 5=0b101): a-bits at even positions (1,1,0),
    // b-bits at odd (1,0,1) -> 0b100111 = 39; 65538 masks to 2
    assert(got == Seq(0L, 1L, 2L, 39L, 1L << 2 | 2L), got)
  }

  test("clusteredWrite: per-file zkey intervals are disjoint (data skipping)") {
    val tmp = TestDirs.fresh("zorder_spec")
    val out = s"$tmp/t"
    val df = spark.range(20000).selectExpr(
      "id % 251 AS a", "(id * 7) % 241 AS b")
    graft.operators.Clustering.clusteredWrite(df, out, "a", "b", files = 8)
    val files = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(files.length > 1, "need multiple files to prove disjointness")
    val intervals = files.map { f =>
      val r = Readers.parquet(spark, f.getAbsolutePath)
        .agg(min(col("zkey")), max(col("zkey"))).first()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    intervals.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) =>
        assert(lo2 > hi, s"overlapping file intervals: $hi vs $lo2")
      case _ =>
    }
  }

  test("s3a conf pass-through lands on the session hadoop configuration") {
    graft.core.GraftSession.withHadoopConf(spark,
      graft.core.GraftSession.s3aConf("http://localhost:9000", "ak", "sk"))
    val hc = spark.sparkContext.hadoopConfiguration
    assert(hc.get("fs.s3a.endpoint") == "http://localhost:9000")
    assert(hc.get("fs.s3a.path.style.access") == "true")
    assert(hc.get("fs.s3a.connection.ssl.enabled") == "false")
    assert(hc.get("fs.s3a.impl") == "org.apache.hadoop.fs.s3a.S3AFileSystem")
  }
}
