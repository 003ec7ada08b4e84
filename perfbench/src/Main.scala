package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.pipeline.{Pipeline, VcPipeline}

/** Benchmark harness: one workload, one seed, one fresh JVM.
  *
  * Set-up builds the session, prepares the inputs [[SetupRepeats]] times
  * and runs one untimed warm-up op. Then a closed loop with one client
  * (this thread) runs timed ops back to back until `--seconds` have been
  * spent in ops and the workload's fixed number of untraced ops ran (a
  * fixed count keeps every run at the same point of the JVM's warm-up
  * curve), checks each op's output after its timer stops, and writes a
  * result file for `run.py`.
  * With `--trace 1` the timed ops alternate between untraced and traced
  * (listeners attached), and the spans of the traced ones are written too.
  *
  * Input paths are relative to the root of the checkout it runs in.
  */
object Main {

  val SetupRepeats = 3
  val BenchDir = "perfbench"

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, out: String, launchMs: Long, record: Boolean)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      m("work"), m("out"), m.get("launch-ms").map(_.toLong).getOrElse(System.currentTimeMillis()),
      m.getOrElse("record", "0") == "1")
  }

  /** One op's outcome: wall time, failed checks, and the sizes the byte
    * metrics divide. */
  final case class Op(index: Int, traced: Boolean, wallS: Double, failures: Seq[String],
                      sizes: Map[String, Long], checkS: Double)

  trait Workload {
    /** Untraced timed ops every run makes, whatever `--seconds` says. */
    def timedOps: Int
    /** Write the inputs; called [[SetupRepeats]] times, the last one is used. */
    def prepare(): Unit
    /** The timed body of op `i` (`i = 0` is the warm-up). */
    def run(i: Int, tracer: Option[Tracer]): Unit
    /** Untimed checks of op `i`'s output; returns the failed checks. */
    def check(i: Int): Seq[String]
    /** Bytes written and stored by op `i`, with the rows they divide by;
      * empty for a workload without a warehouse. */
    def sizes(i: Int): Map[String, Long] = Map.empty
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = graft.core.GraftSession.builder()
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - a.launchMs) / 1000.0

    val w: Workload = a.workload match {
      case "vc_full_load" => new FullLoad(spark, a)
      case "corpus_dedup" => new CorpusDedup(spark, a)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val prepareS = (1 to SetupRepeats).map(_ => seconds(w.prepare()))
    val warm = runOp(w, 0, None)
    if (a.record) { spark.stop(); return }
    val setupS = sessionS + prepareS.sorted.apply(prepareS.size / 2) + warm.wallS

    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val ops = Vector.newBuilder[Op]
    var spent = 0.0
    var i = 1
    // a traced run alternates untraced and traced ops as U T T U, so both
    // sides sit at the same average point of the warm-up curve
    val minOps = if (a.trace) math.max(2, w.timedOps) else w.timedOps
    def enough(done: Seq[Op]) = spent >= a.seconds && done.count(!_.traced) >= minOps &&
      done.count(_.traced) >= (if (a.trace) done.count(!_.traced) else 0)
    while (!enough(ops.result())) {
      val traced = a.trace && (i % 4 == 2 || i % 4 == 3)
      val op = runOp(w, i, if (traced) tracer else None)
      ops += op
      spent += op.wallS
      i += 1
    }

    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    val peakRssMb = "VmHWM:\\s+(\\d+) kB".r.findFirstMatchIn(status).map(_.group(1).toDouble / 1024).getOrElse(0.0)
    val spansFile = tracer.map { t =>
      val f = s"${new File(a.out).getParent}/spans.json"
      Files.write(Paths.get(f), json.writeValueAsBytes(t.spans()))
      f
    }
    val result = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "stamp" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "task_threads" -> graft.core.GraftSession.cpus,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1L << 20),
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString),
      "setup" -> Map("session_s" -> sessionS, "prepare_s" -> prepareS, "warmup_s" -> warm.wallS,
        "warmup_check_s" -> warm.checkS,
        "warmup_failures" -> warm.failures),
      "setup_s" -> setupS,
      "ops" -> ops.result().map(o => Map("index" -> o.index, "traced" -> o.traced,
        "wall_s" -> o.wallS, "check_s" -> o.checkS, "failures" -> o.failures, "sizes" -> o.sizes)),
      "peak_rss_mb" -> peakRssMb,
      "spans_file" -> spansFile)
    Files.write(Paths.get(a.out), json.writeValueAsBytes(result))
    spark.stop()
  }

  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def runOp(w: Workload, i: Int, tracer: Option[Tracer]): Op = {
    tracer.foreach { t => t.attach(); t.begin("op", s"op-$i") }
    val t0 = System.nanoTime()
    val outcome = Try(w.run(i, tracer))
    val wall = (System.nanoTime() - t0) / 1e9
    tracer.foreach { t => t.end("wall_s" -> wall); t.detach() }
    val c0 = System.nanoTime()
    val failures = outcome match {
      case Failure(e) => Seq(s"op threw: $e")
      case Success(_) => Try(w.check(i)).fold(e => Seq(s"check threw: $e"), identity)
    }
    val sizes = if (failures.isEmpty) w.sizes(i) else Map.empty[String, Long]
    tracer.foreach(_.annotateLastOp(sizes.toSeq: _*))
    Op(i, tracer.isDefined, wall, failures, sizes, (System.nanoTime() - c0) / 1e9)
  }

  /** Bytes and parquet files of every regular file under `dir`. */
  def diskUsage(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val files = s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        (files.map(Files.size).sum, files.count(_.getFileName.toString.endsWith(".parquet")).toLong)
      } finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }
  }

  // ---- vc_full_load ----

  /** One overwrite-mode `VcPipeline.run` over the generated staging into a
    * fresh warehouse dir per op. */
  final class FullLoad(spark: SparkSession, a: Args) extends Workload {
    /** Staging rows relative to the Crunchbase-sized base of [[StagingGen]]. */
    val Scale = 0.05
    val timedOps = 1
    private val sizesAt = StagingGen.sizes(Scale)
    private val staging = s"${a.work}/staging"
    private val expected = StagingGen.expectedRows(sizesAt, StagingGen.Days)
    private var results = Map.empty[String, Pipeline.Result]
    private var firstDigests = Map.empty[String, Digest.Value]
    private var lastDigests = Map.empty[String, Digest.Value]
    private val tables: Seq[String] = expected.keys.toSeq.sorted :+ "data_profile"

    private def warehouse(i: Int) = s"${a.work}/warehouse-$i"

    /** (fact, surrogate key, dim, dim key) pairs that must resolve. */
    private val ForeignKeys = Seq(
      ("fct_investments", "sk_company_id", "dim_company", "sk_company_id"),
      ("fct_investments", "sk_fund_id", "dim_funds", "sk_fund_id"),
      ("fct_ipos", "sk_company_id", "dim_company", "sk_company_id"),
      ("fct_acquisition", "sk_acquiring_company_id", "dim_company", "sk_company_id"),
      ("fct_acquisition", "sk_acquired_company_id", "dim_company", "sk_company_id"),
      ("bridge_company_people", "sk_company_id", "dim_company", "sk_company_id"),
      ("bridge_company_people", "sk_people_id", "dim_people", "sk_people_id"))

    /** Task output bytes of the session so far: every file a task wrote,
      * those renamed or discarded afterwards included. */
    private val written = new java.util.concurrent.atomic.AtomicLong()
    private var writtenBefore = 0L
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) written.addAndGet(e.taskMetrics.outputMetrics.bytesWritten)
    })

    def prepare(): Unit = {
      StagingGen.write(spark, a.seed, sizesAt, staging)
      Tracer.drainListenerBus(spark.sparkContext)
      writtenBefore = written.get()
    }

    def run(i: Int, tracer: Option[Tracer]): Unit =
      results = VcPipeline.run(spark, VcPipeline.Config(staging, warehouse(i)))

    def check(i: Int): Seq[String] = {
      val frames = tables.map(t => t -> spark.read.parquet(s"${warehouse(i)}/$t")).toMap
      val stageFailures = results.collect {
        case (stage, r) if r != Pipeline.Completed() => s"stage $stage is $r, not Completed"
      }
      val digests = Digest.ofAll(tables.map(t => t -> frames(t)))
      val profileRows = Seq("dim_company", "dim_funds", "fct_investments").map(t => frames(t).columns.length.toLong).sum
      val countFailures = (expected + ("data_profile" -> profileRows)).collect {
        case (t, n) if !digests.get(t).exists(_.rows == n) =>
          s"$t has ${digests.get(t).map(_.rows).getOrElse(0L)} rows, generator expects $n"
      }
      val refs = ForeignKeys.map { case (fact, fk, dim, _) =>
        frames(fact).select(col(fk).as("k"), lit(dim).as("dim"), lit(s"$fact.$fk").as("fk"))
      }.reduce(_ union _)
      val keys = ForeignKeys.map { case (_, _, dim, key) => dim -> key }.distinct.map { case (dim, key) =>
        frames(dim).select(col(key).as("k"), lit(dim).as("dim"))
      }.reduce(_ union _)
      val dangling = refs.join(keys, Seq("k", "dim"), "left_anti").groupBy("fk", "dim").count().collect()
      val fkFailures = dangling.map(r => s"${r.getString(0)} has ${r.getLong(2)} keys missing from ${r.getString(1)}")
      lastDigests = digests
      if (i == 0) firstDigests = digests
      val digestFailures = tables.collect {
        case t if digests(t) != firstDigests(t) => s"$t digest ${digests(t)} differs from the first pass's ${firstDigests(t)}"
      }
      (stageFailures ++ countFailures ++ fkFailures ++ digestFailures).toSeq
    }

    /** The op's checks only read, so the task output since the previous
      * call is the op's own. */
    override def sizes(i: Int): Map[String, Long] = {
      Tracer.drainListenerBus(spark.sparkContext)
      val now = written.get()
      val writeBytes = now - writtenBefore
      writtenBefore = now
      val (bytes, files) = diskUsage(warehouse(i))
      deleteTree(warehouse(i))
      Map("write_bytes" -> writeBytes, "rows_in" -> sizesAt.total, "stored_bytes" -> bytes,
        "rows_stored" -> lastDigests.values.map(_.rows).sum, "files_stored" -> files)
    }
  }

  // ---- corpus_dedup ----

  /** One pass over three dedup gates of `SparkEntry.queries`, each forced
    * by its all-column digest. */
  final class CorpusDedup(spark: SparkSession, a: Args) extends Workload {
    /** The gates of a pass, in the order it runs them (metrics.py's GATES). */
    val Gates = Seq("x13_edit_distance", "x14_store_merge_dedup", "x8_dup_clusters_star")
    /** The first pass after the warm-up varies most, so a run times two. */
    val timedOps = 2
    /** The first 1000 documents of the sf0.1 test table. Twice the file is
      * about 4 × `Fanout.SpreadBytesPerTask`, so `Fanout.spread` fans the
      * near-dup corpus out to up to 4 tasks. */
    val Corpus = s"$BenchDir/data/docs1k"
    val Expected = s"$BenchDir/expected/corpus_dedup.tsv"
    private val dir = s"${a.work}/corpus"
    private val expected: Map[String, String] =
      if (a.record) Map.empty
      else scala.io.Source.fromFile(Expected).getLines()
        .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
        .map(_.split("\t")).map(f => f(0) -> f(1)).toMap
    private var digests = Map.empty[String, Digest.Value]

    /** Seed-permuted copy of the canonical documents: same rows, one file.
      * Recording keeps the canonical row order. */
    def prepare(): Unit =
      spark.read.parquet(s"$Corpus/documents.parquet")
        .repartition(1)
        .sortWithinPartitions(if (a.record) col("doc_id") else xxhash64(lit(a.seed), col("doc_id")), col("doc_id"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def run(i: Int, tracer: Option[Tracer]): Unit =
      digests = Gates.map { g =>
        tracer.foreach(_.begin("gate", g))
        val t0 = System.nanoTime()
        val d = Digest.of(graft.SparkEntry.queries(g)(spark, dir))
        System.err.println(f"perfbench: op $i gate $g ${(System.nanoTime() - t0) / 1e9}%.3f s")
        tracer.foreach(_.end())
        g -> d
      }.toMap

    def check(i: Int): Seq[String] = if (a.record) record() else Gates.collect {
      case g if !expected.get(g).contains(digests(g).toString) =>
        s"$g digest ${digests(g)} differs from the expected ${expected.getOrElse(g, "(none)")}"
    }

    /** Record the digests of a pass over the canonical (unpermuted) tables. */
    private def record(): Seq[String] = {
      val header = "# gate\trows:lo:hi digest over the canonical corpus, doubles rounded to " +
        s"${Digest.DoubleDecimals} decimals"
      val lines = header +: Gates.map(g => s"$g\t${digests(g)}")
      Files.write(Paths.get(Expected), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
      println(s"wrote $Expected")
      Nil
    }

  }
}
