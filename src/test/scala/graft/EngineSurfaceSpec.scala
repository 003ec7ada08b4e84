package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the engine's one-of-each surfaces: every main, tool and spec
  * builds its session through [[graft.core.GraftSession.builder]], so no
  * other main source may call Spark's session builder itself; every
  * custom function is injected by the one registry; every MinHash
  * signature frame is built through the one aggregate site; every
  * global running sum goes through the one ranged construction; every
  * snapshot is replaced through the one swap and merged through the one
  * newest-per-key merge; every parquet read takes its schema from one
  * footer through the one reader; every parquet write goes through the
  * one writer, which alone states the store layout; a pipeline stage
  * learns it is empty from its own write, its one emptiness rule; every scratch directory,
  * specs' included, comes from the one cleaned-up factory; the codegen class cache is sized in
  * the session factory only, and so is the local filesystem; parquet
  * footers are read in Readers only, with the caller's conf; edit
  * distance has one kernel; driver work
  * runs concurrently only through core/Overlap; and the only
  * hand-written partition loops are the codec decoders. */
class EngineSurfaceSpec extends AnyFunSuite {
  private def mainSources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"missing $root")
    Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
  }

  test("only core/GraftSession.scala calls Spark's session builder") {
    val factory = Paths.get("src/main/scala/graft/core/GraftSession.scala")
    val builder = raw"SparkSession\s*\.\s*[bB]uilder\b".r
    def builds(p: Path) = builder.findFirstIn(Files.readString(p)).isDefined
    assert(builds(factory), s"$factory no longer builds the session")
    val offenders = mainSources.filter(p => p != factory && builds(p)).map(_.toString).sorted
    assert(offenders.isEmpty,
      s"build sessions through GraftSession.builder instead: ${offenders.mkString(", ")}")
  }

  test("functions are registered only by GraftExtensions, at session build") {
    def sitesOf(word: String) = mainSources.flatMap(p =>
      Seq.fill(word.r.findAllIn(Files.readString(p)).length)(p.toString))
    val perUse = sitesOf("createOrReplaceTempFunction")
    assert(perUse.isEmpty,
      s"add the function to GraftExtensions instead: ${perUse.distinct.sorted.mkString(", ")}")
    val injecting = sitesOf("injectFunction").distinct
    assert(injecting == Seq("src/main/scala/graft/expressions/GraftExtensions.scala"),
      s"injectFunction outside GraftExtensions: ${injecting.sorted.mkString(", ")}")
  }

  test("the MinHash signature aggregate is constructed at exactly one site") {
    val ctor = raw"new\s+MinhashArrayAgg\b".r
    val sites = mainSources.flatMap(p =>
      Seq.fill(ctor.findAllIn(Files.readString(p)).length)(p.toString))
    assert(sites.size == 1,
      s"build signatures through Dedup.minhashAgg: ${sites.size} sites in ${sites.distinct.sorted.mkString(", ")}")
    // and one signature frame calls it: every other frame selects from
    // Dedup.sigGramsFrame
    val calls = mainSources.flatMap(p =>
      Seq.fill(raw"(?<!def )\bminhashAgg\(".r.findAllIn(Files.readString(p)).length)(p.toString))
    assert(calls == Seq("src/main/scala/graft/operators/Dedup.scala"),
      s"build signature frames through Dedup.sigGramsFrame: ${calls.size} minhashAgg calls in " +
        calls.distinct.sorted.mkString(", "))
  }

  // code lines only — a comment citing the API is not a site
  private def isCode(line: String): Boolean = {
    val t = line.trim
    !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*"))
  }

  private def codeLines(word: String): Seq[(String, String)] = mainSources.flatMap { p =>
    Files.readAllLines(p).asScala.toSeq.filter(line => line.contains(word) && isCode(line))
      .map(p.toString -> _)
  }.sortBy(_._1)

  private def codeSites(word: String): Seq[String] = codeLines(word).map(_._1)

  test("one ranged running sum: spark_partition_id at 1 code site, repartitionByRange at 2") {
    val warehouse = "src/main/scala/graft/operators/Warehouse.scala"
    val pid = codeSites("spark_partition_id")
    assert(pid == Seq(warehouse),
      s"build per-partition offsets through Warehouse.rangedRunningSum: ${pid.mkString(", ")}")
    // the other range exchange is Clustering's contract-marked
    // single-consumer write (RangeExchangeAuditSpec)
    val ranged = codeSites("repartitionByRange")
    assert(ranged == Seq("src/main/scala/graft/operators/Clustering.scala", warehouse),
      s"range-partition through Warehouse.rangedRunningSum: ${ranged.mkString(", ")}")
  }

  test("one snapshot swap: filesystem renames only in sources/Writers.scala") {
    val sites = codeSites(".rename(").distinct
    assert(sites == Seq("src/main/scala/graft/sources/Writers.scala"),
      s"replace snapshots through Writers.parquetReplace: ${sites.mkString(", ")}")
  }

  test("one newest-per-key merge: contentHash is called only in sources/JdbcUpsert.scala") {
    val sites = codeSites("contentHash(").distinct
    assert(sites == Seq("src/main/scala/graft/sources/JdbcUpsert.scala"),
      s"keep the newest row per key through JdbcUpsert.mergeByKey: ${sites.mkString(", ")}")
  }

  test("one parquet reader: read.parquet( at code lines only in sources/Readers.scala") {
    val sites = codeSites("read.parquet(").distinct
    assert(sites == Seq("src/main/scala/graft/sources/Readers.scala"),
      s"read parquet through Readers.parquet (schema from one footer, no job): ${sites.mkString(", ")}")
  }

  test("one parquet writer: .parquet( writes at code lines only in sources/Writers.scala and Verify.scala") {
    // a call of Spark's `.parquet(` writes when the nearest read or write
    // before it, across the lines of its chain, is a write: EventsStream's
    // readStream and Readers' reads are not sites, nor are the engine's
    // own Readers.parquet/Writers.parquet calls. Verify's result dumps
    // are harness output.
    val access = raw"\b(read|readStream|write|writeStream)\b".r
    def writes(file: String): Boolean = {
      val code = Files.readAllLines(Paths.get(file)).asScala.filter(isCode).mkString("\n")
        .replaceAll(raw"\b[A-Z]\w*\.parquet\(", "")
      raw"\.parquet\(".r.findAllMatchIn(code).exists(m =>
        access.findAllMatchIn(code.take(m.start)).toSeq.lastOption.exists(_.group(1).startsWith("write")))
    }
    val sites = codeSites(".parquet(").distinct.filter(writes)
    assert(sites == Seq("src/main/scala/graft/Verify.scala", "src/main/scala/graft/sources/Writers.scala"),
      s"write parquet through Writers.parquet or Writers.parquetStore: ${sites.mkString(", ")}")
  }

  test("footers are read only in sources/Readers.scala, and every ParquetFileReader.open passes read options") {
    // the one-argument open builds its read options over a new Hadoop
    // Configuration, re-parsing the core-*.xml resources per footer
    val opens = mainSources.flatMap { p =>
      val code = Files.readAllLines(p).asScala.filter(isCode).mkString("\n")
      raw"ParquetFileReader\.open\(".r.findAllMatchIn(code).map { m =>
        // the call's top-level argument count
        var depth = 1
        var commas = 0
        var i = m.end
        while (depth > 0) {
          code(i) match {
            case '(' => depth += 1
            case ')' => depth -= 1
            case ',' if depth == 1 => commas += 1
            case _ =>
          }
          i += 1
        }
        (p.toString, commas + 1)
      }
    }
    assert(opens.map(_._1).distinct == Seq("src/main/scala/graft/sources/Readers.scala"),
      s"read footers through Readers: ${opens.map(_._1).distinct.mkString(", ")}")
    assert(opens.forall(_._2 > 1), s"pass the caller's conf as read options: $opens")
  }

  test("only core/GraftSession.scala sets fs.file.impl") {
    val sites = codeSites("fs.file.impl").distinct
    assert(sites == Seq("src/main/scala/graft/core/GraftSession.scala"),
      s"register the local filesystem in GraftSession.builder only: ${sites.mkString(", ")}")
  }

  test("one store layout: the rebalance hint only in sources/Writers.scala") {
    val sites = codeSites("\"rebalance\"").distinct
    assert(sites == Seq("src/main/scala/graft/sources/Writers.scala"),
      s"write keyed stores through Writers.parquetStore: ${sites.mkString(", ")}")
  }

  test("no isEmpty and no NoSink in src/main/scala/graft/pipeline/") {
    val probes = Seq("isEmpty", "NoSink").flatMap(codeLines)
      .filter(_._1.startsWith("src/main/scala/graft/pipeline/"))
    assert(probes.isEmpty,
      s"a stage is Skipped when its sink publishes 0 rows: ${probes.mkString(", ")}")
  }

  private def filesMentioning(word: String): Seq[String] =
    mainSources.filter(p => Files.readString(p).contains(word)).map(_.toString).sorted

  test("edit distance has one kernel: no call of Spark's levenshtein in main") {
    // x13's DuckDB oracle text (TextQueries.oracle) is the one place the
    // word may appear as a call: it is SQL the oracle runs, not Spark
    val sparkCall = raw"(?i)(?<![\w])levenshtein\s*\(".r
    val calls = mainSources.flatMap { p =>
      val lines = Files.readAllLines(p).asScala.toIndexedSeq
      val oracle =
        if (!p.endsWith("queries/TextQueries.scala")) Range(0, 0)
        else {
          val from = lines.indexWhere(_.contains("val oracle: Map[String, String] = Map("))
          assert(from >= 0, s"$p: the oracle map moved")
          Range(from, lines.indexWhere(_ == "  )", from))
        }
      lines.indices.filter { i =>
        val t = lines(i).trim
        !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) &&
          !oracle.contains(i) && sparkCall.findFirstIn(lines(i)).isDefined
      }.map(i => s"$p:${i + 1}")
    }
    assert(calls.isEmpty,
      s"verify edit distance with graft_levenshtein (EditDistance.column): ${calls.mkString(", ")}")
  }

  test("scratch directories come only from StoreDirs") {
    // StoreDirs.fresh registers each directory for deletion at JVM exit;
    // a raw temp directory elsewhere outlives the run
    val sites = filesMentioning("createTempDirectory")
    assert(sites == Seq("src/main/scala/graft/queries/StoreDirs.scala"),
      s"take scratch dirs from StoreDirs.fresh: ${sites.mkString(", ")}")
  }

  test("spec scratch directories come only from TestDirs") {
    val root = Paths.get("src/test/scala")
    val self = root.resolve("graft/EngineSurfaceSpec.scala")
    val sites = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != self &&
        Files.readString(p).contains("createTempDirectory"))
      .map(_.toString).toSeq.sorted
    assert(sites.isEmpty, s"take spec scratch dirs from TestDirs.fresh: ${sites.mkString(", ")}")
  }

  test("only core/GraftSession.scala sizes the codegen class cache") {
    // a static conf: the first session of the JVM fixes it for good
    val sites = filesMentioning("spark.sql.codegen.cache.maxEntries")
    assert(sites == Seq("src/main/scala/graft/core/GraftSession.scala"),
      s"size the codegen cache in GraftSession only: ${sites.mkString(", ")}")
  }

  test("driver work runs concurrently only through core/Overlap: no hand-rolled pool") {
    // Verify's per-gate timeout pool is the one executor: it interrupts
    // a timed-out gate with task.cancel(true)
    val executors = filesMentioning("Executors.")
    assert(executors == Seq("src/main/scala/graft/Verify.scala"),
      s"run legs and stages through Overlap.task: ${executors.mkString(", ")}")
    val pools = (filesMentioning("newFixedThreadPool") ++ filesMentioning("fromExecutorService")).distinct
    assert(pools.isEmpty, s"run legs and stages through Overlap.task: ${pools.mkString(", ")}")
  }

  test("mapPartitions only in the codec decoders") {
    // every other per-row loop is a codegen'd expression kernel
    val sites = filesMentioning("mapPartitions")
    assert(sites == Seq("src/main/scala/graft/operators/Multimodal.scala"),
      s"express per-row work as a kernel expression: ${sites.mkString(", ")}")
  }
}
