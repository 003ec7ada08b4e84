package graft.core

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem}
import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import graft.sources.LocalFs

/** Session factory for the engine.
  *
  * The reference runs PySpark 3.5.5 on a 3-worker standalone cluster with
  * dynamicAllocation (reference `docker-compose.yml:129-184`,
  * `dags/vcapital_staging/tasks/extract_db.py:18-31`). We target Spark 4.x
  * local mode while keeping every setting meaningful on a real
  * multi-executor cluster:
  *
  *  - AQE on: runtime shuffle-partition coalescing + skew-join splitting are
  *    what make a fixed `shuffle.partitions` safe at 1000x the data.
  *  - shuffle.partitions = cores locally; on a cluster this is overridden by
  *    AQE's coalescing (initialPartitionNum stays high).
  *  - UTC session TZ so timestamp semantics match the reference's
  *    `timestamp without time zone` columns and the DuckDB oracle.
  *  - every `graft_*` kernel is injected into the function registry
  *    once, here ([[graft.expressions.GraftExtensions]]).
  *  - codegen class cache = [[CodegenCacheEntries]]. Spark's default of
  *    100 entries is smaller than one pass of the engine's plans, so the
  *    LRU cache evicted every class before its reuse and each repeated
  *    pass recompiled from scratch (a warm corpus_dedup op compiled ~265
  *    classes, ~3.4 s of Janino time). Measured distinct working sets:
  *    ~270 classes for the dedup gates x13+x14+x8 run together, ~226 for
  *    one overwrite VcPipeline run with its checks, at most ~190 for any
  *    single Bench gate (cur5 at sf0.01), and ~1,400 for all 142 gates.
  *    1024 holds every repeated unit about 4x over, while a full Bench
  *    run still evicts, so class metadata stays bounded (+10 MB of
  *    metaspace over the default on the 142-gate pass). A static conf:
  *    it only takes effect when set before the JVM's first compile.
  *  - `file:` is [[graft.sources.LocalFs]]: Hadoop's checksummed local
  *    filesystem with permissions set in-process. The stock one forks
  *    `chmod` for every file and directory a parquet write creates
  *    (~100 per overwrite VcPipeline run). Hadoop caches a
  *    filesystem per scheme and user, not per conf, so this too holds
  *    only for a filesystem first opened after the setting.
  *  - both JVM-wide settings above are checked once, at the JVM's first
  *    session: a codegen cache or a cached `file:` filesystem that
  *    predates it throws, naming the cause.
  *  - WindowExec's "No Partition Defined" warning is silenced: the
  *    engine's global windows run on deliberately small inputs, and the
  *    warning drowned every other WARN line of a pipeline run.
  *
  * Every session in the engine, its mains, tools and specs is built here;
  * callers add only their own settings on the returned builder.
  */
object GraftSession extends Logging {
  /** Task slots: SPARK_GRAFT_CPUS, else the machine's cores. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  /** Entries of Spark's generated-class cache (`spark.sql.codegen.cache.maxEntries`). */
  val CodegenCacheEntries = 1024

  /** `local[cpus]` with `cpus` shuffle partitions and the engine defaults. */
  def builder(cpus: Int = GraftSession.cpus.toInt): SparkSession.Builder = {
    quietGlobalWindows()
    new SparkSession.Builder {
      override def getOrCreate(): SparkSession = checkJvmSettings(super.getOrCreate())
    }
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS); Spark reads it as long
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.hadoop.fs.file.impl", classOf[LocalFs].getName)
      .withExtensions(new graft.expressions.GraftExtensions)
  }

  @volatile private var jvmSettingsChecked = false

  /** `spark`, once the JVM-wide settings of [[builder]] are known to hold:
    * checked once per JVM, at its first session, and throws
    * `IllegalStateException` naming each miss. */
  private def checkJvmSettings(spark: SparkSession): SparkSession = {
    if (!jvmSettingsChecked) synchronized {
      if (!jvmSettingsChecked) {
        val misses = localFsMiss(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)) ++
          codegenCacheMiss(codegenCacheEntries())
        if (misses.nonEmpty) throw new IllegalStateException(misses.mkString("; "))
        jvmSettingsChecked = true
      }
    }
    spark
  }

  /** Why `fs`, the JVM's cached `file:` filesystem, is not the engine's. */
  private[graft] def localFsMiss(fs: FileSystem): Option[String] = {
    val raw = fs match {
      case local: LocalFileSystem => local.getRawFileSystem
      case other => other
    }
    if (raw.isInstanceOf[LocalFs.Raw]) None
    else Some(s"the cached file: filesystem is ${raw.getClass.getName}, not ${classOf[LocalFs.Raw].getName}: " +
      "Hadoop caches a filesystem per scheme and user, not per conf, so a local filesystem " +
      "opened before the JVM's first GraftSession keeps forking chmod for every file a write " +
      "creates; build the session before any Hadoop FileSystem use")
  }

  /** Why a generated-class cache of `entries` is not the engine's. */
  private[graft] def codegenCacheMiss(entries: Long): Option[String] =
    if (entries == CodegenCacheEntries) None
    else Some(s"Spark's generated-class cache holds $entries entries, not $CodegenCacheEntries: " +
      "CodeGenerator sizes its cache once, when it first loads, and it loaded before the JVM's " +
      "first GraftSession, so every warm pass recompiles; build the session before any codegen")

  /** The live bound of Spark's generated-class cache (private in
    * `CodeGenerator`; a Guava cache's `maxWeight` is its maximum size).
    * Loads `CodeGenerator` if nothing has, which sizes the cache from the
    * active session. */
  private[graft] def codegenCacheEntries(): Long = {
    def field(owner: AnyRef, name: String): AnyRef = {
      val f = Iterator.iterate[Class[_]](owner.getClass)(_.getSuperclass)
        .takeWhile(_ != null).flatMap(_.getDeclaredFields).find(_.getName == name)
        .getOrElse(throw new NoSuchFieldException(s"${owner.getClass.getName}.$name"))
      f.setAccessible(true)
      f.get(owner)
    }
    // CodeGenerator.cache wraps the Guava cache in Spark's NonFateSharingCache
    Seq("cache", "cache", "localCache", "maxWeight").foldLeft(CodeGenerator: AnyRef)(field)
      .asInstanceOf[Long]
  }

  private def quietGlobalWindows(): Unit = {
    // Spark's first log call loads its default log4j configuration when
    // none was given, which drops any level set before it
    initializeLogIfNecessary(isInterpreter = false)
    Configurator.setLevel("org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
  }

  /** Get-or-create with engine defaults. */
  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** S3A object-store settings for an S3-compatible endpoint (MinIO,
    * Ceph, AWS) — the engine's equivalent of the reference wiring
    * hadoop-aws onto its session (reference
    * `dags/vcapital_staging/tasks/extract_db.py:18-31`: endpoint +
    * access/secret key + path-style access + SSL toggle). Credentials
    * should come from the caller's secret store, never source.
    *
    * Pure configuration: paths like `s3a://bucket/…` then work in every
    * reader/writer in [[graft.sources.Readers]]/`Writers` unchanged,
    * provided the hadoop-aws + aws-sdk jars are on the cluster
    * classpath (they ship with most managed Spark distributions; they
    * are not in this repo's test environment, so coverage here is a
    * conf-landing unit test, not a live read). */
  def s3aConf(endpoint: String, accessKey: String, secretKey: String,
              pathStyleAccess: Boolean = true,
              sslEnabled: Boolean = false): Map[String, String] = Map(
    "fs.s3a.endpoint"                -> endpoint,
    "fs.s3a.access.key"              -> accessKey,
    "fs.s3a.secret.key"              -> secretKey,
    "fs.s3a.path.style.access"       -> pathStyleAccess.toString,
    "fs.s3a.connection.ssl.enabled"  -> sslEnabled.toString,
    "fs.s3a.impl" -> "org.apache.hadoop.fs.s3a.S3AFileSystem")

  /** Apply filesystem conf onto a live session's Hadoop configuration
    * (session-wide: affects every subsequent read/write). */
  def withHadoopConf(spark: SparkSession, conf: Map[String, String]): SparkSession = {
    conf.foreach { case (k, v) => spark.sparkContext.hadoopConfiguration.set(k, v) }
    spark
  }
}
