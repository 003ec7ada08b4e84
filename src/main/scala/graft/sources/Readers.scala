package graft.sources

import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Source layer (SURVEY §2.1 S1–S3, S6, S9).
  *
  * The reference reads JDBC with a single partition (no partitionColumn —
  * `extract.py:46-54`), which serializes the whole extract through one
  * task. Every JDBC read here takes partitioning bounds so a 1000-executor
  * cluster fans the scan out; the incremental predicate is pushed into the
  * engine as a real filter (Catalyst forwards it to the JDBC source as a
  * pushed filter — same effect as the reference's hand-interpolated SQL,
  * without string building).
  */
object Readers {

  /** S3: parquet scan, the engine's one parquet reader. Spark infers a
    * parquet schema with a job (`mergeSchemasInParallel` launches one even
    * for a single footer), so every bare `spark.read.parquet` costs a
    * scheduler round trip before any of the read's own work. Here the
    * driver reads the one footer Spark's non-merging inference would
    * read and converts it with Spark's own converter, so the schema, and
    * with it the plan, is the one inference gives, for no job. A path with
    * no data file, or a session that merges parquet schemas, is left to
    * Spark, whose error or merge is then the one raised or done. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] =
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
    else {
      val conf = spark.sessionState.newHadoopConf()
      val files = parquetFiles(conf, new Path(path))
      def named(name: String) = files.find(_.getPath.getName == name)
      named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
        .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
        .orElse(files.find(isData))
        .map(f => ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer(conf, f)),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
    }

  /** The files a parquet read of `path` lists, sorted by path as Spark
    * sorts them before it picks one to infer from: `path` itself if it
    * is a file, else every file below it, hidden (`.`) and `_`-prefixed
    * names skipped except the two summary files and `k=v` partition
    * directories. Empty when `path` does not exist. */
  private def parquetFiles(conf: Configuration, path: Path): Seq[FileStatus] = {
    val fs = path.getFileSystem(conf)
    def listed(name: String) =
      name.startsWith(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE) ||
        name.startsWith(ParquetFileWriter.PARQUET_METADATA_FILE) ||
        !((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
          name.endsWith("._COPYING_"))
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq.filter(c => listed(c.getPath.getName)).flatMap(leaves)
    if (!fs.exists(path)) Nil
    else leaves(fs.getFileStatus(path)).sortBy(_.getPath.toString)
  }

  private def isData(f: FileStatus): Boolean = {
    val name = f.getPath.getName
    name != ParquetFileWriter.PARQUET_COMMON_METADATA_FILE && name != ParquetFileWriter.PARQUET_METADATA_FILE
  }

  private def footer(conf: Configuration, f: FileStatus): ParquetMetadata = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
    try reader.getFooter finally reader.close()
  }

  /** Rows in the parquet files under `path`, summed from their footers'
    * row groups on the driver: no job. */
  def parquetRows(spark: SparkSession, path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    parquetFiles(conf, new Path(path)).filter(isData)
      .map(f => footer(conf, f).getBlocks.asScala.map(_.getRowCount).sum).sum
  }

  /** The parquet snapshot at `path`, or None before the first write. An
    * interrupted [[Writers.parquetReplace]] is undone first
    * ([[Writers.recoverSnapshot]]), so a crash mid-swap never reads as a
    * first run. */
  def snapshot(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Writers.recoverSnapshot(fs, p)
    if (fs.exists(p)) Some(parquet(spark, path)) else None
  }

  /** S9: CSV with header; explicit schema preferred (inference = extra pass). */
  def csv(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.option("header", "true")
    schema.fold(r.option("inferSchema", "true"))(s => r.schema(s)).csv(path)
  }

  /** ORC scan — same pushdown/pruning properties as parquet. */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** JSON lines (or multiline) file. */
  def json(spark: SparkSession, path: String, multiline: Boolean = false): DataFrame =
    spark.read.option("multiline", multiline.toString).json(path)

  /** JSON payload already in memory (API responses, S6). */
  def jsonString(spark: SparkSession, payload: String): DataFrame = {
    import spark.implicits._
    spark.read.json(Seq(payload).toDS())
  }

  /** S1: JDBC table/subquery scan. `partitionOn` = (column, lower, upper,
    * numPartitions) turns the single-task read into a parallel range scan.
    * Reference: single-partition `spark.read.jdbc` (extract.py:46-54). */
  def jdbc(spark: SparkSession, url: String, table: String,
           props: java.util.Properties,
           partitionOn: Option[(String, Long, Long, Int)] = None): DataFrame =
    partitionOn match {
      case Some((col, lo, hi, n)) =>
        spark.read.jdbc(url, table, col, lo, hi, n, props)
      case None =>
        spark.read.jdbc(url, table, props)
    }

  /** S2: incremental day predicate — rows created the day before `ds`.
    * Declarative filter; Catalyst pushes it down to JDBC/parquet. */
  def incremental(df: DataFrame, createdAtCol: String, ds: String): DataFrame =
    df.filter(to_date(col(createdAtCol)) === date_sub(to_date(lit(ds)), 1))
}
