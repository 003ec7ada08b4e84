package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
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

  /** S3: parquet scan. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** The parquet snapshot at `path`, or None before the first write. An
    * interrupted [[Writers.parquetReplace]] is undone first
    * ([[Writers.recoverSnapshot]]), so a crash mid-swap never reads as a
    * first run. */
  def snapshot(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
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
