package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col

/** Sink layer (SURVEY §2.1 S4, S5, S8).
  *
  * The engine's one parquet write path: every parquet dataset the
  * engine writes goes through this object, as [[parquet]] (the
  * overwrite write), [[parquetStore]] (the same write with the store
  * layout) or [[parquetPartitioned]]; the publish forms below write
  * through [[parquet]].
  *
  * Two parquet publish forms share the engine's one snapshot swap
  * ([[swapIn]]): [[parquetReplace]] always publishes, and
  * [[compactParquet]] and the streaming snapshot sink replace a snapshot
  * through it; [[parquetPublish]] publishes only a frame that has rows,
  * and reports how many, so the pipeline's tables learn they are empty
  * from their own write. Every snapshot is read back through
  * [[Readers.snapshot]], which first undoes a swap a crash interrupted
  * ([[recoverSnapshot]]).
  *
  * Scale notes vs the reference:
  *  - S4 parquet snapshots become *date-partitioned* writes with dynamic
  *    partition overwrite — re-running one day rewrites one partition,
  *    not the table (reference overwrites a date-suffixed object name,
  *    extract.py:43).
  *  - S5 JDBC append bounds the connection count by coalescing to
  *    `connections` partitions first (the reference writes with default
  *    parallelism — at cluster scale that's one DB connection per task).
  */
object Writers {

  /** The overwrite write: `df` as parquet at `path`, replacing whatever
    * is there. */
  def parquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** A keyed store's write: [[parquet]] with the store layout, a
    * `REBALANCE` on `id` before the write, so AQE cuts the files at its
    * advisory partition size (guide §6: target-sized files). Without it
    * a store written after an aggregate takes the aggregate's fan-out,
    * one small file per shuffle partition. */
  def parquetStore(df: DataFrame, path: String): Unit =
    parquet(df.hint("rebalance", col("id")), path)

  /** S4 at scale: date-partitioned parquet with per-partition overwrite.
    * Requires spark.sql.sources.partitionOverwriteMode=dynamic to only
    * replace the partitions present in `df`. */
  def parquetPartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol).parquet(path)

  /** Snapshot swap, safe when `df` READS from `path` (Spark refuses a
    * direct overwrite of an input path): write the new snapshot to
    * `path__tmp`, rename the live one aside to `path__old`, rename
    * `__tmp` in, then delete `__old`. Hadoop FS API, so the same code
    * path works on local disk and HDFS-like stores (a production
    * deployment would swap a table pointer in a metastore / table format
    * instead — same merge semantics, different commit protocol).
    *
    * The swap never holds the snapshot in a deleted state, so a crash at
    * any point leaves either the old or the new directory recoverable:
    * before the rename-aside, `path` is intact; between the two renames,
    * the stranded `__old` is the live snapshot; after the rename-in, the
    * new `path` is, and `__old` is garbage. [[recoverSnapshot]] (run by
    * [[Readers.snapshot]] and at the top of every swap) resolves both.
    * Every rename result is checked: a failed rename-in restores `__old`
    * and throws, so a swap that cannot complete fails loudly. */
  def parquetReplace(df: DataFrame, path: String): Unit = {
    val (fs, tmp, target) = writeAside(df, path)
    swapIn(fs, tmp, target)
  }

  /** S4: publish `df` at `path` only if it has rows, and return how many
    * it published. The frame is written aside as [[parquetReplace]]
    * writes it; the rows are then summed from the written files' footers
    * on the driver ([[Readers.parquetRows]]), so learning that a frame was
    * empty costs no job beyond its write. An empty write is deleted and
    * leaves `path` as it was; any other is swapped in. */
  def parquetPublish(df: DataFrame, path: String): Long = {
    val (fs, tmp, target) = writeAside(df, path)
    val rows = Readers.parquetRows(df.sparkSession, tmp.toString)
    if (rows == 0) fs.delete(tmp, true) else swapIn(fs, tmp, target)
    rows
  }

  /** Recover `path` from any interrupted swap, then write `df` to
    * `path__tmp`; returns the filesystem, `__tmp` and `path`. */
  private def writeAside(df: DataFrame, path: String): (FileSystem, Path, Path) = {
    val target = new Path(path)
    val tmp = new Path(path + "__tmp")
    val fs = target.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    recoverSnapshot(fs, target)
    parquet(df, tmp.toString)
    (fs, tmp, target)
  }

  /** The swap: rename the live `target` aside to `__old`, rename `tmp`
    * in (restoring `__old` and throwing if that fails), delete `__old`. */
  private def swapIn(fs: FileSystem, tmp: Path, target: Path): Unit = {
    val old = oldPath(target)
    if (fs.exists(target) && !fs.rename(target, old))
      throw new java.io.IOException(s"parquetReplace: rename-aside $target -> $old failed")
    if (!fs.rename(tmp, target)) {
      if (fs.exists(old)) fs.rename(old, target)
      throw new java.io.IOException(s"parquetReplace: rename $tmp -> $target failed")
    }
    if (fs.exists(old)) fs.delete(old, true)
  }

  private def oldPath(snap: Path) = new Path(snap.toString + "__old")

  /** Crash recovery for [[parquetReplace]]: if a crash landed between
    * `snap -> snap__old` and `tmp -> snap`, the live snapshot is the
    * stranded `__old` — rename it back. If BOTH exist the crash was after
    * the new snapshot took its place; the `__old` is just leftover garbage
    * and is deleted. Idempotent, no-op in steady state. */
  def recoverSnapshot(fs: FileSystem, snap: Path): Unit = {
    val old = oldPath(snap)
    if (fs.exists(old)) {
      if (!fs.exists(snap)) {
        if (!fs.rename(old, snap))
          throw new java.io.IOException(s"recoverSnapshot: rename $old -> $snap failed")
      } else fs.delete(old, true)
    }
  }

  /** S8: CSV with header. */
  def csv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** JSON-lines sink (the lake form of the reference's raw-API-payload
    * persistence, extract.py:124-132). */
  def json(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** ORC sink (columnar alternative to S4 — Spark-native, zstd-capable;
    * a user migrating from the reference keeps their format choice). */
  def orc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** S5: JDBC append with a bounded number of connections. */
  def jdbcAppend(df: DataFrame, url: String, table: String,
                 props: java.util.Properties, connections: Int = 8): Unit =
    df.coalesce(connections).write.mode(SaveMode.Append).jdbc(url, table, props)

  /** Small-file compaction: rewrite a parquet directory into at most
    * `targetFiles` files. The operational pass every long-running lake
    * needs — streaming sinks and per-day dynamic overwrites accumulate
    * thousands of KB-sized files, and at 100 TB the task-scheduling +
    * footer-read overhead of a million tiny files dominates the scan
    * (the public "small files problem"; Delta's OPTIMIZE / Iceberg's
    * rewrite_data_files are this pass productized). `coalesce` (not
    * `repartition`) — compaction must MERGE files without paying a full
    * shuffle of the data; rows are only concatenated, never moved
    * between existing partition boundaries' key ranges. Writes aside +
    * rename swap via [[parquetReplace]], so a reader never sees a
    * half-compacted directory; the read goes through [[Readers.snapshot]],
    * so a directory an interrupted swap left as `path__old` is restored
    * and then compacted. */
  def compactParquet(spark: org.apache.spark.sql.SparkSession, path: String,
                     targetFiles: Int = 8): Unit = {
    require(targetFiles > 0, s"compactParquet: targetFiles=$targetFiles")
    val snapshot = Readers.snapshot(spark, path).getOrElse(
      throw new java.io.FileNotFoundException(s"compactParquet: no snapshot at $path"))
    parquetReplace(snapshot.coalesce(targetFiles), path)
  }
}
