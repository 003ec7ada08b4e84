package graft.core

import org.apache.spark.sql.SparkSession

/** Temp-view registration for the testdata tables so the full engine
  * surface is also reachable through plain `spark.sql` — the SQL-first
  * entry point a reference user would expect alongside the DataFrame
  * API. */
object Catalog {
  val Tables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every testdata table under its name as a temp view. */
  def register(spark: SparkSession, dir: String): Unit =
    Tables.foreach { t =>
      graft.sources.Readers.parquet(spark, s"$dir/$t.parquet").createOrReplaceTempView(t)
    }
}
