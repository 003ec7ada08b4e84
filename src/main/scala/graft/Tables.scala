package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Testdata table access (see /root/repo/TESTDATA.md). One parquet file per
  * table; paths are parameterized by scale-factor directory so the same
  * query runs at sf0.001 (smoke), sf0.01 (oracle), sf0.1 (bench). */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Readers.parquet(spark, s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame   = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame     = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame     = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = t(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame     = t(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
