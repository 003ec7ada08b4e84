package graft

import org.apache.spark.sql.functions._
import graft.operators.DimDate

/** Golden-row tests for the date dimension (reference
  * `dataset/warehouse/init_dwh.sql:199-236`). */
class DimDateSpec extends SparkSpec {

  private lazy val dim = DimDate.build(spark).cache()

  private def row(dateId: Int) =
    dim.filter(col("date_id") === dateId).collect()(0)

  test("generates 29220 rows, 1950-01-01 .. 2029-12-31") {
    assert(dim.count() == 29220L)
    val ids = dim.agg(min("date_id"), max("date_id")).collect()(0)
    assert(ids.getInt(0) == 19500101 && ids.getInt(1) == 20291231)
  }

  test("analyzed and optimized schemas are equal, nullability included") {
    // the pipeline runner persists every shared frame, and a cached frame
    // writes its analyzed schema: this equality is what keeps the shared
    // dim_date's written schema the one its optimizer would give.
    // A shorter range than `dim`, so the cached plan does not stand in.
    val fresh = DimDate.build(spark, days = 366)
    assert(fresh.queryExecution.optimizedPlan.schema == fresh.schema,
      s"analyzed:\n${fresh.schema.treeString}\noptimized:\n" +
        fresh.queryExecution.optimizedPlan.schema.treeString)
  }

  test("1950-01-01 golden row") {
    val r = row(19500101)
    assert(r.getAs[String]("day_name") == "Sunday")
    assert(r.getAs[String]("day_suffix") == "1st")
    assert(r.getAs[Int]("day_of_year") == 1)
    assert(r.getAs[String]("weekend_indr") == "weekend")
    // ISO week of 1950-01-01 is 1949-W52
    assert(r.getAs[String]("week_of_year_iso") == "1949-W52")
    assert(r.getAs[String]("quarter_name") == "First")
  }

  test("2004-02-28 golden row (leap-adjacent, referenced in main.py:50)") {
    val r = row(20040228)
    assert(r.getAs[String]("day_name") == "Saturday")
    assert(r.getAs[String]("day_suffix") == "28th")
    assert(r.getAs[java.sql.Date]("last_day_of_month").toString == "2004-02-29")
    assert(r.getAs[String]("mmddyyyy") == "02282004")
    assert(r.getAs[String]("weekend_indr") == "weekend")
  }

  test("ISO week rollover: 2029-12-31 belongs to 2030-W01") {
    val r = row(20291231)
    assert(r.getAs[String]("day_name") == "Monday")
    assert(r.getAs[String]("week_of_year_iso") == "2030-W01")
    assert(r.getAs[java.sql.Date]("first_day_of_week").toString == "2029-12-31")
    assert(r.getAs[java.sql.Date]("last_day_of_quarter").toString == "2029-12-31")
  }

  test("ordinal suffixes: 11th/12th/13th vs 21st/22nd/23rd") {
    val got = dim.filter(col("date_id").between(20240111, 20240123))
      .select("day_suffix").collect().map(_.getString(0)).toSet
    assert(Set("11th", "12th", "13th", "21st", "22nd", "23rd").subsetOf(got))
  }
}
