package graft.operators

import java.time.LocalDate
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Date-dimension generator — the engine's version of the reference's
  * `GENERATE_SERIES`-driven dim_date DDL
  * (reference `dataset/warehouse/init_dwh.sql:199-236`): 29,220 rows
  * (1950-01-01 + 80 years), 25 derived columns.
  *
  * Spark-first shape: `spark.range(n)` is a zero-IO, fully parallel,
  * codegen'd row source; every derivation below is a built-in date
  * expression, so the whole thing is one WholeStageCodegen stage with no
  * shuffle (the reference's `ORDER BY 1` is applied only at write time by
  * callers that need it).
  */
object DimDate {

  val DefaultStart = "1950-01-01"
  val DefaultDays  = 29220 // 80 years, matches init_dwh.sql:233-235

  /** ISO day-of-week, Monday=1..Sunday=7 (Postgres ISODOW). Spark's
    * `weekday` is Monday=0..Sunday=6. */
  private def isoDow(d: Column): Column = weekday(d) + lit(1)

  /** ISO week-year: the year of the Thursday in this date's ISO week.
    * (Spark forbids the 'Y' week-year pattern under the modern time
    * parser, so derive it arithmetically — also locale-proof.) */
  private def isoYear(d: Column): Column = year(date_add(d, lit(4) - isoDow(d)))

  /** English ordinal suffix for day-of-month (Postgres 'fmDDth'). */
  def daySuffix(d: Column): Column = {
    val dom = dayofmonth(d)
    val suffix = when(dom.isin(11, 12, 13), "th")
      .when(dom % 10 === 1, "st")
      .when(dom % 10 === 2, "nd")
      .when(dom % 10 === 3, "rd")
      .otherwise("th")
    concat(dom.cast("string"), suffix)
  }

  /** Generate the 25-column date dimension. The start date is a date
    * literal, so the analyzed schema already has the optimizer's
    * nullability and a cached copy writes the same parquet schema. */
  def build(spark: SparkSession,
            start: String = DefaultStart,
            days: Int = DefaultDays): DataFrame = {
    val d = col("date_actual")
    spark.range(0, days)
      .select(date_add(lit(LocalDate.parse(start)), col("id").cast(IntegerType)).as("date_actual"))
      .select(
        date_format(d, "yyyyMMdd").cast(IntegerType).as("date_id"),
        d,
        daySuffix(d).as("day_suffix"),
        date_format(d, "EEEE").as("day_name"),
        dayofyear(d).as("day_of_year"),
        ceil(dayofmonth(d) / lit(7.0)).cast(IntegerType).as("week_of_month"),
        weekofyear(d).as("week_of_year"),
        concat(isoYear(d).cast("string"), lit("-W"),
               lpad(weekofyear(d).cast("string"), 2, "0")).as("week_of_year_iso"),
        month(d).as("month_actual"),
        date_format(d, "MMMM").as("month_name"),
        date_format(d, "MMM").as("month_name_abbreviated"),
        quarter(d).as("quarter_actual"),
        when(quarter(d) === 1, "First")
          .when(quarter(d) === 2, "Second")
          .when(quarter(d) === 3, "Third")
          .otherwise("Fourth").as("quarter_name"),
        year(d).as("year_actual"),
        date_sub(d, weekday(d)).as("first_day_of_week"),
        date_add(date_sub(d, weekday(d)), 6).as("last_day_of_week"),
        trunc(d, "month").as("first_day_of_month"),
        last_day(d).as("last_day_of_month"),
        trunc(d, "quarter").as("first_day_of_quarter"),
        date_sub(add_months(trunc(d, "quarter"), 3), 1).as("last_day_of_quarter"),
        trunc(d, "year").as("first_day_of_year"),
        make_date(year(d), lit(12), lit(31)).as("last_day_of_year"),
        date_format(d, "MMyyyy").as("mmyyyy"),
        date_format(d, "MMddyyyy").as("mmddyyyy"),
        when(isoDow(d).isin(6, 7), "weekend").otherwise("weekday").as("weekend_indr")
      )
  }
}
