package perfbench

import java.time.{Instant, LocalDate}
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded, Crunchbase-shaped staging generator for the `vc_*` workloads.
  *
  * Every row is drawn from its own random stream, keyed by (seed, table,
  * row index), so the same seed writes the same files and another seed
  * changes content only. Row counts, the day each row is created on,
  * which rows are orphans and every value distribution depend on the row
  * index alone, never on the seed.
  *
  * Rows `i < 70 %` of a table are created on day 0; the rest spread evenly
  * over days 1..[[Days]] (~1 % each). Foreign keys point at day-0 rows, so
  * a fact row always resolves on the day it arrives, except the fixed
  * orphan rows (`i % 50 == r`), which reference keys that never exist.
  * Investor keys are heavy-tailed: `fund = floor(F0 * u^4)`, so a few funds
  * make most investments.
  *
  * The values cover the cleaning branches of the warehouse build: all 8
  * currencies plus an unknown code and nulls, junk and empty addresses,
  * junk stock symbols, negative amounts, embedded newlines, funding-round
  * dates outside the date dimension and self-acquisitions.
  */
object StagingGen extends Serializable {

  val Days = 30
  /** Day 0 (UTC). An incremental load of day `d` runs with `incrementalDs` = day `d + 1`. */
  val Day0: LocalDate = LocalDate.of(2024, 1, 1)

  /** Row counts at scale 1.0 (about 22 MB of parquet). */
  val BaseRows: Seq[(String, Long)] = Seq(
    "company" -> 100000L, "funds" -> 1500L, "people" -> 200000L,
    "relationships" -> 400000L, "investments" -> 80000L,
    "funding_rounds" -> 50000L, "ipos" -> 1300L, "acquisition" -> 10000L,
    "milestones" -> 40000L)

  case class Sizes(rows: Map[String, Long]) {
    def apply(t: String): Long = rows(t)
    /** Rows created on day 0. */
    def day0(t: String): Long = rows(t) * 70 / 100
    def day(t: String, i: Long): Int = {
      val n0 = day0(t)
      if (i < n0) 0 else 1 + ((i - n0) * Days / (rows(t) - n0)).toInt
    }
    def total: Long = rows.values.sum
  }

  def sizes(scale: Double): Sizes =
    Sizes(BaseRows.map { case (t, n) => t -> math.max(300L, math.round(n * scale)) }.toMap)

  // fixed orphan residues: rows with i % 50 == r reference a missing key
  private val OrphanCompany = 7L
  private val OrphanFund = 19L
  private val OrphanPerson = 23L
  private val OrphanAcquired = 31L

  private val Currencies = IndexedSeq("USD", "CAD", "EUR", "SEK", "AUD", "JPY", "GBP", "NIS", "XYZ")
  private val Words = IndexedSeq("alpha", "beta", "cloud", "data", "edge", "fusion", "graph",
    "health", "ion", "jet", "kinetic", "labs", "micro", "nova", "orbit", "pixel",
    "quant", "robot", "solar", "tera", "ultra", "vector", "wave", "xeno", "yield", "zen")
  private val Places = IndexedSeq(" San Francisco", "new york ", "LONDON", "Berlin", "paris",
    "Tel Aviv", "  tokyo", "Austin", "", "Boston")
  private val Countries = IndexedSeq("usa", " gbr", "DEU", "fra", "isr", "jpn", "can", "", "swe")
  private val Symbols = IndexedSeq(" NASDAQ:ABC ", "nyse:xyz", "$$$", "123", "_#_", "LSE:Q1")

  private def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The random stream of row `i` of `table`. */
  def rng(seed: Long, table: String, i: Long): SplittableRandom =
    new SplittableRandom(mix64(mix64(seed ^ (table.hashCode.toLong * 0x9E3779B97F4A7C15L)) + i))

  private implicit class Draws(private val r: SplittableRandom) extends AnyVal {
    def pick(xs: IndexedSeq[String]): String = xs(r.nextInt(xs.size))
    def words(n: Int): String = Seq.fill(n)(pick(Words)).mkString(" ")
    def money(): java.math.BigDecimal = {
      val v = r.nextDouble()
      val amt = java.math.BigDecimal.valueOf(r.nextLong(500000000L), 2)
      if (v < 0.03) null else if (v < 0.05) amt.negate() else amt
    }
    def currency(): String = if (r.nextDouble() < 0.02) null else pick(Currencies)
    def dayAfter(start: String, days: Int): LocalDate = LocalDate.parse(start).plusDays(r.nextInt(days).toLong)
    def address(): String = {
      val v = r.nextDouble()
      val street = s"${1 + r.nextInt(900)} ${pick(Words)} St"
      if (v < 0.05) null else if (v < 0.10) "" else if (v < 0.14) "$$$"
      else if (v < 0.18) "ab" else if (v < 0.25) "#" + street
      else if (v < 0.30) ".." + street else street
    }
  }

  /** object_id of company row `k`: `f:` every 20th row, `x:` (no entity
    * type) the next one, `c:` otherwise. */
  def companyId(k: Long): String =
    (if (k % 20 == 0) "f:" else if (k % 20 == 1) "x:" else "c:") + k

  private def orphan(i: Long, residue: Long, present: => String): String =
    if (i % 50 == residue) s"missing:$i" else present

  private case class Table(name: String, schema: StructType, row: (Long, SplittableRandom) => Row)

  private def fields(spec: (String, DataType)*): StructType =
    StructType(spec.map { case (n, t) => StructField(n, t) })

  private val Money = DecimalType(15, 2)
  private val Coord = DecimalType(9, 6)

  private def tables(seed: Long, s: Sizes): Seq[Table] = {
    val company0 = s.day0("company"); val fund0 = s.day0("funds"); val people0 = s.day0("people")
    def createdAt(t: String, i: Long, r: SplittableRandom): Instant =
      Instant.ofEpochSecond(Day0.plusDays(s.day(t, i).toLong).toEpochDay * 86400L + r.nextInt(86400))
    def stamp(x: Instant): String = x.toString.replace("T", " ").stripSuffix("Z")
    def day0Company(r: SplittableRandom): String = companyId(r.nextLong(company0))
    Seq(
      Table("company", fields("office_id" -> IntegerType, "object_id" -> StringType,
        "description" -> StringType, "region" -> StringType, "city" -> StringType,
        "address1" -> StringType, "address2" -> StringType, "zip_code" -> StringType,
        "state_code" -> StringType, "country_code" -> StringType, "latitude" -> Coord,
        "longitude" -> Coord, "created_at" -> TimestampType, "updated_at" -> TimestampType),
        (i, r) => {
          val c = createdAt("company", i, r)
          Row(i.toInt, companyId(i), r.words(3) + "\nline two", r.pick(Places), r.pick(Places),
            r.address(), r.address(), f"${r.nextInt(99999)}%05d", r.pick(IndexedSeq("CA", "NY", "", "TX")),
            r.pick(Countries), java.math.BigDecimal.valueOf(r.nextLong(-90000000L, 90000000L), 6),
            java.math.BigDecimal.valueOf(r.nextLong(-180000000L, 180000000L), 6), c, c)
        }),
      Table("funds", fields("fund_id" -> StringType, "object_id" -> StringType, "name" -> StringType,
        "funded_at" -> DateType, "raised_amount" -> Money, "raised_currency_code" -> StringType,
        "source_url" -> StringType, "source_description" -> StringType,
        "created_at" -> TimestampType, "updated_at" -> TimestampType),
        (i, r) => {
          val c = createdAt("funds", i, r)
          Row(s"fd$i", s"f:${i * 20}", s" ${r.words(2)} Fund ", r.dayAfter("1995-01-01", 11000),
            r.money(), r.currency(), "http://example.org/fund",
            if (r.nextDouble() < 0.2) "  " else r.words(4), c, c)
        }),
      Table("people", fields("people_id" -> StringType, "object_id" -> StringType,
        "first_name" -> StringType, "last_name" -> StringType, "birthplace" -> StringType,
        "affiliation_name" -> StringType, "created_at" -> TimestampType, "updated_at" -> TimestampType),
        (i, r) => {
          val c = createdAt("people", i, r)
          Row(s"pe$i", s"p:$i", r.pick(Words).capitalize, r.pick(Words).capitalize, r.pick(Places),
            if (r.nextDouble() < 0.1) " " else r.words(2), c, c)
        }),
      // (person, company) is unique per row: person = i mod P0 and company
      // = h(person) + i div P0, so the bridge's merge key never collides
      Table("relationships", fields("relationship_id" -> StringType, "person_object_id" -> StringType,
        "relationship_object_id" -> StringType, "start_at" -> StringType, "end_at" -> StringType,
        "is_past" -> StringType, "sequence" -> StringType, "title" -> StringType,
        "created_at" -> StringType, "updated_at" -> StringType),
        (i, r) => {
          val person = i % people0
          val company = (rng(seed, "relationship-company", person).nextLong(company0) + i / people0) % company0
          val c = stamp(createdAt("relationships", i, r))
          Row(s"r$i", orphan(i, OrphanPerson, s"p:$person"), companyId(company),
            if (r.nextDouble() < 0.1) null else r.dayAfter("1990-01-01", 10000).toString,
            if (r.nextDouble() < 0.5) null else r.dayAfter("2010-01-01", 4000).toString,
            r.pick(IndexedSeq("true", "false", "")), (i % 7).toString,
            r.pick(IndexedSeq("CEO", " cto ", "Founder", "", "Board Member")), c, c)
        }),
      Table("investments", fields("investment_id" -> IntegerType, "funding_round_id" -> IntegerType,
        "funded_object_id" -> StringType, "investor_object_id" -> StringType,
        "created_at" -> TimestampType, "updated_at" -> TimestampType),
        (i, r) => {
          val c = createdAt("investments", i, r)
          val round = r.nextInt((s("funding_rounds") * 102 / 100).toInt) // ~2 % miss the side input
          val company = day0Company(r)
          val fund = (math.pow(r.nextDouble(), 4) * fund0).toLong
          Row(i.toInt, round, orphan(i, OrphanCompany, company),
            orphan(i, OrphanFund, s"f:${fund * 20}"), c, c)
        }),
      Table("funding_rounds", fields("funding_round_id" -> IntegerType, "object_id" -> StringType,
        "funded_at" -> DateType, "funding_round_type" -> StringType, "funding_round_code" -> StringType,
        "raised_amount_usd" -> Money, "raised_amount" -> Money, "pre_money_valuation_usd" -> Money,
        "pre_money_valuation" -> Money, "post_money_valuation_usd" -> Money,
        "post_money_valuation" -> Money, "raised_currency_code" -> StringType,
        "pre_money_currency_code" -> StringType, "post_money_currency_code" -> StringType,
        "participants" -> StringType, "is_first_round" -> BooleanType, "is_last_round" -> BooleanType,
        "source_url" -> StringType, "source_description" -> StringType, "created_by" -> StringType,
        "created_at" -> TimestampType, "updated_at" -> TimestampType),
        (i, r) => {
          val c = createdAt("funding_rounds", i, r)
          val funded = r.dayAfter("1998-01-01", 9000)
          Row(i.toInt, day0Company(r), if (i % 40 == 3) LocalDate.of(1900, 6, 1) else funded,
            r.pick(IndexedSeq("angel", "series-a", "series-b", "venture", "other")),
            r.pick(IndexedSeq("a", "b", "c", "seed", "")),
            r.money(), r.money(), r.money(), r.money(), r.money(), r.money(),
            r.currency(), r.currency(), r.currency(), r.nextInt(12).toString,
            r.nextDouble() < 0.3, r.nextDouble() < 0.3, "http://example.org/round",
            r.words(3), "generator", c, c)
        }),
      Table("ipos", fields("ipo_id" -> StringType, "object_id" -> StringType,
        "valuation_amount" -> Money, "raised_amount" -> Money,
        "valuation_currency_code" -> StringType, "raised_currency_code" -> StringType,
        "public_at" -> TimestampType, "stock_symbol" -> StringType, "source_url" -> StringType,
        "source_description" -> StringType, "created_at" -> TimestampType, "updated_at" -> TimestampType),
        (i, r) => {
          val c = createdAt("ipos", i, r)
          Row(i.toString, orphan(i, OrphanCompany, day0Company(r)), r.money(), r.money(),
            r.currency(), r.currency(), Instant.ofEpochSecond(r.nextLong(-300000000L, 1600000000L)),
            r.pick(Symbols), "http://example.org/ipo", s" ${r.words(3)}\n", c, c)
        }),
      Table("acquisition", fields("acquisition_id" -> IntegerType, "acquiring_object_id" -> StringType,
        "acquired_object_id" -> StringType, "term_code" -> StringType, "price_amount" -> Money,
        "price_currency_code" -> StringType, "acquired_at" -> TimestampType,
        "source_url" -> StringType, "source_description" -> StringType,
        "created_at" -> TimestampType, "updated_at" -> TimestampType),
        (i, r) => {
          val c = createdAt("acquisition", i, r)
          val acquirer = day0Company(r)
          val target = day0Company(r)
          Row(i.toInt, orphan(i, OrphanCompany, acquirer),
            orphan(i, OrphanAcquired, if (i % 25 == 4) acquirer else target),
            r.pick(IndexedSeq("cash", " Stock ", "", "cash_and_stock")), r.money(), r.currency(),
            Instant.ofEpochSecond(r.nextLong(-800000000L, 1800000000L)), "http://example.org/acq",
            if (r.nextDouble() < 0.2) " " else r.words(3), c, c)
        }),
      Table("milestones", fields("created_at" -> StringType, "description" -> StringType,
        "milestone_at" -> StringType, "milestone_code" -> StringType, "milestone_id" -> IntegerType,
        "object_id" -> StringType, "source_description" -> StringType, "source_url" -> StringType,
        "updated_at" -> StringType),
        (i, r) => {
          val c = stamp(createdAt("milestones", i, r))
          Row(c, r.words(4) + "\n", r.dayAfter("2000-01-01", 8000).toString,
            r.pick(IndexedSeq("m-code", "launch", "other")), i.toInt, day0Company(r),
            r.words(2), null, c)
        }))
  }

  /** Run independent table writes from a small thread pool. */
  private def concurrently(jobs: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val all = scala.concurrent.Future.traverse(jobs)(j => scala.concurrent.Future(j())(ec))(implicitly, ec)
      scala.concurrent.Await.result(all, scala.concurrent.duration.Duration.Inf)
    } finally pool.shutdown()
  }

  /** Write the staging area under `dir`, one parquet directory per table,
    * the tables concurrently. The file count per table depends on its row
    * count only. */
  def write(spark: SparkSession, seed: Long, s: Sizes, dir: String): Unit =
    concurrently(tables(seed, s).map { t => () =>
      val n = s(t.name)
      val rows = spark.sparkContext.range(0L, n, numSlices = 1 + (n / 100000L).toInt)
        .map(i => t.row(i, rng(seed, t.name, i)))
      spark.createDataFrame(rows, t.schema).write.mode("overwrite").parquet(s"$dir/${t.name}.parquet")
    })

  /** Warehouse row counts after loading days `0..lastDay` (a full load is
    * `lastDay = Days`), derived from the construction rules alone. */
  def expectedRows(s: Sizes, lastDay: Int): Map[String, Long] = {
    def count(t: String, orphanResidues: Long*): Long =
      (0L until s(t)).count(i => s.day(t, i) <= lastDay && !orphanResidues.contains(i % 50)).toLong
    Map(
      "dim_date" -> DimDateRows,
      "dim_company" -> count("company"),
      "dim_funds" -> count("funds"),
      "dim_people" -> count("people"),
      "fct_investments" -> count("investments", OrphanCompany, OrphanFund),
      "fct_ipos" -> count("ipos", OrphanCompany),
      "fct_acquisition" -> count("acquisition", OrphanCompany, OrphanAcquired),
      "bridge_company_people" -> count("relationships", OrphanPerson),
      "milestones" -> count("milestones"))
  }

  /** Rows of the warehouse date dimension: 80 years of days from 1950-01-01. */
  val DimDateRows: Long = 29220L
}
