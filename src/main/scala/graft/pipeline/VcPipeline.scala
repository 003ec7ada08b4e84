package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{DimDate, Profiler, Warehouse}
import graft.sources.{JdbcUpsert, Readers, Writers}

/** The full reference pipeline, composed in-process: staging parquet →
  * star-schema warehouse parquet (+ per-table profiling), replacing the
  * reference's three Airflow DAGs (`vcapital_staging`,
  * `vcapital_warehouse`, `profiling_quality_pipeline`) with one
  * [[Pipeline.Runner]] graph.
  *
  * Differences from the reference's architecture, by design:
  *  - one SparkSession for the whole graph — shared dims (dim_company
  *    feeds four tables and profiling) are computed once per run: their
  *    sink's write materializes them and every dependent reads that one
  *    copy, where the reference re-reads dim tables over JDBC in
  *    every per-table job (SURVEY §4 caching row). dim_date, a generated
  *    range, is shared the same way;
  *  - independent stages run concurrently (see [[Pipeline]]): every
  *    build and sink here is thread-safe and writes its own path under
  *    `outDir`;
  *  - skip-on-empty short-circuits per stage, as the reference does per
  *    job (P3), by the runner's one rule: a table is `Skipped`, with its
  *    dependents, when its own publish writes no rows; no probe job runs.
  *    Each build reads its own staging inputs, so an empty input skips
  *    only a table it empties: fct_investments, which left-joins
  *    funding_rounds, still publishes. Every table is published through
  *    [[graft.sources.Writers.parquetPublish]]; append mode, which
  *    publishes inside its build, counts the stored footer rows;
  *  - incremental mode is a declarative `created_at` day filter pushed
  *    into each staging scan (S2), not interpolated SQL.
  */
object VcPipeline {

  case class Config(
      stagingDir: String,
      outDir: String,
      /** when set (yyyy-MM-dd execution date), only staging rows created
        * the previous day flow through — the reference's incremental
        * mode (extract.py:41-43). */
      incrementalDs: Option[String] = None,
      /** incremental APPEND into an existing warehouse — the reference's
        * BIGSERIAL-continuation semantics (init_dwh.sql:32, warehouse
        * load.py append): dims gain only unseen natural keys with dense
        * surrogate keys continuing from the stored max; facts are built
        * against the FULL dims and merged on their degenerate natural id,
        * so replaying a day is idempotent. false = full overwrite. */
      appendMode: Boolean = false)

  def run(spark: SparkSession, cfg: Config,
          notifier: (String, Throwable) => Unit = (_, _) => ()): Map[String, Pipeline.Result] = {
    def staging(name: String): DataFrame = {
      val df = Readers.parquet(spark, s"${cfg.stagingDir}/$name.parquet")
      cfg.incrementalDs match {
        case Some(ds) if df.columns.contains("created_at") =>
          Readers.incremental(df, "created_at", ds)
        case _ => df
      }
    }
    def out(name: String) = s"${cfg.outDir}/$name"
    def sink(name: String)(df: DataFrame): Long = Writers.parquetPublish(df, out(name))
    def stored(name: String): Option[DataFrame] = Readers.snapshot(spark, out(name))
    /** Append-with-continued-keys (reference BIGSERIAL semantics): only
      * natural keys unseen in the stored dim get rows, keyed densely from
      * the stored max surrogate key; the returned frame is the FULL dim,
      * so downstream facts resolve complete key lookups. Idempotent: a
      * replayed day finds no unseen keys. */
    def dimFrame(name: String, sk: String, nk: String, delta: DataFrame): DataFrame =
      (if (cfg.appendMode) stored(name) else None) match {
        case None => Warehouse.withDenseKey(delta, sk, nk)
        case Some(existing) =>
          import org.apache.spark.sql.functions.{col, max}
          val maxKey = Option(existing.agg(max(col(sk))).first().get(0))
            .map(_.asInstanceOf[Long]).getOrElse(0L)
          val fresh = delta.join(existing.select(col(nk)), Seq(nk), "left_anti")
          existing.unionByName(Warehouse.withDenseKey(fresh, sk, nk, offset = maxKey))
      }
    /** Fact/bridge append: merge the day's rows into the stored table on
      * the degenerate natural key — delta wins on ties, so replaying a
      * day replaces its own rows instead of duplicating them. */
    def factFrame(name: String, keys: Seq[String], newRows: DataFrame): DataFrame =
      (if (cfg.appendMode) stored(name) else None) match {
        case None => newRows
        case Some(existing) =>
          JdbcUpsert.mergeByKey(existing, newRows, keys, keys.head)
      }
    /** Warehouse-table stage. Overwrite mode publishes through the sink,
      * and the runner hands dependents the one materialization its write
      * made. Append mode PUBLISHES inside the build — swap
      * the snapshot, then hand downstream a fresh read of the new files —
      * because the merged frame lazily reads the files the swap replaces:
      * a post-sink consumer of the old frame would hit deleted parts. An
      * empty merge publishes nothing, as in overwrite mode. Its sink
      * counts the stored snapshot's footer rows, with no job. */
    def tableStage(name: String, deps: Seq[String],
                   frame: Map[String, DataFrame] => DataFrame): Pipeline.Stage =
      if (cfg.appendMode)
        Pipeline.Stage(name, deps, f => {
          val merged = frame(f)
          if (sink(name)(merged) == 0) merged else Readers.parquet(spark, out(name))
        }, _ => Readers.parquetRows(spark, out(name)))
      else Pipeline.Stage(name, deps, frame, sink(name))

    val runner = new Pipeline.Runner(notifier)
    // dims
    runner
      .add(Pipeline.Stage("dim_date", Nil,
        _ => DimDate.build(spark), sink("dim_date")))
      .add(tableStage("dim_company", Nil,
        _ => dimFrame("dim_company", "sk_company_id", "nk_company_id",
          Warehouse.dimCompany(staging("company")))))
      .add(tableStage("dim_funds", Nil,
        _ => dimFrame("dim_funds", "sk_fund_id", "nk_fund_id",
          Warehouse.dimFunds(staging("funds")))))
      .add(tableStage("dim_people", Nil,
        _ => dimFrame("dim_people", "sk_people_id", "nk_people_id",
          Warehouse.dimPeople(staging("people")))))
    // facts + bridge
    runner
      .add(tableStage("fct_investments", Seq("dim_company", "dim_funds", "dim_date"),
        f => factFrame("fct_investments", Seq("dd_investment_id"),
          Warehouse.fctInvestments(staging("investments"), f("dim_company"),
            f("dim_funds"), f("dim_date"), staging("funding_rounds")))))
      .add(tableStage("fct_ipos", Seq("dim_company"),
        f => factFrame("fct_ipos", Seq("dd_ipo_id"),
          Warehouse.fctIpos(staging("ipos"), f("dim_company")))))
      .add(tableStage("fct_acquisition", Seq("dim_company"),
        f => factFrame("fct_acquisition", Seq("dd_acquisition_id"),
          Warehouse.fctAcquisition(staging("acquisition"), f("dim_company")))))
      .add(tableStage("bridge_company_people", Seq("dim_company", "dim_people"),
        f => factFrame("bridge_company_people",
          Seq("sk_company_id", "sk_people_id", "relationship_start_at"),
          Warehouse.bridgeCompanyPeople(staging("relationships"),
            f("dim_company"), f("dim_people")))))
    // milestones: keyed upsert of the day's delta into the persistent
    // snapshot — the reference's pangres `if_row_exists='update'` into
    // staging.milestones (staging load.py:94-118; PK per init_stg.sql
    // milestones_pkey = milestone_id). Lake-side: merge-by-key with the
    // newest updated_at winning, delta preferred on ties, written back
    // via the snapshot swap (the snapshot is both input and output).
    // An empty day over a stored snapshot republishes it: Completed, not Skipped.
    runner.add(Pipeline.Stage("milestones", Nil,
      _ => {
        val delta = staging("milestones")
        JdbcUpsert.mergeByKey(stored("milestones").getOrElse(delta.limit(0)),
          delta, Seq("milestone_id"), "updated_at")
      },
      sink("milestones")))
    // profiling over the produced dims/facts (reference: third DAG)
    runner.add(Pipeline.Stage("profiling",
      Seq("dim_company", "dim_funds", "fct_investments"),
      f => Seq("dim_company", "dim_funds", "fct_investments")
        .map(t => Profiler.profile(f(t), "warehouse", t))
        .reduce(_ unionByName _),
      sink("data_profile")))

    runner.run()
  }
}
