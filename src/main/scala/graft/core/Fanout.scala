package graft.core

import org.apache.spark.sql.{Column, DataFrame}

/** Scale-adaptive fan-out for CPU-dense narrow stages (r20 optimization
  * round, guide §2: derive partitioning from input size instead of
  * trusting the scan layout).
  *
  * The problem: per-row-expensive projections/explodes (tokenize +
  * shingle + 64-lane MinHash, hyperplane signatures, PQ encode, codec
  * decodes) run in the SCAN stage, whose task count comes from the input
  * file layout. A small or compacted input (one parquet row group, a
  * post-filter remnant) yields a single split, so the whole corpus's
  * hashing runs on one of N cores while the other N-1 idle — measured in
  * the r20 baseline as ~1 s single-task stages inside every x-family
  * gate at sf0.1 (QueryProbe). AQE cannot help: coalescing only shapes
  * post-shuffle stages, and the scan precedes the first exchange.
  *
  * The fix is conditional, NOT a blanket repartition: estimate the
  * scan's planned parallelism from plan-time metadata (file bytes /
  * maxPartitionBytes per file leaf, actual partition counts for
  * checkpointed-RDD leaves), and only when it is below the session's
  * core count insert a hash repartition on the caller's key to exactly
  * `defaultParallelism` partitions (an explicit partition count, so AQE
  * never re-coalesces the fan-out away). At corpus scale the estimate
  * exceeds the core count and the operator keeps its original
  * shuffle-free scan shape — the fan-out shuffle exists only in the
  * regime where it moves KBs to unlock N× compute parallelism.
  *
  * Hash repartition on a stable key is deterministic (same rows land in
  * the same partition every run), and every consumer in this codebase is
  * partitioning-insensitive (exact aggregates, set-based verifies), so
  * results are bit-identical with and without the fan-out — the
  * determinism lane and the DuckDB oracle see no difference.
  */
object Fanout {

  /** Estimated number of tasks the scan stage(s) feeding `df` will run,
    * from plan-time metadata only (no jobs): file-source leaves
    * contribute ceil(bytes / maxPartitionBytes) (files under one split
    * each count 1 — Spark cannot split below a row group anyway, so this
    * over-estimates exactly never), RDD-backed leaves (localCheckpoint)
    * their real partition count, in-memory literals 1. None when any
    * leaf's parallelism is not statically knowable — callers treat that
    * as "leave the plan alone". */
  def plannedScanTasks(df: DataFrame): Option[Long] =
    scanLayout(df).map(_._1)

  /** Bytes of input per fan-out task. CPU-dense text/vector kernels here
    * process raw input at single-digit MB/s/core (tools/FanoutProbe,
    * deleted after 17eacc8: the 1.1 MB near-dup corpus costs ~1.2 s of
    * single-core minhash), so ~64 KB gives each task ~50–100 ms of real
    * work — comfortably above the
    * ~10–30 ms per-task fixed cost, where a blanket fan-out to the full
    * core count left light gates paying more overhead than they
    * parallelized away (r20 A/B: ii2/cur3/v4 +0.3 s at 32-way, recovered
    * at the bytes-derived width). */
  val SpreadBytesPerTask: Long = 64 * 1024

  /** Byte estimate for an RDD-backed leaf whose plan-time statistics are
    * the "unknown" default: partitions × this. 8 task-worths per existing
    * partition keeps the width DATA-derived (a tiny few-partition
    * checkpoint can no longer claim partitions × 128 MB and fan to the
    * full core count — the r20 ii2/cur3/v4 +0.3 s blanket-fanout shape,
    * flagged by the r20 advice) while still unlocking real parallelism
    * for the common case this path exists for: an AQE-coalesced
    * 1–4-partition checkpoint feeding a CPU-dense kernel. Declared after
    * [[SpreadBytesPerTask]]: object vals initialize in order, and a
    * forward reference would read 0. */
  val RddFallbackBytesPerPartition: Long = 8 * SpreadBytesPerTask

  /** (estimated scan tasks, total input bytes) of `df`'s leaves — see
    * [[plannedScanTasks]]. RDD-backed leaves (localCheckpoint) count
    * their real partitions; their bytes come from the leaf's plan-time
    * statistics (Spark ≥3.4 carries the origin plan's stats through
    * `Dataset.checkpoint` into `LogicalRDD`), falling back to
    * [[RddFallbackBytesPerPartition]] per partition when the stats are
    * the conf-default "unknown" sentinel. */
  private def scanLayout(df: DataFrame): Option[(Long, Long)] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.ExternalRDD
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
    val maxSplit = math.max(1L,
      df.sparkSession.sessionState.conf.filesMaxPartitionBytes)
    val unknownSize = BigInt(df.sparkSession.sessionState.conf.defaultSizeInBytes)
    def rddLeaf(plan: LogicalPlan, partitions: Long): Option[(Long, Long)] = {
      val est = plan.stats.sizeInBytes
      val bytes =
        if (est > 0 && est < unknownSize)
          est.min(BigInt(Long.MaxValue)).toLong
        else partitions * RddFallbackBytesPerPartition
      Some((partitions, bytes))
    }
    val leaves = df.queryExecution.analyzed.collectLeaves()
    val counts: Seq[Option[(Long, Long)]] = leaves.map {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          val bytes = fs.location.sizeInBytes
          Some((math.max(1L, (bytes + maxSplit - 1) / maxSplit), bytes))
        case _ => None
      }
      case r: LogicalRDD => rddLeaf(r, r.rdd.getNumPartitions.toLong)
      case r: ExternalRDD[_] => rddLeaf(r, r.rdd.getNumPartitions.toLong)
      // driver-local literal frames (tests, 1-row knob tables) are not
      // the production shape this targets — leave their plans alone
      case _: LocalRelation => None
      case _ => None
    }
    if (counts.forall(_.isDefined))
      Some((counts.flatten.map(_._1).sum, counts.flatten.map(_._2).sum))
    else None
  }

  /** `df`, hash-repartitioned on `keys` to the session's default
    * parallelism IFF its planned scan parallelism is below that — the
    * guard that makes the repartition a small-input-only move (see
    * object doc). Call immediately BEFORE a CPU-dense narrow stage.
    *
    * A plan that is already spread on `keys` is left alone (see
    * [[alreadySpread]]). */
  def spread(df: DataFrame, keys: Column*): DataFrame = {
    if (alreadySpread(df, keys)) return df
    val cores = df.sparkSession.sparkContext.defaultParallelism
    scanLayout(df) match {
      case Some((planned, bytes)) =>
        // width derived from input size: enough tasks that each holds
        // ~SpreadBytesPerTask of raw input, never more than the cores
        // available — a tiny input fans to a few tasks, not to a fixed
        // local-mode constant (guide §2.5: partition counts follow data)
        val target = math.min(cores.toLong,
          (bytes + SpreadBytesPerTask - 1) / SpreadBytesPerTask).toInt
        if (planned < target) df.repartition(target, keys: _*) else df
      case _ => df
    }
  }

  /** True when an explicit-width hash repartition on the same `keys` (a
    * REPARTITION_BY_NUM — in practice an upstream `spread` on a derived,
    * un-checkpointed frame) still shapes `df`'s output: it is reached
    * from the root through narrow unary nodes only. `scanLayout` only
    * inspects LEAVES, so without this check a query-level spread
    * followed by an operator-level one stacked two consecutive exchanges
    * on the same key (a Project between them defeats CollapseRepartition
    * — r20 advice, the cur5 `cleaned` → nbScore shape). A repartition on
    * other keys, or one below a join, aggregate or other exchange, says
    * nothing about how `df`'s rows are spread, so the walk stops there. */
  private def alreadySpread(df: DataFrame, keys: Seq[Column]): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    @scala.annotation.tailrec
    def explicitWidth(p: LogicalPlan): Option[RepartitionByExpression] = p match {
      case r: RepartitionByExpression => Some(r).filter(_.optNumPartitions.isDefined)
      case _: Project | _: Filter | _: SubqueryAlias | _: ResolvedHint |
           _: Generate | _: Sample => explicitWidth(p.children.head)
      case _ => None
    }
    explicitWidth(df.queryExecution.analyzed).exists { r =>
      // `keys` resolved against `df`, the form a repartition node holds
      val wanted = df.repartition(1, keys: _*).queryExecution.analyzed
        .asInstanceOf[RepartitionByExpression].partitionExpressions
      r.partitionExpressions.corresponds(wanted)(_ semanticEquals _)
    }
  }
}
