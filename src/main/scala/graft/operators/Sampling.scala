package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling, mixing, and shuffling for training-data
  * curation at corpus scale — engine extensions beyond the reference's
  * ELT surface (which has no sampling stage; these are the operations a
  * 100 TB pretraining pipeline composes around the dedup/quality steps).
  *
  * Everything keys off `xxhash64(key, seed)`:
  *  - DETERMINISTIC and partition-independent: membership depends only
  *    on the row's key and the seed, never on task layout — reruns,
  *    retries, and different cluster sizes select the same rows.
  *  - NO SHUFFLE for sampling/mixing: a sample is a pure filter pushed
  *    against the scan; mixing N strata at N rates is one scan, not N.
  *  - Seeds separate concerns: a different seed gives a statistically
  *    independent subset (epoch remixes), the same seed reproduces.
  */
object Sampling {

  /** Hash-bucket resolution: rates are quantized to 1/1e6. */
  val Buckets: Long = 1000000L

  /** Deterministic bucket in [0, 1e6) for (key, seed). */
  def hashBucket(key: Column, seed: Long): Column =
    pmod(xxhash64(key, lit(seed)), lit(Buckets))

  /** Keep ~`fraction` of rows, selected by key hash (reproducible,
    * partition-independent; no shuffle — a scan-side filter). */
  def sampleByHash(df: DataFrame, keyCol: String, fraction: Double,
                   seed: Long): DataFrame =
    df.filter(hashBucket(col(keyCol), seed) < math.round(fraction * Buckets))

  /** Per-stratum sampling rates in one pass — weighted dataset mixing.
    * A stratum absent from `fractions` gets `defaultFraction`. Exact
    * one-scan semantics: the stratum picks a threshold, the key hash
    * decides membership. */
  def stratifiedSample(df: DataFrame, keyCol: String, strataCol: String,
                       fractions: Map[String, Double],
                       defaultFraction: Double, seed: Long): DataFrame = {
    val threshold = fractions.foldLeft(
      lit(math.round(defaultFraction * Buckets))) { case (acc, (stratum, f)) =>
      when(col(strataCol) === stratum, lit(math.round(f * Buckets))).otherwise(acc)
    }
    df.filter(hashBucket(col(keyCol), seed) < threshold)
  }

  /** Multi-epoch mix: one independently-seeded stratified sample per
    * epoch, tagged with its epoch index. Epoch e's subset is
    * statistically independent of epoch e+1's (different hash seed), yet
    * every epoch is individually reproducible. */
  def epochMix(df: DataFrame, keyCol: String, strataCol: String,
               fractions: Map[String, Double], defaultFraction: Double,
               epochs: Int, baseSeed: Long): DataFrame =
    (0 until epochs).map { e =>
      stratifiedSample(df, keyCol, strataCol, fractions, defaultFraction,
        baseSeed + e).withColumn("epoch", lit(e))
    }.reduce(_ unionByName _)

  /** Deterministic, exclusive, exhaustive train/validation/test split:
    * each row gets exactly one split label, decided by its key's hash
    * bucket against cumulative fraction thresholds — reproducible,
    * partition-independent, and leak-free by construction (a key can
    * never land in two splits, and re-running on a grown corpus never
    * moves an old key between splits). The LAST split absorbs the
    * rounding remainder so coverage is exhaustive regardless of how
    * the fractions quantize. One scan, zero shuffle. */
  def hashSplit(df: DataFrame, keyCol: String,
                splits: Seq[(String, Double)], seed: Long,
                splitName: String = "split"): DataFrame = {
    require(splits.nonEmpty, "hashSplit: no splits")
    require(splits.map(_._1).distinct.size == splits.size,
      s"hashSplit: duplicate split names in ${splits.map(_._1)}")
    require(splits.forall(_._2 > 0.0), s"hashSplit: non-positive fraction in $splits")
    val total = splits.map(_._2).sum
    require(math.abs(total - 1.0) < 1e-9, s"hashSplit: fractions sum to $total, not 1")
    val cum = splits.scanLeft(0.0)(_ + _._2).tail
    val thresholds = splits.zip(cum).map { case ((name, _), c) =>
      name -> math.round(c * Buckets)
    }
    // a fraction below the bucket resolution would round to an empty
    // range and silently produce an always-empty split — fail fast
    require((0L +: thresholds.map(_._2).init) .zip(thresholds)
      .forall { case (prev, (_, t)) => t > prev },
      s"hashSplit: a fraction rounds to an empty bucket range (thresholds=$thresholds, resolution=1/$Buckets)")
    val bucket = hashBucket(col(keyCol), seed)
    // CASE over cumulative thresholds; the final branch is the ELSE so
    // bucket Buckets-1 always lands somewhere even if round() fell short
    val label = thresholds.init.foldRight(lit(thresholds.last._1): Column) {
      case ((name, t), acc) => when(bucket < t, lit(name)).otherwise(acc)
    }
    df.withColumn(splitName, label)
  }

  /** Temperature-balanced mixture sampling (the XLM-R / multilingual-C4
    * rebalancing rule): stratum weights w_s = n_s^alpha, a token budget
    * of ~`budget` rows distributed proportionally to w_s, so low-resource
    * strata are up-weighted relative to their raw share as alpha
    * decreases (alpha = 1 reduces to proportional sampling). Rates are
    * DERIVED from the corpus's own counts — not caller-supplied like
    * [[stratifiedSample]] — then applied as the same one-scan
    * hash-threshold filter.
    *
    * The per-stratum count table is contract-bounded small (languages /
    * sources), so it is collected and folded in sorted-stratum order —
    * a deterministic left-to-right IEEE sum (the IVF-seed pattern;
    * aggregate order inside Spark would be partition-dependent and
    * could flip a rounded threshold between runs). alpha = 0.5 uses
    * `sqrt` explicitly: IEEE-correctly-rounded on every platform,
    * unlike the last ulp of a libm `pow`. */
  def temperatureSample(df: DataFrame, keyCol: String, strataCol: String,
                        alpha: Double, budget: Long, seed: Long): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"temperatureSample: alpha=$alpha")
    require(budget > 0, s"temperatureSample: budget=$budget")
    // string-keyed strata contract (same as stratifiedSample's
    // Map[String, Double]); fail fast with a real message instead of a
    // ClassCastException inside the collect
    require(df.schema(strataCol).dataType ==
      org.apache.spark.sql.types.StringType,
      s"temperatureSample: strata column '$strataCol' must be string, " +
        s"got ${df.schema(strataCol).dataType.simpleString}")
    def w(n: Long): Double =
      if (alpha == 0.5) math.sqrt(n.toDouble)
      else if (alpha == 1.0) n.toDouble
      else math.pow(n.toDouble, alpha)
    // NULL strata never receive a rate (they fall to defaultFraction=0.0
    // in stratifiedSample below), so exclude them before the collect —
    // otherwise getString(0) yields null and Ordering[String] NPEs
    val counts = df.filter(col(strataCol).isNotNull)
      .groupBy(col(strataCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val wsum = counts.foldLeft(0.0) { case (acc, (_, n)) => acc + w(n) }
    val rates = counts.map { case (s, n) =>
      s -> math.min(1.0, budget.toDouble * w(n) / (wsum * n.toDouble))
    }
    // apply through the shared one-scan threshold filter; default 0.0
    // = a stratum unseen at train time (late-arriving partition) drops
    stratifiedSample(df, keyCol, strataCol, rates.toMap,
      defaultFraction = 0.0, seed = seed)
  }

  /** Per-group quota cap: keep at most `quota` rows per group, chosen
    * in deterministic seeded-hash order — domain/source capping so no
    * group dominates a training mixture (the "at most N docs per
    * domain" curation rule). Membership depends only on (key, seed,
    * the group's membership), never on partitioning.
    *
    * Scale: one exchange on the group key; Spark plans the rank filter
    * as WindowGroupLimit with a PARTIAL limit below the exchange, so at
    * most `quota` rows per group per input partition are shuffled —
    * a hub group streams through bounded, never materialized whole. */
  def quotaSample(df: DataFrame, keyCol: String, groupCol: String,
                  quota: Int, seed: Long): DataFrame = {
    require(quota > 0, s"quotaSample: quota=$quota")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
      .orderBy(xxhash64(col(keyCol), lit(seed)), col(keyCol))
    df.withColumn("__qrn", row_number().over(w))
      .filter(col("__qrn") <= quota).drop("__qrn")
  }

  /** Deterministic global shuffle: assigns each row its position in the
    * pseudo-random permutation ordered by (xxhash64(key, seed), key) —
    * the tie-break keeps the permutation total even across hash
    * collisions. Built on the scale-safe ranged dense-key construction
    * (range-partitioned parallel rank + tiny offset broadcast), so no
    * single-task sort of the corpus exists in the plan. */
  def shuffledPositions(df: DataFrame, keyCol: String, seed: Long,
                        positionName: String = "position"): DataFrame =
    Warehouse.withDenseKeyRanged(
      df.withColumn("__h", xxhash64(col(keyCol), lit(seed))),
      positionName, Seq("__h", keyCol))
      .drop("__h")
}
