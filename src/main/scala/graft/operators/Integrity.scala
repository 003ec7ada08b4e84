package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Referential-integrity checking as a runtime operator — the engine's
  * version of the reference's declarative FK constraints
  * (`init_stg.sql:275-343`, `init_dwh.sql:148-196`), which Postgres
  * enforces on insert but a lake has to verify by query.
  *
  * A violation check is a left-anti join (child keys with no parent) —
  * broadcast when the parent is dimension-sized, so the child table
  * never shuffles. NULL FKs are not violations (SQL FK semantics). */
object Integrity {

  /** Child rows whose `childKey` has no match in `parent.parentKey`.
    * No distinct on the parent side: anti-join existence semantics are
    * unaffected by duplicate build-side keys, and the distinct would add
    * a full shuffle stage before the broadcast.
    * Caveat: the parent is always broadcast, and the broadcast carries
    * every duplicate parent key, so it is sized by parent ROWS, not
    * distinct keys. Fine for the intended use (dimensions with
    * unique/PK-like keys); for a parent with heavy key duplication pass
    * `parent.select(key).distinct()`, and for a parent too large to
    * broadcast use [[fkViolationsBloom]]. */
  def fkViolations(child: DataFrame, childKey: String,
                   parent: DataFrame, parentKey: String): DataFrame =
    child.filter(col(childKey).isNotNull)
      .join(broadcast(parent.select(col(parentKey).as("__pk"))),
        col(childKey) === col("__pk"), "left_anti")

  /** FK violations via Bloom-filter reductions on BOTH sides — the
    * shape for parents too large to broadcast exactly. [[fkViolations]]
    * broadcasts the parent key set; at corpus scale (1e9+ distinct
    * parent keys) that either OOMs or forces a full two-sided sort-merge
    * anti join. This variant (long-typed keys; hash string keys to
    * xxhash64 longs on both sides first):
    *
    *  1. PARENT bloom (≈170 MB at 1e8 keys / 1% fpp — broadcastable
    *     where the exact key set is not) splits the child scan-side:
    *     `might_contain = false` is a CERTAIN violation (no false
    *     negatives), emitted without touching any join. Only the
    *     `maybe` rows continue.
    *  2. CHILD bloom prunes the PARENT to keys some child row might
    *     reference — the classic bloom semi-join reduction. False
    *     positives only KEEP extra parent rows, never drop a referenced
    *     key, so the anti join's answer is unchanged while its build
    *     side shrinks from |parent| to ≈|referenced| + fpp·|parent| —
    *     usually back under the broadcast threshold.
    *  3. The residual anti join (`maybe` vs pruned parent) removes the
    *     parent-bloom false positives.
    *
    * Result is EXACTLY [[fkViolations]] (spec-asserted, incl. planted
    * violations and NULL child keys — both variants filter NULLs out, per
    * SQL FK semantics); only the data movement changes. Both predicates
    * use Spark's native codegen'd BloomFilterMightContain (registered as
    * `graft_might_contain` by [[graft.expressions.GraftExtensions]]) — the
    * serialized filter rides the plan as a binary literal, no UDF in the
    * scan. Each filter is sized for its side's non-null key count (one
    * count job per side), so the literal grows with the data, not with a
    * fixed capacity; `expectedKeys` overrides that count for both.
    *
    * Keys MUST be integral (byte/short/int/long): the bloom probe casts
    * to long, and a non-numeric string key would cast to NULL and make
    * every row silently vanish from the result. Guarded with a fail-fast
    * `require` on BOTH key columns — hash string keys to xxhash64 longs
    * on both sides first. */
  def fkViolationsBloom(child: DataFrame, childKey: String,
                        parent: DataFrame, parentKey: String,
                        expectedKeys: Option[Long] = None,
                        fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    def requireIntegral(df: DataFrame, key: String, side: String): Unit = {
      val dt = df.schema(key).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"fkViolationsBloom: $side key '$key' must be an integral type " +
          s"(got ${dt.simpleString}) — a non-integral key would cast to NULL in " +
          "the bloom probe and silently drop every row; hash string keys to " +
          "xxhash64 longs on both sides first")
    }
    requireIntegral(child, childKey, "child")
    requireIntegral(parent, parentKey, "parent")
    def bloomPredicate(df: DataFrame, key: String): Column => Column = {
      // NOT Fanout.spread here (r20, measured): hashing integral keys
      // into the filter is ~ns/row, so the fan-out exchange costs more
      // than the serial build it parallelizes (ri2 A/B: 1.57 s -> 1.98 s)
      val keys = expectedKeys.getOrElse(
        math.max(1L, df.select(count(col(key))).head().getLong(0)))
      val bloom = df.stat.bloomFilter(key, keys, fpp)
      val out = new java.io.ByteArrayOutputStream()
      bloom.writeTo(out)
      val bytes = out.toByteArray
      v => call_function("graft_might_contain", lit(bytes), v.cast("long"))
    }
    val notNull = child.filter(col(childKey).isNotNull)
    val inParentBloom = bloomPredicate(parent, parentKey)
    val certain = notNull.filter(!inParentBloom(col(childKey)))
    val maybe = notNull.filter(inParentBloom(col(childKey)))
    val inChildBloom = bloomPredicate(notNull, childKey)
    val parentPruned = parent.select(col(parentKey).as("__pk"))
      .filter(inChildBloom(col("__pk")))
    maybe.join(parentPruned, col(childKey) === col("__pk"), "left_anti")
      .unionByName(certain)
  }

  /** One summary row per declared FK: (fk_name, child_key, n_violations).
    *
    * All FKs are checked in ONE Spark job AND one scan per distinct child
    * table: FKs sharing a child are fused — the child is scanned once,
    * left-joined against each parent's broadcast distinct-key set, and a
    * single aggregate computes every FK's violation count as
    * `count(when(fk isNotNull && pk isNull))`; the one-row result explodes
    * back into per-FK rows. (The round-2 version unioned 8 independent
    * per-FK aggregates — one job, but each subtree re-scanned its child.)
    * Parent key-sets are built once per (parent, key) so identical
    * broadcast subtrees canonicalize and the exchange is reused.
    * Rows come back in FK declaration order (the index rides through the
    * exploded structs into a final sort — O(#FKs) rows, not data-sized).
    * Everything is lazy: building the report runs no jobs. */
  def report(spark: SparkSession,
             fks: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame = {
    import scala.collection.mutable
    val parentKeys = mutable.Map.empty[(DataFrame, String), DataFrame]
    def keysOf(parent: DataFrame, key: String): DataFrame =
      parentKeys.getOrElseUpdate((parent, key), parent.select(col(key)).distinct())

    // group by child frame IDENTITY (Dataset doesn't override equals),
    // preserving declaration order
    val groups = mutable.LinkedHashMap.empty[DataFrame, mutable.ArrayBuffer[(String, String, DataFrame, String, Int)]]
    fks.zipWithIndex.foreach { case ((name, child, ck, parent, pk), i) =>
      groups.getOrElseUpdate(child, mutable.ArrayBuffer.empty) += ((name, ck, parent, pk, i))
    }

    groups.map { case (child, group) =>
      val childCols = group.map(_._2).distinct.map(col)
      val joined = group.foldLeft(child.select(childCols.toSeq: _*)) {
        case (acc, (_, ck, parent, pk, i)) =>
          val pkCol = s"__pk_$i"
          acc.join(broadcast(keysOf(parent, pk).select(col(pk).as(pkCol))),
            col(ck) === col(pkCol), "left")
      }
      val counts = group.map { case (_, ck, _, _, i) =>
        count(when(col(ck).isNotNull && col(s"__pk_$i").isNull, lit(1))).as(s"__v_$i")
      }
      val agged = joined.agg(counts.head, counts.tail.toSeq: _*)
      val entries = group.map { case (name, ck, _, _, i) =>
        struct(lit(i).as("i"), lit(name).as("fk_name"), lit(ck).as("child_key"),
          col(s"__v_$i").as("n_violations"))
      }
      agged.select(explode(array(entries.toSeq: _*)).as("__fk"))
        .select(col("__fk.i").as("__i"),
          col("__fk.fk_name").as("fk_name"),
          col("__fk.child_key").as("child_key"),
          col("__fk.n_violations").as("n_violations"))
    }.reduce(_ unionByName _)
      .orderBy(col("__i")).drop("__i")
  }
}
