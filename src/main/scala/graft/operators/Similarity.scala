package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  * Three paths:
  *  - [[bruteForceTopK]]: exact cosine top-k of a bounded query set
  *    against the corpus — the correctness baseline. The query side is
  *    broadcast, so the corpus never shuffles; cost is O(|Q|·n·d).
  *  - [[lshTopK]]: random-hyperplane LSH bucketing (Charikar) with L
  *    hash tables as the scale path — candidates share a signature
  *    bucket in any table, then exact cosine ranks within candidates.
  *  - [[knnGraph]]: the same banding with every vector as a query.
  *
  * One of each primitive: [[cosinePrenormed]] scores every pair over
  * [[norm]]s computed once per vector, through the codegen'd
  * [[graft.expressions.DotProduct]] kernel, and [[hyperplaneSignature]]
  * is the one signature, through the codegen'd
  * [[graft.expressions.HyperplaneSig]] kernel. Both are distributed and
  * deterministic (ascending-index folds, the same IEEE sequence every
  * run).
  */
object Similarity {

  /** Cast a float array column to double. */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Index-ordered dot product through the codegen'd
    * [[graft.expressions.DotProduct]] kernel — ascending-index IEEE
    * summation, bit-identical to the `zip_with`/`aggregate` reference
    * form (test-scope `LiteralArms.dot`, CosineExprSpec), no intermediate
    * array, full whole-stage codegen.
    * This is the per-candidate-PAIR scoring op of every banded ANN
    * verify stage (r21: the zip_with form evaluated interpreted there). */
  def dotNative(a: Column, b: Column): Column =
    graft.expressions.DotProduct.column(a, b)

  def norm(a: Column): Column = sqrt(dotNative(a, a))

  /** The engine's one cosine, from PRECOMPUTED norms ([[norm]]): the
    * norms are computed once per VECTOR instead of once per candidate
    * PAIR, so each pair costs one dot reduction instead of three, and
    * the norm rides the attach join as a single extra double per row.
    * Every scoring step calls it — [[bruteForceTopK]], [[lshTopK]],
    * [[knnGraph]], the IVF verify and both embedding near-dup passes.
    *
    * A zero norm scores 0.0 (not NaN); a null vector or norm scores
    * null. A NaN element makes the norm NaN, which Spark's `>` orders
    * above every number, so the score is NaN. */
  def cosinePrenormed(a: Column, b: Column, na: Column, nb: Column): Column = {
    val d = na * nb
    when(d > 0, dotNative(a, b) / d).when(d.isNotNull, lit(0.0))
  }

  /** Deterministic random hyperplanes: `planes` rows of `dim` N(0,1)
    * doubles from a fixed per-table seed. */
  def planeLiterals(planes: Int, dim: Int = 64, table: Int = 0): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(20240601L + 7919L * table)
    Seq.fill(planes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Plane count for a corpus of `n` vectors so the EXPECTED bucket size
    * stays ~`targetBucket` regardless of scale: 2^planes buckets per
    * table, so planes = ceil(log2(n / targetBucket)). This is the
    * round-8 y3 finding made policy — with planes fixed, a 10× corpus
    * pushes every bucket 10× past the candidate cap and the knn graph's
    * per-doc candidate volume jumps from avg-bucket·L to cap·L (measured
    * 18× time at 10× data at sf1); with buckets scaling alongside the
    * corpus, per-doc candidates — and per-task work — stay constant.
    * Deterministic in n, so a caller pinning n pins the whole plan;
    * clamped to [minPlanes, maxPlanes] (beyond 2^16 buckets per table,
    * scale by `tables` or shard the corpus instead). */
  def planesFor(n: Long, targetBucket: Int = 32, minPlanes: Int = 4,
                maxPlanes: Int = 16): Int = {
    require(n > 0 && targetBucket > 0, s"planesFor: n=$n target=$targetBucket")
    val raw = math.ceil(math.log(n.toDouble / targetBucket) / math.log(2)).toInt
    math.min(maxPlanes, math.max(minPlanes, raw))
  }

  /** Folded bucket count for a corpus of `n` vectors: exactly
    * `round(n / targetBucket)` buckets (clamped to the signature space
    * `2^planes`), so the realized AVERAGE bucket size is `targetBucket`
    * at ANY n — not the (target/2, target] power-of-two band the raw
    * sign-bit signature gives. The r19 verdict measured planesFor's
    * ceil-to-power-of-two quantization as a legitimate ≤2× oscillation
    * on a 10× scale step (y3's 13.64× candidate step at sf1→sf10 is
    * avg-bucket 24.4 → 30.5 riding on the 10× data): folding the
    * signature into a non-power-of-two bucket count (`sig mod B` — the
    * sign bits of N(0,1) hyperplanes are near-uniform over 2^planes, so
    * the fold spreads evenly; 2^planes/B < 2 groups land per bucket)
    * centers every SF on the same average and the 10× step on ~10×.
    * At the oracle SF (500 vectors, 4 planes, target 32) B = 16 = 2^4 —
    * the fold is the identity there, so the code-generated SQL mirrors
    * stay valid byte-for-byte. Beyond n = targetBucket·2^maxPlanes the
    * clamp binds and average bucket size grows linearly — per-row work
    * is then bounded only by the candidate cap (the regime
    * ANN_COUNTERS_clamped.json measures). */
  def bucketsFor(n: Long, targetBucket: Int = 32, planes: Int): Long = {
    require(n > 0 && targetBucket > 0 && planes > 0,
      s"bucketsFor: n=$n target=$targetBucket planes=$planes")
    math.max(2L, math.min(1L << planes, math.round(n.toDouble / targetBucket)))
  }

  /** Sign-bit signature of a (double-cast) vector against the fixed
    * hyperplanes of one hash table — an integer bucket id in
    * [0, 2^planes), optionally folded into a non-power-of-two bucket
    * count (`buckets <= 0` = no fold — raw sign-bit bucket). The planes
    * are `dim`-dimensional; a mismatched vector length raises (zip_with
    * would otherwise null-pad, silently sending every vector to bucket 0
    * and degrading LSH to a cross join).
    *
    * Always the [[graft.expressions.HyperplaneSig]] kernel since r21
    * (planes as ONE literal, codegen'd sign-bit loop, the fold inside
    * the same call): the literal per-plane `zip_with`/`aggregate` trees
    * evaluated interpreted and grew O(tables·planes·dim) plan nodes —
    * the same pathology the PQ/IVF kernels fixed, measured 5.4×/1.7×
    * there (tools/QuantArmProbe, deleted after 17eacc8) and a y2/y3/x5
    * banding-stage cost here. The signature is non-negative
    * (< 2^planes), so the kernel's `%` is the literal arm's `pmod` and
    * the DuckDB oracle mirrors it verbatim. The literal arm is a
    * test-scope reference, spec-pinned bit-identical (SimilaritySpec). */
  def hyperplaneSignature(v: Column, planes: Int, table: Int = 0,
                          buckets: Long = 0L, dim: Int = 64): Column =
    graft.expressions.QuantKernels.hyperplaneSig(v,
      planeLiterals(planes, dim, table), buckets = math.max(0L, buckets))

  /** L-table hyperplane banding of an (id, v) frame: one (id, t, bucket)
    * row per vector per table, bucket = table t's [[hyperplaneSignature]].
    * The one banding every hyperplane-LSH path (and the AnnCounters
    * volume counters) runs; callers add their own partitioning. */
  private[graft] def tableBuckets(base: DataFrame, planes: Int, tables: Int,
                                  buckets: Long): DataFrame =
    base.select(col("id"),
      posexplode(array((0 until tables).map(t =>
        hyperplaneSignature(col("v"), planes, t, buckets)): _*)))
      .withColumnRenamed("pos", "t").withColumnRenamed("col", "bucket")

  /** Exact cosine top-k for a fixed set of query vector ids.
    * Output: (query_id, rank, neighbor_id, cosine_sim), scored like
    * [[lshTopK]]: [[norm]] once per corpus vector and once per query,
    * [[cosinePrenormed]] per pair. */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     queryIds: Seq[Long], k: Int = 10): DataFrame = {
    val corpus = emb.select(col(idCol).as("neighbor_id"), toDouble(col(vecCol)).as("v"))
      .withColumn("nv", norm(col("v")))
    val queries = emb.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("q"))
      .withColumn("nq", norm(col("q")))
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine_sim",
        cosinePrenormed(col("q"), col("v"), col("nq"), col("nv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_sim").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cosine_sim")
  }

  /** LSH-bucketed ANN top-k with L independent hash tables (the standard
    * Charikar construction): a corpus vector is a candidate when it
    * shares a bucket with the query in ANY table; exact cosine ranks the
    * candidates. Expected touched fraction ≈ L/2^planes of the corpus per
    * query — the knob that trades recall for scan volume at scale. */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryIds: Seq[Long], k: Int = 10, planes: Int = 6,
              tables: Int = 8, buckets: Long = 0): DataFrame = {
    // fan a narrow scan out before the per-row hyperplane signatures
    // (tables × planes × dim multiply-adds per vector) — no-op at scale
    val base = graft.core.Fanout.spread(emb, col(idCol))
      .select(col(idCol).as("id"), toDouble(col(vecCol)).as("v"))
    // (table, bucket) pairs per vector, one hash table per array slot.
    // Ids only past this point: the banding join and the candidate
    // distinct shuffle two longs per row, never the vectors themselves.
    // buckets > 0 folds the signature into exactly that many buckets
    // ([[bucketsFor]] — average bucket size pinned to target at any n).
    val banded = tableBuckets(base, planes, tables, buckets)
    val probes = banded.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("query_id"), col("t"), col("bucket"))
    val candidates = banded.select(col("id").as("neighbor_id"), col("t"), col("bucket"))
      .join(broadcast(probes), Seq("t", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    // Verify: candidates are bounded by |Q| (the contract is a bounded
    // query set, as in bruteForceTopK), so broadcasting them back against
    // the corpus keeps the corpus un-shuffled; query vectors are a second
    // tiny broadcast. Only scored candidate rows reach the top-k window.
    val queryVecs = base.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("query_id"), col("v").as("q"), norm(col("v")).as("nq"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_sim").desc, col("neighbor_id").asc)
    base.select(col("id").as("neighbor_id"), col("v"), norm(col("v")).as("nv"))
      .join(broadcast(candidates), Seq("neighbor_id"))
      .join(broadcast(queryVecs), Seq("query_id"))
      .withColumn("cosine_sim",
        cosinePrenormed(col("q"), col("v"), col("nq"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cosine_sim")
  }

  /** KNN graph: approximate top-k nearest neighbors for EVERY vector
    * (all-docs-as-queries) — the shape a corpus-scale dedup-by-nearest
    * or diversity-sampling pass actually runs, where neither side is a
    * bounded query set and NOTHING can broadcast.
    *
    * Construction:
    *  1. L hyperplane tables band every vector to (t, bucket) — ids
    *     only downstream; vectors never ride a wide shuffle.
    *  2. Hub-bucket cap on the NEIGHBOR side only: within each
    *     (t, bucket) only the `maxBucketSize` smallest ids stay as
    *     candidate NEIGHBORS (deterministic). The QUERY side is
    *     uncapped — every id's own banding row is exempt, so every id
    *     queries its buckets' survivors and full query coverage holds
    *     even inside a hot bucket. Candidate volume per bucket is
    *     |bucket|·cap instead of |bucket|² — Σ over buckets ≤ n·L·cap,
    *     LINEAR in the corpus (the capped-both-sides Σ cap² bound is
    *     smaller, but silently drops capped-out ids from the output —
    *     a violated contract, not a saving). The ranking window needs
    *     exactly the (t, bucket) hash partitioning the self-join needs,
    *     so the cap costs no extra exchange.
    *  3. HOT-BUCKET SALT: the query side of each (t, bucket) splits into
    *     `saltChunk`-row chunks (by the cap window's row number) and the
    *     capped neighbor side (≤ `maxBucketSize` rows) replicates across
    *     those chunks, so the join key becomes (t, bucket, salt). The
    *     candidate SET is bit-identical to the unsalted join — every
    *     query still meets exactly its bucket's capped survivors — but
    *     one scheduling unit is now ≤ saltChunk·cap pairs, so task
    *     granularity tracks DATA SIZE, not table-count (round-8 finding:
    *     tables·2^planes coarse units made one straggler move the whole
    *     query at local[32]). Replication cost is ≤ cap/saltChunk extra
    *     id-rows per banding row — ids only, negligible.
    *  4. Banded SORT-MERGE self-join (never broadcast): both legs read
    *     the identical banding exchange subtree (the cap's window sits
    *     ABOVE it), so the second leg is a ReusedExchange and banding
    *     is computed once.
    *  5. Candidate distinct on the two ids, then vectors re-attach via
    *     two merge joins on id — again one exchange + one reuse.
    *  6. Exact cosine ranks per query; `row_number` keeps top-k.
    *
    * An id can still be absent from `query_id` only when LSH gives it no
    * candidate at all (alone in every bucket it lands in) — inherent to
    * any LSH scheme, independent of the cap.
    *
    * Expected cost at corpus scale: O(n·L) banding rows (ids only),
    * candidate volume ≤ n·L·cap, and exactly ONE corpus-wide
    * (id, vector) exchange for the re-attach — computed once,
    * ReusedExchange on the second leg. That single vector shuffle is
    * inherent to all-docs-as-queries (every vector must meet its
    * candidate list); everything else moves (long, long) pairs. */
  def knnGraph(emb: DataFrame, idCol: String, vecCol: String, k: Int = 10,
               planes: Int = 6, tables: Int = 8,
               maxBucketSize: Int = 256, saltChunk: Int = 1024,
               buckets: Long = 0): DataFrame = {
    // null ids are dropped EXPLICITLY (meaningless in a knn graph):
    // downstream joins infer isnotnull on the query leg but can't push
    // it through the cap's window on the neighbor leg — filtering here
    // keeps both legs' scan subtrees identical so the exchange is reused
    // fan a narrow scan out before the per-row signature/norm arithmetic
    // (tables × planes × dim multiply-adds per vector) — no-op at scale,
    // and both join legs still hang off the SAME spread subtree so the
    // exchange-reuse structure below is unchanged
    val base = graft.core.Fanout.spread(emb, col(idCol))
      .filter(col(idCol).isNotNull)
      .select(col(idCol).as("id"), toDouble(col(vecCol)).as("v"))
      .withColumn("nv", norm(col("v")))
    val capW = Window.partitionBy(col("t"), col("bucket")).orderBy(col("id"))
    // one EXPLICIT (t, bucket) repartition both join legs hang off: the
    // cap's window sits ABOVE it, so the query leg, the window, and the
    // sort-merge join all consume the same exchange (ReusedExchange) and
    // the signature computation runs exactly once. (Leaving Spark to
    // plan the shuffles instead would push a partial WindowGroupLimit
    // BELOW the neighbor leg's exchange — the two subtrees then differ,
    // nothing is reused, and banding is computed twice.)
    val banded = tableBuckets(base, planes, tables, buckets)
      .repartition(col("t"), col("bucket"))
    // one windowed pass per leg over the SAME reused exchange yields the
    // cap rank AND the bucket size (count needs no extra sort: it shares
    // the (t, bucket) partitioning the row_number sort establishes)
    val cntW = Window.partitionBy(col("t"), col("bucket"))
    val ranked = banded
      .withColumn("__rn", row_number().over(capW))
      .withColumn("__cnt", count(lit(1)).over(cntW))
    // query side: uncapped, chunked into salts of ≤ saltChunk rows
    val queries = ranked
      .withColumn("salt", floor((col("__rn") - 1) / saltChunk))
      .select(col("id").as("query_id"), col("t"), col("bucket"), col("salt"))
    // neighbor side: capped, replicated to EVERY salt its bucket has
    // (ceil(cnt/saltChunk) of them) so each query chunk sees the full
    // capped survivor list — the unsalted candidate set, exactly
    val capped = ranked.filter(col("__rn") <= maxBucketSize)
      .withColumn("salt",
        explode(sequence(lit(0L), floor((col("__cnt") - 1) / saltChunk))))
      .select(col("id").as("neighbor_id"), col("t"), col("bucket"), col("salt"))
    val candidates = queries.hint("merge")
      .join(capped, Seq("t", "bucket", "salt"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_sim").desc, col("neighbor_id").asc)
    candidates
      .join(base.select(col("id").as("query_id"), col("v").as("q"),
        col("nv").as("nq")).hint("merge"), Seq("query_id"))
      .join(base.select(col("id").as("neighbor_id"), col("v").as("n"),
        col("nv").as("nn")).hint("merge"), Seq("neighbor_id"))
      .withColumn("cosine_sim",
        cosinePrenormed(col("q"), col("n"), col("nq"), col("nn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cosine_sim")
  }
}
