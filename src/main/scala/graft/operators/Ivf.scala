package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate-nearest-neighbor over an embedding
  * column — the classic coarse-quantizer scale path (FAISS IVF-Flat
  * shape) complementing [[Similarity.lshTopK]]:
  *
  *  1. a SMALL set of centroids partitions the corpus into C inverted
  *     lists (cluster assignment);
  *  2. a query probes only its `nprobe` nearest centroids' lists;
  *  3. exact cosine ranks the candidates (n·nprobe/C of the corpus).
  *
  * Scale design: the quantizer is tiny BY CONSTRUCTION (C vectors, e.g.
  * 2^10-2^16 at corpus scale), so the centroids live on the driver and
  * ride into the plan as LITERAL arrays. Assignment and probe-selection
  * are then pure map-side expressions — codegen'd, no UDF, and the
  * corpus NEVER shuffles: candidate selection is a broadcast join of
  * (query, probed-centroid) pairs against the assigned corpus, and only
  * scored candidate rows reach the top-k window's exchange. Training
  * (optional Lloyd refinement) aggregates per-component means
  * DISTRIBUTED (groupBy cluster, component) and collects only C·dim
  * values back — never the data.
  *
  * Ranking vs a fixed row's vector v uses `dot(v, c) / |c|` with |c| a
  * precomputed literal: for fixed v this orders identically to cosine
  * (|v| > 0 is a common positive factor; |v| = 0 scores every centroid
  * 0 either way) and avoids re-deriving norm(v) once per centroid lane
  * (Spark does no subexpression elimination across array/struct lanes).
  * The final candidate scoring is full cosine.
  *
  * Seeds are a deterministic modulo-spread sample (`vec_id % stride ==
  * 0`, smallest C) — SQL-expressible, so the whole lloydIters=0 path is
  * cross-checked end-to-end by the DuckDB oracle; Lloyd refinement is
  * float-order sensitive (Spark's avg is partition-order dependent in
  * the last ulp) and is therefore covered by property specs, not the
  * hash gate. */
object Ivf {

  /** One centroid: id, vector, and its precomputed L2 norm. */
  final case class Centroid(cid: Int, v: Seq[Double], norm: Double)

  private def mkCentroid(cid: Int, v: Seq[Double]): Centroid =
    Centroid(cid, v, math.sqrt(v.map(x => x * x).sum))

  /** Centroid count for a corpus of `n` vectors so the EXPECTED cluster
    * size stays ~`targetCluster` regardless of scale — the
    * [[graft.operators.Similarity.planesFor]] policy applied to
    * centroid-bounded operators (SemDeDup's own contract: C grows with
    * the corpus so n/C stays bounded and the per-cluster quadratic term
    * is a constant-size unit of work; ~100k clusters at web scale).
    * Deterministic in n; clamped to [minC, maxC] — beyond maxC shard the
    * corpus (the quantizer must still fit the driver). */
  def centroidsFor(n: Long, targetCluster: Int = 64, minC: Int = 16,
                   maxC: Int = 65536): Int = {
    require(n > 0 && targetCluster > 0, s"centroidsFor: n=$n target=$targetCluster")
    val raw = math.ceil(n.toDouble / targetCluster).toInt
    math.min(maxC, math.max(minC, raw))
  }

  /** Deterministic seed centroids: the `c` smallest ids with
    * `id % stride == 0` (modulo-spread sample of the corpus). Collects
    * exactly c vectors — the IVF contract is a quantizer that fits the
    * driver. */
  def seedCentroids(emb: DataFrame, idCol: String, vecCol: String,
                    c: Int, stride: Long = 7L): Seq[Centroid] = {
    val rows = emb.filter(col(idCol).isNotNull && col(idCol) % stride === 0)
      .orderBy(col(idCol))
      .limit(c)
      .select(Similarity.toDouble(col(vecCol)).as("v"))
      .collect()
    require(rows.length == c,
      s"seedCentroids: requested c=$c centroids but only ${rows.length} rows " +
        s"have $idCol % $stride == 0 — a silently smaller quantizer would " +
        s"change recall; lower c or the stride")
    rows.toSeq.zipWithIndex.map { case (r, i) =>
      mkCentroid(i, r.getSeq[Double](0))
    }
  }

  /** Array of the `n` nearest centroid ids for vector column `v`,
    * nearest first, ties to the smaller cid — always the
    * [[graft.expressions.NearestCentroids]] kernel (centroid matrix as
    * ONE literal, per-row scoring loop). The kernel owns EVERY centroid
    * count since r21: it was always required at SemDeDup-scale C
    * (10⁴–10⁵, where the literal tree stops analyzing/codegenning —
    * tools/QuantParamProbe, deleted after 17eacc8), and
    * tools/QuantArmProbe (deleted after 17eacc8) measured it 1.7× faster
    * than the literal tree even at the gates' c = 16 (0.23 → 0.14 s over
    * the sf0.1 corpus) while keeping the serialized plan O(1) nodes (the
    * literal trees were the 1.2–1.7 MiB "broadcasting large task binary"
    * warnings in the y5/y6 bench tail). The literal arm, ascending
    * (-score, cid) struct sort, is a test-scope reference, spec-pinned
    * bit-identical (IvfSpec). */
  def nearestCids(v: Column, centroids: Seq[Centroid], n: Int): Column =
    graft.expressions.QuantKernels.nearestCids(v,
      centroids.map(c => (c.cid, c.v, c.norm)), n)

  /** Corpus with its cluster assignment — map-side only, no shuffle, no
    * quantizer join. Output: (id, v, cluster_id, nv) with nv the
    * precomputed vector norm (computed once per vector here so the
    * candidate scoring never re-derives it per pair). One projection at
    * every centroid count: the nearest cid through the
    * [[graft.expressions.NearestCentroids]] kernel ([[nearestCids]] with
    * n = 1: left-to-right IEEE dots, smaller-cid tie-break) and the norm,
    * both inside whole-stage codegen. */
  def assign(emb: DataFrame, idCol: String, vecCol: String,
             centroids: Seq[Centroid]): DataFrame =
    // fan a narrow scan out before the c×d multiply-adds per vector
    // (assignment is the corpus-wide GEMV pass) — no-op at scale
    graft.core.Fanout.spread(emb, col(idCol))
      .filter(col(idCol).isNotNull)
      .select(col(idCol).as("id"), Similarity.toDouble(col(vecCol)).as("v"))
      .withColumn("cluster_id", element_at(nearestCids(col("v"), centroids, 1), 1))
      .withColumn("nv", Similarity.norm(col("v")))

  /** Lloyd refinement: `iters` rounds of (map-side assign → distributed
    * per-component mean → collect C·dim means). An emptied cluster keeps
    * its previous centroid (standard k-means fallback). */
  def lloydRefine(emb: DataFrame, idCol: String, vecCol: String,
                  seeds: Seq[Centroid], iters: Int): Seq[Centroid] = {
    var cents = seeds
    for (_ <- 1 to iters) {
      val means = assign(emb, idCol, vecCol, cents)
        .select(col("cluster_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cluster_id"), col("pos"))
        .agg(avg(col("x")).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cid, rs) =>
          cid -> rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      cents = cents.map(c => means.get(c.cid) match {
        case Some(v) => mkCentroid(c.cid, v)
        case None    => c // emptied cluster: keep previous centroid
      })
    }
    cents
  }

  /** IVF ANN top-k for a bounded query set: train/seed the quantizer,
    * assign the corpus map-side, probe `nprobe` lists per query via a
    * broadcast of (query_id, cluster_id) pairs, rank candidates with
    * exact cosine. Output: (query_id, rank, neighbor_id, cosine_sim) —
    * same shape as [[Similarity.bruteForceTopK]] / [[Similarity.lshTopK]].
    *
    * Expected scanned fraction per query ≈ nprobe/C of the corpus; the
    * corpus-side plan is scan → map-side assign → broadcast-hash join →
    * score, with the ONLY wide exchange carrying already-scored
    * candidate rows into the per-query top-k window. */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryIds: Seq[Long], k: Int = 10, c: Int = 16,
              nprobe: Int = 4, lloydIters: Int = 0,
              stride: Long = 7L): DataFrame = {
    val seeds = seedCentroids(emb, idCol, vecCol, c, stride)
    val cents =
      if (lloydIters > 0) lloydRefine(emb, idCol, vecCol, seeds, lloydIters)
      else seeds
    ivfTopKFromStore(assign(emb, idCol, vecCol, cents), cents,
      emb.filter(col(idCol).isin(queryIds: _*)), idCol, vecCol, k, nprobe)
  }

  /** IVF top-k for a query frame against a PREPARED assignment frame
    * (the [[assign]] shape: (id, v, cluster_id, nv)) — the incremental
    * ANN serving path: the corpus assignment is computed (and persisted
    * to parquet, partitioned by cluster range) ONCE, and each new query
    * batch probes it without re-assigning a single stored vector —
    * at 10⁹ vectors re-running the quantizer per batch is the cost the
    * store exists to delete, exactly the [[graft.operators.Dedup.signatureStore]]
    * contract on the vector side. `cents` must be the quantizer the
    * store was assigned with ([[centroidsAsDf]]/[[centroidsFromDf]]
    * persist it losslessly alongside); a different quantizer routes
    * probes to the wrong lists — recall silently collapses — so
    * production stores keep them together.
    *
    * Plan shape is [[ivfTopK]]'s tail unchanged: store scan →
    * broadcast-hash join against exploded probe lists → score → the
    * only wide exchange carries scored candidates into the top-k
    * window. Spec + gate pin store-roundtrip ≡ direct recompute. */
  def ivfTopKFromStore(assigned: DataFrame, cents: Seq[Centroid],
                       queries: DataFrame, qIdCol: String, qVecCol: String,
                       k: Int = 10, nprobe: Int = 4): DataFrame = {
    val probes = queries
      .select(col(qIdCol).as("query_id"),
        Similarity.toDouble(col(qVecCol)).as("q"))
      .withColumn("nq", Similarity.norm(col("q")))
      .withColumn("cluster_id",
        explode(nearestCids(col("q"), cents, math.min(nprobe, cents.size))))
    // a corpus row lives in exactly ONE list and probe cids are distinct
    // per query, so the join emits each (query, candidate) at most once —
    // no distinct needed (unlike multi-table LSH)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_sim").desc, col("neighbor_id").asc)
    assigned
      .join(broadcast(probes), Seq("cluster_id"))
      .filter(col("query_id") =!= col("id"))
      .withColumn("cosine_sim",
        Similarity.cosinePrenormed(col("q"), col("v"), col("nq"), col("nv")))
      .select(col("query_id"), col("id").as("neighbor_id"), col("cosine_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cosine_sim")
  }

  /** Fold a DELTA batch's [[assign]] frame into an existing assignment
    * store — store MAINTENANCE without re-assigning old vectors. The
    * id sets must be disjoint (assign the delta, merge, done); a
    * duplicate id fails the job loudly rather than corrupting the
    * store silently ([[graft.operators.Dedup.mergeSignatureStore]]
    * convention). Quantizer identity is the CALLER's contract — both
    * sides must have been assigned with the same centroids (persist
    * them next to the store via [[centroidsAsDf]]); the frame itself
    * carries no quantizer fingerprint, so merging stores from
    * different quantizers is undetectable here and meaningless
    * downstream. One exchange on id. */
  def mergeAssignmentStore(store: DataFrame, delta: DataFrame): DataFrame =
    store.unionByName(delta)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("__dup"), first(col("v")).as("v"),
        first(col("cluster_id")).as("cluster_id"), first(col("nv")).as("nv"))
      .select(
        when(col("__dup") === 1, col("id"))
          .otherwise(raise_error(concat(
            lit("mergeAssignmentStore: id "), col("id").cast("string"),
            lit(" exists in both inputs — the delta must be new vectors only"))))
          .as("id"),
        col("v"), col("cluster_id"), col("nv"))

  /** Quantizer as a 3-column frame (cid, v, norm) — persist it next to
    * the assignment store; parquet round-trips doubles bit-exactly, so
    * [[centroidsFromDf]] reconstructs the identical quantizer. */
  def centroidsAsDf(spark: org.apache.spark.sql.SparkSession,
                    cents: Seq[Centroid]): DataFrame = {
    import spark.implicits._
    cents.map(c => (c.cid, c.v, c.norm)).toDF("cid", "v", "norm")
  }

  /** Reconstruct the quantizer from a [[centroidsAsDf]] frame. The
    * norm is the STORED one (never recomputed — bit-exactness of the
    * tie-break must not hinge on a re-derivation). */
  def centroidsFromDf(df: DataFrame): Seq[Centroid] =
    df.select(col("cid"), col("v"), col("norm")).collect()
      .map(r => Centroid(r.getInt(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_.cid).toSeq
}
