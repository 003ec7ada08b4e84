package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) with asymmetric-distance (ADC) search —
  * the compressed-domain ANN path (FAISS PQ/ADC shape) completing the
  * engine's ANN family: brute force (y1), hyperplane LSH (y2), KNN
  * graph (y3), IVF (y4), PQ (y5).
  *
  *  1. the vector space splits into `m` subspaces of dim/m components;
  *  2. each subspace gets a tiny codebook of `ks` centroids — the
  *     corpus encodes to m small codes per vector (here m ints; a
  *     production layout packs them into m bytes — 64× smaller than
  *     the raw doubles);
  *  3. a query precomputes its 1 lookup table (ks·m subspace distances,
  *     ONCE per query), and scoring a corpus vector is then m table
  *     lookups — no vector arithmetic in the scan.
  *
  * Scale design mirrors [[Ivf]]: codebooks are tiny BY CONSTRUCTION
  * (m·ks·(dim/m) doubles) and ride into the plan as literals, so
  * encoding is a pure map-side projection and the corpus NEVER
  * shuffles; queries (bounded set, the [[Similarity.bruteForceTopK]]
  * contract) broadcast WITH their precomputed lookup tables; the only
  * wide exchange carries (query, neighbor, adc) rows into the top-k
  * window. The scan-side row is the CODES — the raw vectors never
  * enter the scoring join at all.
  *
  * Determinism/oracle: codebooks seed from the same modulo-spread
  * sample as [[Ivf.seedCentroids]] (SQL-expressible, no training), the
  * per-subspace argmin tie-breaks to the smaller code, the ADC sum is
  * a FIXED-ORDER fold over subspaces (s = 0..m-1), and ranks order by
  * the 6-dp-rounded distance — the whole path hash-matches in DuckDB. */
object Pq {

  /** codebooks(s)(c) = centroid c of subspace s (dim/m doubles). */
  type Codebooks = Seq[Seq[Seq[Double]]]

  /** Seed codebooks from the `ks` smallest ids with `id % stride == 0`:
    * seed vector c sliced into m pieces supplies centroid c of every
    * subspace. Collects exactly ks vectors — the PQ contract is a
    * codebook that fits anywhere. */
  def seedCodebooks(emb: DataFrame, idCol: String, vecCol: String,
                    m: Int, ks: Int, stride: Long = 7L): Codebooks = {
    val rows = emb.filter(col(idCol).isNotNull && col(idCol) % stride === 0)
      .orderBy(col(idCol))
      .limit(ks)
      .select(Similarity.toDouble(col(vecCol)).as("v"))
      .collect()
    require(rows.length == ks,
      s"seedCodebooks: requested ks=$ks centroids but only ${rows.length} " +
        s"rows have $idCol % $stride == 0 — a silently smaller codebook " +
        s"would change recall; lower ks or the stride")
    val seeds = rows.map(_.getSeq[Double](0))
    val dim = seeds.head.size
    require(dim % m == 0, s"seedCodebooks: dim $dim not divisible by m=$m")
    val d = dim / m
    (0 until m).map(s => seeds.toSeq.map(_.slice(s * d, (s + 1) * d)))
  }

  /** codes[m] for a vector column — exposed so compositions ([[IvfPq]])
    * can encode in the same projection as other map-side columns.
    * Always the [[graft.expressions.PqCodes]] kernel (codebooks as ONE
    * literal, O(1) plan nodes) since r21: the kernel was always required
    * at production ks = 256–4096 (the literal tree stops
    * analyzing/codegenning — tools/QuantParamProbe, deleted after
    * 17eacc8), and tools/QuantArmProbe (deleted after 17eacc8) measured
    * it 5.4× faster than the literal tree even at the gates' ks = 16
    * (0.86 → 0.16 s over the sf0.1 corpus); the literal trees were also
    * the 1.2–1.7 MiB "broadcasting large task binary" warnings in the
    * y5/y6 bench tail. The literal arm is a test-scope reference,
    * spec-pinned bit-identical (PqSpec). */
  private[graft] def codesCol(v: Column, books: Codebooks): Column =
    graft.expressions.QuantKernels.pqCodes(v, books)

  /** Per-query lookup table: lut(s)(c) = d²(q_s, centroid c of
    * subspace s), computed ONCE per query row. Kernel-only like
    * [[codesCol]] (same r21 measurement and rationale). */
  private[graft] def lutCol(q: Column, books: Codebooks): Column =
    graft.expressions.QuantKernels.pqLut(q, books)

  /** Fixed-order ADC fold s = 0..m-1 over a lut and a codes column —
    * deterministic double sum, mirrored exactly by the oracle's ordered
    * list fold. */
  private[operators] def adcCol(lut: Column, codes: Column, m: Int): Column =
    (0 until m).map(s =>
      element_at(element_at(lut, s + 1),
        element_at(codes, s + 1) + 1)).reduce(_ + _)

  /** Corpus encoded to (id, codes[m]) — a pure map-side projection; the
    * raw vector is DROPPED here and never reappears downstream. */
  def encode(emb: DataFrame, idCol: String, vecCol: String,
             books: Codebooks): DataFrame = {
    val v = Similarity.toDouble(col(vecCol))
    // fan a narrow scan out before the m×ks×(d/m) argmin per vector —
    // encoding is the corpus-wide compute pass; no-op at scale
    graft.core.Fanout.spread(emb, col(idCol))
      .filter(col(idCol).isNotNull)
      .select(col(idCol).as("id"), codesCol(v, books).as("codes"))
  }

  /** ADC top-k for a bounded query set: encode the corpus map-side,
    * broadcast the queries with their per-query lookup tables
    * (lut(s)(c) = d²(q_s, centroid c of subspace s), computed ONCE per
    * query row), score each (query, corpus) pair with m table lookups
    * summed in fixed subspace order, rank by the rounded distance.
    * Output: (query_id, rank, neighbor_id, adc_dist) — adc_dist is the
    * approximate squared L2 to the neighbor's RECONSTRUCTION (standard
    * ADC semantics; exact re-rank of the shortlist is a downstream
    * cosine join if needed). */
  def adcTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryIds: Seq[Long], k: Int = 10, m: Int = 8, ks: Int = 16,
              stride: Long = 7L): DataFrame = {
    val books = seedCodebooks(emb, idCol, vecCol, m, ks, stride)
    val encoded = encode(emb, idCol, vecCol, books)
    val q = Similarity.toDouble(col(vecCol))
    val queries = emb.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), lutCol(q, books).as("lut"))
    val adc = adcCol(col("lut"), col("codes"), m)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    encoded.crossJoin(broadcast(queries))
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        round(adc, 6).as("adc_dist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "adc_dist")
  }
}
