package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis
import graft.operators.Dedup.{jaccard, minhashAgg, shinglesFromTokens, tokenized}

/** SQL-expressible reference arms of the dot, PQ, IVF, hyperplane-LSH
  * and BPE-encode kernels: the literal expression trees production
  * dispatched to before the codegen kernels replaced them. Specs pin
  * every kernel bit-identical to these (CosineExprSpec, PqSpec, IvfSpec,
  * SimilaritySpec, LmSpec); nothing in the engine calls them. Also the
  * two-pass MinHash-LSH pair finder, the independent reference
  * [[Dedup.minhashLshPairs]] is pinned row-identical to (TextDedupSpec).
  */
object LiteralArms {

  /** Index-ordered dot product as a `zip_with`/`aggregate` fold — the
    * reference form of [[Similarity.dotNative]]. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Components s·d+1 .. (s+1)·d of `v` (1-based slice). */
  private def subvec(v: Column, s: Int, d: Int): Column =
    slice(v, s * d + 1, d)

  /** Squared L2 distance between a column subvector and a literal
    * centroid — one fused fold, no intermediate arrays beyond the zip. */
  private def l2sq(a: Column, cent: Seq[Double]): Column =
    aggregate(zip_with(a, array(cent.map(lit): _*),
      (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)

  /** Per-subspace code: argmin-distance centroid, ties to the smaller
    * code (ascending (dist, cid) struct sort). */
  private def code(v: Column, s: Int, d: Int, book: Seq[Seq[Double]]): Column = {
    val entries = book.zipWithIndex.map { case (c, i) =>
      struct(l2sq(subvec(v, s, d), c).as("dist"), lit(i).as("cid"))
    }
    element_at(transform(array_sort(array(entries: _*)),
      e => e.getField("cid")), 1)
  }

  /** Reference arm of [[Pq.codesCol]]. */
  def codesCol(v: Column, books: Pq.Codebooks): Column = {
    val d = books.head.head.size
    array(books.indices.map(s => code(v, s, d, books(s))): _*)
  }

  /** Reference arm of [[Pq.lutCol]]. */
  def lutCol(q: Column, books: Pq.Codebooks): Column = {
    val d = books.head.head.size
    array(books.indices.map(s =>
      array(books(s).map(c => l2sq(subvec(q, s, d), c)): _*)): _*)
  }

  /** `dot(v, centroid) / |centroid|` — cosine-equivalent ranking score
    * for a fixed row vector. */
  private def centScore(v: Column, cent: Ivf.Centroid): Column = {
    val cv = array(cent.v.map(lit): _*)
    if (cent.norm > 0) dot(v, cv) / lit(cent.norm) else lit(0.0)
  }

  /** Reference arm of [[Ivf.nearestCids]]: ascending (-score, cid)
    * struct sort, the `n` first cids. */
  def nearestCids(v: Column, centroids: Seq[Ivf.Centroid], n: Int): Column = {
    val entries = centroids.map { c =>
      struct((-centScore(v, c)).as("negscore"), lit(c.cid).as("cid"))
    }
    slice(transform(array_sort(array(entries: _*)), e => e.getField("cid")), 1, n)
  }

  /** Reference arm of [[Similarity.hyperplaneSignature]]: per-plane
    * `when(dot > 0, 1 << i)` lanes + a raise_error dimension guard,
    * folded by `pmod` when `buckets > 0`. */
  def hyperplaneSignature(v: Column, planes: Int, table: Int = 0,
                          buckets: Long = 0L, dim: Int = 64): Column = {
    val lanes = Similarity.planeLiterals(planes, dim, table).zipWithIndex.map { case (p, i) =>
      val plane = array(p.map(lit): _*)
      when(dot(v, plane) > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    val dimGuard = when(size(v) === dim, lit(0L))
      .otherwise(raise_error(concat(
        lit(s"hyperplaneSignature: expected $dim-dim vector, got "), size(v))))
    val sig = lanes.reduce(_ + _) + dimGuard
    if (buckets > 0) pmod(sig, lit(buckets)) else sig
  }

  /** [[Lm.applyMergeStr]] on a token-array column: one BPE merge
    * (a, b) -> a·b, greedy left-to-right non-overlapping, as one regexp
    * pass over the space-padded joined string. */
  def applyMerge(toks: Column, a: String, b: String): Column = {
    val padded = concat(lit(" "), array_join(toks, " "), lit(" "))
    // split("", " ") is [""], not [] — guard the no-token row
    when(size(toks) === 0, toks)
      .otherwise(split(trim(Lm.applyMergeStr(padded, a, b)), " "))
  }

  /** Reference arm of [[Lm.bpeEncode]]: the whole merge table as one
    * projection of nested literal-pattern regexp passes (one linear
    * string pass per merge) over the space-padded token string. Same
    * output shape: (doc_id, n_tokens_raw, n_tokens_bpe, encoded_text). */
  def bpeEncodeLiteral(df: DataFrame, idCol: String, textCol: String,
                       merges: Seq[(String, String)]): DataFrame = {
    val base = df.select(col(idCol).as("doc_id"),
      TextAnalysis.tokens(col(textCol)).as("__raw"))
    val padded = concat(lit(" "), array_join(col("__raw"), " "), lit(" "))
    val encStr = trim(merges.foldLeft(padded) {
      case (s, (a, b)) => Lm.applyMergeStr(s, a, b)
    })
    base.select(col("doc_id"), col("__raw"), encStr.as("__encs"))
      .select(col("doc_id"),
        size(col("__raw")).as("n_tokens_raw"),
        when(size(col("__raw")) === 0, lit(0))
          .otherwise(size(split(col("__encs"), " "))).as("n_tokens_bpe"),
        col("__encs").as("encoded_text"))
  }

  /** (id, sig) via the typed array aggregator ([[Dedup.minhashAgg]]). */
  private def minhashSignaturesTyped(df: DataFrame, idCol: String, textCol: String,
                                     n: Int = 3, numHashes: Int = 128): DataFrame = {
    val hashRows = tokenized(df, idCol, textCol).select(col("id"),
      explode(transform(shinglesFromTokens(col("__toks"), n),
        s => TextAnalysis.tokenHash32(s))).as("h"))
    val agg = minhashAgg(numHashes)
    hashRows.groupBy(col("id")).agg(agg(col("h")).as("sig"))
  }

  /** LSH candidate pairs + exact-Jaccard verification — the plain
    * two-pass reference arm of [[Dedup.minhashLshPairs]] (shingles are
    * derived once for the signatures and once for the verify sets).
    * bands×rowsPerBand hashes; a pair is a candidate if any band of its
    * signatures matches exactly (equality join on (band, bucket-hash)).
    * Candidates carry only ids; shingle sets are joined back for the
    * verify step, so the band shuffle stays narrow.
    * Output: (id_a, id_b, jaccard_sim) with jaccard_sim >= threshold. */
  def minhashLshPairsPlain(df: DataFrame, idCol: String, textCol: String,
                           n: Int = 3, bands: Int = 16, rowsPerBand: Int = 8,
                           threshold: Double = 0.5): DataFrame = {
    val numHashes = bands * rowsPerBand
    // hashed shingle sets for the verify step (same rationale as in
    // ngramJaccardPairs: narrow shuffle, long compares)
    val grams = tokenized(df, idCol, textCol).select(col("id"),
      transform(shinglesFromTokens(col("__toks"), n), g => xxhash64(g)).as("grams"))
    val sigs = minhashSignaturesTyped(df, idCol, textCol, n, numHashes)

    val banded = sigs.select(col("id"),
      posexplode(array((0 until bands).map(b =>
        slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)): _*)))
      .withColumnRenamed("pos", "band")
      .withColumn("bucket", xxhash64(col("band"), col("col").cast("string")))
      .select("id", "band", "bucket")

    // sort-merge self-join: both sides are the same exchange subtree,
    // so the second is a ReusedExchange (see Dedup.selfCandidates)
    val candidates = banded.select(col("id").as("id_a"), col("band"), col("bucket"))
      .hint("merge")
      .join(banded.select(col("id").as("id_b"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

    // same reuse argument for the two grams attach legs: both shuffle the
    // grams subtree by its id — one Exchange, one ReusedExchange.
    candidates
      .join(grams.select(col("id").as("id_a"), col("grams").as("grams_a")).hint("merge"), Seq("id_a"))
      .join(grams.select(col("id").as("id_b"), col("grams").as("grams_b")).hint("merge"), Seq("id_b"))
      .withColumn("jaccard_sim", jaccard(col("grams_a"), col("grams_b")))
      .filter(col("jaccard_sim") >= threshold)
      .select("id_a", "id_b", "jaccard_sim")
  }
}
