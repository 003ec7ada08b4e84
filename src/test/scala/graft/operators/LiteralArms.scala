package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** SQL-expressible reference arms of the PQ, IVF and hyperplane-LSH
  * kernels: the literal expression trees production dispatched to before
  * the codegen kernels replaced them. Specs pin every kernel bit-identical
  * to these (PqSpec, IvfSpec, SimilaritySpec); nothing in the engine calls
  * them.
  */
object LiteralArms {

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
    if (cent.norm > 0) Similarity.dot(v, cv) / lit(cent.norm) else lit(0.0)
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
    * `when(dot > 0, 1 << i)` lanes + a raise_error dimension guard. */
  def hyperplaneSignature(v: Column, planes: Int, table: Int = 0,
                          dim: Int = 64): Column = {
    val sig = Similarity.planeLiterals(planes, dim, table).zipWithIndex.map { case (p, i) =>
      val plane = array(p.map(lit): _*)
      when(Similarity.dot(v, plane) > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    val dimGuard = when(size(v) === dim, lit(0L))
      .otherwise(raise_error(concat(
        lit(s"hyperplaneSignature: expected $dim-dim vector, got "), size(v))))
    sig.reduce(_ + _) + dimGuard
  }

  /** Reference arm of [[Similarity.foldedSignature]]. */
  def foldedSignature(v: Column, planes: Int, table: Int,
                      buckets: Long = 0, dim: Int = 64): Column = {
    val sig = hyperplaneSignature(v, planes, table, dim)
    if (buckets > 0) pmod(sig, lit(buckets)) else sig
  }
}
