package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator: replicates an existing testdata
  * directory `factor`× with remapped keys, producing a larger scale
  * factor for benchmarking (e.g. sf0.1 → sf1). Usage:
  *
  *   runMain graft.tools.ScaleGen <inDir> <outDir> [factor]
  *
  * Design — the goal is a FAIR scale test, i.e. 10× the data should carry
  * ~10× the work for every operator class, the way a real 10× corpus
  * would, with no accidental quadratic blow-ups from the replication
  * itself and no broken FK topology:
  *
  *  - Every key domain is offset per copy by a fixed stride (10^7, far
  *    above any key at the source scale), so each copy is a disjoint,
  *    internally consistent universe: orders still match their customers,
  *    lineitems their orders/parts/suppliers. Join fan-outs per key are
  *    IDENTICAL to the source data; only cardinality grows.
  *  - region/nation stay fixed (TPC-H convention: dims that model the
  *    world don't grow with scale). Their FKs remain valid because
  *    nation/region keys are never remapped.
  *  - documents.text is caesar-shifted per copy (copy 0 = identity):
  *    token counts, lengths, and within-copy dup/near-dup structure are
  *    exactly preserved, but cross-copy shingles never collide, so dup
  *    pairs grow linearly with the corpus — a replicated-verbatim corpus
  *    would instead make every block/bucket 10× hotter and every dup a
  *    100-pair clique, benchmarking the generator's artifact rather than
  *    the operator.
  *  - embeddings get a per-copy deterministic sign-flip pattern (copy 0 =
  *    identity). A sign flip is an orthogonal transform: norms and
  *    within-copy cosines are preserved BIT-IDENTICALLY (float negation
  *    is exact), while cross-copy cosines of cloned vectors decorrelate —
  *    the corpus grows 10× without growing each LSH bucket 10× hot.
  *  - events keep their timestamps (10× event density per window — that
  *    IS the realistic scale-up) with user/event ids offset per copy.
  */
object ScaleGen {

  /** Key-domain stride between copies; far above any source-scale key. */
  val Stride = 10000000L

  /** Zipf-mode hot texts (deliberately NOT caesar'd per copy, so they
    * are identical across every copy): `HotParagraph` lands appended on
    * ~10 % of all docs (one paragraph with 10 % of the corpus's
    * paragraph occurrences — the x9 boilerplate hot key), and
    * `HotDocText` REPLACES ~10 % of all docs wholesale (one exact-dup
    * cluster holding 10 % of the nodes — the x10/x6 mega-cluster).
    * Both skews are the shapes the map-side-combinable-aggregate
    * scaladocs argue about; tools/SkewProbe, deleted after 17eacc8,
    * measured them. */
  val HotParagraph: String =
    "all rights reserved terms of service privacy policy cookie notice " +
      "contact us subscribe to our newsletter for updates"
  val HotDocText: String =
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do " +
      "eiusmod tempor incididunt ut labore et dolore magna aliqua"

  private val Lower = "abcdefghijklmnopqrstuvwxyz"

  /** Per-copy alphabet permutation: copies 0-25 are caesar rotations
    * (copy 0 = identity — preserved so regenerated sf1 output stays
    * bit-identical across rounds), copies ≥ 26 are seeded Fisher-Yates
    * shuffles. Caesar alone WRAPS at 26: at factor 100, copies k and
    * k+26 would share a cipher, so their cloned docs collide shingle-
    * for-shingle and every dup group becomes a cross-copy clique —
    * pair volume then grows quadratically in the same-shift copy count
    * and the scale test benchmarks the generator's artifact. Distinct
    * permutations keep dup/near-dup growth linear at any factor;
    * [[requireDistinctCiphers]] fails loudly on a seed collision. */
  private def permFor(k: Int): String =
    if (k < 26) Lower.drop(k) + Lower.take(k)
    else new scala.util.Random(0xB5E0 + k).shuffle(Lower.toList).mkString

  private[tools] def requireDistinctCiphers(factor: Int): Unit = {
    val ps = (0 until factor).map(permFor)
    require(ps.distinct.size == ps.size,
      s"ScaleGen: cipher collision among $factor copies — bump the seed base")
  }

  private def caesar(c: Column, shift: Int): Column = {
    val rl = permFor(shift)
    translate(translate(c, Lower, rl), Lower.toUpperCase, rl.toUpperCase)
  }

  /** ±1 multiplier pattern for copy k at vector index i: pseudo-random
    * across (k, i), identity at k=0, distinct per copy pair — so the
    * composition of any two copies' patterns is itself pseudo-random and
    * cloned vectors land in unrelated LSH buckets. */
  private def signFlip(x: Column, i: Column, k: Int): Column = {
    val bit = shiftrightunsigned(
      lit(k.toLong) * (i.cast("long") + 17L) * lit(2654435761L), 13)
      .bitwiseAND(lit(1L))
    when(bit === 1L, -x).otherwise(x)
  }

  /** `factor` stacked copies of `df`, transformed per copy index. */
  private def copies(df: DataFrame, factor: Int)(f: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until factor).map(k => f(df, k)).reduce(_ unionByName _)

  private def offsetKeys(df: DataFrame, k: Int, keys: String*): DataFrame =
    keys.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(k * Stride)))

  def main(args: Array[String]): Unit = {
    val inDir  = args(0)
    val outDir = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    // optional comma-separated table filter (e.g. "documents,embeddings"
    // for a docs-only sf10 probe corpus) — default: everything
    val tables: String => Boolean =
      if (args.length > 3) args(3).split(",").toSet else _ => true
    // optional 5th arg "zipf": documents get the hot-key skews (10 % of
    // docs share HotParagraph; a different 10 % become HotDocText
    // exact dups) — the straggler-stress corpus (tools/SkewProbe,
    // deleted after 17eacc8)
    val zipf = args.length > 4 && args(4) == "zipf"
    requireDistinctCiphers(factor)
    val spark = graft.core.GraftSession.get()

    def in(name: String) = graft.sources.Readers.parquet(spark, s"$inDir/$name.parquet")
    def out(df: => DataFrame, name: String, parts: Int): Unit =
      if (tables(name))
        graft.sources.Writers.parquet(df.repartition(parts), s"$outDir/$name.parquet")

    // fixed world dims: copied verbatim, never remapped
    out(in("region"), "region", 1)
    out(in("nation"), "nation", 1)

    out(copies(in("customer"), factor)(offsetKeys(_, _, "c_custkey")),
      "customer", 4)
    out(copies(in("supplier"), factor)(offsetKeys(_, _, "s_suppkey")),
      "supplier", 2)
    out(copies(in("part"), factor)(offsetKeys(_, _, "p_partkey")),
      "part", 4)
    out(copies(in("orders"), factor)(offsetKeys(_, _, "o_orderkey", "o_custkey")),
      "orders", 16)
    out(copies(in("lineitem"), factor)(
      offsetKeys(_, _, "l_orderkey", "l_partkey", "l_suppkey")),
      "lineitem", 32)
    out(copies(in("events"), factor)(offsetKeys(_, _, "event_id", "user_id")),
      "events", 16)

    out(copies(in("documents"), factor) { (df, k) =>
      val base = offsetKeys(df, k, "doc_id")
        .withColumn("text", caesar(col("text"), k))
      // hot texts applied AFTER the cipher, so they are identical in
      // every copy; Stride % 10 == 0, so doc_id % 10 picks the same
      // source rows in each copy
      if (!zipf) base
      else base.withColumn("text",
        when(col("doc_id") % 10 === 7, lit(HotDocText))
          .when(col("doc_id") % 10 === 0,
            concat(col("text"), lit("\n" + HotParagraph)))
          .otherwise(col("text")))
    }, "documents", 8)

    out(copies(in("embeddings"), factor) { (df, k) =>
      val base = offsetKeys(df, k, "vec_id").withColumn("embedding",
        transform(col("embedding"), (x, i) => signFlip(x, i, k)))
      // zipf embeddings (r18 verdict #5): vec_id % 10 == 7 becomes THE
      // hot vector — one fixed 64-dim pattern, identical in EVERY copy
      // (applied after the sign flip, the HotDocText analog), so 10 % of
      // the corpus is one exact-duplicate vector cluster. That is the
      // worst case for every vector operator's data-shape terms at once:
      // the cluster shares a signature in every LSH table (one bucket
      // holding 10 % of the banding rows — the y3 hub-cap/salt stress),
      // lands in one IVF cell (a posting list holding 10 % of the corpus
      // — the hot-cell probe stress for y6), and collapses to one PQ
      // code word. Stride % 10 == 0, so the same source rows are hot in
      // each copy.
      if (!zipf) base
      else base.withColumn("embedding",
        when(col("vec_id") % 10 === 7,
          transform(col("embedding"),
            (_, i) => (sin(i.cast("double") * 2.39996) * 0.7).cast("float")))
          .otherwise(col("embedding")))
    }, "embeddings", 8)

    spark.stop()
  }
}
