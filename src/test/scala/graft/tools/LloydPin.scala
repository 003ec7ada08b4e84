package graft.tools

import org.apache.spark.sql.functions._

/** Independent-comparator pin for the Lloyd-refinement path
  * (`Ivf.lloydRefine`, r14 verdict #6): y4's DuckDB oracle mirrors the
  * `lloydIters = 0` path only, because k-means means are float-order
  * sensitive (Spark's avg merges partial sums in partition order). This
  * pin runs the ENGINE at `lloydIters = 2` and compares the full
  * (query_id, rank, neighbor_id, cosine@6dp) roster against a
  * DRIVER-LOCAL reference that re-derives everything independently —
  * seed selection, cosine-equivalent assignment with the smaller-cid
  * tie-break, per-cluster component means (id-sorted left-to-right
  * summation — a DIFFERENT fold order than Spark's partial aggregates,
  * so agreement is evidence the 6-dp contract absorbs the float-order
  * divergence, the nb1 ln-note class), emptied-cluster carry-over,
  * probe lists, exact-cosine ranking. Expected: diff 0.
  *
  * Usage: tools/run-main.sh graft.tools.LloydPin <sfDir> [iters]
  */
object LloydPin {

  /** Driver-local reference IVF top-k with Lloyd refinement. Pure JVM
    * arithmetic, no Spark — shared with IvfSpec's gate-scale pin. */
  private[graft] def reference(rows: Array[(Long, Array[Double])],
                               c: Int, stride: Long, iters: Int,
                               queryIds: Seq[Long], k: Int,
                               nprobe: Int): Seq[(Long, Int, Long, Double)] = {
    val sorted = rows.sortBy(_._1)
    val seeds: Array[Array[Double]] = sorted.iterator
      .filter { case (id, _) => id % stride == 0 }
      .take(c).map(_._2).toArray
    require(seeds.length == c, s"reference: only ${seeds.length} of $c seeds")
    def norm(v: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      math.sqrt(s)
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    var cents = seeds
    def assignOf(v: Array[Double], cs: Array[Array[Double]]): Int = {
      var best = -1; var bestScore = Double.NegativeInfinity
      var ci = 0
      while (ci < cs.length) {
        val cn = norm(cs(ci))
        val score = if (cn > 0) dot(v, cs(ci)) / cn else 0.0
        if (score > bestScore) { bestScore = score; best = ci }
        ci += 1
      }
      if (best == -1) 0 else best
    }
    for (_ <- 1 to iters) {
      val sums = Array.fill(c)(new Array[Double](sorted.head._2.length))
      val counts = new Array[Long](c)
      sorted.foreach { case (_, v) =>
        val a = assignOf(v, cents)
        counts(a) += 1
        var i = 0
        while (i < v.length) { sums(a)(i) += v(i); i += 1 }
      }
      cents = Array.tabulate(c)(ci =>
        if (counts(ci) == 0) cents(ci) // emptied cluster keeps previous
        else sums(ci).map(_ / counts(ci)))
    }
    val assigned = sorted.map { case (id, v) => (id, v, assignOf(v, cents)) }
    val byCluster = assigned.groupBy(_._3)
    val qset = queryIds.toSet
    val queries = sorted.filter { case (id, _) => qset.contains(id) }
    queries.toSeq.flatMap { case (qid, qv) =>
      val scoresByCid = cents.indices.map { ci =>
        val cn = norm(cents(ci))
        (if (cn > 0) dot(qv, cents(ci)) / cn else 0.0, ci)
      }
      val probes = scoresByCid.sortBy { case (s, ci) => (-s, ci) }
        .take(math.min(nprobe, c)).map(_._2)
      val nq = norm(qv)
      val cand = probes.flatMap(ci => byCluster.getOrElse(ci, Array.empty))
        .filter(_._1 != qid)
        .map { case (nid, nv, _) =>
          val nn = norm(nv)
          val cs = if (nq * nn > 0) dot(qv, nv) / (nq * nn) else 0.0
          (nid, cs)
        }
      cand.sortBy { case (nid, cs) => (-cs, nid) }.take(k).zipWithIndex
        .map { case ((nid, cs), i) =>
          // Spark round() is HALF_UP (BigDecimal), NOT rint's half-even
          (qid, i + 1, nid, java.math.BigDecimal.valueOf(cs)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
        }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val iters = args.lift(1).map(_.toInt).getOrElse(2)
    val spark = graft.core.GraftSession.get()
    val queryIds = Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L)
    val emb = graft.Tables.embeddings(spark, sfDir)
    val t0 = System.nanoTime()
    val engine = graft.operators.Ivf.ivfTopK(emb, "vec_id", "embedding",
        queryIds, k = 10, c = 16, nprobe = 4, lloydIters = iters, stride = 7L)
      .withColumn("cosine_sim", round(col("cosine_sim"), 6))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sorted
    val tEngine = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val rows = emb.select(col("vec_id"),
        graft.operators.Similarity.toDouble(col("embedding")))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val ref = reference(rows, c = 16, stride = 7L, iters = iters,
      queryIds = queryIds, k = 10, nprobe = 4).sorted
    val tRef = (System.nanoTime() - t1) / 1e9
    val diff = engine.toSet.diff(ref.toSet) ++ ref.toSet.diff(engine.toSet)
    println(f"[lloydpin] sf=$sfDir iters=$iters engine=${engine.size}%d rows " +
      f"ref=${ref.size}%d rows diff=${diff.size}%d " +
      f"(engine $tEngine%.1f s, ref $tRef%.1f s)")
    if (diff.nonEmpty) diff.take(20).foreach(d => println(s"[lloydpin] DIFF $d"))
    spark.stop()
    if (diff.nonEmpty) sys.exit(1)
  }
}
