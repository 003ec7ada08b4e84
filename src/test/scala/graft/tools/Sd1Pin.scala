package graft.tools

import org.apache.spark.sql.functions._

/** Independent-comparator pin for sd1_semantic_dedup at scale factors
  * the DuckDB oracle cannot reach (r14 verdict #3: sd1 was the one
  * dedup gate still sf0.01-only — its oracle SQL embeds the sf0.01
  * centroid LIMIT and the allocator-heavy within-cluster pair join).
  * The ENGINE runs the exact gate derivation (`SparkEntry.queries`'s
  * sd1 entry — doubled corpus, centroidsFor-scaled quantizer, which at
  * sf1 runs hundreds of centroids through the assign kernel, a width
  * the sf0.01 oracle never reaches); the REFERENCE
  * re-derives the whole SemDeDup path driver-local — seed selection,
  * argmax assignment with the smaller-cid tie-break, within-cluster
  * pair cosines, the larger-id-drops rule — through plain JVM arrays,
  * no Spark plan shapes shared. Expected: diff 0 over the full
  * (vec_id, cluster_id, kept) roster.
  *
  * Usage: tools/run-main.sh graft.tools.Sd1Pin <sfDir>
  */
object Sd1Pin {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.get()
    val t0 = System.nanoTime()
    val engine = graft.SparkEntry.queries("sd1_semantic_dedup")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
      .sortBy(_._1).toSeq
    val tEngine = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    val base = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        graft.operators.Similarity.toDouble(col("embedding")))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    // the gate's nearDupEmbeddings: base ∪ (+100000, +0.01/component in
    // the DOUBLE domain) — identical IEEE add
    val rows = (base ++ base.map { case (id, v) =>
      (id + 100000L, v.map(_ + 0.01)) }).sortBy(_._1)
    val threshold = 0.95
    val c = graft.operators.Ivf.centroidsFor(rows.length.toLong)
    val seeds = rows.iterator.filter(_._1 % 7 == 0).take(c).map(_._2).toArray
    require(seeds.length == c, s"Sd1Pin: ${seeds.length} of $c seeds")
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def norm(v: Array[Double]): Double = math.sqrt(dot(v, v))
    val seedNorms = seeds.map(norm)
    val assigned = rows.map { case (id, v) =>
      var best = -1; var bestScore = Double.NegativeInfinity
      var ci = 0
      while (ci < c) {
        val score = if (seedNorms(ci) > 0) dot(v, seeds(ci)) / seedNorms(ci) else 0.0
        if (score > bestScore) { bestScore = score; best = ci }
        ci += 1
      }
      (id, v, norm(v), if (best == -1) 0 else best)
    }
    val dropped = new java.util.HashSet[Long]()
    assigned.groupBy(_._4).foreach { case (_, members) =>
      val m = members.sortBy(_._1)
      var i = 0
      while (i < m.length) {
        var j = i + 1
        while (j < m.length) {
          val (na, nb) = (m(i)._3, m(j)._3)
          val cs = if (na * nb > 0) dot(m(i)._2, m(j)._2) / (na * nb) else 0.0
          if (cs >= threshold) dropped.add(m(j)._1)
          j += 1
        }
        i += 1
      }
    }
    val ref = assigned.map { case (id, _, _, cid) =>
      (id, cid, !dropped.contains(id)) }.sortBy(_._1).toSeq
    val tRef = (System.nanoTime() - t1) / 1e9
    val diff = engine.toSet.diff(ref.toSet) ++ ref.toSet.diff(engine.toSet)
    val kept = engine.count(_._3)
    println(f"[sd1pin] sf=$sfDir rows=${engine.size}%d kept=$kept%d c=$c%d " +
      f"diff=${diff.size}%d (engine $tEngine%.1f s, ref $tRef%.1f s)")
    if (diff.nonEmpty) diff.take(20).foreach(d => println(s"[sd1pin] DIFF $d"))
    spark.stop()
    if (diff.nonEmpty) sys.exit(1)
  }
}
