package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}

/** Independent-comparator pins for the three remaining sf0.01-knob
  * oracle gates (r15 verdict #5): `x5_embedding_near_dup`,
  * `y2_ann_lsh`, `y3_knn_graph`. Their DuckDB mirrors embed the
  * sf0.01 plane counts by design (planesFor scales planes with the
  * corpus, so the SQL literal set is wrong at any other SF), which
  * left them probe-covered but without a diff-0 comparator at big SF —
  * the gap sd1 closed in r15 via Sd1Pin.
  *
  * Pattern (Sd1Pin/X11Pin): the ENGINE arm runs the exact gate entry
  * from `SparkEntry.queries`; the REFERENCE re-derives the full
  * contract driver-local through plain JVM arrays and hash maps — same
  * spec, different loop/fold order, no Spark plan shapes shared.
  * Shared determinism contract (the reason diff 0 is achievable): all
  * engine vector math is index-ordered left-to-right IEEE folds over
  * double-cast arrays (`Similarity.dotNative`), and the hyperplanes are
  * deterministic in (planes, table) via `planeLiterals` — so the
  * reference's sequential while-loops produce bit-identical doubles,
  * and ranks/thresholds computed on them agree exactly.
  *
  * Usage:
  *   tools/run-main.sh graft.tools.X5Pin <sfDir>
  *   tools/run-main.sh graft.tools.Y2Pin <sfDir>
  *   tools/run-main.sh graft.tools.Y3Pin <sfDir>
  * Exit 1 on any roster diff.
  */
private[tools] object AnnPinMath {
  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }
  def norm(v: Array[Double]): Double = math.sqrt(dot(v, v))
  /** Mirrors [[Similarity.cosinePrenormed]] exactly (d once, guard on d). */
  def cosPre(a: Array[Double], b: Array[Double], na: Double, nb: Double): Double = {
    val d = na * nb
    if (d > 0) dot(a, b) / d else 0.0
  }
  /** Spark `round(col, 6)` for DoubleType: HALF_UP on the decimal
    * string representation. */
  def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  /** The fixed hyperplanes of one table as primitive arrays. */
  def planes(n: Int, table: Int): Array[Array[Double]] =
    Similarity.planeLiterals(n, 64, table).map(_.toArray).toArray
  /** Mirrors [[Similarity.hyperplaneSignature]]: bit i set iff
    * dot(v, plane_i) > 0. */
  def signature(v: Array[Double], ps: Array[Array[Double]]): Long = {
    var sig = 0L; var i = 0
    while (i < ps.length) { if (dot(v, ps(i)) > 0) sig |= (1L << i); i += 1 }
    sig
  }
  /** (id, double-cast vector) of the embeddings table — the engine's
    * own `toDouble` projection, collected. */
  def collectBase(spark: SparkSession, sfDir: String): Array[(Long, Array[Double])] =
    graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  def report(name: String, sfDir: String, engine: Seq[Product], ref: Seq[Product],
             tEngine: Double, tRef: Double): Unit = {
    val e = engine.groupBy(identity).view.mapValues(_.size).toMap
    val r = ref.groupBy(identity).view.mapValues(_.size).toMap
    val diff = (e.keySet ++ r.keySet).filter(k => e.getOrElse(k, 0) != r.getOrElse(k, 0))
    println(f"[$name] sf=$sfDir engineRows=${engine.size}%d refRows=${ref.size}%d " +
      f"diff=${diff.size}%d (engine $tEngine%.1f s, ref $tRef%.1f s)")
    if (diff.nonEmpty) {
      diff.take(20).foreach(d => println(
        s"[$name] DIFF $d engine=${e.getOrElse(d, 0)} ref=${r.getOrElse(d, 0)}"))
      sys.exit(1)
    }
  }
}

/** x5: hyperplane-LSH embedding near-dup pairs with the two-stage
  * r15 guard (hot-cell refine under independent planes, wholesale drop
  * only for groups refinement cannot split). The reference re-derives
  * bucket → hot → sub → oversized-drop → within-group pairs with plain
  * hash maps; candidate containment (one bucket per row, single table)
  * means no distinct is involved on either side. */
object X5Pin {
  def main(args: Array[String]): Unit = {
    import AnnPinMath._
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.get()
    val t0 = System.nanoTime()
    val engine = graft.SparkEntry.queries("x5_embedding_near_dup")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val tEngine = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    val base = collectBase(spark, sfDir)
    // the gate's nearDupEmbeddings: base ∪ (+100000, +0.01/component)
    val rows = base ++ base.map { case (id, v) => (id + 100000L, v.map(_ + 0.01)) }
    val p = Similarity.planesFor(2L * base.length, targetBucket = 32)
    val threshold = 0.98
    val maxBucket = graft.queries.TextQueries.MaxBucket
    val ps0 = planes(p, 0)
    val psR = planes(p, Dedup.RefineTable)
    val sigged = rows.map { case (id, v) => (id, v, norm(v), signature(v, ps0)) }
    val bucketCounts = sigged.groupBy(_._4).view.mapValues(_.size).toMap
    val withSub = sigged.map { case (id, v, nv, b) =>
      val sub = if (bucketCounts(b) > maxBucket) signature(v, psR) + 1L else 0L
      (id, v, nv, b, sub)
    }
    val groups = withSub.groupBy(t => (t._4, t._5)).filter(_._2.length <= maxBucket)
    val refB = Seq.newBuilder[(Long, Long, Double)]
    groups.valuesIterator.foreach { g =>
      var i = 0
      while (i < g.length) {
        var j = 0
        while (j < g.length) {
          if (g(i)._1 < g(j)._1) {
            val cs = cosPre(g(i)._2, g(j)._2, g(i)._3, g(j)._3)
            if (cs >= threshold) refB += ((g(i)._1, g(j)._1, round6(cs)))
          }
          j += 1
        }
        i += 1
      }
    }
    val ref = refB.result()
    val tRef = (System.nanoTime() - t1) / 1e9
    report("x5pin", sfDir, engine, ref, tEngine, tRef)
    spark.stop()
  }
}

/** y2: LSH-bucketed ANN top-k for the 8 fixed query ids. The reference
  * re-derives per-table signatures, the any-table candidate union, and
  * the exact-cosine (desc, neighbor asc) top-10 with plain sets. */
object Y2Pin {
  def main(args: Array[String]): Unit = {
    import AnnPinMath._
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.get()
    val t0 = System.nanoTime()
    val engine = graft.SparkEntry.queries("y2_ann_lsh")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val tEngine = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    val base = collectBase(spark, sfDir)
    val queryIds = (0L to 7L).toSet
    val p = Similarity.planesFor(base.length.toLong, targetBucket = 32)
    val tables = 8
    val k = 10
    val ps = (0 until tables).map(t => planes(p, t)).toArray
    val sigs = base.map { case (id, v) =>
      (id, v, norm(v), Array.tabulate(tables)(t => signature(v, ps(t)))) }
    val queries = sigs.filter(t => queryIds.contains(t._1))
    val refB = Seq.newBuilder[(Long, Int, Long, Double)]
    queries.foreach { case (qid, qv, qn, qsig) =>
      val cand = sigs.iterator.filter { case (nid, _, _, nsig) =>
        nid != qid && (0 until tables).exists(t => nsig(t) == qsig(t))
      }.map { case (nid, nv, nn, _) => (nid, cosPre(qv, nv, qn, nn)) }.toArray
      val top = cand.sortBy { case (nid, cs) => (-cs, nid) }.take(k)
      top.zipWithIndex.foreach { case ((nid, cs), i) =>
        refB += ((qid, i + 1, nid, round6(cs))) }
    }
    val ref = refB.result()
    val tRef = (System.nanoTime() - t1) / 1e9
    report("y2pin", sfDir, engine, ref, tEngine, tRef)
    spark.stop()
  }
}

/** y3: the knn graph — every vector queries its buckets' capped
  * survivors (neighbor side capped to the `maxBucketSize` smallest
  * ids, query side uncapped; the salt is pure task-granularity and
  * does not change the candidate set). The reference builds per-table
  * bucket maps and the candidate union with plain hash structures,
  * parallelizing the per-query exact-cosine top-k over a Java
  * parallel stream (different execution shape from the engine's
  * banded sort-merge join by construction). */
object Y3Pin {
  def main(args: Array[String]): Unit = {
    import AnnPinMath._
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.get()
    val t0 = System.nanoTime()
    val engine = graft.SparkEntry.queries("y3_knn_graph")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val tEngine = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    val base = collectBase(spark, sfDir)
    val p = Similarity.planesFor(base.length.toLong, targetBucket = 32)
    val tables = 4
    val cap = 64
    val k = 5
    val n = base.length
    val ids = base.map(_._1)
    // precondition, checked BEFORE the candidate build + parallel top-k
    // (r16 advice: a duplicate-id corpus must fail fast, not after the
    // expensive compute): candidate sets are keyed per query INDEX on
    // the assumption ids are unique in embeddings.
    require(ids.distinct.length == n, s"y3pin: duplicate ids in embeddings ($n rows)")
    val vecs = base.map(_._2)
    val norms = vecs.map(norm)
    // candidate set per query INDEX (ids are unique in embeddings)
    val cands = Array.fill(n)(new java.util.HashSet[Int]())
    (0 until tables).foreach { t =>
      val ps = planes(p, t)
      val byBucket = new java.util.HashMap[Long, java.util.ArrayList[Int]]()
      var i = 0
      while (i < n) {
        val s = signature(vecs(i), ps)
        byBucket.computeIfAbsent(s, _ => new java.util.ArrayList[Int]()).add(i)
        i += 1
      }
      byBucket.values.forEach { members =>
        val arr = new Array[Int](members.size())
        var j = 0
        while (j < arr.length) { arr(j) = members.get(j); j += 1 }
        // neighbor side: the cap window orders by id ASC
        val capped = arr.sortBy(ids(_)).take(cap)
        arr.foreach { q =>
          capped.foreach { nb => if (ids(nb) != ids(q)) cands(q).add(nb) }
        }
      }
    }
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Seq[(Long, Int, Long, Double)]]()
    java.util.stream.IntStream.range(0, n).parallel().forEach { q =>
      val it = cands(q).iterator()
      val buf = new scala.collection.mutable.ArrayBuffer[(Long, Double)](cands(q).size())
      while (it.hasNext) {
        val nb = it.next()
        buf += ((ids(nb), cosPre(vecs(q), vecs(nb), norms(q), norms(nb))))
      }
      val top = buf.sortBy { case (nid, cs) => (-cs, nid) }.take(k)
      results.add(top.zipWithIndex.map { case ((nid, cs), i) =>
        (ids(q), i + 1, nid, round6(cs)) }.toSeq)
    }
    import scala.jdk.CollectionConverters._
    val ref = results.asScala.toSeq.flatten
    val tRef = (System.nanoTime() - t1) / 1e9
    report("y3pin", sfDir, engine, ref, tEngine, tRef)
    spark.stop()
  }
}
