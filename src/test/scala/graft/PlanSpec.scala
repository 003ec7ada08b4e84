package graft

/** Physical-plan regression guards: the perf properties `graft.Explain`
  * is used to audit manually, asserted programmatically so a refactor
  * can't silently lose pushdown or broadcast shapes. */
class PlanSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, d).queryExecution.executedPlan.toString

  test("s3 scan keeps filter pushdown and column pruning") {
    val p = plan("s3_parquet_scan_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"), p)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"), p)
  }

  test("star join broadcasts every dimension side") {
    val p = plan("star_join_revenue")
    assert(p.split("BroadcastHashJoin").length - 1 >= 3, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("fact builds broadcast their dims (no shuffle on the dim side)") {
    for (q <- Seq("fct_investments_build", "fct_ipos_build", "fct_acquisition_build")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q lost its broadcast joins")
    }
  }

  test("as-of join plans with a single hash-partition shuffle") {
    import org.apache.spark.sql.functions._
    val ev = graft.streaming.EventsStream.withEventTime(
      graft.Tables.events(spark, d))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("event_time")).as("t"))
    val updates = ev.filter(col("event_id") % 10 === 0)
      .select(col("user_id"), col("t"), col("event_id").as("v"))
    val joined = graft.operators.AsOf.join(ev, updates, Seq("user_id"), "t", Seq("v"))
    val p = joined.queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 1, s"expected exactly 1 keyed shuffle, got $shuffles:\n$p")
    assert(!p.contains("NestedLoop"), p)
  }

  test("components iteration joins reuse the checkpointed edge partitioning") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the components-loop shape: edges hash-partitioned on the join key
    // BEFORE the checkpoint, labels from their own aggregation. Under
    // AQE (GraftSession's default) localCheckpoint does NOT preserve
    // outputPartitioning: the checkpointed edges report
    // UnknownPartitioning(0). This case counts 2 exchanges only because
    // its 4-row input plans a BroadcastHashJoin; with
    // spark.sql.autoBroadcastJoinThreshold=-1 it plans a SortMergeJoin
    // with 3 — the O(iters)-edge-shuffles shape. ROADMAP direction 3's
    // Checkpoint.keyed is done when this case passes with broadcast
    // disabled.
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
      .repartition(col("dst")).localCheckpoint()
    val labels = edges.groupBy(col("src").as("id"))
      .agg(least(min(col("dst")), col("id")).as("label"))
    val iter = edges.join(labels, col("dst") === col("id"))
      .groupBy(col("src")).agg(min(col("label")))
    val p = iter.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 2,
      s"expected 2 aggregation exchanges and no join-side reshuffle, got $exchanges:\n$p")
  }

  test("bpeEncode is a shuffle-free single-stage regexp chain") {
    withAtScaleScans {
    val docs = graft.Tables.documents(spark, d)
    val merges = Seq(("a", "b"), ("c", "d"), ("e", "f"))
    val enc = graft.operators.Lm.bpeEncode(docs, "doc_id", "text", merges)
    val p = enc.queryExecution.executedPlan.toString
    // pure map over the scan: encoding 100 TB must never shuffle
    assert(!p.contains("Exchange"), s"bpeEncode gained a shuffle:\n$p")
    // the whole merge table rides as one kernel call, inside whole-stage
    // codegen (codegen stages render as "*(n)" in the plan string)
    assert(p.contains("graft_bpe_encode"), s"bpeEncode lost its kernel:\n$p")
    assert(p.contains("*(2) Project"), s"bpeEncode fell out of codegen:\n$p")
    // the test-scope reference keeps the regexp-chain shape: one
    // regexp_replace per merge, all inside whole-stage codegen. (The r12
    // expression-fold shape needed a projection boundary per merge; the
    // regexp chain reads each child exactly once, so merges stack freely.)
    val r = graft.operators.LiteralArms.bpeEncodeLiteral(docs, "doc_id", "text", merges)
      .queryExecution.executedPlan.toString
    assert(!r.contains("Exchange"), s"the regexp chain gained a shuffle:\n$r")
    val regexps = "(?i)regexp_replace".r.findAllIn(r).length
    assert(regexps == 3, s"expected 3 regexp merge passes, got $regexps:\n$r")
    assert(r.contains("*(2) Project"), s"the regexp chain fell out of codegen:\n$r")
    }
  }

  test("v4_bpe_encode encodes through graft_bpe_encode, not a regexp chain") {
    val p = plan("v4_bpe_encode")
    assert(p.contains("graft_bpe_encode"), s"v4 lost the encode kernel:\n$p")
    assert(!p.contains("regexp_replace"), s"v4 plans a regexp chain:\n$p")
  }

  test("range join plans as hash join, never nested loop") {
    import org.apache.spark.sql.functions._
    val ev = graft.streaming.EventsStream.withEventTime(
      graft.Tables.events(spark, d))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("event_time")).as("t"))
    val windows = ev.filter(col("event_id") % 20 === 0)
      .select(col("user_id"), col("t").as("s"), (col("t") + 1000000L).as("e"))
    val joined = graft.operators.RangeJoin.pointInInterval(
      ev, windows, Seq("user_id"), "t", "s", "e", 1000000L)
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop"), s"range join degenerated to nested loop:\n$p")
  }

  test("dense surrogate keys (ranged): single-partition shuffles carry only bucket counts") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    // AQE off so executedPlan exposes raw exchanges with their metrics
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // the scale path itself — dispatch picks windowed at sf0.001
      val df = graft.operators.Warehouse.withDenseKeyRanged(
        graft.Tables.customer(spark, d).select(col("c_custkey"), col("c_name")),
        "sk", Seq("c_custkey"))
      assert(df.collect().length > 30)
      val singles = df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
      }
      singles.foreach { e =>
        val written = e.metrics("shuffleRecordsWritten").value
        assert(written <= 32,
          s"single-partition shuffle moved $written rows — data-sized, not the bucket-count aggregate")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("dense surrogate keys: size-aware dispatch picks windowed for small plans, ranged at scale") {
    import org.apache.spark.sql.functions.col
    val dim = graft.Tables.customer(spark, d).select(col("c_custkey"), col("c_name"))
    // small plan (sf0.001 customer is KBs) -> windowed: no range repartition
    val small = graft.operators.Warehouse.withDenseKey(dim, "sk", "c_custkey")
      .queryExecution.executedPlan.toString
    assert(!small.contains("rangepartitioning"),
      s"small dim took the range-bucket path:\n$small")
    // large plan -> ranged: the same rows behind an RDD leaf, whose
    // "unknown" size estimate exceeds DenseKeySmallBytes. The range
    // exchange lives INSIDE the checkpointed rank frame (one
    // materialization — the boundary sampling is RDD-id-seeded, so a
    // second execution of the same subtree can sample different bucket
    // boundaries; both consumers must read the same one), so the outer
    // plan shows the checkpoint scan, not the rangepartitioning node.
    val large = spark.createDataFrame(dim.rdd, dim.schema)
    assert(large.queryExecution.optimizedPlan.stats.sizeInBytes >
      BigInt(graft.operators.Warehouse.DenseKeySmallBytes))
    val ranged = graft.operators.Warehouse.withDenseKey(large, "sk", "c_custkey")
    val rplan = ranged.queryExecution.executedPlan.toString
    assert(rplan.contains("Scan ExistingRDD") && rplan.contains("__pid"),
      s"ranged arm did not materialize the rank frame once:\n$rplan")
    assert(!rplan.contains("rangepartitioning"), // it's inside the checkpoint
      s"range exchange leaked outside the single materialization:\n$rplan")
    val a = graft.operators.Warehouse.withDenseKeyWindowed(dim, "sk", "c_custkey")
      .orderBy("sk").collect().toSeq
    val b = ranged.orderBy("sk").collect().toSeq
    assert(a == b, "windowed and ranged dense keys diverged")
  }

  test("dedup LSH self-joins reuse exchanges; signatures computed once") {
    // ReuseExchange only unifies IDENTICAL exchanges, so the banded
    // candidate joins are forced to sort-merge (Dedup merge hints): both
    // sides become the same Exchange subtree and the second is a
    // ReusedExchange. Visible only in the FINAL adaptive plan, post-
    // execution — the initial plan always shows both subtrees.
    def finalPlan(name: String): String = {
      val df = SparkEntry.queries(name)(spark, d)
      df.collect()
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    }
    // x3 (shared-scan variant): the text pipeline lives behind ONE lazy
    // localCheckpoint (visible as Scan ExistingRDD), so tokenization runs
    // exactly once by construction — the visible plan must contain NO
    // shingle explode at all; banded self-join + the two grams-attach
    // legs still each reuse their exchange over the checkpointed blocks.
    val x3 = finalPlan("x3_minhash_lsh")
    assert("ReusedExchange".r.findAllIn(x3).length >= 2, x3)
    assert(x3.contains("Scan ExistingRDD"),
      s"expected the checkpointed (id, sig, grams) scan:\n$x3")
    assert("Generate explode".r.findAllIn(x3).isEmpty,
      s"shingle pipeline leaked out of the checkpoint:\n$x3")
    // x13 bands its checkpointed sig-only frame through the same
    // self-join: the banded exchange is reused, the shingle pipeline
    // stays behind the checkpoint
    val x13 = finalPlan("x13_edit_distance")
    assert("ReusedExchange".r.findAllIn(x13).length >= 1, x13)
    assert(x13.contains("Scan ExistingRDD"),
      s"expected the checkpointed (id, sig) scan:\n$x13")
    assert("Generate explode".r.findAllIn(x13).isEmpty,
      s"shingle pipeline leaked out of the checkpoint:\n$x13")
    // x4: the guarded gate arm checkpoints the (id, sh) vote frame
    // (same contract as x3's (sig, grams) checkpoint), so tokenize +
    // vote aggregation runs once BY CONSTRUCTION — no explode in the
    // visible plan; the banded self-join still reuses its exchange
    // over the checkpointed signatures.
    val x4 = finalPlan("x4_simhash")
    assert("ReusedExchange".r.findAllIn(x4).length >= 1, x4)
    assert(x4.contains("Scan ExistingRDD"),
      s"expected the checkpointed (id, sh) scan:\n$x4")
    assert("Generate explode".r.findAllIn(x4).isEmpty,
      s"simhash vote pipeline leaked out of the checkpoint:\n$x4")
    // x2: block self-join shares the (prefix, n_grams) shingle exchange
    val x2 = finalPlan("x2_ngram_jaccard")
    assert("ReusedExchange".r.findAllIn(x2).length >= 1, x2)
    // x5: bucket self-join must sort-merge (never broadcast the corpus)
    // and reuse the signature-projection exchange
    val x5 = finalPlan("x5_embedding_near_dup")
    assert(!x5.contains("BroadcastExchange"), x5)
    assert("ReusedExchange".r.findAllIn(x5).length >= 1, x5)
  }

  test("knn graph never broadcasts the corpus; banding computed once") {
    val df = SparkEntry.queries("y3_knn_graph")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastExchange"),
      s"all-docs-as-queries must not broadcast any corpus-derived side:\n$p")
    val fin = p.split("== Initial Plan ==").head
    assert("ReusedExchange".r.findAllIn(fin).length >= 2,
      s"banded self-join and vector re-attach legs must reuse exchanges:\n$fin")
  }

  test("b7 late-data model: watermark table broadcasts; no window over the data") {
    // the per-batch-maxima frame is `batches` rows — its running-max
    // window and the join back to the events must never put the events
    // themselves through a single-partition window or a shuffle join
    val p = plan("b7_late_data")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // exactly one Window operator (over the 4-row maxima), none over events
    assert(p.split("Window").length - 1 <= 2, p)
  }

  test("q1 aggregation is partial+final (map-side combine present)") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("HashAggregate"), p)
    // partial agg appears below the exchange: two HashAggregate nodes
    assert(p.split("HashAggregate").length - 1 >= 2, p)
  }

  test("chunkTokens is shuffle-free (per-row geometry, no exchange)") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val p = graft.operators.Packing.chunkTokens(docs, "doc_id", "text", 4, 1)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"chunking must be embarrassingly per-row:\n$p")
  }

  test("Ivf.assign kernel path (c > ExpressionAssignMaxC) stays map-side only") {
    import spark.implicits._
    import graft.operators.Ivf
    val c = 33
    // an RDD-backed corpus: a local Seq would fold the whole projection
    // into a LocalTableScan and hide its shape
    val corpus = spark.sparkContext.parallelize((0L until (4L * c)).map(i =>
      (i, Array.tabulate(64)(j => ((i * 31 + j) % 97).toFloat / 97f))))
      .toDF("vec_id", "embedding")
    val cents = Ivf.seedCentroids(corpus, "vec_id", "embedding", c, stride = 1L)
    val p = Ivf.assign(corpus, "vec_id", "embedding", cents)
      .queryExecution.executedPlan.toString
    // assignment is the quantizer's whole point at 100 TB: the corpus
    // must take its cluster id from the centroid-matrix kernel without
    // ANY exchange — scan, project, kernel, done
    assert(!p.contains("Exchange"),
      s"large-c assign must not shuffle the corpus:\n$p")
    assert(p.contains("graft_nearest_cids"),
      s"expected the nearest-centroid kernel projection:\n$p")
  }

  test("x13: checkpointed signatures, band self-join reuses its exchange") {
    val df = SparkEntry.queries("x13_edit_distance")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the (id, sig) frame is behind ONE lazy localCheckpoint: the
    // tokenize+shingle explode never appears in the visible plan, and
    // both band-join legs read the same exchange
    assert(p.contains("Scan ExistingRDD"),
      s"expected the checkpointed signature scan:\n$p")
    assert("ReusedExchange".r.findAllIn(p).nonEmpty,
      s"band self-join must reuse its exchange:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"never broadcast a corpus-sized side:\n$p")
    // pairs are verified by the bounded edit-distance kernel
    assert(p.contains("graft_levenshtein("),
      s"expected the graft_levenshtein verify:\n$p")
  }

  test("nb classifier: seed tokenizes once (checkpointed model), totals broadcast") {
    val df = SparkEntry.queries("nb1_nb_classifier")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the (term, cnt_<c>) model frame is behind ONE lazy localCheckpoint,
    // so the only explode left in the visible plan is the corpus tokenize
    assert(p.contains("Scan ExistingRDD"),
      s"expected the checkpointed nb model scan:\n$p")
    assert("Generate explode".r.findAllIn(p).length == 1,
      s"seed tokenize pipeline leaked out of the checkpoint:\n$p")
    // the 1-row totals×priors frame enters the scoring projection as a
    // broadcast, never a shuffle
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast of the 1-row totals frame:\n$p")
    // the model side is the explicit build of the scoring join, and the
    // only corpus-sized exchange is the per-doc aggregate — no
    // (doc_id, term) tf exchange anywhere
    assert(p.contains("BroadcastHashJoin"),
      s"expected the broadcast model join:\n$p")
    assert("hashpartitioning\\(doc_id#\\d+L?, term".r.findFirstIn(p).isEmpty,
      s"scoring must not exchange (doc_id, term) tf rows:\n$p")
  }
}
