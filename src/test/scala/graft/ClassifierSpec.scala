package graft

import org.apache.spark.sql.functions._
import graft.operators.Classifier

/** NB classifier specs: hand-computed scores on a tiny seed/corpus,
  * the closed-vocabulary (OOV-ignored) contract, alphabetical argmax
  * tie-break, the zero-seed-class loud guard, and model-store
  * roundtrip ≡ retrain. */
class ClassifierSpec extends SparkSpec {
  import spark.implicits._

  // seed: class a = "x x y" (T_a=3), class b = "y z" (T_b=2);
  // V = {x,y,z}, nd_a=nd_b=1, n_seed=2, alpha=1.
  private def seed = Seq(
    (1L, "x x y", "a"),
    (2L, "y z", "b")).toDF("doc_id", "text", "lang")

  private def nb(corpus: org.apache.spark.sql.DataFrame) =
    Classifier.nbScore(corpus, seed, "doc_id", "text", "lang", Seq("a", "b"))

  test("scores match the hand-computed NB formula") {
    val got = nb(Seq((10L, "x y")).toDF("doc_id", "text")).collect()
    assert(got.length == 1)
    val r = got.head
    val expA = math.log(0.5) + math.log(3.0) + math.log(2.0) - 2 * math.log(6.0)
    val expB = math.log(0.5) + math.log(1.0) + math.log(2.0) - 2 * math.log(5.0)
    assert(r.getAs[Long]("n_scored") == 2L)
    assert(math.abs(r.getAs[Double]("score_a") - expA) < 1e-6)
    assert(math.abs(r.getAs[Double]("score_b") - expB) < 1e-6)
    assert(r.getAs[String]("predicted") == (if (expA >= expB) "a" else "b"))
  }

  test("out-of-vocabulary tokens are ignored; all-OOV docs are absent") {
    val got = nb(Seq((10L, "x q"), (11L, "q q")).toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got.contains(10L) && !got.contains(11L))
    assert(got(10L).getAs[Long]("n_scored") == 1L, "q is OOV and must not count")
    val expA = math.log(0.5) + math.log(3.0) - math.log(6.0)
    assert(math.abs(got(10L).getAs[Double]("score_a") - expA) < 1e-6)
  }

  test("exact score tie predicts the alphabetically-first class") {
    // symmetric seed: swapping a<->b and x<->y maps the model onto
    // itself, so "x y" scores identically for both classes.
    val sym = Seq((1L, "x", "a"), (2L, "y", "b")).toDF("doc_id", "text", "lang")
    val r = Classifier.nbScore(Seq((10L, "x y")).toDF("doc_id", "text"),
      sym, "doc_id", "text", "lang", Seq("b", "a")).collect().head
    assert(r.getAs[Double]("score_a") == r.getAs[Double]("score_b"))
    assert(r.getAs[String]("predicted") == "a")
  }

  test("a class with zero seed documents fails loudly") {
    val ex = intercept[Exception] {
      Classifier.nbScore(Seq((10L, "x")).toDF("doc_id", "text"),
        seed, "doc_id", "text", "lang", Seq("a", "b", "c")).collect()
    }
    assert(ex.getMessage.contains("seed document") ||
      Option(ex.getCause).exists(_.getMessage.contains("seed document")))
  }

  test("scoring from a parquet model store equals a fresh retrain") {
    val dir = TestDirs.fresh("nb_spec")
    Classifier.nbTermStats(seed, "text", "lang", Seq("a", "b"))
      .write.mode("overwrite").parquet(s"$dir/stats")
    Classifier.nbPriors(seed, "lang", Seq("a", "b"))
      .write.mode("overwrite").parquet(s"$dir/priors")
    val corpus = Seq((10L, "x y"), (11L, "z z y"), (12L, "x")).toDF("doc_id", "text")
    val fresh = nb(corpus).orderBy($"doc_id").collect().toSeq
    val stored = Classifier.nbScoreFromStats(corpus,
      spark.read.parquet(s"$dir/stats"), spark.read.parquet(s"$dir/priors"),
      "doc_id", "text", Seq("a", "b")).orderBy($"doc_id").collect().toSeq
    assert(fresh == stored)
  }

  test("importance resampling: lottery matches a driver-side recompute") {
    import graft.operators.{Classifier, Sampling}
    val corpus = Seq(10L -> "x y", 11L -> "z z y", 12L -> "x", 13L -> "y z z",
      14L -> "x x y z").map { case (i, t) => (i, t) }.toDF("doc_id", "text")
    val scored = nb(corpus)
    val kept = Classifier.importanceResample(scored, "a", Seq("a", "b"),
      seed = 42L, tau = 0.0, temperature = 0.05)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("p_keep"), r.getAs[Double]("margin"))).toMap
    // independent recompute: collected scores -> math.exp -> bucket rule
    val buckets = corpus.select($"doc_id",
      Sampling.hashBucket($"doc_id", 42L).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = scored.collect().flatMap { r =>
      val id = r.getAs[Long]("doc_id")
      val m = (r.getAs[Double]("score_a") - r.getAs[Double]("score_b")) /
        r.getAs[Long]("n_scored")
      val p = BigDecimal(math.min(math.exp(m / 0.05), 1.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if (buckets(id) < p * Sampling.Buckets) Some(id -> p) else None
    }.toMap
    assert(kept.keySet == expected.keySet)
    kept.foreach { case (id, (p, _)) => assert(p == expected(id)) }
  }

  test("importance resampling: margin at or above tau keeps unconditionally") {
    import graft.operators.Classifier
    val corpus = Seq((10L, "x x x x")).toDF("doc_id", "text") // pure class-a evidence
    val r = Classifier.importanceResample(nb(corpus), "a", Seq("a", "b"),
      seed = 7L, tau = -10.0, temperature = 1.0).collect()
    assert(r.length == 1 && r.head.getAs[Double]("p_keep") == 1.0)
  }

  test("nbTopVocab caps by total evidence with lexicographic tie-break") {
    import graft.operators.Classifier
    val stats = Classifier.nbTermStats(seed, "text", "lang", Seq("a", "b"))
    // totals: x=2, y=2, z=1 -> k=1 keeps the tie's first term "x"
    val top1 = Classifier.nbTopVocab(stats, Seq("a", "b"), 1)
      .collect().map(_.getAs[String]("term")).toSeq
    assert(top1 == Seq("x"))
    // k=2 drops z; scoring then treats z as OOV and |V|/totals come
    // from the capped frame (T_a=3, T_b=1, V=2)
    val capped = Classifier.nbTopVocab(stats, Seq("a", "b"), 2)
    val r = Classifier.nbScoreFromStats(
      Seq((10L, "x y z")).toDF("doc_id", "text"), capped,
      Classifier.nbPriors(seed, "lang", Seq("a", "b")),
      "doc_id", "text", Seq("a", "b")).collect().head
    assert(r.getAs[Long]("n_scored") == 2L)
    val expA = math.log(0.5) + math.log(3.0) + math.log(2.0) - 2 * math.log(3.0 + 2.0)
    assert(math.abs(r.getAs[Double]("score_a") - expA) < 1e-6)
  }

  test("scoring an AvailableNow doc stream against the model store == batch") {
    // the crawl-scoring production shape as a stream: new documents
    // arrive as files, each micro-batch scores + resamples against the
    // PERSISTED model via foreachBatch. Per-doc outputs depend only on
    // the doc and the (fixed) model, so batching must not change the
    // union — pinned against the one-shot batch run.
    import graft.operators.Classifier
    val d = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, d).select(col("doc_id"), col("text"))
    val seedHalf = graft.Tables.documents(spark, d)
      .filter(col("doc_id") % 2 === 0)
    val langs = Seq("de", "en", "es", "fr", "zh")
    val store = TestDirs.fresh("nb_store_s")
    Classifier.nbTermStats(seedHalf, "text", "lang", langs)
      .write.mode("overwrite").parquet(s"$store/stats")
    Classifier.nbPriors(seedHalf, "lang", langs)
      .write.mode("overwrite").parquet(s"$store/priors")
    def scoreResample(batch: org.apache.spark.sql.DataFrame) =
      Classifier.importanceResample(
        Classifier.nbScoreFromStats(batch,
          spark.read.parquet(s"$store/stats"),
          spark.read.parquet(s"$store/priors"), "doc_id", "text", langs),
        "en", langs, seed = 3001L, tau = 0.02, temperature = 0.02)
        .select("doc_id", "p_keep", "predicted")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    val deltaDir = TestDirs.fresh("nb_delta_s")
    docs.repartition(5).write.mode("overwrite").parquet(deltaDir)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, String)]
    val q = spark.readStream
      .schema(spark.read.parquet(deltaDir).schema)
      .option("maxFilesPerTrigger", "2")
      .parquet(deltaDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= scoreResample(batch); ()
      }
      .option("checkpointLocation",
        TestDirs.fresh("ckpt_nb"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val batchRun = scoreResample(docs)
    assert(got.nonEmpty && got.sorted.toSeq == batchRun.sorted.toSeq)
  }

  test("training counts pivot wide and sum to the class token totals") {
    val stats = Classifier.nbTermStats(seed, "text", "lang", Seq("a", "b"))
      .collect().map(r => r.getAs[String]("term") ->
        (r.getAs[Long]("cnt_a"), r.getAs[Long]("cnt_b"))).toMap
    assert(stats == Map("x" -> (2L, 0L), "y" -> (1L, 1L), "z" -> (0L, 1L)))
  }
}
