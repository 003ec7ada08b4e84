package graft

import org.apache.spark.sql.functions._
import graft.operators.{Packing, Sampling}

/** Dataset-curation specs: deterministic sampling/mixing/shuffle and
  * sequence packing — determinism, partition-independence, rate
  * adherence, permutation totality, packing arithmetic. */
class DatasetSpec extends SparkSpec {
  import spark.implicits._

  private val d = "/root/testdata/sf0.01"
  private def docs = graft.Tables.documents(spark, d)

  /** Runs `body` at a session shuffle width of `n`, the width the ranged
    * running sum behind packSequences partitions to. */
  private def withShufflePartitions[A](n: Int)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  test("sampleByHash is deterministic and partition-independent") {
    val a = Sampling.sampleByHash(docs.repartition(1), "doc_id", 0.3, 42L)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val b = Sampling.sampleByHash(docs.repartition(13), "doc_id", 0.3, 42L)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b, "membership must depend only on (key, seed)")
    assert(a.nonEmpty && a.size < docs.count())
  }

  test("sampleByHash is a scan-side filter — no shuffle in the plan") {
    val p = Sampling.sampleByHash(docs, "doc_id", 0.3, 42L)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"sampling must not shuffle:\n$p")
  }

  test("stratified rates are honored within binomial tolerance") {
    val n = docs.count().toDouble
    val got = Sampling.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 0.5, "de" -> 0.2), 0.1, 7L)
      .groupBy("lang").agg(count(lit(1)).as("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val strata = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def rate(l: String) = got.getOrElse(l, 0L).toDouble / strata(l)
    // ~100+ docs per stratum at sf0.01: 4-sigma binomial ~ +/-0.2
    assert(math.abs(rate("en") - 0.5) < 0.2, s"en rate ${rate("en")}")
    assert(math.abs(rate("de") - 0.2) < 0.2, s"de rate ${rate("de")}")
  }

  test("epochMix epochs are independently seeded, both reproducible") {
    val mix = Sampling.epochMix(docs, "doc_id", "source",
      Map("src0" -> 1.0), 0.25, epochs = 2, baseSeed = 99L)
    val e0 = mix.filter($"epoch" === 0).select("doc_id").collect().map(_.getLong(0)).toSet
    val e1 = mix.filter($"epoch" === 1).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(e0 != e1, "different epoch seeds must select different subsets")
    // src0 rate 1.0 -> every src0 doc in every epoch
    val src0 = docs.filter($"source" === "src0").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(src0.subsetOf(e0) && src0.subsetOf(e1))
  }

  test("shuffledPositions is a total deterministic permutation, not id order") {
    val n = docs.count()
    val pos = Sampling.shuffledPositions(docs.select("doc_id"), "doc_id", 5L)
    val rows = pos.collect().map(r =>
      (r.getAs[Long]("position"), r.getAs[Long]("doc_id")))
    assert(rows.map(_._1).sorted.toSeq == (1L to n).toSeq,
      "positions must be exactly 1..n")
    val again = Sampling.shuffledPositions(docs.select("doc_id"), "doc_id", 5L)
      .collect().map(r => (r.getAs[Long]("position"), r.getAs[Long]("doc_id")))
    assert(rows.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq, "same seed, same permutation")
    val byPos = rows.sortBy(_._1).map(_._2).toSeq
    assert(byPos != byPos.sorted, "a permutation in id order is not shuffled")
    val other = Sampling.shuffledPositions(docs.select("doc_id"), "doc_id", 6L)
      .collect().map(r => (r.getAs[Long]("position"), r.getAs[Long]("doc_id")))
      .sortBy(_._1).map(_._2).toSeq
    assert(byPos != other, "different seed, different permutation")
  }

  test("packSequences: hand-computed offsets, bins, and tails") {
    val in = Seq((1L, 5), (2L, 3), (3L, 4), (4L, 7)).toDF("id", "toks")
    val got = Packing.packSequences(in, "toks", "id", budget = 6L)
      .orderBy("id")
      .select("id", "start_offset", "bin_id", "bin_offset")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // tape: [0,5) [5,8) [8,12) [12,19) ; bins of 6: 0..5 | 6..11 | 12..17
    assert(got.toSeq == Seq((1L, 0L, 0L, 0L), (2L, 5L, 0L, 5L),
      (3L, 8L, 1L, 2L), (4L, 12L, 2L, 0L)))
  }

  test("packSequences: single-partition shuffles carry only per-range totals") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try withShufflePartitions(8) {
      val in = (1L to 5000L).map(i => (i, (i % 13).toInt + 1)).toDF("id", "toks")
      val df = Packing.packSequences(in, "toks", "id", 64L)
      assert(df.count() == 5000)
      val singles = df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
      }
      assert(singles.nonEmpty, "expected the offset-window single-partition shuffle")
      singles.foreach { e =>
        val written = e.metrics("shuffleRecordsWritten").value
        assert(written <= 8,
          s"single-partition shuffle moved $written rows — data-sized, not the per-range totals")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("quotaSample caps every group, deterministically, partition-independent") {
    val in = (1L to 500L).map(i => (i, s"g${i % 3}")).toDF("id", "grp")
    val a = Sampling.quotaSample(in, "id", "grp", quota = 20, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a.groupBy(_._2).forall(_._2.size == 20), "every group capped at exactly 20")
    val b = Sampling.quotaSample(in.repartition(13), "id", "grp", quota = 20, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a == b, "membership must not depend on partitioning")
    // a group smaller than the quota passes through whole
    val small = Sampling.quotaSample(in.filter($"id" <= 10), "id", "grp", 20, 7L)
    assert(small.count() == 10)
    // hash order, not id order: the kept set is not simply the smallest ids
    assert(!a.filter(_._2 == "g0").map(_._1).toSeq.sorted.zipWithIndex
      .forall { case (id, i) => id == (i + 1) * 3 })
  }

  test("quotaSample plans a partial group limit below the exchange") {
    val in = (1L to 500L).map(i => (i, s"g${i % 3}")).toDF("id", "grp")
    val df = Sampling.quotaSample(in, "id", "grp", quota = 20, seed = 7L)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"hub groups must be bounded before the shuffle:\n$plan")
  }

  test("packSequences is partition-count independent") {
    val in = (1L to 1000L).map(i => (i, (i % 17).toInt + 1)).toDF("id", "toks")
    def offsets(partitions: Int) = withShufflePartitions(partitions) {
      Packing.packSequences(in, "toks", "id", 64L)
        .orderBy("id").select("start_offset").collect().map(_.getLong(0)).toSeq
    }
    val a = offsets(1)
    val b = offsets(7)
    assert(a == b)
    // exclusive prefix sum sanity: last start = total - last size
    val total = in.agg(sum($"toks")).first().getLong(0)
    assert(a.last == total - ((1000 % 17) + 1))
  }

  test("chunkTokens: geometry, overlap sharing, short tail, single-chunk doc") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 toks, size 4 stride 3
      (2L, "a b"),                                    // single short chunk
      (3L, "   ")                                     // tokenless -> no chunks
    ).toDF("doc_id", "text")
    val got = Packing.chunkTokens(docs, "doc_id", "text", size = 4, overlap = 1)
      .orderBy("doc_id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
    assert(got.toSeq == Seq(
      (1L, 0, 0, 4, "t1 t2 t3 t4"),
      (1L, 1, 3, 4, "t4 t5 t6 t7"),   // overlap: t4 shared
      (1L, 2, 6, 4, "t7 t8 t9 t10"),  // reaches the end — no echo after
      (2L, 0, 0, 2, "a b")), got.toSeq)
    // a start at 9 would yield "t10" — fully contained in chunk 2 — and
    // must NOT be emitted (the contained-tail rule)
    // every token covered: union of [start, start+n) spans 0..10 for doc 1
    val covered = got.filter(_._1 == 1L)
      .flatMap(c => c._3 until (c._3 + c._4)).toSet
    assert(covered == (0 until 10).toSet)
  }

  test("temperatureSample: alpha=0.5 up-weights small strata; matches manual thresholds") {
    // strata: a=16 docs, b=4 docs -> w = 4, 2; wsum = 6; budget 3:
    // rate_a = 3*4/(6*16) = 0.125, rate_b = 3*2/(6*4) = 0.25
    val rows = ((1 to 16).map(i => (i.toLong, "a")) ++
      (17 to 20).map(i => (i.toLong, "b"))).toDF("doc_id", "lang")
    val got = Sampling.temperatureSample(rows, "doc_id", "lang",
      alpha = 0.5, budget = 3L, seed = 99L)
      .collect().map(_.getLong(0)).toSet
    // replicate the expected membership with the same hash + thresholds
    val expected = rows.filter(
      Sampling.hashBucket($"doc_id", 99L) <
        when($"lang" === "a", lit(125000L)).otherwise(lit(250000L)))
      .collect().map(_.getLong(0)).toSet
    assert(got == expected)
    // the small stratum's RATE is 2x the large one's (temperature lift)
    // even though its raw share is 4x smaller
  }

  test("temperatureSample: alpha=1 reduces to proportional (uniform rate)") {
    val rows = ((1 to 30).map(i => (i.toLong, "a")) ++
      (31 to 40).map(i => (i.toLong, "b"))).toDF("doc_id", "lang")
    // alpha=1: rate_s = budget/N = 8/40 = 0.2 for every stratum
    val got = Sampling.temperatureSample(rows, "doc_id", "lang",
      alpha = 1.0, budget = 8L, seed = 7L)
      .collect().map(_.getLong(0)).toSet
    val expected = rows.filter(
      Sampling.hashBucket($"doc_id", 7L) < lit(200000L))
      .collect().map(_.getLong(0)).toSet
    assert(got == expected)
  }

  test("hashSplit: exclusive, exhaustive, deterministic, fraction-plausible") {
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val a = Sampling.hashSplit(docs.repartition(1), "doc_id", splits, 11L)
      .select("doc_id", "split").collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val b = Sampling.hashSplit(docs.repartition(13), "doc_id", splits, 11L)
      .select("doc_id", "split").collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(a == b, "split membership must depend only on (key, seed)")
    assert(a.size == docs.count(), "every row gets exactly one label")
    val byLabel = a.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(byLabel.keySet == Set("train", "val", "test"))
    // binomial ~5-sigma bands derived from the corpus size
    val n = docs.count().toDouble
    def band(p: Double) = (n * p - 5 * math.sqrt(n * p * (1 - p)),
      n * p + 5 * math.sqrt(n * p * (1 - p)))
    val (tLo, tHi) = band(0.8)
    assert(byLabel("train") > tLo && byLabel("train") < tHi, byLabel.toString)
    val (vLo, vHi) = band(0.1)
    assert(byLabel("val") > vLo && byLabel("val") < vHi, byLabel.toString)
  }

  test("hashSplit rejects duplicate names and resolution-empty fractions") {
    val dup = intercept[IllegalArgumentException] {
      Sampling.hashSplit(docs, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "val" -> 0.1), 1L)
    }
    assert(dup.getMessage.contains("duplicate"))
    val tiny = intercept[IllegalArgumentException] {
      Sampling.hashSplit(docs, "doc_id",
        Seq("val" -> 4e-7, "train" -> (1.0 - 4e-7)), 1L)
    }
    assert(tiny.getMessage.contains("empty bucket range"))
  }

  test("hashSplit rejects fractions that do not sum to 1") {
    val e = intercept[IllegalArgumentException] {
      Sampling.hashSplit(docs, "doc_id", Seq("a" -> 0.5, "b" -> 0.4), 1L)
    }
    assert(e.getMessage.contains("sum"))
  }

  test("temperatureSample rejects non-string strata with a clear error") {
    val df = Seq((1L, 7), (2L, 8)).toDF("doc_id", "src_id")
    val e = intercept[IllegalArgumentException] {
      Sampling.temperatureSample(df, "doc_id", "src_id",
        alpha = 0.5, budget = 1L, seed = 1L)
    }
    assert(e.getMessage.contains("must be string"))
  }

  test("temperatureSample tolerates NULL strata (they drop, rates unaffected)") {
    // round-10 advice: null strata used to NPE inside the driver-side
    // sort. They must instead fall to defaultFraction=0.0 (drop) and
    // leave every named stratum's derived rate untouched.
    val withNulls = ((1 to 16).map(i => (i.toLong, "a")) ++
      (17 to 20).map(i => (i.toLong, "b")) ++
      (21 to 25).map(i => (i.toLong, null.asInstanceOf[String])))
      .toDF("doc_id", "lang")
    val got = Sampling.temperatureSample(withNulls, "doc_id", "lang",
      alpha = 0.5, budget = 3L, seed = 99L)
      .collect().map(_.getLong(0)).toSet
    // identical membership to the null-free corpus of the same strata
    val clean = ((1 to 16).map(i => (i.toLong, "a")) ++
      (17 to 20).map(i => (i.toLong, "b"))).toDF("doc_id", "lang")
    val expected = Sampling.temperatureSample(clean, "doc_id", "lang",
      alpha = 0.5, budget = 3L, seed = 99L)
      .collect().map(_.getLong(0)).toSet
    assert(got == expected)
    assert(got.forall(_ <= 20L), "null-stratum rows must all drop")
  }

  test("temperatureSample caps rates at 1.0 and is partition-independent") {
    val rows = ((1 to 3).map(i => (i.toLong, "tiny")) ++
      (4 to 103).map(i => (i.toLong, "big"))).toDF("doc_id", "lang")
    // huge budget: every rate would exceed 1 -> everything kept
    val all = Sampling.temperatureSample(rows, "doc_id", "lang",
      alpha = 0.5, budget = 1000L, seed = 1L)
    assert(all.count() == 103)
    val a = Sampling.temperatureSample(rows.repartition(1), "doc_id", "lang",
      alpha = 0.5, budget = 20L, seed = 1L).collect().map(_.getLong(0)).toSet
    val b = Sampling.temperatureSample(rows.repartition(13), "doc_id", "lang",
      alpha = 0.5, budget = 20L, seed = 1L).collect().map(_.getLong(0)).toSet
    assert(a == b, "membership must depend only on (key, seed, counts)")
  }
}
