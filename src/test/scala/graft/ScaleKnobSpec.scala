package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Ivf, Similarity}

/** The LSH/centroid scale knobs (VERDICT r9 item 8): every
  * bucketed/clustered operator must grow its bucket or centroid count
  * with the corpus instead of letting per-bucket volume grow linearly
  * past the design point. These specs assert the knob MATH (expected
  * bucket/cluster size stays bounded across decades of n) and PIN the
  * values the sf0.01 oracles embed — if a knob default changes, the
  * pinned test fails before the hash gate does, pointing at the SQL
  * mirror that needs regenerating. */
class ScaleKnobSpec extends AnyFunSuite {

  test("planesFor: expected bucket size stays within [target/2, 2*target] across decades") {
    val target = 32
    // below the maxPlanes clamp even after the 10x step: 10n must stay
    // under 2^16 buckets * 2*target ≈ 4.2M (past it the scaladoc's
    // contract is explicit: scale by tables or shard the corpus)
    for (n <- Seq(100L, 1000L, 10000L, 100000L, 400000L)) {
      val p = Similarity.planesFor(n, target)
      val expectedBucket = n.toDouble / (1L << p)
      assert(expectedBucket <= 2.0 * target,
        s"n=$n planes=$p expectedBucket=$expectedBucket")
      // a 10x corpus must NOT mean a 10x bucket (the pre-fix y3 cliff):
      val p10 = Similarity.planesFor(10 * n, target)
      val bucket10 = 10.0 * n / (1L << p10)
      assert(bucket10 <= 2.0 * target,
        s"n=${10 * n} planes=$p10 expectedBucket=$bucket10")
    }
    // min clamp: tiny corpora keep at least 2^4 buckets
    assert(Similarity.planesFor(10, target) == 4)
    // max clamp: beyond 2^16 buckets, shard instead
    assert(Similarity.planesFor(100000000L, target) == 16)
  }

  test("bucketsFor: realized AVERAGE bucket within [0.75, 1.5]x target across decades " +
    "(r19 verdict #3 band)") {
    val target = 32
    // the raw power-of-two signature realizes (target/2, target] — the
    // fold into round(n/target) buckets centers every n on the target
    // exactly, so a 10x data step carries a ~10x candidate step instead
    // of riding the ceil-to-power-of-two oscillation (up to 2x extra)
    for (n <- Seq(20000L, 200000L, 2000000L)) {
      val p = Similarity.planesFor(n, target)
      val b = Similarity.bucketsFor(n, target, p)
      val avg = n.toDouble / b
      assert(avg >= 0.75 * target && avg <= 1.5 * target,
        s"n=$n planes=$p buckets=$b avg=$avg")
      // the fold never exceeds the signature space
      assert(b <= (1L << p), s"n=$n b=$b > 2^$p")
    }
    // sf0.01 oracle identity: 500 vectors -> 4 planes, B = 16 = 2^4, so
    // sig % 16 is the identity and the code-generated y2/y3 SQL mirrors
    // stay valid (they embed the same % 16)
    assert(Similarity.bucketsFor(500, 32, Similarity.planesFor(500, 32)) == 16)
    // clamp regime: past n = target * 2^maxPlanes (~2.1M) B pins at 2^16
    // and average bucket grows linearly — per-row work is then bounded
    // only by the candidate cap (ANN_COUNTERS_clamped.json measures it)
    val pClamp = Similarity.planesFor(4000000L, target)
    assert(pClamp == 16)
    assert(Similarity.bucketsFor(4000000L, target, pClamp) == 65536L)
    assert(4000000.0 / 65536L > 1.5 * target) // the band is OPEN here, by design
  }

  test("centroidsFor: expected cluster size stays ~target across decades") {
    val target = 64
    // below the maxC clamp even after the 10x step (10n ≤ 65536 * 64)
    for (n <- Seq(2000L, 20000L, 200000L, 400000L)) {
      val c = Ivf.centroidsFor(n, target)
      val cluster = n.toDouble / c
      assert(cluster <= target + 1, s"n=$n c=$c cluster=$cluster")
      val c10 = Ivf.centroidsFor(10 * n, target)
      assert(10.0 * n / c10 <= target + 1, s"n=${10 * n} c10=$c10")
    }
    assert(Ivf.centroidsFor(100, 64) == 16, "min clamp")
    assert(Ivf.centroidsFor(100000000L, 64) == 65536, "max clamp")
  }

  test("Bench.stableMed: trims >3x outliers, keeps all-failed sentinel intact") {
    // a cold 6s first run must not decide the committed number
    assert(Bench.stableMed(Seq(6.0, 1.5, 1.6, 1.7)) == 1.6)
    // tight cluster: plain median
    assert(Bench.stableMed(Seq(1.0, 1.1, 1.2)) == 1.1)
    // every run failed -> -1 sentinel must survive (a negative floor
    // would empty the 3x filter and crash the report)
    assert(Bench.stableMed(Seq(-1.0)) == -1.0)
    // uniform slowness (a real regression) is NOT trimmed
    assert(Bench.stableMed(Seq(9.0, 9.5, 10.0)) == 9.5)
    // a single anomalously FAST run must not become the headline: the
    // stable cluster must hold a majority, else plain median wins
    assert(Bench.stableMed(Seq(0.5, 1.9, 1.9, 2.0)) == 1.9)
  }

  test("Bench.fullArtifactPath: a SPARK_GRAFT_ONLY subset writes under target/, not over BENCH_full.json") {
    // the full surface keeps the tracked artifact (the total line names it)
    assert(Bench.fullArtifactPath(Map.empty) == "BENCH_full.json")
    assert(Bench.fullArtifactPath(Map("SPARK_GRAFT_ONLY" -> "x13_edit_distance")) ==
      "target/BENCH_subset.json")
    // an explicit path wins on either surface
    for (only <- Seq(Map.empty[String, String], Map("SPARK_GRAFT_ONLY" -> "x8")))
      assert(Bench.fullArtifactPath(only + ("SPARK_GRAFT_BENCH_FULL" -> "/d/b.json")) == "/d/b.json")
  }

  test("Bench.postCheckDecision: deviation vs committed ref downgrades to suspect") {
    def ref(total: Double, gate: String, lb: String, sf: String = "/d/sf0.1",
            calib: String = "null") =
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sf",""" +
        s""""env":{"load_before":$lb,"quiet_gate":"$gate","calib":$calib}}"""
    val clean = Some(ref(120.0, "passed", "[0.5,0.8,1.0]"))
    def decide(v: String, total: Double, sf: String, r: Option[String],
               calibCur: Option[Double] = None) =
      Bench.postCheckDecision(v, total, sf, r, thr = 2.0, thr5 = 2.0,
        devPct = 40.0, elevPct = 15.0, calibCur = calibCur)
    // > devPct slower than a clean committed ref -> suspect
    val (v1, n1) = decide("passed", 170.0, "/d/sf0.1", clean)
    assert(v1 == "suspect" && n1.contains("deviation=+41.7%"), s"$v1 $n1")
    // the (elevPct, devPct] gray zone -> passed_elevated (r19 verdict #6:
    // the driver's +20.5% recapture read plain "passed")
    val (vE, nE) = decide("passed", 145.0, "/d/sf0.1", clean)
    assert(vE == "passed_elevated" && nE.contains("deviation=+20.8%"), s"$vE $nE")
    // within elevPct -> stamp survives
    assert(decide("passed", 130.0, "/d/sf0.1", clean)._1 == "passed")
    // FASTER is never suspect (one-sided)
    assert(decide("passed", 90.0, "/d/sf0.1", clean)._1 == "passed")
    // a contaminated committed ref (the r18 151s artifact: 5-min load 10.11)
    // must NOT be a laundering baseline -> no_ref, stamp survives
    val dirty = Some(ref(151.0, "passed", "[2.18,10.11,13.75]"))
    val (v2, n2) = decide("passed", 170.0, "/d/sf0.1", dirty)
    assert(v2 == "passed" && n2.startsWith("no_ref(ref_contended"), s"$v2 $n2")
    // ...but the ref's 5-MIN average is judged against thr5, not thr(1m)
    // (r19 advice): a ref captured under a raised LOAD5 discipline is
    // still a valid baseline when thr5 admits it
    val warm5 = Some(ref(120.0, "passed", "[0.5,4.0,1.0]"))
    assert(Bench.postCheckDecision("passed", 130.0, "/d/sf0.1", warm5,
      thr = 2.0, thr5 = 10.0, devPct = 40.0, elevPct = 15.0, calibCur = None)
      ._2.startsWith("ref_total="))
    assert(decide("passed", 130.0, "/d/sf0.1", warm5)
      ._2.startsWith("no_ref(ref_contended"))
    // calib on both sides -> deviation_norm reported (host-speed divided
    // out), but the STAMP still keys on the raw deviation: a +25% capture
    // whose calib also ran +25% is regime -> note says norm ~0, stamp
    // stays passed_elevated (normalizing the stamp would launder
    // contention, which slows the calib too)
    val calRef = Some(ref(120.0, "passed", "[0.5,0.8,1.0]",
      calib = """{"cpu":1.0,"shuffle":1.0,"string":0.5,"total":2.50,"runs":3}"""))
    val (v3, n3) = decide("passed", 150.0, "/d/sf0.1", calRef, calibCur = Some(3.125))
    assert(v3 == "passed_elevated" && n3.contains("deviation=+25.0%")
      && n3.contains("deviation_norm=+0.0%"), s"$v3 $n3")
    // no calib on the ref (pre-r20 artifact) -> raw-only note, no crash
    assert(!decide("passed", 150.0, "/d/sf0.1", clean, calibCur = Some(3.0))
      ._2.contains("deviation_norm"))
    // ref at a different sf -> no comparison
    assert(decide("passed", 170.0, "/d/sf1", clean)
      ._2.startsWith("no_ref(sf_mismatch"))
    // a timeout stamp is never upgraded by a good deviation
    assert(decide("timeout", 121.0, "/d/sf0.1", clean)._1 == "timeout")
    // no ref at all (fresh clone / git unavailable)
    assert(decide("passed", 121.0, "/d/sf0.1", None)._2 == "no_ref(unreadable)")
  }

  test("oracle-coupling pins: the sf0.01 knob values the SQL mirrors embed") {
    // y3: 500 embeddings -> 4 planes (SimilarityQueries y3 oracle)
    assert(Similarity.planesFor(500, targetBucket = 32) == 4)
    // y2: 500 embeddings -> 4 planes (y2 oracle's sqlSignature(v, 4, t))
    assert(Similarity.planesFor(500, targetBucket = 32) == 4)
    // x5: 1000 doubled vectors -> 5 planes (x5 oracle's sqlSignature(v, 5))
    assert(Similarity.planesFor(1000, targetBucket = 32) == 5)
    // sd1: 1000 doubled vectors -> 16 centroids (sd1 oracle's LIMIT 16)
    assert(Ivf.centroidsFor(2L * 500) == 16)
  }
}
