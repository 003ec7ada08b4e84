package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Median (upper on even counts — matches the historical artifacts). */
  private[graft] def med(ts: Seq[Double]): Double = ts.sorted.apply(ts.length / 2)

  /** Headline per-query number: median of the stable cluster (runs
    * within 3× of the query's own min) — robust to contaminated outlier
    * runs (GC pause, load burst, codegen-cold first run), which stay
    * visible in the raw `times`/`spread` fields. Two guards:
    *  - the cluster must hold a MAJORITY of the runs, else the plain
    *    median is reported — a single anomalously FAST run (the min is
    *    the anchor) can therefore never decide the headline on its own;
    *  - the all-runs-failed sentinel (-1) passes through unfiltered (a
    *    negative floor would empty the cluster). */
  private[graft] def stableMed(ts: Seq[Double]): Double = {
    if (ts.min <= 0) return med(ts)
    val cluster = ts.filter(_ <= 3.0 * ts.min)
    if (2 * cluster.length >= ts.length) med(cluster) else med(ts)
  }

  private def load1(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split(" ").head.toDouble
    catch { case _: Throwable => -1.0 }

  private def load5(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split(" ")(1).toDouble
    catch { case _: Throwable => -1.0 }

  /** Quiet-start gate (r17 verdict #1): the capture discipline used to
    * live only in tools/bench_full_quiet.sh, so any path that invoked
    * this main directly (the driver's harness does) could ship a
    * contended artifact — BENCH_r17.json ran at loads 3.0–9.1 and read
    * 17 % above the committed quiet capture of identical code. The gate
    * now lives HERE: before the SparkSession exists, wait (bounded) for
    * the 1-min loadavg to fall below the threshold, and stamp the
    * outcome in the artifact so every capture is self-adjudicating:
    *   "passed"  — load was below the threshold when timing started;
    *   "timeout" — still loaded after the max wait (artifact is
    *               explicitly suspect; loads[] shows how much);
    *   "waived"  — SPARK_GRAFT_NO_QUIET_GATE was set (opt-out for
    *               lanes that interleave their own captures);
    *   "unreadable" — /proc/loadavg missing (non-Linux), no wait.
    * Returns (verdict, secondsWaited). */
  /** The gate's (1-min, 5-min) load thresholds — read in one place so the
    * artifact can stamp the DISCIPLINE a "passed" was earned under (r19
    * advice: pairs 5–9 passed a relaxed SPARK_GRAFT_QUIET_LOAD5=10 gate
    * yet carried the same "passed" string as full-discipline siblings). */
  private[graft] def quietThresholds(): (Double, Double) = {
    val threshold = sys.env.getOrElse("SPARK_GRAFT_QUIET_LOAD", "2.0").toDouble
    val threshold5 = sys.env.getOrElse("SPARK_GRAFT_QUIET_LOAD5",
      threshold.toString).toDouble
    (threshold, threshold5)
  }

  private[graft] def quietGate(): (String, Int) = {
    if (sys.env.contains("SPARK_GRAFT_NO_QUIET_GATE")) return ("waived", 0)
    // The 5-MIN load is gated too (r18 verdict #2): BENCH_r18.json passed
    // the 1-min-only gate at load_before [2.18, 10.11, 13.75] — a host
    // mid-recovery from heavy work, whose residual page-cache/cgroup
    // pressure put every query 24 % above 12 same-code quiet siblings.
    // A genuinely quiet box has BOTH averages low; the 5-min average
    // decays e-fold per 5 min, hence the longer default wait.
    val (threshold, threshold5) = quietThresholds()
    val maxWait = sys.env.getOrElse("SPARK_GRAFT_QUIET_MAX_WAIT", "900").toInt
    // either average unreadable -> neither leg of the gate can run (r19
    // advice: a load5() read failure used to silently pass the 5-min leg)
    if (load1() < 0 || load5() < 0) return ("unreadable", 0)
    def noisy() = load1() >= threshold || load5() >= threshold5
    var waited = 0
    while (noisy() && waited < maxWait) {
      if (waited == 0)
        System.err.println(s"[bench] quiet gate: loadavg ${load1()}/${load5()}" +
          s" (1m/5m) >= $threshold/$threshold5, waiting (max ${maxWait}s; " +
          "SPARK_GRAFT_NO_QUIET_GATE=1 to waive)")
      Thread.sleep(10000); waited += 10
    }
    (if (!noisy()) "passed" else "timeout", waited)
  }

  /** Post-run deviation check (r18 verdict #2, second leg): a gate that
    * only samples loadavg BEFORE the run can still stamp `passed` on a
    * mid-recovery host whose contention shows up in the numbers, not the
    * load. Defense: compare this capture's total against the last
    * COMMITTED quiet artifact of the same surface (`git show
    * HEAD:BENCH_full.json`, overridable via SPARK_GRAFT_QUIET_REF) and
    * downgrade the stamp to "suspect" when the total reads >15 % SLOWER
    * (one-sided — a faster box is not contention). The reference must
    * itself be clean under the HARDENED criteria (quiet_gate=passed and
    * both load_before averages under the gate), so a contaminated
    * committed artifact can never launder a contaminated capture.
    * Returns (finalVerdict, postCheckNote). */
  private[graft] def postCheck(quietVerdict: String, total: Double,
                               sfDir: String, fullSurface: Boolean,
                               calibCur: Option[Double]): (String, String) = {
    if (!fullSurface) return (quietVerdict, "skipped(subset)")
    val refText: Option[String] = sys.env.get("SPARK_GRAFT_QUIET_REF") match {
      case Some(p) =>
        try Some(java.nio.file.Files.readString(java.nio.file.Paths.get(p)))
        catch { case _: Throwable => None }
      case None =>
        try {
          val pr = new ProcessBuilder("git", "show", "HEAD:BENCH_full.json").start()
          val out = new String(pr.getInputStream.readAllBytes(), "UTF-8")
          if (pr.waitFor() == 0 && out.nonEmpty) Some(out) else None
        } catch { case _: Throwable => None }
    }
    // Default threshold 40 %: the committed reference is ONE point inside
    // a host band documented at ±20 % (SCALE.md r18/r19 pair sessions),
    // and can sit at the band's fast edge (the r19 91.9 s capture reads
    // 0.75× the r18 sibling medians, uniformly). A 15 % trigger against a
    // fast-edge ref would stamp honest in-band captures suspect; at 40 %
    // the r18-style mid-recovery capture (+64 % vs the r19 ref) still
    // flags while the band's slow edge (+46 % worst case) rarely does.
    // The (15 %, 40 %] gray zone gets its own stamp, "passed_elevated"
    // (r19 verdict #6): in-band-but-warm captures — the driver's r19
    // recapture sat at +20.5 % and read plain "passed" — are now
    // machine-segregable without a post_check archaeology pass.
    // The measured deviation is ALWAYS in post_check for the reader —
    // "suspect" stays reserved for strong evidence.
    val (thr1, thr5) = quietThresholds()
    postCheckDecision(quietVerdict, total, sfDir, refText,
      thr = thr1, thr5 = thr5,
      devPct = sys.env.getOrElse("SPARK_GRAFT_QUIET_DEV_PCT", "40").toDouble,
      elevPct = sys.env.getOrElse("SPARK_GRAFT_QUIET_ELEV_PCT", "15").toDouble,
      calibCur = calibCur)
  }

  /** Pure decision core of [[postCheck]] (unit-tested directly).
    * Stamps: deviation > devPct -> "suspect"; in (elevPct, devPct] ->
    * "passed_elevated"; else the quiet verdict survives. When BOTH this
    * capture and the reference carry the fixed calibration probe
    * ([[calibProbe]]), the note also reports `deviation_norm` — the
    * deviation after dividing out the hosts' calib-speed ratio, i.e.
    * what the drift looks like with the host regime removed (reported,
    * never a stamp input: contention slows the calib too, so
    * normalizing the STAMP would launder exactly what it polices). */
  private[graft] def postCheckDecision(quietVerdict: String, total: Double,
                                       sfDir: String, refText: Option[String],
                                       thr: Double, thr5: Double,
                                       devPct: Double, elevPct: Double,
                                       calibCur: Option[Double]): (String, String) = {
    def field(src: String, re: scala.util.matching.Regex): Option[String] =
      re.findFirstMatchIn(src).map(_.group(1))
    val note = refText match {
      case None => "no_ref(unreadable)"
      case Some(txt) =>
        val refTotal = field(txt, """"metric":"total","value":([0-9.Ee+-]+)""".r).map(_.toDouble)
        val refSf = field(txt, """"sf":"([^"]+)"""".r)
        val refGate = field(txt, """"quiet_gate":"([^"]+)"""".r)
        val refLoads = field(txt, """"load_before":\[([0-9.,\s-]+)\]""".r)
          .map(_.split(",").map(_.trim.toDouble))
        // the ref's 5-min average is judged against the 5-MIN threshold
        // (r19 advice: it was judged against thr(1m), demoting refs
        // legitimately captured under a raised SPARK_GRAFT_QUIET_LOAD5)
        (refTotal, refSf, refGate, refLoads) match {
          case (Some(_), Some(sf), Some(_), Some(_)) if sf != sfDir =>
            s"no_ref(sf_mismatch:$sf)"
          case (Some(_), _, Some(g), _) if g != "passed" =>
            s"no_ref(ref_gate:$g)"
          case (Some(_), _, _, Some(lb)) if lb.length < 2 || lb(0) >= thr || lb(1) >= thr5 =>
            s"no_ref(ref_contended:[${lb.mkString(",")}])"
          case (Some(t), Some(_), Some(_), Some(_)) =>
            // Locale.ROOT: a comma-decimal default locale would break both
            // the JSON field and the suspect-parse below
            val fmt = (p: String, x: Double) =>
              String.format(java.util.Locale.ROOT, p, Double.box(x))
            val refCalib = field(txt,
              """"calib":\{[^}]*"total":([0-9.Ee+-]+)""".r).map(_.toDouble)
            val norm = (calibCur, refCalib) match {
              case (Some(cc), Some(cr)) if cc > 0 && cr > 0 =>
                s",calib_ref=${fmt("%.2f", cr)},calib_cur=${fmt("%.2f", cc)}" +
                  s",deviation_norm=${fmt("%+.1f", ((total / t) / (cc / cr) - 1.0) * 100)}%"
              case _ => ""
            }
            s"ref_total=${fmt("%.1f", t)}," +
              s"deviation=${fmt("%+.1f", (total / t - 1.0) * 100)}%" + norm
          case _ => "no_ref(unparsed)"
        }
    }
    val dev: Option[Double] =
      if (note.startsWith("ref_total="))
        Some(note.split("deviation=")(1).split("%")(0).toDouble)
      else None
    val verdict = dev match {
      case Some(d) if d > devPct && quietVerdict == "passed" => "suspect"
      case Some(d) if d > elevPct && quietVerdict == "passed" => "passed_elevated"
      case _ => quietVerdict
    }
    (verdict, note)
  }

  /** Fixed host-speed calibration probe (r19 verdict #1): three tiny
    * SF-INDEPENDENT kernels — codegen'd arithmetic, a small shuffle, a
    * string/hash pass — run before the query loop in EVERY bench session
    * and stamped into env.calib of every artifact, so a round-over-round
    * headline drift on an unchanged query surface is machine-attributable
    * to host regime (calib moved with it) vs code (calib flat) instead of
    * a hand archaeology pass per round. Deliberately synthetic rather
    * than the verdict's example sfDir gates: a fixed workload is the SAME
    * number at sf0.1, sf1, sf10 and under SPARK_GRAFT_ONLY subsets, so
    * one calib scale spans all lanes. Median of 3 per kernel (first run
    * eats residual JIT). Skippable via SPARK_GRAFT_NO_CALIB (stamped as
    * null). */
  private[graft] def calibProbe(spark: SparkSession): Option[(String, Double)] = {
    if (sys.env.contains("SPARK_GRAFT_NO_CALIB")) return None
    // MIN of 5, not median: the probe estimates the host's unloaded
    // capability (the normalization denominator), and timing noise on a
    // fixed workload is strictly additive — the min is the stable lower
    // envelope (3-JVM trial: medians spread 57% on the shuffle kernel,
    // mins 6%)
    def min5(f: => Unit): Double = (1 to 5).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }.min
    val cpu = min5 {
      // max, not sum: summing 40M full-range hashes overflows long under
      // ANSI; max still forces every hash to be computed
      spark.range(0, 640000000L, 1, 32)
        .selectExpr("max(xxhash64(id * 2654435761)) s").collect()
    }
    val shuffle = min5 {
      spark.range(0, 150000000L, 1, 32).selectExpr("id % 8192 AS k")
        .groupBy("k").count().agg(org.apache.spark.sql.functions.sum("count")).collect()
    }
    val str = min5 {
      spark.range(0, 6400000L, 1, 32)
        .selectExpr("sha2(cast(id AS string), 256) AS h")
        .selectExpr("sum(length(h)) s").collect()
    }
    def n(x: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))
    val total = cpu + shuffle + str
    Some((s"""{"cpu":${n(cpu)},"shuffle":${n(shuffle)},"string":${n(str)},""" +
      s""""total":${n(total)},"runs":5,"stat":"min"}""", total))
  }

  /** Where the full artifact goes: SPARK_GRAFT_BENCH_FULL if set, else
    * the tracked `BENCH_full.json` for a full-surface run, else (a
    * SPARK_GRAFT_ONLY subset) `target/BENCH_subset.json`, so a partial
    * run never overwrites the committed full artifact that [[postCheck]]
    * reads back as its reference. */
  private[graft] def fullArtifactPath(env: Map[String, String]): String =
    env.getOrElse("SPARK_GRAFT_BENCH_FULL",
      if (env.contains("SPARK_GRAFT_ONLY")) "target/BENCH_subset.json" else "BENCH_full.json")

  def main(args: Array[String]): Unit = {
    val (quietVerdict, quietWaitSec) = quietGate()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.builder()
      // Heap-proofing (round-8 finding, SCALE.md "heap contamination"):
      // Spark frees broadcast/shuffle/checkpoint state via weak references,
      // so cleanup only happens when the driver GCs. At a huge heap
      // (SPARK_DRIVER_MEM >> 8g) full GCs are rare, state from hundreds of
      // prior query runs accumulates, and late-alphabet queries slow 10-100x.
      // periodicGC forces a driver GC on a wall-clock cadence so ContextCleaner
      // keeps draining regardless of heap size (default is 30min — far longer
      // than this whole bench).
      .config("spark.cleaner.periodicGC.interval", "30s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the load_before stamp must reflect the HOST's state, so it is
    // sampled before this process does any real work (the calib probe
    // below alone pushes the 1-min average up by its own parallelism)
    def loadAvg0(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split(" ").take(3).mkString("[", ",", "]")
      catch { case _: Throwable => "null" }
    val loadBefore = loadAvg0()
    // absorb session/codegen warm-up outside the first query's timing
    spark.range(1000).selectExpr("sum(id)").collect()
    // fixed host-speed calibration (r19 verdict #1) — BEFORE the query
    // loop, stamped into env.calib of every artifact
    val calib = calibProbe(spark)
    // optional comma-separated filter for timing individual queries
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter { case (k, _) => names.contains(k) })
    // MEDIAN of N runs (default 3) in FIXED (sorted-name) order —
    // round-2 showed single-shot timings of untouched queries moving
    // 2-3x between rounds (GC / Map-iteration-order / JIT effects);
    // the median over a deterministic order is robust to one bad run
    // without hiding a consistent regression the way min can.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    def loadAvg(): String = loadAvg0()
    // Self-adjudicating timing (round-9 finding: committed sf1 medians for
    // x3/y3/x7 were background-load artifacts only diagnosable via
    // SCALE.md archaeology). Three defenses, all IN the artifact:
    //  1. every run is stamped with the 1-min loadavg at its start
    //     ("loads") and all raw times are kept in run order ("times");
    //  2. a query whose min..max spread exceeds 3x triggers AUTO-RERUNS
    //     (up to `runs` extra) — a contaminated run (GC pause, load
    //     burst, codegen-cold first run) can then be outvoted instead of
    //     deciding the median of 3;
    //  3. the headline per-query number is the median of the runs within
    //     3x of that query's OWN min (the stable cluster) — outlier runs
    //     stay visible in "times"/"spread" but stop polluting the number
    //     the judge compares across rounds.
    // Untimed per-query warm-up iterations (r19 verdict #2): the ANN
    // interleave lane measured y3's sf10 runs still JIT-warming at run 3
    // (124 -> 117 -> 76.5 s — a cold capture over-reads the gate ~2x).
    // Lanes that need the warm band set SPARK_GRAFT_WARMUP_RUNS >= 1;
    // the count is stamped in the artifact so warm and cold captures are
    // never silently compared.
    val warmupRuns = sys.env.getOrElse("SPARK_GRAFT_WARMUP_RUNS", "0").toInt
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      def run1(): Option[(Double, Double)] = {
        val l = load1()
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Some(((System.nanoTime() - t0) / 1e9, l)) }
        catch { case _: Throwable => None } // failed run: no timing
      }
      (1 to warmupRuns).foreach(_ => run1()) // untimed, failures ignored
      var samples = (1 to runs).flatMap(_ => run1())
      var extra = 0
      while (samples.nonEmpty && extra < runs &&
             samples.map(_._1).max / samples.map(_._1).min > 3.0 &&
             samples.count(_._1 <= 3.0 * samples.map(_._1).min) < runs) {
        samples ++= run1(); extra += 1
      }
      // Per-query GC (outside the timed section): promptly enqueues the
      // weak refs ContextCleaner drains, so no query inherits the previous
      // queries' broadcast/shuffle state. Belt to periodicGC's suspenders —
      // together they make the numbers heap-size-independent.
      System.gc()
      // ...and drop persisted blocks (localCheckpoint/cache) the previous
      // query materialized: ContextCleaner's weak-ref path is ASYNC and can
      // lag, leaving checkpoint-heavy queries' storage blocks (cur3/x7
      // hold ~0.5 GB each at sf1) resident in unified memory while later
      // queries run. Every query builds its frames from scratch, so
      // inter-query persisted state is garbage by construction here —
      // dropping it synchronously costs nothing and removes one suite-
      // order dependence (SCALE.md round-9 environment notes).
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      // all runs failed -> explicit -1 sentinel, never a time-to-throw
      name -> (if (samples.nonEmpty) samples else Seq((-1.0, -1.0)))
    }
    // Environment block: a uniform cross-round drift on identical code is
    // only diagnosable if the run records the machine state it saw.
    // loadavg is sampled BEFORE and AFTER the timed section — a non-idle
    // "before" or a big jump flags background contention on the box.
    val rt = Runtime.getRuntime
    // post-run deviation check may DOWNGRADE the gate stamp to "suspect"
    // (r18 verdict #2): a mid-recovery host can pass the pre-run load
    // gate yet run 20+ % slow; the committed quiet artifact is the judge
    val preTotal = results.map(r => stableMed(r._2.map(_._1))).sum
    val (gateVerdict, postNote) =
      postCheck(quietVerdict, preTotal, sfDir, fullSurface = only.isEmpty,
        calibCur = calib.map(_._2))
    val (thr1, thr5) = quietThresholds()
    def thrFmt(x: Double) =
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(x))
    val env =
      s"""{"load_before":$loadBefore,"load_after":${loadAvg()},""" +
        s""""quiet_gate":"$gateVerdict","quiet_wait_sec":$quietWaitSec,""" +
        s""""quiet_load_thr":[${thrFmt(thr1)},${thrFmt(thr5)}],""" +
        s""""post_check":"$postNote",""" +
        s""""calib":${calib.map(_._1).getOrElse("null")},""" +
        s""""warmup_runs":${sys.env.getOrElse("SPARK_GRAFT_WARMUP_RUNS", "0").toInt},""" +
        s""""heap_max_mb":${rt.maxMemory() / (1 << 20)},""" +
        s""""procs_online":${rt.availableProcessors()},""" +
        s""""java":"${System.getProperty("java.version")}",""" +
        s""""spark":"${spark.version}"}"""
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + stableMed(v.map(_._1)) }
      .mkString("{", ",", "}")
    // per-query min/median-of-all/max alongside the headline, so a 1.3x
    // move can be told from noise without re-running (a median inside
    // last round's [min,max] band is noise; outside it is a real shift)
    val spread = results.map { case (k, v) =>
      val ts = v.map(_._1)
      s"\"" + k + "\":[" + ts.min + "," + med(ts) + "," + ts.max + "]"
    }.mkString("{", ",", "}")
    // raw per-run times (run order) and the 1-min loadavg stamped at each
    // run's start: the artifact itself now proves (or rules out)
    // background-load contamination for any suspicious number
    // Locale.ROOT: the f-interpolator uses the JVM default locale, and a
    // comma-decimal locale (de_DE, fr_FR) would emit invalid JSON here
    def num(x: Double, fmt: String) =
      String.format(java.util.Locale.ROOT, fmt, Double.box(x))
    val times = results.map { case (k, v) =>
      s"\"" + k + "\":" + v.map(t => num(t._1, "%.3f")).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // Bimodality flag (round-10 advice): the min-anchored stable cluster
    // deliberately discards contaminated slow runs, but for a GENUINELY
    // bimodal query (two reproducible modes, e.g. the y3 heap-shift case)
    // it would silently headline the fast mode. Any query whose trimmed
    // headline diverges from the plain all-runs median by >1.5x is listed
    // here with both numbers, so intermittent regressions surface in the
    // artifact itself instead of needing a times[] audit.
    val bimodal = results.flatMap { case (k, v) =>
      val ts = v.map(_._1)
      val h = stableMed(ts); val m = med(ts)
      if (h > 0 && m / h > 1.5)
        Some(s"\"" + k + "\":{\"headline\":" + num(h, "%.3f") +
          ",\"plain_median\":" + num(m, "%.3f") + "}")
      else None
    }.mkString("{", ",", "}")
    val loads = results.map { case (k, v) =>
      s"\"" + k + "\":" + v.map(t => num(t._2, "%.2f")).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = preTotal
    // self-documenting provenance: BENCH artifacts produced before this
    // guard existed are heap-size-sensitive (see SCALE.md, "heap
    // contamination" — BENCH_r08.json at 89 GiB); artifacts carrying
    // this field ran with GC-triggered cleaner draining forced on
    val guard = """"gc_guard":"periodicGC=30s + per-query System.gc() (SCALE.md heap-contamination finding)""""
    val adjud = """"adjudication":"queries=median of runs within 3x of per-query min; >3x spread auto-reruns (<= runs extra); raw per-run times+loadavg in times/loads; headline-vs-plain-median divergence >1.5x flagged in bimodal""""
    // Two-artifact output (12 rounds of the driver's BENCH_r*.json coming
    // back `parsed: null`): the FULL self-adjudicating record — raw
    // times, loads, spread, bimodal flags, env — is large enough that
    // only its tail survives the driver's stdout capture, so it goes to
    // a FILE, and stdout's final line carries NO per-query map at all
    // (the r12 compact line still embedded the 124-entry medians map and
    // still got its head clipped): just total + runs + sf + the file
    // pointer — small enough that any tail capture holds it whole.
    val fullPath = fullArtifactPath(sys.env)
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"spread":$spread,"times":$times,"loads":$loads,"bimodal":$bimodal,"runs":$runs,"sf":"$sfDir",$guard,$adjud,"env":$env}"""
    try {
      val p = java.nio.file.Paths.get(fullPath)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.writeString(p, full)
    }
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $fullPath (${e.getMessage}); full artifact follows on stderr")
      System.err.println(full)
    }
    val compact = s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"sf":"$sfDir","full":"$fullPath"}"""
    // Per-query visibility for the driver (r20 verdict #5): one small
    // line per gate BEFORE the total line, so a stdout-only consumer can
    // build the per-query table without ingesting BENCH_full.json. Pure
    // ADDITION to the stdout contract — the total line's format, its
    // position as the last stdout write, and the full artifact are all
    // unchanged (each line is ~60 bytes; the 142-gate block is ~9 KB,
    // far under any tail-capture clipping that motivated the compact
    // line, which remains the only line the driver MUST parse).
    results.foreach { case (k, v) =>
      println(s"""{"metric":"query","name":"$k","sec":${num(stableMed(v.map(_._1)), "%.3f")}}""")
    }
    // Belt + suspenders for the driver's last-line stdout parse: print the
    // compact line here (after all query work), and AGAIN from a JVM
    // shutdown hook so that even if Spark's JVM-exit cleanup interleaves
    // any output after main returns, the last *stdout* write of the
    // process is still this JSON. (build.sbt suppresses sbt's own
    // "[success]" stdout epilogue — the line that clipped 13 rounds of
    // BENCH_r*.json parses.)
    println(compact)
    System.out.flush()
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      println(compact); System.out.flush()
    }))
    spark.stop()
  }
}
