package graft

import org.scalacheck.Gen
import org.apache.spark.sql.functions._
import graft.functions.{Cleaning, TextAnalysis}

/** Property-based tests (SURVEY §5.4) using ScalaCheck generators:
  * normalization idempotence, null-safety of every scalar op,
  * aggregate-domain bounds. Each property evaluates its generated batch
  * through one Spark job. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val weirdString: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr,
    Gen.listOf(Gen.oneOf('#', '.', ' ', '\n', '\t', '$', '1', 'a', 'Z', 'é', '中'))
      .map(_.mkString),
    Gen.const(""),
    Gen.const("  "),
    Gen.alphaStr.map(s => s"#.$s"))

  private def evalClean(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                        inputs: Seq[String]): Seq[Option[String]] = {
    val df = inputs.zipWithIndex.map { case (s, i) => (i, Option(s)) }.toDF("i", "s")
    df.orderBy("i").select(f(col("s")).as("r")).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getString(0))).toSeq
  }

  test("applyMerge == reference greedy scan on random token arrays") {
    // the padded-string regexp pass IS greedy left-to-right
    // non-overlapping merge; pin it to an independent driver-side
    // reference over random arrays from a 3-symbol alphabet (maximal
    // run/overlap density)
    def reference(toks: List[String], a: String, b: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer[String]()
      var i = 0
      while (i < toks.length) {
        if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
          out += s"$a~$b"; i += 2
        } else { out += toks(i); i += 1 }
      }
      out.toList
    }
    val tokGen = Gen.listOfN(400,
      Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "c"))))
    val arrays = tokGen.sample.get
    val pairs = Seq(("a", "a"), ("a", "b"), ("c", "c"), ("b", "c"))
    val df = arrays.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("i", "toks")
    pairs.foreach { case (a, b) =>
      val got = df.select($"i",
          graft.operators.LiteralArms.applyMerge($"toks", a, b).as("m"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
      arrays.zipWithIndex.foreach { case (t, i) =>
        val want = reference(t, a, b)
        assert(got(i.toLong) == want,
          s"merge ($a,$b) diverged on $t: got ${got(i.toLong)}, want $want")
      }
    }
  }

  test("cleanAddress invariants: null or lowercase, space-trimmed, length > 2") {
    // NOTE deliberate non-property: cleanAddress is NOT idempotent — the
    // reference strips '^[#.]+' before trimming (transform.py:64), so
    // " .. x" cleans to ".. x" once and to "x" twice. We preserve that
    // reference behavior exactly and assert output invariants instead.
    // (Spark `trim` strips only spaces, not tabs/newlines.)
    val samples = Gen.listOfN(200, weirdString).sample.get
    val once = evalClean(Cleaning.cleanAddress, samples)
    once.flatten.foreach { s =>
      assert(s == s.toLowerCase)
      assert(!s.startsWith(" ") && !s.endsWith(" "))
      assert(s.length > 2)
    }
  }

  test("normalizeLower/Upper are idempotent and never return empty") {
    val samples = Gen.listOfN(200, weirdString).sample.get
    for (f <- Seq(Cleaning.normalizeLower _, Cleaning.normalizeUpper _)) {
      val once = evalClean(f, samples)
      assert(once == evalClean(f, once.map(_.orNull)))
      // Spark trim strips spaces only — tabs/newlines can survive, but
      // the blank→NULL rule guarantees no empty and no space padding.
      assert(once.forall(_.forall(s =>
        s.nonEmpty && !s.startsWith(" ") && !s.endsWith(" "))))
    }
  }

  test("null inputs never throw and propagate as null through every scalar op") {
    val df = Seq((1, Option.empty[String], Option.empty[java.math.BigDecimal])).toDF("i", "s", "d")
    val out = df.select(
      Cleaning.cleanAddress(col("s")), Cleaning.entityType(col("s")),
      Cleaning.normalizeLower(col("s")), Cleaning.cleanStockSymbol(col("s")),
      Cleaning.fullAddress(col("s"), col("s")), Cleaning.toUsd(col("s"), col("d")),
      Cleaning.dateKey(col("s"))).collect()(0)
    (0 until out.length).foreach(i => assert(out.isNullAt(i), s"col $i not null"))
  }

  test("toUsd output is always a 2-dp decimal within rate bounds") {
    val amounts = Gen.listOfN(100, Gen.chooseNum(-100000L, 100000L)).sample.get
    val codes = Cleaning.FxRates.map(_._1) :+ "ZZZ"
    val rows = amounts.zipWithIndex.map { case (a, i) =>
      (i, codes(i % codes.length), BigDecimal(a, 2)) }
    val df = rows.toDF("i", "cur", "amt")
      .orderBy("i")
      .select(col("cur"), col("amt"), Cleaning.toUsd(col("cur"), col("amt")).as("usd"))
    df.collect().foreach { r =>
      val amt = BigDecimal(r.getDecimal(1)); val usd = BigDecimal(r.getDecimal(2))
      assert(usd.scale == 2)
      val maxRate = BigDecimal("1.33")
      assert(usd.abs <= (amt.abs * maxRate).setScale(2, BigDecimal.RoundingMode.HALF_UP))
    }
  }

  test("quality score stays in [0,1] for arbitrary text") {
    val samples = Gen.listOfN(200, weirdString).sample.get
    val df = samples.toDF("t").select(TextAnalysis.qualityScore(col("t")).as("q"))
    assert(df.collect().forall { r =>
      val q = r.getDouble(0); q >= 0.0 && q <= 1.0
    })
  }

  test("fingerprint stays in [0, 1e9+7) and tokenCount is non-negative") {
    val samples = Gen.listOfN(200, weirdString).sample.get
    val df = samples.toDF("t").select(
      TextAnalysis.fingerprint(col("t")).as("f"),
      TextAnalysis.tokenCount(col("t")).as("n"))
    assert(df.collect().forall { r =>
      r.getLong(0) >= 0 && r.getLong(0) < 1000000007L && r.getInt(1) >= 0
    })
  }

  test("Lm invariants on generated corpora: pair count, nll domain, vocab ranks") {
    val docGen = Gen.listOf(Gen.oneOf("a", "bb", "ccc", "d", "e")).map(_.mkString(" "))
    val texts = Gen.listOfN(60, docGen).sample.get
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

    // bigram transition count = max(n_tokens - 1, 0), summed over docs
    val expPairs = texts.map(t => math.max(t.trim.split("\\s+").count(_.nonEmpty) - 1, 0)).sum
    val gotPairs = graft.operators.Lm.bigramLogProb(df, "doc_id", "text")
      .agg(sum($"n_bigrams")).first().getLong(0)
    assert(gotPairs == expPairs.toLong)

    // nll is positive and finite (every smoothed probability < 1)
    val nlls = graft.operators.Lm.unigramLogProb(df, "doc_id", "text")
      .collect().map(_.getDouble(2))
    assert(nlls.forall(v => v > 0 && !v.isInfinite && !v.isNaN))

    // vocab ranks are 1..k without gaps, cf non-increasing
    val vr = graft.operators.Lm.vocabTopK(df, "doc_id", "text", k = 10)
      .orderBy($"rank").collect().map(r => (r.getInt(0), r.getLong(2)))
    assert(vr.map(_._1).toSeq == (1 to vr.length))
    assert(vr.map(_._2).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
  }

  test("scalarQuantize codes stay in [0, 255] on generated vectors") {
    val vecGen = Gen.listOfN(4, Gen.chooseNum(-100f, 100f))
    val rows = Gen.listOfN(50, vecGen).sample.get.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
    val df = rows.toDF("vec_id", "embedding")
    val codes = graft.operators.Quant.scalarQuantize(df, "vec_id", "embedding")
      .collect().flatMap(_.getString(2).split(",")).map(_.toInt)
    assert(codes.forall(c => c >= 0 && c <= 255))
  }

  test("join invariants: inner <= left; left preserves left row count") {
    val left = (1 to 300).map(i => (i % 50, i)).toDF("k", "v")
    val right = (1 to 40).map(i => (i, s"r$i")).toDF("k", "name") // keys 1..40
    val inner = left.join(right, Seq("k"), "inner").count()
    val leftJ = left.join(right.groupBy("k").agg(first("name").as("name")),
      Seq("k"), "left").count()
    assert(inner <= leftJ)
    assert(leftJ == left.count()) // right side unique per key -> count preserved
  }

  test("dedupParagraphs == reference greedy seen-set scan on random corpora") {
    // global keep-first at min (id, pos) IS a single ordered pass with a
    // seen-set; pin the two-exchange distributed shape to that
    // independent driver-side reference over corpora drawn from a tiny
    // paragraph pool (maximal cross-doc and within-doc dup density,
    // empty paragraphs included)
    def reference(docs: Seq[(Long, String)]): Map[Long, String] = {
      val seen = scala.collection.mutable.HashSet[String]()
      docs.sortBy(_._1).flatMap { case (id, text) =>
        val kept = text.split("\n", -1).filter(p => p.nonEmpty && seen.add(p))
        if (kept.nonEmpty) Some(id -> kept.mkString("\n")) else None
      }.toMap
    }
    val pool = Vector("alpha", "beta", "gamma", "delta", "", "alpha beta", "x")
    val corpusGen = Gen.listOfN(40,
      Gen.choose(0, 6).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf(pool)).map(_.mkString("\n"))))
    for (trial <- 1 to 5) {
      val texts = corpusGen.sample.get
      val docs = texts.zipWithIndex.map { case (t, i) => ((i + 1).toLong, t) }
      val got = graft.operators.Dedup
        .dedupParagraphs(docs.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == reference(docs), s"trial $trial diverged on $docs")
    }
  }

  test("cleanText is idempotent and never widens on generated dirty strings") {
    // strings seeded with the exact artifacts the pass repairs: mojibake
    // digraphs, curly punctuation, control chars, NBSP, whitespace runs
    val dirt = Gen.oneOf(
      TextAnalysis.MojibakeFixes.map(_._1) ++
        TextAnalysis.PunctNormalizations.map(_._1) ++
        Seq("", " ", "  ", "\t", "\n", " word ", "a", "."))
    val dirty: Gen[String] =
      Gen.listOfN(12, dirt).map(_.mkString)
    val inputs = Gen.listOfN(80, Gen.oneOf(dirty, weirdString))
      .sample.getOrElse(Seq.fill(80)("x"))
    val once = evalClean(TextAnalysis.cleanText, inputs)
    val twice = evalClean(TextAnalysis.cleanText, once.map(_.orNull))
    assert(once == twice, "cleanText must be a fixpoint after one pass")
    inputs.zip(once).foreach { case (in, out) =>
      // the only growing rule is ellipsis -> "..." (1 char -> 3)
      assert(out.forall(_.length <= 3 * in.length.max(1)),
        s"cleanup must not grow text past the ellipsis bound: '$in' -> '$out'")
      // none of the repaired artifacts survive
      out.foreach { o =>
        TextAnalysis.MojibakeFixes.foreach { case (from, _) =>
          assert(!o.contains(from), s"unrepaired mojibake '$from' in '$o'") }
        assert(!o.exists(c => c < ' '), s"control char survived in '$o'")
        assert(!o.contains("  "), s"whitespace run survived in '$o'")
      }
    }
  }
}
