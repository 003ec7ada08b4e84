package graft

import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis
import graft.operators.Dedup
import graft.operators.LiteralArms

/** Text-analysis + dedup semantics, incl. LSH recall vs exact Jaccard. */
class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  test("token counts and ratios") {
    val df = Seq("the cat sat on the mat", "a, b! c?", "   ", "word").toDF("t")
    val got = df.select(
      TextAnalysis.tokenCount($"t").as("n"),
      TextAnalysis.bpeishTokenCount($"t").as("nb"),
      TextAnalysis.stopwordRatio($"t").as("sr")).collect()
    assert(got(0).getInt(0) == 6)
    assert(got(0).getDouble(2) == 3.0 / 6)   // the, on, the
    assert(got(1).getInt(1) == 6)            // a , b ! c ?
    assert(got(2).getInt(0) == 0 && got(2).getDouble(2) == 0.0)
    assert(got(3).getInt(0) == 1)
  }

  test("quality score within [0,1] and ordering sane") {
    val good = "the quick brown fox jumps over the lazy dog and runs far away to the hills " * 3
    val bad = "!!! ??? ... ;;; ::: !!!"
    val df = Seq(good, bad).toDF("t")
      .select(TextAnalysis.qualityScore($"t").as("q")).collect()
    assert(df.forall(r => r.getDouble(0) >= 0.0 && r.getDouble(0) <= 1.0))
    assert(df(0).getDouble(0) > df(1).getDouble(0))
  }

  test("langId picks the marker-heavy language deterministically") {
    val df = Seq(
      "the cat and the dog is of note",  // en markers
      "le chat et les chiens des bois",  // fr markers
      "nothing matching here xyzzy"      // all-zero -> first lang 'de' by tie rule
    ).toDF("t").select(TextAnalysis.langId($"t").as("l")).collect()
    assert(df(0).getString(0) == "en")
    assert(df(1).getString(0) == "fr")
    assert(df(2).getString(0) == "de")
  }

  test("fingerprint is order-sensitive and stable") {
    val df = Seq("alpha beta gamma", "gamma beta alpha", "alpha beta gamma").toDF("t")
      .select(TextAnalysis.fingerprint($"t").as("f")).collect()
    assert(df(0).getLong(0) == df(2).getLong(0))
    assert(df(0).getLong(0) != df(1).getLong(0))
    assert(df.forall(r => r.getLong(0) >= 0 && r.getLong(0) < 1000000007L))
  }

  test("exact dedup keeps min id and counts copies") {
    val df = Seq((5L, "xx"), (2L, "xx"), (9L, "yy")).toDF("doc_id", "text")
    val got = Dedup.exact(df, "doc_id", "text").orderBy("keep_id")
      .collect().map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies")))
    assert(got.toSeq == Seq((2L, 2L), (9L, 1L)))
    val drops = Dedup.exactDropIds(df, "doc_id", "text").select("drop_id")
      .collect().map(_.getLong(0))
    assert(drops.toSeq == Seq(5L))
  }

  test("simhash: identical text -> distance 0; near text -> small distance") {
    val sh = Dedup.simhashes(Seq(
        (0L, "the quick brown fox jumps over the lazy dog"),
        (1L, "the quick brown fox jumps over the lazy cat"),
        (2L, "completely different words entirely unrelated topic"),
        (3L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "t"), "doc_id", "t")
      .orderBy("id").collect().map(_.getLong(1))
    assert(sh.length == 4)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0), sh(3)) == 0)
    assert(ham(sh(0), sh(1)) < ham(sh(0), sh(2)))
  }

  test("simhashPairs: recall is pigeonhole-exact when maxHamming < bands") {
    val corpus = graft.queries.TextQueries.nearDupCorpus(spark, "/root/testdata/sf0.001")
    // ground truth: brute-force hamming over the signatures themselves
    val sigs = Dedup.simhashes(corpus, "doc_id", "text")
    val a = sigs.select($"id".as("id_a"), $"sh".as("sh_a"))
    val b = sigs.select($"id".as("id_b"), $"sh".as("sh_b"))
    val exact = a.crossJoin(b).filter($"id_a" < $"id_b")
      .withColumn("hamming", bit_count($"sh_a".bitwiseXOR($"sh_b")))
      .filter($"hamming" <= 6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 6, bands = 7)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "corpus must contain hamming<=6 signature pairs")
    assert(banded == exact,
      s"7-band blocking at maxHamming=6 must be exact: |exact|=${exact.size}, |banded|=${banded.size}")
  }

  test("simhashPairs: maxSigGroup drops identical-signature mega-clusters") {
    val boiler = "copy paste boiler plate text repeated verbatim everywhere " * 3
    val near = "one two three four five six seven eight nine ten " * 3
    val docs = (Seq.tabulate(5)(i => (i.toLong, boiler)) ++
      Seq(10L -> near, 11L -> near)).toDF("doc_id", "text")
    // unbounded: the identical 5-clique (10 pairs at hamming 0, in every
    // band's bucket — no band knob can split identical signatures) plus
    // the identical 2-clique
    val all = Dedup.simhashPairs(docs, "doc_id", "text",
      maxHamming = 6, bands = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all.size == 11 && all.contains((10L, 11L)))
    // guard at 4: the 5-clique's sh group holds 5 ids -> its docs drop
    // before banding; the 2-clique (sh group of 2) survives intact
    val guarded = Dedup.simhashPairs(docs, "doc_id", "text",
      maxHamming = 6, bands = 7, maxSigGroup = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(guarded == Set((10L, 11L)))
    // and the gate arm (MaxBucket) is a no-op on the uniform corpus —
    // the same equality the oracle mirror relies on (identical-text
    // families there are far below the bound)
    val corpus = graft.queries.TextQueries.nearDupCorpus(spark, "/root/testdata/sf0.001")
    val unguardedC = Dedup.simhashPairs(corpus, "doc_id", "text",
      maxHamming = 6, bands = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val guardedC = Dedup.simhashPairs(corpus, "doc_id", "text",
      maxHamming = 6, bands = 7,
      maxSigGroup = graft.queries.TextQueries.MaxBucket)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(guardedC == unguardedC)
  }

  test("minhash LSH recall vs exact jaccard pairs on near-dup corpus") {
    val corpus = graft.queries.TextQueries.nearDupCorpus(spark, "/root/testdata/sf0.001")
    val exact = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = LiteralArms.minhashLshPairsPlain(corpus, "doc_id", "text", 3, 16, 8, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "corpus must contain true near-dups")
    val recall = (exact intersect lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall too low (|exact|=${exact.size}, |lsh|=${lsh.size})")
    // verification step guarantees precision = 1 on the jaccard threshold
    assert(lsh.subsetOf(
      Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.0).select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ++ lsh))
  }

  test("scrubPii redacts emails then IPs, counts match, plain text untouched") {
    import graft.functions.TextAnalysis
    val df = Seq(
      (1L, "mail a.b+c@sub.example.org and 192.168.001.7 end"),
      (2L, "no pii here just words"),
      (3L, "two mails x@y.io z@w.co one ip 8.8.8.8"),
      (4L, "not-an-ip 1234.5.6.7890 stays")).toDF("id", "t")
    val got = df.select(col("id"), TextAnalysis.scrubPii(col("t")).as("s"),
      TextAnalysis.countMatches(col("t"), TextAnalysis.EmailRegex).as("ne"),
      TextAnalysis.countMatches(col("t"), TextAnalysis.Ipv4Regex).as("ni"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(got(1L) == (("mail <EMAIL> and <IP> end", 1, 1)))
    assert(got(2L) == (("no pii here just words", 0, 0)))
    assert(got(3L) == (("two mails <EMAIL> <EMAIL> one ip <IP>", 2, 1)))
    // \b keeps 1234.5.6.7890 from matching as an inner dotted quad
    assert(got(4L) == (("not-an-ip 1234.5.6.7890 stays", 0, 0)))
  }

  test("contamination: planted benchmark leak flagged with exact ratio") {
    // doc 1 = the benchmark text verbatim (ratio 1), doc 2 shares a
    // 10-token span (some 3-gram hits), doc 3 disjoint (absent from
    // n_hit>0 but present in the full report with 0)
    val leak = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, leak),
      (2L, s"unrelated prefix tokens here $leak trailing suffix"),
      (3L, "completely different words nothing shared at all"))
      .toDF("doc_id", "text")
    val bench = Seq(Tuple1(leak)).toDF("text")
    val rep = Dedup.contamination(docs, "doc_id", "text", bench, "text", n = 3)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(rep(1L)._3 == 1.0, s"verbatim leak must be fully contaminated: ${rep(1L)}")
    val (g2, h2, r2) = rep(2L)
    assert(h2 == 8, s"10 shared tokens -> 8 shared 3-grams, got $h2")
    assert(r2 == h2.toDouble / g2)
    assert(rep(3L)._2 == 0 && rep(3L)._3 == 0.0, "disjoint doc has zero hits")
    // every doc appears, even short ones
    val short = Seq((9L, "ab")).toDF("doc_id", "text")
    assert(Dedup.contamination(short, "doc_id", "text", bench, "text", n = 3)
      .count() == 1)
  }

  test("shared-scan minhash LSH is row-identical to the plain path") {
    // the shared variant changes only data movement (one tokenize pass,
    // checkpointed (id, sig, grams)); pairs AND jaccard doubles must be
    // bit-identical — collect_set dedup is invisible to set-based jaccard
    val corpus = graft.queries.TextQueries.nearDupCorpus(spark, "/root/testdata/sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val plain = rows(LiteralArms.minhashLshPairsPlain(corpus, "doc_id", "text", 3, 16, 8, 0.6))
    val shared = rows(Dedup.minhashLshPairs(corpus, "doc_id", "text", 3, 16, 8, 0.6))
    assert(plain.nonEmpty && shared == plain,
      s"|plain|=${plain.size} |shared|=${shared.size} diff=${(plain diff shared).take(3)}")
  }

  test("components: chains, cliques, and isolated pairs converge to min labels") {
    import graft.operators.Dedup
    // chain 1-2-3-4-5-6 (diameter 5, needs multi-hop propagation),
    // clique {10,11,12}, isolated pair {20,21}
    val pairs = Seq((1L,2L),(2L,3L),(3L,4L),(4L,5L),(5L,6L),
      (10L,11L),(10L,12L),(11L,12L),(20L,21L)).toDF("id_a","id_b")
    val got = Dedup.components(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 6L).forall(got(_) == 1L), got)
    assert(Seq(10L,11L,12L).forall(got(_) == 10L), got)
    assert(Seq(20L,21L).forall(got(_) == 20L), got)
    // a diameter > maxIters graph must FAIL LOUDLY, never return split
    // clusters (round-4 advice: no silent non-convergence)
    val e = intercept[IllegalStateException] {
      Dedup.components(pairs, "id_a", "id_b", maxIters = 2)
    }
    assert(e.getMessage.contains("did not converge"), e.getMessage)
  }

  test("components: early exit stops at the fixpoint, not at maxIters") {
    import graft.operators.Dedup
    // a clique converges in 1 propagation + 1 confirming pass; a huge
    // maxIters must not change the answer or run extra passes' worth of
    // cost — we can only observe the ANSWER here, the early exit itself
    // is the while-loop's converged flag
    val pairs = Seq((10L, 11L), (10L, 12L), (11L, 12L)).toDF("id_a", "id_b")
    val got = Dedup.components(pairs, "id_a", "id_b", maxIters = 1000)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 10L, 11L -> 10L, 12L -> 10L), got)
  }

  test("componentsAlternating: matches components, converges on deep chains") {
    import graft.operators.Dedup
    // same mixed graph as the components test — output contract identical
    val pairs = Seq((1L,2L),(2L,3L),(3L,4L),(4L,5L),(5L,6L),
      (10L,11L),(10L,12L),(11L,12L),(20L,21L)).toDF("id_a","id_b")
    val got = Dedup.componentsAlternating(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Dedup.components(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"got=$got want=$want")
    // the scale claim: a 200-node CHAIN (diameter 199, far beyond
    // components' default 20-hop budget) converges within the O(log n)
    // round bound — 12 rounds for n=200, nowhere near 199
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val deep = Dedup.componentsAlternating(chain, "id_a", "id_b", maxRounds = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 199L).forall(deep(_) == 0L),
      deep.filter(_._2 != 0L).take(5).toString)
    // adversarial shape: labels ASCEND along the chain (worst case for
    // min-propagation direction) plus duplicate + self pairs in the
    // input; self-pair-only nodes keep their singleton cluster row
    val messy = (Seq((7L,7L), (100L,100L)) ++ (0L until 50L).map(i => (i+1, i)) ++
      Seq((3L,2L), (2L,3L))).toDF("id_a", "id_b")
    val gotM = Dedup.componentsAlternating(messy, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 50L).forall(gotM(_) == 0L) && gotM(100L) == 100L, gotM)
    // 7 is chain-internal AND self-paired — still labeled by the chain
    assert(gotM(7L) == 0L)
    // non-convergence inside an absurdly small round budget fails loudly
    val e = intercept[IllegalStateException] {
      Dedup.componentsAlternating(chain, "id_a", "id_b", maxRounds = 1)
    }
    assert(e.getMessage.contains("did not converge"), e.getMessage)
  }

  test("clusters facade: dispatch matches the declared regime in both directions") {
    import graft.operators.Dedup
    // clique-ish input (the near-dup producer shape): both regimes
    // return the identical contract — the facade's interchangeability
    // promise
    val clique = Seq((10L,11L),(10L,12L),(11L,12L),(20L,21L)).toDF("id_a","id_b")
    val shallow = Dedup.clusters(clique, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val viaDeep = Dedup.componentsAlternating(clique, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(shallow == viaDeep && shallow ==
      Set(10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L), shallow)
    // deep-chain input (diameter 59, far past the min-label budget): the
    // default regime exhausts its budget and the facade RESCUES via the
    // star path — correct clusters, never a silent split, no user
    // foresight required. componentsAlternating is the star path itself.
    val chain = (0L until 59L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val rescued = Dedup.clusters(chain, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 59L).forall(rescued(_) == 0L), rescued.filter(_._2 != 0L).take(5))
    val deep = Dedup.componentsAlternating(chain, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 59L).forall(deep(_) == 0L), deep.filter(_._2 != 0L).take(5))
    // the raw operator keeps its loud-failure contract for callers that
    // want the diameter assumption ENFORCED rather than rescued
    val e = intercept[IllegalStateException] {
      Dedup.components(chain, "id_a", "id_b", maxIters = 8)
    }
    assert(e.getMessage.contains("did not converge"), e.getMessage)
  }

  test("componentsAlternating == components on a random pair graph") {
    import graft.operators.Dedup
    // deterministic pseudo-random graph: 300 nodes, ~250 edges from a
    // hash mix — many components of varied shape
    val edges = (0 until 250).map { i =>
      val a = (i * 2654435761L) % 300
      val b = (i * 40503L + 7) % 300
      (a, b)
    }.toDF("id_a", "id_b")
    val a = Dedup.componentsAlternating(edges, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val b = Dedup.components(edges, "id_a", "id_b", maxIters = 50)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(a == b, s"diff=${(a diff b).take(5)} / ${(b diff a).take(5)}")
  }

  test("duplicatedSpans: cross-doc span, maximal merge, exact boundaries") {
    // docs 1 and 2 share tokens a..f (6 tokens) at different offsets;
    // with k=3 that is duplicated gram starts 4 in a row -> ONE span each
    val docs = Seq(
      (1L, "x1 x2 a b c d e f y1 y2"),
      (2L, "z1 a b c d e f z2 z3 z4 z5")).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(docs, "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4)))
    // doc 1: shared run = positions 2..7 (0-based) -> gram starts 2..5
    // doc 2: shared run = positions 1..6 -> gram starts 1..4
    assert(got.toSet == Set((1L, 1L, 2, 7, 4L), (2L, 1L, 1, 6, 4L)), got.toSeq)
  }

  test("duplicatedSpans: within-doc repetition counts as duplication") {
    // "p q r" appears twice INSIDE one doc, nowhere else (Lee et al.
    // dedups self-repetition too); far enough apart to stay two spans
    val docs = Seq((7L, "p q r m1 m2 m3 m4 m5 p q r")).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(docs, "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4)))
    assert(got.toSet == Set((7L, 1L, 0, 2, 1L), (7L, 2L, 8, 10, 1L)), got.toSeq)
  }

  test("duplicatedSpans: overlapping and touching gram runs merge into one span") {
    // two docs share a 7-token run; a third doc shares only its tail —
    // the first doc's gram starts stay ONE maximal span, not fragments
    val docs = Seq(
      (1L, "a b c d e f g"),
      (2L, "a b c d e f g"),
      (3L, "e f g t1 t2")).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(docs, "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4)))
    val doc1 = got.filter(_._1 == 1L)
    assert(doc1.toSeq == Seq((1L, 1L, 0, 6, 5L)), got.toSeq)
    assert(got.filter(_._1 == 3L).toSeq == Seq((3L, 1L, 0, 2, 1L)), got.toSeq)
  }

  test("duplicatedSpans: unique corpus yields no spans; k > doc length is safe") {
    val docs = Seq((1L, "only one doc here"), (2L, "and a different one")).toDF("doc_id", "text")
    assert(Dedup.duplicatedSpans(docs, "doc_id", "text", k = 3).count() == 0)
    assert(Dedup.duplicatedSpans(docs, "doc_id", "text", k = 50).count() == 0)
  }

  test("dedupParagraphs: global keep-first, in-order reassembly, dedup-drop") {
    val docs = Seq(
      (1L, "a\nb\nc"),       // all first occurrences — unchanged
      (2L, "b\nd"),          // b seen in doc 1 -> "d"
      (3L, "c\na\ne"),       // c, a seen -> "e"
      (4L, "a\nb"),          // everything seen -> document drops out
      (5L, "x\nx\ny"),       // within-doc repeat: keep-first is (id, pos)
      (6L, "\n\nz")          // empty paragraphs ignored -> "z"
    ).toDF("doc_id", "text")
    val out = Dedup.dedupParagraphs(docs, "doc_id", "text")
    assert(out.columns.toSeq == Seq("doc_id", "text"))
    val got = out.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == Map(
      1L -> "a\nb\nc", 2L -> "d", 3L -> "e", 5L -> "x\ny", 6L -> "z"))
  }

  test("clusterRepresentatives: argmax quality, min-id tie-break, member counts") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 5L), (6L, 5L))
      .toDF("doc_id", "cluster_id")
    val scores = Seq((1L, 0.5), (2L, 0.9), (3L, 0.9), (4L, 0.1), (5L, 0.7), (6L, 0.7))
      .toDF("doc_id", "q")
    val rep = Dedup.clusterRepresentatives(
      clusters, "doc_id", "cluster_id", scores, "doc_id", "q")
    assert(rep.columns.toSeq ==
      Seq("cluster_id", "keep_id", "quality_score", "n_members"))
    val got = rep.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    // cluster 1: 2 and 3 tie at 0.9 -> min id 2; cluster 5: 5/6 tie -> 5
    assert(got == Set((1L, 2L, 0.9, 3L), (4L, 4L, 0.1, 1L), (5L, 5L, 0.7, 2L)))
    // argmax must be the map-side-combinable struct max, never a window
    // or a member-list collect (mega-cluster skew story in the scaladoc)
    val plan = rep.queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("collect_list"), plan)
  }

  test("clusterRepresentatives rejects non-integral id columns loudly") {
    val clusters = Seq(("a", 1L), ("b", 1L)).toDF("doc_id", "cluster_id")
    val scores = Seq(("a", 0.5), ("b", 0.9)).toDF("doc_id", "q")
    val e = intercept[IllegalArgumentException] {
      Dedup.clusterRepresentatives(clusters, "doc_id", "cluster_id",
        scores, "doc_id", "q")
    }
    assert(e.getMessage.contains("integral type"), e.getMessage)
  }

  test("crossDedupRoster: cross-only matches, tie-break to min left id") {
    val left = Seq(
      (1L, "p q r s t u"), (2L, "p q r s t u"), // identical LEFT twins
      (3L, "unrelated stuff totally here")).toDF("doc_id", "text")
    val right = Seq(
      (10L, "p q r s t u"),                     // leaked: matches 1 AND 2
      (11L, "other words apart entirely")).toDF("doc_id", "text")
    val rep = Dedup.crossDedupRoster(left, right, "doc_id", "text",
      n = 3, bands = 16, rowsPerBand = 8, threshold = 0.6)
    assert(rep.columns.toSeq == Seq("doc_id", "matched_doc_id", "jaccard_sim"))
    val got = rep.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // only the leaked right doc is reported (within-left dup pair 1-2 is
    // NOT — cross means cross), matched to the minimum left id at tie
    assert(got.toSeq == Seq((10L, 1L, 1.0)), got.toSeq)
  }

  test("crossDedupRoster guard counts COMBINED A∪B bucket membership") {
    // mega cluster: 6 identical left + 6 identical right copies share one
    // signature, so every band bucket holds 12 COMBINED members; the
    // planted ordinary cross pair occupies its own buckets at combined 2
    val boiler = "alpha beta gamma delta epsilon zeta eta theta"
    val pairT = "one two three four five six seven eight"
    val left = (Seq.tabulate(6)(i => (i.toLong, boiler)) :+ (100L -> pairT))
      .toDF("doc_id", "text")
    val right = (Seq.tabulate(6)(i => ((10 + i).toLong, boiler)) :+ (200L -> pairT))
      .toDF("doc_id", "text")
    val un = Dedup.crossDedupRoster(left, right, "doc_id", "text",
      n = 3, bands = 16, rowsPerBand = 8, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // unguarded: every right boiler copy leaks (tie-broken to left id 0)
    assert(un == (10 to 15).map(i => (i.toLong, 0L)).toSet + ((200L, 100L)))
    // cap 8: combined boiler membership is 12 > 8 although EACH side holds
    // only 6 <= 8 — a per-side count would keep the mega bucket; the
    // combined count drops it wholesale and the planted pair survives
    val g = Dedup.crossDedupRoster(left, right, "doc_id", "text",
      n = 3, bands = 16, rowsPerBand = 8, threshold = 0.6, maxBucketSize = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(g == Set((200L, 100L)))
    // the incremental store path threads the identical guard
    val store = Dedup.signatureStore(left, "doc_id", "text",
      n = 3, bands = 16, rowsPerBand = 8)
    val gi = Dedup.incrementalDedupRoster(right, store, "doc_id", "text",
      n = 3, bands = 16, rowsPerBand = 8, threshold = 0.6, maxBucketSize = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gi == g)
  }

  test("perturbedDocs id set is disjoint from documents (x11 oracle precondition)") {
    // The x11 oracle and X11Pin classify pair sides by id-SET membership
    // and assume documents ids and shifted (+1000000) ids never overlap.
    // If ScaleGen's id scheme ever breaks that, this fails loudly here
    // (and in X11Pin's runtime assert at sf1/sf10) instead of surfacing
    // as a confusing gate hash divergence.
    val d = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, d).select("doc_id")
    assert(docs.intersect(
      graft.queries.TextQueries.perturbedDocs(spark, d).select("doc_id"))
      .count() == 0L)
  }

  test("incrementalDedupRoster over a persisted store == crossDedupRoster recompute") {
    val d = "/root/testdata/sf0.001"
    val left = graft.Tables.documents(spark, d).select($"doc_id", $"text")
    val right = graft.queries.TextQueries.perturbedDocs(spark, d)
    val full = Dedup.crossDedupRoster(left, right, "doc_id", "text",
        n = 3, bands = 16, rowsPerBand = 8, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val dir = TestDirs.fresh("sigstore")
    Dedup.signatureStore(left, "doc_id", "text", n = 3, bands = 16,
      rowsPerBand = 8).write.mode("overwrite").parquet(dir)
    val inc = Dedup.incrementalDedupRoster(right, spark.read.parquet(dir),
        "doc_id", "text", n = 3, bands = 16, rowsPerBand = 8, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(inc.nonEmpty && inc.toSeq == full.toSeq)
  }

  test("incrementalDedupRoster fails loudly on a parameter-mismatched store") {
    val d = "/root/testdata/sf0.001"
    val left = graft.Tables.documents(spark, d).select($"doc_id", $"text")
    val right = graft.queries.TextQueries.perturbedDocs(spark, d)
    // same numHashes (128) but different banding — silently comparable
    // shapes, incomparable semantics: exactly the case the guard exists for
    val store = Dedup.signatureStore(left, "doc_id", "text", n = 3,
      bands = 8, rowsPerBand = 16)
    val e = intercept[Exception] {
      Dedup.incrementalDedupRoster(right, store, "doc_id", "text",
        n = 3, bands = 16, rowsPerBand = 8, threshold = 0.6).collect()
    }
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("not comparable"), msg)
  }

  test("mergeSignatureStore == signatureStore of the union; overlap and param drift raise") {
    val d = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, d).select($"doc_id", $"text")
    val (evens, odds) = (docs.filter($"doc_id" % 2 === 0), docs.filter($"doc_id" % 2 === 1))
    def normalize(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getSeq[Long](1),
        r.getSeq[Long](2).sorted, r.getInt(3), r.getInt(4), r.getInt(5)))
        .sortBy(_._1)
    val merged = Dedup.mergeSignatureStore(
      Dedup.signatureStore(evens, "doc_id", "text"),
      Dedup.signatureStore(odds, "doc_id", "text"))
    val rebuilt = Dedup.signatureStore(docs, "doc_id", "text")
    assert(normalize(merged).nonEmpty)
    assert(normalize(merged).toSeq == normalize(rebuilt).toSeq)
    val eDup = intercept[Exception] {
      Dedup.mergeSignatureStore(
        Dedup.signatureStore(evens, "doc_id", "text"),
        Dedup.signatureStore(evens, "doc_id", "text")).collect()
    }
    val mDup = eDup.getMessage + Option(eDup.getCause).map(_.getMessage).getOrElse("")
    assert(mDup.contains("exists in both"), mDup)
    val ePar = intercept[Exception] {
      Dedup.mergeSignatureStore(
        Dedup.signatureStore(evens, "doc_id", "text", bands = 16, rowsPerBand = 8),
        Dedup.signatureStore(odds, "doc_id", "text", bands = 8, rowsPerBand = 16))
        .collect()
    }
    val mPar = ePar.getMessage + Option(ePar.getCause).map(_.getMessage).getOrElse("")
    assert(mPar.contains("different banding"), mPar)
  }

  test("dedupParagraphs plan: no window, exactly two exchanges") {
    val docs = Seq((1L, "a\nb"), (2L, "b\nc")).toDF("doc_id", "text")
    val plan = Dedup.dedupParagraphs(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    // the keep-first survivor must come from a map-side-combinable
    // aggregate (skew story in the scaladoc), never a per-paragraph
    // window; and the survivor set must feed reassembly directly —
    // no third exchange from a join back to the exploded occurrences
    assert(!plan.contains("Window"), plan)
    assert("Exchange".r.findAllIn(plan).size == 2, plan)
  }

  test("cleanText truth table: mojibake, punct, controls, whitespace, order") {
    def clean(s: String): String =
      Seq(s).toDF("t").select(TextAnalysis.cleanText($"t")).collect().head.getString(0)
    // mojibake repairs land the intended char, then normalize to ASCII
    assert(clean("donâ€™t") == "don't")
    assert(clean("caffÃ©") == "caffé")
    assert(clean("Ã  bientÃ´t".replace("Ã´", "Ã³")) == "à bientót")
    // wait-free ellipsis chain: mojibake … then punct -> "..."
    assert(clean("endâ€¦") == "end...")
    // already-clean curly quotes straighten (punct table on its own)
    assert(clean("“quoted”") == "\"quoted\"")
    assert(clean("em—dash en–dash") == "em-dash en-dash")
    // control chars vanish; flanking spaces collapse to one
    assert(clean("a \u0007 b\u0000c") == "a bc")
    // C1 controls (\x80-\x9F) vanish too (round-14 advice: the class
    // used to stop at DEL, so a NEL or stranded 9D sailed through)
    assert(clean("a\u0085b \u009fcd") == "ab cd")
    // broken right-double-quote: â€ + U+009D repairs to ” BEFORE the
    // control strip can eat the 9D and strand "â€" residue, then the
    // punct table straightens it like its already-clean sibling
    assert(clean("he said â€\u009dhi") == "he said \"hi")
    // NBSP is whitespace-normalized via the punct table
    assert(clean("a\u00a0b") == "a b")
    // whitespace runs collapse, ends trim
    assert(clean("  a \t\n b  ") == "a b")
    // clean text is a fixpoint
    val s = "plain ascii text, nothing to fix."
    assert(clean(s) == s && clean(clean("donâ€™t")) == clean("donâ€™t"))
  }

  test("edit-distance pairs: distances exact, threshold enforced, dups at 0") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    val docs = Seq(
      1L -> base,
      2L -> base,                                  // exact dup -> dist 0
      3L -> (base.dropRight(1) + "X"),             // one substitution -> dist 1
      4L -> (base + "tail change of many many many many many chars here"),
      5L -> "completely different text with no shared shingles at all")
      .toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(docs, "doc_id", "text", maxDist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got((1L, 2L)) == 0, "exact duplicates must report distance 0")
    assert(got((1L, 3L)) == 1 && got((2L, 3L)) == 1)
    // doc 4 band-collides with 1/2/3 (90% shared shingles) but its
    // 50+-char tail puts it past maxDist; doc 5 shares no bands at all
    assert(!got.keys.exists { case (a, b) => a == 4L || b == 4L })
    assert(!got.keys.exists { case (a, b) => a == 5L || b == 5L })
    // distances match an independent plain-JVM recompute
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1)(i => Array.tabulate(b.length + 1)(j =>
        if (i == 0) j else if (j == 0) i else 0))
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    got.foreach { case ((a, b), dist) => assert(dist == lev(texts(a), texts(b))) }
  }

  test("edit-distance pairs: maxBucketSize drops mega-buckets wholesale") {
    val boiler = "copy paste boiler plate text repeated verbatim everywhere " * 3
    val near = "one two three four five six seven eight nine ten " * 3
    val docs = (Seq.tabulate(5)(i => (i.toLong, boiler)) ++
      Seq(10L -> near, 11L -> (near.dropRight(1) + "X"))).toDF("doc_id", "text")
    // unbounded: the 5-clique (10 pairs at dist 0) plus the near pair
    val all = Dedup.editDistancePairs(docs, "doc_id", "text", maxDist = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all.size == 11 && all.contains((10L, 11L)))
    // guard at 4: every band bucket of the 5-clique holds 5 ids -> the
    // whole clique drops; the near pair (buckets of 2) survives intact
    val guarded = Dedup.editDistancePairs(docs, "doc_id", "text", maxDist = 5,
      maxBucketSize = 4).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(guarded == Set((10L, 11L)))
  }

  test("edit-distance pairs: the maxLen cap is the comparison window") {
    val shared = "one two three four five six seven eight nine ten " * 3
    val docs = Seq(1L -> (shared + "ending A"), 2L -> (shared + "different Z"))
      .toDF("doc_id", "text")
    // cap INSIDE the shared prefix -> the differing tails are invisible
    val capped = Dedup.editDistancePairs(docs, "doc_id", "text",
      maxDist = 5, maxLen = 100).collect()
    assert(capped.length == 1 && capped.head.getInt(2) == 0)
  }
}
