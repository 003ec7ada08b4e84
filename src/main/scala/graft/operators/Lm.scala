package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/** Language-model data-prep operators: the corpus-statistics passes a
  * tokenizer/LM training pipeline runs before any model sees a byte —
  * vocabulary construction, BPE-style merge-candidate counting, unigram
  * LM perplexity scoring (the CCNet quality-filter shape, Wenzek et al.
  * 2020), and inverted-index (postings) construction.
  *
  * Scale design: everything derives from the ONE exploded (doc, term,
  * tf) aggregate (`Ranking.termFreqs` — map-side combinable; corpus
  * text is never shuffled). Global scalars (corpus token count,
  * vocabulary size) are 1-row aggregates broadcast into the scoring
  * projection; corpus-wide term statistics ride a window over the
  * already-exchanged tf rows instead of a second scan (the tfidf df_t
  * pattern). Top-k outputs use sort+limit (TakeOrderedAndProject — a
  * per-partition top-k then a k-row merge), never a global row_number
  * window over the full vocabulary.
  *
  * Float parity (DuckDB oracle): scores use ln(), whose last ulp is
  * library-dependent, so per-doc scores are ROUNDED (6 dp) — the t4/t5
  * contract. Ranks order by exact integer counts only.
  */
object Lm {

  import org.apache.spark.sql.Column

  /** Adjacent-token pairs of `textCol` as one zipped-slice array —
    * pure per-row arithmetic, zero shuffle. m = n-1 clamped at 0: a
    * 0/1-token doc slices to empty arrays and contributes no pairs, no
    * per-row conditional needed. Shared by [[bpePairCounts]] and
    * [[bigramLogProb]] so the clamping/tokenization contract lives in
    * one place. */
  private def adjacentPairs(textCol: Column,
                            combine: (Column, Column) => Column): Column = {
    val toks = TextAnalysis.tokens(textCol)
    val m = greatest(size(toks) - 1, lit(0))
    zip_with(slice(toks, lit(1), m), slice(toks, lit(2), m), combine)
  }

  /** Unigram-LM document scoring (CCNet-style quality filter): each
    * document's mean negative log-probability under the corpus's own
    * add-one-smoothed unigram model,
    *   p(t) = (cf(t) + 1) / (T + V)
    * with cf(t) the corpus frequency, T total tokens, V vocabulary
    * size. Low nll ≈ in-distribution prose; high nll ≈ outliers — the
    * standard perplexity-bucket criterion for filtering or curriculum
    * binning web corpora.
    *
    * Output: (doc_id, n_tokens, nll), nll rounded 6 dp; docs with zero
    * tokens have no distribution and are absent (termFreqs contract).
    *
    * Shape: tf feeds three consumers (the totals aggregate, the
    * term-frequency window, the per-doc aggregate) whose subtrees
    * diverge before any exchange — checkpointed once, so the corpus is
    * tokenized once (the bm25 shared-tf pattern). cf(t) is a window
    * over the term exchange, not a groupBy+self-join re-scan.
    */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = Ranking.termFreqs(df, idCol, textCol).localCheckpoint(false)
    val totals = tf.agg(
      sum(col("tf")).as("n_total"),
      countDistinct(col("term")).as("n_vocab"))
    val cf = sum(col("tf")).over(Window.partitionBy(col("term")))
    tf.withColumn("cf", cf)
      .crossJoin(broadcast(totals))
      .withColumn("logp",
        log((col("cf") + lit(1.0)) / (col("n_total") + col("n_vocab"))))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).as("n_tokens"),
        round(-sum(col("tf") * col("logp")) / sum(col("tf")), 6).as("nll"))
  }

  /** Bigram-LM document scoring — the conditional-probability step up
    * from [[unigramLogProb]] (the KenLM direction): each document's mean
    * negative log-probability of its token TRANSITIONS under the
    * corpus's own add-one bigram model,
    *   p(cur | prev) = (c(prev, cur) + 1) / (c(prev) + V)
    * with c(·) corpus counts and V the FULL unigram vocabulary size
    * (every distinct token in the corpus, including tokens of 1-token
    * docs and sentence-final tokens) — the standard add-one bigram
    * formulation (KenLM/CCNet convention; round-10 advice replaced the
    * earlier successor-only V). Docs with fewer than two tokens have no
    * transitions and are absent.
    *
    * Output: (doc_id, n_bigrams, nll2), nll2 rounded 6 dp.
    *
    * Shape: ONE zipped-slice pair explode aggregated to per-doc
    * (doc, prev, cur, k) — checkpointed, then BOTH corpus counts ride
    * as windows over those rows (partition (prev, cur) for the bigram
    * count, prev for the context count). V needs tokens the pair rows
    * can't see (1-token docs), so it is a second map-side-combinable
    * 1-row aggregate over the termFreqs scan, broadcast into the
    * scoring projection — nothing wider than pair-count rows ever
    * shuffles. */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val prs = adjacentPairs(col(textCol),
      (a, b) => struct(a.as("prev"), b.as("cur")))
    val pairs = graft.core.Fanout.spread(df, col(idCol))
      .select(col(idCol).as("doc_id"), explode(prs).as("pr"))
      .select(col("doc_id"), col("pr.prev").as("prev"), col("pr.cur").as("cur"))
      .groupBy(col("doc_id"), col("prev"), col("cur"))
      .agg(count(lit(1)).as("k"))
      .localCheckpoint(false)
    val cpc = sum(col("k")).over(Window.partitionBy(col("prev"), col("cur")))
    val cp = sum(col("k")).over(Window.partitionBy(col("prev")))
    val totals = Ranking.termFreqs(df, idCol, textCol)
      .agg(countDistinct(col("term")).as("n_vocab"))
    pairs.withColumn("cpc", cpc).withColumn("cp", cp)
      .crossJoin(broadcast(totals))
      .withColumn("logp",
        log((col("cpc") + lit(1.0)) / (col("cp") + col("n_vocab"))))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("k")).as("n_bigrams"),
        round(-sum(col("k") * col("logp")) / sum(col("k")), 6).as("nll2"))
  }

  /** Top-k vocabulary by corpus frequency — the seed list for
    * wordlevel/wordpiece tokenizer training. Output: (rank, term, cf,
    * df_t) with cf the corpus frequency, df_t the document frequency;
    * rank over (cf desc, term asc) — exact integer ordering, no float
    * in the contract. Sort+limit plans as TakeOrderedAndProject; the
    * rank window then runs over k rows only. */
  def vocabTopK(df: DataFrame, idCol: String, textCol: String,
                k: Int = 100): DataFrame = {
    val vocab = Ranking.termFreqs(df, idCol, textCol)
      .groupBy(col("term"))
      .agg(sum(col("tf")).as("cf"), count(lit(1)).as("df_t"))
    val topk = vocab.orderBy(col("cf").desc, col("term").asc).limit(k)
    val w = Window.orderBy(col("cf").desc, col("term").asc)
    topk.withColumn("rank", row_number().over(w))
      .select("rank", "term", "cf", "df_t")
  }

  /** Top-k adjacent-token-pair counts — one BPE merge-selection round
    * at token granularity (count every adjacent symbol pair, rank by
    * frequency; Sennrich et al. 2016). Pairs are built with pure array
    * ops (two slices zipped) — per-row arithmetic, zero shuffle until
    * the pair-count aggregate, which is map-side combinable.
    * Output: (rank, pair, n), rank over (n desc, pair asc). */
  def bpePairCounts(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 100): DataFrame = {
    val pairs = adjacentPairs(col(textCol), (a, b) => concat(a, lit(" "), b))
    val counted = df.select(explode(pairs).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n"))
    val topk = counted.orderBy(col("n").desc, col("pair").asc).limit(k)
    val w = Window.orderBy(col("n").desc, col("pair").asc)
    topk.withColumn("rank", row_number().over(w))
      .select("rank", "pair", "n")
  }

  /** Symbol joining a merged pair: merge (a, b) yields the token
    * `a + Joiner + b`. Tokens are whitespace-split, so any non-space
    * string works; every trainer and encoder here uses this one. */
  val Joiner = "~"

  /** Apply ONE BPE merge (a, b) -> a·b in the string domain: input and
    * output are the SPACE-PADDED joined token string (" t1 t2 ... tn "),
    * greedy left-to-right non-overlapping (Sennrich et al. 2016
    * semantics: in "a a a" the first pair merges and the survivor does
    * NOT re-pair with the third token in the same round).
    *
    * Java regex replacement is itself leftmost-first non-overlapping
    * (after a match, scanning resumes at the match end), which IS the
    * greedy BPE rule, and the lookarounds don't consume the delimiter
    * spaces, so back-to-back occurrences ("a b a b") all merge in the
    * single pass. Tokens are whitespace-split ([[TextAnalysis.tokens]])
    * so the padded string round-trips exactly: no token contains a space
    * and none is empty. Both the pattern and the replacement are
    * literal-quoted, so tokens carrying regex metacharacters (or prior
    * merges' joiner) are matched exactly. Property-pinned against a
    * driver-side greedy scan (PropertySpec). */
  private[graft] def applyMergeStr(padded: Column, a: String, b: String): Column = {
    import java.util.regex.{Matcher, Pattern}
    regexp_replace(padded,
      lit("(?<= )" + Pattern.quote(a) + " " + Pattern.quote(b) + "(?= )"),
      lit(Matcher.quoteReplacement(a + Joiner + b)))
  }

  /** Adjacent-pair array ("x y" strings) of a token-array column —
    * two slices zipped, pure per-row arithmetic. m = n-1 clamped at 0:
    * 0/1-token rows contribute no pairs. */
  private def pairsFromToks(toks: Column): Column = {
    val m = greatest(size(toks) - 1, lit(0))
    zip_with(slice(toks, lit(1), m), slice(toks, lit(2), m),
      (x, y) => concat(x, lit(" "), y))
  }

  /** Iterated BPE merge selection — the actual tokenizer-training loop
    * [[bpePairCounts]] does one round of: per round, adopt the single
    * most frequent adjacent symbol pair (ties: pair asc), APPLY it
    * everywhere, repeat — so round r's counts see rounds 1..r-1's
    * merged symbols, which is the part a one-shot pair ranking cannot
    * express. Output: (round, pair, n) with n the winning pair's exact
    * corpus count at selection time.
    *
    * Scale shape — DELTA-MAINTAINED pair counts (the round-12 full-
    * recount would not survive real tokenizer training at 10k-50k
    * merges: O(rounds × corpus) pair explodes + shuffles, plus one
    * leaked checkpoint per round). The corpus tokenizes ONCE into a
    * checkpointed space-padded string column; the global pair-count
    * frame is built ONCE (the only full pair explode in the whole run)
    * and thereafter MAINTAINED: a merge only changes pairs on rows
    * that contain the merged pair, so each round's update is
    *   counts' = counts + Σ_{affected rows} (pairs(row') − pairs(row))
    * — an explode over the affected subset only, aggregated map-side,
    * merged into the O(distinct-pairs) counts frame. Per round:
    *  1. top-1 pull from the checkpointed counts frame (1 tiny job —
    *     the merge table IS driver state, the k-means-centroid
    *     contract);
    *  2. ± pair deltas from `contains`-filtered rows only (one linear
    *     corpus scan, shuffle volume = delta rows, not corpus pairs);
    *  3. one shuffle-free conditional-rewrite projection re-checkpoints
    *     the corpus; BOTH state frames unpersist their predecessor's
    *     blocks, so storage is 2 frames regardless of round count.
    * After round 1 no full pair recount ever runs, and the affected
    * fraction shrinks as merges get rarer — the property that makes
    * 10k-round training feasible (measured: tools/BpeProbe, deleted
    * after 17eacc8; SCALE.md).
    * The final round skips steps 2-3 entirely (its state has no
    * consumer). For multi-hour production runs prefer `checkpoint()`
    * to reliable storage (executor loss invalidates local checkpoints).
    *
    * Exact and corpus-wide, but still one sequential Spark job per
    * round: ~0.3-0.4 s each at any corpus size (same probe), so a
    * production 30k-50k-merge vocabulary is hours of driver
    * round-trips. Train those with [[bpeMergesSampled]] (driver-local
    * merge loop over a bounded deterministic sample — the
    * SentencePiece/HF industry shape), whose `n` is the count within
    * the sample. The choice is the caller's, never a size heuristic: a
    * latency threshold must not silently switch the meaning of `n`.
    * The two are spec-pinned identical whenever the sample covers the
    * corpus (LmSpec), which is true for every oracle-mirrored gate. */
  def bpeMerges(df: DataFrame, idCol: String, textCol: String,
                rounds: Int = 3): DataFrame = {
    require(rounds > 0, s"bpeMerges: rounds must be positive, got $rounds")
    val spark = df.sparkSession
    val sc = spark.sparkContext
    import spark.implicits._
    // tracked eager checkpoints: the ids each materialization pins are
    // diffed from getPersistentRDDs, so replacing a state frame can
    // drop EXACTLY its predecessor's blocks (Dataset.unpersist does not
    // reach localCheckpoint storage) without touching caller caches
    def checkpointTracked(frame: DataFrame): (DataFrame, Set[Int]) = {
      val before = sc.getPersistentRDDs.keySet.toSet
      val cp = frame.localCheckpoint()
      (cp, sc.getPersistentRDDs.keySet.toSet -- before)
    }
    def drop(ids: Set[Int]): Unit =
      ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
    // corpus state: ONE space-padded joined-token string per row — the
    // domain applyMergeStr rewrites and `contains` probes directly.
    // Round-trips exactly: tokens are whitespace-split and non-empty.
    var (cur, curIds) = checkpointTracked(
      df.select(concat(lit(" "),
        array_join(TextAnalysis.tokens(col(textCol)), " "), lit(" ")).as("s")))
    // the ONE full pair count (an empty/1-token row pads to a string
    // that trims+splits to a single token — no pairs, by the m-clamp)
    val toksOf = (s: Column) => split(trim(s), " ")
    var (counts, countIds) = checkpointTracked(
      cur.select(explode(pairsFromToks(toksOf(col("s")))).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("n")))
    val picks = scala.collection.mutable.ArrayBuffer[(Int, String, Long)]()
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val top = counts.orderBy(col("n").desc, col("pair").asc).limit(1).collect()
      if (top.isEmpty) exhausted = true // corpus has no adjacent pairs left
      else {
        val pair = top(0).getString(0)
        picks += ((r, pair, top(0).getLong(1)))
        // tokens are whitespace-split and merges join with `Joiner`, so
        // neither side of a pair can contain a space: split is exact
        val Array(a, b) = pair.split(" ", 2)
        if (r < rounds) { // the final pick's state has no consumer
          // a row is affected iff it contains the pair — the padded
          // form makes " a b " an exact adjacent-occurrence test
          val hit = col("s").contains(" " + a + " " + b + " ")
          val rewritten = applyMergeStr(col("s"), a, b)
          // ± deltas over affected rows only; token arrays materialized
          // behind aliases so the non-cheap split/regexp evaluate once
          val delta = cur.filter(hit)
            .select(toksOf(col("s")).as("t0"), toksOf(rewritten).as("t1"))
            .select(explode(concat(
              transform(pairsFromToks(col("t0")),
                p => struct(p.as("pair"), lit(-1L).as("w"))),
              transform(pairsFromToks(col("t1")),
                p => struct(p.as("pair"), lit(1L).as("w"))))).as("pw"))
            .groupBy(col("pw.pair").as("pair"))
            .agg(sum(col("pw.w")).as("n"))
          val (nc, ncIds) = checkpointTracked(
            counts.unionByName(delta)
              .groupBy(col("pair")).agg(sum(col("n")).as("n"))
              .filter(col("n") > 0))
          drop(countIds); counts = nc; countIds = ncIds
          val (nr, nrIds) = checkpointTracked(
            cur.select(when(hit, rewritten).otherwise(col("s")).as("s")))
          drop(curIds); cur = nr; curIds = nrIds
        }
      }
      r += 1
    }
    drop(countIds); drop(curIds)
    picks.toSeq.toDF("round", "pair", "n")
  }

  /** Bounded sample for [[bpeMergesSampled]] — the SentencePiece
    * `input_sentence_size` convention. 200k docs × ~10² tokens ≈ 2×10⁷
    * symbols of driver state: comfortably driver-resident, and merge
    * statistics at this sample size are stable for vocabularies far
    * beyond 50k merges (HF/SentencePiece train on samples of this
    * order against TB-scale corpora). */
  val DefaultTrainSampleDocs = 200000

  /** BPE merge selection trained DRIVER-LOCAL on a bounded deterministic
    * document sample — the arm that makes production round counts
    * (30k-50k merges) feasible: the distributed trainer's per-round cost
    * is one full Spark job round-trip (top-1 collect), so its wall time
    * is O(rounds × job-latency) REGARDLESS of corpus size, while real
    * tokenizer training (SentencePiece, HF tokenizers) runs the merge
    * loop in-process over a bounded sample of the corpus. Shape:
    *
    *  1. ONE distributed pass tokenizes and samples: the `sampleDocs`
    *     docs with the smallest (xxhash64(id), id) — deterministic,
    *     reproducible at any parallelism, spread uniformly over the
    *     corpus (hash order ≈ uniform sample, no id-locality bias), and
    *     planned as TakeOrderedAndProject (per-partition top-k, then a
    *     k-row merge — the corpus itself never moves);
    *  2. the merge loop runs driver-local with delta-maintained pair
    *     counts, a pair→docs occurrence index, and a lazy-deletion
    *     max-heap — per round O(affected docs × doc length), no Spark
    *     job at all (tools/BpeTrainProbe, deleted after 17eacc8:
    *     ~10³-10⁴ rounds/s vs the
    *     distributed arm's ~3 rounds/s).
    *
    * Semantics per round are EXACTLY the distributed arm's: count every
    * adjacent pair occurrence (overlapping included), adopt the single
    * most frequent (ties: pair ascending in UTF8-binary order — the
    * heap comparator replicates Spark's unsigned-byte UTF8String
    * ordering, which `String.compareTo` does NOT for supplementary
    * characters), apply it greedy leftmost non-overlapping, repeat;
    * stop early when no pairs remain. When `sampleDocs` covers the
    * whole corpus the output is spec-pinned IDENTICAL to
    * [[bpeMerges]] (LmSpec); on larger corpora `n` is the
    * count within the sample — the standard statistical-training
    * contract, which is why the oracle-mirrored gates all run the exact
    * arm. Driver memory is O(sample tokens + distinct pairs), bounded
    * by construction. */
  def bpeMergesSampled(df: DataFrame, idCol: String, textCol: String,
                       rounds: Int,
                       sampleDocs: Int = DefaultTrainSampleDocs): DataFrame = {
    require(rounds > 0, s"bpeMergesSampled: rounds must be positive, got $rounds")
    require(sampleDocs > 0,
      s"bpeMergesSampled: sampleDocs must be positive, got $sampleDocs")
    val spark = df.sparkSession
    import spark.implicits._
    val docs: Array[Array[String]] = df
      .select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("t"))
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(sampleDocs)
      .select(col("t")).as[Seq[String]]
      .collect().map(_.toArray)
    trainLocal(docs, rounds).toDF("round", "pair", "n")
  }

  /** The driver-local merge loop behind [[bpeMergesSampled]] — exposed
    * package-private so specs can drive it on in-memory corpora. */
  private[graft] def trainLocal(docs: Array[Array[String]],
                                rounds: Int): Seq[(Int, String, Long)] = {
    import java.nio.charset.StandardCharsets.UTF_8
    // pair key = "a b" — the distributed arm's exact key domain (tokens
    // are whitespace-split, so the space delimiter is unambiguous)
    val counts = new java.util.HashMap[String, Long]()
    // occurrence index: pair -> doc indices that (may) contain it. A
    // compact growable int array, NOT a BitSet — a BitSet allocates up
    // to its highest set bit, so rare pairs landing in high-indexed
    // docs would cost O(sampleDocs) bytes EACH (gigabytes across a
    // web-scale pair vocabulary); the list costs O(incidences) total,
    // bounded by the sample's token count. Entries may go stale (the
    // doc no longer contains the pair) or duplicate — consumers verify
    // against the live doc before applying.
    final class IntList {
      private[this] var a = new Array[Int](4)
      private[this] var n = 0
      def add(x: Int): Unit = {
        if (n > 0 && a(n - 1) == x) return // consecutive-dup guard
        if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
        a(n) = x; n += 1
      }
      def size: Int = n
      def apply(i: Int): Int = a(i)
    }
    val occ = new java.util.HashMap[String, IntList]()
    // lazy-deletion max-heap: every (count, pair) state is pushed when
    // set; stale entries (count no longer current) are discarded on
    // pop, so the first CURRENT entry popped is the true maximum under
    // (n desc, pair asc). Pair order is unsigned UTF-8 byte comparison
    // = Spark's UTF8String binary ordering.
    final case class Entry(n: Long, bytes: Array[Byte], pair: String)
    val cmp = new java.util.Comparator[Entry] {
      override def compare(x: Entry, y: Entry): Int = {
        if (x.n != y.n) return java.lang.Long.compare(y.n, x.n) // n desc
        val a = x.bytes; val b = y.bytes
        val lim = math.min(a.length, b.length)
        var i = 0
        while (i < lim) {
          val d = (a(i) & 0xff) - (b(i) & 0xff)
          if (d != 0) return d // pair asc
          i += 1
        }
        a.length - b.length
      }
    }
    val heap = new java.util.PriorityQueue[Entry](64, cmp)
    def applyDelta(pair: String, delta: Long, docIdx: Int): Unit = {
      val next = counts.getOrDefault(pair, 0L) + delta
      if (next > 0L) {
        counts.put(pair, next)
        heap.add(Entry(next, pair.getBytes(UTF_8), pair))
        if (docIdx >= 0)
          occ.computeIfAbsent(pair, _ => new IntList).add(docIdx)
      } else counts.remove(pair) // the distributed arm's filter(n > 0)
    }
    var di = 0
    while (di < docs.length) {
      val t = docs(di)
      var i = 0
      while (i < t.length - 1) { applyDelta(t(i) + " " + t(i + 1), 1L, di); i += 1 }
      di += 1
    }
    val picks = scala.collection.mutable.ArrayBuffer[(Int, String, Long)]()
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      // pop stale entries until the head is current — or the corpus has
      // no adjacent pairs left (the distributed arm's exhaustion exit)
      var top: Entry = null
      while (top == null && !heap.isEmpty) {
        val e = heap.peek()
        if (counts.getOrDefault(e.pair, 0L) == e.n) top = e
        else heap.poll()
      }
      if (top == null) exhausted = true
      else {
        picks += ((r, top.pair, top.n))
        if (r < rounds) {
          val Array(a, b) = top.pair.split(" ", 2)
          val merged = a + Joiner + b
          val hits = occ.remove(top.pair)
          counts.remove(top.pair)
          heap.poll() // drop the chosen head; its count is now gone
          var hi = 0
          while (hits != null && hi < hits.size) {
            val idx = hits(hi)
            locally {
              val old = docs(idx)
              // greedy leftmost non-overlapping — applyMergeStr's regex
              // semantics (scan resumes after each match end)
              var contains = false
              var i = 0
              while (!contains && i < old.length - 1) {
                if (old(i) == a && old(i + 1) == b) contains = true
                i += 1
              }
              if (contains) { // occ entries can be stale — verify first
                val next = new Array[String](old.length)
                var rpos = 0; var w = 0
                while (rpos < old.length) {
                  if (rpos + 1 < old.length && old(rpos) == a && old(rpos + 1) == b) {
                    next(w) = merged; rpos += 2
                  } else { next(w) = old(rpos); rpos += 1 }
                  w += 1
                }
                val doc = new Array[String](w)
                System.arraycopy(next, 0, doc, 0, w)
                // per-doc pair delta: -old pairs, +new pairs, net zero
                // entries skipped (no heap churn for untouched pairs)
                val d = new java.util.HashMap[String, Long]()
                i = 0
                while (i < old.length - 1) {
                  d.merge(old(i) + " " + old(i + 1), -1L, (x, y) => x + y); i += 1
                }
                i = 0
                while (i < doc.length - 1) {
                  d.merge(doc(i) + " " + doc(i + 1), 1L, (x, y) => x + y); i += 1
                }
                val it = d.entrySet().iterator()
                while (it.hasNext) {
                  val e = it.next()
                  if (e.getValue != 0L) applyDelta(e.getKey, e.getValue, idx)
                }
                docs(idx) = doc
              }
            }
            hi += 1
          }
        }
      }
      r += 1
    }
    picks.toSeq
  }

  /** Apply a LEARNED merge table to the corpus — the tokenizer
    * APPLICATION step ([[bpeMerges]] is the training step): each
    * document's tokens run through every merge in table order, greedy
    * left-to-right per merge, exactly as training applied them. Output:
    * (doc_id, n_tokens_raw, n_tokens_bpe, encoded_text) with the full
    * encoded sequence space-joined — the gate pins the entire encoding,
    * not a summary.
    *
    * Scale shape: the [[graft.expressions.BpeEncode]] codegen
    * expression at every table size — the merge table rides as ONE
    * array literal into a per-row kernel, so plan size is O(1) in the
    * vocabulary (a chain of [[applyMergeStr]] regexp passes grows one
    * nested node per merge and dies of analyzer stack depth in the low
    * thousands — tools/BpeScaleProbe, deleted after 17eacc8, measured
    * the break; production vocabularies are 10k–50k), and a
    * token-presence check skips every merge that cannot fire in the
    * row. No UDF, no shuffle, no state — encoding 100 TB is a pure map
    * over the corpus scan, which is the whole point of running
    * tokenization inside the engine. The regexp chain is a test-scope
    * reference, spec-pinned char for char (LmSpec). */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String)]): DataFrame =
    graft.core.Fanout.spread(df, col(idCol))
      .select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("__raw"))
      // __encs behind a projection boundary: it feeds BOTH the token
      // count and the output text; the alias guarantees one evaluation
      // per row without leaning on codegen subexpression elimination
      .select(col("doc_id"), col("__raw"),
        graft.expressions.BpeEncode.column(col("__raw"), merges, Joiner).as("__encs"))
      .select(col("doc_id"),
        size(col("__raw")).as("n_tokens_raw"),
        when(size(col("__raw")) === 0, lit(0))
          .otherwise(size(split(col("__encs"), " "))).as("n_tokens_bpe"),
        col("__encs").as("encoded_text"))

  /** Merge two [[invertedIndex]] outputs built over DISJOINT doc-id
    * sets (the incremental-ingest contract: the delta is new docs only)
    * into the index of the unioned corpus — index MAINTENANCE without a
    * full rebuild. Per-(term, block) counts add; postings (each side's
    * sorted, disjoint within the segment) re-sort numerically after the
    * concat. ONE exchange on (term, block); segments that only one side
    * touches pass through a 1-row group. At 100 TB this is the nightly
    * pattern: index the day's delta, merge segment-wise — the base
    * corpus is never re-scanned. */
  def mergeIndexes(a: DataFrame, b: DataFrame): DataFrame = {
    val asLongs = (p: Column) => transform(split(p, ","), s => s.cast("long"))
    a.unionByName(b)
      .groupBy(col("term"), col("block"))
      .agg(
        sum(col("df_block")).as("df_block"),
        sum(col("cf_block")).as("cf_block"),
        array_sort(flatten(collect_list(asLongs(col("postings")))))
          .as("__post"))
      // contract violation (overlapping doc-id sets) would otherwise
      // corrupt the index SILENTLY (double counts, duplicate postings)
      // — a duplicate id in a merged segment fails the job loudly
      .withColumn("postings",
        when(size(array_distinct(col("__post"))) === size(col("__post")),
          array_join(transform(col("__post"), x => x.cast("string")), ","))
          .otherwise(raise_error(concat(
            lit("mergeIndexes: overlapping doc ids in segment (term="),
            col("term"), lit(", block="), col("block").cast("string"),
            lit(") — inputs must index disjoint doc-id sets")))))
      .drop("__post")
  }

  /** Blocked inverted index: term → posting SEGMENTS of `blockSize`
    * doc-id ranges, the layout a distributed index build actually
    * writes (per-block segments bound both task memory and the skew a
    * stopword term can concentrate — a term appearing in every doc
    * yields corpus/blockSize bounded rows, never one giant list).
    * Output: (term, block, df_block, cf_block, postings) with postings
    * the comma-joined sorted doc ids of that block.
    *
    * One exchange total: the (term, block) hash aggregate over the tf
    * rows; collect_list order is made deterministic by sort_array. */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
                    blockSize: Long = 1000L): DataFrame = {
    require(blockSize > 0, s"invertedIndex: blockSize must be positive, got $blockSize")
    Ranking.termFreqs(df, idCol, textCol)
      // integer div (doc ids are non-negative): exact at any id magnitude,
      // unlike a double-routed floor(div)
      .withColumn("block", expr(s"doc_id div ${blockSize}L"))
      .groupBy(col("term"), col("block"))
      .agg(
        count(lit(1)).as("df_block"),
        sum(col("tf")).as("cf_block"),
        array_join(sort_array(collect_list(col("doc_id"))), ",").as("postings"))
  }
}
