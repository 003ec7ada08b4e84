package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/** Multinomial Naive-Bayes text classifier — the "train a linear
  * classifier on a labeled seed, score the whole corpus" step every
  * large-scale curation pipeline runs (the CCNet / GPT-3 quality-
  * classifier and fastText language-ID shape: Wenzek et al. 2020 §4.4,
  * Brown et al. 2020 App. A). Reference analog: the pipeline's
  * quality-grading pass (`dags/data_profiling/query/
  * data_profiling_function.sql:23-26` — completeness percentage →
  * GOOD/BAD grade) — re-expressed as a LEARNED scorer rather than
  * fixed thresholds.
  *
  * Model: add-alpha multinomial NB over whitespace tokens.
  *   score(d, c) = ln(nd_c / n_seed)
  *              + Σ_{t ∈ d ∩ V} tf(t,d) · ln(cnt(t,c) + α)
  *              − n_scored(d) · ln(T_c + α·|V|)
  * with V the seed vocabulary, cnt(t,c) the per-class token counts,
  * T_c = Σ_t cnt(t,c), nd_c the per-class seed doc counts. Tokens
  * outside V are IGNORED at scoring time (the standard closed-vocabulary
  * convention) and a document with zero in-vocabulary tokens has no
  * distribution and is absent from the output (the termFreqs contract).
  *
  * Scale shape (the part that must survive 100 TB):
  *  - training is ONE exploded aggregate over the seed — per-class
  *    counts as conditional sums pivoted WIDE by class, so the model
  *    frame is (|V| rows × C columns), map-side combinable, and the
  *    seed text is never shuffled;
  *  - the class totals (T_c, |V|) and priors (nd_c, n_seed) are 1-row
  *    aggregates broadcast into the scoring projection (O(C) driver-free
  *    scalars, the Lm totals pattern);
  *  - scoring is explode ⋈ broadcast(model) on `term`, then ONE
  *    combinable per-doc aggregate folding C running sums at once. The
  *    model side is EXPLICITLY broadcast — it is the bounded side by
  *    construction (|V|×C; measured 0.4 GB/7×10⁶ terms, and
  *    [[nbTopVocab]] caps it for larger V the fastText way), and
  *    broadcasting it means the corpus NEVER shuffles for the join:
  *    token rows stay in their scan partition, the partial aggregate
  *    collapses them to ~1 row per doc map-side, and the only
  *    corpus-sized exchange carries C+1 numbers per document
  *    (tools/NbVocabProbe, deleted after 17eacc8, measured this shape
  *    to 7.3M-term vocabs);
  *  - classes ride as COLUMNS end-to-end (C conditional sums per row),
  *    never as an explode factor — no C× row blow-up anywhere.
  *
  * Float parity (DuckDB oracle): scores use ln(), whose last ulp is
  * library-dependent, so per-doc scores are ROUNDED (6 dp) and the
  * predicted class is the argmax of the ROUNDED scores with
  * alphabetical tie-break (the t2 langId CASE-chain pattern) — both
  * engines argmax identical numbers. The per-doc ln-sum folds one
  * ln(cnt+α) summand PER TOKEN INSTANCE on both sides (the oracle SQL
  * unnests instances rather than weighting distinct terms by tf —
  * round-14 advice), so the two engines sum the IDENTICAL multiset of
  * doubles; only summation ORDER differs (Spark partial-agg order vs
  * DuckDB scan order), which is the same few-ulp class as the ln note
  * above and is absorbed by the 6-dp rounding.
  */
object Classifier {

  private def cnt(c: String)  = s"cnt_$c"
  private def tot(c: String)  = s"t_$c"
  private def nd(c: String)   = s"nd_$c"
  private def sl(c: String)   = s"sl_$c"
  private def score(c: String) = s"score_$c"

  /** Per-term per-class training counts from the labeled seed:
    * (term, cnt_<c>...) — the persistable NB model frame (the
    * signatureStore convention: write it as parquet, score later
    * batches from the read-back without re-reading the seed). One
    * exploded aggregate; counts pivot wide by class so no row carries a
    * class factor. */
  def nbTermStats(seed: DataFrame, textCol: String, labelCol: String,
                  classes: Seq[String]): DataFrame = {
    // fan a narrow seed scan out before tokenize+explode (key: the text
    // itself — unique enough, and the seed carries no mandated id col);
    // no-op at scale (Fanout, r20)
    val tok = graft.core.Fanout.spread(seed, col(textCol))
      .select(col(labelCol).as("label"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
    val aggs = classes.map(c =>
      sum(when(col("label") === c, 1L).otherwise(0L)).as(cnt(c)))
    tok.groupBy(col("term")).agg(aggs.head, aggs.tail: _*)
  }

  /** Cap an [[nbTermStats]] model to its `k` highest-evidence terms
    * (total count across classes, ties to the lexicographically first
    * term — deterministic). The fastText-style vocabulary cap: keeps
    * the broadcast model O(k) by construction for corpora whose raw
    * vocabulary would not fit an executor. Plans as
    * TakeOrderedAndProject (per-partition top-k, then a k-row merge —
    * never a global sort of the vocabulary). Totals/|V| downstream are
    * computed FROM the capped frame, so the smoothing denominators
    * match the model actually applied. */
  def nbTopVocab(stats: DataFrame, classes: Seq[String], k: Int): DataFrame = {
    require(k > 0, "nbTopVocab: k must be positive")
    stats.orderBy(classes.map(c => col(cnt(c))).reduce(_ + _).desc,
      col("term").asc).limit(k)
  }

  /** Per-class seed doc counts + total: ONE 1-row aggregate over the
    * seed's label column (a pruned single-column scan). */
  def nbPriors(seed: DataFrame, labelCol: String,
               classes: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("n_seed") +:
      classes.map(c => sum(when(col(labelCol) === c, 1L).otherwise(0L)).as(nd(c)))
    seed.agg(aggs.head, aggs.tail: _*)
  }

  /** Score every document of `corpus` under an NB model trained on
    * `seed` (rows carrying `labelCol`). Output:
    * (doc_id, n_scored, score_<c>... rounded 6 dp, predicted).
    * Loud in-plan failure if any class has zero seed documents (its
    * prior would be ln 0 — a silently-null score otherwise). */
  def nbScore(corpus: DataFrame, seed: DataFrame, idCol: String,
              textCol: String, labelCol: String, classes: Seq[String],
              alpha: Double = 1.0): DataFrame = {
    require(classes.nonEmpty && classes == classes.distinct,
      "nbScore: classes must be a non-empty distinct list")
    require(alpha > 0.0, "nbScore: alpha must be positive")
    // stats feeds TWO consumers (the totals aggregate and the scoring
    // join) whose subtrees diverge before any exchange — the lazy
    // checkpoint pins one materialization so the seed tokenizes exactly
    // once (the bm25 shared-tf pattern; PlanSpec-asserted).
    val stats = nbTermStats(seed, textCol, labelCol, classes)
      .localCheckpoint(false)
    nbScoreFromStats(corpus, stats, nbPriors(seed, labelCol, classes),
      idCol, textCol, classes, alpha)
  }

  /** Scoring arm over an already-trained model — `stats` is an
    * [[nbTermStats]] frame (fresh or read back from a parquet model
    * store), `priors` an [[nbPriors]] frame. This is the nightly-crawl
    * path: the seed is never re-read, only the (|V| × C) model joins. */
  def nbScoreFromStats(corpus: DataFrame, stats: DataFrame, priors: DataFrame,
                       idCol: String, textCol: String, classes: Seq[String],
                       alpha: Double = 1.0): DataFrame = {
    val totAggs = count(lit(1)).as("n_vocab") +:
      classes.map(c => sum(col(cnt(c))).as(tot(c)))
    val totals = stats.agg(totAggs.head, totAggs.tail: _*)
      .crossJoin(broadcast(priors))
      // evaluated once on the 1-row frame; assert_true -> null when ok
      .filter(coalesce(assert_true(
        classes.map(c => col(nd(c)) > 0L).reduce(_ && _),
        lit(s"nbScore: every class needs at least one seed document " +
          s"(classes: ${classes.mkString(", ")})")), lit(true)))

    // scan → explode → broadcast-join the model → ONE doc-keyed
    // aggregate. The model side is EXPLICITLY broadcast: it is bounded
    // by construction (|V|×C — cap it with nbTopVocab for huge V) while
    // the corpus side is O(data), and leaving the choice to size
    // estimates was observed (tools/NbVocabProbe, deleted after
    // 17eacc8) to flip the build to
    // the CORPUS side on stats-starved inputs. Token instances of one
    // doc stay in their parent row's partition, so the partial
    // aggregate collapses to ~1 row per doc map-side and the only
    // corpus-sized exchange carries C+1 numbers per document — no
    // (doc, term) tf exchange at all.
    // fan a narrow scan out before the per-row tokenize+explode (the
    // corpus-wide CPU pass of scoring) — no-op at scale (Fanout)
    val toks = graft.core.Fanout.spread(corpus, col(idCol))
      .select(col(idCol).as("doc_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
    val slAggs = count(lit(1)).as("n_scored") +:
      classes.map(c => sum(log(col(cnt(c)) + lit(alpha))).as(sl(c)))
    val perDoc = toks.join(broadcast(stats), "term")
      .groupBy(col("doc_id"))
      .agg(slAggs.head, slAggs.tail: _*)

    val scoreCols = classes.map { c =>
      round(log(col(nd(c)).cast("double") / col("n_seed")) + col(sl(c))
        - col("n_scored") * log(col(tot(c)) + lit(alpha) * col("n_vocab")), 6)
        .as(score(c))
    }
    val scored = perDoc.crossJoin(broadcast(totals))
      .select(col("doc_id") +: col("n_scored") +: scoreCols: _*)

    val ordered = classes.sorted
    val predicted = ordered.foldLeft(when(lit(false), lit(""))) { (acc, c) =>
      val isMax = ordered.filterNot(_ == c)
        .map(o => col(score(c)) >= col(score(o))).reduce(_ && _)
      acc.when(isMax, lit(c))
    }.otherwise(lit(ordered.head))
    scored.withColumn("predicted", predicted)
  }

  /** Classifier-driven importance resampling (the DSIR / GPT-3 App. A
    * data-selection step: keep in-distribution documents with high
    * probability, out-of-distribution ones with exponentially decaying
    * probability instead of a hard cut). Over an [[nbScore]] output:
    *   margin(d) = (score_target − max_{o≠target} score_o) / n_scored
    * (length-normalized log-odds per token — a 400-token document and a
    * 40-token one with the same per-token evidence get the same keep
    * probability), then
    *   p_keep(d) = min(1, exp((margin − tau) / temperature))
    * and the lottery is the deterministic per-doc hash bucket
    * ([[Sampling.hashBucket]] — reproducible, partition-independent, a
    * pure scan-side filter: no shuffle, no RNG state, rerunnable at any
    * parallelism). Output: the kept roster with margin/p_keep (6 dp).
    *
    * Float parity: margin is arithmetic over the ROUNDED score columns
    * (IEEE ops on identical doubles — deterministic across engines);
    * exp() is library-dependent so p_keep is rounded 6 dp BEFORE the
    * bucket comparison, which both engines then evaluate on identical
    * numbers. */
  def importanceResample(scored: DataFrame, targetClass: String,
                         classes: Seq[String], seed: Long,
                         tau: Double = 0.0,
                         temperature: Double = 1.0): DataFrame = {
    val others = classes.filterNot(_ == targetClass)
    require(others.nonEmpty, "importanceResample: need at least one non-target class")
    require(temperature > 0.0, "importanceResample: temperature must be positive")
    val best = others.map(o => col(score(o))) match {
      case Seq(only) => only
      case cols      => greatest(cols: _*)
    }
    val margin = (col(score(targetClass)) - best) / col("n_scored")
    val pKeep = round(least(exp((margin - lit(tau)) / lit(temperature)), lit(1.0)), 6)
    scored
      .withColumn("margin", round(margin, 6))
      .withColumn("p_keep", pKeep)
      .filter(Sampling.hashBucket(col("doc_id"), seed) <
        col("p_keep") * Sampling.Buckets)
  }
}
