package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.TextAnalysis
import graft.operators.Lm

/** Language-model data-prep gates over the documents table: unigram-LM
  * quality scoring (CCNet shape), the Gopher rule decision table,
  * vocabulary construction, BPE merge-candidate counting, and blocked
  * inverted-index (postings) builds. Every gate is fully
  * SQL-expressible — the oracles recompute the whole derivation from
  * the raw text (no hash aux imports needed). */
object LmQueries {

  private val VocabK = 100
  private val PairK = 100
  private val IndexBlock = 100L
  private[graft] val BpeRounds = 3

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // per-doc mean negative log-probability under the corpus's own
    // add-one unigram model (the CCNet perplexity-filter criterion).
    "t8_unigram_lm" -> { (s, d) =>
      Lm.unigramLogProb(documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // add-one bigram transition model (the KenLM direction): per-doc
    // mean negative log-probability over token transitions.
    "t10_bigram_lm" -> { (s, d) =>
      Lm.bigramLogProb(documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // Gopher-style quality-rule decision table: token-count bounds,
    // mean-token-length bounds, distinct-stopword floor, and the
    // conjunction keep flag — the full per-doc decision is gated.
    "t9_gopher_rules" -> { (s, d) =>
      documents(s, d).select(
          col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.meanTokenLen(col("text")).as("mean_raw"),
          TextAnalysis.distinctStopwordCount(col("text")).as("n_stop_distinct"))
        .withColumn("mean_tok_len", round(col("mean_raw"), 6))
        .withColumn("r_len", col("n_tokens").between(30, 100000))
        // raw (unrounded) mean in the rule: exact int/int division is
        // bit-identical across engines, so the bound can't flip
        .withColumn("r_mean", col("mean_raw").between(3.0, 10.0))
        .withColumn("r_stop", col("n_stop_distinct") >= 2)
        .withColumn("keep", col("r_len") && col("r_mean") && col("r_stop"))
        .select("doc_id", "n_tokens", "mean_tok_len", "n_stop_distinct",
          "r_len", "r_mean", "r_stop", "keep")
        .orderBy(col("doc_id"))
    },

    // top-100 vocabulary by corpus frequency (tokenizer seed list).
    "v1_vocab_topk" -> { (s, d) =>
      Lm.vocabTopK(documents(s, d), "doc_id", "text", k = VocabK)
        .orderBy(col("rank"))
    },

    // top-100 adjacent-token pairs (one BPE merge-selection round).
    "v2_bpe_pairs" -> { (s, d) =>
      Lm.bpePairCounts(documents(s, d), "doc_id", "text", k = PairK)
        .orderBy(col("rank"))
    },

    // ITERATED BPE (3 rounds): select top pair, apply the merge to the
    // whole corpus, recount — round r sees rounds 1..r-1's merged
    // symbols, which v2's one-shot ranking cannot. The oracle re-runs
    // the identical algorithm unrolled in SQL (greedy left-to-right
    // merge == parity-within-candidate-runs, window-expressible).
    "v3_bpe_merges" -> { (s, d) =>
      Lm.bpeMerges(documents(s, d), "doc_id", "text", rounds = BpeRounds)
        .orderBy(col("round"))
    },

    // SAMPLED-ARM training (the production path for 30k-50k-merge
    // vocabularies: one distributed tokenize+sample, then a
    // driver-local merge loop). sampleDocs covers the corpus at every
    // oracle SF (1M > sf1's 100k docs), so the result must be
    // IDENTICAL to v3's exact distributed derivation — the oracle IS
    // v3's SQL, pinning the whole sampled arm (hash-ordered sample,
    // local delta counts, UTF8-binary tie-break, greedy rewrite)
    // against the same independent derivation.
    "v6_bpe_merges_sampled" -> { (s, d) =>
      Lm.bpeMergesSampled(documents(s, d), "doc_id", "text",
          rounds = BpeRounds, sampleDocs = 1 << 20)
        .orderBy(col("round"))
    },

    // BPE APPLICATION: train the 3-round merge table, then encode the
    // whole corpus with it — one graft_bpe_encode projection, no shuffle.
    // The gate pins every document's full encoded token sequence.
    "v4_bpe_encode" -> { (s, d) =>
      val merges = Lm.bpeMerges(documents(s, d), "doc_id", "text",
          rounds = BpeRounds)
        .orderBy(col("round")).collect().toSeq
        .map { r =>
          val Array(a, b) = r.getString(1).split(" ", 2)
          (a, b)
        }
      Lm.bpeEncode(documents(s, d), "doc_id", "text", merges)
        .orderBy(col("doc_id"))
    },

    // TOKENIZER EVALUATION: per-language compression of the learned
    // BPE (raw-token / bpe-token ratio) — the metric a tokenizer
    // training run reports per corpus slice (fertility's inverse).
    // Exact integer sums; the ratio is one IEEE division of exact
    // longs, rounded 6 dp (the t4/t5 contract).
    "v5_bpe_compression" -> { (s, d) =>
      val merges = Lm.bpeMerges(documents(s, d), "doc_id", "text",
          rounds = BpeRounds)
        .orderBy(col("round")).collect().toSeq
        .map { r =>
          val Array(a, b) = r.getString(1).split(" ", 2)
          (a, b)
        }
      Lm.bpeEncode(documents(s, d), "doc_id", "text", merges)
        .join(documents(s, d).select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens_raw")).as("raw_tokens"),
          sum(col("n_tokens_bpe")).as("bpe_tokens"),
          round(sum(col("n_tokens_raw")).cast("double") /
            sum(col("n_tokens_bpe")), 6).as("compression"))
        .orderBy(col("lang"))
    },

    // blocked inverted index: term -> per-100-doc-id posting segments.
    "ii1_inverted_index" -> { (s, d) =>
      Lm.invertedIndex(documents(s, d), "doc_id", "text", blockSize = IndexBlock)
        .orderBy(col("term"), col("block"))
    },

    // incremental index maintenance: index a base corpus and a
    // doc-id-disjoint delta separately, merge segment-wise — the gate
    // hash-checks merge == full rebuild (the oracle independently
    // rebuilds over the whole table), including every merged postings
    // string across the straddled blocks.
    "ii2_index_merge" -> { (s, d) =>
      val docs = documents(s, d)
      val base = Lm.invertedIndex(docs.filter(col("doc_id") < 250),
        "doc_id", "text", blockSize = IndexBlock)
      val delta = Lm.invertedIndex(docs.filter(col("doc_id") >= 250),
        "doc_id", "text", blockSize = IndexBlock)
      Lm.mergeIndexes(base, delta)
        .orderBy(col("term"), col("block"))
    }
  )

  private val toksSql = TextQueries.toksSql

  /** Shared (doc_id, term, tf) derivation — the termFreqs mirror. */
  private val tfSql =
    s"""toks AS (
       |  SELECT doc_id, unnest(list_filter($toksSql, t -> len(t) > 0)) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2)""".stripMargin

  val oracle: Map[String, String] = Map(
    // t8: ln()'s last ulp is library-dependent -> nll rounded 6 dp on
    // both sides (t4/t5 contract). cf via a window over the tf rows,
    // exactly as the engine computes it.
    "t8_unigram_lm" ->
      s"""WITH $tfSql,
         |tot AS (
         |  SELECT CAST(sum(tf) AS BIGINT) AS n_total,
         |    count(DISTINCT term) AS n_vocab
         |  FROM tf),
         |cf AS (
         |  SELECT doc_id, term, tf,
         |    sum(tf) OVER (PARTITION BY term) AS cf
         |  FROM tf)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |  round(-sum(tf * ln((cf + 1.0) / (n_total + n_vocab)))
         |    / sum(tf), 6) AS nll
         |FROM cf CROSS JOIN tot
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // t10: both corpus counts as window sums over the per-doc pair
    // aggregate, exactly as the engine computes them; V = the FULL
    // unigram vocabulary (standard add-one bigram; round-10 advice),
    // recomputed from the raw text, not from the pair rows; ln -> 6 dp.
    "t10_bigram_lm" ->
      s"""WITH t AS (
         |  SELECT doc_id, list_filter($toksSql, x -> len(x) > 0) AS tk
         |  FROM documents),
         |prs AS (
         |  SELECT doc_id,
         |    unnest(list_transform(generate_series(1, greatest(len(tk) - 1, 0)),
         |      i -> tk[i])) AS prev,
         |    unnest(list_transform(generate_series(1, greatest(len(tk) - 1, 0)),
         |      i -> tk[i + 1])) AS cur
         |  FROM t),
         |pairs AS (
         |  SELECT doc_id, prev, cur, count(*) AS k FROM prs GROUP BY 1, 2, 3),
         |tot AS (
         |  SELECT count(DISTINCT tok) AS n_vocab
         |  FROM (SELECT unnest(tk) AS tok FROM t)),
         |w AS (
         |  SELECT doc_id, k,
         |    sum(k) OVER (PARTITION BY prev, cur) AS cpc,
         |    sum(k) OVER (PARTITION BY prev) AS cp
         |  FROM pairs)
         |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
         |  round(-sum(k * ln((cpc + 1.0) / (cp + n_vocab)))
         |    / sum(k), 6) AS nll2
         |FROM w CROSS JOIN tot
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "t9_gopher_rules" ->
      s"""WITH t AS (
         |  SELECT doc_id, list_filter($toksSql, x -> len(x) > 0) AS tk
         |  FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    CAST(len(tk) AS INT) AS n_tokens,
         |    CASE WHEN len(tk) > 0
         |      THEN CAST(list_sum(list_transform(tk, x -> len(x))) AS DOUBLE) / len(tk)
         |      ELSE 0.0 END AS mean_raw,
         |    CAST(len(list_filter(list_distinct(tk),
         |      x -> x IN ('the','a','of','and','to','in','is','it','for','on'))) AS INT)
         |      AS n_stop_distinct
         |  FROM t)
         |SELECT doc_id, n_tokens, round(mean_raw, 6) AS mean_tok_len,
         |  n_stop_distinct,
         |  n_tokens BETWEEN 30 AND 100000 AS r_len,
         |  mean_raw BETWEEN 3.0 AND 10.0 AS r_mean,
         |  n_stop_distinct >= 2 AS r_stop,
         |  (n_tokens BETWEEN 30 AND 100000) AND (mean_raw BETWEEN 3.0 AND 10.0)
         |    AND n_stop_distinct >= 2 AS keep
         |FROM m ORDER BY doc_id""".stripMargin,

    "v1_vocab_topk" ->
      s"""WITH $tfSql,
         |vocab AS (
         |  SELECT term, CAST(sum(tf) AS BIGINT) AS cf, count(*) AS df_t
         |  FROM tf GROUP BY 1),
         |ranked AS (
         |  SELECT term, cf, df_t,
         |    row_number() OVER (ORDER BY cf DESC, term ASC) AS rank
         |  FROM vocab)
         |SELECT CAST(rank AS INT) AS rank, term, cf, df_t
         |FROM ranked WHERE rank <= $VocabK ORDER BY rank""".stripMargin,

    "v2_bpe_pairs" ->
      s"""WITH t AS (
         |  SELECT list_filter($toksSql, x -> len(x) > 0) AS tk FROM documents),
         |pairs AS (
         |  SELECT unnest(list_transform(
         |    generate_series(1, greatest(len(tk) - 1, 0)),
         |    i -> tk[i] || ' ' || tk[i + 1])) AS pair
         |  FROM t),
         |pc AS (SELECT pair, count(*) AS n FROM pairs GROUP BY 1),
         |ranked AS (
         |  SELECT pair, n,
         |    row_number() OVER (ORDER BY n DESC, pair ASC) AS rank
         |  FROM pc)
         |SELECT CAST(rank AS INT) AS rank, pair, n
         |FROM ranked WHERE rank <= $PairK ORDER BY rank""".stripMargin,

    "v3_bpe_merges" -> bpeMergesSql,
    // the sampled arm must be indistinguishable from the exact
    // distributed derivation when the sample covers the corpus — same
    // SQL (the y7/nb2 store-gate pinning pattern applied to training).
    "v6_bpe_merges_sampled" -> bpeMergesSql,
    "v4_bpe_encode" -> bpeEncodeSql,

    // v5: the SAME training+encode chain, rolled up per language.
    "v5_bpe_compression" ->
      s"""WITH enc AS ($bpeEncodeSql),
         |j AS (
         |  SELECT e.doc_id, e.n_tokens_raw, e.n_tokens_bpe, d.lang
         |  FROM enc e JOIN documents d USING (doc_id))
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_tokens_raw) AS BIGINT) AS raw_tokens,
         |  CAST(sum(n_tokens_bpe) AS BIGINT) AS bpe_tokens,
         |  round(CAST(sum(n_tokens_raw) AS DOUBLE) / sum(n_tokens_bpe), 6)
         |    AS compression
         |FROM j GROUP BY lang ORDER BY lang""".stripMargin,

    // ii1: `//` truncates toward zero = Spark's `div` on the
    // non-negative doc-id domain; postings re-joined in doc-id order on
    // both sides.
    "ii1_inverted_index" -> indexRebuildSql,

    // ii2: the oracle does NOT merge — it rebuilds the index over the
    // full table from scratch (the SAME rebuild SQL as ii1, shared so
    // the definition of "rebuild" can never diverge), so a wrong merge
    // (double count, unsorted or dropped postings in a straddled
    // segment) hash-fails.
    "ii2_index_merge" -> indexRebuildSql
  )

  /** Iterated-BPE oracle, unrolled per round. Each round: count pairs
    * over t{r-1}, LIMIT-1 winner (n desc, pair asc — same total order
    * as the engine), then rebuild t{r} by applying the merge. Greedy
    * left-to-right application is expressed with windows: candidate
    * positions grouped into runs of consecutive positions (pos minus
    * row_number is constant within a run — runs only arise for a=b
    * pairs), and a candidate merges iff its offset from the run start
    * is even — exactly the positions a left-to-right scan takes. The
    * merged-start / consumed-next rewrite is two self-joins against the
    * kept set. An independent derivation of the same semantics as the
    * engine's expression fold, so a drift in either fails the hash. */
  private lazy val bpeMergesSql: String = bpeSql(applyLast = false) +
    "\n" + (1 to BpeRounds)
      .map(r => s"SELECT CAST($r AS INT) AS round, pair, n FROM w$r")
      .mkString("\nUNION ALL ") +
    "\nORDER BY round"

  /** v4: the same unrolled rounds WITH the final apply, then the whole
    * encoded corpus — token counts and the full space-joined encoding
    * per document. Zero-token docs never enter the rebuild CTEs, so
    * their row falls back to the raw (empty) token list. */
  private lazy val bpeEncodeSql: String = {
    val R = BpeRounds
    bpeSql(applyLast = true) + s"""
       |SELECT t0.doc_id,
       |  CAST(len(t0.tk) AS INT) AS n_tokens_raw,
       |  CAST(COALESCE(len(t$R.tk), len(t0.tk)) AS INT) AS n_tokens_bpe,
       |  COALESCE(array_to_string(t$R.tk, ' '), array_to_string(t0.tk, ' '))
       |    AS encoded_text
       |FROM t0 LEFT JOIN t$R USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** Shared unrolled BPE round chain: t0 (tokenized corpus), then per
    * round r: p{r} pair counts, w{r} winner, and — when the round's
    * merge must be applied (always except optionally the last) — the
    * u/v/c/k/t{r} greedy-application CTEs. Returns the full WITH
    * clause, ready for a final SELECT. */
  private def bpeSql(applyLast: Boolean): String = {
    val rounds = (1 to BpeRounds).map { r =>
      val p = r - 1
      val apply =
        if (r == BpeRounds && !applyLast) "" // the last merge is never re-counted
        else s""",
           |u$r AS (
           |  SELECT doc_id, unnest(generate_series(1, len(tk))) AS pos, tk
           |  FROM t$p),
           |v$r AS (
           |  SELECT doc_id, pos, tk[pos] AS tok, tk[pos + 1] AS nxt
           |  FROM u$r),
           |c$r AS (
           |  SELECT doc_id, pos,
           |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS run
           |  FROM v$r
           |  WHERE tok = (SELECT a FROM w$r) AND nxt = (SELECT b FROM w$r)),
           |k$r AS (
           |  SELECT doc_id, pos FROM (
           |    SELECT doc_id, pos,
           |      pos - min(pos) OVER (PARTITION BY doc_id, run) AS off
           |    FROM c$r)
           |  WHERE off % 2 = 0),
           |t$r AS (
           |  SELECT doc_id, list(newtok ORDER BY pos) AS tk FROM (
           |    SELECT v.doc_id, v.pos,
           |      CASE WHEN ks.pos IS NOT NULL
           |        THEN v.tok || '~' || v.nxt ELSE v.tok END AS newtok
           |    FROM v$r v
           |    LEFT JOIN k$r ks ON ks.doc_id = v.doc_id AND ks.pos = v.pos
           |    LEFT JOIN k$r kd ON kd.doc_id = v.doc_id AND kd.pos = v.pos - 1
           |    WHERE kd.pos IS NULL)
           |  GROUP BY doc_id)""".stripMargin
      s"""p$r AS (
         |  SELECT unnest(list_transform(
         |    generate_series(1, greatest(len(tk) - 1, 0)),
         |    i -> tk[i] || ' ' || tk[i + 1])) AS pair
         |  FROM t$p),
         |w$r AS (
         |  SELECT pair, CAST(count(*) AS BIGINT) AS n,
         |    split_part(pair, ' ', 1) AS a, split_part(pair, ' ', 2) AS b
         |  FROM p$r GROUP BY pair ORDER BY count(*) DESC, pair ASC LIMIT 1)$apply""".stripMargin
    }.mkString(",\n")
    s"""WITH t0 AS (
       |  SELECT doc_id, list_filter($toksSql, x -> len(x) > 0) AS tk
       |  FROM documents),
       |$rounds""".stripMargin
  }

  /** Full-table inverted-index rebuild — the oracle for BOTH ii1 (direct
    * build) and ii2 (incremental merge must equal this). */
  private lazy val indexRebuildSql: String =
    s"""WITH $tfSql
       |SELECT term, CAST(doc_id // $IndexBlock AS BIGINT) AS block,
       |  count(*) AS df_block,
       |  CAST(sum(tf) AS BIGINT) AS cf_block,
       |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
       |FROM tf GROUP BY 1, 2 ORDER BY term, block""".stripMargin
}
