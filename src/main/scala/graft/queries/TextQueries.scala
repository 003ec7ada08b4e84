package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.sources.{Readers, Writers}
import graft.functions.TextAnalysis
import graft.operators.Dedup

/** Text-analysis + dedup coverage over the documents table: token
  * counting, quality scoring, language-ID, fingerprinting, exact and
  * near-dup detection. Near-dup corpora are documents plus a
  * deterministic perturbed copy (last token replaced), so every scale
  * factor has true near-duplicates to find. */
object TextQueries {

  /** Band-bucket size guard shared by the x3-family gates AND their
    * oracle mirrors (r15): buckets larger than this are dropped
    * wholesale before the candidate self-join — oversized buckets are
    * exact-dup mega-clusters owned by the O(B) x1 pass, and unguarded
    * they emit B²/2 candidates (measured on sf1zipf: 137 s for x10,
    * 258 s for x13 vs ~6 s guarded). A no-op on the uniform gate
    * corpora (max dup family ≤ 4 ≪ 64), so every existing hash pin is
    * unchanged — the SQL mirrors carry the identical filter anyway. */
  private[graft] val MaxBucket = 64

  /** Perturbed copy of documents (doc_id+1000000, last token swapped) —
    * the synthetic near-dup half of [[nearDupCorpus]], and the "split B"
    * of the x11 cross-dedup gate. */
  def perturbedDocs(s: SparkSession, d: String): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    documents(s, d).select(
      (col("doc_id") + 1000000L).as("doc_id"),
      concat(concat_ws(" ", slice(toks, lit(1), size(toks) - 1)), lit(" graftdup")).as("text"))
  }

  /** documents ∪ perturbed copy (doc_id+1000000, last token swapped). */
  def nearDupCorpus(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(col("doc_id"), col("text"))
      .unionByName(perturbedDocs(s, d))

  /** The x3-family near-dup pair list (x3, x6, x8, x10, cur5): MinHash-LSH
    * at n = 3, 16 bands × 8 rows, jaccard ≥ 0.6, buckets capped at
    * [[MaxBucket]] — the parameters the oracle mirrors carry. */
  private[queries] def nearDupPairs(corpus: DataFrame): DataFrame =
    Dedup.minhashLshPairs(corpus, "doc_id", "text",
      n = 3, bands = 16, rowsPerBand = 8, threshold = 0.6,
      maxBucketSize = MaxBucket)

  /** Multi-paragraph corpus for sub-document dedup: documents texts have
    * no newlines, so composites are built by joining each run of 4
    * consecutive doc_ids' texts with '\n' (doc_id order within the
    * composite). The corpus inherits the documents table's exact-dup
    * structure (the x1 gate's n_copies > 1 groups) as CROSS-composite
    * repeated paragraphs — real boilerplate topology, not synthetic. */
  def paragraphCorpus(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(col("doc_id").as("k"), col("text"))
      .groupBy(floor(col("k") / 4).cast("long").as("doc_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("k"), col("text")))),
          p => p.getField("text")), "\n").as("text"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // token counts (whitespace + BPE-ish), punctuation/stopword ratios,
    // composite quality score.
    "t1_text_stats" -> { (s, d) =>
      documents(s, d).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish_tokens"),
        TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
        TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
        TextAnalysis.qualityScore(col("text")).as("quality_score"))
        .orderBy(col("doc_id"))
    },

    // marker-lexicon language ID + per-language scores.
    "t2_lang_id" -> { (s, d) =>
      documents(s, d).select(
        col("doc_id"), col("lang").as("labeled_lang"),
        TextAnalysis.langId(col("text")).as("predicted_lang"),
        TextAnalysis.langScore(col("text"), "en").as("score_en"),
        TextAnalysis.langScore(col("text"), "de").as("score_de"))
        .orderBy(col("doc_id"))
    },

    // rolling polynomial fingerprint (xxhash64-based — no SQL oracle;
    // rows-only check + determinism spec).
    "t3_fingerprint" -> { (s, d) =>
      documents(s, d).select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .orderBy(col("doc_id"))
    },

    // corpus-statistics relevance: top-5 TF-IDF terms per document.
    "t4_tfidf" -> { (s, d) =>
      graft.operators.Ranking.tfidfTopTerms(documents(s, d), "doc_id", "text", k = 5)
        .orderBy(col("doc_id"), col("rank"))
    },

    // BM25 top-20 documents for a fixed query term set.
    "t5_bm25" -> { (s, d) =>
      graft.operators.Ranking.bm25TopDocs(documents(s, d), "doc_id", "text",
        Seq("data", "join", "vector", "scan", "window"), k = 20)
        .orderBy(col("rank"))
    },

    // end-to-end curation: the full training-data flow in one query —
    // language filter -> quality threshold -> exact dedup (canonical id)
    // -> per-language stats of the surviving corpus.
    "cur1_curation_pipeline" -> { (s, d) =>
      val scored = documents(s, d).select(
        col("doc_id"), col("text"), col("lang"),
        TextAnalysis.qualityScore(col("text")).as("q"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      val kept = scored
        .filter(col("lang").isin("en", "de", "fr"))
        .filter(col("q") >= 0.5)
      // canonical row = the min-doc_id survivor; min_by keeps ITS lang
      // (first() would be nondeterministic when dup texts differ in lang)
      val deduped = kept
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("keep_id"),
          min_by(col("lang"), col("doc_id")).as("lang"),
          min_by(col("n_tokens"), col("doc_id")).as("n_tokens"))
      deduped.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          min(col("keep_id")).as("min_keep_id"))
        .orderBy(col("lang"))
    },

    // exact dedup: canonical id + copy count per distinct text.
    "x1_dedup_exact" -> { (s, d) =>
      Dedup.exact(documents(s, d), "doc_id", "text")
        .select(col("keep_id"), col("n_copies"))
        .orderBy(col("keep_id"))
    },

    // paragraph-level exact dedup (global keep-first, reassembled docs;
    // fully-duplicate composites drop out) over the composite corpus.
    "x9_paragraph_dedup" -> { (s, d) =>
      Dedup.dedupParagraphs(paragraphCorpus(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // n-gram Jaccard near-dup pairs (blocked candidates + exact verify).
    // The bucket guard affects only the banded SKEW path, which never
    // fires on the gate corpus (no block exceeds maxBlockSize at
    // sf0.01) — the oracle's plain block join stays exact.
    "x2_ngram_jaccard" -> { (s, d) =>
      Dedup.ngramJaccardPairs(nearDupCorpus(s, d), "doc_id", "text",
        n = 3, threshold = 0.6, maxBucketSize = MaxBucket)
        .orderBy(col("id_a"), col("id_b"))
    },

    // MinHash+LSH near-dup pairs (shingle→minhash→band→bucket-join;
    // engine-hash-based — rows-only check + recall spec vs exact Jaccard).
    "x3_minhash_lsh" -> { (s, d) =>
      nearDupPairs(nearDupCorpus(s, d)).orderBy(col("id_a"), col("id_b"))
    },

    // pair list -> clusters: components over the x3 pairs; canonical
    // doc per dup group = min id (deterministic keep-one policy).
    "x6_dup_clusters" -> { (s, d) =>
      val pairs = nearDupPairs(nearDupCorpus(s, d))
      // components (min-label), not componentsAlternating: near-dup
      // graphs are clique-ish (diameter 1-2), where min-label's folded
      // first hop converges in one confirming pass — measured 1.6x
      // faster than star alternation here, whose two-phase rounds only
      // pay off on DEEP graphs (see componentsAlternating scaladoc)
      Dedup.components(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy(col("doc_id"))
    },

    // same clustering through the ALTERNATING large-star/small-star
    // path (the deep-graph O(log n)-rounds algorithm) — oracle-gated
    // against the same transitive closure as x6, so both component
    // implementations are hash-pinned to identical cluster assignments.
    "x8_dup_clusters_star" -> { (s, d) =>
      val pairs = nearDupPairs(nearDupCorpus(s, d))
      Dedup.componentsAlternating(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy(col("doc_id"))
    },

    // quality-aware dedup keep policy: best-quality doc (tie: min id)
    // per x6 cluster — the survivor-selection step downstream of
    // clustering, argmax via map-side-combinable max(struct).
    "x10_cluster_keep_best" -> { (s, d) =>
      val corpus = nearDupCorpus(s, d)
      val pairs = nearDupPairs(corpus)
      val clusters = Dedup.components(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("cluster_id"))
      val scored = corpus.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("q"))
      Dedup.clusterRepresentatives(clusters, "doc_id", "cluster_id",
        scored, "doc_id", "q")
        .orderBy(col("cluster_id"))
    },

    // cross-corpus dedup roster: each perturbed "split B" doc's best
    // verified match in the original documents "split A" — train/eval
    // leakage as a cross band-join, never a union self-join.
    "x11_cross_dedup" -> { (s, d) =>
      Dedup.crossDedupRoster(
        documents(s, d).select(col("doc_id"), col("text")),
        perturbedDocs(s, d), "doc_id", "text",
        n = 3, bands = 16, rowsPerBand = 8, threshold = 0.6,
        maxBucketSize = MaxBucket)
        .orderBy(col("doc_id"))
    },

    // incremental dedup: split A's signatures go through a PERSISTED
    // parquet signature store (write + read back inside the query — the
    // nightly-pipeline shape, store IO included), split B dedups against
    // the store. Output contract == x11, so the oracle is x11's SQL:
    // the gate pins store-roundtrip ≡ recompute through an independent
    // derivation.
    "x12_incremental_dedup" -> { (s, d) =>
      val dir = StoreDirs.fresh("x12_store", d)
      // the store build and the delta's signature pass share no state:
      // materialize the delta's (id, sig, grams) checkpoint WHILE the
      // store writes (guide §2.6 — the second job's tasks back-fill the
      // first's straggler tail), then dedup against the read-back store.
      // Same frames, same store, same roster as the sequential form.
      val deltaSig = Dedup.sigGramsFrame(perturbedDocs(s, d), "doc_id",
        "text", n = 3, numHashes = 128).localCheckpoint(false)
      graft.core.Overlap.par(
        Writers.parquetStore(Dedup.signatureStore(
          documents(s, d).select(col("doc_id"), col("text")),
          "doc_id", "text", n = 3, bands = 16, rowsPerBand = 8), dir),
        deltaSig.count())
      Dedup.incrementalDedupRosterPrepared(
        deltaSig, Readers.parquet(s, dir),
        n = 3, bands = 16, rowsPerBand = 8, threshold = 0.6,
        maxBucketSize = MaxBucket)
        .orderBy(col("doc_id"))
    },

    // store-merge lifecycle: the corpus is split into two DISJOINT
    // half-stores (doc_id parity), each built and persisted
    // independently, folded into ONE store by mergeSignatureStore, and
    // the delta dedups against the MERGED store. Per-doc signatures are
    // corpus-independent, so the split+merge must be invisible: a
    // dropped, duplicated, or param-garbled signature moves the roster.
    // Output contract == x11/x12, so the oracle is x11's derivation
    // again — the gate pins merge ≡ rebuild through DuckDB, completing
    // the store lifecycle (build x12, maintain x14) the way
    // y9_ann_store_merge does for the ANN store.
    "x14_store_merge_dedup" -> { (s, d) =>
      val docs = documents(s, d).select(col("doc_id"), col("text"))
      val dirA = StoreDirs.fresh("x14_store_a", d)
      val dirB = StoreDirs.fresh("x14_store_b", d)
      // three independent legs — the two half-store builds and the
      // delta's signature pass — run concurrently (guide §2.6) instead
      // of serializing three full minhash passes; the merge + roster
      // then read exactly the frames the sequential form read.
      val deltaSig = Dedup.sigGramsFrame(perturbedDocs(s, d), "doc_id",
        "text", n = 3, numHashes = 128).localCheckpoint(false)
      def halfStore(parity: Int, dir: String): Unit =
        Writers.parquetStore(Dedup.signatureStore(docs.filter(col("doc_id") % 2 === parity),
          "doc_id", "text", n = 3, bands = 16, rowsPerBand = 8), dir)
      graft.core.Overlap.par(halfStore(0, dirA),
        graft.core.Overlap.par(halfStore(1, dirB), deltaSig.count()))
      Dedup.incrementalDedupRosterPrepared(
        deltaSig,
        Dedup.mergeSignatureStore(Readers.parquet(s, dirA), Readers.parquet(s, dirB)),
        n = 3, bands = 16, rowsPerBand = 8,
        threshold = 0.6, maxBucketSize = MaxBucket)
        .orderBy(col("doc_id"))
    },

    // ftfy-style text hygiene: mojibake repair -> punctuation
    // normalization -> control strip -> whitespace collapse, pinned
    // char-for-char over a deterministically-dirtied corpus (both
    // engines build the SAME dirty text, so the repair itself is what
    // hashes).
    "t11_text_clean" -> { (s, d) =>
      import TextAnalysis.replaceLit
      val dirty = concat(
        replaceLit(replaceLit(replaceLit(col("text"),
          "table", "tÃ¡ble"), "query", "â€œquery"), "the", "thÃ©"),
        lit(DirtyTail))
      documents(s, d).select(
        col("doc_id"),
        TextAnalysis.cleanText(dirty).as("cleaned"),
        length(dirty).as("n_before"),
        length(TextAnalysis.cleanText(dirty)).as("n_after"))
        .orderBy(col("doc_id"))
    },

    // character-level near-dup: the x3 banding for candidates, verified
    // by Levenshtein edit distance (threshold-form banded DP) over
    // capped text — ranks small in-place edits by exact character cost.
    "x13_edit_distance" -> { (s, d) =>
      Dedup.editDistancePairs(nearDupCorpus(s, d), "doc_id", "text",
        maxDist = 24, n = 3, bands = 16, rowsPerBand = 8, maxLen = 2000,
        maxBucketSize = MaxBucket)
        .orderBy(col("id_a"), col("id_b"))
    },

    // SimHash near-dup pairs — 64-bit signatures, 7 bands so recall at
    // hamming <= 6 is pigeonhole-EXACT (no LSH luck in the gate result).
    "x4_simhash" -> { (s, d) =>
      Dedup.simhashPairs(nearDupCorpus(s, d), "doc_id", "text",
        maxHamming = 6, bands = 7, maxSigGroup = MaxBucket)
        .orderBy(col("id_a"), col("id_b"))
    },

    // exact duplicated-substring spans (Lee et al. ExactSubstr as
    // distributed positional k-gram matching): every maximal >= k-token
    // run appearing more than once in the corpus, per document — the
    // full span roster (start/end token indices + gram count) is gated.
    "x7_substring_dedup" -> { (s, d) =>
      Dedup.duplicatedSpans(nearDupCorpus(s, d), "doc_id", "text", k = 8)
        .orderBy(col("doc_id"), col("span_id"))
    },

    // RAG-style overlapping token-window chunking: 64-token windows,
    // 16-token overlap; full chunk roster INCLUDING the re-joined chunk
    // text is hash-gated.
    "ck1_doc_chunking" -> { (s, d) =>
      graft.operators.Packing.chunkTokens(documents(s, d), "doc_id", "text",
        size = 64, overlap = 16)
        .orderBy(col("doc_id"), col("chunk_idx"))
    },

    // curation v3 — the substring-cut pass composed end-to-end: per-doc
    // duplicated-span coverage (x7's spans) against the doc's token
    // count, the retained-token budget after cutting every duplicated
    // span (Lee et al.'s drop-all-copies ablation policy), and a
    // whole-doc drop flag at >= 80% duplication. Every number is joint
    // output, so the oracle hash-checks the full decision table.
    "cur3_substring_cut" -> { (s, d) =>
      val corpus = nearDupCorpus(s, d)
      val cover = Dedup.duplicatedSpans(corpus, "doc_id", "text", k = 8)
        .groupBy(col("doc_id")).agg(
          count(lit(1)).as("n_spans"),
          sum(col("end_pos") - col("start_pos") + 1).as("dup_tokens"))
      corpus.select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
        .join(cover, Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_spans", "dup_tokens"))
        .withColumn("retained_tokens", col("n_tokens") - col("dup_tokens"))
        // integer arithmetic, not a double ratio: exact at any scale
        .withColumn("drop_doc", col("dup_tokens") * 5 >= col("n_tokens") * 4)
        .orderBy(col("doc_id"))
    },

    // curation v2 — the round-5 training-data flow end-to-end:
    // repetition filter -> benchmark decontamination -> exact dedup
    // (canonical min id) -> per-language quota cap. Output is the full
    // kept roster, so the oracle hash-checks every decision jointly.
    "cur2_curation_v2" -> { (s, d) =>
      val docs = documents(s, d)
      val lowRep = graft.operators.Ranking.termFreqs(docs, "doc_id", "text")
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("nt"), max(col("tf")).as("mt"))
        .filter(col("mt").cast("double") / col("nt") <= 0.12)
        .select("doc_id")
      val clean = Dedup.contamination(docs, "doc_id", "text",
        docs.filter(col("doc_id") < 30).select(col("text")), "text", n = 8)
        .filter(col("n_hit") === 0).select("doc_id")
      val kept = docs.select(col("doc_id"), col("text"), col("lang"))
        .join(lowRep, Seq("doc_id")).join(clean, Seq("doc_id"))
      val deduped = kept.groupBy(col("text"))
        .agg(min(col("doc_id")).as("doc_id"),
          min_by(col("lang"), col("doc_id")).as("lang"))
        .select("doc_id", "lang")
      graft.operators.Sampling.quotaSample(deduped, "doc_id", "lang",
        quota = 30, seed = DatasetQueries.QuotaSeed)
        .orderBy(col("doc_id"))
    },

    // PII scrub: plant a deterministic email + IP per doc, then count
    // and redact — exercises extraction AND replacement char-for-char.
    "t6_pii_scrub" -> { (s, d) =>
      val aug = documents(s, d).select(col("doc_id"),
        concat(col("text"), lit(" contact: user"), col("doc_id"),
          lit("@example.com from 10.0."), col("doc_id") % 256, lit(".7")).as("t2"))
      aug.select(col("doc_id"),
        TextAnalysis.countMatches(col("t2"), TextAnalysis.EmailRegex).as("n_emails"),
        TextAnalysis.countMatches(col("t2"), TextAnalysis.Ipv4Regex).as("n_ips"),
        TextAnalysis.scrubPii(col("t2")).as("scrubbed"))
        .orderBy(col("doc_id"))
    },

    // repetition stats (Gopher-style quality rule): duplicate-token and
    // top-token ratios from one exploded-token aggregate.
    "t7_repetition" -> { (s, d) =>
      graft.operators.Ranking.termFreqs(documents(s, d), "doc_id", "text")
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          max(col("tf")).as("top_tf"))
        .withColumn("dup_ratio",
          (col("n_tokens") - col("n_distinct")).cast("double") / col("n_tokens"))
        .withColumn("top_ratio", col("top_tf").cast("double") / col("n_tokens"))
        .orderBy(col("doc_id"))
    },

    // benchmark decontamination: 8-gram overlap vs an eval set (here:
    // the first 30 docs, simulating a leaked benchmark); flagged docs.
    "dc1_decontaminate" -> { (s, d) =>
      val docs = documents(s, d)
      Dedup.contamination(docs, "doc_id", "text",
        docs.filter(col("doc_id") < 30).select(col("text")), "text", n = 8)
        .filter(col("n_hit") > 0)
        .orderBy(col("doc_id"))
    }
  )

  private[graft] val toksSql = "string_split_regex(trim(text), '\\s+')"
  private val punctSql =
    """(length(text) - length(regexp_replace(text, '[.,!?;:''"()\-]', '', 'g')))"""

  /** Deterministic dirt appended to every doc for the t11 gate: a bell
    * control char, an NBSP-spaced run, a mojibake ellipsis, a broken
    * right-double-quote (the â€+U+009D repair) and a C1 NEL control —
    * so the gate exercises the C1 strip and the 9D-bearing mojibake
    * entry on every row, not just in the property spec. */
  private[graft] val DirtyTail = "\u0007 spaced\u00a0out   tail â€¦ â€\u009d ok\u0085"

  /** t11 oracle fragments GENERATED from the TextAnalysis fix tables —
    * single source of truth, the tables cannot diverge from the SQL. */
  private def sqlLit(s: String): String =
    "'" + s.replace("'", "''") + "'"
  private[queries] def cleanTextSqlOver(base: String): String = {
    val moji = TextAnalysis.MojibakeFixes.foldLeft(base) {
      case (acc, (f, t)) => s"replace($acc, ${sqlLit(f)}, ${sqlLit(t)})"
    }
    val punct = TextAnalysis.PunctNormalizations.foldLeft(moji) {
      case (acc, (f, t)) => s"replace($acc, ${sqlLit(f)}, ${sqlLit(t)})"
    }
    val ctrl = s"regexp_replace($punct, '${TextAnalysis.ControlCharClass}', '', 'g')"
    s"trim(regexp_replace($ctrl, '\\s+', ' ', 'g'))"
  }
  private lazy val cleanTextSql: String = cleanTextSqlOver("dirty")

  /** DuckDB mirror of Dedup.shingles(text, 3) + blocking key. */
  private val corpusSql =
    s"""corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id,
       |    array_to_string(list_slice($toksSql, 1, len($toksSql) - 1), ' ') || ' graftdup' AS text
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id,
       |    $toksSql AS toks,
       |    list_distinct(list_transform(
       |      generate_series(1, greatest(len($toksSql) - 2, 1)),
       |      i -> array_to_string(list_slice($toksSql, i, i + 2), ' '))) AS g
       |  FROM corpus),
       |keyed AS (
       |  SELECT doc_id, g,
       |    array_to_string(list_slice(toks, 1, 2), ' ') AS prefix,
       |    len(g) AS n_grams
       |  FROM grams)""".stripMargin

  /** quality-score SQL matching TextAnalysis.qualityScore (same text as
    * in the t1 oracle). */
  private[graft] val qualitySql =
    s"""least(CAST(len($toksSql) AS DOUBLE) / 50.0, 1.0) * 0.4
       | + (1.0 - least(CASE WHEN length(text) > 0
       |     THEN CAST($punctSql AS DOUBLE) / length(text) ELSE 0.0 END * 5.0, 1.0)) * 0.3
       | + (1.0 - abs(CASE WHEN len($toksSql) > 0
       |     THEN CAST(len(list_filter($toksSql,
       |       t -> t IN ('the','a','of','and','to','in','is','it','for','on'))) AS DOUBLE)
       |       / len($toksSql) ELSE 0.0 END - 0.3)) * 0.3""".stripMargin

  /** Transitive closure of the x3 pair list (recursive CTE; label = min
    * reachable id) — the shared oracle for BOTH component
    * implementations (x6 min-label, x8 large-star/small-star): one
    * definition of "correct clusters", two engine algorithms pinned to
    * it. */
  private lazy val dupClustersSql: String =
    s"""WITH RECURSIVE pairs AS ($minhashPairsSql),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION SELECT id_b AS src, id_a AS dst FROM pairs),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src)
       |SELECT id AS doc_id, min(r) AS cluster_id
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** Full x3 pair derivation in DuckDB (no final ORDER BY — reusable as
    * a CTE body by x6's component closure). */
  /** Shared minhash lane + banding SQL (the x3 hash family) — used by
    * the jaccard-verified pair mirror AND the edit-distance x13 gate. */
  private[queries] lazy val minhashLanesSql: String = {
    val params = graft.operators.Dedup.hashParams(128)
    val prime = graft.operators.Dedup.MinhashPrime
    params.zipWithIndex.map { case ((a, b), i) =>
      s"min((h * $a + $b) % $prime) AS m$i"
    }.mkString(", ")
  }
  private[queries] lazy val minhashBandedSql: String = {
    val raw = (0 until 16).map { b =>
      val cols = (0 until 8).map(r => s"m${b * 8 + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, concat_ws(',', $cols) AS bucket FROM sigs"
    }.mkString(" UNION ALL ")
    // the engine's MaxBucket guard, mirrored: drop oversized buckets
    // wholesale before the candidate join (no-op on uniform corpora)
    s"""SELECT doc_id, band, bucket FROM (
       |  SELECT doc_id, band, bucket,
       |    count(*) OVER (PARTITION BY band, bucket) AS __bs
       |  FROM ($raw)) WHERE __bs <= $MaxBucket""".stripMargin
  }

  /** Shared x11/x12/x14 oracle derivation (r17 advice: it was three
    * verbatim copies — a tie-break or cross-pair-filter change would
    * have needed hand-syncing). The engine contracts of x12 (store
    * round-trip) and x14 (store merge) are both "indistinguishable from
    * x11's recompute path", so all three gates pin against the SAME SQL:
    * the x3 mirror's union self-join pairs restricted to one A-side and
    * one B-side id (side membership by SET — documents ids vs ids +
    * 1000000 — never an id threshold; at sf1+ the ScaleGen copy strides
    * put most original ids above 1e6 and a threshold silently
    * misclassifies whole copies, caught by the sf1 pin: 49,907 engine
    * rows vs 4,990 under the threshold form). Both orientations of the
    * ordered pair list are folded in; a pair lands in exactly one branch
    * (the sides are disjoint id sets). rn = 1 under (jaccard DESC,
    * a_id ASC) mirrors the engine's max(struct) argmax. */
  private lazy val crossDedupRosterSql: String =
    s"""WITH pairs AS ($minhashPairsSql),
       |cross_pairs AS (
       |  SELECT id_a AS a_id, id_b AS b_id, jaccard_sim FROM pairs
       |  WHERE id_a IN (SELECT doc_id FROM documents)
       |    AND id_b IN (SELECT doc_id + 1000000 FROM documents)
       |  UNION ALL
       |  SELECT id_b AS a_id, id_a AS b_id, jaccard_sim FROM pairs
       |  WHERE id_b IN (SELECT doc_id FROM documents)
       |    AND id_a IN (SELECT doc_id + 1000000 FROM documents)),
       |roster AS (
       |  SELECT b_id AS doc_id, a_id, jaccard_sim,
       |    row_number() OVER (PARTITION BY b_id
       |      ORDER BY jaccard_sim DESC, a_id ASC) AS rn
       |  FROM cross_pairs)
       |SELECT doc_id, a_id AS matched_doc_id, jaccard_sim
       |FROM roster WHERE rn = 1 ORDER BY doc_id""".stripMargin

  private lazy val minhashPairsSql: String = {
    val lanes = minhashLanesSql
    val bandsSql = minhashBandedSql
    s"""WITH h32 AS (
       |  SELECT doc_id, h FROM read_parquet('__AUX__/x3_gram_h32/*.parquet')),
       |g64 AS (
       |  SELECT DISTINCT doc_id, g FROM read_parquet('__AUX__/x3_gram_h64/*.parquet')),
       |sizes AS (SELECT doc_id, count(*) AS n FROM g64 GROUP BY doc_id),
       |sigs AS (SELECT doc_id, $lanes FROM h32 GROUP BY doc_id),
       |banded AS ($bandsSql),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |inter AS (
       |  SELECT c.id_a, c.id_b, count(*) AS i
       |  FROM cand c
       |  JOIN g64 ga ON ga.doc_id = c.id_a
       |  JOIN g64 gb ON gb.doc_id = c.id_b AND gb.g = ga.g
       |  GROUP BY c.id_a, c.id_b)
       |SELECT i.id_a, i.id_b,
       |  CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i) AS jaccard_sim
       |FROM inter i
       |JOIN sizes sa ON sa.doc_id = i.id_a
       |JOIN sizes sb ON sb.doc_id = i.id_b
       |WHERE CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i) >= 0.6""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "cur1_curation_pipeline" ->
      s"""WITH scored AS (
         |  SELECT doc_id, text, lang,
         |    $qualitySql AS q,
         |    CAST(len($toksSql) AS INT) AS n_tokens
         |  FROM documents),
         |kept AS (
         |  SELECT * FROM scored WHERE lang IN ('en','de','fr') AND q >= 0.5),
         |deduped AS (
         |  SELECT min(doc_id) AS keep_id,
         |    arg_min(lang, doc_id) AS lang,
         |    arg_min(n_tokens, doc_id) AS n_tokens
         |  FROM kept GROUP BY text)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  min(keep_id) AS min_keep_id
         |FROM deduped GROUP BY lang ORDER BY lang""".stripMargin,
    "t1_text_stats" ->
      s"""SELECT doc_id,
         |  CAST(len($toksSql) AS INT) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS n_bpeish_tokens,
         |  CASE WHEN length(text) > 0
         |    THEN CAST($punctSql AS DOUBLE) / length(text) ELSE 0.0 END AS punct_ratio,
         |  CASE WHEN len($toksSql) > 0
         |    THEN CAST(len(list_filter($toksSql,
         |      t -> t IN ('the','a','of','and','to','in','is','it','for','on'))) AS DOUBLE)
         |      / len($toksSql) ELSE 0.0 END AS stopword_ratio,
         |  least(CAST(len($toksSql) AS DOUBLE) / 50.0, 1.0) * 0.4
         |    + (1.0 - least(CASE WHEN length(text) > 0
         |        THEN CAST($punctSql AS DOUBLE) / length(text) ELSE 0.0 END * 5.0, 1.0)) * 0.3
         |    + (1.0 - abs(CASE WHEN len($toksSql) > 0
         |        THEN CAST(len(list_filter($toksSql,
         |          t -> t IN ('the','a','of','and','to','in','is','it','for','on'))) AS DOUBLE)
         |          / len($toksSql) ELSE 0.0 END - 0.3)) * 0.3 AS quality_score
         |FROM documents ORDER BY doc_id""".stripMargin,

    "t2_lang_id" -> {
      def sc(lang: String): String = TextAnalysis.LangMarkers.toMap.apply(lang)
        .map(w => s"(length(p) - length(replace(p, '$w', ''))) / ${w.length}")
        .mkString(" + ")
      val langs = TextAnalysis.LangMarkers.map(_._1)
      val cases = langs.map { l =>
        val cond = langs.filterNot(_ == l).map(o => s"s_$l >= s_$o").mkString(" AND ")
        s"WHEN $cond THEN '$l'"
      }.mkString(" ")
      s"""WITH padded AS (
         |  SELECT doc_id, lang, ' ' || lower(text) || ' ' AS p FROM documents),
         |scored AS (
         |  SELECT doc_id, lang,
         |    ${langs.map(l => s"${sc(l)} AS s_$l").mkString(", ")}
         |  FROM padded)
         |SELECT doc_id, lang AS labeled_lang,
         |  CASE $cases ELSE 'de' END AS predicted_lang,
         |  s_en AS score_en, s_de AS score_de
         |FROM scored ORDER BY doc_id""".stripMargin
    },

    "x1_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,

    // x9: composite corpus + paragraph keep-first + reassembly all
    // re-derived in SQL — the window formulation here mirrors the
    // engine's min(struct(id, pos)) survivor exactly (rn = 1 under
    // ORDER BY doc_id, pos), so a wrong survivor or a mis-ordered
    // reassembly hash-fails. Fully-dropped composites vanish on both
    // sides (rn = 1 never holds for any of their paragraphs).
    "x9_paragraph_dedup" ->
      """WITH comp AS (
        |  SELECT CAST(floor(doc_id / 4) AS BIGINT) AS cid,
        |    string_agg(text, chr(10) ORDER BY doc_id) AS text
        |  FROM documents GROUP BY 1),
        |parts AS (SELECT cid, string_split(text, chr(10)) AS ps FROM comp),
        |paras AS (
        |  SELECT cid, i - 1 AS pos, ps[i] AS para
        |  FROM parts, unnest(generate_series(1, len(ps))) AS t(i)
        |  WHERE ps[i] <> ''),
        |keep AS (
        |  SELECT cid, pos, para,
        |    row_number() OVER (PARTITION BY para ORDER BY cid, pos) AS rn
        |  FROM paras)
        |SELECT cid AS doc_id, string_agg(para, chr(10) ORDER BY pos) AS text
        |FROM keep WHERE rn = 1 GROUP BY cid ORDER BY doc_id""".stripMargin,

    "cur2_curation_v2" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_filter($toksSql, t -> len(t) > 0)) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         |low_rep AS (
         |  SELECT doc_id FROM tf GROUP BY doc_id
         |  HAVING CAST(max(tf) AS DOUBLE) / sum(tf) <= 0.12),
         |bench AS (
         |  SELECT DISTINCT array_to_string(list_slice(tk, i, i + 7), ' ') AS g
         |  FROM (SELECT $toksSql AS tk FROM documents WHERE doc_id < 30),
         |    unnest(generate_series(1, greatest(len(tk) - 7, 1))) AS t(i)),
         |train AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, greatest(len($toksSql) - 7, 1)),
         |    i -> array_to_string(list_slice($toksSql, i, i + 7), ' ')))) AS g
         |  FROM documents),
         |clean AS (
         |  SELECT t.doc_id FROM train t LEFT JOIN bench b ON t.g = b.g
         |  GROUP BY t.doc_id HAVING count(b.g) = 0),
         |kept AS (
         |  SELECT d.doc_id, d.text, d.lang FROM documents d
         |  JOIN low_rep USING (doc_id) JOIN clean USING (doc_id)),
         |deduped AS (
         |  SELECT min(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang
         |  FROM kept GROUP BY text),
         |ranked AS (
         |  SELECT dd.doc_id, dd.lang,
         |    row_number() OVER (PARTITION BY dd.lang
         |      ORDER BY a.h_quota, dd.doc_id) AS rn
         |  FROM deduped dd
         |  JOIN read_parquet('__AUX__/ds_doc_hash/*.parquet') a USING (doc_id))
         |SELECT doc_id, lang FROM ranked WHERE rn <= 30
         |ORDER BY doc_id""".stripMargin,

    // t6: IDENTICAL regex text on both engines (portable Java∩RE2
    // subset); DuckDB regexp_replace needs the explicit 'g' flag to
    // match Spark's replace-all.
    "t6_pii_scrub" -> {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      s"""WITH aug AS (
         |  SELECT doc_id, text || ' contact: user' || doc_id ||
         |    '@example.com from 10.0.' || (doc_id % 256) || '.7' AS t2
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t2, '$email')) AS INT) AS n_emails,
         |  CAST(len(regexp_extract_all(t2, '$ip')) AS INT) AS n_ips,
         |  regexp_replace(regexp_replace(t2, '$email', '<EMAIL>', 'g'),
         |    '$ip', '<IP>', 'g') AS scrubbed
         |FROM aug ORDER BY doc_id""".stripMargin
    },

    "t7_repetition" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_filter($toksSql, t -> len(t) > 0)) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         |agg AS (
         |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |    count(*) AS n_distinct, CAST(max(tf) AS BIGINT) AS top_tf
         |  FROM tf GROUP BY 1)
         |SELECT doc_id, n_tokens, n_distinct, top_tf,
         |  CAST(n_tokens - n_distinct AS DOUBLE) / n_tokens AS dup_ratio,
         |  CAST(top_tf AS DOUBLE) / n_tokens AS top_ratio
         |FROM agg ORDER BY doc_id""".stripMargin,

    // dc1: grams compared as strings here vs xxhash64 longs in the
    // engine — counts agree absent a 2^-65-scale collision (x2 rationale).
    // n_hit/n_grams is exact IEEE long/long->double division, no rounding.
    "dc1_decontaminate" ->
      s"""WITH bench AS (
         |  SELECT DISTINCT array_to_string(list_slice(toks, i, i + 7), ' ') AS g
         |  FROM (SELECT $toksSql AS toks FROM documents WHERE doc_id < 30),
         |    unnest(generate_series(1, greatest(len(toks) - 7, 1))) AS t(i)),
         |train AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, greatest(len($toksSql) - 7, 1)),
         |    i -> array_to_string(list_slice($toksSql, i, i + 7), ' ')))) AS g
         |  FROM documents),
         |agg AS (
         |  SELECT t.doc_id, count(*) AS n_grams, count(b.g) AS n_hit
         |  FROM train t LEFT JOIN bench b ON t.g = b.g GROUP BY 1)
         |SELECT doc_id, n_grams, n_hit,
         |  CAST(n_hit AS DOUBLE) / n_grams AS contamination_ratio
         |FROM agg WHERE n_hit > 0 ORDER BY doc_id""".stripMargin,

    // t4/t5: ln()'s last ulp is library-dependent, so scores are rounded
    // to 6 dp on BOTH sides and ranks order by the ROUNDED value with a
    // deterministic tie-break. Double constants that the engine computes
    // (k1+1, 1-b) are written as the same ARITHMETIC in SQL — IEEE +/-
    // are exactly specified, literals like 2.2 need not parse to the
    // computed sum's bits.
    "t4_tfidf" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_filter($toksSql, t -> len(t) > 0)) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         |dft AS (SELECT term, count(*) AS df_t FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.term, tf.tf, dft.df_t,
         |    round(tf.tf * (ln((n.n_docs + 1.0) / (dft.df_t + 1.0)) + 1.0), 6) AS tfidf
         |  FROM tf JOIN dft USING (term) CROSS JOIN n),
         |ranked AS (
         |  SELECT doc_id, term, tf, df_t, tfidf,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY tfidf DESC, term ASC) AS rank
         |  FROM scored)
         |SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, df_t, tfidf
         |FROM ranked WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,

    "t5_bm25" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_filter($toksSql, t -> len(t) > 0)) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         |corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
         |matched AS (SELECT * FROM tf
         |  WHERE term IN ('data', 'join', 'vector', 'scan', 'window')),
         |dft AS (SELECT term, count(*) AS df_t FROM matched GROUP BY 1),
         |contrib AS (
         |  SELECT m.doc_id,
         |    ln(1.0 + (c.n_docs - d.df_t + 0.5) / (d.df_t + 0.5))
         |      * (m.tf * (1.2 + 1.0))
         |      / (m.tf + 1.2 * ((1.0 - 0.75) + 0.75 * l.dl / c.avgdl)) AS cc
         |  FROM matched m JOIN dft d USING (term) JOIN dl l USING (doc_id)
         |  CROSS JOIN corpus c),
         |scores AS (SELECT doc_id, round(sum(cc), 6) AS score
         |  FROM contrib GROUP BY 1),
         |ranked AS (SELECT doc_id, score,
         |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
         |  FROM scores)
         |SELECT CAST(rank AS INT) AS rank, doc_id, score
         |FROM ranked WHERE rank <= 20 ORDER BY rank""".stripMargin,

    // t3: rolling polynomial fold over Spark-dumped token hashes (see
    // OracleAux — the hash import; the ordered fold is cross-checked).
    "t3_fingerprint" ->
      """WITH h AS (
        |  SELECT doc_id, pos, h FROM read_parquet('__AUX__/t3_token_h32/*.parquet')),
        |fp AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list(h ORDER BY pos)),
        |      (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
        |  FROM h GROUP BY doc_id)
        |SELECT d.doc_id AS doc_id, COALESCE(f.fingerprint, 0) AS fingerprint
        |FROM documents d LEFT JOIN fp f ON f.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // x3: full minhash→band→bucket-join→jaccard-verify pipeline in
    // DuckDB over Spark-dumped shingle hashes — the 128-lane family,
    // 16×8 banding, candidate join, and threshold all cross-checked.
    "x3_minhash_lsh" -> s"$minhashPairsSql\nORDER BY id_a, id_b",

    // t11: the same dirty construction, the same fix tables (SQL
    // generated from them), DuckDB's own replace/regexp/trim chain.
    "t11_text_clean" -> {
      val dirtySql = "replace(replace(replace(text, 'table', 'tÃ¡ble'), " +
        "'query', 'â€œquery'), 'the', 'thÃ©') || " + sqlLit(DirtyTail)
      s"""WITH d AS (SELECT doc_id, $dirtySql AS dirty FROM documents)
         |SELECT doc_id, $cleanTextSql AS cleaned,
         |  CAST(length(dirty) AS INT) AS n_before,
         |  CAST(length($cleanTextSql) AS INT) AS n_after
         |FROM d ORDER BY doc_id""".stripMargin
    },

    // x13: same banded candidates (aux gram hashes -> lanes -> bands),
    // verified by DuckDB's own levenshtein over the same capped text.
    "x13_edit_distance" ->
      s"""WITH $corpusSql,
         |h32 AS (
         |  SELECT doc_id, h FROM read_parquet('__AUX__/x3_gram_h32/*.parquet')),
         |sigs AS (SELECT doc_id, $minhashLanesSql FROM h32 GROUP BY doc_id),
         |banded AS ($minhashBandedSql),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |t AS (SELECT doc_id, substr(text, 1, 2000) AS t FROM corpus)
         |SELECT c.id_a, c.id_b,
         |  CAST(levenshtein(ta.t, tb.t) AS INT) AS edit_dist
         |FROM cand c
         |JOIN t ta ON ta.doc_id = c.id_a
         |JOIN t tb ON tb.doc_id = c.id_b
         |WHERE levenshtein(ta.t, tb.t) <= 24
         |ORDER BY id_a, id_b""".stripMargin,

    // x6: connected components over the x3 pair list — the oracle closes
    // the SAME pairs transitively (recursive CTE; labels = min reachable
    // id), so a wrong/unconverged Spark label propagation hash-fails.
    "x6_dup_clusters" -> dupClustersSql,

    // x8: the SAME transitive closure gates the alternating
    // large-star/small-star implementation — one oracle, two engine
    // algorithms, both hash-pinned to identical clusters.
    "x8_dup_clusters_star" -> dupClustersSql,


    // x10: the x6 transitive closure + the t1 quality formula + a
    // keep-best window all re-derived in SQL — the engine's
    // max(struct(q, -id)) argmax is pinned to rn=1 under
    // (q DESC, doc_id ASC), so a wrong tie-break, a wrong member
    // count, or a quality drift all hash-fail.
    "x10_cluster_keep_best" ->
      s"""WITH RECURSIVE pairs AS ($minhashPairsSql),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b AS src, id_a AS dst FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
         |clusters AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
         |corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id,
         |    array_to_string(list_slice($toksSql, 1, len($toksSql) - 1), ' ') || ' graftdup' AS text
         |  FROM documents),
         |quality AS (SELECT doc_id, $qualitySql AS q FROM corpus),
         |ranked AS (
         |  SELECT c.cluster_id, c.doc_id, q.q,
         |    row_number() OVER (PARTITION BY c.cluster_id
         |      ORDER BY q.q DESC, c.doc_id ASC) AS rn,
         |    count(*) OVER (PARTITION BY c.cluster_id) AS n_members
         |  FROM clusters c JOIN quality q USING (doc_id))
         |SELECT cluster_id, doc_id AS keep_id, q AS quality_score,
         |  CAST(n_members AS BIGINT) AS n_members
         |FROM ranked WHERE rn = 1 ORDER BY cluster_id""".stripMargin,

    // x11/x12/x14 share ONE derivation (see crossDedupRosterSql): x11 is
    // the recompute path, x12 pins store-roundtrip ≡ recompute, x14 pins
    // half-store merge ≡ rebuild — contract-identical rosters by design,
    // so a cross-pair-filter or tie-break change lands in all three.
    "x11_cross_dedup" -> crossDedupRosterSql,
    "x12_incremental_dedup" -> crossDedupRosterSql,
    "x14_store_merge_dedup" -> crossDedupRosterSql,

    // x4: 64-bit simhash bit votes, 7-band blocking, hamming verify in
    // DuckDB over Spark-dumped token hashes.
    "x4_simhash" -> {
      val votes = (0 until 64).map(i =>
        s"sum((((h >> $i) & 1) * 2) - 1) AS v$i").mkString(", ")
      val sig = (0 until 64).map { i =>
        val bit = if (i == 63) "(-9223372036854775807 - 1)" else (1L << i).toString
        s"CASE WHEN v$i > 0 THEN $bit ELSE 0 END"
      }.mkString(" + ")
      val bandsSql = graft.operators.Dedup.bandLayout(7).zipWithIndex.map {
        case ((shift, width), b) =>
          s"SELECT doc_id, sh, $b AS band, (sh >> $shift) & ${(1L << width) - 1} AS bucket FROM sigs"
      }.mkString(" UNION ALL ")
      s"""WITH h AS (
         |  SELECT doc_id, h FROM read_parquet('__AUX__/x4_token_h64/*.parquet')),
         |votes AS (SELECT doc_id, $votes FROM h GROUP BY doc_id),
         |sigs0 AS (SELECT doc_id, CAST($sig AS BIGINT) AS sh FROM votes),
         |sigs AS (
         |  SELECT doc_id, sh FROM (
         |    SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS __sg
         |    FROM sigs0) WHERE __sg <= $MaxBucket),
         |banded AS ($bandsSql)
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
         |FROM banded a JOIN banded b
         |  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sh, b.sh)) <= 6
         |ORDER BY id_a, id_b""".stripMargin
    },

    // ck1: chunk geometry AND text re-derived in SQL — window starts
    // from a stepped range, slices and the single-space re-join verbatim.
    // The range stops at len(tk) - overlap so a window fully contained
    // in its predecessor is never emitted (mirrors chunkTokens' bound).
    "ck1_doc_chunking" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $toksSql AS tk FROM documents
         |  WHERE trim(text) <> '')
         |SELECT doc_id,
         |  CAST(s / 48 AS INT) AS chunk_idx,
         |  CAST(s AS INT) AS start_tok,
         |  CAST(len(list_slice(tk, s + 1, least(s + 64, len(tk)))) AS INT) AS n_toks,
         |  array_to_string(list_slice(tk, s + 1, least(s + 64, len(tk))), ' ') AS chunk_text
         |FROM toks, UNNEST(range(0, greatest(1, len(tk) - 16), 48)) AS t(s)
         |ORDER BY doc_id, chunk_idx""".stripMargin,

    // cur3: the substring-cut decision table — span coverage re-derived
    // from the x7 aux, token budgets from DuckDB's own tokenization of
    // the same corpus construction, the 80% drop rule in exact integer
    // arithmetic.
    "cur3_substring_cut" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id,
         |    array_to_string(list_slice($toksSql, 1, len($toksSql) - 1), ' ')
         |      || ' graftdup' AS text
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, pos, gh
         |  FROM read_parquet('__AUX__/x7_gram_pos/*.parquet')),
         |dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) > 1),
         |p AS (SELECT doc_id, pos FROM g JOIN dup USING (gh)),
         |marked AS (
         |  SELECT doc_id, pos,
         |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
         |      THEN 0 ELSE 1 END AS new_span
         |  FROM p),
         |spans0 AS (
         |  SELECT doc_id, pos,
         |    sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
         |  FROM marked),
         |spans AS (
         |  SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
         |  FROM spans0 GROUP BY doc_id, span_id),
         |cover AS (
         |  SELECT doc_id, count(*) AS n_spans,
         |    CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens
         |  FROM spans GROUP BY doc_id),
         |toks AS (
         |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens FROM corpus)
         |SELECT t.doc_id, t.n_tokens,
         |  COALESCE(c.n_spans, 0) AS n_spans,
         |  COALESCE(c.dup_tokens, 0) AS dup_tokens,
         |  t.n_tokens - COALESCE(c.dup_tokens, 0) AS retained_tokens,
         |  (COALESCE(c.dup_tokens, 0) * 5 >= t.n_tokens * 4) AS drop_doc
         |FROM toks t LEFT JOIN cover c USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // x7: duplicated-substring spans recomputed from Spark-dumped
    // positional gram hashes — gram multiplicity, the duplicated set,
    // the gap/island span merge, and the per-span aggregates are all
    // re-derived in SQL (only the xxhash64 primitive is imported).
    "x7_substring_dedup" ->
      """WITH g AS (
        |  SELECT doc_id, pos, gh
        |  FROM read_parquet('__AUX__/x7_gram_pos/*.parquet')),
        |dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) > 1),
        |p AS (SELECT doc_id, pos FROM g JOIN dup USING (gh)),
        |marked AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
        |      THEN 0 ELSE 1 END AS new_span
        |  FROM p),
        |spans AS (
        |  SELECT doc_id, pos,
        |    sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
        |  FROM marked)
        |SELECT doc_id, CAST(span_id AS BIGINT) AS span_id,
        |  min(pos) AS start_pos, max(pos) + 7 AS end_pos,
        |  count(*) AS n_dup_grams
        |FROM spans GROUP BY doc_id, span_id
        |ORDER BY doc_id, span_id""".stripMargin,

    "x2_ngram_jaccard" ->
      s"""WITH $corpusSql
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CASE WHEN len(list_distinct(list_concat(a.g, b.g))) > 0
         |    THEN CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
         |         / len(list_distinct(list_concat(a.g, b.g)))
         |    ELSE 0.0 END AS jaccard_sim
         |FROM keyed a JOIN keyed b
         |  ON a.prefix = b.prefix AND a.n_grams = b.n_grams
         | AND a.doc_id < b.doc_id
         |WHERE CASE WHEN len(list_distinct(list_concat(a.g, b.g))) > 0
         |    THEN CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
         |         / len(list_distinct(list_concat(a.g, b.g)))
         |    ELSE 0.0 END >= 0.6
         |ORDER BY id_a, id_b""".stripMargin
  )
}
