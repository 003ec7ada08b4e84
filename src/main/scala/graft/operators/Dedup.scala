package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expressions.EditDistance
import graft.functions.TextAnalysis

/** Deduplication suite for training-data curation: exact, n-gram Jaccard,
  * MinHash+LSH, SimHash, and embedding-cosine near-dup.
  *
  * Scale design: every near-dup variant is CANDIDATE-GENERATION +
  * VERIFY — candidates come from equality joins on compact block keys
  * (LSH band buckets, simhash bands, blocking keys), never from an
  * unbounded cross join, so the shuffle volume is O(candidates), not
  * O(n²). Verification (exact Jaccard / hamming / cosine) runs only on
  * candidate pairs. This is the standard shingle→minhash→band→bucket-join
  * construction (Broder; Mining of Massive Datasets ch.3).
  */
object Dedup {

  /** Raised when a components pass exhausts its iteration budget without
    * reaching the verified fixpoint. A dedicated type (round-14 advice):
    * [[clusters]]' shallow→star rescue dispatches on it, and matching by
    * exception TYPE means rewording the message can never silently
    * disable the fallback. Extends IllegalStateException so existing
    * callers catching the broader type keep working. */
  final class ComponentsDidNotConverge(msg: String)
      extends IllegalStateException(msg)

  // ---- exact -------------------------------------------------------------

  /** Exact dedup on a (optionally normalized) text column: one row per
    * distinct text with the minimum id as the canonical survivor. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Ids to drop under exact dedup (everything but the canonical id). */
  def exactDropIds(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(textCol)).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1)
      .select(col(idCol).as("drop_id"), col(textCol))
  }

  /** Paragraph-level exact dedup with a global keep-first policy — the
    * sub-document dedup stage of web-scale curation pipelines (RefinedWeb
    * and MassiveText both dedup at paragraph/line granularity before
    * document-level near-dup: boilerplate — navigation text, license
    * headers, cookie banners — repeats across millions of documents that
    * are NOT document-level duplicates). Reference scope: the reference
    * engine has no sub-document dedup; this extends the x1–x8 family
    * downward one granularity level.
    *
    * Semantics: split `textCol` on `sep`, drop empty paragraphs; each
    * DISTINCT paragraph survives exactly once, at its globally first
    * occurrence (minimum (id, position), so the policy is deterministic
    * and id-stable like [[exact]]'s min-id survivor); documents are
    * reassembled from their surviving paragraphs in original order, and
    * a document whose every paragraph occurred earlier drops out (the
    * dedup-drop outcome, mirrored by the oracle).
    *
    * Scale shape — TWO exchanges, no join, no window:
    *
    *   explode → groupBy(paragraph).agg(min(struct(id, pos)))   [1 shuffle]
    *           → groupBy(id) reassemble                          [1 shuffle]
    *
    * The survivor set IS the first aggregate's output (one row per
    * distinct paragraph), so nothing joins back against the exploded
    * occurrences: shuffle volume after the first partial aggregation is
    * DISTINCT paragraphs, not occurrences. The min(struct) is map-side
    * combinable, which is the skew story: a boilerplate paragraph
    * repeated 10⁸ times combines to one row per map partition instead of
    * landing in a single reducer — the row_number()-over-paragraph
    * window formulation (the natural first draft, cf. [[exactDropIds]]
    * at document granularity) puts the whole hot key in one task and is
    * exactly what this shape avoids. Keys are full paragraph strings,
    * consistent with [[exact]]; swapping the group key for a 128-bit
    * hash pair halves shuffle width at a ~2⁻¹²⁸ false-merge risk. */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String,
                      sep: String = "\n"): DataFrame = {
    val paras = df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "para")))
      .filter(col("para") =!= "")
    val keep = paras.groupBy(col("para"))
      .agg(min(struct(col("id"), col("pos"))).as("k"))
    keep.groupBy(col("k.id").as(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("k.pos").as("pos"), col("para")))),
          p => p.getField("para")), sep).as(textCol))
  }

  // ---- pair lists -> clusters --------------------------------------------

  /** Connected components over an undirected pair list — the step that
    * turns every near-dup PAIR output above into actionable CLUSTERS
    * (keep `cluster_id == id`, drop the rest, and a dup group collapses
    * to its smallest id deterministically).
    *
    * Min-label propagation: every node starts labeled with itself; each
    * iteration every node takes the min of its own and its neighbors'
    * labels, and the loop EXITS as soon as an iteration changes no label
    * — so the result is a verified fixpoint, never a silently split
    * cluster. A graph whose diameter exceeds `maxIters` raises
    * [[ComponentsDidNotConverge]] instead of returning wrong cluster ids
    * (near-dup clusters are clique-ish, diameter 1-2, so the default
    * bound is generous; raise it for chain-shaped graphs — spec covers
    * both a converging path and a too-long chain that must throw).
    *
    * Each iteration is one shuffle join + partial-aggregated min,
    * `localCheckpoint`ed (same pattern Spark's own iterative algorithms
    * use): the truncation keeps iteration N's plan from re-embedding —
    * and re-executing — all N-1 predecessors plus the whole upstream
    * pair derivation (measured 5× the runtime on the x3 pipeline), and
    * makes the per-iteration convergence check a cheap join of two
    * materialized O(nodes) sets. Early exit means the clique-ish common
    * case runs FEWER iterations than the old fixed-count loop. The edge
    * list is checkpointed once up front for the same reason. For
    * multi-hour production jobs prefer `checkpoint()` to reliable
    * storage (an executor loss invalidates local checkpoints).
    *
    * Output: (id, cluster_id) for every id that appears in `pairs`. */
  def components(pairs: DataFrame, aCol: String, bCol: String,
                 maxIters: Int = 20): DataFrame = {
    // No distinct on the symmetrized edge list: min-label is idempotent
    // over duplicate edges (a repeated message changes no min), so the
    // dedup shuffle would buy correctness nothing — only message-volume
    // reduction, and near-dup pair producers (x2/x3/x4/x5) already emit
    // each pair once. Callers with heavily-duplicated pair lists should
    // pre-distinct to cut message volume.
    //
    // Symmetrization is an EXPLODE of both directions from one scan, not
    // a self-union: the union's two branches each re-execute the whole
    // upstream pair derivation (the near-dup LSH join — its final join
    // node is not an exchange, so ReusedExchange cannot save it), which
    // measured ~2× the pair-pipeline cost inside this checkpoint.
    //
    // The edge list is hash-partitioned on the join key (dst) BEFORE the
    // checkpoint, so that every iteration's edges⋈labels join could skip
    // the edge shuffle. It does not: under AQE (every GraftSession
    // enables it) localCheckpoint does NOT preserve outputPartitioning —
    // the checkpointed edges, and a checkpointed aggregate, eager or
    // lazy, report UnknownPartitioning(0), so a join that is not planned
    // as a broadcast re-shuffles the edge list on every iteration. Only
    // with AQE off does a lazy checkpoint keep its hash partitioning.
    // ROADMAP direction 3 (`Checkpoint.keyed`) is the planned fix.
    val edges = pairs.select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("dst"))
      .localCheckpoint()
    // Initial labels fold the first propagation hop into the node-set
    // aggregation itself: label0(v) = min(v, min(N(v))) — one groupBy
    // over the symmetric edge list (every node appears as src) instead
    // of a distinct + identity labeling. Clique-ish near-dup components
    // (the common case here) are already at their fixpoint after this,
    // so the loop runs exactly one confirming iteration. Not
    // checkpointed: iteration 1's two references re-derive it from the
    // checkpointed edges (identical agg subtrees — exchange-reused) more
    // cheaply than a dedicated materialization job.
    var labels = edges.groupBy(col("src").as("id"))
      .agg(least(first(col("src")), min(col("dst"))).as("label"))
    val labelType = labels.schema("label").dataType
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      // ONE join + ONE aggregation per iteration (the historical shape —
      // join neighbor-mins, then left-join them back onto labels — paid
      // a second shuffle join per pass for nothing): neighbor messages
      // and each node's own row union into a single min-aggregation, and
      // the previous label rides along as a message-only-null column so
      // the fixpoint test needs no extra join — min-label is monotone,
      // so "no label changed" IS the fixpoint.
      val msgs = edges.join(labels, col("dst") === col("id"))
        .select(col("src").as("id"), col("label"),
          lit(null).cast(labelType).as("__prev"))
      val self = labels.select(col("id"), col("label"),
        col("label").as("__prev"))
      // LAZY localCheckpoint + a COUNT probe: the count is the action
      // that materializes the checkpoint — one full-scan Spark job per
      // iteration where eager-checkpoint-then-isEmpty paid two (and
      // isEmpty's progressive take(1) waves would under-compute a lazy
      // checkpoint, forcing a separate backfill job for the skipped
      // partitions; a count computes every partition exactly once)
      val next = self.unionByName(msgs)
        .groupBy(col("id"))
        // max(__prev) = the unique non-null self row's previous label
        .agg(min(col("label")).as("label"), max(col("__prev")).as("__prev"))
        .localCheckpoint(false)
      converged = next.filter(col("label") =!= col("__prev")).count() == 0
      labels = next.drop("__prev")
      it += 1
    }
    if (!converged) throw new ComponentsDidNotConverge(
      s"components: min-label propagation did not converge in $maxIters " +
        "iterations — the pair graph has a component with diameter > " +
        s"$maxIters; raise maxIters (labels are monotone, extra iterations " +
        "only add passes)")
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** Caller-facing clustering facade over the two components
    * algorithms: the min-label path is measured ~1.6× faster on the
    * clique-ish graphs near-dup producers emit (diameter 1-2, 2
    * iterations), but needs diameter-many hops — a long transitive
    * chain blows past `maxIters` and throws; the star path is O(log n)
    * rounds at ANY diameter but pays two phases + a verified
    * set-equality per round. So the facade runs [[components]] for at
    * most [[MinLabelFallbackIters]] rounds and falls back to
    * [[componentsAlternating]] when the graph turns out deeper. A caller
    * that knows its graph is deep (transitive chains, entity-resolution
    * edges) calls [[componentsAlternating]] directly.
    *
    * Both produce the identical (id, cluster_id = component minimum)
    * contract for every id in `pairs` — hash-interchangeable, so the
    * fallback costs time, never correctness. */
  def clusters(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    try components(pairs, aCol, bCol, maxIters = MinLabelFallbackIters)
    catch {
      case _: ComponentsDidNotConverge =>
        // the shallow assumption was wrong — rescue with the O(log n)-
        // round star path instead of failing the job. The wasted budget
        // is bounded: MinLabelFallbackIters min-label rounds (~budget ×
        // the per-round cost) plus one upstream re-derivation. Dispatch
        // is on the dedicated exception TYPE (round-14 advice) — a
        // reworded message cannot silently disable the rescue.
        componentsAlternating(pairs, aCol, bCol)
    }

  /** Min-label iteration budget before [[clusters]] falls back to the
    * star path. Pinned from tools/ChainProbe,
    * deleted after 17eacc8 (10⁶
    * edges, quiet box): min-label wins at diameter ≤ 7 (4.4–7.6 s vs
    * star's 6.6–10.5 s — star pays ~13–15 s of fixed O(log n)-round
    * cost at this scale regardless of diameter), star wins from
    * diameter ~31 (13.2 s vs 22.4 s) and is 5× ahead by 127 (15.2 s vs
    * 78.3 s). Min-label costs ~0.6 s/round here, so a budget of 8
    * wastes at most ~5 s before the rescue — less than one star run —
    * while clique-ish near-dup graphs (diameter 1–2, every committed
    * gate) converge in 2–3 rounds and never see the fallback. */
  val MinLabelFallbackIters = 8

  /** Connected components by ALTERNATING large-star/small-star (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC '14) —
    * the scale path for HIGH-DIAMETER pair graphs, where [[components]]'
    * per-hop min-label propagation needs diameter-many rounds: star
    * operations hook whole subtrees onto their minimum in one step, so
    * the round count is O(log n) REGARDLESS of diameter (a 10⁶-node
    * chain converges in ~20 rounds, not 10⁶). Near-dup graphs from the
    * x2–x5 producers are clique-ish (diameter 1–2) and converge in 2–3
    * rounds under either algorithm; prefer THIS one when the edge list
    * is not known to be shallow — transitive near-dup chains at corpus
    * scale are exactly where diameter explodes.
    *
    * Each round is two phases over a CANONICAL (big → small) directed
    * edge set, each phase one partial-aggregated min + one shuffle join
    * (no collect_list — a hub node's neighborhood never materializes in
    * one task):
    *
    *  - large-star: every node hooks its LARGER neighbors onto the
    *    minimum of its closed neighborhood;
    *  - small-star: every node hooks its smaller neighbors (and itself)
    *    onto that neighborhood's minimum.
    *
    * Both preserve connectivity and strictly shrink potential; the
    * fixpoint is a star forest rooted at component minima. Convergence
    * is verified (edge set unchanged: same count, empty difference), so
    * the result is never a silently split cluster — mirroring
    * [[components]]' verified-fixpoint contract.
    *
    * Output contract matches [[components]] exactly: (id, cluster_id)
    * for every id in `pairs`, cluster_id = component minimum — the two
    * are interchangeable, hash-identically, in every gate. */
  def componentsAlternating(pairs: DataFrame, aCol: String, bCol: String,
                            maxRounds: Int = 40): DataFrame = {
    // the RAW pair list is checkpointed once up front so the (often
    // expensive — in x8 it is the whole minhash-LSH pipeline) upstream
    // derivation executes exactly once: both the canonical edge set and
    // the FINAL node set derive from it. The node set cannot come from
    // the canonical edges — canonicalization drops self-pairs, whose
    // ids the every-id-in-pairs output contract must keep — and
    // deriving it from `pairs` at the end re-ran the whole upstream a
    // second time (round-12 advice; the ~2× re-execution the
    // [[components]] comment documents avoiding).
    val raw = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
      .localCheckpoint()
    var edges = raw
      .select(greatest(col("a"), col("b")).as("src"),
        least(col("a"), col("b")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint()
    // one count() job per frame, not per use: edges' count is re-read as
    // the previous round's denominator, and isEmpty on a just-counted
    // frame is the count (r20: componentsAlternating paid an extra
    // edges.count() job per round re-counting the PREVIOUS round's
    // materialized checkpoint)
    var edgeCount = edges.count()
    var converged = edgeCount == 0 // a self-pairs-only input is already done
    var round = 0
    while (!converged && round < maxRounds) {
      // large-star over the SYMMETRIC view: m(u) = min(N(u) ∪ {u});
      // every neighbor v > u re-hooks to m(u). Canonical input means
      // both directions come from one explode of one scan.
      val sym = edges.select(explode(array(
          struct(col("src").as("u"), col("dst").as("v")),
          struct(col("dst").as("u"), col("src").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
      val lsMins = sym.groupBy(col("u"))
        .agg(least(min(col("v")), col("u")).as("m"))
      val ls = sym.join(lsMins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("src"), col("m").as("dst"))
        .distinct()
      // small-star on the (big → small) output: m(u) = min of u's
      // smaller neighbors; u and every other small neighbor hook to it.
      val ssMins = ls.groupBy(col("src").as("u")).agg(min(col("dst")).as("m"))
      val hooked = ls.join(ssMins, col("src") === col("u"))
        .filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
      val next = hooked
        .unionByName(ssMins.select(col("u").as("src"), col("m").as("dst")))
        .distinct()
        .localCheckpoint(false) // lazy: the count below materializes it
      // verified fixpoint: equal cardinality + empty one-way difference
      // over DISTINCT sets ⇒ set equality (the except only runs on
      // count-equal rounds — usually just the final one)
      val nextCount = next.count()
      converged = nextCount == edgeCount && next.exceptAll(edges).isEmpty
      edges = next
      edgeCount = nextCount
      round += 1
    }
    if (!converged) throw new ComponentsDidNotConverge(
      s"componentsAlternating: star alternation did not converge in " +
        s"$maxRounds rounds — rounds are O(log n), so this indicates a " +
        "pathological input (or raise maxRounds; star ops are idempotent " +
        "at the fixpoint, extra rounds only add passes)")
    // star forest: src → root. Roots label themselves; nodes that only
    // ever appeared in self-pairs (src == dst in the raw input) were
    // dropped from `edges` and are re-added as their own singleton
    // cluster, preserving the every-id-in-pairs output contract.
    val nodes = raw.select(explode(array(col("a"), col("b"))).as("id")).distinct()
    nodes.join(edges, nodes("id") === edges("src"), "left")
      .select(nodes("id"), coalesce(col("dst"), nodes("id")).as("cluster_id"))
  }

  /** Quality-aware survivor per dup cluster — the keep policy downstream
    * of [[components]]/[[clusters]]: production dedup keeps the BEST
    * document of each near-dup group, not the arbitrary min-id one (the
    * highest-quality copy of a template page is the one worth training
    * on). Ties break to the minimum id, so the policy degrades to the
    * [[exact]]-style deterministic min-id survivor when scores tie.
    *
    * Input: `clusters` = (idCol, clusterCol) from a components pass;
    * `scored` = (scoredIdCol, scoreCol) per-document scores (any source —
    * `TextAnalysis.qualityScore`, a classifier, perplexity). Output:
    * (clusterCol, keep_id, quality_score, n_members), one row per
    * cluster.
    *
    * Scale shape: one equi-join (both sides id-partitioned corpus-scale
    * frames — sort-merge, no broadcast assumption) + ONE map-side-
    * combinable aggregate: argmax is max(struct(score, -id)), so a
    * 10⁶-member mega-cluster combines per map partition instead of
    * collecting member lists — no collect_list, no window over the
    * cluster key. The argmax encoding negates the id, so ids must be
    * numeric (every producer in this suite emits long ids); for string
    * keys, map to a dense long first ([[graft.operators.Warehouse]]'s
    * surrogate keys). */
  def clusterRepresentatives(clusters: DataFrame, idCol: String, clusterCol: String,
                             scored: DataFrame, scoredIdCol: String,
                             scoreCol: String): DataFrame = {
    // The argmax encoding negates the id (scaladoc contract): enforce the
    // numeric-id requirement as a clear error instead of the opaque
    // analysis-time cast failure a string-id frame would otherwise hit.
    // Long.MinValue is excluded because -Long.MinValue overflows to
    // itself, which would silently invert that one id's tie-break.
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val idType = clusters.schema(idCol).dataType
    require(Set[org.apache.spark.sql.types.DataType](
      ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"clusterRepresentatives: id column '$idCol' must be an integral type " +
        s"(the min-id tie-break negates it); got $idType — map string keys " +
        "to a dense long first (Warehouse surrogate keys)")
    clusters.select(col(idCol), col(clusterCol))
      .join(scored.select(col(scoredIdCol).as(idCol), col(scoreCol).as("__q")), idCol)
      .groupBy(col(clusterCol))
      .agg(max(struct(col("__q").as("q"), (-col(idCol)).as("negid"))).as("best"),
        count(lit(1)).as("n_members"))
      .select(col(clusterCol), (-col("best.negid")).as("keep_id"),
        col("best.q").as("quality_score"), col("n_members"))
  }

  // ---- n-gram Jaccard ----------------------------------------------------

  /** Distinct word n-gram shingles of a text column.
    *
    * PERF NOTE: this Column form inlines the tokenizer INSIDE the
    * `transform` lambda, and Spark performs no subexpression elimination
    * across lambda elements — the tokenizer re-runs once per shingle
    * (~50× per doc; measured 3× on the whole x3 pipeline). Fine for
    * one-off expressions; every DataFrame pipeline below materializes
    * the token array first (see [[tokenized]]) and shingles from the
    * attribute via [[shinglesFromTokens]]. */
  def shingles(c: Column, n: Int): Column =
    shinglesFromTokens(TextAnalysis.tokens(c), n)

  /** Shingles from a token-array column — pass a MATERIALIZED attribute
    * (not an inline tokenizer expression) so the per-element `slice`
    * reads a per-row value instead of re-deriving the array. */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    array_distinct(
      transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))

  /** (id, __toks) with the token array materialized behind a projection
    * boundary. CollapseProject keeps the boundary (the alias is non-cheap
    * and multiply-referenced), so downstream shingle/prefix lambdas
    * evaluate the tokenizer exactly once per row.
    *
    * The input is [[graft.core.Fanout.spread]] first: tokenize + shingle
    * + hash is the dominant per-row cost of every dedup operator, and it
    * runs in the scan stage — a narrow input (one parquet split) would
    * serialize it on one core (r20 QueryProbe: ~1 s single-task stages in
    * every x-gate at sf0.1). No-op at corpus scale by construction. */
  private[graft] def tokenized(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.core.Fanout.spread(df, col(idCol))
      .select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("__toks"))

  /** Jaccard similarity of two shingle arrays. */
  def jaccard(a: Column, b: Column): Column =
    when(size(array_union(a, b)) > 0,
      size(array_intersect(a, b)).cast("double") / size(array_union(a, b)))
      .otherwise(lit(0.0))

  /** n-gram Jaccard near-dup pairs with equality blocking: candidates are
    * pairs sharing (2-token prefix, shingle-count) — a cheap, deterministic
    * block key that keeps candidate volume near-linear; then exact Jaccard
    * filters at `threshold`. Output: (id_a, id_b, jaccard_sim), id_a<id_b.
    *
    * SKEW GUARD: the block key is data-dependent — a corpus where many
    * documents open with the same two tokens ("the company …") makes one
    * block quadratic. Blocks larger than `maxBlockSize` are therefore
    * routed through MinHash banding *within the block*: candidates must
    * share (block key, band, bucket), so an s-row hot block contributes
    * O(s·collisions) candidate rows instead of s²/2, at the standard LSH
    * recall for sub-threshold-similarity pairs (a pair at `threshold`
    * jaccard is found with prob 1-(1-t^r)^b; near-identical pairs with
    * prob ≈1). Blocks at or under the cap keep exact within-block recall.
    * For unbounded corpora prefer [[minhashLshPairs]] — the documented
    * default near-dup path — whose banding bounds candidates with no
    * data-dependent key at all.
    *
    * MEGA-CLUSTER GUARD (r15): within-block banding cannot split
    * IDENTICAL documents — B copies share every minhash lane, so each
    * band's bucket still holds the whole cluster and the skew path
    * degrades back to B²/2 (measured: a 5,000-copy cluster put the
    * banded path at 148 s on a corpus the exact path covers in 4 s).
    * `maxBucketSize` wholesale-drops oversized (block, band, bucket)
    * groups — the x3-family rule, valid here because bucket keys live
    * in the open 2^64 hash space where occupancy is collision-driven,
    * not corpus-driven (contrast [[simhashPairs]]' fixed band space,
    * which needs the full-signature form). Oversized groups are
    * exact-dup clusters owned by the O(B) hash-groupBy pass. Only the
    * skew path is affected; capped blocks keep exact recall. Default
    * unbounded.
    *
    * Design note — the classic alternative is an inverted index (explode
    * gram→id postings, self-join on gram, count overlaps). Measured on
    * this corpus it is 5× SLOWER: a small token vocabulary makes postings
    * dense (mean df≈47 at sf0.1), and a gram shared by k docs emits
    * k(k-1)/2 join rows (~95M here). The inverted index wins only when
    * grams are selective (large vocabularies / web text with df-capping). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.5,
                        maxBlockSize: Int = 64,
                        maxBucketSize: Int = Int.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // shingles carried as xxhash64 longs: the candidate join shuffles
    // ~3 KB/doc instead of ~20 KB of strings, and the verify intersects
    // compare longs. Collision probability across a corpus's gram
    // vocabulary is ~|V|²/2^65 — immaterial to the jaccard value.
    // block size via a window count — same shuffle key as the candidate
    // self-join, so the partitioning is computed once and reused.
    val withKey = tokenized(df, idCol, textCol).select(
      col("id"),
      transform(shinglesFromTokens(col("__toks"), n), g => xxhash64(g)).as("grams"),
      concat_ws(" ", slice(col("__toks"), lit(1), lit(2))).as("prefix"))
      .withColumn("n_grams", size(col("grams")))
      .withColumn("__bc", count(lit(1)).over(
        Window.partitionBy(col("prefix"), col("n_grams"))))
    val verify = (cands: DataFrame) => cands
      .withColumn("jaccard_sim", jaccard(col("grams_a"), col("grams_b")))
      .filter(col("jaccard_sim") >= threshold)
      .select("id_a", "id_b", "jaccard_sim")

    // exact path: all-pairs within capped blocks
    // NOTE a slim-keys-first candidate join (attach arrays later) was
    // measured 2× SLOWER here: with long-hashed grams the array shuffle
    // is only ~3 KB/doc, while each extra join leg re-tokenizes the
    // corpus (no common-subexpression reuse across DataFrame branches).
    // merge hint: both sides then share one Exchange(prefix, n_grams) —
    // the same shuffle the block-count window already needs — so the
    // shingle pipeline is computed once and reused, instead of once per
    // broadcast side (see selfCandidates).
    val small = withKey.filter(col("__bc") <= maxBlockSize)
    val smallPairs = verify(
      small.select(col("id").as("id_a"), col("grams").as("grams_a"),
        col("prefix"), col("n_grams")).hint("merge")
        .join(small.select(col("id").as("id_b"), col("grams").as("grams_b"),
          col("prefix"), col("n_grams")),
          Seq("prefix", "n_grams"))
        .filter(col("id_a") < col("id_b")))

    // skew path: oversized blocks band on 32 minhash lanes (8 bands × 4);
    // candidates must agree on (block key, band, bucket) — a strict
    // subset of the block's pairs, id-only through the distinct.
    val big = withKey.filter(col("__bc") > maxBlockSize)
    val bigLanes = hashParams(32).map { case (a, b) =>
      array_min(transform(col("grams"),
        g => pmod(pmod(g, lit(4294967296L)) * a + b, lit(MinhashPrime))))
    }
    // mega-cluster guard: the count window partitions on exactly the
    // candidate join's key, so it rides the join's own exchange
    val bigCands = selfCandidates(
      bandRows(big.withColumn("sig", array(bigLanes: _*)), 8, 4,
        "prefix", "n_grams"),
      maxBucketSize, "prefix", "n_grams")
    val gramsById = withKey.select(col("id"), col("grams"))
    val bigPairs = verify(
      bigCands
        .join(gramsById.select(col("id").as("id_a"), col("grams").as("grams_a")).hint("merge"), Seq("id_a"))
        .join(gramsById.select(col("id").as("id_b"), col("grams").as("grams_b")).hint("merge"), Seq("id_b")))

    smallPairs.unionByName(bigPairs)
  }

  /** Positional k-token gram hashes: one row per gram START position —
    * (id, pos, gh). Unlike [[shinglesFromTokens]] (distinct grams, set
    * semantics for Jaccard), positions and multiplicity are KEPT: exact
    * substring matching needs to know where each gram sits. */
  private[graft] def positionalGramHashes(df: DataFrame, idCol: String,
                                          textCol: String, k: Int): DataFrame =
    tokenized(df, idCol, textCol)
      .filter(size(col("__toks")) >= k)
      .select(col("id"), posexplode(
        transform(sequence(lit(0), size(col("__toks")) - k),
          i => xxhash64(concat_ws(" ", slice(col("__toks"), i + 1, lit(k))))))
        .as(Seq("pos", "gh")))

  /** Exact duplicated-substring spans (the ExactSubstr pass of Lee et
    * al., "Deduplicating Training Data Makes Language Models Better",
    * ACL 2022): any run of ≥ `k` consecutive tokens that appears more
    * than once in the corpus — across documents OR repeated within one —
    * is reported as a span to cut, per document. The suffix-array
    * construction the paper uses is single-node; the distributed
    * re-expression is positional k-gram matching: a duplicated substring
    * of length L ≥ k is exactly a maximal run of L-k+1 consecutive
    * duplicated k-gram start positions, so marking duplicated grams and
    * merging consecutive covered positions recovers the same spans.
    *
    * Shape: ONE tokenize+explode scan to (id, pos, gh) — O(total tokens)
    * rows carrying 8-byte hashes, not text — behind a lazy
    * localCheckpoint, so the gram-count build and the probe side read
    * the materialized pass instead of re-scanning the corpus (the
    * [[minhashLshPairs]] pattern; production would use reliable
    * `checkpoint()`). Gram multiplicity via a partial-aggregated
    * groupBy(gh) (map-side combine absorbs hot grams: each map task
    * emits each gh once); duplicated positions come back via an
    * equi-join on gh (broadcast while the duplicated-gram set is small,
    * shuffle at scale — AQE skew-split handles a pathological gram that
    * dominates a corpus); span merge is a per-doc lag/running-sum
    * window — one hash exchange on id. No all-pairs step anywhere: cost
    * is O(tokens) shuffle + O(duplicated positions) window, independent
    * of how many documents share a span (the inverted-index k(k-1)/2
    * blowup in [[ngramJaccardPairs]]'s design note never appears).
    *
    * Merge rule: positions p, q (p < q) join one span iff q - p ≤ k —
    * their covered token ranges [p, p+k-1], [q, q+k-1] overlap or touch,
    * i.e. the union is gapless. Output: one row per maximal span —
    * (idCol, span_id (1-based per doc), start_pos, end_pos (inclusive
    * token indices), n_dup_grams). Downstream curation drops the span's
    * tokens (the paper's policy) or the whole document past a coverage
    * threshold. */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 8): DataFrame = {
    require(k > 0, s"duplicatedSpans: k=$k")
    import org.apache.spark.sql.expressions.Window
    val grams = positionalGramHashes(df, idCol, textCol, k)
      .localCheckpoint(false)
    val dupGh = grams.groupBy(col("gh"))
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).select("gh")
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    grams.join(dupGh, Seq("gh"))
      .withColumn("__gap", col("pos") - lag(col("pos"), 1).over(w))
      .withColumn("__new",
        when(col("__gap").isNull || col("__gap") > k, 1).otherwise(0))
      .withColumn("span_id", sum(col("__new")).over(w))
      .groupBy(col("id"), col("span_id"))
      .agg(min(col("pos")).as("start_pos"),
        (max(col("pos")) + lit(k - 1)).as("end_pos"),
        count(lit(1)).as("n_dup_grams"))
      .select(col("id").as(idCol), col("span_id"), col("start_pos"),
        col("end_pos"), col("n_dup_grams"))
  }

  /** Benchmark-contamination report: n-gram overlap between every
    * training document and a benchmark/eval set — the decontamination
    * pass a training-data pipeline runs before anything ships (the
    * GPT-3/PaLM-style n-gram membership check; n=8..13 typical).
    *
    * Scale shape: the benchmark gram set is SMALL by definition (eval
    * sets, not corpora) — its distinct gram hashes broadcast; the
    * training corpus explodes to (id, gram-hash) rows that left-join the
    * broadcast map-side and collapse in ONE map-side-combinable
    * aggregate, so the corpus never shuffles text and the only exchange
    * carries two counters per (doc, partition). For a benchmark too big
    * to broadcast, swap the broadcast join for a bloom prefilter +
    * shuffle semi-join ([[graft.operators.Integrity.fkViolationsBloom]]
    * pattern). Grams are compared as xxhash64 longs (collision odds
    * ~|V|²/2^65 — immaterial, same rationale as the jaccard paths).
    *
    * Output: (doc_id, n_grams, n_hit, contamination_ratio) per training
    * doc, ratio = n_hit/n_grams over the doc's DISTINCT grams; every doc
    * appears ([[shinglesFromTokens]] emits one short gram even for docs
    * with fewer than n tokens). */
  def contamination(docs: DataFrame, idCol: String, textCol: String,
                    bench: DataFrame, benchTextCol: String,
                    n: Int = 8): DataFrame = {
    val benchGrams = bench
      .select(explode(shingles(col(benchTextCol), n)).as("g"))
      .select(xxhash64(col("g")).as("h")).distinct()
      .withColumn("__hit", lit(1))
    val train = tokenized(docs, idCol, textCol).select(col("id"),
      explode(transform(shinglesFromTokens(col("__toks"), n),
        g => xxhash64(g))).as("h"))
    train.join(broadcast(benchGrams), Seq("h"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"), count(col("__hit")).as("n_hit"))
      .select(col("id").as("doc_id"), col("n_grams"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_grams")).as("contamination_ratio"))
  }

  // ---- MinHash + LSH -----------------------------------------------------

  /** Deterministic universal-hash family h_i(x) = (a_i·x + b_i) mod p over
    * 32-bit shingle hashes; all products stay < 2^63 (ANSI-safe). */
  private[graft] val MinhashPrime = 4294967311L // first prime > 2^32
  private[graft] def hashParams(numHashes: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(numHashes)((rnd.nextInt(Int.MaxValue).toLong + 1, rnd.nextInt(Int.MaxValue).toLong))
  }

  /** The signature aggregate: ONE Aggregator whose buffer is a primitive
    * Long array updated elementwise (sf0.1: 4.0 s warm vs 4.2 s for the
    * 128-column `min(pmod(...))` aggregate, identical signatures; that
    * variant was deleted after cf5af8c). Built only via [[minhashAgg]]. */
  private class MinhashArrayAgg(numHashes: Int, params: Array[(Long, Long)])
      extends org.apache.spark.sql.expressions.Aggregator[Long, Array[Long], Seq[Long]] {
    override def zero: Array[Long] = Array.fill(numHashes)(Long.MaxValue)
    override def reduce(buf: Array[Long], h: Long): Array[Long] = {
      var i = 0
      while (i < numHashes) {
        val v = (h * params(i)._1 + params(i)._2) % MinhashPrime
        if (v < buf(i)) buf(i) = v
        i += 1
      }
      buf
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < numHashes) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
      a
    }
    override def finish(r: Array[Long]): Seq[Long] = r.toSeq
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      MinhashArrayAgg.BufferEnc
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      MinhashArrayAgg.OutputEnc
  }

  /** JVM-wide encoder cache for [[MinhashArrayAgg]] (r20 optimization):
    * `ScalaAggregator.outputEncoder`/`inputEncoder` call these PER TASK
    * (each task deserializes its own aggregator instance), and building
    * an `ExpressionEncoder[T]()` runs Scala runtime reflection under the
    * process-global `ScalaSubtypeLock` — jstack-measured as 32 executor
    * threads BLOCKED on that monitor for ~0.5 s per task in every
    * minhash stage (the dominant fixed cost of the whole x-family at
    * small SF, and a direct scalability ceiling at any SF: the lock
    * serializes ALL concurrently-starting aggregate tasks in an
    * executor). Deriving the encoders once per JVM classload makes the
    * per-task call a field read. Same output, same types — only the
    * reflection pass is deduplicated. */
  private object MinhashArrayAgg {
    val BufferEnc: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    val OutputEnc: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** The MinHash signature aggregate over 32-bit shingle hashes: one
    * `numHashes`-lane Long array per group, map-side combinable (the
    * shuffle carries numHashes longs per doc, not shingles). Every
    * signature frame is built from this one call, with one exception:
    * the skew path of [[ngramJaccardPairs]] bands oversized blocks on 32
    * lanes built as an `array_min(transform(...))` projection over the
    * grams it already holds.
    *
    * Measured alternative (round 4, sf0.1 / 20k docs): a pure-projection
    * form — grams32 materialized, then 128 `array_min(transform(...))`
    * lanes with no explode/aggregate/exchange — is 2.1× SLOWER (3.9 s vs
    * 1.8 s, tools/X3Probe, deleted after 17eacc8): per-lane `transform`
    * allocates an array per row per lane, while this aggregator's
    * while-loop updates one buffer in place. Don't "simplify" this to
    * expressions. */
  private[graft] def minhashAgg(numHashes: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(new MinhashArrayAgg(numHashes, hashParams(numHashes).toArray))

  /** LSH banding of a signature frame (id, sig, keys…): one row per
    * (doc, band), bucket = xxhash64 of the band index and its
    * `rowsPerBand` signature lanes. Output: (id, keys…, band, bucket) —
    * ids only past this point, so the band shuffle stays narrow. */
  private def bandRows(sigs: DataFrame, bands: Int, rowsPerBand: Int,
                       keys: String*): DataFrame =
    sigs.select(col("id") +: keys.map(col) :+
        posexplode(array((0 until bands).map(b =>
          slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)): _*)): _*)
      .withColumnRenamed("pos", "band")
      .withColumn("bucket", xxhash64(col("band"), col("col").cast("string")))
      .select((("id" +: keys) :+ "band" :+ "bucket").map(col): _*)

  /** Candidate pairs (id_a, id_b), id_a < id_b, of a [[bandRows]] frame:
    * docs that share any (keys…, band, bucket), distinct.
    *
    * Bucket-size guard (r15: measured on sf1zipf — a 2,500-copy
    * exact-dup cluster put x10's unguarded gate at 137 s where the
    * guarded form matches uniform-corpus cost): a bucket of B ids emits
    * B²/2 candidates, and oversized buckets are exact-dup mega-clusters
    * by construction, owned by the O(B) x1 pass. Deterministic
    * wholesale drop; one count window over the join-key exchange the
    * self-join needs anyway — no extra corpus shuffle.
    *
    * SELF-JOIN AS SORT-MERGE, NOT BROADCAST: with a broadcast the
    * signature pipeline (scan → shingle-explode → minhash aggregate →
    * band Generate) is planned TWICE — once streamed, once under the
    * BroadcastExchange — because ReuseExchange can only unify identical
    * exchanges. Forcing shuffle-merge makes both sides the SAME
    * Exchange(hashpartitioning(band, bucket)) subtree, so the second is
    * a ReusedExchange and signatures are computed exactly once
    * (PlanSpec-asserted). Also the only shape that exists at corpus
    * scale, where the banded side cannot broadcast. */
  private def selfCandidates(banded: DataFrame, maxBucketSize: Int,
                             keys: String*): DataFrame = {
    val joinKeys = keys ++ Seq("band", "bucket")
    val guarded =
      if (maxBucketSize == Int.MaxValue) banded
      else banded.withColumn("__bs", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(joinKeys.map(col): _*)))
        .filter(col("__bs") <= maxBucketSize)
        .drop("__bs")
    def side(id: String) = guarded.select(col("id").as(id) +: joinKeys.map(col): _*)
    side("id_a").hint("merge")
      .join(side("id_b"), joinKeys)
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** LSH candidate pairs + exact-Jaccard verification: bands×rowsPerBand
    * hashes; a pair is a candidate if any band of its signatures matches
    * exactly ([[selfCandidates]]), verified at `threshold`.
    * Output: (id_a, id_b, jaccard_sim) with jaccard_sim >= threshold.
    *
    * ONE tokenize+shingle pass feeds both the signature aggregate and
    * the verify-side shingle sets — the combined [[sigGramsFrame]] is
    * materialized via a LAZY localCheckpoint, so the banded self-join
    * and the two grams attach legs all read the same computed blocks
    * instead of each re-deriving the text pipeline (tokenization is the
    * dominant CPU cost; the two-pass reference arm in test scope runs it
    * twice). grams is collect_set-deduped — [[jaccard]] is set-based, so
    * the value is unchanged (spec-asserted identical output to that
    * arm). Docs with zero shingles drop out of the exploded rows, which
    * is output-neutral: they can never be banded candidates, and grams
    * only re-attaches to candidates.
    *
    * The materialization is (id, 128 longs, distinct-gram longs) — the
    * exact state a production dedup would checkpoint; for multi-hour
    * jobs prefer `checkpoint()` to reliable storage (executor loss
    * invalidates local checkpoints). */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, bands: Int = 16, rowsPerBand: Int = 8,
                      threshold: Double = 0.5,
                      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val sigGrams = sigGramsFrame(df, idCol, textCol, n, bands * rowsPerBand)
      .localCheckpoint(false)
    val grams = sigGrams.select(col("id"), col("grams"))
    // same reuse argument for the two grams attach legs: both shuffle the
    // grams subtree by its id — one Exchange, one ReusedExchange.
    selfCandidates(bandRows(sigGrams, bands, rowsPerBand), maxBucketSize)
      .join(grams.select(col("id").as("id_a"), col("grams").as("grams_a")).hint("merge"), Seq("id_a"))
      .join(grams.select(col("id").as("id_b"), col("grams").as("grams_b")).hint("merge"), Seq("id_b"))
      .withColumn("jaccard_sim", jaccard(col("grams_a"), col("grams_b")))
      .filter(col("jaccard_sim") >= threshold)
      .select("id_a", "id_b", "jaccard_sim")
  }

  /** Character-level near-duplicate pairs: the [[minhashLshPairs]]
    * band machinery for candidate generation, but verified by
    * Levenshtein EDIT DISTANCE over the raw text instead of shingle
    * Jaccard — the modality that ranks small in-place edits (typo
    * fixes, template slot changes) by exact character cost, where
    * n-gram Jaccard only sees "most shingles shared". Reference for
    * the pattern: fuzzy URL/title matching stages in web-corpus
    * pipelines.
    *
    * Output: (id_a, id_b, edit_dist), id_a < id_b, only pairs with
    * edit_dist ≤ `maxDist` whose MinHash bands collide.
    *
    * Scale shape: candidates come from the banded sort-merge self-join
    * (never all-pairs; signatures are sig-ONLY — no gram sets, the
    * expensive half of the x3 frame, because verification reads text).
    * Verification is `graft_levenshtein`
    * ([[graft.expressions.BoundedLevenshtein]]): common prefix and
    * suffix stripped, then Ukkonen's banded DP with early exit, so a
    * pair costs O(len) plus O(maxDist·len) at most — where Spark's own
    * threshold form costs O(|a|·|b|) per pair. Texts are capped at
    * `maxLen` chars first, so the per-pair cost is bounded by
    * construction (the cap is part of the contract: two documents
    * identical in their first `maxLen` chars compare equal — pick
    * maxLen at the P99 doc length for exactness).
    * Text attaches to candidates by two id-keyed joins (ids-only band
    * join stays narrow — the x10 re-attach pattern).
    *
    * Skew guard: `maxBucketSize` drops oversized buckets wholesale
    * before the self-join ([[selfCandidates]]); run exact dedup first,
    * then near-dup with the guard on. Default unbounded (the gate arm —
    * exact over the gate corpora). */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        maxDist: Int, n: Int = 3, bands: Int = 16,
                        rowsPerBand: Int = 8, maxLen: Int = 2000,
                        maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(maxDist >= 0 && maxLen > 0 && maxBucketSize > 1,
      "editDistancePairs: bad bounds")
    // sig-ONLY frame: column pruning drops the gram sets and their h64
    // projection before the checkpoint, so it stores signatures only
    val sigs = sigGramsFrame(df, idCol, textCol, n, bands * rowsPerBand)
      .select("id", "sig").localCheckpoint(false)
    val texts = df.select(col(idCol).as("id"),
      substring(col(textCol), 1, maxLen).as("t"))
    selfCandidates(bandRows(sigs, bands, rowsPerBand), maxBucketSize)
      .join(texts.select(col("id").as("id_a"), col("t").as("t_a")).hint("merge"), Seq("id_a"))
      .join(texts.select(col("id").as("id_b"), col("t").as("t_b")).hint("merge"), Seq("id_b"))
      // -1 past maxDist
      .withColumn("edit_dist", EditDistance.column(col("t_a"), col("t_b"), maxDist))
      .filter(col("edit_dist") >= 0)
      .select("id_a", "id_b", "edit_dist")
  }

  /** Cross-corpus near-dup roster — "dedup split B against split A":
    * every `right` document whose MinHash bands collide with a `left`
    * document AND whose verified Jaccard clears `threshold` is reported
    * with its best left-side match (jaccard desc, min left id on ties —
    * deterministic). The document-level complement of gram-overlap
    * decontamination ([[contamination]]): train/eval leakage is a CROSS
    * pair problem — a self-join over the union finds the same pairs but
    * wastes the within-side candidate volume, which at corpus scale is
    * almost all of it (each split is internally near-dup-heavy AFTER its
    * own dedup pass ran; the cross join's candidate volume is only the
    * actual leakage).
    *
    * Scale shape mirrors [[minhashLshPairs]]: each side tokenizes
    * ONCE into a checkpointed (id, sig, grams) frame, the band join
    * carries ids only, gram sets attach to verified candidates, and the
    * best-match roster is one map-side-combinable max(struct) per right
    * doc — no window, no collect. Banding parameters and the hash family
    * are shared with the self-join path, so a pair scores the same
    * jaccard here as there.
    *
    * Output: (doc_id = right id, matched_doc_id = best left id,
    * jaccard_sim), one row per leaked right doc. */
  def crossDedupRoster(left: DataFrame, right: DataFrame,
                       idCol: String, textCol: String,
                       n: Int = 3, bands: Int = 16, rowsPerBand: Int = 8,
                       threshold: Double = 0.5,
                       maxBucketSize: Int = Int.MaxValue): DataFrame =
    crossRosterOf(
      sigGramsFrame(left, idCol, textCol, n, bands * rowsPerBand)
        .localCheckpoint(false),
      sigGramsFrame(right, idCol, textCol, n, bands * rowsPerBand)
        .localCheckpoint(false),
      bands, rowsPerBand, threshold, maxBucketSize)

  /** The (id, sig, grams) signature frame both near-dup families build
    * on — one tokenize+shingle pass, one map-side-combinable aggregate. */
  private[graft] def sigGramsFrame(df: DataFrame, idCol: String, textCol: String,
                            n: Int, numHashes: Int): DataFrame = {
    val rows = tokenized(df, idCol, textCol).select(col("id"),
      explode(shinglesFromTokens(col("__toks"), n)).as("g"))
      .select(col("id"), TextAnalysis.tokenHash32(col("g")).as("h32"),
        xxhash64(col("g")).as("h64"))
    rows.groupBy(col("id"))
      .agg(minhashAgg(numHashes)(col("h32")).as("sig"),
        collect_set(col("h64")).as("grams"))
  }

  /** A×B band join + verify + per-B-doc argmax over two prepared
    * (id, sig, grams) frames — the tail both [[crossDedupRoster]] and
    * [[incrementalDedupRoster]] share. */
  private def crossRosterOf(sgL: DataFrame, sgR: DataFrame, bands: Int,
                            rowsPerBand: Int, threshold: Double,
                            maxBucketSize: Int = Int.MaxValue): DataFrame = {
    // the x3-family bucket guard, CROSS form (r15): a (band, bucket)
    // key holding a left ids and b right ids emits a·b candidates, so
    // the size that matters is the COMBINED a+b membership (matching
    // the oracle's union-count semantics) — ONE map-side-combinable
    // count over the unioned SLIM (band, bucket) projections. A window
    // over the unioned full frame was measured 2.09× on the uniform
    // gate (the union doubles the rows BOTH legs' sort must carry);
    // the slim union count pays only one 16-bytes-per-banding-row
    // aggregation. The oversized key set is empty on healthy corpora
    // and at most n/cap entries adversarially, so the anti-joins below
    // resolve to broadcasts under AQE at any real scale (and AQE
    // DELETES them outright when the set is empty — PLANS.md); each
    // side keeps its own exchange exactly as unguarded. Deterministic
    // wholesale drop, same rationale as selfCandidates:
    // oversized buckets are exact-dup mega-clusters the O(B) exact
    // pass owns.
    val bandedL = bandRows(sgL, bands, rowsPerBand)
    val bandedR = bandRows(sgR, bands, rowsPerBand)
    val (guardedL, guardedR) =
      if (maxBucketSize == Int.MaxValue) (bandedL, bandedR)
      else {
        val oversized = bandedL.select("band", "bucket")
          .unionByName(bandedR.select("band", "bucket"))
          .groupBy("band", "bucket").agg(count(lit(1)).as("__c"))
          .filter(col("__c") > maxBucketSize)
          .select("band", "bucket")
        (bandedL.join(oversized, Seq("band", "bucket"), "left_anti"),
         bandedR.join(oversized, Seq("band", "bucket"), "left_anti"))
      }
    val candidates = guardedL
      .select(col("id").as("id_a"), col("band"), col("bucket"))
      .hint("merge")
      .join(guardedR
        .select(col("id").as("id_b"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select("id_a", "id_b").distinct()
    candidates
      .join(sgL.select(col("id").as("id_a"), col("grams").as("grams_a")).hint("merge"), Seq("id_a"))
      .join(sgR.select(col("id").as("id_b"), col("grams").as("grams_b")).hint("merge"), Seq("id_b"))
      .withColumn("jaccard_sim", jaccard(col("grams_a"), col("grams_b")))
      .filter(col("jaccard_sim") >= threshold)
      .groupBy(col("id_b").as("doc_id"))
      .agg(max(struct(col("jaccard_sim").as("j"), (-col("id_a")).as("nega"))).as("best"))
      .select(col("doc_id"), (-col("best.nega")).as("matched_doc_id"),
        col("best.j").as("jaccard_sim"))
  }

  // ---- incremental dedup against a persisted signature store -------------

  /** Persistable MinHash signature store of a corpus: (id, sig, grams,
    * n, bands, rows_per_band) — the frame a production pipeline writes
    * ONCE per corpus (partition by id range, parquet) so that nightly
    * crawl batches dedup against it WITHOUT recomputing a single old
    * signature. The banding parameters ride as constant columns (RLE —
    * bytes on disk) because they determine the hash family: a roster
    * built against a store with different parameters would be silently
    * meaningless, so [[incrementalDedupRoster]] re-derives nothing and
    * fails loudly on a mismatch instead.
    *
    * Store cost is O(corpus): 128 longs + distinct-gram hashes per doc.
    * At 100 TB the store is the cheap half of the exchange — the text
    * itself never needs to be read again. */
  def signatureStore(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 3, bands: Int = 16,
                     rowsPerBand: Int = 8): DataFrame =
    sigGramsFrame(df, idCol, textCol, n, bands * rowsPerBand)
      .withColumn("n", lit(n))
      .withColumn("bands", lit(bands))
      .withColumn("rows_per_band", lit(rowsPerBand))

  /** Dedup a DELTA batch against a persisted [[signatureStore]]: every
    * delta doc whose bands collide with a store doc and whose verified
    * Jaccard clears `threshold` is reported with its best store match —
    * [[crossDedupRoster]] semantics (jaccard desc, min store id on
    * ties), but the store side arrives PRECOMPUTED: the A-side cost of
    * the nightly run is a parquet scan of signatures, not a re-shingle
    * of the historical corpus. Spec-pinned: identical output to
    * crossDedupRoster over (store corpus, delta).
    *
    * The parameter check is in-plan (a `when`/`raise_error` lane over
    * the RLE constant columns — free on a healthy store, loud on a
    * mismatched one). */
  def incrementalDedupRoster(delta: DataFrame, store: DataFrame,
                             idCol: String, textCol: String,
                             n: Int = 3, bands: Int = 16,
                             rowsPerBand: Int = 8,
                             threshold: Double = 0.5,
                             maxBucketSize: Int = Int.MaxValue): DataFrame =
    incrementalDedupRosterPrepared(
      sigGramsFrame(delta, idCol, textCol, n, bands * rowsPerBand)
        .localCheckpoint(false),
      store, n, bands, rowsPerBand, threshold, maxBucketSize)

  /** [[incrementalDedupRoster]] over an ALREADY-PREPARED delta signature
    * frame (a [[sigGramsFrame]] output, typically a lazy localCheckpoint
    * the caller materialized concurrently with the store build — guide
    * §2.6 overlap; the x12/x14 gates do exactly that). Same output, same
    * parameter guard — only who computes the delta signatures moved. */
  private[graft] def incrementalDedupRosterPrepared(
      deltaSig: DataFrame, store: DataFrame,
      n: Int, bands: Int, rowsPerBand: Int,
      threshold: Double, maxBucketSize: Int): DataFrame = {
    val checked = store.select(
      when(col("n") === n && col("bands") === bands &&
          col("rows_per_band") === rowsPerBand, col("id"))
        .otherwise(raise_error(concat(
          lit(s"incrementalDedupRoster: store was built with (n, bands, " +
            s"rows_per_band) = ("), col("n"), lit(", "), col("bands"),
          lit(", "), col("rows_per_band"),
          lit(s") but the query asked for ($n, $bands, $rowsPerBand) — " +
            "signatures are not comparable across parameterizations"))))
        .as("id"),
      col("sig"), col("grams"))
    crossRosterOf(checked, deltaSig,
      bands, rowsPerBand, threshold, maxBucketSize)
  }

  /** Fold a delta batch's [[signatureStore]] frame into an existing
    * store — store MAINTENANCE without touching old rows' derivation.
    * The id sets must be disjoint (the incremental contract: the delta
    * is new docs only — run [[incrementalDedupRoster]] first and drop
    * or re-key matches); a duplicate id or a parameter mismatch fails
    * the job loudly rather than corrupting the store silently
    * ([[graft.operators.Lm.mergeIndexes]] convention). One exchange on
    * id; the parameter guard is a broadcast 1-row aggregate. */
  def mergeSignatureStore(store: DataFrame, delta: DataFrame): DataFrame = {
    val union = store.unionByName(delta)
    val guard = union.select(
      count_distinct(struct(col("n"), col("bands"), col("rows_per_band")))
        .as("__nparams"))
    union.crossJoin(broadcast(guard))
      // the guard gates the GROUP KEY (a dedicated flag column would be
      // pruned away — nothing downstream would read it)
      .select(
        when(col("__nparams") === 1, col("id"))
          .otherwise(raise_error(
            lit("mergeSignatureStore: inputs carry different banding " +
              "parameters — their signatures are not comparable")))
          .as("id"),
        col("sig"), col("grams"), col("n"), col("bands"),
        col("rows_per_band"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("__dup"),
        first(col("sig")).as("sig"), first(col("grams")).as("grams"),
        first(col("n")).as("n"), first(col("bands")).as("bands"),
        first(col("rows_per_band")).as("rows_per_band"))
      .select(
        when(col("__dup") === 1, col("id"))
          .otherwise(raise_error(concat(
            lit("mergeSignatureStore: id "), col("id").cast("string"),
            lit(" exists in both inputs — the delta must be new docs only"))))
          .as("id"),
        col("sig"), col("grams"), col("n"), col("bands"),
        col("rows_per_band"))
  }

  // ---- SimHash -----------------------------------------------------------

  /** Band boundaries distributing 64 signature bits as evenly as possible
    * over `bands` bands: (shift, width) per band — e.g. 4 bands → 4×16. */
  private[graft] def bandLayout(bands: Int): Seq[(Int, Int)] = {
    val widths = (0 until bands).map(b => 64 / bands + (if (b < 64 % bands) 1 else 0))
    widths.scanLeft(0)(_ + _).zip(widths)
  }

  /** The engine's one SimHash: a 64-bit signature per id over full
    * xxhash64 whitespace-token hashes, where bit i is set when the signed
    * vote sum over tokens (bit set → +1, clear → -1) is positive. All 64
    * bits carry signal (round 1 used 32-bit token hashes — a collision
    * floor at billions of docs; xxhash64 pushes the birthday bound to
    * ~2^32 distinct tokens). One pass: explode token hashes, aggregate
    * the 64 bit-votes in a single hash aggregate (map-side combinable),
    * then assemble the signature — tokenizing once, not once per bit as
    * a per-row Column form would. Output: (id, sh). */
  def simhashes(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // fan a narrow scan out before tokenize + 64 bit-vote lanes per
    // token — no-op at scale (Fanout, r20)
    val hashRows = graft.core.Fanout.spread(df, col(idCol))
      .select(col(idCol).as("id"),
        explode(transform(TextAnalysis.tokens(col(textCol)),
          t => xxhash64(t))).as("h"))
    val votes = (0 until 64).map(i =>
      sum(shiftright(col("h"), i).bitwiseAND(1) * 2 - 1).as(s"v$i"))
    hashRows.groupBy(col("id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("id"),
        (0 until 64).map(i =>
          when(col(s"v$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b)).as("sh"))
  }

  /** SimHash near-dup pairs: block on `bands` bit-bands of the 64-bit
    * signature, verify with bit_count(xor) ≤ maxHamming.
    *
    * Pigeonhole: a pair within hamming distance ≤ bands-1 MUST agree on
    * at least one whole band, so for maxHamming < bands recall is EXACT —
    * the default (4 bands × 16 bits, maxHamming 3) is the Manku/WWW'07
    * configuration. Larger maxHamming with few bands is best-effort;
    * more bands guarantee recall but narrow the bands (band width is the
    * candidate-volume knob: w-bit bands collide ~n²/2^w+1 pairs — at
    * corpus scale keep bands ≤ maxHamming+1 and widths ≥ 9 bits).
    *
    * Skew guard — keyed on the FULL signature, NOT the band bucket: B
    * identical documents produce B IDENTICAL 64-bit signatures, so
    * every band puts the whole cluster in one bucket — B²/2 join rows
    * per band that the hamming filter (xor = 0) then keeps, a quadratic
    * term no band knob can cut because identical inputs collide under
    * every hash. `maxSigGroup` drops documents in oversized
    * IDENTICAL-`sh` groups wholesale before banding: unrelated docs
    * collide on all 64 bits at ~n²/2⁶⁵, so an oversized group is an
    * exact/near-exact-dup cluster by construction, owned by the O(B)
    * hash-groupBy pass — run exact dedup first and the guard never
    * fires. A per-BAND bucket cap would be wrong here (the x3-family
    * rule does NOT transfer): band keys live in a FIXED 2^w space, so
    * bucket occupancy grows linearly with the corpus and is skewed by
    * corpus-wide vote correlation — capping it drops REAL pairs
    * (measured: 141 of 1,297 gate pairs at sf0.01 under a 64 cap).
    * Band-bucket volume n²/2^{w+1} is the documented width trade, not a
    * skew anomaly. Pigeonhole recall is exact among surviving docs.
    * Default unbounded. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, bands: Int = 4,
                   maxSigGroup: Int = Int.MaxValue): DataFrame = {
    val sigsAll = simhashes(df, idCol, textCol)
    // a map-side-combinable count per sh over the CHECKPOINTED (id, sh)
    // frame (two longs per doc — the lazy localCheckpoint is the same
    // pattern as minhashLshPairs's (sig, grams) frame), then
    // anti-join the (tiny, empty-on-healthy-corpora) oversized key set
    // back. NOT a window over sh — that was measured 1.63× on the
    // uniform gate (a full exchange+sort of every row between the vote
    // aggregation and banding); and without the checkpoint the two
    // aggregate consumers each recompute the tokenize+vote pipeline.
    // The anti-join resolves to a broadcast under AQE.
    val sigs =
      if (maxSigGroup == Int.MaxValue) sigsAll
      else {
        val ck = sigsAll.localCheckpoint(false)
        ck.join(
          ck.groupBy("sh").agg(count(lit(1)).as("__sg"))
            .filter(col("__sg") > maxSigGroup).select("sh"),
          Seq("sh"), "left_anti")
      }
    val layout = bandLayout(bands)
    val banded = sigs.select(col("id"), col("sh"),
      posexplode(array(layout.map { case (shift, width) =>
        shiftrightunsigned(col("sh"), shift).bitwiseAND((1L << width) - 1)
      }: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val a = banded.select(col("id").as("id_a"), col("sh").as("sh_a"), col("band"), col("bucket"))
    val b = banded.select(col("id").as("id_b"), col("sh").as("sh_b"), col("band"), col("bucket"))
    // hamming filter BEFORE distinct: bit_count is a per-row bit op, so
    // filtering first shrinks the dedup shuffle to the near-dup pairs
    // instead of every band collision.
    // merge hint: identical-exchange self-join so the simhash aggregate
    // is computed once and reused (see selfCandidates).
    a.hint("merge").join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming").distinct()
  }

  // ---- embedding cosine near-dup ----------------------------------------

  /** Dedicated plane-table id for the hot-bucket refinement stage of
    * [[embeddingCosinePairs]] — far outside any multi-table LSH range so
    * the refine planes are independent of every table-0..T candidate
    * signature a caller composes with. */
  val RefineTable = 1000003

  /** Embedding near-dup pairs above a cosine threshold. Candidates via
    * random-hyperplane LSH buckets (see [[Similarity.hyperplaneSignature]])
    * keep this off the O(n²) path; verification is exact double cosine.
    *
    * Skew guard — TWO stages, because hyperplane buckets overfill in two
    * distinct ways that the minhash wholesale-drop rule must not
    * conflate: (1) a DENSE-but-diverse region (an embedding-space
    * "topic") legitimately overfills its cell — those rows are REFINED
    * with `refinePlanes` additional hyperplanes from an independent
    * plane table (candidates must then agree on (bucket, sub): the
    * standard multiplicative LSH recall trade, paid only inside hot
    * cells); (2) a cluster of IDENTICAL vectors shares every signature
    * under EVERY plane set — refinement cannot split it, so a
    * (bucket, sub) group still over `maxBucketSize` after refinement is
    * dropped wholesale: byte-identical embeddings are exact dups owned
    * by the O(B) hash-groupBy pass, the same ownership rule as the
    * minhash family's band guard. Both stages count via slim
    * map-side-combinable aggregates joined back (broadcast under AQE —
    * the key sets are empty on healthy corpora, ≤ n/cap adversarially),
    * so no vector row ever crosses a guard exchange. Default
    * unbounded. */
  def embeddingCosinePairs(df: DataFrame, idCol: String, vecCol: String,
                           threshold: Double = 0.95, planes: Int = 12,
                           maxBucketSize: Int = Int.MaxValue,
                           refinePlanes: Int = 12): DataFrame = {
    // fan a narrow scan out before the per-vector signature + norm
    // arithmetic — no-op at scale (Fanout, r20)
    val sigs0 = graft.core.Fanout.spread(df, col(idCol))
      .select(col(idCol).as("id"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .withColumn("bucket", Similarity.hyperplaneSignature(col("v"), planes))
      .withColumn("nv", Similarity.norm(col("v")))
    // both guard stages count via map-side-combinable aggregates and
    // attach the (tiny, empty-on-healthy-corpora) hot/oversized key
    // sets back by joins that AQE resolves to broadcasts — NOT count
    // windows, which were measured 1.30× on the uniform gate because
    // they push every full vector row through an exchange+sort twice
    // before the self-join even starts. The signature frame is lazily
    // checkpointed once (the guard's multiple consumers would otherwise
    // each re-scan the corpus and recompute signatures — measured WORSE
    // than the windows, 2.4×); the self-join below reuses its leg
    // exchange exactly as unguarded.
    val sigs =
      if (maxBucketSize == Int.MaxValue) sigs0.withColumn("sub", lit(0L))
      else {
        val ck = sigs0.localCheckpoint(false)
        val hot = ck.groupBy("bucket").agg(count(lit(1)).as("__bs"))
          .filter(col("__bs") > maxBucketSize)
          .select(col("bucket"), lit(true).as("__hot"))
        // +1 keeps the refined sub-key space disjoint from the
        // unrefined rows' constant 0
        val withSub = ck.join(hot, Seq("bucket"), "left")
          .withColumn("sub", when(col("__hot").isNull, lit(0L))
            .otherwise(Similarity.hyperplaneSignature(
              col("v"), refinePlanes, RefineTable) + lit(1L)))
          .drop("__hot")
        val oversized = withSub.groupBy("bucket", "sub")
          .agg(count(lit(1)).as("__bs2"))
          .filter(col("__bs2") > maxBucketSize)
          .select("bucket", "sub")
        withSub.join(oversized, Seq("bucket", "sub"), "left_anti")
      }
    val a = sigs.select(col("id").as("id_a"), col("v").as("v_a"),
      col("nv").as("n_a"), col("bucket"), col("sub"))
    val b = sigs.select(col("id").as("id_b"), col("v").as("v_b"),
      col("nv").as("n_b"), col("bucket"), col("sub"))
    // merge hint, same rationale as selfCandidates: the corpus-vs-corpus
    // self-join must never broadcast (AQE would at toy scale), and as a
    // sort-merge both sides are the identical Exchange(bucket) subtree —
    // the scan + signature projection runs once, ReusedExchange second leg.
    a.hint("merge").join(b, Seq("bucket", "sub"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine_sim",
        Similarity.cosinePrenormed(col("v_a"), col("v_b"), col("n_a"), col("n_b")))
      .filter(col("cosine_sim") >= threshold)
      .select("id_a", "id_b", "cosine_sim")
  }

  // ---- semantic dedup (SemDeDup shape) -----------------------------------

  /** Semantic dedup à la SemDeDup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the corpus with a coarse quantizer, score cosine pairs only
    * WITHIN each cluster, and keep one representative per near-dup
    * neighborhood. Complements [[embeddingCosinePairs]]: hyperplane
    * buckets catch literal near-copies (cos ≥ 0.98); centroid clusters
    * catch looser semantic redundancy at lower thresholds, where a
    * single 12-plane bucket would split most true pairs.
    *
    * Keep rule (deterministic, local, SQL-expressible): an id is DROPPED
    * iff ANY smaller id in its cluster has cosine ≥ `threshold` with it.
    * This is NOT greedy keep-first selection: on a transitive chain
    * a<b<c with a~b and b~c but a!~c, greedy keep-first would retain c
    * (its near-dup b was itself dropped), whereas this rule drops c too.
    * The any-smaller-near-dup rule is what stays transitive-closure-free
    * — one self-join, no iteration — which is why it's the shape that
    * survives a SQL oracle and a 100 TB corpus; it over-drops relative
    * to greedy selection exactly on such chains. (For transitive-chain
    * semantics, feed the ≥-threshold pairs to [[components]] and
    * keep each component's minimum — that's the iterative operator's
    * job, not this one's.)
    *
    * Scale design: assignment is [[Ivf.assign]]'s map-side
    * nearest-centroid kernel projection (no quantizer join, corpus
    * never shuffles for it); the within-cluster self-join is a
    * SORT-MERGE on cluster_id where both legs read the identical assign
    * exchange (ReusedExchange — the assign projection runs once); cost
    * is Σ|cluster|², WHICH IS THE
    * PUBLISHED METHOD'S CONTRACT: C grows with the corpus so n/C stays
    * bounded (SemDeDup uses ~100k clusters at web scale), making the
    * per-cluster quadratic a constant-size unit of work. The `c`
    * parameter is that knob; the default matches the oracle-gated toy
    * quantizer. Output: (vec_id, cluster_id, kept) — the full roster,
    * so a gate hash-checks every keep/drop decision.
    *
    * Exact-duplicate pre-collapse (`collapseIdentical`, on by default):
    * the Σ|cluster|² contract assumes clusters track data DENSITY, but
    * B byte-identical embeddings land in ONE cluster regardless of C —
    * a B²/2 pair term no cluster-count knob can cut, the same cliff the
    * near-dup band guards close. Identical vectors are all mutual
    * cosine-1 dups, so the rule is EXACTLY semantics-preserving: each
    * identical group's min id stands in for the group in the pair join
    * (any smaller-id near-dup some member has, the rep has at the same
    * cosine — identical inputs), and every non-rep is dropped
    * unconditionally (its rep IS a smaller-id near-dup). Detection is
    * hash-prefiltered so healthy corpora pay only a column-pruned scan
    * and a slim map-side-combinable count: rows whose xxhash64(v) group
    * is singleton skip the collapse entirely; only actual-duplicate
    * rows reach the exact group-by-vector rep aggregation (hash
    * collisions between distinct vectors are harmless — they merely
    * route both through the exact stage). Auto-disabled when
    * `threshold` is within 1e-9 of 1.0, where cosine(v, v)'s float
    * round-off (dot/(sqrt·sqrt) ∈ 1 ± 4ε) could make the original rule
    * keep an identical twin the collapse would drop. Zero-norm vectors
    * are likewise exempt (r15 advice): cosinePrenormed defines
    * cosine = 0.0 when either norm is 0, so the pair rule keeps
    * identical zero-vector twins (0.0 < threshold) and the collapse
    * must not drop them — they bypass the rep substitution and the
    * pair stage decides as before. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double = 0.9, c: Int = 16,
                    stride: Long = 7L,
                    collapseIdentical: Boolean = true): DataFrame = {
    val cents = Ivf.seedCentroids(df, idCol, vecCol, c, stride)
    val assigned0 = Ivf.assign(df, idCol, vecCol, cents)
    val withRep =
      if (!collapseIdentical || threshold > 1.0 - 1e-9)
        assigned0.withColumn("__rep", col("id"))
      else {
        // the raw frame mirrors assign's v derivation exactly so the
        // rep join key below matches byte-for-byte
        val raw = df.filter(col(idCol).isNotNull)
          .select(col(idCol).as("id"),
            Similarity.toDouble(col(vecCol)).as("v"))
          .withColumn("__h", xxhash64(col("v")))
        val dupH = raw.groupBy("__h").agg(count(lit(1)).as("__c"))
          .filter(col("__c") > 1).select("__h")
        val repOfDups = raw.join(dupH, Seq("__h"))
          .groupBy(col("v")).agg(min(col("id")).as("__rep"))
        // zero-norm twins are EXEMPT from the collapse (r15 advice):
        // cosinePrenormed yields 0.0 when a norm is 0, so the original
        // pair rule KEEPS identical zero-vector twins (0.0 < threshold)
        // — collapsing them would silently change behavior for
        // degenerate-but-real inputs (zero embeddings from empty or
        // fully-padded docs). Gating on nv > 0 routes those rows through
        // the pair stage, where the original rule decides as before.
        assigned0.join(repOfDups, Seq("v"), "left")
          .withColumn("__rep",
            when(col("nv") > 0, coalesce(col("__rep"), col("id")))
              .otherwise(col("id")))
      }
    val assigned = withRep.repartition(col("cluster_id"))
    val reps = assigned.filter(col("id") === col("__rep"))
    val a = reps.select(col("id").as("id_a"), col("v").as("v_a"),
      col("nv").as("n_a"), col("cluster_id"))
    val b = reps.select(col("id").as("id_b"), col("v").as("v_b"),
      col("nv").as("n_b"), col("cluster_id"))
    // merge hint + explicit cluster_id repartition: same rationale as
    // embeddingCosinePairs — corpus-vs-corpus must never broadcast, and
    // identical exchange subtrees make the second leg a ReusedExchange
    val drops = a.hint("merge").join(b, Seq("cluster_id"))
      .filter(col("id_a") < col("id_b"))
      .filter(Similarity.cosinePrenormed(
        col("v_a"), col("v_b"), col("n_a"), col("n_b")) >= threshold)
      .select(col("id_b").as("id")).distinct()
    assigned.select(col("id"), col("cluster_id"), col("__rep"))
      .join(drops.withColumn("__dropped", lit(true)), Seq("id"), "left")
      .select(col("id").as(idCol), col("cluster_id"),
        (col("__dropped").isNull && col("id") === col("__rep")).as("kept"))
  }
}
