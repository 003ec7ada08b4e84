package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.sources.{Readers, Writers}
import graft.operators.{Dedup, Multimodal, Similarity}

/** Embedding-similarity + multimodal coverage. Vector math is mirrored in
  * DuckDB with explicit index-ordered folds (list_zip + list_sum) and the
  * engine's fixed hyperplane literals are code-generated into the oracle
  * SQL, so even the LSH bucket assignment is cross-checked. */
object SimilarityQueries {

  private val QueryIds: Seq[Long] = Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L)

  /** embeddings ∪ perturbed copy (vec_id+100000, +0.01 per component in
    * double domain) — guarantees cosine-near-dups at every SF. */
  private def nearDupEmbeddings(s: SparkSession, d: String): DataFrame = {
    val base = embeddings(s, d).select(col("vec_id"),
      Similarity.toDouble(col("embedding")).as("embedding"))
    val pert = embeddings(s, d).select(
      (col("vec_id") + 100000L).as("vec_id"),
      transform(Similarity.toDouble(col("embedding")), x => x + lit(0.01)).as("embedding"))
    base.unionByName(pert)
  }

  /** documents restricted to ASCII-only text (octet_length == char
    * length ⇔ every char is 1-byte UTF-8). The m3/m4 gates compare
    * BYTE-level engine output against a CHARACTER-level DuckDB oracle
    * (`unicode(text[i:i])`): the two agree exactly on ASCII and drift on
    * any multi-byte character (shifted indices, codepoints > 255), so
    * both sides filter to ASCII rows — making the parity data-proof
    * instead of a latent corpus assumption. */
  private def asciiDocuments(s: SparkSession, d: String): DataFrame =
    documents(s, d).filter(octet_length(col("text")) === length(col("text")))

  /** The oracle-side mirror of [[asciiDocuments]]'s predicate. */
  private val AsciiWhere = "octet_length(encode(text)) = length(text)"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact cosine top-k for 8 query vectors (brute force baseline;
    // corpus never shuffles — query side broadcast).
    "y1_ann_bruteforce" -> { (s, d) =>
      Similarity.bruteForceTopK(embeddings(s, d), "vec_id", "embedding", QueryIds, k = 10)
        .withColumn("cosine_sim", round(col("cosine_sim"), 6))
        .orderBy(col("query_id"), col("rank"))
    },

    // LSH-bucketed ANN (scale path; rows-only check + recall spec).
    "y2_ann_lsh" -> { (s, d) =>
      // planes scale with the corpus (same planesFor policy as y3), and
      // the signature folds into bucketsFor(n) buckets so the REALIZED
      // average bucket is targetBucket at any SF — not the power-of-two
      // band (r19 verdict #3). At the oracle's sf0.01 (500 vectors) the
      // knobs are 4 planes and B=16=2^4: the fold is the identity the
      // SQL mirror embeds.
      val e = embeddings(s, d)
      val n = e.count()
      val p = Similarity.planesFor(n, targetBucket = 32)
      Similarity.lshTopK(e, "vec_id", "embedding", QueryIds,
        k = 10, planes = p, tables = 8,
        buckets = Similarity.bucketsFor(n, targetBucket = 32, planes = p))
        .withColumn("cosine_sim", round(col("cosine_sim"), 6))
        .orderBy(col("query_id"), col("rank"))
    },

    // KNN graph: top-k neighbors for EVERY vector — nothing broadcasts,
    // banded sort-merge self-join with a deterministic hub-bucket cap.
    "y3_knn_graph" -> { (s, d) =>
      // planes scale with the corpus (planesFor), and the signature
      // folds into bucketsFor(n) buckets so average bucket size is
      // EXACTLY targetBucket at any SF — the 10× candidate step then
      // reads ~10× instead of riding planesFor's ceil-to-power-of-two
      // oscillation (r19 verdict #3: 13.64× measured at sf1→sf10 was
      // avg-bucket 24.4→30.5 on top of the 10× data). The count is a
      // contract-bounded metadata scan (parquet row counts), not a data
      // collect. At the oracle's sf0.01 (500 vectors) the knobs are 4
      // planes, B=16=2^4 — the fold is the identity the SQL mirror
      // embeds.
      val e = embeddings(s, d)
      val n = e.count()
      val p = Similarity.planesFor(n, targetBucket = 32)
      Similarity.knnGraph(e, "vec_id", "embedding",
        k = 5, planes = p, tables = 4, maxBucketSize = 64,
        buckets = Similarity.bucketsFor(n, targetBucket = 32, planes = p))
        .withColumn("cosine_sim", round(col("cosine_sim"), 6))
        .orderBy(col("query_id"), col("rank"))
    },

    // IVF ANN: modulo-spread seed quantizer, map-side assignment,
    // nprobe inverted lists per query, exact cosine within candidates.
    "y4_ann_ivf" -> { (s, d) =>
      graft.operators.Ivf.ivfTopK(embeddings(s, d), "vec_id", "embedding",
        QueryIds, k = 10, c = 16, nprobe = 4, lloydIters = 0, stride = 7L)
        .withColumn("cosine_sim", round(col("cosine_sim"), 6))
        .orderBy(col("query_id"), col("rank"))
    },

    // y8: FILTERED vector search — the defining production vector-store
    // feature: top-k restricted to corpus rows satisfying a metadata
    // predicate, served from ONE index built over the full corpus
    // (centroids and query probing are filter-independent; the predicate
    // lands on the candidate scan, so assignment is never recomputed per
    // filter). Composition of the existing pieces: assign the filtered
    // corpus against the full-corpus centroids, probe as usual.
    "y8_ann_filtered" -> { (s, d) =>
      import graft.operators.Ivf
      val emb = embeddings(s, d)
      val cents = Ivf.seedCentroids(emb, "vec_id", "embedding", c = 16, stride = 7L)
      val candidates = Ivf.assign(emb.filter(col("label").isin(1, 3)),
        "vec_id", "embedding", cents)
      Ivf.ivfTopKFromStore(candidates, cents,
        emb.filter(col("vec_id").isin(QueryIds: _*)),
        "vec_id", "embedding", k = 10, nprobe = 4)
        .withColumn("cosine_sim", round(col("cosine_sim"), 6))
        .orderBy(col("query_id"), col("rank"))
    },

    // y7: the incremental ANN serving path — corpus assignment AND the
    // quantizer round-trip through a persisted parquet store (write +
    // read-back inside the gate, store IO included), then the query
    // batch probes the store without re-assigning a single vector.
    // Result contract == y4, oracle == y4's SQL: the gate pins
    // store-roundtrip ≡ recompute (the x12 pattern on the vector side).
    "y7_ann_ivf_store" -> { (s, d) =>
      import graft.operators.Ivf
      val emb = embeddings(s, d)
      val cents = Ivf.seedCentroids(emb, "vec_id", "embedding", 16, 7L)
      val dir = StoreDirs.fresh("y7_store", d)
      // the two store writes share no state — overlap them (guide §2.6)
      graft.core.Overlap.par(
        Writers.parquetStore(Ivf.assign(emb, "vec_id", "embedding", cents), dir + "/assigned"),
        Writers.parquet(Ivf.centroidsAsDf(s, cents), dir + "/centroids"))
      Ivf.ivfTopKFromStore(
        Readers.parquet(s, dir + "/assigned"),
        Ivf.centroidsFromDf(Readers.parquet(s, dir + "/centroids")),
        emb.filter(col("vec_id").isin(QueryIds: _*)), "vec_id", "embedding",
        k = 10, nprobe = 4)
        .withColumn("cosine_sim", round(col("cosine_sim"), 6))
        .orderBy(col("query_id"), col("rank"))
    },

    // y9: ANN store MAINTENANCE — build an assignment store from half
    // the corpus, persist it, fold the other half in as a delta batch
    // via mergeAssignmentStore (merge ≡ rebuild, the x12 pattern on the
    // vector side), and query the merged store. The quantizer is seeded
    // from the FULL corpus and shared by both halves (the store
    // contract: one quantizer, many ingest batches), so the merged
    // store must be indistinguishable from assigning the whole corpus
    // at once — the oracle IS y4's SQL.
    "y9_ann_store_merge" -> { (s, d) =>
      import graft.operators.Ivf
      val emb = embeddings(s, d)
      val cents = Ivf.seedCentroids(emb, "vec_id", "embedding", 16, 7L)
      val dir = StoreDirs.fresh("y9_store", d)
      // half-store + centroid writes are independent — overlap (§2.6);
      // the delta assignment below must still read the PERSISTED
      // centroids (the store-lifecycle contract), so it stays sequential
      graft.core.Overlap.par(
        Writers.parquetStore(Ivf.assign(emb.filter(col("vec_id") % 2 === 0),
          "vec_id", "embedding", cents), dir + "/assigned"),
        Writers.parquet(Ivf.centroidsAsDf(s, cents), dir + "/centroids"))
      val storedCents = Ivf.centroidsFromDf(Readers.parquet(s, dir + "/centroids"))
      val delta = Ivf.assign(emb.filter(col("vec_id") % 2 =!= 0),
        "vec_id", "embedding", storedCents)
      val merged = Ivf.mergeAssignmentStore(
        Readers.parquet(s, dir + "/assigned"), delta)
      Ivf.ivfTopKFromStore(merged, storedCents,
        emb.filter(col("vec_id").isin(QueryIds: _*)), "vec_id", "embedding",
        k = 10, nprobe = 4)
        .withColumn("cosine_sim", round(col("cosine_sim"), 6))
        .orderBy(col("query_id"), col("rank"))
    },

    // PQ/ADC ANN: seeded product codebooks, map-side encode, per-query
    // lookup tables, compressed-domain scoring (codes only in the scan).
    "y5_ann_pq" -> { (s, d) =>
      graft.operators.Pq.adcTopK(embeddings(s, d), "vec_id", "embedding",
        QueryIds, k = 10, m = 8, ks = 16, stride = 7L)
        .orderBy(col("query_id"), col("rank"))
    },

    // IVF-PQ composition (FAISS IVFPQ shape): coarse quantizer bounds
    // WHICH rows are scored, PQ codes bound what each row carries —
    // the scan emits (id, cluster, codes), never a vector.
    "y6_ann_ivfpq" -> { (s, d) =>
      graft.operators.IvfPq.ivfPqTopK(embeddings(s, d), "vec_id", "embedding",
        QueryIds, k = 10, c = 16, nprobe = 4, m = 8, ks = 16, stride = 7L)
        .orderBy(col("query_id"), col("rank"))
    },

    // embedding-cosine near-dup pairs via hyperplane-LSH candidates.
    // planes scale with the (doubled) corpus so Σ bucket² stays
    // n·targetBucket at any SF; the count is 2× the metadata-only
    // embeddings row count (nearDupEmbeddings unions each vector with a
    // shifted twin). sf0.01: planesFor(1000) = the 5 planes the oracle
    // embeds.
    "x5_embedding_near_dup" -> { (s, d) =>
      val n = 2L * embeddings(s, d).count()
      val p = Similarity.planesFor(n, targetBucket = 32)
      Dedup.embeddingCosinePairs(nearDupEmbeddings(s, d), "vec_id", "embedding",
        threshold = 0.98, planes = p,
        maxBucketSize = TextQueries.MaxBucket, refinePlanes = p)
        .withColumn("cosine_sim", round(col("cosine_sim"), 6))
        .orderBy(col("id_a"), col("id_b"))
    },

    // semantic dedup (SemDeDup shape): coarse-centroid clusters bound
    // the pair space, within-cluster cosine drops all but the smallest
    // id of each near-dup neighborhood; full keep/drop roster gated.
    // Centroid count scales with the corpus (centroidsFor: expected
    // cluster size ~64 at any SF — the SemDeDup contract itself), so the
    // per-cluster quadratic term stays a constant-size unit of work.
    // sf0.01: centroidsFor(1000) = exactly the 16 seeds the oracle's
    // LIMIT 16 mirrors.
    "sd1_semantic_dedup" -> { (s, d) =>
      val n = 2L * embeddings(s, d).count()
      Dedup.semanticDedup(nearDupEmbeddings(s, d), "vec_id", "embedding",
        threshold = 0.95, c = graft.operators.Ivf.centroidsFor(n), stride = 7L)
        .orderBy(col("vec_id"))
    },

    // multimodal: THE generic dispatching decode surface (r17 verdict
    // #7) exercised on BOTH of its legs through one call: the txt
    // fallback (byte-level stand-in over the raw payload — the
    // documented plumbing contract for codecs this container lacks) and
    // a REAL javax.imageio PNG round trip (encodeGrayPng payloads
    // re-wrapped as media frames with meta.format="png"; lossless gray
    // means the decoded raster bytes ARE the first 64 source bytes, so
    // the SQL oracle checks an actual codec decode, including the full
    // rolling checksum, from the original text). ASCII-filtered for the
    // same reason as m3/m4: the oracle reads bytes as codepoints.
    "m1_multimodal_decode" -> { (s, d) =>
      val media = Multimodal.fromDocuments(asciiDocuments(s, d))
      val png = Multimodal.encodeGrayPng(media)
        .select(col("media_id"), col("png").as("media"),
          struct(lit("png").as("format"),
            octet_length(col("png")).as("n_bytes"),
            lit(1).as("channels")).as("meta"))
      Multimodal.decodeFeatures(media.unionByName(png))
        .orderBy(col("media_id"), col("format"))
    },

    // multimodal: frame sampling over the binary payload.
    "m2_frame_sample" -> { (s, d) =>
      Multimodal.sampleFrames(Multimodal.fromDocuments(documents(s, d)),
        frameSize = 256, every = 2)
        .orderBy(col("media_id"), col("frame_idx"))
    },

    // multimodal: overlapping audio frame windows (STFT shape) with
    // content boundary bytes from the binary payload.
    "m3_audio_windows" -> { (s, d) =>
      Multimodal.audioWindows(Multimodal.fromDocuments(asciiDocuments(s, d)),
        winSize = 400, hop = 160)
        .orderBy(col("media_id"), col("window_idx"))
    },

    // multimodal: REAL codec round trip — javax.imageio PNG encode of
    // the first 64 payload bytes as an 8x8 grayscale raster, then a
    // real ImageIO decode back to pixel stats. Lossless gray PNG means
    // the decoded pixels ARE the source bytes, so the oracle can verify
    // an actual codec path from the original text.
    "m4_image_decode" -> { (s, d) =>
      Multimodal.decodeImageFeatures(
        Multimodal.encodeGrayPng(Multimodal.fromDocuments(asciiDocuments(s, d))))
        .orderBy(col("media_id"))
    },

    // multimodal: SECOND real codec — JPEG (lossy). Encodes the first 64
    // payload bytes as an 8x8 gray JPEG at pinned quality, then a real
    // ImageIO decode back to pixel stats. Lossy DCT pixel values are not
    // SQL-reproducible, so the gate follows the sk1 sketch pattern: the
    // engine emits the REAL decoded dims (oracle compares against the
    // raster contract 8x8) plus invariants AS BOOLEANS the oracle mirrors
    // with literal TRUEs — container integrity (SOI/EOI markers, computed
    // in the decode kernel itself) and DC closeness (|decoded mean −
    // source byte mean| ≤ 1.0; the JPEG DC coefficient IS the 8x8 block
    // mean, quantized with step ~2 at quality 0.95 — measured max
    // deviation 0.27 across sf0.01/0.1/1, so the bound has ~4x margin
    // while a broken codec path, wrong quality, or byte misalignment
    // flips it). A drifted decode hash-mismatches against the TRUEs.
    // ASCII filter: the oracle recomputes the source mean from text
    // codepoints, so codepoints must equal payload bytes (as in m3/m4).
    // Exact per-pixel round-trip invariants stay spec-side
    // (MultimodalSpec); raw pixel stats remain visible via m4 (lossless).
    "m5_image_decode_jpeg" -> { (s, d) =>
      val media = Multimodal.fromDocuments(asciiDocuments(s, d))
      val decoded = Multimodal.decodeImageFeatures(
        Multimodal.encodeGrayJpeg(media), payloadCol = "jpeg", markers = true)
      // source-side expectation: mean of the first 64 payload bytes via
      // the same substring->hex->conv byte extraction the m3 gate uses
      val srcMean = (1 to 64).map(i =>
        conv(hex(substring(col("media"), i, 1)), 16, 10).cast("double"))
        .reduce(_ + _) / 64.0
      val src = media.filter(octet_length(col("media")) >= 64)
        .select(col("media_id"), srcMean.as("__src_mean"))
      decoded.join(src, Seq("media_id"))
        .select(col("media_id"), col("width"), col("height"),
          col("soi_eoi_ok"),
          (abs(col("mean_px") - col("__src_mean")) <= 1.0).as("mean_close"))
        .orderBy(col("media_id"))
    },

    // multimodal: FOURTH real codec — BMP (lossless like PNG: the raster
    // bytes land verbatim, palette-indexed, in the file). Same 8x8 gray
    // round trip as m4 through a genuinely different container/writer,
    // so the oracle verifies the full encode->decode path from the
    // original text bytes. Retires the synthetic stand-in kernel as the
    // only image path beyond PNG/JPEG.
    "m7_image_decode_bmp" -> { (s, d) =>
      Multimodal.decodeImageFeatures(
        Multimodal.encodeGrayBmp(Multimodal.fromDocuments(asciiDocuments(s, d))),
        payloadCol = "bmp")
        .orderBy(col("media_id"))
    },

    // multimodal: THIRD real codec — WAV (javax.sound.sampled). Encodes
    // the first 128 payload bytes as 64 little-endian PCM16 samples in a
    // real RIFF/WAVE container, then a real AudioSystem decode back to
    // sample stats. PCM is lossless, so — like m4 and unlike m5 — the
    // oracle verifies the whole codec round trip from the original text
    // bytes (ASCII-filtered: oracle reads codepoints, engine bytes).
    "m6_audio_decode_wav" -> { (s, d) =>
      Multimodal.decodeWavFeatures(
        Multimodal.encodeWav(Multimodal.fromDocuments(asciiDocuments(s, d)),
          nSamples = 64))
        .orderBy(col("media_id"))
    }
  )

  // ---- oracle ------------------------------------------------------------

  /** Index-ordered double dot product in DuckDB. */
  private def sqlDot(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), p -> p[1] * p[2]))"

  private def sqlNorm(a: String): String =
    s"sqrt(list_sum(list_transform($a, x -> x * x)))"

  private def sqlCosine(a: String, b: String): String =
    s"""CASE WHEN ${sqlNorm(a)} * ${sqlNorm(b)} > 0
       | THEN ${sqlDot(a, b)} / (${sqlNorm(a)} * ${sqlNorm(b)}) ELSE 0.0 END""".stripMargin

  /** The engine's fixed hyperplanes, embedded as SQL array literals. */
  private def sqlSignature(v: String, planes: Int, table: Int = 0): String =
    Similarity.planeLiterals(planes, 64, table).zipWithIndex.map { case (p, i) =>
      val lits = p.mkString("[", ", ", "]")
      s"CASE WHEN ${sqlDot(v, s"CAST($lits AS DOUBLE[])")} > 0 THEN ${1L << i} ELSE 0 END"
    }.mkString("(", " + ", ")")

  private val dblEmb = "list_transform(embedding, x -> CAST(x AS DOUBLE))"

  /** Wrong-SF tripwire (round-10 advice): the y2/y3/x5/sd1 oracles embed
    * knob values (hyperplane literals, the centroid LIMIT) that the
    * ENGINE derives from the live corpus count at gate time
    * (planesFor/centroidsFor), so the SQL mirrors are only valid at the
    * corpus size they were generated for — 500 embeddings rows = sf0.01.
    * At any other SF the mirror would silently hash-mismatch (or pass by
    * coincidence). This CASE — lazily evaluated, so it costs nothing at
    * the right count — makes a wrong-SF run fail LOUDLY with the reason. */
  private val Sf001EmbeddingsRows = 500L
  private def sfGuard(gate: String): String =
    s"""CASE WHEN (SELECT count(*) FROM embeddings) = $Sf001EmbeddingsRows
       | THEN true ELSE error('$gate: oracle SQL embeds planesFor/centroidsFor
       | knobs derived from a $Sf001EmbeddingsRows-row embeddings corpus
       | (sf0.01) — run this oracle at sf0.01 only') END"""
      .stripMargin.linesIterator.mkString(" ")

  val oracle: Map[String, String] = Map(
    "y1_ann_bruteforce" ->
      s"""WITH corpus AS (
         |  SELECT vec_id AS neighbor_id, $dblEmb AS v FROM embeddings),
         |queries AS (
         |  SELECT vec_id AS query_id, $dblEmb AS q FROM embeddings
         |  WHERE vec_id IN (${QueryIds.mkString(", ")})),
         |scored AS (
         |  SELECT query_id, neighbor_id, ${sqlCosine("q", "v")} AS cs
         |  FROM corpus CROSS JOIN queries
         |  WHERE query_id <> neighbor_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cs,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id,
         |  round(cs, 6) AS cosine_sim
         |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // y2: all 8 hash tables' hyperplane literals are code-generated into
    // the SQL, so bucket assignment, candidate dedup, and ranking are
    // fully cross-checked (no aux import needed). 4 planes and the % 16
    // fold = the gate's planesFor/bucketsFor(500 sf0.01 vectors,
    // target 32) — ScaleKnobSpec pins this coupling (B = 16 = 2^4, so
    // the fold mirrors the engine's pmod verbatim AND is the identity).
    "y2_ann_lsh" -> {
      val banded = (0 until 8).map(t =>
        s"SELECT vec_id, $t AS t, (${sqlSignature("v", 4, t)} % 16) AS bucket FROM base")
        .mkString(" UNION ALL ")
      s"""WITH base AS (SELECT vec_id, $dblEmb AS v FROM embeddings
         |  WHERE ${sfGuard("y2_ann_lsh")}),
         |banded AS ($banded),
         |probes AS (
         |  SELECT vec_id AS query_id, t, bucket FROM banded
         |  WHERE vec_id IN (${QueryIds.mkString(", ")})),
         |cand AS (
         |  SELECT DISTINCT p.query_id, b.vec_id AS neighbor_id
         |  FROM banded b JOIN probes p ON b.t = p.t AND b.bucket = p.bucket
         |  WHERE b.vec_id <> p.query_id),
         |scored AS (
         |  SELECT c.query_id, c.neighbor_id, ${sqlCosine("q.v", "n.v")} AS cs
         |  FROM cand c
         |  JOIN base q ON q.vec_id = c.query_id
         |  JOIN base n ON n.vec_id = c.neighbor_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cs,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id,
         |  round(cs, 6) AS cosine_sim
         |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    },

    // y3: same code-generated hyperplanes (with the same % 16
    // bucketsFor fold as the engine — identity at sf0.01); the
    // hub-bucket cap is the identical row_number-by-id window, so
    // capping is cross-checked too. Query leg is UNCAPPED (every id
    // queries its bucket's survivors); only the neighbor leg is capped
    // — mirrors Similarity.knnGraph.
    "y3_knn_graph" -> {
      val banded = (0 until 4).map(t =>
        s"SELECT vec_id, $t AS t, (${sqlSignature("v", 4, t)} % 16) AS bucket FROM base")
        .mkString(" UNION ALL ")
      s"""WITH base AS (SELECT vec_id, $dblEmb AS v FROM embeddings
         |  WHERE ${sfGuard("y3_knn_graph")}),
         |banded0 AS ($banded),
         |banded AS (
         |  SELECT vec_id, t, bucket,
         |    row_number() OVER (PARTITION BY t, bucket ORDER BY vec_id) AS rn
         |  FROM banded0),
         |capped AS (SELECT vec_id, t, bucket FROM banded WHERE rn <= 64),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
         |  FROM banded0 a JOIN capped b ON a.t = b.t AND a.bucket = b.bucket
         |  WHERE a.vec_id <> b.vec_id),
         |scored AS (
         |  SELECT c.query_id, c.neighbor_id, ${sqlCosine("q.v", "n.v")} AS cs
         |  FROM cand c
         |  JOIN base q ON q.vec_id = c.query_id
         |  JOIN base n ON n.vec_id = c.neighbor_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cs,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id,
         |  round(cs, 6) AS cosine_sim
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },

    // y4: the ENTIRE IVF path is mirrored in SQL — seed selection
    // (vec_id % 7 == 0, smallest 16), cosine-equivalent centroid score
    // dot(v,c)/|c|, argmax assignment, nprobe probe lists, exact-cosine
    // ranking — no aux tables, full hash-match.
    "y4_ann_ivf" -> ivfOracleSql,
    // y7 routes the same computation through a persisted assignment
    // store — the roster must be indistinguishable from the recompute,
    // so the oracle IS y4's derivation (the x12 pinning pattern).
    "y7_ann_ivf_store" -> ivfOracleSql,

    // y8: the SAME derivation with the metadata predicate on the
    // candidate set only — centroids/probes identical to y4's.
    "y8_ann_filtered" -> ivfOracle("b.label IN (1, 3)"),
    // y9 folds a delta batch into a persisted half-corpus store; the
    // merged store must equal assigning the whole corpus at once, so
    // the oracle is again y4's full derivation (merge ≡ rebuild).
    "y9_ann_store_merge" -> ivfOracleSql,

    // y5: the whole PQ path in SQL — seed slicing into per-subspace
    // codebooks, argmin encoding (ties to smaller code), ADC as an
    // ORDERED fold over subspaces (list_reduce over list(dist ORDER BY
    // s), prepend-0 left fold == the engine's fixed-order reduce;
    // 0.0+x is exact for x >= +0.0), rounded 6 dp before ranking.
    "y5_ann_pq" ->
      s"""WITH base AS (SELECT vec_id, $dblEmb AS v FROM embeddings),
         |seeds AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v
         |  FROM (SELECT vec_id, v FROM base WHERE vec_id % 7 = 0
         |        ORDER BY vec_id LIMIT 16)),
         |cents AS (
         |  SELECT CAST(s AS INT) AS s, cid, v[s*8+1 : s*8+8] AS cv
         |  FROM seeds, unnest(generate_series(0, 7)) AS t(s)),
         |cdists AS (
         |  SELECT b.vec_id, c.s, c.cid,
         |    list_sum(list_transform(list_zip(b.v[c.s*8+1 : c.s*8+8], c.cv),
         |      p -> (p[1]-p[2])*(p[1]-p[2]))) AS dist
         |  FROM base b CROSS JOIN cents c),
         |codes AS (
         |  SELECT vec_id, s, cid AS code FROM (
         |    SELECT vec_id, s, cid,
         |      row_number() OVER (PARTITION BY vec_id, s
         |        ORDER BY dist, cid) AS rn
         |    FROM cdists) WHERE rn = 1),
         |pairdist AS (
         |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, n.s,
         |    list_sum(list_transform(list_zip(q.v[n.s*8+1 : n.s*8+8], c.cv),
         |      p -> (p[1]-p[2])*(p[1]-p[2]))) AS dist
         |  FROM codes n
         |  JOIN cents c ON c.s = n.s AND c.cid = n.code
         |  CROSS JOIN (SELECT vec_id, v FROM base
         |    WHERE vec_id IN (${QueryIds.mkString(", ")})) q
         |  WHERE n.vec_id <> q.vec_id),
         |adc AS (
         |  SELECT query_id, neighbor_id,
         |    round(list_reduce(
         |      list_prepend(CAST(0.0 AS DOUBLE), list(dist ORDER BY s)),
         |      (a, x) -> a + x), 6) AS adc_dist
         |  FROM pairdist GROUP BY 1, 2),
         |ranked AS (
         |  SELECT query_id, neighbor_id, adc_dist,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
         |  FROM adc)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, adc_dist
         |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // y6: the COMPOSED IVF-PQ path, fully mirrored — y4's coarse
    // assignment + probe lists (zero-norm-guarded centroid score)
    // restrict the candidate set; y5's codes + per-query subspace
    // distances + ordered fold score it. No aux tables, full hash-match.
    "y6_ann_ivfpq" -> {
      val centScore = s"""CASE WHEN ${sqlNorm("s.cv")} > 0
         | THEN ${sqlDot("b.v", "s.cv")} / ${sqlNorm("s.cv")} ELSE 0.0 END""".stripMargin
      s"""WITH base AS (SELECT vec_id, $dblEmb AS v FROM embeddings),
         |seeds AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v
         |  FROM (SELECT vec_id, v FROM base WHERE vec_id % 7 = 0
         |        ORDER BY vec_id LIMIT 16)),
         |ccents AS (SELECT cid, v AS cv FROM seeds),
         |cscored AS (
         |  SELECT b.vec_id, s.cid, $centScore AS score
         |  FROM base b CROSS JOIN ccents s),
         |cranked AS (
         |  SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid ASC) AS rn
         |  FROM cscored),
         |assigned AS (
         |  SELECT vec_id, cid AS cluster_id FROM cranked WHERE rn = 1),
         |probes AS (
         |  SELECT vec_id AS query_id, cid AS cluster_id FROM cranked
         |  WHERE vec_id IN (${QueryIds.mkString(", ")}) AND rn <= 4),
         |pcents AS (
         |  SELECT CAST(s AS INT) AS s, cid, v[s*8+1 : s*8+8] AS cv
         |  FROM seeds, unnest(generate_series(0, 7)) AS t(s)),
         |cdists AS (
         |  SELECT b.vec_id, c.s, c.cid,
         |    list_sum(list_transform(list_zip(b.v[c.s*8+1 : c.s*8+8], c.cv),
         |      p -> (p[1]-p[2])*(p[1]-p[2]))) AS dist
         |  FROM base b CROSS JOIN pcents c),
         |codes AS (
         |  SELECT vec_id, s, cid AS code FROM (
         |    SELECT vec_id, s, cid,
         |      row_number() OVER (PARTITION BY vec_id, s
         |        ORDER BY dist, cid) AS rn
         |    FROM cdists) WHERE rn = 1),
         |cand AS (
         |  SELECT p.query_id, a.vec_id AS neighbor_id
         |  FROM probes p JOIN assigned a ON a.cluster_id = p.cluster_id
         |  WHERE a.vec_id <> p.query_id),
         |pairdist AS (
         |  SELECT cnd.query_id, cnd.neighbor_id, n.s,
         |    list_sum(list_transform(list_zip(q.v[n.s*8+1 : n.s*8+8], c.cv),
         |      p -> (p[1]-p[2])*(p[1]-p[2]))) AS dist
         |  FROM cand cnd
         |  JOIN codes n ON n.vec_id = cnd.neighbor_id
         |  JOIN pcents c ON c.s = n.s AND c.cid = n.code
         |  JOIN base q ON q.vec_id = cnd.query_id),
         |adc AS (
         |  SELECT query_id, neighbor_id,
         |    round(list_reduce(
         |      list_prepend(CAST(0.0 AS DOUBLE), list(dist ORDER BY s)),
         |      (a, x) -> a + x), 6) AS adc_dist
         |  FROM pairdist GROUP BY 1, 2),
         |ranked AS (
         |  SELECT query_id, neighbor_id, adc_dist,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
         |  FROM adc)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, adc_dist
         |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    },

    // sd1: the full SemDeDup path in SQL — y4's guarded centroid
    // assignment over the twins corpus, within-cluster pairs, the
    // smaller-id-survives drop rule, and the complete roster. LIMIT 16
    // = the gate's centroidsFor(1000 doubled sf0.01 vectors, target 64)
    // — ScaleKnobSpec pins this coupling.
    "sd1_semantic_dedup" -> {
      val centScore = s"""CASE WHEN ${sqlNorm("s.cv")} > 0
         | THEN ${sqlDot("b.v", "s.cv")} / ${sqlNorm("s.cv")} ELSE 0.0 END""".stripMargin
      s"""WITH base AS (
         |  SELECT vec_id, $dblEmb AS v FROM embeddings
         |  WHERE ${sfGuard("sd1_semantic_dedup")}
         |  UNION ALL
         |  SELECT vec_id + 100000 AS vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE) + 0.01) AS v
         |  FROM embeddings),
         |cents AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         |    v AS cv
         |  FROM (SELECT vec_id, v FROM base WHERE vec_id % 7 = 0
         |        ORDER BY vec_id LIMIT 16)),
         |cscored AS (
         |  SELECT b.vec_id, s.cid, $centScore AS score
         |  FROM base b CROSS JOIN cents s),
         |cranked AS (
         |  SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid ASC) AS rn
         |  FROM cscored),
         |assigned AS (
         |  SELECT b.vec_id, b.v, r.cid AS cluster_id
         |  FROM base b JOIN cranked r ON r.vec_id = b.vec_id AND r.rn = 1),
         |drops AS (
         |  SELECT DISTINCT b.vec_id AS id
         |  FROM assigned a JOIN assigned b
         |    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
         |  WHERE ${sqlCosine("a.v", "b.v")} >= 0.95)
         |SELECT a.vec_id, a.cluster_id, (d.id IS NULL) AS kept
         |FROM assigned a LEFT JOIN drops d ON d.id = a.vec_id
         |ORDER BY a.vec_id""".stripMargin
    },

    // 5 planes = the gate's planesFor(1000 doubled sf0.01 vectors,
    // target 32) — ScaleKnobSpec pins this coupling. The two-stage
    // bucket guard is mirrored exactly: hot buckets (> MaxBucket)
    // re-bucket under the independent refine-table planes, and
    // (bucket, sub) groups still oversized after refinement drop
    // wholesale (identical-vector clusters — the engine's stage 2).
    "x5_embedding_near_dup" ->
      s"""WITH base AS (
         |  SELECT vec_id, $dblEmb AS v FROM embeddings
         |  WHERE ${sfGuard("x5_embedding_near_dup")}
         |  UNION ALL
         |  SELECT vec_id + 100000 AS vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE) + 0.01) AS v
         |  FROM embeddings),
         |sigs0 AS (
         |  SELECT vec_id, v, ${sqlSignature("v", 5)} AS bucket FROM base),
         |sized AS (
         |  SELECT *, count(*) OVER (PARTITION BY bucket) AS __bs FROM sigs0),
         |ref AS (
         |  SELECT vec_id, v, bucket,
         |    CASE WHEN __bs <= ${TextQueries.MaxBucket} THEN 0
         |      ELSE ${sqlSignature("v", 5, graft.operators.Dedup.RefineTable)} + 1
         |    END AS sub
         |  FROM sized),
         |sigs AS (
         |  SELECT vec_id, v, bucket, sub FROM (
         |    SELECT *, count(*) OVER (PARTITION BY bucket, sub) AS __bs2
         |    FROM ref) WHERE __bs2 <= ${TextQueries.MaxBucket})
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  round(${sqlCosine("a.v", "b.v")}, 6) AS cosine_sim
         |FROM sigs a JOIN sigs b
         |  ON a.bucket = b.bucket AND a.sub = b.sub AND a.vec_id < b.vec_id
         |WHERE ${sqlCosine("a.v", "b.v")} >= 0.98
         |ORDER BY id_a, id_b""".stripMargin,

    // m1: both legs of the dispatching surface rebuilt from the text.
    // txt leg = raw-byte stand-in over the whole payload; png leg = the
    // DECODED raster domain, which for lossless 8x8 gray PNG is exactly
    // the first 64 source bytes (rows >= 64 bytes only — the encoder's
    // raster-size drop). checksum mirrors Multimodal.byteChecksum:
    // fold (acc*31 + byte) % 1e9+7, codepoints == bytes under the
    // shared ASCII filter.
    "m1_multimodal_decode" -> {
      // acc seeded as BIGINT: an INT32 accumulator overflows at
      // (~1e9 * 31) and DuckDB hard-errors on integer overflow
      def checksum(n: String) =
        s"""CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
           |  list_transform(range(1, $n + 1), i -> unicode(text[i:i]))),
           |  (acc, b) -> (acc * 31 + b) % 1000000007) AS BIGINT)""".stripMargin
      s"""SELECT doc_id AS media_id, 'txt' AS format,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  CAST(CASE WHEN length(text) = 0 THEN -1
        |    ELSE unicode(text[1:1]) END AS INT) AS first_byte,
        |  ${checksum("length(text)")} AS checksum
        |FROM documents WHERE $AsciiWhere
        |UNION ALL
        |SELECT doc_id AS media_id, 'png' AS format,
        |  CAST(64 AS INT) AS n_bytes,
        |  CAST(unicode(text[1:1]) AS INT) AS first_byte,
        |  ${checksum("64")} AS checksum
        |FROM documents
        |WHERE $AsciiWhere AND octet_length(encode(text)) >= 64
        |ORDER BY media_id, format""".stripMargin
    },

    "m2_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes
        |  FROM documents),
        |frames AS (
        |  SELECT media_id, n_bytes, CAST(i AS INT) AS frame_idx
        |  FROM m, unnest(generate_series(0,
        |    greatest(CAST(ceil(n_bytes / 256.0) AS INT) - 1, 0))) AS t(i)
        |  WHERE i % 2 = 0)
        |SELECT media_id, frame_idx,
        |  CAST(least(256, n_bytes - frame_idx * 256) AS INT) AS frame_bytes
        |FROM frames WHERE least(256, n_bytes - frame_idx * 256) > 0
        |ORDER BY media_id, frame_idx""".stripMargin,

    // m3: both sides filter to ASCII-only rows (engine: asciiDocuments),
    // so byte positions ARE character positions and unicode(slice)
    // mirrors the engine's substring->hex->conv byte extraction exactly —
    // parity holds for ANY corpus, not just an all-ASCII one.
    "m3_audio_windows" ->
      s"""WITH m AS (
        |  SELECT doc_id AS media_id, text,
        |    octet_length(encode(text)) AS n FROM documents
        |  WHERE $AsciiWhere),
        |w AS (
        |  SELECT media_id, text, CAST(i AS INT) AS window_idx
        |  FROM m, unnest(generate_series(0,
        |    CAST(floor((n - 400) / 160) AS INT))) AS t(i)
        |  WHERE n >= 400)
        |SELECT media_id, window_idx,
        |  CAST(window_idx * 160 AS INT) AS start_byte,
        |  CAST(unicode(text[window_idx*160 + 1 : window_idx*160 + 1]) AS INT) AS first_byte,
        |  CAST(unicode(text[window_idx*160 + 400 : window_idx*160 + 400]) AS INT) AS last_byte
        |FROM w ORDER BY media_id, window_idx""".stripMargin,

    // m4: the engine PNG-encodes the first 64 payload bytes as an 8x8
    // grayscale raster and ImageIO-decodes it back; lossless PNG means
    // pixel(y,x) == byte[y*8+x], so every stat is computable from the
    // original text. Both sides filter to ASCII rows (engine:
    // asciiDocuments) so codepoints == bytes for ANY corpus. sum/64 is
    // an exact binary fraction (2^-6), so the DOUBLE division matches
    // the engine bit for bit.
    "m4_image_decode" ->
      s"""SELECT doc_id AS media_id,
        |  CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
        |  CAST(list_sum(list_transform(range(1, 65),
        |    i -> unicode(text[i:i]))) AS DOUBLE) / 64 AS mean_px,
        |  CAST(unicode(text[1:1]) AS INT) AS px_first,
        |  CAST(unicode(text[64:64]) AS INT) AS px_last
        |FROM documents
        |WHERE octet_length(encode(text)) >= 64 AND $AsciiWhere
        |ORDER BY media_id""".stripMargin,

    // m7: BMP round trip — lossless, so identical expectation shape to
    // m4: every stat is recomputable from the original text bytes.
    "m7_image_decode_bmp" ->
      s"""SELECT doc_id AS media_id,
        |  CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
        |  CAST(list_sum(list_transform(range(1, 65),
        |    i -> unicode(text[i:i]))) AS DOUBLE) / 64 AS mean_px,
        |  CAST(unicode(text[1:1]) AS INT) AS px_first,
        |  CAST(unicode(text[64:64]) AS INT) AS px_last
        |FROM documents
        |WHERE octet_length(encode(text)) >= 64 AND $AsciiWhere
        |ORDER BY media_id""".stripMargin,

    // m5: JPEG round trip — the sk1 pattern for a lossy codec. Dims are
    // genuinely cross-checked (engine: real decoded raster; here: the
    // 8x8 contract); the booleans are TRUE literals because only the
    // engine sees its decoded pixels — the ENGINE computes |decoded mean
    // − source byte mean| ≤ 1.0 and the SOI/EOI check, so a drifted
    // codec, wrong quality, or misaligned payload flips a boolean and
    // hash-mismatches. Row set = ASCII docs with ≥ 64 payload bytes,
    // mirroring the engine's raster-size drop.
    "m5_image_decode_jpeg" ->
      s"""SELECT doc_id AS media_id,
        |  CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
        |  TRUE AS soi_eoi_ok, TRUE AS mean_close
        |FROM documents
        |WHERE octet_length(encode(text)) >= 64 AND $AsciiWhere
        |ORDER BY media_id""".stripMargin,

    // m6: WAV round trip — sample i is the little-endian int16 built
    // from payload bytes (2i, 2i+1); PCM losslessness means the decoded
    // samples ARE those bytes, so the oracle rebuilds every feature from
    // the text. ASCII filter: byte == codepoint, and both bytes ≤ 127 so
    // the int16 is always positive (no sign handling in SQL).
    "m6_audio_decode_wav" ->
      s"""WITH s AS (
         |  SELECT doc_id AS media_id,
         |    list_transform(range(0, 64), i ->
         |      unicode(text[2*i+1:2*i+1]) + 256 * unicode(text[2*i+2:2*i+2])) AS samp
         |  FROM documents
         |  WHERE octet_length(encode(text)) >= 128 AND $AsciiWhere)
         |SELECT media_id, CAST(64 AS INT) AS n_samples,
         |  CAST(16000 AS INT) AS sample_rate,
         |  CAST(samp[1] AS INT) AS amp_first,
         |  CAST(samp[64] AS INT) AS amp_last,
         |  CAST(list_sum(samp) AS DOUBLE) / 64 AS mean_amp
         |FROM s ORDER BY media_id""".stripMargin
  )

  // y4/y7 shared oracle: the ENTIRE IVF path mirrored in SQL — seed
  // selection (vec_id % 7 == 0, smallest 16), cosine-equivalent centroid
  // score dot(v,c)/|c| (zero-norm guard mirroring the NearestCentroids
  // kernel), argmax
  // assignment, nprobe probe lists, exact-cosine ranking.
  private lazy val ivfOracleSql: String = ivfOracle("TRUE")

  /** The IVF derivation with a corpus-side metadata predicate applied to
    * the candidate set only (centroids and query probing stay
    * filter-independent — the y8 one-index-many-filters contract). */
  private def ivfOracle(corpusFilter: String): String = {
      // zero-norm guard mirrors the NearestCentroids kernel: an all-zero
      // seed vector scores 0.0, never NULL/NaN — engine/oracle parity
      // must not hinge on the data containing no zero vectors
      val centScore = s"""CASE WHEN ${sqlNorm("s.cv")} > 0
         | THEN ${sqlDot("b.v", "s.cv")} / ${sqlNorm("s.cv")} ELSE 0.0 END""".stripMargin
      s"""WITH base AS (SELECT vec_id, label, $dblEmb AS v FROM embeddings),
         |cents AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         |    v AS cv
         |  FROM (SELECT vec_id, v FROM base WHERE vec_id % 7 = 0
         |        ORDER BY vec_id LIMIT 16)),
         |cscored AS (
         |  SELECT b.vec_id, s.cid, $centScore AS score
         |  FROM base b CROSS JOIN cents s),
         |cranked AS (
         |  SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid ASC) AS rn
         |  FROM cscored),
         |assigned AS (
         |  SELECT b.vec_id, b.v, r.cid AS cluster_id
         |  FROM base b JOIN cranked r ON r.vec_id = b.vec_id AND r.rn = 1
         |  WHERE $corpusFilter),
         |probes AS (
         |  SELECT vec_id AS query_id, cid AS cluster_id FROM cranked
         |  WHERE vec_id IN (${QueryIds.mkString(", ")}) AND rn <= 4),
         |scored AS (
         |  SELECT p.query_id, a.vec_id AS neighbor_id,
         |    ${sqlCosine("q.v", "a.v")} AS cs
         |  FROM probes p
         |  JOIN assigned a ON a.cluster_id = p.cluster_id
         |  JOIN base q ON q.vec_id = p.query_id
         |  WHERE a.vec_id <> p.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cs,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id,
         |  round(cs, 6) AS cosine_sim
         |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }
}
