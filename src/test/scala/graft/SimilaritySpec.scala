package graft

import org.apache.spark.sql.functions._
import graft.operators.{LiteralArms, Multimodal, Similarity}

/** ANN + multimodal specs: cosine math, LSH recall vs brute force,
  * batched decode checksum, frame-sampling coverage. */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine matches hand-computed values") {
    val df = Seq((Seq(1.0, 0.0), Seq(0.0, 1.0)), (Seq(1.0, 1.0), Seq(1.0, 1.0)),
      (Seq(1.0, 2.0), Seq(2.0, 4.0))).toDF("a", "b")
    val got = df.select(Similarity.cosinePrenormed($"a", $"b",
      Similarity.norm($"a"), Similarity.norm($"b")).as("c")).collect().map(_.getDouble(0))
    assert(math.abs(got(0)) < 1e-12)
    assert(math.abs(got(1) - 1.0) < 1e-12)
    assert(math.abs(got(2) - 1.0) < 1e-12)
  }

  test("hyperplane signature: kernel expression == literal expression") {
    // real embeddings at sf0.01, raw and folded, two tables — the one
    // signature (the HyperplaneSig kernel, r21's task-binary/interp-tree
    // fix) must agree with the literal zip_with/aggregate reference to
    // the bit
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select($"vec_id", Similarity.toDouble($"embedding").as("v"))
    for (table <- Seq(0, 3); buckets <- Seq(0L, 13L)) {
      val ker = emb.select($"vec_id",
        Similarity.hyperplaneSignature($"v", planes = 6, table, buckets).as("s"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
      val lit0 = emb.select($"vec_id",
        LiteralArms.hyperplaneSignature($"v", planes = 6, table, buckets).as("s"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
      assert(ker.nonEmpty && ker.sameElements(lit0),
        s"table=$table buckets=$buckets: kernel and literal signatures differ")
    }
    // the dimension guard stays loud (the zip_with-null-pad hazard)
    val short = Seq((1L, Seq(1.0, 2.0))).toDF("vec_id", "v")
    val e = intercept[Exception] {
      short.select(Similarity.hyperplaneSignature($"v", planes = 4)).collect()
    }
    assert(e.getMessage != null)
  }

  test("bruteForceTopK ranks the perturbed twin first") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val twin = emb.select(($"vec_id" + 100000L).as("vec_id"),
      transform(Similarity.toDouble($"embedding"), x => x * 1.001).as("embedding"))
    val corpus = emb.select($"vec_id", Similarity.toDouble($"embedding").as("embedding"))
      .unionByName(twin)
    val top = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", Seq(0L, 1L), k = 1)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toMap
    // scaled copy has cosine exactly 1 -> must be rank 1
    assert(top(0L) == 100000L && top(1L) == 100001L)
  }

  test("lshTopK finds high-similarity neighbors (twins) reliably") {
    // On uniformly random vectors LSH recall of weak (cos≈0.3) "neighbors"
    // is inherently poor — the property that matters for near-dup curation
    // is recall of HIGH-similarity neighbors. Plant cosine≈1 twins.
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = emb.select($"vec_id", Similarity.toDouble($"embedding").as("embedding"))
    val twin = emb.select(($"vec_id" + 100000L).as("vec_id"),
      transform(Similarity.toDouble($"embedding"), x => x * 1.001).as("embedding"))
    val corpus = base.unionByName(twin)
    val qs = Seq(0L, 1L, 2L, 3L, 4L)
    val lsh = Similarity.lshTopK(corpus, "vec_id", "embedding", qs, 10, planes = 6, tables = 8)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = qs.count(q => lsh.contains((q, q + 100000L)))
    assert(found >= 4, s"twin recall $found/5 — positively-scaled twins share every bucket")
    // and the random-data recall is reported (not asserted) for context
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qs, 10)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshPlain = Similarity.lshTopK(emb, "vec_id", "embedding", qs, 10, planes = 6, tables = 8)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    info(s"random-data recall@10 = ${(bf intersect lshPlain).size.toDouble / bf.size}")
  }

  test("lshTopK: no shuffle carries embedding vectors (id-only candidate dedup)") {
    withAtScaleScans {
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.types.ArrayType
      val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      val df = Similarity.lshTopK(emb, "vec_id", "embedding", Seq(0L, 1L, 2L), 10)
      val root: SparkPlan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case other => other
      }
      val shuffles = root.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.nonEmpty, "expected at least the candidate-distinct shuffle")
      shuffles.foreach { e =>
        assert(!e.output.exists(_.dataType.isInstanceOf[ArrayType]),
          "shuffle carries vector payload: " +
            e.output.map(a => s"${a.name}:${a.dataType.simpleString}").mkString(", "))
      }
    }
  }

  test("knnGraph finds every planted twin at rank 1") {
    // all-docs-as-queries: every id must get a neighbor list, and a
    // cosine≈1 twin must top it (twins share every hyperplane bucket,
    // so LSH candidate generation cannot miss them).
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = emb.select($"vec_id", Similarity.toDouble($"embedding").as("embedding"))
    val twin = emb.select(($"vec_id" + 100000L).as("vec_id"),
      transform(Similarity.toDouble($"embedding"), x => x * 1.001).as("embedding"))
    val corpus = base.unionByName(twin)
    val n = corpus.count()
    val top1 = Similarity.knnGraph(corpus, "vec_id", "embedding", k = 3)
      .filter($"rank" === 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(top1.size == n, s"every vector must appear as a query: ${top1.size}/$n")
    val twinned = top1.count { case (q, nb) =>
      nb == q + 100000L || q == nb + 100000L }
    assert(twinned == n, s"twin at rank 1 for $twinned/$n queries")
  }

  test("knnGraph caps hub buckets but keeps every id as a query") {
    // 40 identical vectors all land in the same bucket in every table;
    // cap=8 bounds each id's candidate NEIGHBORS to the 8 smallest ids
    // (minus self), but the query leg is uncapped — ALL 40 ids must
    // appear as query_id (the round-4 advice contract: the hub cap may
    // not evict a vector from the output entirely).
    val same = (0L until 40L).map(i => (i, Seq.fill(64)(1.0f))).toDF("vec_id", "embedding")
    val got = Similarity.knnGraph(same, "vec_id", "embedding",
      k = 39, planes = 4, tables = 2, maxBucketSize = 8)
    val byQuery = got.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    assert(byQuery.keySet == (0L until 40L).toSet,
      s"every id must query its bucket's survivors: ${byQuery.keySet.size}/40")
    byQuery.foreach { case (q, nbs) =>
      assert(nbs.map(_._2).toSet == (0L until 8L).toSet - q,
        s"neighbors of $q must be the capped survivors minus self") }
  }

  test("multimodal decode: checksum over bytes, batch independence") {
    val docs = Seq((1L, "abc"), (2L, "")).toDF("doc_id", "text")
    val media = Multimodal.fromDocuments(docs)
    val feats = Multimodal.decodeFeatures(media).orderBy("media_id").collect()
    val expChecksum = "abc".getBytes("UTF-8").foldLeft(0L)((a, b) => (a * 31 + (b & 0xFF)) % 1000000007L)
    assert(feats(0).getAs[Int]("n_bytes") == 3)
    assert(feats(0).getAs[Int]("first_byte") == 'a'.toInt)
    assert(feats(0).getAs[Long]("checksum") == expChecksum)
    assert(feats(1).getAs[Int]("n_bytes") == 0 && feats(1).getAs[Int]("first_byte") == -1)
  }

  test("multimodal decode: format dispatch routes real codecs (png, wav)") {
    // 64+ byte doc -> PNG-encodable; lossless gray raster means the
    // decoded domain through the GENERIC surface is the source bytes
    val text = ('a' to 'z').mkString * 3 // 78 ascii chars
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val media = Multimodal.fromDocuments(docs)
    val png = Multimodal.encodeGrayPng(media)
      .select(col("media_id"), col("png").as("media"),
        struct(lit("png").as("format"), octet_length(col("png")).as("n_bytes"),
          lit(1).as("channels")).as("meta"))
    val wav = Multimodal.encodeWav(media, nSamples = 32)
      .select(col("media_id"), col("wav").as("media"),
        struct(lit("wav").as("format"), octet_length(col("wav")).as("n_bytes"),
          lit(1).as("channels")).as("meta"))
    val got = Multimodal.decodeFeatures(media.unionByName(png).unionByName(wav))
      .orderBy("format").collect()
      .map(r => r.getAs[String]("format") ->
        ((r.getAs[Int]("n_bytes"), r.getAs[Int]("first_byte"), r.getAs[Long]("checksum"))))
      .toMap
    val bytes = text.getBytes("UTF-8")
    def ck(bs: Array[Byte]) = Multimodal.byteChecksum(bs)
    // png leg: decoded raster = first 64 source bytes (real ImageIO decode)
    assert(got("png") == ((64, 'a'.toInt, ck(bytes.take(64)))), s"png leg: ${got("png")}")
    // wav leg: decoded PCM = first 64 source bytes (real AudioSystem decode)
    assert(got("wav") == ((64, 'a'.toInt, ck(bytes.take(64)))), s"wav leg: ${got("wav")}")
    // txt leg: stand-in over the raw payload
    assert(got("txt") == ((78, 'a'.toInt, ck(bytes))), s"txt leg: ${got("txt")}")
  }

  test("audio windows: STFT geometry and boundary bytes on raw binary") {
    // 10-byte payload 0x00,0x10,...,0x90; winSize=4 hop=2 -> starts 0,2,4,6
    // (start 8 would need bytes through 11 — full windows only)
    val bytes = Array.tabulate(10)(i => (i * 16).toByte)
    val media = Seq((1L, bytes)).toDF("media_id", "media")
    val got = Multimodal.audioWindows(media, winSize = 4, hop = 2)
      .orderBy("window_idx").collect()
      .map(r => (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
    assert(got.toSeq == Seq(
      (0, 0, 0x00, 0x30), (1, 2, 0x20, 0x50), (2, 4, 0x40, 0x70), (3, 6, 0x60, 0x90)),
      s"got ${got.toSeq}")
    // 0x90 > 127 proves the hex->conv path reads BYTES, not chars
    val short = Seq((2L, Array[Byte](1, 2, 3))).toDF("media_id", "media")
    assert(Multimodal.audioWindows(short, winSize = 4, hop = 2).isEmpty,
      "payload shorter than winSize yields no windows")
  }

  test("frame sampling covers every other frame with correct tail size") {
    val docs = Seq((1L, "x" * 600)).toDF("doc_id", "text") // 600 bytes -> frames 0,1,2
    val frames = Multimodal.sampleFrames(Multimodal.fromDocuments(docs), 256, 2)
      .orderBy("frame_idx").collect()
      .map(r => (r.getAs[Int]("frame_idx"), r.getAs[Int]("frame_bytes")))
    assert(frames.toSeq == Seq((0, 256), (2, 600 - 512)))
  }

  test("planesFor keeps expected bucket size ~target across scales") {
    // oracle-parity anchors: the y3 gate's corpora must map to the plane
    // counts its SQL mirror embeds (4 at sf0.01's 500 vectors)
    assert(Similarity.planesFor(500, targetBucket = 32) == 4)
    assert(Similarity.planesFor(2000, targetBucket = 32) == 6)
    assert(Similarity.planesFor(20000, targetBucket = 32) == 10)
    // 10x the corpus adds ~log2(10) ~ 3-4 planes: bucket size is flat
    val b1 = 200000L / (1L << Similarity.planesFor(200000))
    val b2 = 2000000L / (1L << Similarity.planesFor(2000000))
    assert(b1 >= 16 && b1 <= 64 && b2 >= 16 && b2 <= 64, s"$b1 $b2")
    // clamps
    assert(Similarity.planesFor(1) == 4)
    assert(Similarity.planesFor(Long.MaxValue) == 16)
  }
}
