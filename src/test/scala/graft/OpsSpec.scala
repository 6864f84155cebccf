package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Ann, Dedup, Multimodal, TextAnalysis}
import graft.testgen.WebCorpus

class OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet").cache()
  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet").cache()

  // the web corpus plants near-duplicates: every matched sub page is a
  // ~4%-perturbed copy of its main page
  private lazy val corpus = WebCorpus.pages(spark, 400).toDF()
    .select(col("url").as("doc"), col("text")).cache()
  private lazy val planted = WebCorpus.labeledPairs(spark, 400).toDF()

  test("exact dedup: keeps one deterministic survivor per content hash") {
    val dup = docs.select(col("doc_id") + 100000, col("text"), col("lang"),
      col("source"), col("n_chars")).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.exact(docs.unionByName(dup), "text", "doc_id").cache()
    assert(out.filter(col("is_duplicate")).count() == docs.count())
    // survivor is always the min id
    val bad = out.filter(!col("is_duplicate") && col("doc_id") >= 100000)
    assert(bad.count() == 0)
  }

  test("minhash LSH finds the planted near-duplicate pairs") {
    val pairs = Dedup.minhashLsh(corpus, "text", "doc", tau = 0.8).cache()
    val asLabeled = pairs.select(col("id_a"), col("id_b"))
      .union(pairs.select(col("id_b"), col("id_a"))).toDF("main_url", "sub_url")
    val hit = planted.join(asLabeled, Seq("main_url", "sub_url"), "left_semi").count()
    assert(hit.toDouble / planted.count() >= 0.95, s"found $hit/${planted.count()}")
  }

  test("simhash banding is lossless within its hamming budget (== brute force)") {
    import graft.functions.GraftFunctions._
    val pairs = Dedup.simhash(corpus, "text", "doc", maxHamming = 7).cache()
    // 8x8-bit banding guarantees recall for hamming <= 7: the bucketed pair
    // set must EQUAL the brute-force pair set
    val fp = corpus.select(col("doc").as("id"), simhash64(ascii_lower(col("text"))).as("fp"))
    val brute = fp.as("a").join(fp.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).as("hamming"))
      .filter(col("hamming") <= 7)
    assert(pairs.exceptAll(brute).count() == 0)
    assert(brute.exceptAll(pairs).count() == 0)
    // asking for more than the banding guarantees must fail fast
    intercept[IllegalArgumentException] {
      Dedup.simhash(corpus, "text", "doc", maxHamming = 10)
    }
  }

  test("window fingerprint: exact shared-substring pairs, hot-window cap") {
    // two docs sharing one verbatim 15-token run; a third with no overlap
    val run = (1 to 15).map(i => s"tok$i").mkString(" ")
    val df = Seq(
      (1L, s"alpha beta $run gamma delta"),
      (2L, s"$run completely different tail here"),
      (3L, "no shared content at all in this document whatsoever beyond these words")
    ).toDF("doc", "text")
    val pairs = Dedup.windowFingerprint(df, "text", "doc", windowTokens = 15)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 1L))) // exactly one shared window
    // boilerplate: a window shared by all docs is dropped by the cap
    val boiler = Seq(
      (1L, s"$run unique one"), (2L, s"$run unique two"), (3L, s"$run unique three")
    ).toDF("doc", "text")
    val capped = Dedup.windowFingerprint(boiler, "text", "doc",
      windowTokens = 15, maxDocsPerWindow = 2)
    assert(capped.count() == 0)
    // ...and kept when under the cap
    val kept = Dedup.windowFingerprint(boiler, "text", "doc",
      windowTokens = 15, maxDocsPerWindow = 3)
    assert(kept.count() == 3) // all 3 pairs share the run
  }

  test("ngram jaccard near-dup detection on planted copies") {
    val pairs = Dedup.ngramJaccard(corpus, "text", "doc", n = 3, tau = 0.4).cache()
    val asLabeled = pairs.select(col("id_a"), col("id_b"))
      .union(pairs.select(col("id_b"), col("id_a"))).toDF("main_url", "sub_url")
    val hit = planted.join(asLabeled, Seq("main_url", "sub_url"), "left_semi").count()
    assert(hit.toDouble / planted.count() >= 0.9, s"found $hit/${planted.count()}")
  }

  test("ANN: lsh top-k has high recall against brute force") {
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val exact = Ann.bruteForceTopK(emb, queries, 10).select("query_id", "item_id")
    val approx = Ann.lshTopK(emb, queries, 10).select("query_id", "item_id")
    val inter = exact.intersect(approx).count()
    val recall = inter.toDouble / exact.count()
    info(s"ann lsh recall@10 = $recall")
    assert(recall >= 0.9, s"recall $recall too low")
    // brute force is exact: verify one query by hand
    val q0 = emb.filter(col("vec_id") === 0).head().getSeq[Float](1).toArray
    val all = emb.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val expTop = all.map { case (id, v) => (id, Ann.cosineLocal(q0, v)) }
      .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1)
    val gotTop = Ann.bruteForceTopK(emb, queries.filter(col("query_id") === 0), 10)
      .orderBy("rank").select("item_id").collect().map(_.getLong(0))
    assert(gotTop.sameElements(expTop))
  }

  test("ANN: IVF top-k reproduces the exact top-k on clustered data; partitioning-independent") {
    val cemb = WebCorpus.clusteredEmbeddings(spark, nClusters = 16, perCluster = 40).cache()
    val queries = cemb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val exact = Ann.bruteForceTopK(cemb, queries, 10).select("query_id", "item_id", "rank")
    val ivf = Ann.ivfTopK(cemb, queries, 10, nlist = 16, nprobe = 4)
      .select("query_id", "item_id", "rank")
    assert(ivf.exceptAll(exact).count() == 0)
    assert(exact.exceptAll(ivf).count() == 0)
    // decimal-summed Lloyd updates ⇒ identical centroids at any partitioning
    val ivf2 = Ann.ivfTopK(cemb.repartition(7), queries, 10, nlist = 16, nprobe = 4)
      .select("query_id", "item_id", "rank")
    assert(ivf.exceptAll(ivf2).count() == 0)
  }

  test("embedding cosine dedup reproduces the brute-force pair set (recall + precision)") {
    val tau = 0.3
    val pairs = Dedup.embeddingCosine(emb, "embedding", "vec_id", tau = tau).cache()
    val e = emb.select(col("vec_id"), col("embedding"))
    val brute = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .filter(Ann.cosine(col("a.embedding"), col("b.embedding")) >= tau)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
    val nBrute = brute.count()
    val hit = brute.join(pairs, Seq("id_a", "id_b"), "left_semi").count()
    info(s"embedding-cosine recall = $hit/$nBrute")
    assert(nBrute > 0, "test corpus must contain pairs above tau")
    assert(hit.toDouble / nBrute >= 0.95, s"recall $hit/$nBrute below 0.95")
    // precision is exact by construction (pairs are cosine-verified)
    assert(pairs.exceptAll(brute).count() == 0)
  }

  test("embedding cosine near-dup regime: tau-derived budget finds planted pairs exactly") {
    // mirror of q22: perturbed copies at cosine ≈ 0.95 planted from the same
    // vectors; the auto-derived probe budget (~110 keys/vector at tau=0.9)
    // must still reproduce the brute-force pair set bit-exactly
    val planted = emb.select((col("vec_id") + 100000).as("vec_id"),
      transform(col("embedding"), (x, j) =>
        (x.cast("double") + lit(0.3) * sqrt(aggregate(col("embedding"), lit(0.0d),
          (a, v) => a + v.cast("double") * v.cast("double")) / size(col("embedding"))) *
          when(pmod(xxhash64(col("vec_id"), j), lit(2)) === 0, lit(1.0))
            .otherwise(lit(-1.0))).cast("float")).as("embedding"))
    val all = emb.select("vec_id", "embedding").unionByName(planted).cache()
    val tables = Dedup.derivedTables(0.9, 8, 1, 1e-5)
    assert(tables * (1 + 9) <= 120, s"derived fan-out too big: $tables tables")
    val pairs = Dedup.embeddingCosine(all, "embedding", "vec_id", tau = 0.9).cache()
    val brute = all.as("a").join(all.as("b"), col("a.vec_id") < col("b.vec_id"))
      .filter(Ann.cosine(col("a.embedding"), col("b.embedding")) >= 0.9)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
    assert(brute.count() >= emb.count(), "every planted copy pairs with its base")
    assert(pairs.exceptAll(brute).count() == 0)
    assert(brute.exceptAll(pairs).count() == 0)
  }

  test("dedup hot-key caps are metered, never silent") {
    // boilerplate corpus: one 15-token run shared by all docs
    val run = (1 to 20).map(i => s"tok$i").mkString(" ")
    val boiler = (1L to 6L).map(i => (i, s"$run unique$i")).toDF("doc", "text")
    val (wPairs, wStats) = Dedup.windowFingerprintWithStats(
      boiler, "text", "doc", windowTokens = 15, maxDocsPerWindow = 3)
    assert(wPairs.count() == 0) // every shared window is over the cap
    val ws = wStats.head()
    assert(ws.getAs[Long]("hot_buckets") == 6L) // 6 windows in the 20-token run
    assert(ws.getAs[Long]("dropped_rows") == 36L) // 6 windows × 6 docs
    // minhash: 6 identical docs → every band bucket holds all 6 → capped at 5
    val same = (1L to 6L).map(i => (i, run)).toDF("doc", "text")
    val (mPairs, mStats) = Dedup.minhashLshWithStats(
      same, "text", "doc", tau = 0.8, maxBucket = 5)
    assert(mPairs.count() == 0)
    val ms = mStats.head()
    assert(ms.getAs[Long]("hot_buckets") == 8L) // all 8 bands hot
    assert(ms.getAs[Long]("dropped_rows") == 48L)
    // simhash: identical fingerprints → all 8 band buckets hot
    val (sPairs, sStats) = Dedup.simhashWithStats(
      same, "text", "doc", maxHamming = 3, maxBucket = 5)
    assert(sPairs.count() == 0)
    val ss = sStats.head()
    assert(ss.getAs[Long]("hot_buckets") == 8L)
    assert(ss.getAs[Long]("dropped_rows") == 48L)
    // ngram: a planted hot LENGTH class (every real corpus concentrates
    // document lengths) — drops must be metered, cool classes still pair
    val hotLen = (1L to 8L).map(i =>
      (i, (1 to 20).map(j => s"w${i}_$j").mkString(" "))) // 20 tokens → lenb 2
    val coolLen = Seq(
      (100L, (1 to 35).map(j => s"c$j").mkString(" ")),   // 35 tokens → lenb 3
      (101L, (1 to 35).map(j => s"c$j").mkString(" ")))
    val ngramCorpus = (hotLen ++ coolLen).toDF("doc", "text")
    val (nPairs, nStats) = Dedup.ngramJaccardWithStats(
      ngramCorpus, "text", "doc", n = 3, tau = 0.4, maxBucket = 6)
    val ns = nStats.head()
    assert(ns.getAs[Long]("hot_buckets") >= 2L) // lenb 2 and 3 exploded views
    assert(ns.getAs[Long]("dropped_rows") >= 16L)
    // the identical cool-class pair survives; no hot-class doc pairs at all
    val got = nPairs.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((100L, 101L)))
  }

  test("language id: CJK routed to zh, stopword text to its language") {
    val samples = Seq(
      ("the cat and the dog is in that house for now", "en"),
      ("der hund und die katze ist nicht ein problem", "de"),
      ("le chat est dans les maisons pour une nuit", "fr"),
      ("el perro y la casa es una cosa por ahora", "es"),
      ("这是 一个 中文 文档", "zh")).toDF("text", "expected")
    val got = samples.select(TextAnalysis.langId(col("text")).as("got"), col("expected"))
    assert(got.filter(col("got") =!= col("expected")).count() == 0)
  }

  test("quality score bounded and sensitive to junk") {
    val df = Seq(
      "a clean readable sentence with normal words and structure here",
      ";;;; !!!! ???? ,,,, " * 10).toDF("text")
    val s = df.select(TextAnalysis.qualityScore(col("text")).as("q"))
      .collect().map(_.getDouble(0))
    assert(s.forall(v => v >= 0.0 && v <= 1.0))
    assert(s(0) > s(1), "clean text must outscore junk")
  }

  test("token counts: whitespace and subword variants") {
    val row = Seq("hello world fooBar baz-qux 123").toDF("text")
      .select(TextAnalysis.tokenCount(col("text")).as("t"),
        TextAnalysis.subwordCount(col("text")).as("s")).head()
    assert(row.getInt(0) == 5)
    assert(row.getInt(1) == 7) // hello world foo Bar baz qux 123
  }

  test("fingerprint is stable under formatting noise") {
    val df = Seq(("Hello,  World!", 1), ("hello world", 2)).toDF("text", "id")
    val fps = df.select(TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().map(_.getString(0))
    assert(fps(0) == fps(1))
  }

  test("multimodal plumbing: schema, determinism, resize invariant") {
    val out = Multimodal.prepare(docs, "doc_id", "text").cache()
    assert(out.columns.toSet ==
      Set("doc_id", "payload", "modality", "meta", "features", "meta_resized"))
    val again = Multimodal.prepare(docs.repartition(7), "doc_id", "text")
    assert(out.select("doc_id", "modality", "meta").exceptAll(
      again.select("doc_id", "modality", "meta")).count() == 0)
    val bad = out.filter(
      col("meta_resized").getField("width") > 512 ||
        col("meta_resized").getField("height") > 512)
    assert(bad.count() == 0)
    assert(out.filter(size(col("features")) =!= 16).count() == 0)
    // frame sampling emits ≥1 row per doc and only for sampled indices
    val frames = Multimodal.sampleFrames(out.filter(col("modality") === "video"), "meta", 10)
    assert(frames.filter(pmod(col("frame_idx"), lit(10)) =!= 0).count() == 0)
  }

  test("image modality: real PNG payloads, real javax.imageio decode") {
    val imgs = Multimodal.prepare(docs.limit(90), "doc_id", "text")
      .filter(col("modality") === "image")
      .select(col("payload"), col("meta")).collect()
    assert(imgs.nonEmpty)
    imgs.foreach { r =>
      val payload = r.getAs[Array[Byte]](0)
      val meta = r.getStruct(1)
      // real PNG container
      assert((payload(0) & 0xff) == 0x89 && payload(1) == 'P' &&
        payload(2) == 'N' && payload(3) == 'G')
      assert(meta.getAs[String]("codec") == "png")
      // independent decode agrees with the pipeline's decoded metadata
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      assert(img.getWidth == meta.getAs[Int]("width"))
      assert(img.getHeight == meta.getAs[Int]("height"))
    }
    // undecodable bytes → NULL struct, not a task failure
    import graft.functions.GraftFunctions._
    val bad = Seq(Array[Byte](1, 2, 3)).toDF("payload")
      .select(image_decode(col("payload")).as("m")).head()
    assert(bad.isNullAt(0))
  }

  test("audio modality: real WAV payloads, real javax.sound.sampled decode") {
    import graft.functions.AudioCodec
    val auds = Multimodal.prepare(docs.limit(90), "doc_id", "text")
      .filter(col("modality") === "audio")
      .select(col("doc_id"), col("payload"), col("meta")).collect()
    assert(auds.nonEmpty)
    auds.foreach { r =>
      val payload = r.getAs[Array[Byte]](1)
      val meta = r.getStruct(2)
      // real RIFF/WAVE container
      assert(payload(0) == 'R' && payload(1) == 'I' && payload(2) == 'F' &&
        payload(3) == 'F' && payload(8) == 'W' && payload(9) == 'A')
      assert(meta.getAs[String]("codec") == "wave")
      // independent decode agrees with the pipeline's decoded metadata
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      assert(ais.getFormat.getSampleRate.toInt == meta.getAs[Int]("sample_rate"))
      assert(ais.getFrameLength.toInt == meta.getAs[Int]("n_frames"))
      ais.close()
    }
    // n_frames comes from bytes actually decoded: truncating the PCM body
    // must shrink it, and garbage bytes must yield a NULL struct
    import graft.functions.GraftFunctions._
    val wav = AudioCodec.encodeWav(7L)
    val truncated = java.util.Arrays.copyOf(wav, wav.length - 100)
    val full = AudioCodec.decode(wav)
    val part = AudioCodec.decode(truncated)
    assert(part != null && part.getInt(1) < full.getInt(1))
    val bad = Seq(Array[Byte](1, 2, 3)).toDF("payload")
      .select(audio_decode(col("payload")).as("m")).head()
    assert(bad.isNullAt(0))
  }

  test("video modality: real AVI containers, real RIFF parse") {
    import graft.functions.VideoCodec
    val vids = Multimodal.prepare(docs.limit(90), "doc_id", "text")
      .filter(col("modality") === "video")
      .select(xxhash64(col("doc_id")).as("seed"), col("payload"), col("meta"))
      .collect()
    assert(vids.nonEmpty)
    vids.foreach { r =>
      val payload = r.getAs[Array[Byte]](1)
      val meta = r.getStruct(2)
      // real RIFF/AVI container bytes
      assert(payload(0) == 'R' && payload(1) == 'I' && payload(2) == 'F' &&
        payload(3) == 'F' && payload(8) == 'A' && payload(9) == 'V' &&
        payload(10) == 'I')
      assert(meta.getAs[String]("codec") == "mjpg")
      // the pipeline's decoded metadata equals the seeded encode parameters
      // (the decode READ them back from the container, it cannot see the seed)
      val (w, h, _, n) = VideoCodec.params(r.getLong(0))
      assert(meta.getAs[Int]("width") == w && meta.getAs[Int]("height") == h)
      assert(meta.getAs[Int]("n_frames") == n)
    }
    // frame count comes from chunks actually present in movi: truncating
    // the container must shrink it; fps is read from the stream header;
    // garbage bytes must yield a NULL struct
    import graft.functions.GraftFunctions._
    val avi = VideoCodec.encodeAvi(7L)
    val (_, _, fps, n) = VideoCodec.params(7L)
    val full = VideoCodec.decode(avi)
    assert(full.getInt(3) == n && full.getDouble(2) == fps.toDouble)
    val truncated = java.util.Arrays.copyOf(avi, avi.length - 40)
    val part = VideoCodec.decode(truncated)
    assert(part != null && part.getInt(3) < full.getInt(3))
    val bad = Seq(Array[Byte](1, 2, 3)).toDF("payload")
      .select(video_decode(col("payload")).as("m")).head()
    assert(bad.isNullAt(0))
  }
}
