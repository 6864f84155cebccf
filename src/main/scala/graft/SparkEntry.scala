package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.eval.Eval
import graft.functions.GraftFunctions._
import graft.ops.{Ann, Dedup, Multimodal, TextAnalysis}
import graft.pipeline.{EntityResolution, Stage}
import graft.publish.Downstream
import graft.testgen.WebCorpus

/**
 * Driver contract: every operator from SURVEY.md §2 surfaces here as a named
 * query over the driver's parquet tables (generic relational operators) or
 * the seeded deterministic web corpus (entity-resolution pipeline — not
 * SQL-expressible, so those are rows-only checks).
 *
 * Column names are aligned 1:1 with [[SparkEntry.oracleSql]]; every oracle
 * query emits only integer / string / exact-decimal columns plus a total
 * deterministic ORDER BY, so the DuckDB comparison is bit-stable.
 */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /**
   * Side-table materialization for corpus-derived oracles: the DuckDB oracle
   * SQL (below) reads these parquet paths directly, so the brute-force
   * recomputation runs over exactly the rows Spark processed. Always
   * overwritten (tiny tables) so a code change never leaves a stale oracle
   * input. Returns the re-read frame.
   */
  private def sideTable(sfDir: String, name: String)
                       (df: => DataFrame): DataFrame =
    Stage.write(df.coalesce(1), s"${WebCorpus.matDir(sfDir)}/$name.parquet")

  // ER pipeline result, one per materialization dir — several queries expose
  // slices of it, and every spelling of a scale dir ("sf0.001", a full path)
  // shares the one resolve and its work dir. Held with the session that made
  // it: another session re-resolves and replaces the entry, so no DataFrame
  // bound to a stopped session is handed out, and no cached frame reads
  // files another resolve has overwritten.
  private val erCache =
    scala.collection.mutable.Map.empty[String, (SparkSession, EntityResolution.Result)]
  private def erResult(spark: SparkSession, dir: String): EntityResolution.Result =
    erCache.synchronized {
      val mat = WebCorpus.matDir(dir)
      erCache.get(mat).collect { case (s, r) if s eq spark => r }.getOrElse {
        val r = EntityResolution.resolve(WebCorpus.pagesMaterialized(spark, dir),
          EntityResolution.Config(workDir = Some(s"$mat/er_state")))
        erCache(mat) = (spark, r)
        r
      }
    }

  /** Flagship: full record-linkage run on the sf0.001-scale corpus. */
  def entry(spark: SparkSession): DataFrame =
    erResult(spark, "sf0.001").integrated.orderBy("RecordId")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----------------------------------------------------------- relational
    "q1_agg" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("string").as("sum_qty"),
          max(col("l_extendedprice").cast("decimal(18,2)")).cast("string").as("max_price"),
          min(col("l_shipdate").cast("date")).cast("string").as("first_ship"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q2_join_agg" -> ((s, d) => {
      val o = t(s, d, "orders")
      val c = t(s, d, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("string").as("total_price"))
        .orderBy("c_mktsegment")
    }),
    "q3_in_broadcast" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val p = t(s, d, "part").filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy("p_brand").agg(count(lit(1)).as("n"))
        .orderBy("p_brand")
    }),
    "q4_left_anti" -> ((s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),
    "q5_left_semi" -> ((s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders").filter(col("o_totalprice") > 1000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    }),
    "q6_distinct" -> ((s, d) =>
      t(s, d, "orders").select("o_orderstatus", "o_orderpriority")
        .distinct().orderBy("o_orderstatus", "o_orderpriority")),
    "q7_window_topn" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, d, "orders")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk")
        .orderBy("o_custkey", "rnk")
    }),
    "q8_orderby_limit" -> ((s, d) =>
      t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10).select("o_orderkey")),
    "q9_union_prefix" -> ((s, d) => {
      val main = t(s, d, "orders")
        .select(concat(lit("m_"), col("o_orderkey").cast("string")).as("uid"))
      val sub = t(s, d, "lineitem")
        .select(concat(lit("sub_"), col("l_orderkey").cast("string"),
          lit("_"), col("l_linenumber").cast("string")).as("uid"))
      main.unionByName(sub)
        .groupBy(substring(col("uid"), 1, 2).as("src"))
        .agg(count(lit(1)).as("n"), countDistinct(col("uid")).as("n_distinct"))
        .orderBy("src")
    }),
    "q10_scalar_funcs" -> ((s, d) =>
      t(s, d, "events")
        .select(col("event_id"),
          lower(col("event_type")).as("etype"),
          md5(col("event_type").cast("binary")).as("etype_md5"),
          substring(col("event_type"), 1, 3).as("etype3"),
          length(col("event_type")).as("etype_len"),
          unix_timestamp(col("ts")).as("epoch_s"))
        .orderBy("event_id")),
    "q11_json" -> ((s, d) =>
      t(s, d, "events")
        .select(get_json_object(col("props"), "$.k").cast("long").as("k_value"))
        .groupBy(pmod(col("k_value"), lit(10L)).as("k_mod"))
        .agg(count(lit(1)).as("n"), max("k_value").as("max_k"))
        .orderBy("k_mod")),
    "q12_date_parts" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("n"))
        .orderBy("y", "m")),
    "q13_missing_ids" -> ((s, d) => {
      import s.implicits._
      val wanted = Seq(1L, 2L, 99999L, 123456L).toDF("p_key")
      wanted.join(t(s, d, "part"), wanted("p_key") === col("p_partkey"), "left_anti")
        .orderBy("p_key")
    }),
    // ------------------------------------------- training-data ops: dedup
    "q14_dedup_exact" -> ((s, d) => {
      Dedup.exact(t(s, d, "documents"), "text", "doc_id")
        .groupBy("content_md5")
        .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"))
        .orderBy("content_md5")
    }),
    "q15_fingerprint" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),
    "q16_token_count" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.subwordCount(col("text")).as("n_subwords"))
        .orderBy("doc_id")),
    "q17_quality" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")),
    "q18_langid" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")),
    "q19_minhash_dups" -> ((s, d) => {
      // near-dup pairs over the web corpus (sub pages are perturbed copies)
      val pages = WebCorpus.pagesMaterialized(s, d)
        .select(col("url").as("doc"), col("text"))
      Dedup.minhashLsh(pages, "text", "doc", tau = 0.8)
        .orderBy("id_a", "id_b")
    }),
    "q20_simhash_dups" -> ((s, d) => {
      val pages = WebCorpus.pagesMaterialized(s, d)
        .select(col("url").as("doc"), col("text"))
      // fingerprints materialized for the oracle's brute-force hamming sweep
      sideTable(d, "simhash_fp") {
        pages.select(col("doc").as("id"), simhash64(ascii_lower(col("text"))).as("fp"))
      }
      Dedup.simhash(pages, "text", "doc", maxHamming = 6)
        .orderBy("id_a", "id_b")
    }),
    "q21_ngram_dups" -> ((s, d) => {
      val pages = sideTable(d, "pages300") {
        WebCorpus.pages(s, 300).toDF().select(col("url").as("doc"), col("text"))
      }
      Dedup.ngramJaccard(pages, "text", "doc", n = 3, tau = 0.4)
        .orderBy("id_a", "id_b")
    }),
    "q44_window_dups" -> ((s, d) => {
      // substring-level dedup (any shared verbatim 15-token run) on the same
      // corpus slice as q21; oracle recomputes md5 window fingerprints
      val pages = sideTable(d, "pages300") {
        WebCorpus.pages(s, 300).toDF().select(col("url").as("doc"), col("text"))
      }
      Dedup.windowFingerprint(pages, "text", "doc", windowTokens = 15)
        .orderBy("id_a", "id_b")
    }),
    "q22_embedding_dups" -> ((s, d) => {
      // The sf embeddings are random-ish (no pair above cosine 0.6), so
      // near-duplicates at a realistic threshold are PLANTED: for vec_id
      // < 100 a deterministic perturbed copy (id + 100000) at cosine ≈ 0.95
      // derived from the same table. The op runs at tau = 0.9 — the regime
      // sign-LSH is designed for — with its tau-derived minimal probe
      // budget (~110 keys/vector vs the old fixed 1128); the oracle
      // brute-forces the exact pair set over the same materialized rows.
      val emb = sideTable(d, "neardup_vectors") {
        val base = t(s, d, "embeddings").select("vec_id", "embedding")
        // per-dim step: 0.3·|v|/sqrt(dim) with content-hashed signs →
        // delta norm ≈ 0.3·|v| → cosine ≈ 1/sqrt(1.09) ≈ 0.958
        val scale = lit(0.3) * sqrt(aggregate(col("embedding"), lit(0.0d),
          (a, x) => a + x.cast("double") * x.cast("double")) / size(col("embedding")))
        val planted = base.filter(col("vec_id") < 100)
          .select((col("vec_id") + 100000).as("vec_id"),
            transform(col("embedding"), (x, j) =>
              (x.cast("double") + scale * when(
                pmod(xxhash64(col("vec_id"), j), lit(2)) === 0, lit(1.0))
                .otherwise(lit(-1.0))).cast("float")).as("embedding"))
        base.unionByName(planted)
      }
      Dedup.embeddingCosine(emb, "embedding", "vec_id", tau = 0.9)
        .orderBy("id_a", "id_b")
    }),
    // ---------------------------------------------- similarity search (ANN)
    "q23_ann_brute" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Ann.bruteForceTopK(emb, queries, k = 10)
        .select("query_id", "item_id", "rank")
        .orderBy("query_id", "rank")
    }),
    "q24_ann_lsh" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Ann.lshTopK(emb, queries, k = 10)
        .select("query_id", "item_id", "rank")
        .orderBy("query_id", "rank")
    }),
    "q40_ann_ivf" -> ((s, d) => {
      // IVF wants clustered data (the sf embeddings are intentionally
      // unstructured — LSH territory); the clustered set is materialized so
      // the oracle brute-forces the same rows
      val emb = sideTable(d, "ivf_vectors") {
        WebCorpus.clusteredEmbeddings(s, nClusters = 16, perCluster = 40)
      }
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Ann.ivfTopK(emb, queries, k = 10, nlist = 16, nprobe = 4)
        .select("query_id", "item_id", "rank")
        .orderBy("query_id", "rank")
    }),
    // ------------------------------------------------- multimodal plumbing
    "q25_multimodal" -> ((s, d) => {
      val prepared = Multimodal.prepare(t(s, d, "documents"), "doc_id", "text")
      // decode output materialized for the oracle: image width/height come
      // from the real javax.imageio decode, audio sample_rate from the real
      // javax.sound.sampled decode, and video dimensions/frame counts from
      // the real RIFF/AVI chunk walker; the resize math, modality routing
      // and feature shape are recomputed by DuckDB from the materialized
      // decode results
      sideTable(d, "mm_meta") {
        prepared.select(col("doc_id"), col("modality"),
          col("meta").getField("width").as("width"),
          col("meta").getField("height").as("height"),
          col("meta").getField("sample_rate").as("sample_rate"))
      }
      prepared
        .select(col("doc_id"), col("modality"),
          col("meta").getField("width").as("width"),
          col("meta").getField("sample_rate").as("sample_rate"),
          col("meta_resized").getField("width").as("width_resized"),
          size(col("features")).as("feat_dim"))
        .orderBy("doc_id")
    }),
    // ----------------------------------------------- downstream / publish
    "q26_interactions" -> ((s, d) => {
      // reference interactions SQL re-created on the relational fixture:
      // orders split into two "brands" by order status; customer = id map
      val o = t(s, d, "orders")
      val mkP = (st: String) => o.filter(col("o_orderstatus") === st)
        .select(col("o_custkey").cast("string").as("customer_id"),
          col("o_orderkey").cast("string").as("item_id"),
          unix_timestamp(col("o_orderdate")).as("purchase_date"))
      val integrated = t(s, d, "customer")
        .select(col("c_custkey").cast("string").as("RecordId"),
          concat(lit("match_"), col("c_custkey").cast("string")).as("MatchID"))
      Downstream.interactions(mkP("F"), mkP("O"), integrated)
        .orderBy("USER_ID", "ITEM_ID", "TIMESTAMP")
    }),
    "q27_segment_topn" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val o = t(s, d, "orders")
      val inter = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(col("o_custkey").cast("string").as("USER_ID"),
          col("l_partkey").cast("string").as("ITEM_ID"),
          unix_timestamp(col("o_orderdate")).as("TIMESTAMP"))
      Downstream.segmentTopN(inter, Seq("1", "2", "3"), numResults = 5)
        .orderBy("item_id", "user_id")
    }),
    "q28_anti_existing" -> ((s, d) => {
      import s.implicits._
      val fresh = Seq(("1", "u1"), ("2", "u2"), ("7777777", "u3")).toDF("item_id", "user_id")
      val existing = t(s, d, "lineitem")
        .select(col("l_partkey").cast("string").as("item_id"))
      Downstream.antiJoinExisting(fresh, existing).orderBy("item_id")
    }),
    "q29_coalesce_outer" -> ((s, d) => {
      val o = t(s, d, "orders")
      val c = t(s, d, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"), "left")
        .select(col("o_orderkey"),
          coalesce(col("c_mktsegment"), lit("NULL")).as("segment"))
        .groupBy("segment").agg(count(lit(1)).as("n"))
        .orderBy("segment")
    }),
    "q30_having" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n"), countDistinct(col("l_orderkey")).as("n_orders"))
        .filter(col("n") > 500)
        .orderBy("l_suppkey")),
    "q31_from_unixtime" -> ((s, d) =>
      t(s, d, "orders")
        .select(col("o_orderkey"),
          unix_timestamp(col("o_orderdate")).as("epoch"))
        .select(col("o_orderkey"),
          to_date(from_unixtime(col("epoch"))).cast("string").as("d"))
        .orderBy("o_orderkey")),
    "q32_csv_roundtrip" -> ((s, d) => {
      // S1/S4/S9: header CSV sink + header-skipping scan with schema inference
      val out = s"/tmp/graft-csv-roundtrip-${new java.io.File(d).getName}"
      t(s, d, "documents").select("doc_id", "lang", "source", "n_chars")
        .write.mode("overwrite").option("header", "true").csv(out)
      s.read.option("header", "true").option("inferSchema", "true").csv(out)
        .groupBy("lang").agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
        .orderBy("lang")
    }),
    "q33_jsonlines_roundtrip" -> ((s, d) => {
      // S5: JSON-lines scan (Personalize batch output analog) + explode
      val out = s"/tmp/graft-jsonl-roundtrip-${new java.io.File(d).getName}"
      t(s, d, "part").select(
          col("p_partkey").as("item_id"),
          array(col("p_brand"), col("p_type")).as("tags"))
        .write.mode("overwrite").json(out)
      s.read.json(out)
        .select(col("item_id"), explode(col("tags")).as("tag"))
        .groupBy("tag").agg(count(lit(1)).as("n"))
        .orderBy("tag")
    }),
    "q41_stream_first_seen" -> ((s, d) =>
      graft.streaming.EventStream.firstSeen(s, s"$d/events.parquet",
        queryName = "fs_" + new java.io.File(d).getName.replace(".", "_"))
        .orderBy("event_type")),
    "q34_stream_window" -> ((s, d) =>
      graft.streaming.EventStream.windowedCounts(s, s"$d/events.parquet",
        queryName = "ec_" + new java.io.File(d).getName.replace(".", "_"))
        .select(col("win_start").cast("long").as("win_epoch"), col("event_type"), col("n"))
        .orderBy("win_epoch", "event_type")),
    // --------------------------------------- SQL-text surface + catalog
    // (the reference's primary user path: agent-introspected catalog +
    // SQL text execution + result shaping; agent_processor.py:136-216)
    "q35_sql_text" -> ((s, d) => {
      graft.catalog.Catalog.register(s, d)
      graft.catalog.QueryService.sql(s,
        """SELECT c_mktsegment, count(*) AS n,
          |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS total
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |WHERE o_orderstatus = 'F' GROUP BY 1 ORDER BY 1""".stripMargin)
    }),
    "q36_sql_graft_fn" -> ((s, d) => {
      graft.catalog.Catalog.register(s, d)
      graft.catalog.QueryService.sql(s,
        """SELECT a.doc_id AS doc_id, token_jaccard(lower(a.text), lower(b.text)) AS tj
          |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
          |ORDER BY a.doc_id""".stripMargin)
    }),
    "q37_sql_preview" -> ((s, d) => {
      graft.catalog.Catalog.register(s, d)
      graft.catalog.QueryService.previewFrame(s,
        "SELECT o_orderkey FROM orders ORDER BY o_orderkey")
    }),
    "q38_catalog_introspect" -> ((s, d) => {
      graft.catalog.Catalog.register(s, d)
      graft.catalog.Catalog.describeTable(s, "documents")
        .select("col_name", "data_type").orderBy("col_name")
    }),
    "q39_csv_header_groups" -> ((s, d) => {
      // S9: ad-hoc CSV drop-dir → header-hash groups → one inferred table per
      // group. Fixture: three CSVs derived from `part`, two sharing a header.
      import java.nio.file.{Files, Paths}
      val dir = s"${WebCorpus.matDir(d)}/csv_drop"
      Files.createDirectories(Paths.get(dir))
      val rows = t(s, d, "part").select("p_partkey", "p_brand")
        .orderBy("p_partkey").limit(200).collect()
      def csv(name: String, header: String, body: Seq[String]): Unit =
        Files.writeString(Paths.get(s"$dir/$name"),
          (header +: body).mkString("", "\n", "\n"))
      csv("a.csv", "p_partkey,p_brand",
        rows.take(100).map(r => s"${r.getLong(0)},${r.getString(1)}").toSeq)
      csv("b.csv", "p_partkey,p_brand",
        rows.drop(100).map(r => s"${r.getLong(0)},${r.getString(1)}").toSeq)
      csv("c.csv", "p_partkey,p_type",
        rows.take(50).map(r => s"${r.getLong(0)},x").toSeq)
      val groups = graft.catalog.CsvIngest.loadGroups(s, dir)
      import s.implicits._
      groups.toSeq.map { case (h, df) =>
        (h, df.inputFiles.length, df.count(), df.columns.length)
      }.toDF("header_hash", "n_files", "n_rows", "n_cols")
        .orderBy("header_hash")
    }),
    "q42_time_travel" -> ((s, d) => {
      // S2/S7 deepened: versioned snapshot publish + time travel. v1 is a
      // deterministic aggregate of `documents`; v2 perturbs every count. The
      // query reads v1 AFTER v2 became latest — the oracle recomputes v1's
      // content from the base table, so a time-travel read that leaked v2
      // (n+1 everywhere) is a hard hash mismatch.
      val dir = s"${WebCorpus.matDir(d)}/tt_langs"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      val v1 = t(s, d, "documents").groupBy("lang")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
      Downstream.publishAtomic(v1, dir)
      Downstream.publishAtomic(v1.withColumn("n", col("n") + 1), dir)
      Downstream.readVersion(s, dir, 1).orderBy("lang")
    }),
    "q43_partition_prune" -> ((s, d) => {
      // Iceberg-style days(ts) + bucket(8, user_id) partition layout: the
      // day predicate below is proven at plan time (PartitionFilters on the
      // scan — asserted in DownstreamSpec) and reads 1/30th of the files.
      val dir = s"${WebCorpus.matDir(d)}/events_part"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      Downstream.publishPartitionedAtomic(
        t(s, d, "events"), dir, tsCol = "ts", keyCol = "user_id", nBuckets = 8)
      Downstream.readLatest(s, dir)
        .filter(col("ts_day") === lit(java.sql.Date.valueOf("2024-01-15")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("string").as("total_value"))
        .orderBy("event_type")
    }),
    // ------------------------------------------------ entity resolution
    // Oracle story: the generator's ground truth (truth.parquet) is
    // materialized beside the corpus; because measured pairwise F1 = 1.0 on
    // this corpus, the pipeline's edges/clusters must equal the truth table
    // EXACTLY — DuckDB recomputes the expected integrated/edge frames from
    // truth alone, making any wrong or missing match a hard hash mismatch.
    "er_integrated" -> ((s, d) =>
      erResult(s, d).integrated
        .select("RecordId", "InputSourceARN", "MatchID")
        .orderBy("RecordId")),
    "er_id128" -> ((s, d) =>
      // the 128-bit record-id mode (Config(idBits = 128) — collision-safe
      // 16-byte ids for 10¹²-record corpora) under the driver's own gate:
      // the pipeline is id-type-agnostic, so the output contract — and
      // therefore the truth-derived oracle — is IDENTICAL to er_integrated
      EntityResolution.resolve(WebCorpus.pagesMaterialized(s, d),
        EntityResolution.Config(idBits = 128,
          workDir = Some(s"${WebCorpus.matDir(d)}/er_id128_state"))).integrated
        .select("RecordId", "InputSourceARN", "MatchID")
        .orderBy("RecordId")),
    "er_edges" -> ((s, d) =>
      erResult(s, d).edges
        .select(col("main_url"), col("sub_url"))
        .orderBy("main_url", "sub_url")),
    "er_incremental" -> ((s, d) => {
      // batch lifecycle: resolve the 80% "old" corpus, then FOLD IN the
      // remaining 20% incrementally (no old×old rescoring). The contract —
      // incremental ≡ full re-resolve ≡ ground truth — makes the oracle the
      // same truth-derived frame as er_integrated.
      val pages = WebCorpus.pagesMaterialized(s, d)
      val isNew = pmod(xxhash64(col("url")), lit(5)) === 4
      val w1 = s"${WebCorpus.matDir(d)}/inc_state1"
      val w2 = s"${WebCorpus.matDir(d)}/inc_state2"
      Seq(w1, w2).foreach(p =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
      EntityResolution.resolve(pages.filter(!isNew),
        EntityResolution.Config(workDir = Some(w1))).integrated.count()
      EntityResolution.resolveIncremental(pages.filter(isNew), w1,
        EntityResolution.Config(workDir = Some(w2)))
        .integrated.select("RecordId", "InputSourceARN", "MatchID")
        .orderBy("RecordId")
    }),
    "er_block_stats" -> ((s, d) => {
      val keys = sideTable(d, "block_keys")(erResult(s, d).blockKeys)
      keys.groupBy("block_key").agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_blocks"), sum("n").as("n_rows"),
          max("n").as("max_block"))
    }),
    "er_eval" -> ((s, d) => {
      val r = erResult(s, d)
      val labeled = WebCorpus.labeledPairs(s, WebCorpus.entitiesForSf(d)).toDF()
      Eval.asDF(s, Eval.pairwiseF1(
        EntityResolution.predictedPairs(r.integrated), labeled, r.candidatePairs))
    }),
    "er_text_extract" -> ((s, d) =>
      WebCorpus.pagesMaterialized(s, d)
        .select(col("url"), html_to_text(col("html")).as("text_extracted"))
        .orderBy("url")),
  )

  /** Root of the side-table materialization the corpus oracles read; the
    * driver's DuckDB compare runs on the same host at sf=0.01. */
  private val Mat = "/tmp/graft-mat/sf0.01"

  def oracleSql: Map[String, String] = Map(
    // ---- corpus ops: DuckDB brute-force recomputation over materialized
    // ---- side tables — these rows double as recall proofs for the LSH ops
    "q19_minhash_dups" ->
      s"""WITH d AS (SELECT url, list_distinct(string_split(lower(text), ' ')) AS toks
         |           FROM '$Mat/pages.parquet/*.parquet'),
         |s AS (SELECT url, toks, len(toks) AS n FROM d),
         |c AS (SELECT a.url AS ua, b.url AS ub, len(list_intersect(a.toks, b.toks)) AS i,
         |             a.n AS na, b.n AS nb
         |      FROM s a JOIN s b ON a.url < b.url AND a.n*5 >= b.n*4 AND b.n*5 >= a.n*4)
         |SELECT ua AS id_a, ub AS id_b, CAST(i AS DOUBLE)/(na+nb-i) AS jaccard
         |FROM c WHERE i >= 0.8*(na+nb-i) ORDER BY 1, 2""".stripMargin,
    "q20_simhash_dups" ->
      s"""SELECT a.id AS id_a, b.id AS id_b, bit_count(xor(a.fp, b.fp)) AS hamming
         |FROM '$Mat/simhash_fp.parquet/*.parquet' a
         |JOIN '$Mat/simhash_fp.parquet/*.parquet' b ON a.id < b.id
         |WHERE bit_count(xor(a.fp, b.fp)) <= 6 ORDER BY 1, 2""".stripMargin,
    "q21_ngram_dups" ->
      s"""WITH d AS (SELECT doc, string_split(lower(text), ' ') AS toks
         |           FROM '$Mat/pages300.parquet/*.parquet'),
         |g AS (SELECT doc, list_distinct(list_transform(
         |        range(1, greatest(len(toks) - 2, 1) + 1),
         |        i -> array_to_string(toks[i:i+2], ' '))) AS grams FROM d),
         |c AS (SELECT a.doc AS ua, b.doc AS ub,
         |             len(list_intersect(a.grams, b.grams)) AS i,
         |             len(a.grams) AS na, len(b.grams) AS nb
         |      FROM g a JOIN g b ON a.doc < b.doc)
         |SELECT ua AS id_a, ub AS id_b, CAST(i AS DOUBLE)/(na+nb-i) AS jaccard
         |FROM c WHERE CAST(i AS DOUBLE)/(na+nb-i) >= 0.4 ORDER BY 1, 2""".stripMargin,
    "q44_window_dups" ->
      s"""WITH d AS (SELECT doc, string_split(lower(text), ' ') AS toks
         |           FROM '$Mat/pages300.parquet/*.parquet'),
         |w AS (SELECT doc, list_distinct(list_transform(
         |        range(1, greatest(len(toks) - 14, 0) + 1),
         |        i -> md5(array_to_string(toks[i:i+14], ' ')))) AS fps FROM d),
         |c AS (SELECT a.doc AS id_a, b.doc AS id_b,
         |             len(list_intersect(a.fps, b.fps)) AS shared_windows
         |      FROM w a JOIN w b ON a.doc < b.doc)
         |SELECT id_a, id_b, CAST(shared_windows AS BIGINT) AS shared_windows
         |FROM c WHERE shared_windows >= 1 ORDER BY 1, 2""".stripMargin,
    "q22_embedding_dups" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM '$Mat/neardup_vectors.parquet/*.parquet')
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE list_cosine_similarity(a.v, b.v) >= 0.9 ORDER BY 1, 2""".stripMargin,
    "q24_ann_lsh" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT query_id, vec_id AS item_id,
        |       list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(qv AS DOUBLE[])) AS c
        |      FROM embeddings, q),
        |r AS (SELECT query_id, item_id, row_number() OVER (PARTITION BY query_id ORDER BY c DESC, item_id ASC) AS rank FROM s)
        |SELECT query_id, item_id, rank FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "q40_ann_ivf" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM '$Mat/ivf_vectors.parquet/*.parquet'),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         |s AS (SELECT query_id, vec_id AS item_id, list_cosine_similarity(v, qv) AS c
         |      FROM e, q),
         |r AS (SELECT query_id, item_id, row_number() OVER (PARTITION BY query_id ORDER BY c DESC, item_id ASC) AS rank FROM s)
         |SELECT query_id, item_id, rank FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "q25_multimodal" ->
      s"""SELECT doc_id, modality, width, sample_rate,
         |CAST(floor(width * least(1.0, 512.0 / greatest(width, height))) AS INT) AS width_resized,
         |16 AS feat_dim
         |FROM '$Mat/mm_meta.parquet/*.parquet' ORDER BY doc_id""".stripMargin,
    // ---- round-trips: the oracle recomputes the expected aggregate from the
    // ---- BASE table; any loss/corruption in the CSV/JSON round-trip breaks it
    "q32_csv_roundtrip" ->
      """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q33_jsonlines_roundtrip" ->
      """SELECT tag, count(*) AS n FROM (
        |  SELECT unnest([p_brand, p_type]) AS tag FROM part
        |) GROUP BY 1 ORDER BY 1""".stripMargin,
    // ---- SQL-text surface
    "q35_sql_text" ->
      """SELECT c_mktsegment, count(*) AS n,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderstatus = 'F' GROUP BY 1 ORDER BY 1""".stripMargin,
    "q36_sql_graft_fn" ->
      """WITH d AS (SELECT doc_id,
        |  list_filter(list_distinct(string_split_regex(lower(text), '[ \t\n\r\f]+')), t -> t <> '') AS toks
        |  FROM documents),
        |j AS (SELECT a.doc_id AS doc_id, len(list_intersect(a.toks, b.toks)) AS i,
        |             len(a.toks) AS na, len(b.toks) AS nb
        |      FROM d a JOIN d b ON b.doc_id = a.doc_id + 1)
        |SELECT doc_id, CAST(i AS DOUBLE) / (na + nb - i) AS tj FROM j ORDER BY doc_id""".stripMargin,
    "q37_sql_preview" ->
      """SELECT o_orderkey, (SELECT count(*) FROM orders) AS total_rows, true AS truncated
        |FROM orders ORDER BY o_orderkey LIMIT 20""".stripMargin,
    "q38_catalog_introspect" ->
      """SELECT column_name AS col_name,
        |CASE lower(column_type)
        |  WHEN 'varchar' THEN 'string' WHEN 'integer' THEN 'int'
        |  WHEN 'float[]' THEN 'array<float>'
        |  ELSE lower(column_type) END AS data_type
        |FROM (DESCRIBE SELECT * FROM documents) ORDER BY col_name""".stripMargin,
    "q39_csv_header_groups" ->
      """SELECT md5('p_partkey,p_brand') AS header_hash, 2 AS n_files,
        |       CAST(200 AS BIGINT) AS n_rows, 2 AS n_cols
        |UNION ALL
        |SELECT md5('p_partkey,p_type'), 1, CAST(50 AS BIGINT), 2
        |ORDER BY 1""".stripMargin,
    // ---- entity resolution: expected frames recomputed from the generator's
    // ---- ground truth — cluster equality is exact because measured F1 = 1.0
    "er_text_extract" ->
      s"""SELECT url, text AS text_extracted
         |FROM '$Mat/pages.parquet/*.parquet' ORDER BY url""".stripMargin,
    "er_edges" ->
      s"""SELECT main_url, sub_url
         |FROM '$Mat/truth.parquet/*.parquet' ORDER BY 1, 2""".stripMargin,
    "er_integrated" ->
      s"""WITH t AS (
         |  SELECT main_url AS u, least(main_url, sub_url) AS m FROM '$Mat/truth.parquet/*.parquet'
         |  UNION ALL
         |  SELECT sub_url, least(main_url, sub_url) FROM '$Mat/truth.parquet/*.parquet')
         |SELECT p.url AS RecordId, p.source AS InputSourceARN, coalesce(t.m, p.url) AS MatchID
         |FROM '$Mat/pages.parquet/*.parquet' p LEFT JOIN t ON p.url = t.u
         |ORDER BY 1""".stripMargin,
    // identical oracle by construction: idBits only changes internal
    // shuffle-key width, never the output contract (IdBitsSpec)
    "er_id128" ->
      s"""WITH t AS (
         |  SELECT main_url AS u, least(main_url, sub_url) AS m FROM '$Mat/truth.parquet/*.parquet'
         |  UNION ALL
         |  SELECT sub_url, least(main_url, sub_url) FROM '$Mat/truth.parquet/*.parquet')
         |SELECT p.url AS RecordId, p.source AS InputSourceARN, coalesce(t.m, p.url) AS MatchID
         |FROM '$Mat/pages.parquet/*.parquet' p LEFT JOIN t ON p.url = t.u
         |ORDER BY 1""".stripMargin,
    "er_incremental" ->
      s"""WITH t AS (
         |  SELECT main_url AS u, least(main_url, sub_url) AS m FROM '$Mat/truth.parquet/*.parquet'
         |  UNION ALL
         |  SELECT sub_url, least(main_url, sub_url) FROM '$Mat/truth.parquet/*.parquet')
         |SELECT p.url AS RecordId, p.source AS InputSourceARN, coalesce(t.m, p.url) AS MatchID
         |FROM '$Mat/pages.parquet/*.parquet' p LEFT JOIN t ON p.url = t.u
         |ORDER BY 1""".stripMargin,
    "er_eval" ->
      s"""SELECT count(*) AS tp, CAST(0 AS BIGINT) AS fp, CAST(0 AS BIGINT) AS fn,
         |1.0 AS "precision", 1.0 AS recall, 1.0 AS f1, 1.0 AS blockingRecall
         |FROM '$Mat/truth.parquet/*.parquet'""".stripMargin,
    "er_block_stats" ->
      s"""WITH k AS (SELECT block_key, count(*) AS n
         |           FROM '$Mat/block_keys.parquet/*.parquet' GROUP BY 1)
         |SELECT count(*) AS n_blocks, CAST(sum(n) AS BIGINT) AS n_rows, max(n) AS max_block FROM k""".stripMargin,
    "q42_time_travel" ->
      """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin,
    "q43_partition_prune" ->
      """SELECT event_type, count(*) AS n,
        |CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS total_value
        |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-15'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS sum_qty,
        |CAST(max(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS max_price,
        |CAST(CAST(min(l_shipdate) AS DATE) AS VARCHAR) AS first_ship
        |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q2_join_agg" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q3_in_broadcast" ->
      """SELECT p_brand, count(*) AS n FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand IN ('Brand#1','Brand#2','Brand#3') GROUP BY 1 ORDER BY 1""".stripMargin,
    "q4_left_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q5_left_semi" ->
      """SELECT c_mktsegment, count(*) AS n FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 1000)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q6_distinct" ->
      "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders ORDER BY 1,2",
    "q7_window_topn" ->
      """SELECT o_custkey, o_orderkey, rnk FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        |  FROM orders) WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin,
    "q8_orderby_limit" ->
      "SELECT o_orderkey FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10",
    "q9_union_prefix" ->
      """SELECT substr(uid,1,2) AS src, count(*) AS n, count(DISTINCT uid) AS n_distinct FROM (
        |  SELECT 'm_' || CAST(o_orderkey AS VARCHAR) AS uid FROM orders
        |  UNION ALL
        |  SELECT 'sub_' || CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR) FROM lineitem
        |) GROUP BY 1 ORDER BY 1""".stripMargin,
    "q10_scalar_funcs" ->
      """SELECT event_id, lower(event_type) AS etype,
        |md5(event_type) AS etype_md5, substr(event_type,1,3) AS etype3,
        |length(event_type) AS etype_len,
        |CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s
        |FROM events ORDER BY event_id""".stripMargin,
    "q11_json" ->
      """SELECT k_value % 10 AS k_mod, count(*) AS n, max(k_value) AS max_k FROM (
        |  SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value FROM events
        |) GROUP BY 1 ORDER BY 1""".stripMargin,
    "q12_date_parts" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS y, CAST(month(o_orderdate) AS INT) AS m, count(*) AS n
        |FROM orders GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q13_missing_ids" ->
      """SELECT p_key FROM (VALUES (1),(2),(99999),(123456)) AS w(p_key)
        |WHERE NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = p_key)
        |ORDER BY p_key""".stripMargin,
    "q14_dedup_exact" ->
      """SELECT md5(text) AS content_md5, min(doc_id) AS keeper, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q15_fingerprint" ->
      """SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q16_token_count" ->
      """SELECT doc_id,
        |len(string_split_regex(lower(text), ' +')) AS n_tokens,
        |len(list_filter(string_split_regex(text, '[^a-zA-Z0-9]+'), t -> t <> '')) AS n_subwords
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q17_quality" ->
      """SELECT doc_id, round(
        |  0.3 * least(length(text) / 500.0, 1.0)
        |+ 0.2 * (1.0 - least((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) / greatest(len(string_split_regex(lower(text),' +')), 1.0), 1.0))
        |+ 0.3 * (length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) / greatest(length(text), 1.0))
        |+ 0.2 * (CASE WHEN (length(text) - len(string_split_regex(lower(text),' +')) + 1.0) / greatest(len(string_split_regex(lower(text),' +')), 1.0) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)
        |, 6) AS quality FROM documents ORDER BY doc_id""".stripMargin,
    "q18_langid" ->
      """WITH s AS (SELECT doc_id, text, string_split_regex(lower(text), ' +') AS toks FROM documents),
        |h AS (SELECT doc_id,
        |  len(list_intersect(toks, ['the','and','of','to','in','is','it','that','for','was'])) AS h_en,
        |  len(list_intersect(toks, ['der','die','das','und','ist','nicht','ein','mit','auf','zu'])) AS h_de,
        |  len(list_intersect(toks, ['le','la','les','et','est','une','dans','que','pour','pas'])) AS h_fr,
        |  len(list_intersect(toks, ['el','la','los','y','es','una','en','que','por','con'])) AS h_es,
        |  regexp_matches(text, '[\u4e00-\u9fff]') AS cjk
        | FROM s)
        |SELECT doc_id, CASE WHEN cjk THEN 'zh'
        |  WHEN h_es > greatest(h_en, h_de, h_fr) THEN 'es'
        |  WHEN h_fr > greatest(h_en, h_de) THEN 'fr'
        |  WHEN h_de > h_en THEN 'de'
        |  WHEN h_en > 0 THEN 'en'
        |  ELSE 'und' END AS lang_pred
        |FROM h ORDER BY doc_id""".stripMargin,
    "q23_ann_brute" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT query_id, vec_id AS item_id,
        |       list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(qv AS DOUBLE[])) AS c
        |      FROM embeddings, q),
        |r AS (SELECT query_id, item_id, row_number() OVER (PARTITION BY query_id ORDER BY c DESC, item_id ASC) AS rank FROM s)
        |SELECT query_id, item_id, rank FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "q27_segment_topn" ->
      """WITH inter AS (
        |  SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS u, CAST(l_partkey AS VARCHAR) AS i
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |cnt AS (SELECT i, count(*) AS cnt FROM inter GROUP BY 1),
        |buyers AS (SELECT i AS target_item, u AS buyer FROM inter WHERE i IN ('1','2','3')),
        |co AS (SELECT b.target_item, x.i AS co_item, count(*) AS co
        |       FROM inter x JOIN buyers b ON x.u = b.buyer WHERE x.i <> b.target_item
        |       GROUP BY 1,2),
        |sim AS (SELECT co.target_item, co.co_item,
        |               (co.co * co.co * 1000000) // (ct.cnt * cc.cnt) AS sim
        |        FROM co JOIN cnt ct ON ct.i = co.target_item
        |                JOIN cnt cc ON cc.i = co.co_item),
        |aff AS (SELECT sim.target_item AS item_id, x.u AS user_id, sum(sim.sim) AS affinity
        |        FROM inter x JOIN sim ON x.i = sim.co_item GROUP BY 1,2),
        |r AS (SELECT item_id, user_id, row_number() OVER (PARTITION BY item_id ORDER BY affinity DESC, user_id ASC) AS rn FROM aff)
        |SELECT item_id, user_id FROM r WHERE rn <= 5 ORDER BY item_id, user_id""".stripMargin,
    "q26_interactions" ->
      """SELECT 'match_' || CAST(o_custkey AS VARCHAR) AS USER_ID,
        |       CAST(o_orderkey AS VARCHAR) AS ITEM_ID,
        |       CAST(epoch(o_orderdate) AS BIGINT) AS TIMESTAMP
        |FROM orders JOIN customer ON o_custkey = c_custkey WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT 'match_' || CAST(o_custkey AS VARCHAR),
        |       'sub_' || CAST(o_orderkey AS VARCHAR),
        |       CAST(epoch(o_orderdate) AS BIGINT)
        |FROM orders JOIN customer ON o_custkey = c_custkey WHERE o_orderstatus = 'O'
        |ORDER BY 1, 2, 3""".stripMargin,
    "q28_anti_existing" ->
      """SELECT item_id, user_id FROM (VALUES ('1','u1'),('2','u2'),('7777777','u3')) AS f(item_id, user_id)
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE CAST(l_partkey AS VARCHAR) = item_id)
        |ORDER BY item_id""".stripMargin,
    "q29_coalesce_outer" ->
      """SELECT coalesce(c_mktsegment, 'NULL') AS segment, count(*) AS n
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q30_having" ->
      """SELECT l_suppkey, count(*) AS n, count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY 1 HAVING count(*) > 500 ORDER BY 1""".stripMargin,
    "q31_from_unixtime" ->
      """SELECT o_orderkey, CAST(CAST(to_timestamp(CAST(floor(epoch(o_orderdate)) AS BIGINT)) AS DATE) AS VARCHAR) AS d
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q41_stream_first_seen" ->
      """WITH r AS (SELECT event_type, event_id, ts,
        |  row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT event_type, event_id AS first_event_id,
        |       CAST(floor(epoch(ts)) AS BIGINT) AS first_epoch
        |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin,
    "q34_stream_window" ->
      """SELECT CAST(floor(epoch(time_bucket(INTERVAL 1 HOUR, ts))) AS BIGINT) AS win_epoch,
        |       event_type, count(*) AS n
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
  )
}
