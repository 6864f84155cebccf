package graft.publish

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Downstream/publish layer — the Spark re-creation of the reference's
 * post-ER dataflow:
 *
 *  - [[interactions]] rebuilds the Personalize interactions dataset SQL
 *    (purchase history ⨝ integrated map, both brands, sub-brand item ids
 *    prefixed `sub_` to avoid collisions; reference:
 *    lambda/create_personalize_dataset_import_job/index.py:35-57, prefix
 *    rule :51, Avro shape lib/personalize.ts:60-82).
 *  - [[segmentTopN]] re-creates the item-based batch segment (top
 *    `numResults` users per item, default 100; reference:
 *    lambda/create_personalize_segment/index.py:14,194-205) as a
 *    deterministic co-purchase-affinity window query.
 *  - [[antiJoinExisting]] is the "skip items whose segments already exist"
 *    dedupe (reference: lambda/create_personalize_segment/index.py:139-141).
 *  - [[publishAtomic]] replaces the reference's delete-then-copy
 *    full-refresh publish (lambda/integrated_customer_updater/index.py:16-86)
 *    with a write-to-temp + atomic-rename swap (an Iceberg snapshot replace
 *    on a real deployment).
 */
object Downstream {

  /**
   * interactions(USER_ID, ITEM_ID, TIMESTAMP) from two purchase tables and
   * the integrated id map. `integrated` must carry (RecordId, MatchID).
   */
  def interactions(mainPurchases: DataFrame, subPurchases: DataFrame,
                   integrated: DataFrame): DataFrame = {
    val map = integrated.select(col("RecordId"), col("MatchID"))
    def side(p: DataFrame, prefixSub: Boolean): DataFrame = {
      val item = if (prefixSub) concat(lit("sub_"), col("item_id")) else col("item_id")
      p.join(map, p("customer_id") === map("RecordId"))
        .select(col("MatchID").as("USER_ID"), item.as("ITEM_ID"),
          col("purchase_date").cast("long").as("TIMESTAMP"))
    }
    side(mainPurchases, prefixSub = false)
      .unionByName(side(subPurchases, prefixSub = true))
  }

  /**
   * Top-N users per item by a trained item-item collaborative-filtering
   * affinity (the deterministic analog of the Personalize solution-version
   * model the reference treats as an opaque service, lib/personalize.ts):
   *
   *   sim(i,j)       = cosine²(i,j) over binary user-item vectors
   *                  = co(i,j)² / (|buyers i|·|buyers j|), in FIXED-POINT
   *                    (ppm, exact integer `div`) so scores — and therefore
   *                    the top-N cut — are bit-identical on any engine and
   *                    any aggregation order (a double sum would make the
   *                    ranking shuffle-order-dependent at ties);
   *   affinity(u,i)  = Σ_{j ∈ items(u), j≠i} sim(i,j)
   *
   * ties broken by user id. Scale shape: co-occurrence is computed only for
   * the requested target items (buyers ⨝ interactions, two hash shuffles);
   * nothing materializes the full |items|² similarity matrix.
   */
  def segmentTopN(interactions: DataFrame, itemIds: Seq[String],
                  numResults: Int = 100): DataFrame = {
    // binary user-item matrix (repeat purchases don't inflate similarity).
    // Materialized once (eager, per-invocation): four consumers (item
    // counts, target buyers, co-occurrence, affinity) otherwise each re-run
    // the upstream interactions scan + distinct shuffle per plan branch.
    val inter = interactions.select(col("USER_ID").as("u"), col("ITEM_ID").as("i"))
      .distinct()
      .localCheckpoint(true)
    val cnt = inter.groupBy(col("i")).agg(count(lit(1)).as("cnt"))
    // buyers of each target item
    val buyers = inter.filter(col("i").isin(itemIds: _*))
      .select(col("i").as("target_item"), col("u").as("buyer"))
    // co-occurrence counts: how many of the target's buyers also bought j
    val co = inter.select(col("u").as("buyer"), col("i").as("co_item"))
      .join(buyers, "buyer")
      .filter(col("co_item") =!= col("target_item"))
      .groupBy("target_item", "co_item")
      .agg(count(lit(1)).as("co"))
    val sim = co
      .join(cnt.select(col("i").as("target_item"), col("cnt").as("cnt_t")), "target_item")
      .join(cnt.select(col("i").as("co_item"), col("cnt").as("cnt_c")), "co_item")
      .select(col("target_item"), col("co_item"),
        // co² in decimal: co*co*1e6 overflows Long once co ≳ 3e6 (Spark
        // would wrap silently under non-ANSI mode → negative sims → wrong
        // top-N, exactly at the scale the fixed-point design targets);
        // decimal(38,0) holds co up to ~1e16. `div` stays integral-exact.
        expr("(cast(co AS decimal(38,0)) * co * 1000000) div (cnt_t * cnt_c)")
          .as("sim"))
    val affinity = inter.select(col("u").as("user_id"), col("i").as("co_item"))
      .join(sim, "co_item")
      .groupBy(col("target_item").as("item_id"), col("user_id"))
      .agg(sum("sim").as("affinity"))
    val w = Window.partitionBy(col("item_id"))
      .orderBy(col("affinity").desc, col("user_id").asc)
    affinity.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= numResults)
      .select("item_id", "user_id")
  }

  /** Drop item ids whose segment rows already exist (left anti join). */
  def antiJoinExisting(newSegments: DataFrame, existing: DataFrame): DataFrame =
    newSegments.join(existing.select("item_id").distinct(), Seq("item_id"), "left_anti")

  /**
   * Atomic full-refresh publish of a `latest` table via a manifest pointer —
   * the minimal Iceberg-snapshot-replace semantic, with no step that leaves
   * readers without a table:
   *
   *   tableDir/snapshots/v<N>/     immutable parquet snapshots
   *   tableDir/latest.manifest     one line: the current snapshot subdir
   *
   * The new snapshot is written to a fresh versioned dir, then the manifest
   * is replaced through a single same-directory file rename. Readers resolve
   * through the manifest, so they see the OLD or the NEW snapshot, never a
   * mix and never an absent table (the reference's delete-then-copy gap,
   * lambda/integrated_customer_updater/index.py:16-86, and the gap a
   * directory-swap would reopen between its two renames). On an object store
   * the manifest replace maps to one atomic single-object PUT. Only the two
   * newest snapshots are retained (in-flight readers may hold the previous
   * one); older ones are pruned.
   */
  def publishAtomic(df: DataFrame, tableDir: String, retain: Int = 2): Unit =
    publishSnapshot(tableDir, retain) { snapPath =>
      df.write.mode(SaveMode.Overwrite).parquet(snapPath)
    }

  /**
   * Partition-spec publish — the Iceberg `days(tsCol)` + `bucket(n, keyCol)`
   * layout (SURVEY §1.4; reference tables declare daily/entity partitioning
   * via Glue, lib/data-storage.ts) realized as hive-style directories inside
   * an atomic snapshot:
   *
   *   snapshots/vN/<tsCol>_day=YYYY-MM-DD/<keyCol>_bucket=B/part-*.parquet
   *
   * `<keyCol>_bucket = pmod(xxhash64(keyCol), nBuckets)` gives co-located,
   * skew-resistant files per entity-hash bucket; `<tsCol>_day` gives static
   * partition pruning for time-range predicates — at 100 TB a
   * `WHERE day = X` query reads 1/365th of the table and Catalyst proves it
   * at plan time (PartitionFilters on the scan, spec-asserted). The two
   * derived columns become real partition columns of the published table.
   */
  def publishPartitionedAtomic(df: DataFrame, tableDir: String,
                               tsCol: String, keyCol: String, nBuckets: Int,
                               retain: Int = 2): Unit =
    publishSnapshot(tableDir, retain) { snapPath =>
      df.withColumn(s"${tsCol}_day", to_date(col(tsCol)))
        .withColumn(s"${keyCol}_bucket", pmod(xxhash64(col(keyCol)), lit(nBuckets)).cast("int"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy(s"${tsCol}_day", s"${keyCol}_bucket")
        .parquet(snapPath)
    }

  /** Write a new snapshot dir, atomically swing the manifest, prune old. */
  private def publishSnapshot(tableDir: String, retain: Int)
                             (write: String => Unit): Unit = {
    require(retain >= 1, s"retain must be >= 1, got $retain")
    val base = Paths.get(tableDir)
    Files.createDirectories(base.resolve("snapshots"))
    val next = 1 + currentVersion(tableDir).getOrElse(0)
    val snap = s"snapshots/v$next"
    write(s"$tableDir/$snap")
    graft.pipeline.Stage.replaceFile(base.resolve("latest.manifest"), snap)
    // prune, keeping the newest `retain` snapshots (in-flight readers may
    // hold recent ones; older history is vacuumed like Iceberg's
    // expire_snapshots)
    (1 to next - retain).foreach { v =>
      val p = base.resolve(s"snapshots/v$v")
      if (Files.exists(p))
        org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
    }
  }

  private def currentVersion(tableDir: String): Option[Int] = {
    val m = Paths.get(tableDir, "latest.manifest")
    if (!Files.exists(m)) None
    else Some(Files.readString(m).trim.stripPrefix("snapshots/v").toInt)
  }

  /** Snapshot versions still on disk (ascending) — the time-travel surface. */
  def snapshots(tableDir: String): Seq[Int] = {
    val dir = Paths.get(tableDir, "snapshots")
    if (!Files.exists(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case n if n.startsWith("v") => n.stripPrefix("v").toInt }
        .toSeq.sorted
      finally s.close()
    }
  }

  /** Time-travel read of a specific retained snapshot version. */
  def readVersion(spark: SparkSession, tableDir: String, version: Int): DataFrame = {
    val p = Paths.get(tableDir, "snapshots", s"v$version")
    require(Files.exists(p),
      s"snapshot v$version not on disk (retained: ${snapshots(tableDir).mkString(",")})")
    spark.read.parquet(p.toString)
  }

  /** Resolve the manifest and read the current snapshot. */
  def readLatest(spark: SparkSession, tableDir: String): DataFrame = {
    val snap = Files.readString(Paths.get(tableDir, "latest.manifest")).trim
    spark.read.parquet(s"$tableDir/$snap")
  }
}
