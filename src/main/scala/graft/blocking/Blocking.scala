package graft.blocking

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.pipeline.Stage

/**
 * Multi-pass blocking: the candidate-generation layer of the record-linkage
 * pipeline. The reference declares this away inside AWS Entity Resolution's
 * ML_MATCHING (reference: lib/entity-resolution-service.ts:142-183); here it
 * is explicit, typed, and skew-aware.
 *
 * Passes (north rule):
 *   1. normalized-domain key — catches same-site mirrors cheaply;
 *   2. MinHash-LSH bands over text shingles — content-based, catches matches
 *      whose domains are unrelated;
 *   3. sorted-neighborhood over url tokens — order-based, catches near-equal
 *      slugs.
 *
 * Record identity: every record is dictionary-encoded to a 64-bit id
 * (xxhash64(url), audited for collisions at the pipeline layer) BEFORE
 * blocking, and all block keys are themselves 64-bit hashes — so the key
 * stream, the candidate-pair stream, and every downstream shuffle carry
 * 8-byte longs instead of url/key strings. A hash collision between two
 * distinct BLOCK keys merely adds candidate pairs (scored exactly later):
 * recall can only go up, precision is unaffected.
 *
 * Skew handling: hot blocking keys (Zipf domain head) would make pair
 * generation quadratic. Oversized blocks are re-keyed hierarchically —
 * `domain` → `hash(domain, title-prefix)` — which preserves true pairs
 * (titles of matching pages agree) while bounding block size. Residual
 * oversized blocks are dropped WITH a logged metric (never silently). AQE
 * skew-join splitting stays on as a backstop for the join shuffles.
 *
 * Determinism: every key is a pure function of row content (never of
 * partitioning), so the candidate set — and therefore the final clusters —
 * is identical at any parallelism level (local[8] ≡ local[32]).
 */
object Blocking {

  case class Config(
      minhashHashes: Int = 15,
      minhashBandSize: Int = 3, // rows per band → hashes/bandSize bands
      shingleSize: Int = 2,
      maxBlock: Int = 64, // max records per key before hierarchical re-key
      titlePrefixLen: Int = 12,
      snWindow: Int = 4, // sorted-neighborhood window
      snBucketLen: Int = 3) // sort-key prefix length defining SN buckets

  /** Registered-domain key: strip scheme, mobile/amp/www prefixes, TLD. */
  def domainKey(url: Column): Column = {
    val host = regexp_extract(url, "^[a-z]+://([^/]+)", 1)
    val noSub = regexp_replace(host, "^(www|m|amp|mobile|web)\\.", "")
    regexp_replace(noSub, "\\.[a-z]+$", "")
  }

  /** Pass 1+2 keys per record (domain + LSH bands), before re-keying.
    * Expects precomputed `id` (64-bit record id) and `sig` (minhash
    * signature) columns — computed once in the normalize stage and
    * persisted, never per-pass. Keys are emitted as 64-bit hashes with
    * bit 63 CLEARED (natural keys ≥ 0); [[reKey]] sets bit 63 (re-keys
    * < 0). The disjoint keyspaces make "was this row re-keyed" a pure
    * predicate of the key itself, which lets sizes2 be DERIVED from
    * raw_counts plus an agg over only the re-keyed minority instead of
    * re-aggregating the full key stream ([[writeBlockTables]]). Losing one
    * hash bit merely doubles the (negligible, ~2⁻⁶³/pair) block-key
    * collision rate, and a block-key collision only ever ADDS candidate
    * pairs — recall up, precision untouched (pairs are scored exactly). */
  private def rawKeys(records: DataFrame, cfg: Config): DataFrame = {
    val bands = cfg.minhashHashes / cfg.minhashBandSize
    val bandKeys = (0 until bands).map { b =>
      xxhash64(lit(b + 1),
        xxhash64(slice(col("sig"), b * cfg.minhashBandSize + 1, cfg.minhashBandSize)))
        .bitwiseAND(lit(Long.MaxValue))
    }
    val domain = records.select(col("id"), col("source"),
      xxhash64(lit(0), col("domain_key")).bitwiseAND(lit(Long.MaxValue))
        .as("block_key"),
      col("title_norm"))
    val lsh = records
      .select(col("id"), col("source"),
        explode(array(bandKeys: _*)).as("block_key"), col("title_norm"))
    domain.unionByName(lsh)
  }

  /**
   * (id, source, block_key) after hierarchical re-keying of oversized
   * blocks, plus a one-row stats frame for the metrics/lineage table.
   */
  def blockKeys(records: DataFrame, cfg: Config = Config()): (DataFrame, DataFrame) = {
    val (kept, stats, _, _) = blockKeysWithCounts(records, cfg)
    (kept, stats)
  }

  private[graft] def statsOf(sizes2: DataFrame, cfg: Config): DataFrame = sizes2.agg(
    count(lit(1)).as("n_blocks"),
    coalesce(sum("n"), lit(0L)).as("n_block_rows"),
    coalesce(max("n"), lit(0L)).as("max_block"),
    coalesce(sum(when(col("n") > cfg.maxBlock * 4L, col("n"))
      .otherwise(lit(0L))), lit(0L)).as("dropped_rows"))

  private def reKey(cfg: Config): Column =
    xxhash64(col("block_key"), substring(col("title_norm"), 1, cfg.titlePrefixLen))
      .bitwiseOR(lit(Long.MinValue)) // bit 63 set: re-keyed keyspace (< 0)

  /** (id, source, block_key) of `raw`, re-keyed where the block is in
    * `oversized` (block_key, n). That list is tiny (Zipf head), so it
    * broadcasts — no extra shuffle of the key stream. */
  private def reKeyOversized(raw: DataFrame, oversized: DataFrame, cfg: Config): DataFrame =
    raw.join(broadcast(oversized), Seq("block_key"), "left")
      .withColumn("block_key",
        when(col("n").isNull, col("block_key")).otherwise(reKey(cfg)))
      .select("id", "source", "block_key")

  /** [[blockKeys]] plus the two count tables the incremental path maintains
    * additively: `rawCounts` (raw block_key → n, BEFORE re-keying) and
    * `sizes2` (final block_key → n, BEFORE the still-hot drop). Persisting
    * them is what lets a batch fold update keys in O(batch + crossed)
    * instead of recomputing the key stream over the whole corpus. */
  def blockKeysWithCounts(records: DataFrame, cfg: Config = Config())
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val raw = rawKeys(records, cfg)
    // Block sizes: cheap partial-aggregated count vs the quadratic cost a
    // hot block would cause downstream.
    val rawCounts = raw.groupBy("block_key").agg(count(lit(1)).as("n"))
    val keyed = reKeyOversized(raw, rawCounts.filter(col("n") > cfg.maxBlock), cfg)
    val sizes2 = keyed.groupBy("block_key").agg(count(lit(1)).as("n"))
    val stillHot = sizes2.filter(col("n") > cfg.maxBlock * 4L)
    val kept = keyed.join(broadcast(stillHot), Seq("block_key"), "left_anti")
    (kept, statsOf(sizes2, cfg), rawCounts, sizes2)
  }

  /** Materialize the three persisted block tables (raw_counts, sizes2, keys)
    * under `dir` with exactly TWO explode-scans of the records table instead
    * of the ~six that writing the [[blockKeysWithCounts]] lineage three times
    * costs (each write job re-derives scan→explode→agg, and each broadcast
    * subtree re-derives it again inside the job — separate actions never
    * share exchanges). The extra `keyed_all` stage file is per-run scratch:
    * both remaining consumers (sizes2 derivation, still-hot anti-join) scan
    * it as cheap columnar (id, source, block_key), and it is deleted once
    * keys.parquet lands. Table contents are bit-identical to the lineage
    * writes (spec-asserted): keys/raw_counts are the same operator trees cut
    * at durable boundaries; sizes2 is derived from raw_counts plus the
    * re-keyed minority via the disjoint-keyspace invariant ([[rawKeys]]) —
    * measured 2.74 → 1.8 task-s and 22.7 → 2.9 MB shuffle at 450 k pages.
    * The still-hot gate (rename keyed_all, or anti-join the still-hot keys)
    * reads an observed count on the sizes2 write itself: one job, on the
    * calling thread, with no separate gate job or writer thread. Every
    * table is written with [[Stage.write]]; returns the (keys, sizes2)
    * tables as read back from `dir`. */
  def writeBlockTables(records: DataFrame, dir: String, cfg: Config): (DataFrame, DataFrame) = {
    val raw = rawKeys(records, cfg)
    val rawCounts = Stage.write(raw.groupBy("block_key").agg(count(lit(1)).as("n")),
      s"$dir/raw_counts.parquet")
    val keyedPath = s"$dir/keyed_all.parquet"
    val keyed = Stage.write(
      reKeyOversized(raw, rawCounts.filter(col("n") > cfg.maxBlock), cfg), keyedPath)
    // sizes2 DERIVED, not re-aggregated: a keyed row kept its natural key
    // (≥ 0) iff its raw block was small, so those counts are raw_counts
    // verbatim; only the re-keyed minority (< 0, the Zipf head's rows) needs
    // counting. Replaces a full-stream hash-agg — the memory-bound stage
    // family that inflates under concurrency — with a columnar filter-scan
    // of raw_counts plus a small agg (keyspace disjointness per [[rawKeys]];
    // the staged≡lineage spec asserts equality against the direct groupBy).
    val sizes2df = rawCounts.filter(col("n") <= cfg.maxBlock)
      .unionByName(keyed.filter(col("block_key") < 0)
        .groupBy("block_key").agg(count(lit(1)).as("n")))
    // The still-hot gate rides the sizes2 write as an observed count: no
    // second job re-derives sizes2 for it, and no `isEmpty` plan, whose
    // LocalLimit is named from a JVM-wide counter and so is new generated
    // code on every call, misses the codegen cache.
    val gate = new org.apache.spark.sql.Observation()
    val sizes2 = Stage.write(
      sizes2df.observe(gate, count(when(col("n") > cfg.maxBlock * 4L, 1)).as("still_hot")),
      s"$dir/sizes2.parquet")
    val stillHot = sizes2.filter(col("n") > cfg.maxBlock * 4L)
    // the observation arrives via the (async) execution-listener bus;
    // bounded wait, with a read of the written file as a never-wrong fallback
    val stillHotIsEmpty = try {
      val row = scala.concurrent.Await.result(gate.future,
        scala.concurrent.duration.Duration(10, "s"))
      row.getLong(row.fieldIndex("still_hot")) == 0L
    } catch { case _: java.util.concurrent.TimeoutException => stillHot.isEmpty }
    val keysPath = s"$dir/keys.parquet"
    val keys = if (stillHotIsEmpty) {
      // nothing to drop: keys == keyed_all row-for-row — promote the scratch
      // table with a directory rename instead of rewriting the full stream
      val keysFile = new java.io.File(keysPath)
      org.apache.commons.io.FileUtils.deleteQuietly(keysFile)
      if (!new java.io.File(keyedPath).renameTo(keysFile))
        throw new java.io.IOException(s"rename $keyedPath -> $keysFile failed")
      records.sparkSession.read.schema(keyed.schema).parquet(keysPath)
    } else {
      val k = Stage.write(keyed.join(broadcast(stillHot), Seq("block_key"), "left_anti"),
        keysPath)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(keyedPath))
      k
    }
    (keys, sizes2)
  }

  /** The schemas [[writeBlockTables]] and [[mergeBlockKeys]] write for
    * `records`: of the keys table and its chain's deltas, and of the count
    * tables (raw_counts, sizes2). Taken from the plans that write them, by
    * analysis alone, so a fold reads its prior tables without a
    * schema-inference job. */
  private[graft] def tableSchemas(records: DataFrame, cfg: Config): (StructType, StructType) = {
    val raw = rawKeys(records, cfg)
    val counts = raw.groupBy("block_key").agg(count(lit(1)).as("n"))
    (reKeyOversized(raw, counts, cfg).schema, counts.schema)
  }

  /**
   * Additive key maintenance — the 10¹²-scale path the keys scaladoc
   * promises: fold a batch into the prior run's (keys, rawCounts, sizes2)
   * state WITHOUT touching the old key stream, exactly reproducing
   * `blockKeys(old ∪ batch)`. Everything computed here is batch-, crossed-,
   * or counts-table-sized; the only full-width input is a column-pruned scan
   * of the prior keys table itself (for assembly and crossed membership).
   *
   * Exactness rests on counts being MONOTONE under append-only batches:
   *   - a raw block crossing `maxBlock` re-keys ALL its rows; its old
   *     members still carry the raw key in priorKeys (the block was small
   *     before, and raw keys are never still-hot-dropped since
   *     n ≤ maxBlock < 4·maxBlock), so they are found by one broadcast
   *     semi-join — no full-table diff;
   *   - a prior-oversized block only grows, so its old rows stay re-keyed
   *     verbatim;
   *   - second-level counts only grow (rows never leave a re-keyed block),
   *     so prior still-hot keys stay hot and prior-dropped rows stay
   *     dropped; keys newly crossing `4·maxBlock` strip their old holders
   *     (reported in `changedOldIds` so the pipeline re-derives those
   *     records' candidates).
   *
   * Returns (keysAll, stats, changedOldIds) where `changedOldIds` are the
   * OLD records whose key set differs from the prior run — the exact seed
   * set the incremental pipeline must re-score.
   *
   * The tables the NEXT fold reads as prior state — raw_counts, sizes2,
   * and the keys chain's keys_delta / keys_tombstones (chain note below) —
   * are written under `dir` with [[Stage.write]], as [[writeBlockTables]]
   * writes a full resolve's, and read on from there; each is durable when
   * this returns. Per-fold scratch that feeds several actions but no future
   * fold (crossed blocks, re-keyed rows, changed ids) is materialized with
   * an eager localCheckpoint only: a lazy plan would re-run the whole merge
   * per consuming action (measured 2.3x a full key recompute).
   */
  def mergeBlockKeys(priorKeys: DataFrame, priorRawCounts: DataFrame,
                     priorSizes2: DataFrame, newRecords: DataFrame,
                     records: DataFrame, cfg: Config, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    def stage(name: String, df: DataFrame) = Stage.write(df, s"$dir/$name.parquet")
    val rawBatch = rawKeys(newRecords, cfg) // cheap per-row derivation of the batch file
    val batchCounts = rawBatch.groupBy("block_key").agg(count(lit(1)).as("n"))
    val rawCountsAll = stage("raw_counts",
      priorRawCounts.unionByName(batchCounts)
        .groupBy("block_key").agg(sum("n").as("n")))
    val oversizedAll = rawCountsAll.filter(col("n") > cfg.maxBlock)
    // raw blocks the batch pushed over the size class (counts only grow).
    // Per-fold SCRATCH (multi-consumer but not next-fold state): an eager
    // localCheckpoint materializes it once, with no durable write
    val crossed = oversizedAll
      .join(priorRawCounts.filter(col("n") <= cfg.maxBlock).select("block_key"),
        Seq("block_key"), "left_semi")
      .select("block_key")
      .localCheckpoint(true)
    val oldCrossedRows = priorKeys
      .join(broadcast(crossed), Seq("block_key"), "left_semi")
    val title = records.select(col("id"), col("title_norm"))
    // oldReKeyed and batchKeyed each feed BOTH the sizes2 stage and the
    // keys_delta stage — lazy, each stage's job recomputed them (including
    // a records-table scan and a prior-keys chain scan per recompute).
    // Eager per-fold scratch, same discipline as `crossed`: crossed-block-
    // and batch-sized frames, one materialization each.
    val oldReKeyed = oldCrossedRows.join(title, "id")
      .withColumn("block_key", reKey(cfg))
      .select("id", "source", "block_key")
      .localCheckpoint(true)
    val batchKeyed = reKeyOversized(rawBatch, oversizedAll, cfg).localCheckpoint(true)
    def counted(df: DataFrame) = df.groupBy("block_key").agg(count(lit(1)).as("n"))
    val sizes2All = stage("sizes2", priorSizes2
      .join(broadcast(crossed), Seq("block_key"), "left_anti") // key vanished: all rows re-keyed
      .unionByName(counted(oldReKeyed))
      .unionByName(counted(batchKeyed))
      .groupBy("block_key").agg(sum("n").as("n")))
    val stillHotAll = sizes2All.filter(col("n") > cfg.maxBlock * 4L)
    val newlyHot = stillHotAll
      .join(priorSizes2.filter(col("n") > cfg.maxBlock * 4L),
        Seq("block_key"), "left_anti")
      .select("block_key")
    val hotChangedIds = priorKeys
      .join(broadcast(newlyHot), Seq("block_key"), "left_semi")
      .select("id")
    // scratch, same as `crossed`: feeds scoring/edge-filter/clustering this
    // fold only, never read by the next one
    val changedOldIds = oldCrossedRows.select("id").union(hotChangedIds)
      .distinct().localCheckpoint(true)
    // The keys table is maintained as a MANIFEST CHAIN, not a rewrite: the
    // fold stages only a batch+crossed-sized DELTA (the re-keyed old rows
    // plus the batch's rows, minus still-hot drops) and a tiny TOMBSTONE
    // table (block keys whose prior rows are all superseded: raw blocks
    // that crossed the re-key class, plus newly-hot keys). The caller
    // appends both paths to the keys chain of its state manifest; readers
    // assemble (Stage.read)
    //   keys = union(chain files) ANTI-JOIN broadcast(union(tombstones)).
    // Equivalence with the full rewrite: prior rows of previously-still-hot
    // keys are already absent from the chain (dropped by the fold that saw
    // them cross), so tombstoning (crossed ∪ newlyHot) on the prior frame
    // equals the rewrite's anti-joins — spec-gated against the full
    // recompute (BlockingSpec). This is the O(batch)-per-fold shape the
    // 10^12-record lifecycle needs: no per-fold O(corpus) key rewrite.
    val keysDelta = stage("keys_delta",
      oldReKeyed.unionByName(batchKeyed)
        .join(broadcast(stillHotAll.select("block_key")), Seq("block_key"), "left_anti"))
    val tombstones = stage("keys_tombstones",
      crossed.unionByName(newlyHot).distinct())
    val keysAll = priorKeys
      .join(broadcast(tombstones), Seq("block_key"), "left_anti")
      .unionByName(keysDelta)
    (keysAll, statsOf(sizes2All, cfg), changedOldIds)
  }

  /** Cross-source candidate pairs (main_id, sub_id) from shared block keys. */
  def candidatePairs(keys: DataFrame): DataFrame =
    candidatePairsRaw(keys).distinct()

  /** [[candidatePairs]] WITHOUT the dedup shuffle — one duplicate per extra
    * shared key (e.g. LSH bands of a matching pair). For a consumer that
    * dedups downstream anyway (the resolve pipeline unions these with the
    * sorted-neighborhood pass and distincts ONCE), the inner distinct is a
    * redundant full shuffle of the pair stream: its input is the same raw
    * join output the outer distinct would absorb, map-side partial
    * aggregation already collapses same-block duplicates before either
    * shuffle, and pair rows are 16-byte id pairs. */
  private[graft] def candidatePairsRaw(keys: DataFrame): DataFrame = {
    val a = keys.filter(col("source") === "main").select(col("block_key"), col("id").as("main_id"))
    val b = keys.filter(col("source") === "sub").select(col("block_key"), col("id").as("sub_id"))
    a.join(b, "block_key").select("main_id", "sub_id")
  }

  /** Cross-source candidate pairs where AT LEAST ONE side is a new record —
    * the incremental-batch variant of [[candidatePairsRaw]], likewise
    * without a dedup shuffle (the incremental pipeline distincts once after
    * unioning with its sorted-neighborhood seed pairs). `keysNew` must be
    * the subset of `keysAll` belonging to the new batch; old×old pairs are
    * never generated, so pair-scoring work per batch is proportional to the
    * batch's block overlap, not the corpus.
    *
    * `broadcastNew = true` hints the (batch-bounded) keysNew side broadcast
    * in both branches, so the corpus-wide keysAll side STREAMS instead of
    * being hash-shuffled by block_key per branch — the caller gates it on
    * batch size (stage-profiled: un-hinted, each branch shuffled the full
    * keys table to join a set thousands of times smaller). */
  private[graft] def candidatePairsInvolvingRaw(keysNew: DataFrame,
                                                keysAll: DataFrame,
                                                broadcastNew: Boolean = false): DataFrame = {
    def side(keys: DataFrame, src: String, as: String) =
      keys.filter(col("source") === src).select(col("block_key"), col("id").as(as))
    def newSide(src: String, as: String) = {
      val s = side(keysNew, src, as)
      if (broadcastNew) broadcast(s) else s
    }
    newSide("main", "main_id").join(side(keysAll, "sub", "sub_id"), "block_key")
      .select("main_id", "sub_id")
      .union(side(keysAll, "main", "main_id")
        .join(newSide("sub", "sub_id"), "block_key")
        .select("main_id", "sub_id"))
  }

  /**
   * Pass 3 — sorted-neighborhood over url tokens, emitted directly as
   * cross-source (main_id, sub_id) pairs. Deterministic scale-out: records
   * are bucketed by a content-defined prefix of `sort_key` (never by sampled
   * range bounds, so the pair set is independent of input partitioning),
   * each bucket is sorted, and every record pairs with its `snWindow`
   * in-bucket predecessors. Work per bucket is LINEAR (w·|bucket|), so even
   * a hot bucket cannot go quadratic. Cross-bucket neighbors are
   * intentionally not paired: records that match share an identical sort key
   * (same slug tokens) and always land in the same bucket.
   */
  def sortedNeighborhoodPairs(records: DataFrame, cfg: Config = Config()): DataFrame =
    sortedNeighborhoodPairsWithBucket(records, cfg).select("main_id", "sub_id")

  /** [[sortedNeighborhoodPairs]] carrying each pair's (content-defined)
    * bucket — both members share it by construction. The exposed bucket
    * makes the SN pass's BUCKET-LOCALITY testable: a bucket's pair set is a
    * pure function of that bucket's record set alone (spec-gated,
    * BlockingSpec). That property is what lets the incremental path
    * ([[graft.pipeline.EntityResolution.resolveIncremental]]) recompute SN
    * only over buckets containing a new/key-changed record and treat every
    * other bucket's prior pairs as exact.
    *
    * Implementation note (a determinism POSTMORTEM, round 4): this pass
    * was a `repartition(bucket) → sortWithinPartitions → mapPartitions`
    * sliding-window scan. The repartition was ADVISORY: when a consumer
    * computed SN over a semi-joined record subset (the incremental path),
    * Catalyst collapsed the user repartition into the join's
    * ENSURE_REQUIREMENTS exchange — and when AQE then converted that join
    * to a broadcast join, the exchange vanished entirely, leaving the
    * stateful scan running over raw FILE SPLITS. A bucket spanning two
    * splits produced fragment-local windows: the pair set depended on the
    * parquet file layout (measured: ±3% of SN pairs flipping between two
    * byte-identical-content prior states), and the incremental fold could
    * silently MISS pairs a full run generates. The fix is structural, not
    * a tweak: the scan is now a SQL window aggregate — `WindowExec`
    * DECLARES ClusteredDistribution(bucket) as its required child
    * distribution, which the planner and AQE must always satisfy, so the
    * bucket co-location is part of the operator's contract instead of an
    * advisory hint. (Also faster: no DeserializeToObject/object row in the
    * hot path, and one code path serves both 64-bit long and 128-bit
    * binary ids.) */
  def sortedNeighborhoodPairsWithBucket(records: DataFrame,
                                        cfg: Config = Config()): DataFrame = {
    // ≤ snWindow PREDECESSORS of each record in (sort_key, id) order within
    // the record's content-defined bucket — ties impossible (ids unique),
    // so the order, and therefore the pair set, is a pure content function
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy("sort_key", "id")
      .rowsBetween(-cfg.snWindow, -1)
    // No dedup shuffle: the emission is unique BY CONSTRUCTION (spec-gated,
    // BlockingSpec). Each record belongs to exactly one content-defined
    // bucket (its own sort-key prefix) and record ids are unique (the
    // pipeline's dictionary audit), so a pair can only form in one bucket;
    // within a bucket the sliding frame emits (earlier, later) exactly once
    // — when `later` is current with `earlier` still inside the frame.
    // Uniqueness is what the incremental drift diff's exceptAll set
    // semantics rely on.
    records
      .select(substring(col("sort_key"), 1, cfg.snBucketLen).as("bucket"),
        col("sort_key"), col("id"), col("source"))
      .withColumn("pred",
        collect_list(struct(col("id").as("pid"), col("source").as("psrc"))).over(w))
      .select(col("bucket"), col("id"), col("source"), explode(col("pred")).as("p"))
      .filter(col("p.psrc") =!= col("source"))
      .select(col("bucket"),
        when(col("p.psrc") === "main", col("p.pid")).otherwise(col("id")).as("main_id"),
        when(col("p.psrc") === "main", col("id")).otherwise(col("p.pid")).as("sub_id"))
  }
}
