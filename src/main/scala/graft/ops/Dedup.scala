package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/**
 * Large-scale training-data deduplication operators. All are content-keyed
 * (never partition-dependent), shuffle on the dedup key only, and bound
 * candidate-pair fan-out by blocking — the same skew discipline as the ER
 * blocking layer (graft.blocking.Blocking).
 *
 * The four text families share one candidate chain, [[bucketPairs]]:
 * bucket keys → drop buckets above the family's cap → self-join on the
 * bucket with `id_a < id_b`; each keeps its own feature checkpoint, pair
 * dedup and exact verification. A cap drop is never silent: each
 * `*WithStats` returns the one-row stats frame (n_buckets / n_bucket_rows
 * / max_bucket / hot_buckets / dropped_rows). [[embeddingCosine]] shares
 * its sign-LSH bucket builders with [[Ann.lshTopK]] instead.
 *
 * Every fuzzy operator here is verified against a brute-force oracle on the
 * deterministic test corpus (driver CORRECTNESS rows + OpsSpec recall
 * gates): the bucketed candidate generation must reproduce the exact
 * brute-force pair set at the advertised threshold.
 */
object Dedup {

  /** The text families' bucket-pair core. Rows of `keyed` (`id`, `key`
    * and the `carry` columns) whose `key` holds more than `cap` rows are
    * dropped; the rest are self-joined on `key` with `id_a < id_b`, each
    * `carry` column `c` arriving as `c_a` / `c_b`. A pair appears once per
    * shared bucket; the caller dedups. Returns the pairs and a one-row
    * stats frame, so a drop is metered, never silent — the same discipline
    * as `Blocking.blockKeys`. */
  private[ops] def bucketPairs(keyed: DataFrame, key: String, cap: Int,
                               carry: String*): (DataFrame, DataFrame) = {
    val sizes = keyed.groupBy(key).agg(count(lit(1)).as("n"))
    val hot = sizes.filter(col("n") > cap)
    val stats = sizes.agg(
      count(lit(1)).as("n_buckets"),
      coalesce(sum("n"), lit(0L)).as("n_bucket_rows"),
      coalesce(max("n"), lit(0L)).as("max_bucket"),
      coalesce(sum(when(col("n") > cap, lit(1L)).otherwise(lit(0L))), lit(0L))
        .as("hot_buckets"),
      coalesce(sum(when(col("n") > cap, col("n")).otherwise(lit(0L))), lit(0L))
        .as("dropped_rows"))
    val cool = keyed.join(broadcast(hot), Seq(key), "left_anti")
    def side(s: String) = cool.select(
      col(key) +: col("id").as(s"id_$s") +: carry.map(c => col(c).as(s"${c}_$s")): _*)
    val pairs = side("a").join(side("b"), key)
      .filter(col("id_a") < col("id_b"))
      .select(("id_a" +: "id_b" +: carry.flatMap(c => Seq(s"${c}_a", s"${c}_b"))).map(col): _*)
    (pairs, stats)
  }

  /**
   * Exact dedup by content hash: one surviving row per md5(text), the
   * survivor being the smallest id (deterministic). Single hash-shuffle,
   * map-side partial aggregation.
   */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col("content_md5")).orderBy(col(idCol))
    df.withColumn("content_md5", md5(col(textCol).cast("binary")))
      .withColumn("rn", row_number().over(w))
      .withColumn("is_duplicate", col("rn") > 1)
      .drop("rn")
  }

  /**
   * MinHash + LSH near-duplicate pairs: signature → band keys → bucket join
   * → verify with exact token-Jaccard ≥ tau.
   *
   * Scale shape: per-document features (minhash signature, sorted token-hash
   * set) are computed once in the scan stage; ONLY (id, 8-byte band key)
   * rows flow through the band shuffle; candidate pairs are `distinct`ed
   * BEFORE the exact-scoring join, so each surviving pair is scored exactly
   * once against the compact token-hash arrays — raw text never shuffles.
   */
  def minhashLsh(df: DataFrame, textCol: String, idCol: String,
                 tau: Double = 0.7, numHashes: Int = 16, bandSize: Int = 2,
                 shingle: Int = 2, maxBucket: Int = 1000): DataFrame =
    minhashLshWithStats(df, textCol, idCol, tau, numHashes, bandSize,
      shingle, maxBucket)._1

  /** [[minhashLsh]] plus a one-row stats frame (n_buckets / hot_buckets /
    * dropped_rows) — hot-bucket drops are never silent at 100 TB (the same
    * discipline as `Blocking.blockKeys`). */
  def minhashLshWithStats(df: DataFrame, textCol: String, idCol: String,
                 tau: Double = 0.7, numHashes: Int = 16, bandSize: Int = 2,
                 shingle: Int = 2, maxBucket: Int = 1000): (DataFrame, DataFrame) = {
    val bands = numHashes / bandSize
    val norm = ascii_lower(col(textCol))
    // Per-doc features (minhash signature + packed token set) in ONE scan
    // pass over the raw text, materialized eagerly: the lazy shape
    // re-planned the text scan per consumer branch — minhash_sig ran over
    // the corpus FOUR times (bucket histogram + both self-join sides) and
    // pack_tokens twice, six full text passes for one logical scan.
    // localCheckpoint, not persist: recomputed per invocation (no
    // cross-invocation plan-cache reuse), spills via MEMORY_AND_DISK, and
    // only the compact (~0.5 KB/doc) feature rows are held — raw text never
    // leaves the scan stage, as before.
    val feats = df.select(col(idCol).as("id"),
        minhash_sig(norm, shingle, numHashes).as("sig"),
        pack_tokens(norm, 32).as("tok"))
      .localCheckpoint()
    val bandKeys = (0 until bands).map { b =>
      xxhash64(lit(b + 1), xxhash64(slice(col("sig"), b * bandSize + 1, bandSize)))
    }
    val (bandPairs, stats) = bucketPairs(
      feats.select(col("id"), explode(array(bandKeys: _*)).as("bucket")), "bucket", maxBucket)
    val cand = bandPairs.distinct() // dedup band collisions BEFORE the expensive exact stage
    // exact stage joins PACKED token sets (delta+varint, ~2x fewer bytes
    // than raw long arrays — see Sim.packTokenHashes for the truncation
    // exactness math); jaccard values equal the 64-bit computation on any
    // corpus whose distinct-token universe is collision-free at 32 bits
    // (spec-gated for the generator vocabulary). Read from the one-pass
    // feature table — not a fresh text scan per join side.
    val pairs = cand
      .join(feats.select(col("id").as("id_a"), col("tok").as("tok_a")), "id_a")
      .join(feats.select(col("id").as("id_b"), col("tok").as("tok_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        packed_jaccard(col("tok_a"), col("tok_b")).as("jaccard"))
      .filter(col("jaccard") >= tau)
    (pairs, stats)
  }

  /**
   * SimHash near-duplicate pairs: 64-bit fingerprint, banded into 8×8-bit
   * keys. By pigeonhole, any pair within hamming distance ≤ 7 shares at
   * least one band — so for `maxHamming ≤ 7` the banding is a LOSSLESS
   * candidate generator and the output equals the brute-force pair set
   * (enforced: callers asking for a larger budget than the banding can
   * guarantee fail fast instead of silently losing recall).
   */
  def simhash(df: DataFrame, textCol: String, idCol: String,
              maxHamming: Int = 3, maxBucket: Int = 10000): DataFrame =
    simhashWithStats(df, textCol, idCol, maxHamming, maxBucket)._1

  /** [[simhash]] plus a one-row stats frame — hot-band drops are metered,
    * never silent (mirrors `Blocking.blockKeys`). */
  def simhashWithStats(df: DataFrame, textCol: String, idCol: String,
              maxHamming: Int = 3, maxBucket: Int = 10000): (DataFrame, DataFrame) = {
    require(maxHamming <= 7,
      s"8x8-bit banding guarantees recall only for hamming <= 7, got $maxHamming")
    val fp = simhash64(ascii_lower(col(textCol)))
    // one text pass: the (id, fp) table is 16 bytes/doc — materialized
    // eagerly so the band histogram and both self-join sides read it instead
    // of re-running the simhash scan per plan branch (same single-scan
    // discipline as [[minhashLshWithStats]])
    val withFp = df.select(col(idCol).as("id"), fp.as("fp")).localCheckpoint()
    val banded = withFp.select(col("id"), col("fp"),
      explode(array((0 until 8).map(b =>
        xxhash64(lit(b + 1),
          shiftright(col("fp"), b * 8).bitwiseAND(lit(0xffL)))): _*))
        .as("bucket"))
    val (bandPairs, stats) = bucketPairs(banded, "bucket", maxBucket, "fp")
    val pairs = bandPairs.distinct()
      .select(col("id_a"), col("id_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
    (pairs, stats)
  }

  /**
   * Word n-gram Jaccard near-dup pairs with cheap length blocking. Jaccard
   * ≥ tau on gram SETS implies near-equal gram counts, and near-duplicate
   * documents have near-equal token counts, so pairing only adjacent length
   * buckets keeps candidates linear while preserving recall for same-length
   * perturbed copies.
   *
   * Both halves are compiled kernels. `word_ngrams` cuts each gram as a
   * byte range of the lowered text and returns the distinct grams sorted
   * in byte order; `sorted_jaccard` counts the intersection in one merge
   * walk over two such sets. They are exact against the composition they
   * replace — `transform(sequence(..), i -> array_join(slice(split(t, ' '),
   * i, n), ' '))` with `size(array_intersect)/size(array_union)`, which
   * Spark runs in its interpreter (`transform` is CodegenFallback): the
   * tokens of a space split hold no space, so a joined slice IS a byte
   * range, and the two counts are the same integers (SimSpec checks both).
   *
   * Length classes CONCENTRATE on real corpora (most crawled pages cluster
   * in a few ~10-token-wide classes), so an uncapped length-bucket self-join
   * goes quadratic at scale: buckets above `maxBucket` rows are dropped with
   * a metered count — the same hot-key discipline as [[minhashLshWithStats]]
   * / [[simhashWithStats]], never silent.
   */
  def ngramJaccard(df: DataFrame, textCol: String, idCol: String,
                   n: Int = 3, tau: Double = 0.5,
                   maxBucket: Int = 5000): DataFrame =
    ngramJaccardWithStats(df, textCol, idCol, n, tau, maxBucket)._1

  /** The token count of `split(txt, ' ')` (empty tokens kept) without
    * building the token array: one more than the number of spaces. */
  private[graft] def spaceTokens(txt: Column): Column =
    length(txt) - length(replace(txt, lit(" "), lit(""))) + 1

  /** [[ngramJaccard]] plus a one-row stats frame (n_buckets / hot_buckets /
    * dropped_rows) metering the hot-length-class drops. */
  def ngramJaccardWithStats(df: DataFrame, textCol: String, idCol: String,
                   n: Int = 3, tau: Double = 0.5,
                   maxBucket: Int = 5000): (DataFrame, DataFrame) = {
    // one text pass: gram sets + length class materialized eagerly (raw
    // text dropped before the checkpoint), so the bucket histogram and both
    // self-join sides read the compact gram table instead of re-cutting the
    // grams per plan branch
    val prep = df.select(col(idCol).as("id"), lower(col(textCol)).as("txt"))
      .withColumn("grams", word_ngrams(col("txt"), n)) // short text → 1 gram
      .withColumn("lenb", (spaceTokens(col("txt")) / 10).cast("int"))
      .select("id", "grams", "lenb")
      .localCheckpoint()
    val buckets = prep.select(col("id"), col("grams"),
      explode(array(col("lenb"), col("lenb") + 1)).as("bucket"))
    val (lenPairs, stats) = bucketPairs(buckets, "bucket", maxBucket, "grams")
    val pairs = lenPairs
      .select(col("id_a"), col("id_b"),
        sorted_jaccard(col("grams_a"), col("grams_b")).as("jaccard"))
      .distinct()
      .filter(col("jaccard") >= tau)
    (pairs, stats)
  }

  /**
   * Substring-level duplicate detection (the Lee et al. 2021 "Deduplicating
   * Training Data Makes Language Models Better" criterion): two documents
   * are substring-duplicates if they share ANY verbatim run of
   * `windowTokens` consecutive tokens. Every W-token sliding window is
   * fingerprinted — md5 over the space-joined window, so any engine can
   * recompute the exact fingerprint — and documents sharing ≥1 fingerprint
   * pair up with their shared-window count.
   *
   * The fingerprints come from one compiled kernel, `window_md5s`: it
   * hashes each window's byte range of the lowered text with a reused
   * `MessageDigest` and writes Spark's lower-hex `md5` format. It is exact
   * against the composition it replaces — `transform(sequence(..), i ->
   * md5(array_join(slice(split(t, ' '), i, w), ' ')))`, which Spark runs
   * in its interpreter: the window's tokens hold no space, so the joined
   * slice is the same bytes (SimSpec checks it, order included).
   *
   * Scale shape: the exploded (id, 16-byte fp) table is ~corpus-tokens×~20
   * bytes — the canonical linear cost of suffix-style dedup — shuffled ONCE
   * on fp; raw text never leaves the scan stage. Boilerplate windows (site
   * chrome shared by thousands of pages) would blow the self-join up
   * quadratically, so fingerprints appearing in more than
   * `maxDocsPerWindow` docs are dropped by the same hot-key cap discipline
   * as the LSH buckets (a window shared by >cap docs is boilerplate, not
   * duplication signal).
   */
  def windowFingerprint(df: DataFrame, textCol: String, idCol: String,
                        windowTokens: Int = 15,
                        maxDocsPerWindow: Int = 100000): DataFrame =
    windowFingerprintWithStats(df, textCol, idCol, windowTokens,
      maxDocsPerWindow)._1

  /** [[windowFingerprint]] plus a one-row stats frame — boilerplate-window
    * drops (site chrome shared by >cap docs) are metered, never silent; a
    * window fingerprint is a bucket in the shared stats columns. */
  def windowFingerprintWithStats(df: DataFrame, textCol: String, idCol: String,
                        windowTokens: Int = 15,
                        maxDocsPerWindow: Int = 100000): (DataFrame, DataFrame) = {
    // one text pass: the exploded (id, 16-byte fp) table — the canonical
    // linear cost of window-fingerprint dedup — is materialized eagerly so
    // the histogram and both self-join sides read it instead of re-running
    // the md5-per-window scan per plan branch (spills via MEMORY_AND_DISK)
    val fps = df.select(col(idCol).as("id"),
        explode(window_md5s(lower(col(textCol)), windowTokens)).as("fp"))
      .localCheckpoint()
    val (windowPairs, stats) = bucketPairs(fps, "fp", maxDocsPerWindow)
    val pairs = windowPairs.groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared_windows"))
    (pairs, stats)
  }

  /**
   * Embedding cosine near-duplicates: multi-table, multi-probe sign-LSH
   * bucketing, then exact cosine within candidates.
   *
   * Recall engineering: a pair at cosine c agrees on one hyperplane with
   * probability p = 1 − arccos(c)/π. Candidates come from `tables`
   * independent hyperplane families; within each table the probe side B
   * emits every bucket within `maxFlip` bit flips, so a pair is a candidate
   * if its codes are within hamming `maxFlip` in ANY table. Per-pair miss
   * probability is (1 − P[ham ≤ maxFlip])^tables.
   *
   * Probe budget is derived from `tau` (tables = 0 → auto): the analytic
   * recall model picks the table count that drives per-pair miss below
   * `targetMiss` AT the threshold cosine, so the key fan-out per vector is
   * the minimum the asked-for recall permits — at a near-dup threshold
   * (τ ≥ 0.9, bits = 8, maxFlip = 1) that is ~120 keys/vector, ~10× less
   * than a fixed worst-case budget. The hashes are deterministic, so recall
   * on a fixed corpus is a fixed fact, gate-tested (OpsSpec ≥ 0.95 +
   * driver oracle equality vs brute force).
   *
   * Scale shape: ONLY (id, 8-byte bucket) rows flow through the bucket
   * join — vectors are joined back AFTER the candidate pairs are
   * `distinct`ed, so each surviving pair moves each vector once (the same
   * de-fat discipline as [[minhashLsh]]). The derived table budget is
   * [[derivedTables]]; each vector emits `tables × (1 + probe masks)` keys.
   *
   * NOTE a low τ (≲ 0.6) is intrinsically hostile to sign-LSH: p(τ) is
   * close to the random-pair p = 0.5, so ANY family needs near-all-pairs
   * probing — the derived table count makes that cost visible instead of
   * hiding it behind fixed constants.
   */
  def embeddingCosine(df: DataFrame, vecCol: String, idCol: String,
                      tau: Double = 0.9, bits: Int = 8, tables: Int = 0,
                      maxFlip: Int = 1, targetMiss: Double = 1e-5): DataFrame = {
    val t = if (tables > 0) tables
            else derivedTables(tau, bits, maxFlip, targetMiss)
    val masks = Ann.flipMasks(bits, maxFlip)
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    // Each table's code is computed ONCE per row and in ONE compiled pass
    // (sign_codes), then cheap hash keys fan out from the precomputed code
    // array — never recompute the hyperplane sums per probe mask. The slim
    // (id, codes) table is materialized eagerly so both probe sides read it
    // instead of re-scanning the vectors per plan branch.
    val coded = base.select(col("id"), sign_codes(col("v"), bits, t).as("codes"))
      .localCheckpoint()
    // side A: exact code per table; side B: all codes within maxFlip flips.
    // Slim key stream: (id, bucket) only — vectors stay in the scan stage.
    val a = Ann.exactBuckets(coded, col("id").as("id_a"))
    val b = Ann.probeBuckets(coded, masks, col("id").as("id_b"))
    val cand = a.join(b, "bucket")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct() // each candidate pair scored exactly once
    cand
      .join(base.select(col("id").as("id_a"), col("v").as("v_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("v").as("v_b")), "id_b")
      .filter(Ann.cosine(col("v_a"), col("v_b")) >= tau)
      .select("id_a", "id_b")
  }

  /** Smallest table count with per-pair miss ≤ targetMiss at cosine = tau,
    * from the sign-LSH recall model (see [[embeddingCosine]]). */
  def derivedTables(tau: Double, bits: Int, maxFlip: Int,
                    targetMiss: Double): Int = {
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, tau))) / math.Pi
    def choose(n: Int, k: Int): Double =
      (0 until k).map(i => (n - i).toDouble / (i + 1)).product
    val perTable = (0 to maxFlip).map(k =>
      choose(bits, k) * math.pow(p, bits - k) * math.pow(1 - p, k)).sum
    require(perTable > 1e-6,
      s"tau=$tau gives per-table recall $perTable — no practical table count; " +
        "raise tau or maxFlip")
    math.max(1, math.ceil(math.log(targetMiss) / math.log1p(-perTable)).toInt)
  }
}
