package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{cosine_sim, sign_codes}
import graft.functions.Sim

/**
 * Approximate-nearest-neighbor search over an embedding column
 * (`array<float>` / `array<double>`).
 *
 *  - [[bruteForceTopK]] is the exact baseline: broadcast the (small) query
 *    set, score every (query, item) pair with a codegen'd higher-order-
 *    function dot product, take top-k per query with a bounded window.
 *  - [[lshTopK]] is the scale path: deterministic random-hyperplane sign
 *    buckets shrink the candidate set to one bucket (plus probes) per query;
 *    at 100 TB the bucket join replaces the full cross product.
 *
 * All arithmetic is double-precision, sequential (left-to-right) folds, so
 * scores are bit-stable across partitionings and parallelism levels.
 */
object Ann {

  /** cos(a,b) as ONE fused whole-stage-codegen pass ([[Sim.cosineSim]]).
    * Formerly a zip_with+aggregate higher-order-function composition — HOFs
    * are CodegenFallback, i.e. three interpreted array walks with boxed
    * per-element lambda dispatch per pair; the compiled kernel keeps the
    * identical sequential accumulation order and null/length semantics, so
    * every score (and oracle-checked ranking) is bit-unchanged. */
  def cosine(a: Column, b: Column): Column = cosine_sim(a, b)

  /** The first `k` items per query of (query_id, item_id, cosine) rows,
    * ranked by cosine desc, then item_id asc — ties are deterministic. */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("item_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Multi-probe masks: every `bits`-bit mask with at most `maxFlip` bits
    * set, 0 (the exact code) first. */
  private[ops] def flipMasks(bits: Int, maxFlip: Int): Seq[Long] =
    (0L until (1L << bits)).filter(m => java.lang.Long.bitCount(m) <= maxFlip)

  /** Sign-LSH buckets of `coded`, whose `codes` column holds one code per
    * hyperplane table (`sign_codes`): one row per (row, table) carrying the
    * `keep` columns and `bucket = xxhash64(table, code)`. */
  private[ops] def exactBuckets(coded: DataFrame, keep: Column*): DataFrame =
    codeBuckets(coded, keep, xxhash64(col("tb"), col("code")))

  /** [[exactBuckets]] fanned out to `code ^ m` for every mask `m` — the
    * probe side of a multi-probe bucket join. One compiled hash per mask,
    * unrolled into the projection: no `transform` lambda, which Spark would
    * run in its interpreter. */
  private[ops] def probeBuckets(coded: DataFrame, masks: Seq[Long], keep: Column*): DataFrame =
    codeBuckets(coded, keep, explode(array(masks.map(m =>
      xxhash64(col("tb"), col("code").bitwiseXOR(lit(m)))): _*)))

  private def codeBuckets(coded: DataFrame, keep: Seq[Column], bucket: Column): DataFrame = {
    val perTable = coded.select(keep :+ posexplode(col("codes")).as(Seq("tb", "code")): _*)
    perTable.select(perTable.columns.dropRight(2).map(col).toSeq :+ bucket.as("bucket"): _*)
  }

  /**
   * Exact top-k cosine neighbors for each query vector.
   * @param items   (idCol, vecCol) corpus
   * @param queries (queryIdCol, vecCol) — small; broadcast
   */
  def bruteForceTopK(items: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     queryIdCol: String = "query_id"): DataFrame = {
    val q = broadcast(queries.select(col(queryIdCol).as("query_id"),
      col(vecCol).as("qv")))
    val scored = items.select(col(idCol).as("item_id"), col(vecCol).as("iv"))
      .crossJoin(q)
      .select(col("query_id"), col("item_id"), cosine(col("iv"), col("qv")).as("cosine"))
    topK(scored, k)
  }

  /**
   * LSH-bucketed ANN: multi-table, multi-probe sign-LSH candidates, then
   * exact cosine + top-k within candidates. A (query, item) pair is a
   * candidate when their codes are within `maxFlip` bit flips in ANY of the
   * `tables` independent hyperplane families — per-pair miss probability is
   * (1 − P[ham ≤ maxFlip])^tables, tuned so the exact top-k survives (the
   * q24 driver oracle compares against the brute-force top-k bit-exactly).
   * Probe fan-out lives on the (small, broadcast) query side only; each item
   * emits just `tables` rows, so the item-side shuffle is linear.
   */
  def lshTopK(items: DataFrame, queries: DataFrame, k: Int, bits: Int = 8,
              tables: Int = 12, maxFlip: Int = 3,
              idCol: String = "vec_id", vecCol: String = "embedding",
              queryIdCol: String = "query_id"): DataFrame = {
    // per-table codes are computed ONCE per row and in ONE compiled pass
    // (sign_codes); bucket keys then fan out from the code array with
    // cheap hashes — recomputing the hyperplane sums per probe mask was a
    // measured codegen bomb (tables·C(bits,≤maxFlip) eight-plane
    // aggregates per row)
    val bucketedItems = exactBuckets(
      items.select(col(idCol).as("item_id"), col(vecCol).as("iv"),
        sign_codes(col("iv"), bits, tables).as("codes")),
      col("item_id"), col("iv"))
    // multi-probe: the query's code plus every code within `maxFlip` flips,
    // per table — boundary vectors land in adjacent buckets
    val q = broadcast(probeBuckets(
      queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("qv"),
        sign_codes(col(vecCol), bits, tables).as("codes")),
      flipMasks(bits, maxFlip), col("query_id"), col("qv")))
    val scored = bucketedItems.join(q, "bucket")
      .dropDuplicates("query_id", "item_id")
      .select(col("query_id"), col("item_id"), cosine(col("iv"), col("qv")).as("cosine"))
    topK(scored, k)
  }

  /**
   * Deterministic IVF (inverted-file) index: k-means centroids → each item
   * assigned to its nearest centroid's posting list; queries probe only the
   * `nprobe` nearest lists. The classic ANN scale path (FAISS-style): at
   * 100 TB the posting-list join replaces the cross product and the index
   * is rebuilt by one aggregation pass per Lloyd iteration.
   *
   * Determinism (required for the driver's bit-exact oracle): centroid init
   * is content-defined (the k items with smallest xxhash64(id)), and Lloyd
   * mean-updates aggregate in DECIMAL (exact, order-independent — a double
   * sum would make centroids depend on shuffle order), so the index is
   * identical at any parallelism.
   */
  def ivfCentroids(items: DataFrame, nlist: Int, iters: Int,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): Array[Array[Double]] = {
    // Lloyd updates collect (nlist × dim) means to the driver per iteration
    // and broadcast the centroid table back inside codegen'd expressions —
    // the right shape for coarse IVF quantizers (FAISS-style nlist ≤ few
    // thousand), NOT for per-cell training. Guard the assumption explicitly.
    require(nlist <= 4096,
      s"ivfCentroids trains driver-side; nlist=$nlist exceeds the 4096 " +
        "coarse-quantizer bound (use hierarchical/sampled training beyond it)")
    val base = items.select(col(idCol).as("id"), col(vecCol).as("v"))
    var centroids: Array[Array[Double]] = base
      .orderBy(xxhash64(col("id")), col("id")).limit(nlist)
      .collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    for (_ <- 1 to iters) {
      val assigned = base.withColumn("cid", nearestCentroid(col("v"), centroids))
      val means = assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cid", "pos")
        // DECIMAL sum: exact ⇒ independent of aggregation order
        .agg(sum(col("x").cast("decimal(28,10)")).as("s"), count(lit(1)).as("n"))
        .select(col("cid"), col("pos"),
          (col("s") / col("n")).cast("double").as("m"))
        .collect()
      val next = centroids.map(_.clone())
      means.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      centroids = next
    }
    centroids
  }

  /** Index of the nearest centroid (ties → lowest index), codegen'd. */
  def nearestCentroid(v: Column, centroids: Array[Array[Double]]): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      val cl = array(c.map(lit): _*)
      struct(cosine(v, cl).as("cos"), lit(-i).as("negidx"))
    }
    // struct max compares cos first, then -idx (ties → smaller index)
    (-array_max(array(scored: _*)).getField("negidx")).cast("int")
  }

  /**
   * IVF top-k: assign items once, probe the `nprobe` nearest centroids per
   * query, exact cosine + top-k within the probed posting lists.
   */
  def ivfTopK(items: DataFrame, queries: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 6, iters: Int = 3,
              idCol: String = "vec_id", vecCol: String = "embedding",
              queryIdCol: String = "query_id"): DataFrame = {
    val centroids = ivfCentroids(items, nlist, iters, idCol, vecCol)
    val posted = items.select(col(idCol).as("item_id"), col(vecCol).as("iv"))
      .withColumn("cid", nearestCentroid(col("iv"), centroids))
    // per-query nprobe nearest centroid ids (sorted by cosine desc, idx asc):
    // the last nprobe of an ascending (cos, -idx) sort, projected to idx.
    // sort_array, not array_sort: array_sort plans a comparator lambda,
    // which Spark evaluates in its interpreter
    val probeList = {
      val scored = centroids.zipWithIndex.map { case (c, i) =>
        struct(cosine(col("qv"), array(c.map(lit): _*)).as("cos"), lit(-i).as("negidx"),
          lit(i).as("idx"))
      }
      slice(sort_array(array(scored: _*)), -nprobe, nprobe).getField("idx")
    }
    val q = broadcast(queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("cid", explode(probeList)))
    val scoredPairs = posted.join(q, "cid")
      .select(col("query_id"), col("item_id"), cosine(col("iv"), col("qv")).as("cosine"))
    topK(scoredPairs, k)
  }

  /** Driver-side exact cosine for tests. */
  def cosineLocal(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}
