package graft.cluster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Transitive clustering of match edges into entity clusters — the step that
 * produces the reference's `MatchID` contract ("same person across both
 * brands ⇒ same value", reference: lib/data-storage.ts:206-211) — via the
 * alternating large-star / small-star connected-components algorithm
 * (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14).
 *
 * Implementation notes (scale-first):
 *   - Nodes are ids of any ordered type. The pipeline dictionary-encodes
 *     records to 64-bit ids (xxhash64(url)) before clustering, so every
 *     iteration shuffles and compares 8-byte longs, not 60–120-byte url
 *     strings — severalfold less per-task memory traffic, the quantity that
 *     binds under high thread/executor parallelism.
 *   - Neither star step materializes neighbor lists: each is ONE whole-
 *     partition window min over the (symmetrized/oriented) edge stream —
 *     no collect_set and no groupBy+re-join double shuffle, so a celebrity
 *     node (huge star) costs O(|N|) spillable rows, never O(|N|^2) memory,
 *     and each half-iteration exchanges the 16-byte edge rows exactly once.
 *   - Every iteration ends in `localCheckpoint` to cut the lineage chain
 *     (Catalyst does not optimize across iterations) and optionally writes
 *     a durable per-iteration snapshot + per-partition match-count metrics
 *     through [[CheckpointStore]] for exact resume.
 *   - Convergence test = "the output is a star forest with min centres":
 *     no node has two out-edges and no node is both a source and a target.
 *     Small-star emits every edge as (src, dst) with dst < src, so such a
 *     forest is its own connected components: each root is a target only,
 *     the minimum of its star, and labels every source pointing at it. The
 *     test is exact, with no hash to confirm, and it holds one round before
 *     the edge set stops changing, so no round runs only to repeat the last
 *     one. Trade-off against waiting for the repeat: the check groups the
 *     edge stream by node, one exchange more per round than a (count, hash)
 *     aggregate, against one round and one multiset equality check saved
 *     per run; it wins below ~7 rounds, and ER clusters are entity-bounded
 *     (1–3 rounds on the benchmark corpus).
 *   - At least one round always runs: it orients every edge high→low, and a
 *     [[CheckpointStore]] then holds iteration ≥ 1 to resume from. A run
 *     that reaches `maxIter` unconverged throws instead of returning
 *     partial labels.
 */
object ConnectedComponents {

  /** Large-star: for every node u, connect its LARGER neighbors to
    * m = min(N(u) ∪ {u}). Keeps components intact, shrinks tall trees.
    *
    * One-pass shape: a whole-partition window min over the symmetrized
    * stream replaces the former groupBy.min + self-join — ONE exchange of
    * the 16-byte edge rows per half-iteration instead of two (the join
    * re-shuffled the full stream a second time plus the per-node mins).
    * WindowExec DECLARES ClusteredDistribution(src), so the result is
    * layout-independent by operator contract (the r4 sorted-neighborhood
    * postmortem rule), and its group buffer spills, so a celebrity node
    * costs O(|N|) spillable rows, never O(|N|^2) memory. */
  private[graft] def largeStar(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val m = least(min("dst").over(Window.partitionBy("src")), col("src"))
    sym.select(col("src"), col("dst"), m.as("m"))
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
    // m ≤ src < dst, so no self-edge can emerge; no distinct here:
    // smallStar (always applied next) dedupes, so the extra exchange would
    // only add an iteration-latency barrier
  }

  /** Small-star: edges oriented high→low; connect every low neighbor (and u)
    * to the minimum low neighbor.
    *
    * Same one-pass window shape as [[largeStar]]: min(lo) per hi rides one
    * exchange; the (hi, m) root edge is recovered from the rows where
    * lo == m instead of a separate per-node mins frame, and the input
    * distinct is dropped entirely — duplicates cannot change a min, and the
    * output distinct (already present) absorbs them. Net: two exchanges per
    * half-iteration (window + output distinct) where the former shape paid
    * four (input distinct, groupBy, join, output distinct).
    *
    * STRUCTURALLY one window subtree: each dm row lands in exactly one of
    * the former lows/his branches, so the union of two filtered projections
    * is restated as ONE conditional projection — `src = lo≠m ? lo : hi` —
    * over the windowed frame (row-for-row the same multiset, absorbed by the
    * same output distinct). The former two-branch union planned the window
    * subtree into BOTH union arms and relied on AQE's reuse-stage dedup to
    * keep it one shuffle at runtime; the single-branch form holds the
    * exchange count by plan shape alone, AQE on or off (PlanShapeSpec pins
    * it with AQE disabled). */
  private[graft] def smallStar(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dir = edges.select(
      greatest(col("src"), col("dst")).as("hi"),
      least(col("src"), col("dst")).as("lo"))
      .filter(col("hi") =!= col("lo"))
    val dm = dir.select(col("hi"), col("lo"),
      min("lo").over(Window.partitionBy("hi")).as("m"))
    dm.select(
      when(col("lo") =!= col("m"), col("lo")).otherwise(col("hi")).as("src"),
      col("m").as("dst"))
      .distinct()
  }

  /** The loop's one action per round, named `signature` so traces count
    * rounds by it: the edge count and, when `shape` is set, how many nodes
    * break the star-forest shape (two out-edges, or both a source and a
    * target). The count alone, before the loop, sizes its shuffles. */
  private def signature(edges: DataFrame, shape: Boolean): (Long, Long) =
    if (!shape) (edges.count(), -1L)
    else {
      val degrees = edges.select(col("src").as("node"), lit(1).as("out"), lit(0).as("in"))
        .union(edges.select(col("dst").as("node"), lit(0).as("out"), lit(1).as("in")))
        .groupBy("node").agg(sum("out").as("out"), sum("in").as("in"))
      val row = degrees.agg(
        coalesce(sum("out"), lit(0L)),
        count(when(col("out") > 1 || (col("out") > 0 && col("in") > 0), 1))).head()
      (row.getLong(0), row.getLong(1))
    }

  /**
   * @param edges    match edges (src, dst) — any extra columns are dropped
   * @param store    optional durable checkpoint (resume + lineage metrics)
   * @param maxIter  the iteration number at which an unconverged run throws
   * @param startIter iteration to resume from (use with store.loadLatest)
   * @return (node, component) — component = min node id of the cluster;
   *         only non-root nodes are listed (root maps to itself implicitly)
   */
  def run(edges: DataFrame, store: Option[CheckpointStore] = None,
          maxIter: Int = 64, startIter: Int = 0): DataFrame = {
    val spark = edges.sparkSession
    // no distinct: duplicate edges change no large-star min, and
    // small-star's output distinct absorbs them in the first round
    var cur = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .localCheckpoint(false) // lazy: the signature below materializes it
    var nEdges = signature(cur, shape = false)._1
    var it = startIter
    var converged = false
    // Size the loop's shuffle fan-out from the MEASURED edge count (free:
    // the convergence signature already counts rows). Edge frames here are
    // 16-byte rows, typically orders of magnitude smaller than the record
    // tables the session-wide `spark.sql.shuffle.partitions` is sized for;
    // at the session's 64 partitions every map task of every star/distinct
    // shuffle opens 64 partition writers for a few MB of data — per-task
    // fixed cost × ~6 shuffles × O(log n) iterations of pure overhead. AQE
    // coalesces the REDUCE side but cannot shrink the map-side fan-out.
    // ~500k edges (8 MB) per partition keeps any level busy; the cap
    // restores the session value for genuinely large graphs, so behavior at
    // 10^12-edge scale is unchanged.
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    def loopParts(nEdges: Long): Int =
      math.min(sessionParts, math.max(8, (nEdges / 500000L).toInt))
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      do {
        val t0 = System.nanoTime()
        spark.conf.set("spark.sql.shuffle.partitions", loopParts(nEdges))
        // lazy checkpoint: the signature below materializes it, so each
        // iteration's stars and shape check run as one action
        cur = smallStar(largeStar(cur)).localCheckpoint(false)
        val (n, defects) = signature(cur, shape = true)
        it += 1
        store.foreach(_.writeIteration(it, cur, n, (System.nanoTime() - t0) / 1e6))
        nEdges = n
        converged = defects == 0
      } while (!converged && it < maxIter)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge by iteration $maxIter")
    labels(cur)
  }

  /** (node, component) of a star forest: each non-root node once, with its
    * root. Over any (src, dst) frame of node ids it is also, by analysis
    * alone, the schema of [[run]]'s output. */
  private[graft] def labels(stars: DataFrame): DataFrame =
    stars.select(col("src").as("node"), col("dst").as("component"))
}
