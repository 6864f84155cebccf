package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.blocking.Blocking
import graft.catalog.{Catalog, QueryService}
import graft.eval.Eval
import graft.ops.{Ann, Dedup}
import graft.pipeline.EntityResolution

/** Raised when an op's output fails its correctness check. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** One DuckDB oracle comparison for run.py: the oracle SQL runs over the
  * run's input tables; `result` is a JSON-lines file of the engine's rows. */
final case class Oracle(name: String, sql: String, result: String)

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val dir: String) {
  def path(name: String): String = s"$dir/$name"
  def read(name: String): DataFrame = spark.read.parquet(path(name))
  def write(df: DataFrame, name: String): DataFrame = {
    df.write.mode("overwrite").parquet(path(name))
    read(name)
  }
  def rm(name: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path(name)))

  /** Runs `body` as a traced layer call when `on`, else untraced. */
  def span[T](on: Boolean, name: String, op: Int)(body: => T): T =
    if (on) tracer.span(name, op)(body) else body

  /** Order-independent digest of a result's rows. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
  def digest(df: DataFrame): String = digest(df.collect())
}

/**
 * A closed-loop workload. The harness calls [[setup]], then runs the warm-up
 * op 0 and the measured ops with [[op]], each followed by the untimed
 * [[check]]; after the last op it calls [[finalCheck]].
 */
trait Workload {
  /** Pages one op resolves, where an op resolves pages. */
  def docsPerOp: Option[Long] = None
  def setup(): Unit
  def op(i: Int, traced: Boolean): Unit
  def check(i: Int): Unit
  def finalCheck(traced: Boolean): Seq[Oracle] = Nil
  /** Per-layer counts and ratios measured by the last traced op. */
  def layerCounts: Map[String, Double] = Map.empty
  /** Kernel inputs sampled from this workload's corpus: (html bytes, text). */
  def kernelSample(n: Int): Seq[(Array[Byte], String)]
}

object Workload {
  val Names = Seq("resolve_full", "dedup_sql")

  // Input sizes, fixed per workload: a seed moves the data, never its size.
  val ErEntities = 6000L
  val DedupEntities = 1000L
  val DedupSliceEntities = 100L
  val AnnVectors = 2000L
  val SqlScaleFactor = 0.01

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "resolve_full" => new ResolveFull(ctx)
    case "dedup_sql" => new DedupSql(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (expected one of ${Names.mkString(", ")})")
  }

  def pageSample(ctx: Ctx, n: Int): Seq[(Array[Byte], String)] =
    ctx.read("pages").select("html", "text").limit(n).collect().toSeq
      .map(r => (r.getAs[Array[Byte]](0), r.getString(1)))
}

/**
 * One op = `EntityResolution.resolve` of the whole corpus, writing
 * `integrated_pages`; a traced op makes the same call. Its per-layer times
 * come from the jobs `resolve` itself submits: after the op, each job is
 * attributed to a layer by its call stack ([[ResolveFull.layerOf]]), and
 * the op's wall is cut into consecutive per-layer segments. Counts are taken
 * after the op, outside every op span. A traced run also folds a 20% batch
 * into a prior state of the other 80% with `resolveIncremental`, once, in a
 * span, and checks the fold equals the full resolve.
 */
final class ResolveFull(ctx: Ctx) extends Workload {
  import ctx.spark
  private val cfg = EntityResolution.Config()
  private var result: EntityResolution.Result = _
  private var lastTraced = false
  private var counts = Map.empty[String, Double]
  private var firstDigest = ""

  override lazy val docsPerOp: Option[Long] = Some(ctx.read("pages").count())

  def setup(): Unit = {
    ctx.write(Inputs.pages(spark, ctx.seed, Workload.ErEntities), "pages")
    ctx.write(Inputs.labeledPairs(spark, ctx.seed, Workload.ErEntities), "labeled")
  }

  private def work(i: Int): String = ctx.path(s"op-$i")
  private def integrated(dir: String): DataFrame =
    spark.read.parquet(s"$dir/integrated_pages").select("RecordId", "InputSourceARN", "MatchID")
  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  def op(i: Int, traced: Boolean): Unit = {
    lastTraced = traced
    result = EntityResolution.resolve(ctx.read("pages"), cfg.copy(workDir = Some(work(i))))
    result.integrated.write.parquet(s"${work(i)}/integrated_pages")
  }

  /** The warm-up op must reach pairwise F1 ≥ 0.99 against the labeled
    * pairs; every later op must return the warm-up op's rows. */
  def check(i: Int): Unit = {
    val w = work(i)
    if (i == 0) {
      val m = Eval.pairwiseF1(EntityResolution.predictedPairs(integrated(w)),
        ctx.read("labeled"), result.candidatePairs)
      if (m.f1 < 0.99) throw new CheckFailed(s"resolve op $i: pairwise F1 ${m.f1} < 0.99 ($m)")
      firstDigest = ctx.digest(integrated(w))
    } else if (ctx.digest(integrated(w)) != firstDigest)
      throw new CheckFailed(s"resolve op $i: output differs from the warm-up op")
    if (lastTraced) {
      attribute(i)
      counts ++= countsOf(i)
    }
    if (i > 0) ctx.rm(s"op-$i")
  }

  /** Cuts traced op `i` into per-layer spans. Consecutive jobs of one layer
    * form a segment, which runs from the end of the previous segment (or the
    * op's start) to the end of its last job, so the segments add up to the
    * op's wall up to its last job; each job becomes a child span of its
    * segment. Also counts the connected-components iterations. */
  private def attribute(i: Int): Unit = {
    val t = ctx.tracer
    val op = t.spans.findLast(s => s.name == "op" && s.op == i).get
    var keysSeen, ccSeen = false
    val layered = t.jobsUnder(op.id).map { j =>
      val layer = ResolveFull.layerOf(j.callStack) match {
        case "resolve" =>
          if (ccSeen) "pipeline.integrate"
          else if (keysSeen) "pipeline.score" else "pipeline.normalize"
        case l => l
      }
      keysSeen ||= layer == "blocking.keys"
      ccSeen ||= layer == "cluster.cc"
      layer -> j
    }
    var start = op.startNs
    var rest = layered
    while (rest.nonEmpty) {
      val (seg, tail) = rest.span(_._1 == rest.head._1)
      val end = math.max(start, seg.map(x => t.nsOf(x._2.endMs)).max)
      val s = t.record(rest.head._1, op.id, i, start, end,
        seg.foldLeft(new Counters)(_ add _._2.counters))
      for ((_, j) <- seg)
        t.record(s"job ${j.id}", s.id, i, t.nsOf(j.startMs), t.nsOf(j.endMs), j.counters)
      start = end
      rest = tail
    }
    // one convergence signature before the loop, then one per iteration
    val signatures = layered.map(_._2).filter(j => ResolveFull.isSignature(j.callStack))
      .map(j => if (j.execId >= 0) j.execId else -1L - j.id).distinct.size
    counts += "cluster.cc_iterations" -> (signatures - 1).toDouble
  }

  /** Blocking and funnel counts of op `i`, from its stage tables. The pair
    * stream `resolve` fuses into its scoring job is rebuilt here from the
    * same calls (`dedupPairs` of `candidatePairsRaw` ∪
    * `sortedNeighborhoodPairs`) and materialized on its own, in the
    * `blocking.pairs` span. */
  private def countsOf(i: Int): Map[String, Double] = {
    val w = work(i)
    val records = spark.read.parquet(s"$w/records.parquet")
    val keys = spark.read.parquet(s"$w/keys.parquet")
    val pairsObs = new Observation("pairs")
    ctx.tracer.span("blocking.pairs", i) {
      EntityResolution.dedupPairs(Blocking.candidatePairsRaw(keys)
        .union(Blocking.sortedNeighborhoodPairs(records, cfg.blocking)))
        .observe(pairsObs, count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
    }
    val nPairs = pairsObs.get("n").asInstanceOf[Long].toDouble
    val nEdges = spark.read.parquet(s"$w/edges.parquet").count().toDouble
    val labeled = ctx.read("labeled").select("main_url", "sub_url")
    val nLabeled = labeled.count().toDouble
    val found = labeled.join(result.candidatePairs, Seq("main_url", "sub_url"), "left_semi").count()
    val bySource = records.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    val allPairs = bySource.getOrElse("main", 0.0) * bySource.getOrElse("sub", 0.0)
    Map(
      "blocking.block_keys" -> keys.count().toDouble,
      "blocking.keys_rekeyed" -> spark.read.parquet(s"$w/raw_counts.parquet")
        .filter(col("n") > cfg.blocking.maxBlock)
        .agg(coalesce(sum("n"), lit(0L))).head().getLong(0).toDouble,
      "blocking.keys_dropped" -> result.blockStats.head().getAs[Long]("dropped_rows").toDouble,
      "blocking.candidate_pairs" -> nPairs,
      "blocking.pair_completeness" -> (if (nLabeled == 0) 1.0 else found / nLabeled),
      "blocking.reduction_ratio" -> (if (allPairs == 0) 0.0 else 1.0 - nPairs / allPairs),
      "pipeline.scored_pairs" -> result.scoredPairs.count().toDouble,
      "pipeline.edges" -> nEdges,
      "pipeline.funnel_yield" -> (if (nPairs == 0) 0.0 else nEdges / nPairs))
  }

  /** Traced runs: fold the 20% batch into a prior state of the other 80%;
    * the folded output must equal the warm-up op's full resolve. */
  override def finalCheck(traced: Boolean): Seq[Oracle] = {
    if (traced) {
      val isNew = pmod(xxhash64(col("url")), lit(5)) === 4
      val pages = ctx.read("pages")
      EntityResolution.resolve(pages.filter(!isNew), cfg.copy(workDir = Some(ctx.path("prior"))))
        .integrated.write.parquet(ctx.path("prior/integrated_pages"))
      val batch = ctx.write(pages.filter(isNew), "batch")
      val w = ctx.path("fold")
      val r = ctx.tracer.span("pipeline.fold", -1) {
        val r = EntityResolution.resolveIncremental(batch, ctx.path("prior"),
          cfg.copy(workDir = Some(w)))
        r.integrated.write.parquet(s"$w/integrated_pages")
        r
      }
      if (!sameRows(integrated(w), integrated(work(0))))
        throw new CheckFailed("fold output differs from a full resolve of old ∪ new")
      counts += "pipeline.fold_scored_pairs" -> r.scoredPairs.count().toDouble
    }
    Nil
  }

  override def layerCounts: Map[String, Double] = counts

  def kernelSample(n: Int): Seq[(Array[Byte], String)] = Workload.pageSample(ctx, n)
}

object ResolveFull {
  /** The layer whose code submitted a job: the innermost frame of its call
    * stack that lies in connected components, in blocking (pair generation
    * or the block-table writes) or in `EntityResolution` itself, whose own
    * jobs write the normalized records before blocking, the match edges
    * (candidate pairs fused with scoring) after it, and read the components
    * back after clustering. A job with none of these frames comes from the
    * harness: the input read and the integrated output write. */
  def layerOf(callStack: Seq[String]): String =
    callStack.iterator.flatMap(frameLayer).nextOption().getOrElse("harness")

  private def frameLayer(frame: String): Option[String] =
    if (frame.startsWith("graft.cluster.ConnectedComponents")) Some("cluster.cc")
    else if (frame.startsWith("graft.blocking.Blocking"))
      Some(if (frame.contains(".candidatePairs") || frame.contains(".sortedNeighborhood"))
        "blocking.pairs" else "blocking.keys")
    else if (frame.startsWith("graft.pipeline.EntityResolution")) Some("resolve")
    else None

  /** A job of the connected-components convergence signature. */
  def isSignature(callStack: Seq[String]): Boolean =
    callStack.find(frameLayer(_).nonEmpty)
      .exists(_.startsWith("graft.cluster.ConnectedComponents$.signature("))
}

/**
 * One op = a pass of the dedup and ANN operators with the parameters of
 * q19, q20, q21, q44, q23 and q24, called directly on a seeded web corpus,
 * and of the C360 queries q1, q2, q7, q14, q26, q27, q28 and q35 over
 * seeded relational tables; the seed orders the pass. Every query is
 * collected to the driver, and every pass must return the rows of the
 * warm-up pass.
 */
final class DedupSql(ctx: Ctx) extends Workload {
  import ctx.spark
  private var last = Seq.empty[(String, Array[Row])]
  private var firstDigests = Map.empty[String, String]
  /** The warm-up pass's rows, by span name. */
  private var firstRows = Map.empty[String, Array[Row]]

  /** q35's SQL text, as an analyst would submit it to the query service. */
  private val Q35 =
    """SELECT c_mktsegment, count(*) AS n,
      |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS total
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE o_orderstatus = 'F' GROUP BY 1 ORDER BY 1""".stripMargin

  private val Tables = Seq("customer", "orders", "lineitem", "documents")

  /** C360 span name → engine query name (the oracle key). */
  private val sqlNames = Seq(
    "sql.q1" -> "q1_agg", "sql.q2" -> "q2_join_agg", "sql.q7" -> "q7_window_topn",
    "sql.q14" -> "q14_dedup_exact", "publish.q26" -> "q26_interactions",
    "publish.q27" -> "q27_segment_topn", "publish.q28" -> "q28_anti_existing",
    "catalog.q35" -> "q35_sql_text")

  private def sqlQuery(engineName: String): DataFrame =
    if (engineName == "q35_sql_text") QueryService.sql(spark, Q35)
    else SparkEntry.queries(engineName)(spark, ctx.dir)

  private def docs(t: String) = ctx.read(t).select(col("url").as("doc"), col("text"))
  private def annQueries = ctx.read("embeddings").filter(col("vec_id") < 5)
    .select(col("vec_id").as("query_id"), col("embedding"))

  private val dedupQueries: Seq[(String, () => DataFrame)] = Seq(
    "ops.q19" -> (() => Dedup.minhashLsh(docs("pages"), "text", "doc", tau = 0.8)),
    "ops.q20" -> (() => Dedup.simhash(docs("pages"), "text", "doc", maxHamming = 6)),
    "ops.q21" -> (() => Dedup.ngramJaccard(docs("pages_slice"), "text", "doc", n = 3, tau = 0.4)),
    "ops.q44" -> (() => Dedup.windowFingerprint(docs("pages_slice"), "text", "doc",
      windowTokens = 15)),
    "ops.q23" -> (() => Ann.bruteForceTopK(ctx.read("embeddings"), annQueries, k = 10)
      .select("query_id", "item_id", "rank")),
    "ops.q24" -> (() => Ann.lshTopK(ctx.read("embeddings"), annQueries, k = 10)
      .select("query_id", "item_id", "rank")))

  /** (span name, query) in execution order. */
  private val queries: Seq[(String, () => DataFrame)] =
    new scala.util.Random(ctx.seed).shuffle(
      dedupQueries ++ sqlNames.map { case (s, q) => s -> (() => sqlQuery(q)) })

  def op(i: Int, traced: Boolean): Unit =
    last = queries.map { case (name, q) => name -> ctx.span(traced, name, i)(q().collect()) }

  def check(i: Int): Unit = {
    val digests = last.map { case (n, rows) => n -> ctx.digest(rows) }.toMap
    if (i == 0) {
      firstDigests = digests
      firstRows = last.toMap
    } else {
      val bad = digests.collect { case (n, d) if firstDigests(n) != d => n }
      if (bad.nonEmpty) throw new CheckFailed(s"op $i: ${bad.mkString(", ")} differ from op 0")
    }
    last = Nil
  }

  def setup(): Unit = {
    ctx.write(Inputs.pages(spark, ctx.seed, Workload.DedupEntities), "pages")
    ctx.write(Inputs.pages(spark, ctx.seed, Workload.DedupSliceEntities), "pages_slice")
    ctx.write(Inputs.embeddings(spark, ctx.seed, Workload.AnnVectors), "embeddings")
    Inputs.writeRelational(spark, ctx.seed, Workload.SqlScaleFactor, ctx.dir)
    // the catalog's views over this run's tables (Catalog.register would also
    // materialize the engine's own web corpus, which no query here reads)
    for (t <- Catalog.tables if Tables.contains(t.name))
      ctx.read(s"${t.name}.parquet").createOrReplaceTempView(t.name)
    graft.functions.GraftFunctions.register(spark)
  }

  /** The warm-up pass's relational results, dumped for their DuckDB oracles. */
  override def finalCheck(traced: Boolean): Seq[Oracle] = sqlNames.map { case (span, q) =>
    val out = ctx.path(s"oracle-$q.jsonl")
    Files.write(Paths.get(out), firstRows(span).toSeq.map { r =>
      r.schema.fieldNames.zipWithIndex
        .map { case (c, k) => Json.str(c) + ": " + Json.value(r.get(k)) }.mkString("{", ", ", "}")
    }.asJava)
    Oracle(q, SparkEntry.oracleSql(q), out)
  }

  def kernelSample(n: Int): Seq[(Array[Byte], String)] = Workload.pageSample(ctx, n)
}
