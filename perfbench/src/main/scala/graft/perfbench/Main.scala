package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.GraftSession

/**
 * Benchmark harness: one JVM, one local[cores] session, one closed-loop
 * client. Usage (normally launched by run.py):
 *
 *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *        --dir <scratch dir> --out <result.json> --spans <spans.json>
 *
 * Set-up is session start, input generation and one warm-up op (op 0, whose
 * output the later ops are checked against); `setup_s` times it. It runs
 * once: on a 4-core host it costs 30–40 s, mostly JVM and Spark warm-up, and
 * a second set-up per run would not fit the benchmark's time budget. Ops then
 * run back to back: at least [[MinOps]] of them, and then
 * another while it is expected to end within `--seconds` of the first
 * (judged by the last op's wall), so a run measures a fixed number of ops
 * unless the program gets much faster or slower.
 * With `--trace 1` ops run in plain–traced–traced–plain blocks (at least
 * one); a traced op's layer calls become spans: a span around each query, or the
 * jobs of one `resolve` call cut into layers by their call sites.
 */
object Main {

  /** Every per-layer metric a traced run reports, with its unit. A metric
    * of a layer the workload does not call reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "functions.html_to_text_ns" -> "ns", "functions.jaro_winkler_ns" -> "ns",
    "functions.pack_tokens_ns" -> "ns", "functions.packed_jaccard_ns" -> "ns",
    "functions.minhash_sig_ns" -> "ns", "functions.simhash_ns" -> "ns",
    "pipeline.normalize_s" -> "s", "pipeline.normalize_task_s" -> "s",
    "pipeline.score_s" -> "s", "pipeline.score_task_s" -> "s",
    "pipeline.scored_pairs" -> "count", "pipeline.edges" -> "count",
    "pipeline.funnel_yield" -> "ratio",
    "pipeline.fold_s" -> "s", "pipeline.fold_task_s" -> "s",
    "pipeline.fold_scored_pairs" -> "count",
    "blocking.keys_s" -> "s", "blocking.pairs_s" -> "s", "blocking.block_keys" -> "count",
    "blocking.keys_rekeyed" -> "count", "blocking.keys_dropped" -> "count",
    "blocking.candidate_pairs" -> "count", "blocking.pair_completeness" -> "ratio",
    "blocking.reduction_ratio" -> "ratio",
    "cluster.cc_s" -> "s", "cluster.cc_iterations" -> "count", "cluster.cc_jobs" -> "count") ++
    Seq("q19", "q20", "q21", "q44", "q23", "q24").flatMap(q =>
      Seq(s"ops.${q}_s" -> "s", s"ops.${q}_task_s" -> "s")) ++
    Seq("catalog.q35_s", "publish.q26_s", "publish.q27_s", "publish.q28_s",
      "sql.q1_s", "sql.q2_s", "sql.q7_s", "sql.q14_s").map(_ -> "s") ++
    Seq("spark.task_s" -> "s", "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
      "spark.spill_mb" -> "MB", "spark.gc_s" -> "s", "spark.jit_s" -> "s",
      "spark.cpu_util" -> "ratio",
      "trace.overhead_s" -> "s")

  /** Ops an untraced run measures at least: as many as fit in the
    * benchmark's `--seconds` at this host's usual op time, so that a run's
    * median covers the same ops whether its window is quiet or not. */
  val MinOps = 2

  final case class Metric(value: Double, unit: String, n: Int)
  final case class OpStat(span: Span, ok: Boolean, traced: Boolean)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def log(m: String): Unit = System.err.println(s"[perfbench] $m")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val dir = args("dir")
    val cores = args.getOrElse("cores", Runtime.getRuntime.availableProcessors().toString).toInt
    require(Workload.Names.contains(name), s"unknown workload $name")

    // --- set-up: session start, inputs and one warm-up op ---------------------
    val t0Setup = System.nanoTime()
    val spark = GraftSession.create(cores, "perfbench")
    val tracer = new Tracer(spark.sparkContext)
    val ctx = new Ctx(spark, tracer, seed, dir)
    val w = Workload(name, ctx)
    log(f"setup: session ${(System.nanoTime() - t0Setup) / 1e9}%.3f s")
    w.setup()
    log(f"setup: inputs ${(System.nanoTime() - t0Setup) / 1e9}%.3f s")
    if (!runOp(tracer, w, 0, traced = false).ok) sys.error("warm-up op failed")
    val setupS = (System.nanoTime() - t0Setup) / 1e9
    log(f"setup: $setupS%.3f s")

    // --- closed loop ----------------------------------------------------------
    val ops = ArrayBuffer.empty[OpStat]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 1
    if (traced) {
      // plain–traced–traced–plain blocks: the JVM is still warming up, and a
      // linear trend in op wall cancels out of trace.overhead_s
      while (ops.isEmpty || elapsed + 4 * ops.last.span.wallS <= seconds)
        for (t <- Seq(false, true, true, false)) { ops += runOp(tracer, w, i, t); i += 1 }
    } else {
      while (ops.size < MinOps || elapsed + ops.last.span.wallS <= seconds) {
        ops += runOp(tracer, w, i, traced = false); i += 1
      }
    }
    val (tracedOps, plain) = ops.partition(_.traced)
    log(s"${ops.size} ops in ${elapsed} s")

    var finalOk = true
    val oracles = try w.finalCheck(traced) catch {
      case e: Throwable => log(s"final check failed: $e"); finalOk = false; Nil
    }
    tracer.drain()

    // --- metrics ----------------------------------------------------------------
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Metric]
    def walls(xs: collection.Seq[OpStat]) = xs.map(_.span.wallS).toSeq
    if (!traced) {
      metrics("setup_s") = Metric(setupS, "s", 1)
      metrics("wall_s") = Metric(median(walls(plain)), "s", plain.size)
      for (docs <- w.docsPerOp)
        metrics("docs_per_s") = Metric(median(plain.map(o => docs / o.span.wallS).toSeq),
          "1/s", plain.size)
      metrics("cpu_s") = Metric(median(plain.map(_.span.counters.cpuS).toSeq), "s", plain.size)
      metrics("task_s") = Metric(median(plain.map(_.span.counters.taskS).toSeq), "s", plain.size)
      metrics("peak_rss_mb") = Metric(peakRssMb(), "MB", 1)
    } else {
      val layer = scala.collection.mutable.LinkedHashMap.empty[String, Metric]
      val tOps = tracedOps.toSeq
      def spansNamed(n: String) = tracer.spans.toSeq.filter(_.name == n)
      for ((n, u) <- PerLayer) layer(n) = Metric(0.0, u, 0)
      // a layer may run as several spans in one op: sum per op, median over ops
      def fromSpans(span: String, metric: String, f: Span => Double): Unit = {
        val perOp = spansNamed(span).groupBy(_.op).values.map(_.map(f).sum).toSeq
        if (perOp.nonEmpty) layer(metric) = Metric(median(perOp), layer(metric).unit, perOp.size)
      }
      for (s <- Seq("pipeline.normalize", "pipeline.score", "pipeline.fold") ++
             Seq("q19", "q20", "q21", "q44", "q23", "q24").map("ops." + _)) {
        fromSpans(s, s + "_s", _.wallS)
        fromSpans(s, s + "_task_s", _.counters.taskS)
      }
      for (s <- Seq("blocking.keys", "blocking.pairs", "cluster.cc", "catalog.q35",
             "publish.q26", "publish.q27", "publish.q28", "sql.q1", "sql.q2", "sql.q7", "sql.q14"))
        fromSpans(s, s + "_s", _.wallS)
      fromSpans("cluster.cc", "cluster.cc_jobs", _.counters.jobs.toDouble)
      for ((k, v) <- w.layerCounts) layer(k) = Metric(v, layer(k).unit, 1)
      val p = plain.toSeq
      def perOp(metric: String, f: OpStat => Double): Unit =
        layer(metric) = Metric(median(p.map(f)), layer(metric).unit, p.size)
      perOp("spark.task_s", _.span.counters.taskS)
      perOp("spark.jobs", _.span.counters.jobs.toDouble)
      perOp("spark.stages", _.span.counters.stages.toDouble)
      perOp("spark.tasks", _.span.counters.tasks.toDouble)
      perOp("spark.shuffle_read_mb", _.span.counters.shuffleReadBytes / 1048576.0)
      perOp("spark.shuffle_write_mb", _.span.counters.shuffleWriteBytes / 1048576.0)
      perOp("spark.spill_mb", _.span.counters.spillBytes / 1048576.0)
      perOp("spark.gc_s", _.span.gcMs / 1000.0)
      perOp("spark.jit_s", _.span.jitMs / 1000.0)
      perOp("spark.cpu_util", o => o.span.counters.taskS / (o.span.wallS * cores))
      layer("trace.overhead_s") = Metric(median(walls(tOps)) - median(walls(p)), "s", tOps.size)
      val sample = w.kernelSample(256)
      for ((k, v) <- Kernels.measure(sample)) layer(k) = Metric(v, "ns", sample.size)
      metrics ++= layer
    }

    val failed = ops.count(!_.ok) + (if (finalOk) 0 else 1)
    writeResult(args("out"), ops.size, failed, metrics, oracles, ctx.dir)
    Files.writeString(Paths.get(args("spans")), tracer.toJson)
    spark.stop()
  }

  private def runOp(tracer: Tracer, w: Workload, i: Int, traced: Boolean): OpStat = {
    val s = tracer.begin("op", i)
    var ok = true
    try w.op(i, traced) catch {
      case e: Throwable => ok = false; log(s"op $i failed: $e"); e.printStackTrace()
    }
    tracer.end(s)
    tracer.drain()
    if (ok) try w.check(i) catch {
      case e: Throwable => ok = false; log(s"op $i check failed: $e")
    }
    log(f"op $i ${if (traced) "traced" else "plain"} ${s.wallS}%.3f s " +
      f"task ${s.counters.taskS}%.2f s cpu ${s.counters.cpuS}%.2f s gc ${s.gcMs} ms " +
      f"jit ${s.jitMs} ms${if (ok) "" else " FAILED"}")
    OpStat(s, ok, traced)
  }

  /** VmHWM of this JVM, in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def writeResult(path: String, attempted: Int, failed: Int,
                          metrics: collection.Map[String, Metric], oracles: Seq[Oracle],
                          tablesDir: String): Unit = {
    val ms = metrics.map { case (k, m) =>
      s"""${Json.str(k)}: {"value": ${Json.num(m.value)}, "unit": ${Json.str(m.unit)}, "n": ${m.n}}"""
    }.mkString(",\n  ")
    val os = oracles.map(o =>
      s"""{"name": ${Json.str(o.name)}, "sql": ${Json.str(o.sql)}, "result": ${Json.str(o.result)}}""")
      .mkString(", ")
    Files.writeString(Paths.get(path),
      s"""{"attempted": $attempted, "failed": $failed, "tables_dir": ${Json.str(tablesDir)},
         |"oracles": [$os],
         |"metrics": {
         |  $ms
         |}}
         |""".stripMargin)
  }
}
