package graft

import java.util.Locale
import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.EntityResolution
import graft.testgen.WebCorpus

/**
 * Benchmark driver (`runMain graft.Bench`). Three stages; after each one a
 * complete strict-JSON line is printed and flushed on stdout, so a run cut
 * short still delivers what it measured. The last line carries all three.
 *
 *  1. `headline`: the 7 headline queries on SPARK_GRAFT_SF_DIR at
 *     SPARK_GRAFT_CPUS cores (default: every core of the host), best of 2
 *     passes after a warm-up.
 *  2. `scalingPair`: the full ER pipeline over one materialized corpus at
 *     local[4N], then local[N], N = nproc / 4, in this JVM. Each level gets a
 *     fresh session that is fully stopped afterwards, so executor pools,
 *     shuffle state and session caches are per level. One warm-up resolve
 *     runs before the first level; JIT and codegen warmth are shared, which
 *     can only speed up the N side, so the reported efficiency is
 *     conservative. Bracketing /proc/stat reads give each level's steal.
 *  3. `incremental`: a full re-resolve against `resolveIncremental` of a 4%
 *     batch folded into the other 96%, on the pair's corpus, after an
 *     untimed resolve and fold of the warm-up corpus.
 *
 * Host sizing ([[HostPlan.of]]): the pair needs 4N ≤ nproc, so a host with
 * fewer than 4 cores reports `er_scaling` as null with `er_scaling_absent`
 * saying why. The corpus is min(25 000 · nproc, 16 000 · heap GiB) entities
 * (about 1.5 pages each), rounded down to a thousand, at least 2 000: per
 * core enough work that a level's fixed cost (job scheduling, CC barriers)
 * is a minor share of its wall, per GiB of `Runtime.maxMemory` little
 * enough that the incremental stage's resolves fit the heap. On 4 cores
 * with `-Xmx7g`: 100 000 entities, about 150 000 pages. The per-GiB bound
 * is conservative: on 4 cores the peak heap after a collection (G1 log,
 * no full GC) read 0.85 GiB at `-Xmx2g` (32 000 entities), 1.0 GiB at
 * `-Xmx3g` (48 000) and 1.4 GiB at `-Xmx7g` (100 000), in the incremental
 * stage each time.
 */
object Bench {

  private val t0Wall = System.nanoTime()
  private def elapsed: Double = (System.nanoTime() - t0Wall) / 1e9

  private def session(cpus: Int): SparkSession =
    GraftSession.create(cpus, s"graft-bench-$cpus")

  private def mark(m: String): Unit =
    System.err.println(f"[bench-phase] +$elapsed%.0fs $m")

  /** Print a bench JSON line and flush — the driver parses stdout lines. */
  private def emit(line: String): Unit = { println(line); System.out.flush() }

  def main(args: Array[String]): Unit = {
    mark("start")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nproc = Runtime.getRuntime.availableProcessors
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", nproc.toString).toInt
    val plan = HostPlan.of(nproc, Runtime.getRuntime.maxMemory)

    val head = headFields(headline(sfDir, cpus), sfDir)
    emit(line(head, Seq("er_scaling" -> "null"), "null"))

    val root = java.nio.file.Files.createTempDirectory("graft-bench").toString
    try {
      val corpus = s"$root/corpus"
      val warmCorpus = s"$root/corpus-warmup"
      mark(s"corpus: ${plan.entities} entities")
      val spark = session(cpus)
      try {
        WebCorpus.pages(spark, plan.entities).write.parquet(corpus)
        WebCorpus.pages(spark, plan.warmupEntities).write.parquet(warmCorpus)
      } finally spark.stop()
      val er = erFields(plan.pair.map(n => stageOrNull("scaling pair") {
        scalingPair(plan.entities, n, corpus, warmCorpus, s"$root/pair")
      }))
      emit(line(head, er, "null"))
      emit(line(head, er, stageOrNull("incremental") {
        incremental(cpus, corpus, warmCorpus, s"$root/incremental")
      }))
    } finally FileUtils.deleteQuietly(new java.io.File(root))
    mark("done")
  }

  /** A stage that fails leaves its section null (the cause goes to stderr)
    * and the next stage still runs. */
  private def stageOrNull(name: String)(body: => String): String = {
    mark(name)
    try body catch { case NonFatal(e) => mark(s"$name failed: $e"); "null" }
  }

  /** Stage 1: each headline query's best-of-2 seconds. */
  private def headline(sfDir: String, cpus: Int): Seq[(String, Double)] = {
    val headline = Seq("q1_agg", "q2_join_agg", "q7_window_topn", "q14_dedup_exact",
      "q19_minhash_dups", "q23_ann_brute", "q26_interactions")

    val spark = session(cpus)
    // steady-state setup OUTSIDE the timed region: materialize the corpus the
    // near-dup queries read (generator cost is not query cost) and run one
    // warmup query so q1 measures the operator, not first-query codegen/JIT
    mark("warmup")
    graft.testgen.WebCorpus.pagesMaterialized(spark, sfDir)
    try SparkEntry.queries("q1_agg")(spark, sfDir).count() catch { case _: Throwable => }
    try SparkEntry.queries("q23_ann_brute")(spark, sfDir).count() catch { case _: Throwable => }
    // best-of-2 per query: the first pass still pays codegen/JIT/heap-growth
    // for each query's unique operators; the second pass is the steady-state
    // number a resident service would see. Both passes fit in seconds.
    def headlinePass(s: SparkSession): Seq[(String, Double)] = headline.map { name =>
      mark(s"headline $name")
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      try fn(s, sfDir).count() catch { case _: Throwable => -1L }
      name -> (System.nanoTime() - t0) / 1e9
    }
    val pass1 = headlinePass(spark)
    val pass2 = headlinePass(spark)
    var results = pass1.zip(pass2).map { case ((n, a), (_, b)) => n -> math.min(a, b) }
    mark("headline done")
    spark.stop()
    results
  }

  /** Stage 2: the N→4N pair; returns the `er_scaling` object. */
  private def scalingPair(entities: Long, n: Int, corpus: String, warmCorpus: String,
                          work: String): String = {
    val fourN = measureLevel(4 * n, corpus, Some(warmCorpus), s"$work/local${4 * n}")
    val oneN = measureLevel(n, corpus, None, s"$work/local$n")
    scalingJson(entities, oneN, fourN)
  }

  /** Task metrics of every task that ends while the listener is attached. */
  private class TaskTotals extends SparkListener {
    val runMs, cpuMs, gcMs, count = new AtomicLong()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      runMs.addAndGet(e.taskMetrics.executorRunTime)
      cpuMs.addAndGet(e.taskMetrics.executorCpuTime / 1000000L)
      gcMs.addAndGet(e.taskMetrics.jvmGCTime)
      count.incrementAndGet()
    }
    def reset(): Unit = Seq(runMs, cpuMs, gcMs, count).foreach(_.set(0))
  }

  /** One level: a fresh local[cores] session, an optional warm-up resolve,
    * the timed `resolve` + `integrated.count()`, then the calibration
    * probe. */
  private def measureLevel(cores: Int, corpus: String, warmCorpus: Option[String],
                           work: String): Level = {
    val spark = session(cores)
    try {
      val tasks = new TaskTotals
      spark.sparkContext.addSparkListener(tasks)
      def resolve(path: String, tag: String): (Double, Long) = {
        val pages = spark.read.parquet(path)
        val t = System.nanoTime()
        val result = EntityResolution.resolve(pages,
          EntityResolution.Config(workDir = Some(s"$work/$tag")))
        val docs = result.integrated.count()
        val secs = (System.nanoTime() - t) / 1e9
        result.scoredPairs.unpersist()
        spark.sharedState.cacheManager.clearCache()
        (secs, docs)
      }
      // Frequency calibration: a fixed pure-CPU job (no shuffle, no alloc)
      // at this level's concurrency. On a shared host the per-core clock can
      // drop as more cores go active; separate N and 4N executor machines
      // run at equal clocks. Raw efficiency is primary; the probe-normalized
      // value is context.
      def probe(): Double = {
        val c0 = tasks.runMs.get()
        spark.range(0, 150000000L, 1, cores * 4)
          .select(sum(pmod(xxhash64(xxhash64(xxhash64(col("id")))), lit(1000000007L)))).head()
        (tasks.runMs.get() - c0) / 1000.0
      }
      warmCorpus.foreach { w =>
        mark(s"local[$cores] warm-up")
        resolve(w, "warmup")
        probe()
      }
      mark(s"local[$cores] measured")
      tasks.reset()
      val (busy0, steal0) = procStat()
      val (sec, docs) = resolve(corpus, "measured")
      val (busy1, steal1) = procStat()
      val (taskSec, cpuSec, gcSec, nTasks) = (tasks.runMs.get() / 1000.0,
        tasks.cpuMs.get() / 1000.0, tasks.gcMs.get() / 1000.0, tasks.count.get())
      Level(cores, sec, docs, taskSec, cpuSec, gcSec, nTasks, probe(),
        busy1 - busy0, steal1 - steal0,
        spark.conf.get("spark.sql.shuffle.partitions").toInt)
    } finally {
      spark.stop()
      FileUtils.deleteQuietly(new java.io.File(work))
    }
  }

  /** (busyCoreSec, stealCoreSec) across all cpus since boot; NaN off-Linux. */
  private def procStat(): (Double, Double) = {
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toDouble)
        val hz = 100.0 // USER_HZ
        val busy = (f(0) + f(1) + f(2) + f(5) + f(6)) / hz
        (busy, if (f.length > 7) f(7) / hz else 0.0)
      } finally src.close()
    } catch { case _: Exception => (Double.NaN, Double.NaN) }
  }

  /** Stage 3: full re-resolve vs an incremental fold of a 4% batch (rows
    * with xxhash64(url) % 25 == 0) into the resolved other 96%. Both sides
    * start equally warm: the same split is first resolved and folded,
    * untimed, on the warm-up corpus, so neither side pays its first-run
    * codegen and JIT in the timed region. Scored-pair counts are taken
    * outside both timed sections: `candidatePairs` recomputes blocking
    * lazily, for ~10x more pairs on the full side. */
  private def incremental(cpus: Int, corpus: String, warmCorpus: String,
                          work: String): String = {
    val spark = session(cpus)
    try {
      val all = spark.read.parquet(corpus)
      val isNew = pmod(xxhash64(col("url")), lit(25)) === 0
      def cfg(tag: String) = EntityResolution.Config(workDir = Some(s"$work/$tag"))
      def timed(f: => EntityResolution.Result): (EntityResolution.Result, Double) = {
        val t0 = System.nanoTime()
        val r = f
        r.integrated.count()
        (r, (System.nanoTime() - t0) / 1e9)
      }
      mark("incremental warm-up")
      val warm = spark.read.parquet(warmCorpus)
      EntityResolution.resolve(warm.filter(!isNew), cfg("warm-prior")).integrated.count()
      EntityResolution.resolveIncremental(warm.filter(isNew), s"$work/warm-prior", cfg("warm-inc"))
        .integrated.count()
      mark("incremental measured")
      EntityResolution.resolve(all.filter(!isNew), cfg("prior")).integrated.count()
      val (full, fullSec) = timed(EntityResolution.resolve(all, cfg("full")))
      val (inc, incSec) = timed(
        EntityResolution.resolveIncremental(all.filter(isNew), s"$work/prior", cfg("inc")))
      obj(Seq(
        "docs" -> all.count().toString,
        "batch_frac" -> num(1.0 / 25, 3),
        "full_sec" -> num(fullSec, 2),
        "incremental_sec" -> num(incSec, 2),
        "speedup" -> num(fullSec / incSec, 2),
        "full_scored_pairs" -> full.candidatePairs.count().toString,
        "incremental_scored_pairs" -> inc.candidatePairs.count().toString))
    } finally {
      spark.stop()
      FileUtils.deleteQuietly(new java.io.File(work))
    }
  }

  // ---- Pure parts: host sizing and the JSON lines (BenchSpec).

  /** The corpus this host measures (`entities`, plus a small warm-up
    * corpus) and the pair's N, or why there is no pair. */
  private[graft] case class HostPlan(entities: Long, pair: Either[String, Int]) {
    def warmupEntities: Long = math.max(1000L, entities / 50)
  }

  private[graft] object HostPlan {
    def of(nproc: Int, maxHeapBytes: Long): HostPlan = {
      val heapGiB = maxHeapBytes.toDouble / (1L << 30)
      val entities = math.min(25000L * nproc, (16000 * heapGiB).toLong) / 1000 * 1000
      HostPlan(math.max(2000L, entities),
        if (nproc >= 4) Right(nproc / 4)
        else Left(s"nproc=$nproc: the N to 4N pair needs at least 4 cores"))
    }
  }

  /** One measured level of the pair: the timed resolve's wall and output
    * rows, the task metrics Spark reported for it, the calibration probe's
    * task-seconds, and the host's busy and stolen core-seconds over the
    * timed region. */
  private[graft] case class Level(cores: Int, sec: Double, docs: Long, taskSec: Double,
                                  cpuSec: Double, gcSec: Double, nTasks: Long,
                                  calCoreSec: Double, busySec: Double, stealSec: Double,
                                  shufflePartitions: Int) {
    /** Fraction of wanted CPU the hypervisor gave to another tenant during
      * the timed region (host interference, not pipeline behaviour). */
    def stealPct: Double =
      if (stealSec.isNaN || busySec.isNaN || stealSec + busySec <= 0) Double.NaN
      else stealSec / (stealSec + busySec)
  }

  /** Keys of the old local[32] throughput point; null unless the pair itself
    * measured a 32-core level. */
  private val local32Keys = Seq("sec_local32", "docs_per_sec_local32", "steal_pct_local32",
    "n_tasks_local32", "scaling_efficiency_4_to_32")

  /** The `er_scaling` object for the pair (`n` at N cores, `fourN` at 4N). */
  private[graft] def scalingJson(entities: Long, n: Level, fourN: Level): String = {
    val eff = (n.sec / fourN.sec) / 4.0
    val freqRatio = fourN.calCoreSec / n.calCoreSec
    val inflation = fourN.taskSec / n.taskSec
    // a quiet, sane pair carries no caveat; otherwise the reason it must not
    // be read as the pipeline's scaling is on its face. Identical work cannot
    // cost fewer task-seconds at 4N threads than at N, so inflation < 0.95
    // says the N side was slowed from outside (a ratio-flattering window).
    val caveats =
      (if (n.stealPct > 0.10 || fourN.stealPct > 0.10)
         Seq(f"steal>10%% on a measured side (local${n.cores}=${n.stealPct * 100}%.1f%%, " +
           f"local${fourN.cores}=${fourN.stealPct * 100}%.1f%%)")
       else Nil) ++
      (if (inflation < 0.95)
         Seq(f"work_inflation_1_to_4=$inflation%.3f<0.95: the N side was externally slowed")
       else Nil)
    def perLevel(key: String, f: Level => String): Seq[(String, String)] =
      Seq(n, fourN).map(l => s"$key${l.cores}" -> f(l))
    val fields =
      Seq("entities" -> entities.toString, "docs" -> fourN.docs.toString,
        "n_cores" -> n.cores.toString, "four_n_cores" -> fourN.cores.toString) ++
      perLevel("sec_local", l => num(l.sec, 2)) ++
      perLevel("docs_per_sec_local", l => num(l.docs / l.sec, 1)) ++
      Seq("scaling_efficiency_n_to_4n" -> num(eff, 3)) ++
      (if (caveats.isEmpty) Nil else Seq("gate_caveat" -> str(caveats.mkString("; ")))) ++
      Seq("freq_cal_core_sec" -> obj(Seq(n, fourN).map(l => s"local${l.cores}" -> num(l.calCoreSec, 2))),
        "freq_ratio_n_to_4n" -> num(freqRatio, 3),
        "scaling_efficiency_n_to_4n_freq_normalized" -> num(eff * freqRatio, 3)) ++
      perLevel("task_sec_local", l => num(l.taskSec, 1)) ++
      perLevel("cpu_sec_local", l => num(l.cpuSec, 1)) ++
      perLevel("gc_sec_local", l => num(l.gcSec, 1)) ++
      Seq("work_inflation_1_to_4" -> num(inflation, 3)) ++
      perLevel("n_tasks_local", _.nTasks.toString) ++
      perLevel("steal_pct_local", l => num(l.stealPct * 100, 1)) ++
      perLevel("shuffle_partitions_local", _.shufflePartitions.toString)
    val have = fields.map(_._1).toSet
    obj(fields ++ local32Keys.filterNot(have).map(_ -> "null") ++
      Seq("jvm_per_level" -> "false", "warmup_per_suite" -> "true"))
  }

  private[graft] def headFields(results: Seq[(String, Double)],
                                sfDir: String): Seq[(String, String)] =
    Seq("metric" -> str("total"), "value" -> num(results.map(_._2).sum, 3),
      "unit" -> str("sec"), "queries" -> obj(results.map { case (k, v) => k -> num(v, 3) }),
      "sf" -> str(sfDir))

  /** `er_scaling`: the pair's object, or null beside the reason there is
    * no pair. */
  private[graft] def erFields(pair: Either[String, String]): Seq[(String, String)] =
    pair.fold(reason => Seq("er_scaling" -> "null", "er_scaling_absent" -> str(reason)),
      json => Seq("er_scaling" -> json))

  /** One output line: the headline fields, the `er_scaling` fields and
    * `er_incremental` (each null until its stage has run). */
  private[graft] def line(head: Seq[(String, String)], er: Seq[(String, String)],
                          inc: String): String =
    obj(head ++ er :+ ("er_incremental" -> inc))

  /** A JSON number, or null for NaN / infinity (strict JSON has neither). */
  private[graft] def num(x: Double, digits: Int): String =
    if (x.isNaN || x.isInfinite) "null"
    else String.format(Locale.ROOT, s"%.${digits}f", Double.box(x))

  private[graft] def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  private[graft] def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
