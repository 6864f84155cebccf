package graft.tools

import graft.pipeline.EntityResolution

/**
 * The scaling experiment's measurement child: one JVM, one or more
 * "cluster sizes" (comma-separated core counts), spawned by graft.Bench.
 *
 * Running SEVERAL levels in ONE JVM is deliberate: the child's fixed cost
 * (JVM start, AlwaysPreTouch of the heap, JIT/codegen warmup, calibration
 * probes) measured 100 s quiet and up to 550 s in a contended window —
 * PER CHILD. Paying it once per pair instead of once per level doubles the
 * chance the full budget ladder lands in the driver-parsed JSON. Per-level
 * fidelity notes (disclosed in the bench JSON as "jvm_per_level": false):
 *   - a fresh local[N] session is created and fully stopped per level, so
 *     executor thread pools, shuffle state and session caches are per-level;
 *   - JIT/codegen warmth is SHARED — which is the fairer stand-in anyway
 *     (real N and 4N clusters are both long-running and warm);
 *   - GC worker threads are sized once, for the LARGEST level, so a small
 *     level sees slightly more GC resource than its own cluster would —
 *     measured gcSec is ~1 s of a 30-90 s wall (G1), and the error direction
 *     makes the reported N→4N efficiency CONSERVATIVE (the 1-core side can
 *     only get faster).
 * Levels run in CALLER order — Bench sends the window-exposed largest level
 * first, the steal-immune 1-core side to anchor the pair, and any secondary
 * rung (8/2) last, so a wall cap or a turning window costs the droppable
 * levels, never the north-rule pair.
 *
 * Prints one line per level: `[scale] cpus=<n> sec=<t> docs=<d> ...` —
 * graft.Bench parses every such line, so a wall-capped child still delivers
 * the levels it finished. An optional wall budget (4th arg, seconds) makes
 * the child skip remaining levels rather than blow the parent's cap.
 */
object ScaleRunner {
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    def phase(m: String): Unit =
      System.err.println(f"[scale-phase] +$elapsed%.0fs $m")
    phase("main")
    // caller order preserved (Bench sends gate-critical levels first, so a
    // wall cap drops the secondary 8/2 rung before the north-rule 4/1 pair)
    val levels = args(0).split(",").map(_.trim.toInt).toSeq
    // level order is a caller contract (ADVICE r5): the warmup pass rides
    // the FIRST level, so an ascending manual invocation (e.g. "1,4") warms
    // at 1 core (slow) and measures the window-exposed large level last —
    // warn, don't fail (diagnostic runs may want odd orders deliberately)
    if (levels.length > 1 && levels.zip(levels.tail).exists { case (a, b) => b > a })
      phase(s"WARNING: levels ${levels.mkString(",")} are not non-increasing — " +
        "the first level pays the warmup and later levels face older windows; " +
        "Bench always sends largest-first")
    val corpus = args(1)
    val warmupCorpus = args(2)
    val wallBudget = if (args.length > 3) args(3).toDouble else Double.MaxValue

    val taskTime = new java.util.concurrent.atomic.AtomicLong()
    val cpuTime = new java.util.concurrent.atomic.AtomicLong()
    val gcTime = new java.util.concurrent.atomic.AtomicLong()
    val taskCount = new java.util.concurrent.atomic.AtomicLong()
    def listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        taskTime.addAndGet(e.taskMetrics.executorRunTime)
        cpuTime.addAndGet(e.taskMetrics.executorCpuTime / 1000000L)
        gcTime.addAndGet(e.taskMetrics.jvmGCTime)
        taskCount.incrementAndGet()
      }
    }

    def run(spark: org.apache.spark.sql.SparkSession, path: String): (Double, Long) = {
      val pages = spark.read.parquet(path)
      val t = System.nanoTime()
      val result = EntityResolution.resolve(pages)
      val docs = result.integrated.count()
      val secs = (System.nanoTime() - t) / 1e9
      result.scoredPairs.unpersist()
      spark.sharedState.cacheManager.clearCache()
      (secs, docs)
    }

    var firstLevel = true
    for (cpus <- levels) {
      if (!firstLevel && elapsed + 30 > wallBudget) {
        phase(s"level cpus=$cpus skipped (wall budget)")
      } else {
        val spark = graft.GraftSession.create(cpus, s"graft-scale-$cpus")
        spark.sparkContext.addSparkListener(listener)
        phase(s"session up cpus=$cpus")
        if (firstLevel) {
          // warm everything once: JIT, codegen, page cache, shuffle path —
          // shared by every level of this suite
          run(spark, warmupCorpus)
          phase("warmup done")
        }
        // The window may have turned during startup/warmup/earlier levels:
        // re-check steal AT this level's concurrency immediately before the
        // measured run (bounded wait; the wall Bench subtracts as overhead
        // grows by the wait, honestly). Steal observed DURING the measured
        // section is reported regardless.
        HostStat.awaitQuiet(threads = math.min(cpus, 8),
          maxTries = if (cpus >= 32) 2 else 4, // 32-thread windows rarely clear
          okSteal = 0.15, canWait = () => elapsed + 60 < wallBudget,
          log = m => System.err.println(s"[scale-gate] $m"))
        taskTime.set(0); cpuTime.set(0); gcTime.set(0); taskCount.set(0)
        val (busy0, steal0) = HostStat.procStat()
        val (sec, docs) = run(spark, corpus) // measured, steady-state
        val (busy1, steal1) = HostStat.procStat()
        phase(s"measured done cpus=$cpus")
        val measuredTask = taskTime.get()
        val measuredTaskCount = taskCount.get()
        val util = measuredTask / 1000.0 / (sec * cpus)
        // Frequency calibration: a fixed pure-CPU probe (no shuffle, no
        // alloc) at this level's concurrency. On this host the per-core
        // clock drops as more cores go active (turbo); separate N and 4N
        // executor machines run at equal clocks. Raw efficiency is primary;
        // the probe-normalized value is context.
        import org.apache.spark.sql.functions._
        def probe(): Double = {
          val c0 = taskTime.get()
          spark.range(0, 150000000L, 1, cpus * 4)
            .select(sum(pmod(xxhash64(xxhash64(xxhash64(col("id")))), lit(1000000007L)))).head()
          (taskTime.get() - c0) / 1000.0
        }
        if (firstLevel) probe() // JIT warm, once per JVM
        phase(s"cal warm done cpus=$cpus")
        val calCoreSec = probe()
        phase(s"cal done cpus=$cpus")
        // nTasks contextualizes work inflation across levels: Spark's
        // input-split formula (totalBytes / defaultParallelism) and AQE's
        // parallelismFirst coalescing both scale task counts with the
        // level's core count — exactly as they do on a real N vs 4N
        // executor cluster. Per-task FIXED cost was probed and ruled out as
        // the inflation carrier (1-6 ms/task even for fresh plans); the
        // inflation concentrates in the hash-agg / shuffle minority of the
        // CPU (the compute-dense stages inflate 1.0x) and its magnitude
        // tracks the host window — see BENCH/BASELINE.md "Work inflation:
        // stage-level attribution".
        println(f"[scale] cpus=$cpus sec=$sec%.3f docs=$docs " +
          f"taskSec=${measuredTask / 1000.0}%.1f cpuSec=${cpuTime.get() / 1000.0}%.1f " +
          f"gcSec=${gcTime.get() / 1000.0}%.1f util=$util%.2f calCoreSec=$calCoreSec%.2f " +
          f"stealSec=${steal1 - steal0}%.1f busySec=${busy1 - busy0}%.1f " +
          f"nTasks=$measuredTaskCount")
        System.out.flush()
        spark.stop()
        phase(s"session stopped cpus=$cpus")
        firstLevel = false
      }
    }
    // clean up tmpfs stage tables (Bench points java.io.tmpdir at /dev/shm)
    val tmp = System.getProperty("java.io.tmpdir")
    if (tmp != null && tmp.startsWith("/dev/shm/graft-scale"))
      try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      catch { case _: Exception => }
  }
}
