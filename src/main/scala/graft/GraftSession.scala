package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory: AQE on, UTC, tmpfs-backed shuffle dirs when
  * available (gated + capacity-checked, per-process suffix).
  *
  * Shuffle partitions are deliberately DECOUPLED from the core count: at low
  * parallelism (local[2]) `partitions = cores` makes each shuffle partition's
  * working set huge (whole-stage hash maps, sort buffers), distorting the
  * N-vs-4N scaling comparison and — on a real cluster — causing spills. A
  * floor of 64 keeps per-task working sets small and lets AQE coalesce
  * upward from abundance (`parallelismFirst` keeps at least one partition
  * per core).
  *
  * Spark's generated-code cache is sized to hold the engine's working set
  * ([[CodegenCacheEntries]]). The entry is a static conf that `CodeGenerator`
  * reads once per JVM, when it first compiles: only the session that compiles
  * first sizes it, so every session that runs engine code (this factory,
  * `graft.Verify`, the test session) sets the same constant. */
object GraftSession {
  /** `spark.sql.codegen.cache.maxEntries`. Spark's default, 100, is smaller
    * than the distinct generated classes one op cycles through, so an LRU
    * cache never hit and every repeated op recompiled (and HotSpot re-JITted)
    * nearly all of them. Measured working sets (`perfbench`, 4 cores): a
    * resolve op 142 classes, a `dedup_sql` pass 213–215, an incremental fold
    * 346; 1000 holds their sum (703) with headroom. Cached classes live in
    * metaspace. */
  val CodegenCacheEntries = 1000

  def create(cpus: Int, appName: String = "graft"): SparkSession = {
    // honor an externally-provided master (spark-submit to a real cluster);
    // `cpus` then only sizes shuffle partitions
    val base = SparkSession.builder().appName(appName)
      .withExtensions(new graft.plans.GraftExtensions)
    val b = (if (sys.props.contains("spark.master")) base
             else base.master(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", math.max(64, cpus).toString)
      .config("spark.sql.adaptive.enabled", "true")
      // Leaf-scan splits floor at 4 tasks/core: the default split formula
      // (totalBytes/128 MB) hands a ~600 MB table to ANY level as ~6 fat
      // tasks — 2 ragged waves on 4 cores, 26 idle cores on 32 (measured:
      // the normalize scan alone was 16.5 s of a 63 s local[4] resolve wall
      // and ~half the local[32] wall). At cluster scale the floor is inert
      // (bytes/128 MB ≫ 4×cores) and `openCostInBytes` (4 MB) still keeps
      // small stage tables from over-splitting.
      .config("spark.sql.files.minPartitionNum", (4 * cpus).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
    // tmpfs shuffle dir: opt-out via SPARK_GRAFT_TMPFS=0; only when /dev/shm
    // has real headroom (shuffle spill on RAM-backed tmpfs can starve a
    // general host); per-process suffix avoids cross-session collisions
    val shm = new java.io.File("/dev/shm")
    val useTmpfs = sys.env.getOrElse("SPARK_GRAFT_TMPFS", "1") != "0" &&
      shm.isDirectory && shm.canWrite && shm.getUsableSpace > (16L << 30)
    // sweep shuffle dirs left by DEAD graft processes: Spark deletes its
    // blockmgr subdirs on clean stop but never the configured local.dir
    // root, and a killed JVM leaks contents too — on a shared RAM-backed
    // tmpfs these accumulate across sessions/rounds
    if (useTmpfs) shm.listFiles() match {
      case null => ()
      case fs => fs.foreach { f =>
        val n = f.getName
        if (n.startsWith("graft-spark-"))
          try {
            val pid = n.stripPrefix("graft-spark-").toLong
            val alive = ProcessHandle.of(pid).map[Boolean](_.isAlive).orElse(false)
            if (!alive) org.apache.commons.io.FileUtils.deleteDirectory(f)
          } catch { case _: Exception => }
      }
    }
    val withDir = if (useTmpfs)
      b.config("spark.local.dir",
        s"/dev/shm/graft-spark-${ProcessHandle.current().pid()}")
    else b
    val s = withDir.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
