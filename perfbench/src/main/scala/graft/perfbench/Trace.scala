package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spark runtime counters summed over the jobs run under one span. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  def taskS: Double = taskMs / 1000.0
  def cpuS: Double = cpuNs / 1e9

  def add(o: Counters): Counters = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs; cpuNs += o.cpuNs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
    this
  }

  def addTask(m: org.apache.spark.executor.TaskMetrics): Unit = synchronized {
    tasks += 1
    taskMs += m.executorRunTime
    cpuNs += m.executorCpuTime
    shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
    shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    spillBytes += m.diskBytesSpilled
  }

  def toJson: String =
    s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"task_s":$taskS,"cpu_s":$cpuS,""" +
      s""""shuffle_read_bytes":$shuffleReadBytes,"shuffle_write_bytes":$shuffleWriteBytes,""" +
      s""""spill_bytes":$spillBytes}"""
}

/**
 * One Spark job run under a span: `callStack` is the driver's call stack at
 * submission (the long call site Spark records for the job's SQL execution,
 * or for its final stage), innermost frame first. Times are epoch ms.
 */
final class JobRec(val id: Int, val spanIds: List[Int], val execId: Long,
                   val callStack: Seq[String], val startMs: Long) {
  @volatile var endMs: Long = -1L
  val counters: Counters = { val c = new Counters; c.jobs = 1; c }
}

/** One timed region: a whole op (root), a layer call inside it, or a job.
  * `gcMs` and `jitMs` are the JVM's GC time and JIT compile time (summed
  * over its compiler threads) during the span. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, var endNs: Long, var gcMs: Long, var jitMs: Long,
                      counters: Counters) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/**
 * In-memory span recorder plus the Spark listener that attributes every
 * job, stage and task to the span open on the driver thread when the job
 * was submitted (carried as a local property, so it survives the async
 * listener bus). A task counts toward its span and all of that span's
 * ancestors. The listener also keeps each such job with its call stack, so
 * the jobs of one opaque call (a whole `resolve`) can be attributed to the
 * layers that submitted them afterwards ([[jobsUnder]], [[record]]). Spans
 * are only written out by [[toJson]] at the end of a run.
 */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val Prop = "graft.perfbench.span"
  private val FenceProp = "graft.perfbench.fence"
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val countersById = new ConcurrentHashMap[Int, Counters]()
  private val stageSpans = new ConcurrentHashMap[Int, List[Counters]]()
  private val stageJobs = new ConcurrentHashMap[Int, JobRec]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  /** Long call site of each SQL execution, by execution id. */
  private val execCallSites = new ConcurrentHashMap[Long, String]()
  private val fenceSeen = new java.util.concurrent.atomic.AtomicLong(-1L)
  private var fenceSeq = 0L
  private val fenceStarted = new ConcurrentHashMap[Int, java.lang.Long]()
  private val t0 = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()

  /** An epoch-ms listener timestamp on the span clock. */
  def nsOf(epochMs: Long): Long = t0 + (epochMs - t0Ms) * 1000000L

  private def spanIds(props: java.util.Properties): List[Int] =
    Option(props).flatMap(p => Option(p.getProperty(Prop)))
      .map(_.split(',').toList.map(_.toInt)).getOrElse(Nil)

  private def chain(props: java.util.Properties): List[Counters] =
    spanIds(props).map(countersById.get)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execCallSites.put(s.executionId, s.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val ids = spanIds(e.properties)
    chain(e.properties).foreach(c => c.synchronized(c.jobs += 1))
    if (ids.nonEmpty) {
      val execId = Option(e.properties.getProperty("spark.sql.execution.id"))
        .map(_.toLong).getOrElse(-1L)
      val site = Option(execCallSites.get(execId)).getOrElse(
        if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details)
      val j = new JobRec(e.jobId, ids, execId, site.split('\n').toSeq, e.time)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(id => stageJobs.putIfAbsent(id, j))
    }
    Option(e.properties).flatMap(p => Option(p.getProperty(FenceProp)))
      .foreach(v => fenceStarted.put(e.jobId, v.toLong))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    val seq = fenceStarted.remove(e.jobId)
    if (seq != null) fenceSeen.accumulateAndGet(seq.longValue, math.max)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val cs = chain(e.properties)
    if (cs.nonEmpty) {
      stageSpans.put(e.stageInfo.stageId, cs)
      cs.foreach(c => c.synchronized(c.stages += 1))
    }
    Option(stageJobs.get(e.stageInfo.stageId)).foreach(j =>
      j.counters.synchronized(j.counters.stages += 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      Option(stageSpans.get(e.stageId)).foreach(_.foreach(_.addTask(m)))
      Option(stageJobs.get(e.stageId)).foreach(_.counters.addTask(m))
    }
  }

  /** The finished jobs submitted under span `id` (or a descendant), in
    * submission order. Call after [[drain]]. */
  def jobsUnder(id: Int): Seq[JobRec] =
    jobs.values.asScala.filter(j => j.spanIds.contains(id) && j.endMs >= 0)
      .toSeq.sortBy(_.id)

  /** Adds a span measured after the fact, e.g. from the jobs of a call. */
  def record(name: String, parent: Int, op: Int, startNs: Long, endNs: Long,
             counters: Counters): Span = {
    val s = Span(spans.length, parent, op, name, startNs, endNs, 0L, 0L, counters)
    spans += s
    s
  }

  /** Jobs submitted from here on count toward a new child of the open span. */
  def begin(name: String, op: Int): Span = {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = Span(spans.length, parent, op, name, System.nanoTime(), 0L, gcMs(), jitMs(),
      new Counters)
    spans += s
    countersById.put(s.id, s.counters)
    stack = s :: stack
    sc.setLocalProperty(Prop, stack.map(_.id).mkString(","))
    s
  }

  def end(s: Span): Span = {
    require(stack.headOption.exists(_ eq s), s"span ${s.name} closed out of order")
    s.endNs = System.nanoTime()
    s.gcMs = gcMs() - s.gcMs
    s.jitMs = jitMs() - s.jitMs
    stack = stack.tail
    sc.setLocalProperty(Prop, if (stack.isEmpty) null else stack.map(_.id).mkString(","))
    s
  }

  def span[T](name: String, op: Int)(body: => T): T = {
    val s = begin(name, op)
    try body finally end(s)
  }

  /** Blocks until the listener has seen every event posted before this
    * call: a one-task job's end event is queued behind them. */
  def drain(): Unit = {
    fenceSeq += 1
    val seq = fenceSeq
    val saved = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, null)
    sc.setLocalProperty(FenceProp, seq.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally {
      sc.setLocalProperty(FenceProp, null)
      sc.setLocalProperty(Prop, saved)
    }
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (fenceSeen.get() < seq && System.nanoTime() < deadline) Thread.sleep(2)
    require(fenceSeen.get() >= seq, "listener bus did not drain within 60 s")
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum

  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
      s""""start_s":${(s.startNs - t0) / 1e9},"end_s":${(s.endNs - t0) / 1e9},""" +
      s""""gc_s":${s.gcMs / 1000.0},"jit_s":${s.jitMs / 1000.0},"spark":${s.counters.toJson}}"""
  }.mkString("[\n", ",\n", "\n]\n")

  sc.addSparkListener(this)
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  /** A result cell: numbers and booleans as JSON literals, the rest as text. */
  def value(v: Any): String = v match {
    case null => "null"
    case n: java.lang.Long => n.toString
    case n: java.lang.Integer => n.toString
    case n: java.lang.Short => n.toString
    case b: java.lang.Boolean => b.toString
    case other => str(other.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
