package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{EntityResolution, Stage}
import graft.testgen.WebCorpus

/**
 * Spark jobs per op, counted by a listener. Both benchmark workloads are
 * bound by job latency rather than by kernels, so a change that adds jobs
 * to a resolve or a fold shows here before it shows in wall time. The pins
 * are upper bounds: `writeBlockTables`' still-hot gate falls back to one
 * `isEmpty` job when the observation arrives late on a slow listener bus.
 */
class JobCountSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  // measured on this corpus (400 entities) in the TestSpark session; CC
  // converges in one round on it, in the resolve and in the fold
  private val ResolveOpJobs = 27
  private val FoldJobs = 90

  private val Mark = "graft.jobcount.mark"

  private object Jobs extends SparkListener {
    val started, marks = new AtomicInteger
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty(Mark) != null)) marks.incrementAndGet()
      else started.incrementAndGet()
  }

  /** Runs a marked job and waits until the listener has seen it: the bus
    * delivers events in order, so every earlier job start has arrived. */
  private def drain(): Unit = {
    val sc = spark.sparkContext
    val seen = Jobs.marks.get
    sc.setLocalProperty(Mark, "1")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Mark, null)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (Jobs.marks.get == seen) {
      assert(System.nanoTime() < deadline, "the listener bus did not deliver the marked job")
      Thread.sleep(5)
    }
  }

  /** Spark jobs `body` submits. */
  private def jobsOf(body: => Unit): Int = {
    spark.sparkContext.addSparkListener(Jobs)
    try {
      drain()
      val before = Jobs.started.get
      body
      drain()
      Jobs.started.get - before
    } finally spark.sparkContext.removeSparkListener(Jobs)
  }

  private lazy val pages = WebCorpus.pages(spark, 400).toDF()

  test("Stage.write reads its table back without a job") {
    withTempDir("graft-jobs-stage") { dir =>
      val df = spark.range(100).select(col("id"), (col("id") % 7).as("k"))
      val bare = jobsOf(df.write.parquet(s"$dir/bare"))
      var back: DataFrame = null
      val staged = jobsOf { back = Stage.write(df, s"$dir/staged") }
      assert(staged == bare, s"Stage.write ran $staged jobs, the write alone $bare")
      // control: a read that infers its schema does run one, and reads the
      // schema Stage.write hands back
      var inferred: DataFrame = null
      assert(jobsOf { inferred = spark.read.parquet(s"$dir/staged") } >= 1)
      assert(back.schema == inferred.schema)
      assert(back.collect().toSet == df.collect().toSet)
    }
  }

  test(s"a warm resolve op runs at most $ResolveOpJobs jobs") {
    withTempDir("graft-jobs-resolve") { dir =>
      def op(i: Int): Unit = {
        val work = s"$dir/op-$i"
        EntityResolution.resolve(pages, EntityResolution.Config(workDir = Some(work)))
          .integrated.write.parquet(s"$work/integrated_pages")
      }
      op(0)
      val jobs = jobsOf(op(1))
      info(s"resolve op: $jobs jobs")
      assert(jobs <= ResolveOpJobs, s"a resolve op ran $jobs jobs, more than $ResolveOpJobs")
    }
  }

  test(s"a fold of a 20% batch runs at most $FoldJobs jobs") {
    withTempDir("graft-jobs-fold") { dir =>
      val isNew = pmod(xxhash64(col("url")), lit(5)) === 4
      EntityResolution.resolve(pages.filter(!isNew),
        EntityResolution.Config(workDir = Some(s"$dir/prior")))
        .integrated.write.parquet(s"$dir/prior/integrated_pages")
      val jobs = jobsOf {
        EntityResolution.resolveIncremental(pages.filter(isNew), s"$dir/prior",
          EntityResolution.Config(workDir = Some(s"$dir/fold")))
          .integrated.write.parquet(s"$dir/fold/integrated_pages")
      }
      info(s"fold: $jobs jobs")
      assert(jobs <= FoldJobs, s"a fold ran $jobs jobs, more than $FoldJobs")
    }
  }
}
