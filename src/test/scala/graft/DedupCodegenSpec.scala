package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Ann, Dedup, Multimodal}
import graft.testgen.WebCorpus

/**
 * The near-duplicate operators run no interpreted expression. A
 * `CodegenFallback` expression (a `transform` lambda, say) is evaluated row
 * by row outside whole-stage codegen; the dedup features were such chains
 * until they became compiled kernels, and this pins that no one returns.
 *
 * Every SQL execution an op submits is inspected through a
 * `QueryExecutionListener`, on its OPTIMIZED plan: the features run inside
 * an eager `localCheckpoint`, and under AQE the executed plan of the final
 * query is a leaf, so a check of `df.queryExecution.executedPlan` would pass
 * whatever the features ran.
 */
class DedupCodegenSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Mark = "graft_codegen_mark"

  private object Fallbacks extends QueryExecutionListener {
    val found = new ConcurrentLinkedQueue[String]
    val executions, marks = new AtomicInteger
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val plan = qe.optimizedPlan
      if (plan.output.exists(_.name == Mark)) marks.incrementAndGet()
      else {
        executions.incrementAndGet()
        plan.foreach(_.expressions.foreach(_.foreach {
          case e: CodegenFallback => found.add(e.prettyName)
          case _ =>
        }))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Runs a marked query and waits until the listener has seen it: the bus
    * delivers events in order, so every earlier execution has arrived. */
  private def drain(): Unit = {
    val seen = Fallbacks.marks.get
    spark.range(1).toDF(Mark).collect()
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (Fallbacks.marks.get == seen) {
      assert(System.nanoTime() < deadline, "the listener bus did not deliver the marked query")
      Thread.sleep(5)
    }
  }

  /** (executions seen, fallback expression names) of `body`. */
  private def fallbacksOf(body: => Unit): (Int, Seq[String]) = {
    spark.listenerManager.register(Fallbacks)
    try {
      drain()
      Fallbacks.found.clear()
      val before = Fallbacks.executions.get
      body
      drain()
      (Fallbacks.executions.get - before, Fallbacks.found.asScala.toSeq.distinct)
    } finally spark.listenerManager.unregister(Fallbacks)
  }

  test("the listener sees an interpreted transform (control)") {
    val (n, found) = fallbacksOf {
      spark.range(3).select(transform(array(col("id")), v => v + 1)).collect()
    }
    assert(n >= 1)
    assert(found.contains("transform"), found)
  }

  test("near-duplicate operators plan no CodegenFallback expression") {
    // range-based inputs: a LocalRelation would let the optimizer evaluate
    // the feature projections itself and leave nothing to inspect
    val docs = WebCorpus.pages(spark, 30).toDF().select(col("url").as("doc"), col("text"))
    val vecs = spark.range(40).select(col("id").as("vec_id"),
      array((0 until 8).map(j =>
        ((col("id") * 7 + j * 3) % 11 - 5).cast("float")): _*).as("embedding"))
    val queries = vecs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val ops = Seq[(String, () => DataFrame)](
      ("minhashLsh", () => Dedup.minhashLsh(docs, "text", "doc")),
      ("simhash", () => Dedup.simhash(docs, "text", "doc")),
      ("ngramJaccard", () => Dedup.ngramJaccard(docs, "text", "doc")),
      ("windowFingerprint", () => Dedup.windowFingerprint(docs, "text", "doc")),
      ("lshTopK", () => Ann.lshTopK(vecs, queries, k = 5)),
      ("ivfTopK", () => Ann.ivfTopK(vecs, queries, k = 5, nlist = 4, nprobe = 2, iters = 1)),
      ("featureStub", () => docs.select(Multimodal.featureStub(col("text").cast("binary"), 8))),
      ("embeddingCosine", () => Dedup.embeddingCosine(vecs, "embedding", "vec_id")))
    val wrong = ops.flatMap { case (name, op) =>
      val (n, found) = fallbacksOf(op().collect())
      assert(n >= 1, s"$name: no execution seen")
      if (found.isEmpty) None else Some(s"$name: ${found.mkString(", ")}")
    }
    assert(wrong.isEmpty, wrong.mkString("interpreted expressions planned:\n", "\n", ""))
  }
}
