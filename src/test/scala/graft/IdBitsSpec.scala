package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType}
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.EntityResolution
import graft.testgen.WebCorpus

/**
 * The 128-bit record-id mode (`Config(idBits = 128)`) — the collision-safe
 * id width for true 10¹²-record corpora, where 64-bit hash ids collide with
 * probability ~3%. The pipeline downstream of normalize() is id-type-
 * agnostic, so the ONLY permitted difference vs the default 64-bit mode is
 * the internal shuffle-key bytes: every externally visible output must be
 * bit-identical.
 */
class IdBitsSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  val N = 800L

  lazy val pages = WebCorpus.pages(spark, N).toDF().cache()
  lazy val r64 = EntityResolution.resolve(pages,
    EntityResolution.Config(workDir = Some(s"$suiteDir/r64")))
  lazy val r128 = EntityResolution.resolve(pages,
    EntityResolution.Config(idBits = 128, workDir = Some(s"$suiteDir/r128")))

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.map(col): _*).collect()
      .map(_.mkString("")).sorted.toSeq
  }

  test("id column types: 64-bit mode = long, 128-bit mode = 16-byte binary") {
    val n64 = EntityResolution.normalize(pages, 64)
    val n128 = EntityResolution.normalize(pages, 128)
    assert(n64.schema("id").dataType == LongType)
    assert(n128.schema("id").dataType == BinaryType)
    val lens = n128.select(length(col("id")).as("l")).distinct().collect().map(_.getInt(0))
    assert(lens.toSeq == Seq(16), s"128-bit ids must be 16 bytes, got ${lens.toSeq}")
    // distinct urls → distinct 128-bit ids (the property the width buys)
    val d = n128.agg(countDistinct(col("id")).as("ids"),
      countDistinct(col("url")).as("urls")).head()
    assert(d.getLong(0) == d.getLong(1))
  }

  test("integrated output is bit-identical to the 64-bit mode") {
    assert(rows(r128.integrated) == rows(r64.integrated))
  }

  test("match edges and candidate pairs (url space) are identical") {
    assert(rows(r128.edges) == rows(r64.edges))
    assert(rows(r128.candidatePairs) == rows(r64.candidatePairs))
  }

  test("block stats are identical (key stream unaffected by id width)") {
    assert(rows(r128.blockStats) == rows(r64.blockStats))
  }

  test("auditIds works on binary ids") {
    // must not throw: countDistinct over BinaryType backs the audit
    withTempDir("idbits-audit") { work =>
      EntityResolution.resolve(pages, EntityResolution.Config(idBits = 128,
        workDir = Some(work)), auditIds = true).integrated.count()
    }
  }

  // deterministic content-defined 80/20 split (same pattern as IncrementalSpec)
  private lazy val slot = pmod(xxhash64(col("url")), lit(5))
  private lazy val old = pages.filter(slot =!= 4)
  private lazy val batch = pages.filter(slot === 4)

  test("incremental fold refuses to mix id widths (config signature)") {
    withTempDir("idbits-prior") { work =>
      EntityResolution.resolve(old,
        EntityResolution.Config(idBits = 128, workDir = Some(work))).integrated.count()
      val e = intercept[IllegalArgumentException] {
        EntityResolution.resolveIncremental(batch, work,
          EntityResolution.Config(workDir = Some(s"$work/fold")))
      }
      assert(e.getMessage.contains("config changed"))
    }
  }

  test("incremental fold at 128-bit ids equals a full 128-bit re-resolve") {
    withTempDir("idbits-inc") { root =>
      val cfg = EntityResolution.Config(idBits = 128)
      EntityResolution.resolve(old, cfg.copy(workDir = Some(s"$root/prior"))).integrated.count()
      val inc = EntityResolution.resolveIncremental(batch, s"$root/prior",
        cfg.copy(workDir = Some(s"$root/inc")))
      val full = EntityResolution.resolve(pages, cfg.copy(workDir = Some(s"$root/full")))
      assert(rows(inc.integrated) == rows(full.integrated))
    }
  }
}
