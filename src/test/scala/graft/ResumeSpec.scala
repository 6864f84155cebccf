package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cluster.CheckpointStore
import graft.pipeline.EntityResolution

class ResumeSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  test("exact resume: clusters after kill/restart equal an uninterrupted run") {
    withTempDir("graft-ckpt") { dir =>
      val pages = graft.testgen.WebCorpus.pages(spark, 600).toDF().cache()

      // uninterrupted run with checkpointing
      val full = EntityResolution.resolve(pages,
        EntityResolution.Config(checkpointDir = Some(dir), workDir = Some(s"$dir/work")))
      val expected = full.integrated.select("RecordId", "MatchID")
        .orderBy("RecordId").collect()

      // simulate a crash after iteration 1: delete snapshots beyond it, resume
      val store = new CheckpointStore(spark, dir)
      val latest = store.latestIteration().get
      assert(latest >= 1, "pipeline should have checkpointed at least one iteration")
      (2 to latest).foreach { k =>
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(s"$dir/edges/iter=$k"))
      }
      assert(store.latestIteration().get == math.min(1, latest))

      val resumed = EntityResolution.resumeFrom(pages, dir)
      val got = resumed.select("RecordId", "MatchID").orderBy("RecordId").collect()
      assert(got.sameElements(expected), "resumed clusters must match uninterrupted run")
    }
  }

  test("checkpoint metrics carry per-partition lineage") {
    withTempDir("graft-ckpt2") { dir =>
      val pages = graft.testgen.WebCorpus.pages(spark, 300).toDF()
      EntityResolution.resolve(pages,
        EntityResolution.Config(checkpointDir = Some(dir), workDir = Some(s"$dir/work")))
      val m = new CheckpointStore(spark, dir).metrics()
      assert(m.columns.toSet ==
        Set("partition_id", "match_count", "iteration", "n_edges", "wall_ms", "ts"))
      assert(m.filter(col("iteration") === 0).count() > 0, "iteration-0 (scored edges) logged")
      assert(m.select("iteration").distinct().count() >= 2)
    }
  }
}
