package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.publish.Downstream

class DownstreamSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("interactions: joins on RecordId, sub items get sub_ prefix, epoch longs") {
    val mainP = Seq(("c1", "i1", 100L), ("c2", "i2", 200L)).toDF("customer_id", "item_id", "purchase_date")
    val subP = Seq(("s1", "i1", 300L)).toDF("customer_id", "item_id", "purchase_date")
    val integrated = Seq(("c1", "M1"), ("c2", "M2"), ("s1", "M1"))
      .toDF("RecordId", "MatchID")
    val got = Downstream.interactions(mainP, subP, integrated)
      .orderBy("USER_ID", "ITEM_ID").collect()
    assert(got.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq == Seq(
      ("M1", "i1", 100L), ("M1", "sub_i1", 300L), ("M2", "i2", 200L)))
  }

  test("segment top-N: deterministic, bounded, excludes nothing below cap") {
    val inter = Seq(
      ("u1", "t"), ("u1", "a"), ("u2", "t"), ("u2", "a"), ("u2", "b"),
      ("u3", "a"), ("u3", "b"), ("u4", "b"), ("u5", "c"))
      .map { case (u, i) => (u, i, 0L) }
      .toDF("USER_ID", "ITEM_ID", "TIMESTAMP")
    val got = Downstream.segmentTopN(inter, Seq("t"), numResults = 2)
      .orderBy("item_id", "user_id").collect()
      .map(r => (r.getString(0), r.getString(1)))
    // cnt: t=2 a=3 b=3; sim(t,a) = 2²·1e6 div (2·3) = 666666,
    // sim(t,b) = 1²·1e6 div (2·3) = 166666; affinity u2 = u3 = 833332
    // (a+b), u1 = 666666 (a), u4 = 166666 (b) → top-2 = u2, u3 (id tie-break)
    assert(got.toSeq == Seq(("t", "u2"), ("t", "u3")))
  }

  test("anti-join dedupe drops already-segmented items") {
    val fresh = Seq(("i1", "u1"), ("i9", "u2")).toDF("item_id", "user_id")
    val existing = Seq("i1").toDF("item_id")
    val got = Downstream.antiJoinExisting(fresh, existing).collect()
    assert(got.map(_.getString(0)).toSeq == Seq("i9"))
  }

  test("atomic publish: readers see old or new snapshot, never a mix") {
    withTempDir("graft-pub") { tmp =>
      val dir = tmp + "/latest"
      Downstream.publishAtomic(Seq((1, "v1")).toDF("id", "v"), dir)
      assert(Downstream.readLatest(spark, dir).collect().map(_.getString(1)).toSeq == Seq("v1"))
      Downstream.publishAtomic(Seq((1, "v2"), (2, "v2")).toDF("id", "v"), dir)
      val after = Downstream.readLatest(spark, dir).collect().map(_.getString(1))
      assert(after.length == 2 && after.forall(_ == "v2"))
    }
  }

  test("manifest publish: a reader holding the previous snapshot survives a publish") {
    withTempDir("graft-pub2") { tmp =>
      val dir = tmp + "/latest"
      Downstream.publishAtomic(Seq((1, "v1")).toDF("id", "v"), dir)
      // reader resolves the manifest BEFORE the next publish...
      val held = Downstream.readLatest(spark, dir)
      Downstream.publishAtomic(Seq((1, "v2")).toDF("id", "v"), dir)
      // ...and still reads a complete consistent old snapshot afterwards
      assert(held.collect().map(_.getString(1)).toSeq == Seq("v1"))
      assert(Downstream.readLatest(spark, dir)
        .collect().map(_.getString(1)).toSeq == Seq("v2"))
      // publishes keep only the two newest snapshots
      Downstream.publishAtomic(Seq((1, "v3")).toDF("id", "v"), dir)
      Downstream.publishAtomic(Seq((1, "v4")).toDF("id", "v"), dir)
      val snaps = new java.io.File(s"$dir/snapshots").list().sorted.toSeq
      assert(snaps == Seq("v3", "v4"))
    }
  }

  test("time travel: readVersion returns the retained historical snapshot") {
    withTempDir("graft-tt") { tmp =>
      val dir = tmp + "/t"
      Downstream.publishAtomic(Seq((1, 10)).toDF("id", "n"), dir, retain = 3)
      Downstream.publishAtomic(Seq((1, 20)).toDF("id", "n"), dir, retain = 3)
      Downstream.publishAtomic(Seq((1, 30)).toDF("id", "n"), dir, retain = 3)
      assert(Downstream.snapshots(dir) == Seq(1, 2, 3))
      assert(Downstream.readVersion(spark, dir, 1).head().getInt(1) == 10)
      assert(Downstream.readVersion(spark, dir, 2).head().getInt(1) == 20)
      assert(Downstream.readLatest(spark, dir).head().getInt(1) == 30)
      // vacuum: a fourth publish at retain=2 expires v1 and v2
      Downstream.publishAtomic(Seq((1, 40)).toDF("id", "n"), dir, retain = 2)
      assert(Downstream.snapshots(dir) == Seq(3, 4))
      assertThrows[IllegalArgumentException](Downstream.readVersion(spark, dir, 1))
    }
  }

  test("partitioned publish: days+bucket layout, static pruning proven in the plan") {
    withTempDir("graft-part") { tmp =>
      val dir = tmp + "/t"
      val rows = (0 until 400).map { i =>
        (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-${1 + i % 4}%02d 12:00:00"), i % 37)
      }.toDF("user_id", "ts", "payload")
      Downstream.publishPartitionedAtomic(rows, dir, "ts", "user_id", nBuckets = 8)
      val latest = Downstream.readLatest(spark, dir)
      // row conservation + derived partition columns well-formed
      assert(latest.count() == 400)
      val buckets = latest.select("user_id_bucket").distinct().collect().map(_.getInt(0))
      assert(buckets.forall(b => b >= 0 && b < 8) && buckets.length > 1)
      // the day predicate must prune at PLAN time: the scan's partition count
      // drops to the one matching day (files metric checked after execution)
      val pruned = latest.filter(col("ts_day") === lit(java.sql.Date.valueOf("2024-01-02")))
      val qe = pruned.queryExecution
      assert(qe.executedPlan.execute().count() == 100) // executes THIS plan → metrics live
      val scan = qe.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.getOrElse(fail("no FileSourceScanExec leaf"))
      assert(scan.metadata("PartitionFilters").contains("ts_day"),
        s"day predicate not a partition filter: ${scan.metadata("PartitionFilters")}")
      val allFiles = latest.inputFiles.length
      val readFiles = scan.metrics("numFiles").value
      assert(readFiles > 0 && readFiles < allFiles,
        s"pruning read $readFiles of $allFiles files")
    }
  }
}
