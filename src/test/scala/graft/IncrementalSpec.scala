package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.EntityResolution

/**
 * Incremental resolve contract: folding new batches into a prior run's
 * durable stage tables yields EXACTLY the clusters of a full re-resolve of
 * everything — while scoring only new-involving candidate pairs and
 * re-clustering only components touched by a new edge.
 */
class IncrementalSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  test("chained incremental resolves == full re-resolve (bit-exact)") {
    withTempDir("graft-inc") { root =>
      val all = graft.testgen.WebCorpus.pages(spark, 800).toDF().cache()
      // deterministic content-defined splits: 60% old, two 20% batches
      val slot = pmod(xxhash64(col("url")), lit(5))
      val oldPages = all.filter(slot < 3)
      val batch1 = all.filter(slot === 3)
      val batch2 = all.filter(slot === 4)
      assert(batch1.count() > 100 && batch2.count() > 100,
        "split produced a trivial batch")

      val Seq(d1, d2, d3, d4, d5) = (1 to 5).map(i => s"$root/d$i")

      val prior = EntityResolution.resolve(oldPages,
        EntityResolution.Config(workDir = Some(d1)))
      prior.integrated.count() // force stage tables

      val inc1 = EntityResolution.resolveIncremental(batch1, d1,
        EntityResolution.Config(workDir = Some(d2)))
      inc1.integrated.count() // force: d2 is the next batch's prior state
      val inc2 = EntityResolution.resolveIncremental(batch2, d2,
        EntityResolution.Config(workDir = Some(d3)))
      val full = EntityResolution.resolve(all,
        EntityResolution.Config(workDir = Some(d4)))

      val cols = Seq("RecordId", "InputSourceARN", "MatchID", "ConfidenceLevel")
      val a = inc2.integrated.select(cols.map(col): _*)
      val b = full.integrated.select(cols.map(col): _*)
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        "chained incremental integrated table differs from full re-resolve")

      // the work proof: every pair the second increment scored involves a
      // batch-2 record — no old×old rescoring
      val b2Urls = batch2.select(col("url").as("u"))
      val scoredOldOld = inc2.candidatePairs
        .join(b2Urls.withColumnRenamed("u", "main_url"), Seq("main_url"), "left_anti")
        .join(b2Urls.withColumnRenamed("u", "sub_url"), Seq("sub_url"), "left_anti")
      assert(scoredOldOld.count() == 0, "incremental run generated old×old pairs")

      // an empty follow-up batch is a no-op over valid prior state
      val inc3 = EntityResolution.resolveIncremental(batch2.limit(0), d3,
        EntityResolution.Config(workDir = Some(d5)))
      assert(inc3.integrated.count() == full.integrated.count())
    }
  }

  test("beyond-broadcast fallback path (smallBatch=false) == full re-resolve") {
    // the fold's broadcast-stream shapes are gated on batch size; force the
    // gate CLOSED so the plain shuffle-join fallback shapes stay exercised
    // and bit-equal (graft.fold.broadcast.max test override)
    withTempDir("graft-incbb") { root =>
      val all = graft.testgen.WebCorpus.pages(spark, 500).toDF().cache()
      val slot = pmod(xxhash64(col("url")), lit(5))
      val Seq(p1, p2, p3) = (1 to 3).map(i => s"$root/p$i")
      EntityResolution.resolve(all.filter(slot < 4),
        EntityResolution.Config(workDir = Some(p1))).integrated.count()
      sys.props("graft.fold.broadcast.max") = "0"
      try {
        val inc = EntityResolution.resolveIncremental(all.filter(slot === 4), p1,
          EntityResolution.Config(workDir = Some(p2)))
        val full = EntityResolution.resolve(all,
          EntityResolution.Config(workDir = Some(p3)))
        val cols = Seq("RecordId", "InputSourceARN", "MatchID", "ConfidenceLevel")
        val a = inc.integrated.select(cols.map(col): _*)
        val b = full.integrated.select(cols.map(col): _*)
        assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
          "beyond-broadcast fallback fold differs from full re-resolve")
      } finally sys.props.remove("graft.fold.broadcast.max")
    }
  }

  test("keys-chain compaction: fold at the compaction length == full re-resolve") {
    // compactLen 2 ⇒ the FIRST fold already compacts its chain (base +
    // delta = 2 files); the second fold then reads a compacted one-file
    // chain — both chain shapes exercised, both bit-exact vs full
    System.setProperty("graft.keys.compact.len", "2")
    try withTempDir("graft-cmp") { root =>
      val all = graft.testgen.WebCorpus.pages(spark, 500).toDF().cache()
      val slot = pmod(xxhash64(col("url")), lit(5))
      val Seq(c1, c2, c3, c4) = (1 to 4).map(i => s"$root/c$i")
      EntityResolution.resolve(all.filter(slot < 3),
        EntityResolution.Config(workDir = Some(c1))).integrated.count()
      EntityResolution.resolveIncremental(all.filter(slot === 3), c1,
        EntityResolution.Config(workDir = Some(c2))).integrated.count()
      assert(new java.io.File(s"$c2/keys.parquet/_SUCCESS").exists(),
        "fold at the compaction length did not compact its keys chain")
      val inc = EntityResolution.resolveIncremental(all.filter(slot === 4), c2,
        EntityResolution.Config(workDir = Some(c3)))
      val full = EntityResolution.resolve(all,
        EntityResolution.Config(workDir = Some(c4)))
      val cols = Seq("RecordId", "InputSourceARN", "MatchID", "ConfidenceLevel")
      val a = inc.integrated.select(cols.map(col): _*)
      val b = full.integrated.select(cols.map(col): _*)
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        "fold over a compacted keys chain differs from full re-resolve")
    } finally System.clearProperty("graft.keys.compact.len")
  }

  // one hot-domain block, crafted sizes: prior = 60 rows (≤ maxBlock = 64,
  // NOT re-keyed), batch pushes it to 70 (> 64 → every member's key set
  // changes via hierarchical re-keying)
  private def hotBlockPages(spark: org.apache.spark.sql.SparkSession, n: Int) = {
    import spark.implicits._
    import graft.testgen.WebPage
    (0 until n).flatMap { i =>
      val title = s"item number $i"
      val body = (0 until 30).map(k =>
        graft.testgen.WebCorpus.Vocab((i * 31 + k * 7) % 400)).mkString(" ")
      val html = s"<html><head><title>$title</title></head><body>$body</body></html>"
        .getBytes("UTF-8")
      Seq(
        WebPage(s"https://hub.example.com/main-item-$i",
          java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), html, "", "en", "main"),
        WebPage(s"https://hub.example.com/sub-item-$i",
          java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), html, "", "en", "sub"))
    }.toDF()
  }

  test("batch pushing a block across the re-key threshold: incremental == full") {
    withTempDir("graft-hot") { root =>
      val all = hotBlockPages(spark, 40) // 80 same-domain rows
      val batch1 = all.filter(col("url").rlike("item-3[0-4]$")) // entities 30-34
      val batch2 = all.filter(col("url").rlike("item-3[5-9]$")) // entities 35-39
      val old = all.exceptAll(batch1.unionAll(batch2))
      assert(old.count() == 60 && batch1.count() == 10 && batch2.count() == 10)

      val Seq(p1, p2, p3, p4) = (1 to 4).map(i => s"$root/p$i")
      EntityResolution.resolve(old,
        EntityResolution.Config(workDir = Some(p1))).integrated.count()
      val inc1 = EntityResolution.resolveIncremental(batch1, p1,
        EntityResolution.Config(workDir = Some(p2)))
      inc1.integrated.count() // force: p2 is the next fold's prior state

      // the detection fired: key-changed old records had old×old pairs rescored
      val batch1Urls = batch1.select(col("url").as("u"))
      val oldOld = inc1.candidatePairs
        .join(batch1Urls.withColumnRenamed("u", "main_url"), Seq("main_url"), "left_anti")
        .join(batch1Urls.withColumnRenamed("u", "sub_url"), Seq("sub_url"), "left_anti")
      assert(oldOld.count() > 0,
        "expected old×old rescoring for the key-changed block members")
      // ... and the crossing left a NON-EMPTY tombstone table in the chain
      val tombs = spark.read.parquet(s"$p2/keys_tombstones.parquet")
      assert(tombs.count() > 0, "re-key crossing wrote no tombstones")

      // fold AGAIN over p2: the keys chain's read now anti-joins a real
      // (non-empty) tombstone set read back from the chain — the read-path
      // equivalent of the in-memory keysAll frame BlockingSpec gates
      val inc2 = EntityResolution.resolveIncremental(batch2, p2,
        EntityResolution.Config(workDir = Some(p3)))
      val full = EntityResolution.resolve(all,
        EntityResolution.Config(workDir = Some(p4)))

      val cols = Seq("RecordId", "InputSourceARN", "MatchID", "ConfidenceLevel")
      val a = inc2.integrated.select(cols.map(col): _*)
      val b = full.integrated.select(cols.map(col): _*)
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        "fold over a chain with live tombstones diverged from full re-resolve")
    }
  }

  test("prior state missing a file every current resolve writes is refused") {
    // every resolve and fold writes state.manifest and the tables it lists;
    // a dir without one is refused up front, naming the file, before any
    // Spark read of the prior tables
    val all = graft.testgen.WebCorpus.pages(spark, 200).toDF()
    val isNew = pmod(xxhash64(col("url")), lit(5)) === 4
    withTempDir("graft-req") { root =>
      val d1 = s"$root/d1"
      EntityResolution.resolve(all.filter(!isNew),
        EntityResolution.Config(workDir = Some(d1))).integrated.count()
      // the manifest lists absolute paths into d1, so each file is moved
      // aside and back rather than deleted in a copy
      for (f <- Seq("state.manifest", "records.parquet", "keys.parquet", "raw_counts.parquet",
          "sizes2.parquet", "edges.parquet", "components.parquet")) {
        val (at, aside) = (java.nio.file.Paths.get(d1, f), java.nio.file.Paths.get(root, f))
        Files.move(at, aside)
        val ex = try intercept[IllegalArgumentException] {
          EntityResolution.resolveIncremental(all.filter(isNew), d1,
            EntityResolution.Config(workDir = Some(s"$root/out")))
        } finally Files.move(aside, at)
        assert(ex.getMessage.contains("lacks ") && ex.getMessage.contains(f) &&
          ex.getMessage.contains("run a full re-resolve"), s"$f: ${ex.getMessage}")
      }
    }
  }

  test("a fold that throws leaves prior state as it was and no manifest") {
    val all = graft.testgen.WebCorpus.pages(spark, 300).toDF()
    val isNew = pmod(xxhash64(col("url")), lit(5)) === 4
    withTempDir("graft-fail") { root =>
      val (d1, d2) = (s"$root/d1", s"$root/d2")
      EntityResolution.resolve(all.filter(!isNew),
        EntityResolution.Config(workDir = Some(d1))).integrated.count()
      // break the first page header of the largest prior sizes2 part: its
      // footer stays intact, so schema inference and the raw_counts stage
      // pass and the fold fails in the sizes2 stage, after the raw_counts
      // table was written
      val part = new java.io.File(d1, "sizes2.parquet").listFiles()
        .filter(_.getName.endsWith(".parquet")).maxBy(_.length)
      val raf = new java.io.RandomAccessFile(part, "rw")
      try { raf.seek(4); raf.write(Array.fill[Byte](16)(-1)) } finally raf.close()
      def snapshot(dir: String) = org.apache.commons.io.FileUtils
        .listFiles(new java.io.File(dir), null, true).asScala
        .map(f => (f.getPath, f.length, f.lastModified)).toSet
      val before = snapshot(d1)
      // d2 as a reused work dir: the manifest of the state it held goes
      // before the fold writes any table there
      Files.createDirectories(java.nio.file.Paths.get(d2))
      Files.writeString(java.nio.file.Paths.get(d2, "state.manifest"), "config\tstale")

      val ex = intercept[Exception] {
        EntityResolution.resolveIncremental(all.filter(isNew), d1,
          EntityResolution.Config(workDir = Some(d2))).integrated.count()
      }
      val chain = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      assert(chain.exists(e => String.valueOf(e.getMessage).contains("sizes2")),
        s"fold failed somewhere other than the sizes2 stage: $ex")
      assert(snapshot(d1) == before, "the failed fold changed prior state")
      assert(!new java.io.File(d2, "state.manifest").exists(),
        "the failed fold left a manifest in its work dir")
    }
  }

  test("a resolve that throws into a reused work dir leaves no manifest, and a fold refuses it") {
    val all = graft.testgen.WebCorpus.pages(spark, 200).toDF()
    val isNew = pmod(xxhash64(col("url")), lit(5)) === 4
    withTempDir("graft-reuse") { root =>
      val (d, d2) = (s"$root/d", s"$root/d2")
      EntityResolution.resolve(all.filter(!isNew),
        EntityResolution.Config(workDir = Some(d))).integrated.count()
      def edgeFiles = new java.io.File(d, "edges.parquet").list().toSet
      val priorEdges = edgeFiles
      // a regular file as the checkpoint dir: the iteration-0 snapshot,
      // written right after edges.parquet, throws
      val notADir = java.nio.file.Paths.get(root, "ckpt-file")
      Files.write(notADir, Array[Byte](1))
      intercept[Exception] {
        EntityResolution.resolve(all.filter(isNew),
          EntityResolution.Config(workDir = Some(d), checkpointDir = Some(notADir.toString)))
      }
      assert(edgeFiles != priorEdges, "the failed resolve did not get as far as its edges")
      assert(!new java.io.File(d, "state.manifest").exists(), "the failed resolve left its manifest")
      val ex = intercept[IllegalArgumentException] {
        EntityResolution.resolveIncremental(all.filter(!isNew), d,
          EntityResolution.Config(workDir = Some(d2)))
      }
      assert(ex.getMessage.contains("lacks"), ex.getMessage)
    }
  }

  test("re-crawl guard: a batch url already in prior state fails fast") {
    val all = graft.testgen.WebCorpus.pages(spark, 200).toDF()
    withTempDir("graft-rc") { root =>
      val (d1, d2) = (s"$root/d1", s"$root/d2")
      EntityResolution.resolve(all,
        EntityResolution.Config(workDir = Some(d1))).integrated.count()
      val ex = intercept[IllegalArgumentException] {
        EntityResolution.resolveIncremental(all.limit(3), d1,
          EntityResolution.Config(workDir = Some(d2))).integrated.count()
      }
      assert(ex.getMessage.contains("re-crawl"))
    }
  }

  test("config guard: folding with a changed config fails fast (exactness is config-relative)") {
    val all = graft.testgen.WebCorpus.pages(spark, 200).toDF()
    val isNew = pmod(xxhash64(col("url")), lit(5)) === 4
    withTempDir("graft-cfg") { root =>
      val (d1, d2) = (s"$root/d1", s"$root/d2")
      EntityResolution.resolve(all.filter(!isNew),
        EntityResolution.Config(workDir = Some(d1))).integrated.count()
      val changed = EntityResolution.Config(
        blocking = graft.blocking.Blocking.Config(snWindow = 7),
        workDir = Some(d2))
      val ex = intercept[IllegalArgumentException] {
        EntityResolution.resolveIncremental(all.filter(isNew), d1, changed)
          .integrated.count()
      }
      assert(ex.getMessage.contains("config changed"))
    }
  }

  test("config guard: negative scoring weights are rejected") {
    // the funnel's prefilter bounds assume every weight is >= 0
    val negative = Seq[() => EntityResolution.Config](
      () => EntityResolution.Config(wJaroWinkler = -0.1),
      () => EntityResolution.Config(wLevenshtein = -0.1),
      () => EntityResolution.Config(wTokenJaccard = -0.1))
    assert(negative.forall(c =>
      scala.util.Try(c()).failed.toOption.exists(_.isInstanceOf[IllegalArgumentException])))
  }
}
