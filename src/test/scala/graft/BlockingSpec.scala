package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.blocking.Blocking
import graft.pipeline.EntityResolution
import graft.testgen.WebCorpus

class BlockingSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  private lazy val records = EntityResolution.normalizeWithSig(
    WebCorpus.pages(spark, 1200).toDF(), EntityResolution.Config()).cache()
  // blocking works in 64-bit id space; map the labeled urls the same way
  private lazy val labeled = WebCorpus.labeledPairs(spark, 1200).toDF()
    .select(xxhash64(col("main_url")).as("main_id"), xxhash64(col("sub_url")).as("sub_id"))

  test("domain key normalizes scheme, mobile prefixes and TLDs") {
    import spark.implicits._
    val got = Seq("https://www.site3.com/x", "https://m.site3.net/y",
      "http://amp.site3.io/z", "https://mirror5.example/w")
      .toDF("url").select(Blocking.domainKey(col("url")).as("k"))
      .collect().map(_.getString(0))
    assert(got.take(3).forall(_ == "site3"))
    assert(got(3) == "mirror5")
  }

  test("union of blocking passes covers ≥99% of labeled pairs") {
    val (keys, _) = Blocking.blockKeys(records)
    val covered = Blocking.candidatePairs(keys)
      .union(Blocking.sortedNeighborhoodPairs(records))
      .distinct()
    val hit = labeled.join(covered, Seq("main_id", "sub_id"), "left_semi").count()
    val total = labeled.count()
    assert(hit.toDouble / total >= 0.99, s"coverage $hit/$total")
  }

  test("hierarchical re-keying bounds block sizes and logs drops") {
    val cfg = Blocking.Config(maxBlock = 8)
    val (keys, stats) = Blocking.blockKeys(records, cfg)
    val maxAfter = keys.groupBy("block_key").count().agg(max("count")).head().getLong(0)
    assert(maxAfter <= cfg.maxBlock * 4L, s"residual block of $maxAfter")
    val s = stats.head()
    assert(s.getLong(s.fieldIndex("n_blocks")) > 0)
    // dropped_rows is reported, never silent
    assert(s.schema.fieldNames.contains("dropped_rows"))
  }

  test("blocking keys are pure functions of content (partitioning-independent)") {
    val (k1, _) = Blocking.blockKeys(records.repartition(3))
    val (k2, _) = Blocking.blockKeys(records.repartition(11))
    assert(k1.exceptAll(k2).count() == 0)
    assert(k2.exceptAll(k1).count() == 0)
  }

  test("sorted-neighborhood pairs records with equal slug sort keys") {
    val sn = Blocking.sortedNeighborhoodPairs(records)
    val hit = labeled.join(sn, Seq("main_id", "sub_id"), "left_semi").count()
    // every matched pair shares an identical sort key → SN alone nearly covers
    assert(hit.toDouble / labeled.count() >= 0.95)
  }

  test("sorted-neighborhood pairs are bucket-local (basis of the incremental drift diff)") {
    val cfg = Blocking.Config()
    // pairs of a bucket subset computed in isolation == the full run's pairs
    // restricted to those buckets — exactly the restriction resolveIncremental
    // makes when it recomputes SN only over touched buckets
    val inHalf = pmod(xxhash64(substring(col("sort_key"), 1, cfg.snBucketLen)), lit(2)) === 0
    val half = records.filter(inHalf)
    assert(half.count() > 100 && half.count() < records.count(), "degenerate bucket split")
    val got = Blocking.sortedNeighborhoodPairsWithBucket(records, cfg)
      .filter(pmod(xxhash64(col("bucket")), lit(2)) === 0)
    val expect = Blocking.sortedNeighborhoodPairsWithBucket(half, cfg)
    assert(got.exceptAll(expect).count() == 0 && expect.exceptAll(got).count() == 0,
      "SN pairs of a bucket depend on records outside the bucket")
  }

  test("mergeBlockKeys fold == full recompute (keys, counts, stats, changed-id set)") {
    // natural WebCorpus block sizes are bimodal (tiny per-entity LSH blocks
    // vs already-oversized Zipf domain heads), so a threshold CROSSING is
    // crafted: one hot domain at 60 rows (≤ maxBlock = 64) in the prior
    // state, pushed to 70 by the batch → every member's key set changes
    val cfg = Blocking.Config()
    import spark.implicits._
    val hotPages = (0 until 35).flatMap { i =>
      val title = s"gadget review $i"
      val body = (0 until 30).map(k =>
        graft.testgen.WebCorpus.Vocab((i * 29 + k * 11) % 400)).mkString(" ")
      val html = s"<html><head><title>$title</title></head><body>$body</body></html>"
        .getBytes("UTF-8")
      Seq(graft.testgen.WebPage(s"https://megahub.example.com/main-it-$i",
            java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), html, "", "en", "main"),
          graft.testgen.WebPage(s"https://megahub.example.com/sub-it-$i",
            java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), html, "", "en", "sub"))
    }.toDF()
    val allPages = graft.testgen.WebCorpus.pages(spark, 400).toDF().unionByName(hotPages)
    val allRecs = EntityResolution.normalizeWithSig(allPages, EntityResolution.Config())
    val isBatch = col("url").rlike("megahub.*-it-3[0-4]$") // last 5 hot entities = 10 rows
    val oldRecs = allRecs.filter(!isBatch)
    val batch = allRecs.filter(isBatch)
    assert(batch.count() == 10, "crafted batch wrong size")

    withTempDir("graft-keyfold") { dir =>
      def mat(name: String, df: org.apache.spark.sql.DataFrame) = {
        df.write.mode("overwrite").parquet(s"$dir/$name")
        spark.read.parquet(s"$dir/$name")
      }
      val (pk0, _, pr0, ps0) = Blocking.blockKeysWithCounts(oldRecs, cfg)
      val pk = mat("keys_prior", pk0)
      val pr = mat("raw_prior", pr0)
      val ps = mat("s2_prior", ps0)

      val all = oldRecs.unionByName(batch)
      val (keysFold, statsFold, changed) =
        Blocking.mergeBlockKeys(pk, pr, ps, batch, all, cfg, dir)
      val (keysFull, statsFull, rawFull, s2Full) = Blocking.blockKeysWithCounts(all, cfg)

      def biEq(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
        a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0
      assert(biEq(keysFold, keysFull), "folded keys differ from full recompute")
      assert(biEq(spark.read.parquet(s"$dir/raw_counts.parquet"), rawFull),
        "folded raw counts differ")
      assert(biEq(spark.read.parquet(s"$dir/sizes2.parquet"), s2Full),
        "folded final block sizes differ")
      assert(statsFold.collect().toSeq == statsFull.collect().toSeq,
        "folded stats frame differs")

      // changed-id set == the exact per-id key-set diff over OLD records
      def keySets(df: org.apache.spark.sql.DataFrame) = df.groupBy("id")
        .agg(sort_array(collect_list(col("block_key"))).as("ks"))
      val fullOldKeys = keysFull.join(oldRecs.select("id"), Seq("id"), "left_semi")
      val expectChanged = keySets(pk).withColumnRenamed("ks", "ks_prior")
        .join(keySets(fullOldKeys), Seq("id"), "full_outer")
        .filter(not(col("ks_prior") <=> col("ks")))
        .select("id")
      assert(biEq(changed, expectChanged), "changed-id set is not the exact key-set diff")
      // non-trivial: the batch must actually push ≥1 raw block across a class
      assert(changed.count() > 0, "no block crossed a size class — loosen the split or maxBlock")
    }
  }

  test("sorted-neighborhood emission is unique without a dedup shuffle") {
    // sortedNeighborhoodPairsWithBucket dropped its .distinct() on the
    // argument that a pair can only form in one bucket and is emitted once
    // there; the incremental drift diff's exceptAll set semantics depend on
    // this, so gate it on the natural corpus
    val withB = Blocking.sortedNeighborhoodPairsWithBucket(records)
    assert(withB.count() == withB.distinct().count(),
      "duplicate (bucket, main_id, sub_id) emission")
    val pairs = Blocking.sortedNeighborhoodPairs(records)
    assert(pairs.count() == pairs.distinct().count(),
      "a pair formed in more than one bucket")
  }

  test("sorted-neighborhood pairs are independent of input file layout (incl. under a semi-join)") {
    // Round-4 postmortem regression pin: the mapPartitions-era SN pass
    // relied on an ADVISORY repartition(bucket) that Catalyst collapsed
    // into a semi-join's exchange — and AQE's broadcast conversion then
    // removed entirely, leaving the stateful scan on raw file splits, where
    // a bucket spanning two files lost its cross-file pairs (~3% of pairs
    // flipped with the parquet layout). The window-aggregate form DECLARES
    // its bucket distribution, so the pair set must be a pure content
    // function. Write the same records in two very different layouts, SN
    // them through the incremental path's semi-join shape, assert equality.
    withTempDir("graft-snlayout") { dir =>
      records.coalesce(1).write.mode("overwrite").parquet(s"$dir/one")
      records.repartition(13).write.mode("overwrite").parquet(s"$dir/many")
      val subsetIds = records.select("id").limit(300)
      def snOf(path: String) = {
        val recs = spark.read.parquet(path)
        val bucketOf = substring(col("sort_key"), 1, Blocking.Config().snBucketLen)
        val touched = recs.join(subsetIds, Seq("id"), "left_semi")
          .select(bucketOf.as("b")).distinct()
        Blocking.sortedNeighborhoodPairs(
          recs.join(touched, bucketOf === col("b"), "left_semi"))
      }
      val a = snOf(s"$dir/one")
      val b = snOf(s"$dir/many")
      assert(a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        "SN pair set depends on the input parquet layout")
    }
  }

  test("writeBlockTables == blockKeysWithCounts lineage (incl. still-hot drop branch)") {
    import spark.implicits._
    // exceptAll matches columns positionally; align by name first (the
    // pipeline reads every persisted table by column name)
    def biEq(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) = {
      assert(a.columns.sorted.sameElements(b.columns.sorted),
        s"column sets differ: ${a.columns.mkString(",")} vs ${b.columns.mkString(",")}")
      val cols = a.columns.sorted.map(col)
      val (a2, b2) = (a.select(cols: _*), b.select(cols: _*))
      a2.exceptAll(b2).count() == 0 && b2.exceptAll(a2).count() == 0
    }
    // 70 rows of one domain sharing one 12-char title prefix: with
    // maxBlock = 8 the re-keyed block still exceeds 4*maxBlock, forcing the
    // still-hot anti-join branch; the natural corpus under the default
    // config takes whichever branch its Zipf head dictates
    val hotPages = (0 until 35).flatMap { i =>
      val html = ("<html><head><title>gadget review " + i +
        "</title></head><body>x</body></html>").getBytes("UTF-8")
      Seq(graft.testgen.WebPage(s"https://stillhot.example.com/main-$i",
            java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), html, "", "en", "main"),
          graft.testgen.WebPage(s"https://stillhot.example.com/sub-$i",
            java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), html, "", "en", "sub"))
    }.toDF()
    val hotRecs = EntityResolution.normalizeWithSig(hotPages, EntityResolution.Config())
    for ((recs, cfg, wantDrops) <- Seq(
        (records, Blocking.Config(), false),
        (records.unionByName(hotRecs), Blocking.Config(maxBlock = 8), true))) {
      withTempDir("graft-blocktables") { dir =>
        Blocking.writeBlockTables(recs, dir, cfg)
        val (k, _, r, s2) = Blocking.blockKeysWithCounts(recs, cfg)
        assert(biEq(spark.read.parquet(s"$dir/keys.parquet"), k), "staged keys differ")
        assert(biEq(spark.read.parquet(s"$dir/raw_counts.parquet"), r), "staged raw counts differ")
        assert(biEq(spark.read.parquet(s"$dir/sizes2.parquet"), s2), "staged sizes differ")
        assert(!new java.io.File(s"$dir/keyed_all.parquet").exists(),
          "keyed_all scratch not cleaned up")
        val dropped = Blocking.statsOf(spark.read.parquet(s"$dir/sizes2.parquet"), cfg)
          .head().getAs[Long]("dropped_rows")
        if (wantDrops) assert(dropped > 0, "crafted still-hot block did not trigger the drop branch")
      }
    }
  }
}
