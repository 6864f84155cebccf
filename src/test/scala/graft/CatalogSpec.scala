package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{Catalog, QueryService}

class CatalogSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("register exposes every table as a view + graft functions to SQL text") {
    Catalog.register(spark, sf)
    for (t <- Catalog.tables)
      assert(spark.catalog.tableExists(t.name), s"view ${t.name} missing")
    // SQL text through a registered graft function
    val r = spark.sql(
      "SELECT token_jaccard('a b c', 'a b d') AS tj, ascii_lower('MiXeD') AS lo").head()
    assert(r.getDouble(0) == 0.5)
    assert(r.getString(1) == "mixed")
    // extraction function usable from SQL over the corpus view
    val n = spark.sql(
      "SELECT count(*) AS n FROM pages WHERE html_to_text(html) = text").head().getLong(0)
    assert(n == spark.table("pages").count(), "extraction must match expected text per url")
  }

  test("semantic model carries the join-hint comments the agent introspects") {
    Catalog.register(spark, sf)
    val m = Catalog.semanticModel(spark)
    assert(m.filter(col("col_comment").contains("joins orders.o_custkey")).count() == 1)
    val d = Catalog.describeTable(spark, "orders")
    assert(d.columns.toSeq == Seq("col_name", "data_type", "comment"))
    assert(d.filter(col("col_name") === "o_custkey")
      .head().getString(2).contains("customer.c_custkey"))
  }

  test("SQL misuse of graft functions fails at analysis time, not in codegen") {
    Catalog.register(spark, sf)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT html_to_text('not bytes')").collect()
    }
    assert(e.getMessage.contains("html_to_text"))
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT jaro_winkler(1, 2)").collect()
    }
    assert(e2.getMessage.contains("jaro_winkler"))
  }

  test("published snapshot tables are queryable through the SQL surface") {
    import spark.implicits._
    withTempDir("graft-cat-pub") { tmp =>
      val dir = tmp + "/seg"
      graft.publish.Downstream.publishAtomic(
        Seq(("i1", "u1"), ("i1", "u2")).toDF("item_id", "user_id"), dir)
      Catalog.registerPublished(spark, "segments_latest", dir)
      assert(spark.sql("SELECT count(*) n FROM segments_latest").head().getLong(0) == 2)
      // a publish + re-register moves the view to the new snapshot
      graft.publish.Downstream.publishAtomic(
        Seq(("i2", "u9")).toDF("item_id", "user_id"), dir)
      Catalog.registerPublished(spark, "segments_latest", dir)
      assert(spark.sql("SELECT item_id FROM segments_latest").head().getString(0) == "i2")
    }
  }

  test("result shaping: inline under cap; preview + CSV export over cap") {
    Catalog.register(spark, sf)
    val small = QueryService.execute(spark, "SELECT * FROM part LIMIT 5")
    assert(!small.truncated && small.inline.size == 5 && small.csvPath.isEmpty)

    withTempDir("graft-export") { dir =>
      val big = QueryService.execute(spark,
        "SELECT o_orderkey FROM orders ORDER BY o_orderkey", Some(dir))
      assert(big.truncated)
      assert(big.inline.size == QueryService.PreviewRows)
      assert(big.totalRows.contains(spark.table("orders").count()))
      // full result exported as header CSV, preview is its head
      val back = spark.read.option("header", "true").csv(big.csvPath.get)
      assert(back.count() == big.totalRows.get)
      assert(big.inline.head.getLong(0).toString ==
        back.orderBy(col("o_orderkey").cast("long")).head().getString(0))
    }
  }

  test("truncated export path executes the plan once: count rides the write job") {
    Catalog.register(spark, sf)
    withTempDir("graft-export-once") { dir =>
      val text = "SELECT o_orderkey FROM orders"
      val expected = spark.table("orders").count()
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      // the listener bus is async and not publicly drainable — poll the
      // counter until it stabilizes (unchanged for 300 ms, max 5 s)
      def settled(): Int = {
        val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
        var last = -1
        while (System.nanoTime() < deadline && jobs.get() != last) {
          last = jobs.get(); Thread.sleep(300)
        }
        jobs.get()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        // baseline: how many jobs does the take(cap+1) probe alone cost on
        // this plan (LIMIT escalation may use several partial-scan jobs)
        spark.sql(text).take(QueryService.InlineRowCap + 1)
        val takeJobs = settled()
        jobs.set(0)
        val r = QueryService.execute(spark, text, Some(dir))
        val execJobs = settled()
        // probe + ONE export job; a fallback df.count() (a third plan
        // execution) would exceed the bound — the row count must arrive via
        // the observation riding the write
        assert(execJobs <= takeJobs + 1,
          s"export path ran $execJobs jobs (take-probe baseline $takeJobs + 1 write)")
        assert(r.truncated && r.csvPath.isDefined && r.totalRows.contains(expected))
      } finally spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("CSV export writes partitioned (one part per partition, no single-task funnel)") {
    Catalog.register(spark, sf)
    withTempDir("graft-export-par") { dir =>
      // numbered REPARTITION hints are never AQE-coalesced, so the result
      // frame has exactly 4 partitions — the export must write all 4 in
      // parallel tasks, not coalesce(1) them through one
      val r = QueryService.execute(spark,
        "SELECT /*+ REPARTITION(4) */ o_orderkey FROM orders", Some(dir))
      assert(r.truncated && r.csvPath.isDefined)
      val parts = new java.io.File(r.csvPath.get).listFiles()
        .count(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
      assert(parts == 4, s"expected 4 part files, saw $parts")
      val back = spark.read.option("header", "true").csv(r.csvPath.get)
      assert(back.count() == r.totalRows.get)
    }
  }

  test("read-only SQL surface: commands and DML are rejected structurally, SELECT runs") {
    Catalog.register(spark, sf)
    val bad = Seq(
      "DROP VIEW part",
      "INSERT INTO part SELECT * FROM part",
      "CREATE TABLE graft_ro_t AS SELECT 1 AS x",
      "SET spark.sql.shuffle.partitions=1")
    for (text <- bad) {
      val ex = intercept[IllegalArgumentException] { QueryService.sql(spark, text) }
      assert(ex.getMessage.contains("read-only"), s"not rejected: $text")
      val ex2 = intercept[IllegalArgumentException] { QueryService.execute(spark, text) }
      assert(ex2.getMessage.contains("read-only"), s"execute not guarded: $text")
    }
    // nothing executed: the view survives the rejected DROP
    assert(spark.catalog.tableExists("part"))
    // plain queries (incl. CTEs) still run
    assert(QueryService.sql(spark,
      "WITH t AS (SELECT 1 AS x) SELECT x FROM t").head().getInt(0) == 1)
  }
}
