package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.EntityResolution
import graft.publish.Downstream
import graft.testgen.WebCorpus

/**
 * End-to-end re-creation of the reference's full data-integration workflow
 * (lib/data-integration-workflow.ts): resolve → publish `latest` →
 * build interactions → segment — then the three canonical README queries
 * (reference README.md:13-15) answered over the resolved output.
 */
class WorkflowSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val nEntities = 500L

  // deterministic purchase history derived from the corpus: each record id
  // buys a few items; cross-source entities buy in both "brands"
  private def purchases(source: String) = {
    val pages = WebCorpus.pages(spark, nEntities).toDF()
      .filter(col("source") === source)
    pages.select(col("url").as("customer_id"),
        explode(sequence(lit(0), pmod(xxhash64(col("url")), lit(3L)).cast("int")))
          .as("k"))
      .select(col("customer_id"),
        concat(lit("item"), pmod(xxhash64(col("customer_id"), col("k")), lit(40L)))
          .as("item_id"),
        (lit(1600000000L) + pmod(xxhash64(col("k"), col("customer_id")), lit(1000000L)))
          .as("purchase_date"))
  }

  test("full workflow: resolve → publish → interactions → segment → canonical queries") {
    withTempDir("graft-wf") { root =>
      val pages = WebCorpus.pages(spark, nEntities).toDF()
      val result = EntityResolution.resolve(pages,
        EntityResolution.Config(workDir = Some(s"$root/resolve")))

      // publish `latest` atomically (reference: integrated_customer_updater)
      val dir = s"$root/integrated/latest"
      Downstream.publishAtomic(result.integrated, dir)
      val integrated = Downstream.readLatest(spark, dir).cache()
      assert(integrated.count() == pages.count())

      // interactions (reference: create_personalize_dataset_import_job SQL)
      val inter = Downstream.interactions(
        purchases("main"), purchases("sub"), integrated).cache()
      assert(inter.count() > 0)
      // sub-brand item ids are disambiguated
      assert(inter.filter(col("ITEM_ID").startsWith("sub_")).count() > 0)
      // USER_ID is a MatchID: cross-source buyers collapse onto one id
      val xsource = inter.groupBy("USER_ID")
        .agg(countDistinct(when(col("ITEM_ID").startsWith("sub_"), 1)
          .otherwise(0)).as("sides"))
        .filter(col("sides") === 2)
      assert(xsource.count() > 0, "some resolved users must have bought in both brands")

      // canonical query 1: top-3 items bought by customers purchasing in BOTH
      // brands with ≥2 purchases (README.md:13)
      val bothBrands = inter.groupBy("USER_ID")
        .agg(count(lit(1)).as("n"),
          sum(when(col("ITEM_ID").startsWith("sub_"), 1).otherwise(0)).as("nsub"))
        .filter(col("n") >= 2 && col("nsub") > 0 && col("nsub") < col("n"))
        .select("USER_ID")
      val top3 = inter.join(bothBrands, "USER_ID")
        .filter(!col("ITEM_ID").startsWith("sub_"))
        .groupBy("ITEM_ID").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("ITEM_ID").asc)
        .limit(3).collect()
      assert(top3.length == 3)

      // canonical query 2: likely buyers of those items, excluding existing
      // purchasers (README.md:14) — segment minus purchase history (left anti)
      val items = top3.map(_.getString(0)).toSeq
      val segment = Downstream.segmentTopN(inter, items, numResults = 10)
      val existing = inter.select(col("ITEM_ID").as("item_id"),
        col("USER_ID").as("user_id"))
      val prospects = segment.join(existing, Seq("item_id", "user_id"), "left_anti")
      val overlap = prospects.join(existing, Seq("item_id", "user_id"), "left_semi")
      assert(overlap.count() == 0, "prospects must exclude existing purchasers")

      // canonical query 3: export a customer list (README.md:15)
      val exportDir = s"$root/export/out"
      prospects.coalesce(1).write.option("header", "true").csv(exportDir)
      val back = spark.read.option("header", "true").csv(exportDir)
      assert(back.count() == prospects.count())
      assert(back.columns.toSeq == Seq("item_id", "user_id"))
    }
  }
}
