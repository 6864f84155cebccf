package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Plan-SHAPE regression pins for the scale-critical exchange elisions the
 * resolve pipeline relies on (each was worth a full stream shuffle in the
 * round-4 work-halving measurements). These are properties of Catalyst's
 * EnsureRequirements planning, not of our code — a Spark upgrade or an
 * innocent-looking refactor can silently re-add the exchanges, and only a
 * plan assertion catches that before a benchmark does.
 */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def shuffles(df: DataFrame): Int = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    plan.collect { case _: ShuffleExchangeExec => 1 }.sum
  }

  /** big enough that autoBroadcast cannot hide a missing exchange */
  private def noBroadcast[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  import spark.implicits._

  test("dedupPairs: dedup aggregate and the first main_id join both reuse the one repartition") {
    noBroadcast {
      val raw = Seq((1L, 10L), (1L, 10L), (2L, 20L)).toDF("main_id", "sub_id")
      val dim = Seq((1L, "a"), (2L, "b")).toDF("main_id", "t")
      val deduped = pipeline.EntityResolution.dedupPairs(raw)
      // repartition(main_id) is the ONLY shuffle: HashPartitioning on a
      // subset of the dedup keys satisfies the aggregate's clustered
      // distribution (all copies of a pair share main_id)
      assert(shuffles(deduped) == 1,
        s"dedup must ride the repartition exchange-free:\n${deduped.queryExecution}")
      // ... and the aggregate's output partitioning satisfies the next
      // equi-join on main_id: only the dim side adds an exchange
      val joined = deduped.join(dim, "main_id")
      assert(shuffles(joined) == 2,
        s"join on main_id must reuse the dedup partitioning:\n${joined.queryExecution}")
    }
  }

  test("dedupPairs: the exchange has one partition per task slot, which AQE cannot coalesce") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val raw = Seq((1L, 10L), (1L, 10L), (2L, 20L)).toDF("main_id", "sub_id")
      val exchanges = pipeline.EntityResolution.dedupPairs(raw).queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }
      // AQE coalesces a REPARTITION_BY_COL exchange by bytes, which ran the
      // whole scoring funnel over a few hundred KB of pairs as one task
      assert(exchanges.map(e => (e.shuffleOrigin, e.outputPartitioning.numPartitions)) ==
        Seq((REPARTITION_BY_NUM, spark.sparkContext.defaultParallelism)),
        s"dedupPairs must repartition to defaultParallelism:\n${exchanges.mkString("\n")}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("consecutive equi-joins on the same key share the stream's exchange") {
    noBroadcast {
      val fact = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
      val d1 = Seq((1L, "a")).toDF("id", "p")
      val d2 = Seq((1L, "b")).toDF("id", "q")
      // fact + d1 + d2 exchanges; NOT a fourth for the second join's stream
      val joined = fact.join(d1, Seq("id"), "left").join(d2, Seq("id"), "left")
      assert(shuffles(joined) == 3,
        s"second same-key join must not re-shuffle the stream:\n${joined.queryExecution}")
    }
  }

  test("CC one-pass stars: one exchange per large-star, two per small-star") {
    noBroadcast {
      // STRUCTURAL pin — raw exchange nodes in the plan TREE, not
      // canonically-distinct ones: small-star's former two-branch union
      // planned its window subtree twice and relied on AQE's reuse-stage
      // dedup to keep it one shuffle at runtime; the single-branch
      // conditional projection holds the count by plan shape alone, so the
      // pin no longer depends on AQE staying on
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
      // large-star = the window min's ClusteredDistribution(src) only — the
      // former groupBy.min + self-join shape planned two full-stream
      // exchanges here
      assert(shuffles(cluster.ConnectedComponents.largeStar(edges)) == 1,
        "large-star must plan exactly the window exchange")
      // small-star = window(hi) + output distinct — the former shape paid
      // four (input distinct, groupBy, join, output distinct)
      assert(shuffles(cluster.ConnectedComponents.smallStar(edges)) == 2,
        "small-star must plan window + distinct only")
      // one full CC half-iteration pair composes to exactly three
      val iter = cluster.ConnectedComponents.smallStar(
        cluster.ConnectedComponents.largeStar(edges))
      assert(shuffles(iter) == 3,
        s"half-iteration pair must shuffle 3 distinct streams:\n${iter.queryExecution}")
      // and the same counts with AQE OFF — the shape is the contract
      val prev = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        // rebuilt inside the block: a Dataset's queryExecution is cached, so
        // the frames above would reuse their AQE-on plans
        assert(shuffles(cluster.ConnectedComponents.smallStar(edges)) == 2,
          "small-star exchange count must hold without AQE reuse-stage dedup")
        assert(shuffles(cluster.ConnectedComponents.smallStar(
          cluster.ConnectedComponents.largeStar(edges))) == 3,
          "half-iteration exchange count must hold without AQE")
      } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
  }

  test("near-duplicate candidate operators: exchange count per family, AQE off") {
    // Baseline pins for the candidate chains (Dedup.bucketPairs for the
    // text families, the shared sign-LSH bucket builders for the vector
    // ones): a rewrite of either chain must move its rows down, never up.
    // Counts are exchange nodes in the plan tree; reused exchanges and the
    // eager feature checkpoints' own jobs are not in it.
    import graft.ops.{Ann, Dedup}
    noBroadcast {
      val prev = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val docs = testgen.WebCorpus.pages(spark, 30).toDF()
          .select(col("url").as("doc"), col("text"))
        val vecs = (0 until 40).map(i => (i.toLong,
          Array.tabulate(8)(j => ((i * 7 + j * 3) % 11 - 5).toFloat)))
          .toDF("vec_id", "embedding")
        val queries = vecs.filter(col("vec_id") < 3)
          .select(col("vec_id").as("query_id"), col("embedding"))
        val pinned = Seq[(String, Int, () => DataFrame)](
          ("minhashLsh", 6, () => Dedup.minhashLsh(docs, "text", "doc")),
          ("simhash", 3, () => Dedup.simhash(docs, "text", "doc")),
          ("ngramJaccard", 3, () => Dedup.ngramJaccard(docs, "text", "doc")),
          ("windowFingerprint", 3, () => Dedup.windowFingerprint(docs, "text", "doc")),
          ("embeddingCosine", 6, () => Dedup.embeddingCosine(vecs, "embedding", "vec_id")),
          ("lshTopK", 2, () => Ann.lshTopK(vecs, queries, k = 5)))
        val wrong = pinned.flatMap { case (name, want, build) =>
          val df = build()
          val got = shuffles(df)
          if (got == want) None
          else Some(s"$name: $got exchanges, pinned $want\n${df.queryExecution.executedPlan}")
        }
        assert(wrong.isEmpty, wrong.mkString("\n"))
      } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
  }

  test("integrated shape: window over cid adds exactly one stream exchange after the id joins") {
    noBroadcast {
      val recs = Seq((1L, "u1"), (2L, "u2")).toDF("id", "url")
      val comp = Seq((1L, 7L)).toDF("id", "component")
      val conf = Seq((1L, 0.9)).toDF("id", "best_score")
      val w = org.apache.spark.sql.expressions.Window.partitionBy("cid")
      val out = recs.join(comp, Seq("id"), "left").join(conf, Seq("id"), "left")
        .withColumn("cid", coalesce(col("component"), col("id")))
        .withColumn("MatchID", min("url").over(w))
      // stream(id) + comp + conf + window(cid) = 4; the groupBy+join-back
      // shape this replaced planned 5 and re-executed the first join
      assert(shuffles(out) == 4,
        s"integrated stream must be exchanged exactly twice:\n${out.queryExecution}")
    }
  }
}
