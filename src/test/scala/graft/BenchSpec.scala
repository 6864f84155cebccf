package graft

import com.fasterxml.jackson.core.JsonParser
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.{HostPlan, Level}

/**
 * graft.Bench's pure parts, without a Spark session (a second session would
 * collide with TestSpark's through `getOrCreate`): the host sizing rule and
 * the JSON lines it prints.
 */
class BenchSpec extends AnyFunSuite {
  private val GiB = 1L << 30

  /** Strict JSON: no NaN or Infinity, no control characters in strings, no
    * duplicate keys, nothing after the value. */
  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .enable(JsonParser.Feature.STRICT_DUPLICATE_DETECTION)
  private def parse(line: String): JsonNode = mapper.readTree(line)

  private def level(cores: Int, sec: Double, taskSec: Double,
                    stealSec: Double = 0.0): Level =
    Level(cores, sec, docs = 150000, taskSec, cpuSec = 0.9 * taskSec, gcSec = 1.0,
      nTasks = 200, calCoreSec = 5.0, busySec = 100.0, stealSec, shufflePartitions = 64)

  private val local32Keys = Seq("sec_local32", "docs_per_sec_local32", "steal_pct_local32",
    "n_tasks_local32", "scaling_efficiency_4_to_32")

  test("host sizing: N = nproc / 4; the corpus is bounded by cores and by heap") {
    assert(HostPlan.of(4, 7 * GiB) == HostPlan(100000, Right(1)))
    assert(HostPlan.of(16, 64 * GiB) == HostPlan(400000, Right(4)))
    assert(HostPlan.of(32, 128 * GiB) == HostPlan(800000, Right(8)))
    // a small heap shrinks the corpus; a large one does not grow it past the cores
    assert(HostPlan.of(4, 2 * GiB).entities == 32000)
    assert(HostPlan.of(32, 4 * GiB).entities == 64000)
    assert(HostPlan.of(4, 512 * GiB).entities == 100000)
    assert(HostPlan.of(16, 3 * GiB / 2).entities == 24000)
    assert(HostPlan.of(1, 64L << 20).entities == 2000) // the floor
    assert(HostPlan.of(4, 7 * GiB).warmupEntities == 2000)
  }

  test("fewer than 4 cores: er_scaling is absent, with a reason") {
    for (nproc <- 1 to 3) {
      val plan = HostPlan.of(nproc, 7 * GiB)
      assert(plan.pair.isLeft)
      val j = parse(Bench.line(Nil, Bench.erFields(plan.pair.map(_ => "{}")), "null"))
      assert(j.get("er_scaling").isNull)
      assert(j.get("er_scaling_absent").asText.contains(s"nproc=$nproc"))
    }
  }

  test("er_scaling: efficiency (sec_N / sec_4N) / 4, local[32] keys null, no caveat when quiet") {
    val j = parse(Bench.scalingJson(100000, level(1, 80, 70), level(4, 25, 80)))
    assert(j.get("n_cores").asInt == 1 && j.get("four_n_cores").asInt == 4)
    assert(j.get("sec_local1").asDouble == 80.0 && j.get("sec_local4").asDouble == 25.0)
    assert(j.get("scaling_efficiency_n_to_4n").asDouble == 0.8)
    assert(j.get("docs_per_sec_local4").asDouble == 6000.0)
    assert(j.get("work_inflation_1_to_4").asDouble == 1.143)
    assert(j.get("steal_pct_local1").asDouble == 0.0)
    assert(j.get("freq_cal_core_sec").get("local4").asDouble == 5.0)
    assert(!j.has("gate_caveat"))
    local32Keys.foreach(k => assert(j.get(k).isNull, k))
    assert(!j.get("jvm_per_level").asBoolean && j.get("warmup_per_suite").asBoolean)
  }

  test("gate_caveat: more than 10% steal on a side, work inflation below 0.95") {
    def caveat(n: Level, fourN: Level): Option[String] =
      Option(parse(Bench.scalingJson(100000, n, fourN)).get("gate_caveat")).map(_.asText)
    // 12 of 112 wanted core-seconds stolen is 10.7%; 11 of 111 is 9.9%
    assert(caveat(level(1, 80, 70), level(4, 25, 80, stealSec = 12)).exists(_.contains("steal")))
    assert(caveat(level(1, 80, 70, stealSec = 12), level(4, 25, 80)).exists(_.contains("steal")))
    assert(caveat(level(1, 80, 70), level(4, 25, 80, stealSec = 11)).isEmpty)
    // 60 / 70 = 0.857: the N side cost more task-seconds for identical work
    assert(caveat(level(1, 80, 70), level(4, 25, 60))
      .exists(c => c.contains("work_inflation_1_to_4=0.857") && !c.contains("steal")))
    assert(caveat(level(1, 80, 70), level(4, 25, 60, stealSec = 12))
      .exists(c => c.contains("steal") && c.contains("work_inflation")))
  }

  test("a 32-core host's 4N level fills the local[32] point; the 4->32 efficiency stays null") {
    val j = parse(Bench.scalingJson(800000, level(8, 80, 70), level(32, 25, 80)))
    assert(j.get("sec_local8").asDouble == 80.0 && j.get("sec_local32").asDouble == 25.0)
    assert(j.get("scaling_efficiency_4_to_32").isNull)
  }

  test("every emitted line is strict JSON") {
    val head = Bench.headFields(Seq("q1_agg" -> 0.5, "q19_minhash_dups" -> 2.25),
      "/data/sf \"0.1\"\\\t")
    // no /proc/stat (steal NaN) and a zero-second level (infinite rate): null, not NaN
    val er = Bench.erFields(Right(Bench.scalingJson(100000,
      level(1, 80, 70, stealSec = Double.NaN), level(4, 0, 80))))
    val lines = Seq(
      Bench.line(head, Seq("er_scaling" -> "null"), "null"),
      Bench.line(head, Bench.erFields(Left("nproc=2: no pair")), "null"),
      Bench.line(head, er, "null"),
      Bench.line(head, er, Bench.obj(Seq("speedup" -> Bench.num(Double.NaN, 2)))))
    lines.foreach(parse)
    val last = parse(lines.last)
    assert(last.get("value").asDouble == 2.75 && last.get("queries").size == 2)
    assert(last.get("sf").asText == "/data/sf \"0.1\"\\\t")
    assert(last.get("er_scaling").get("steal_pct_local1").isNull)
    assert(last.get("er_scaling").get("docs_per_sec_local4").isNull)
    assert(last.get("er_incremental").get("speedup").isNull)
  }
}
