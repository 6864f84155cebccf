package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke: every SparkEntry query runs on sf0.001 and the oracle-declared
  * names stay in sync with the queries map. */
class QueriesSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("every query has an oracle and every oracle has a query") {
    val orphanOracles = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphanOracles.isEmpty, s"oracles without queries: $orphanOracles")
    val unoracled = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unoracled.isEmpty, s"queries without oracles: $unoracled")
  }

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"query $name runs on sf0.001") {
      val df = fn(spark, sf)
      val n = df.count()
      // q4 is an anti-join that can legitimately be empty at tiny scale
      assert(n >= 0)
      if (name != "q4_left_anti")
        assert(n > 0, s"$name returned no rows")
    }
  }
}
