package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

import graft.cluster.{CheckpointStore, ConnectedComponents}

class ClusterSpec extends AnyFunSuite with PropChecks with TempDirs {
  lazy val spark = TestSpark.spark

  /** Driver-side union-find oracle. */
  private def unionFind(edges: Seq[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.Map.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def runCC(edges: Seq[(String, String)]): Map[String, String] = {
    import spark.implicits._
    val df = edges.toDF("src", "dst")
    val out = ConnectedComponents.run(df).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // roots map to themselves implicitly
    out
  }

  test("large-star/small-star matches union-find on random graphs") {
    val genEdges = for {
      n <- Gen.choose(2, 40)
      m <- Gen.choose(1, 80)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0, n - 1); b <- Gen.choose(0, n - 1)
      } yield (f"n$a%03d", f"n$b%03d"))
    } yield es.filter(e => e._1 != e._2)
    check(Prop.forAll(genEdges) { es =>
      es.isEmpty || {
        val expected = unionFind(es).filter { case (k, v) => k != v }
        val got = runCC(es)
        got == expected
      }
    }, minTests = 20)
  }

  test("long chain collapses to one component (log-round convergence)") {
    import spark.implicits._
    val chain = (0 until 200).map(i => (f"c$i%04d", f"c${i + 1}%04d"))
    val out = runCC(chain)
    assert(out.values.toSet == Set("c0000"))
    assert(out.keySet == (1 to 200).map(i => f"c$i%04d").toSet)
  }

  test("star with celebrity hub stays linear and correct") {
    val star = (1 until 500).map(i => (f"s$i%04d", "s0000"))
    val out = runCC(star)
    assert(out.values.toSet == Set("s0000"))
  }

  test("MatchID partition refinement: components equal transitive closure of edges") {
    import spark.implicits._
    // two disjoint triangles + an isolated edge
    val es = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("x", "y"), ("y", "z"), ("p", "q"))
    val got = runCC(es)
    assert(got == Map("b" -> "a", "c" -> "a", "y" -> "x", "z" -> "x", "q" -> "p"))
  }

  test("a run that reaches maxIter unconverged throws instead of returning partial labels") {
    import spark.implicits._
    val chain = (0 until 200).map(i => (f"c$i%04d", f"c${i + 1}%04d")).toDF("src", "dst")
    intercept[IllegalStateException](ConnectedComponents.run(chain, maxIter = 1))
  }

  test("disjoint pairs are a star forest after one round: converged at iteration 1") {
    import spark.implicits._
    withTempDir("graft-cc-ckpt") { dir =>
      // oriented low→high, so round 1 changes every edge: a test that waits
      // for the edge set to repeat needs a second round to see it
      val pairs = (0 until 50).map(i => (2L * i, 2L * i + 1)).toDF("src", "dst")
      val store = new CheckpointStore(spark, dir)
      val out = ConnectedComponents.run(pairs, Some(store)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out == (0 until 50).map(i => (2L * i + 1) -> 2L * i).toMap)
      assert(store.latestIteration() == Some(1))
    }
  }

  test("duplicate edges change nothing: every edge tripled gives the same labels and rounds") {
    import spark.implicits._
    withTempDir("graft-cc-dups") { dir =>
      // a chain (several rounds) plus a triangle and a star
      val es = (0 until 20).map(i => (i.toLong, i + 1L)) ++
        Seq((100L, 101L), (101L, 102L), (100L, 102L)) ++ (201L to 220L).map(i => (i, 200L))
      def labelsAndRounds(edges: Seq[(Long, Long)], name: String) = {
        val store = new CheckpointStore(spark, s"$dir/$name")
        val out = ConnectedComponents.run(edges.toDF("src", "dst"), Some(store)).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        (out, store.latestIteration())
      }
      val (once, rounds) = labelsAndRounds(es, "once")
      val (thrice, roundsThrice) = labelsAndRounds(es ++ es.reverse ++ es, "thrice")
      assert(thrice == once)
      assert(roundsThrice == rounds)
      assert(rounds.exists(_ > 1), s"the chain should need more than one round, got $rounds")
    }
  }
}
