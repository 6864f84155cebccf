package graft

import org.scalacheck.{Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Sim

trait PropChecks { self: AnyFunSuite =>
  def check(p: Prop, minTests: Int = 200): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(minTests).withInitialSeed(42L), p)
    assert(res.passed, res.status.toString)
  }
}

class SimSpec extends AnyFunSuite with PropChecks {

  test("jaro-winkler reference values") {
    assert(math.abs(Sim.jaroWinkler("MARTHA", "MARHTA") - 0.9611111) < 1e-6)
    assert(math.abs(Sim.jaroWinkler("DWAYNE", "DUANE") - 0.84) < 1e-6)
    assert(math.abs(Sim.jaroWinkler("DIXON", "DICKSONX") - 0.8133333) < 1e-6)
    assert(Sim.jaroWinkler("", "") == 1.0)
    assert(Sim.jaroWinkler("abc", "") == 0.0)
  }

  test("jaro-winkler properties: identity, symmetry, bounds") {
    check(Prop.forAll { (a: String, b: String) =>
      val s = Sim.jaroWinkler(a, b)
      s >= 0.0 && s <= 1.0 &&
        math.abs(s - Sim.jaroWinkler(b, a)) < 1e-12 &&
        Sim.jaroWinkler(a, a) == 1.0
    })
  }

  test("token jaccard: identity, symmetry, bounds, disjoint") {
    assert(Sim.tokenJaccard("a b c", "a b c") == 1.0)
    assert(Sim.tokenJaccard("a b", "c d") == 0.0)
    assert(math.abs(Sim.tokenJaccard("a b c d", "a b c x") - 0.6) < 1e-12)
    check(Prop.forAll { (a: String, b: String) =>
      val s = Sim.tokenJaccard(a, b)
      s >= 0.0 && s <= 1.0 && math.abs(s - Sim.tokenJaccard(b, a)) < 1e-12
    })
  }

  test("token jaccard is whitespace- and order-insensitive (set semantics)") {
    assert(Sim.tokenJaccard("a  b\tc", "c b a") == 1.0)
    assert(Sim.tokenJaccard("a a a b", "a b") == 1.0)
  }

  test("packed token sets: roundtrip, count prefix, lossless-mode jaccard equality") {
    import org.apache.spark.unsafe.types.UTF8String
    def u8(s: String) = UTF8String.fromString(s)
    // delta+varint roundtrip over arbitrary (incl. negative) sorted-distinct longs
    check(Prop.forAll { (xs: List[Long]) =>
      val sorted = xs.distinct.sorted.toArray
      Sim.unpackLongs(Sim.packLongs(sorted, 64)).sameElements(sorted) &&
        Sim.packedCount(Sim.packLongs(sorted, 64)) == sorted.length
    })
    // bits=64 packing is lossless: packed jaccard == string-token jaccard
    check(Prop.forAll { (a: String, b: String) =>
      val pj = Sim.packedJaccard(Sim.packTokenHashes(u8(a), 64),
        Sim.packTokenHashes(u8(b), 64))
      math.abs(pj - Sim.tokenJaccard(a, b)) < 1e-12
    })
    assert(Sim.packedJaccard(Sim.packTokenHashes(u8(""), 32),
      Sim.packTokenHashes(u8(""), 32)) == 1.0)
    assert(Sim.packedJaccard(Sim.packTokenHashes(u8("a b"), 32),
      Sim.packTokenHashes(u8("c d"), 32)) == 0.0)
  }

  test("32-bit truncation is collision-free on the generator vocabulary (oracle-exactness proof)") {
    import org.apache.spark.unsafe.types.UTF8String
    // Every token of every generated page text (title + body at ANY corpus
    // scale) is a word of WebCorpus.Vocab. If no two vocabulary words share
    // the top 32 bits of their token hash, then NO pair's packed-32 jaccard
    // can differ from the 64-bit value on ANY generated corpus — the
    // DuckDB-oracle exactness of q19/er_* is a theorem, not a sample.
    val hs = graft.testgen.WebCorpus.Vocab.map { w =>
      val u = UTF8String.fromString(w)
      Sim.hashUtf8Range(u, 0, u.numBytes(), 0x5eedL)
    }
    assert(hs.distinct.length == hs.length)
    val trunc = hs.map(_ >>> 32)
    assert(trunc.distinct.length == hs.length,
      "vocabulary words collide in the top 32 bits — raise Config.tokenBits")
    // and packed-32 jaccard equals the 64-bit jaccard on real page pairs
    // (main vs perturbed sub text), end to end through tokenization
    def u8(s: String) = UTF8String.fromString(s)
    (0L until 200L).foreach { e =>
      val body = graft.testgen.WebCorpus.bodyOf(e)
      val sub = graft.testgen.WebCorpus.perturb(e, body)
      val pj = Sim.packedJaccard(Sim.packTokenHashes(u8(body), 32),
        Sim.packTokenHashes(u8(sub), 32))
      assert(math.abs(pj - Sim.tokenJaccard(body, sub)) < 1e-12)
    }
  }

  test("truncated packing on RANDOM token universes: ≡ independent truncation, collision bound holds") {
    // The vocabulary proof above covers the generated corpora; this gates
    // the GENERAL claim in the packTokenHashes scaladoc over random 64-bit
    // universes: (1) packedJaccard at any `bits` equals the exact jaccard
    // of the independently top-`bits`-truncated sets (codec + streaming
    // merge are exact), and (2) c collision-merges in a pair's union
    // perturb the jaccard by at most 2c/|union'| (|inter'−inter| ≤ c and
    // inter ≤ u give |J'−J| = |inter'·u − inter·(u−c)|/(u·u') ≤ 2c/u').
    // bits=16 makes collisions ACTUALLY occur (hundreds of tokens in a
    // 2^16 universe); bits=32 is the production shape.
    val rnd = new scala.util.Random(0xC0FFEE)
    def randSet(n: Int): Array[Long] = Array.fill(n)(rnd.nextLong()).distinct.sorted
    def jac(a: Array[Long], b: Array[Long]): Double =
      if (a.isEmpty && b.isEmpty) 1.0
      else {
        val ia = a.toSet
        val inter = b.count(ia)
        inter.toDouble / (a.length + b.length - inter)
      }
    var collisionsSeen = 0L
    for (bits <- Seq(16, 32); _ <- 0 until 200) {
      val shared = randSet(rnd.nextInt(150))
      val a = (shared ++ randSet(rnd.nextInt(300))).distinct.sorted
      val b = (shared ++ randSet(rnd.nextInt(300))).distinct.sorted
      val pj = Sim.packedJaccard(Sim.packLongs(a, bits), Sim.packLongs(b, bits))
      def trunc(xs: Array[Long]) = xs.map(_ >>> (64 - bits)).distinct.sorted
      val (ta, tb) = (trunc(a), trunc(b))
      assert(pj == jac(ta, tb),
        s"bits=$bits: packedJaccard != jaccard of independently truncated sets")
      val u = (a ++ b).distinct.length
      val ut = (ta ++ tb).distinct.length
      val c = u - ut
      collisionsSeen += c
      if (ut > 0)
        assert(math.abs(pj - jac(a, b)) <= 2.0 * c / ut + 1e-12,
          s"bits=$bits: perturbation ${math.abs(pj - jac(a, b))} exceeds 2*$c/$ut")
    }
    assert(collisionsSeen > 0, "16-bit trials never collided — bound untested")
  }

  test("32-bit packing compresses the corpus token sets ~2x vs raw long arrays") {
    import org.apache.spark.unsafe.types.UTF8String
    var packed = 0L
    var raw = 0L
    var toks = 0L
    (0L until 200L).foreach { e =>
      val t = UTF8String.fromString(graft.testgen.WebCorpus.bodyOf(e))
      val n = Sim.tokenHashes(t).length
      toks += n
      raw += 8L * n + 16 // long array payload + UnsafeArrayData header
      packed += Sim.packTokenHashes(t, 32).length
    }
    info(f"packed ${packed.toDouble / toks}%.2f B/token vs raw 8 B/token " +
      f"(${raw.toDouble / packed}%.2fx)")
    assert(packed.toDouble <= 0.55 * raw,
      f"packing ratio regressed: $packed vs $raw raw bytes")
  }

  test("minhash: deterministic, and similar docs collide more") {
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val b = "the quick brown fox jumps over the lazy cat again and again today"
    val c = "completely different words entirely unrelated content here now ok"
    def sig(s: String) = Sim.minHashSig(
      org.apache.spark.unsafe.types.UTF8String.fromString(s), 2, 16).toLongArray()
    assert(sig(a).sameElements(sig(a)))
    val ab = sig(a).zip(sig(b)).count { case (x, y) => x == y }
    val ac = sig(a).zip(sig(c)).count { case (x, y) => x == y }
    assert(ab > ac)
  }

  test("simhash: deterministic; near duplicates are hamming-close") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    val b = a.replace("gamma", "gampa")
    val c = "one two three four five six seven eight nine ten " * 5
    assert(Sim.simHash(a) == Sim.simHash(a))
    assert(Sim.hamming64(Sim.simHash(a), Sim.simHash(b)) <
      Sim.hamming64(Sim.simHash(a), Sim.simHash(c)))
  }

  test("expressions agree with kernels through the DataFrame API (codegen path)") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.functions.GraftFunctions._
    import org.apache.spark.sql.functions.col
    val in = Seq(("martha stewart cooking", "marhta stewart cooking"),
      ("a b c d", "a b c x"))
    val rows = in.toDF("x", "y").select(
      jaro_winkler(col("x"), col("y")).as("jw"),
      token_jaccard(col("x"), col("y")).as("tj"),
      simhash64(col("x")).as("sh")).collect()
    rows.zip(in).foreach { case (r, (x, y)) =>
      assert(math.abs(r.getDouble(0) - Sim.jaroWinkler(x, y)) < 1e-12)
      assert(math.abs(r.getDouble(1) - Sim.tokenJaccard(x, y)) < 1e-12)
      assert(r.getLong(2) == Sim.simHash(x))
    }
    val packedRows = in.toDF("x", "y").select(
      packed_jaccard(pack_tokens(col("x"), 32), pack_tokens(col("y"), 32)).as("pj"),
      packed_count(pack_tokens(col("x"), 32)).as("pc")).collect()
    packedRows.zip(in).foreach { case (r, (x, y)) =>
      assert(math.abs(r.getDouble(0) - Sim.tokenJaccard(x, y)) < 1e-12)
      assert(r.getInt(1) == x.split(' ').distinct.length)
    }
  }

  // -------------------- compiled dedup kernels ≡ the compositions they replace

  /** The compositions q21 and q44 ran before `word_ngrams` / `window_md5s`
    * (`transform` is CodegenFallback: interpreted, one slice array per gram). */
  private def hofGrams(t: org.apache.spark.sql.Column, n: Int) = {
    import org.apache.spark.sql.functions._
    val toks = split(t, " ")
    val cnt = greatest(size(toks) - (n - 1), lit(1))
    array_distinct(transform(sequence(lit(1), cnt),
      i => array_join(slice(toks, i, lit(n)), " ")))
  }
  private def hofWindows(t: org.apache.spark.sql.Column, w: Int) = {
    import org.apache.spark.sql.functions._
    val toks = split(t, " ")
    val nWin = size(toks) - (w - 1)
    when(nWin >= 1, array_distinct(transform(sequence(lit(1), nWin),
      i => md5(array_join(slice(toks, i, lit(w)), " ").cast("binary")))))
      .otherwise(array().cast("array<string>"))
  }

  /** `nPages` lowered corpus texts plus the split edge cases, one row each. */
  private def kernelInputs(nPages: Int) = {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val edge = Seq("", " ", "  ", " leading", "trailing ", "double  space  here",
      "  both  ends  ", "Ünïcödé ÄÖÜ Straße 東京 ΣΊΣΥΦΟΣ Ωmega", "tab\tsep and\nnew\r\nline",
      "one", "two words", null)
    val corpus = graft.testgen.WebCorpus.pages(spark, nPages).toDF().select("text").limit(nPages)
    corpus.unionByName(edge.toDF("text"))
      .repartition(4) // past the limit's single partition
      .select(monotonically_increasing_id().as("row"), lower(col("text")).as("t"))
  }

  /** Strictly ascending in UTF8String byte order (so distinct, too). Scala's
    * `String` order is UTF-16, which differs from byte order off the BMP. */
  private def ascendingBytes(xs: Seq[String]): Boolean = {
    val u = xs.map(org.apache.spark.unsafe.types.UTF8String.fromString)
    u.zip(u.drop(1)).forall { case (a, b) => a.binaryCompare(b) < 0 }
  }

  test("word_ngrams and window_md5s ≡ the transform/slice/array_join compositions") {
    import graft.functions.GraftFunctions._
    import org.apache.spark.sql.functions.{col, size, split}
    val in = kernelInputs(300).cache()
    try {
      // q21's length class counts tokens by their spaces, not by a split
      val counts = in.select(col("t"), graft.ops.Dedup.spaceTokens(col("t")),
        size(split(col("t"), " "))).collect()
      assert(counts.length == 300 + 12)
      counts.foreach { r =>
        assert(r.isNullAt(1) == r.isNullAt(2) && (r.isNullAt(1) || r.getInt(1) == r.getInt(2)),
          s"token count of ${r.getString(0)}: ${r.get(1)} vs ${r.get(2)}")
      }
      for (n <- Seq(1, 2, 3, 5)) {
        val rows = in.select(col("t"), word_ngrams(col("t"), n), hofGrams(col("t"), n)).collect()
        assert(rows.length == 300 + 12)
        rows.foreach { r =>
          if (r.isNullAt(0)) {
            // null text: no grams; the composition gave [null], whose row
            // never reached a bucket (its length class is null too under
            // ANSI, Spark 4's default)
            assert(r.isNullAt(1))
            assert(r.getSeq[String](2) == Seq(null))
          } else {
            val got = r.getSeq[String](1)
            val want = r.getSeq[String](2)
            assert(got.length == want.length && got.toSet == want.toSet,
              s"n=$n, text ${r.getString(0)}")
            assert(ascendingBytes(got), s"n=$n: not in byte order")
          }
        }
      }
      for (w <- Seq(1, 3, 15)) {
        val rows = in.select(col("t"), window_md5s(col("t"), w), hofWindows(col("t"), w)).collect()
        rows.foreach { r =>
          // null text: null here, an empty array there — both explode to no rows
          val got = if (r.isNullAt(1)) Seq.empty[String] else r.getSeq[String](1)
          assert(got == r.getSeq[String](2), s"w=$w, text ${r.getString(0)}")
          assert(r.isNullAt(0) == r.isNullAt(1))
        }
      }
    } finally in.unpersist()
  }

  test("sorted_jaccard ≡ size(array_intersect) / size(array_union), bit for bit") {
    import graft.functions.GraftFunctions._
    import org.apache.spark.sql.functions._
    val g = kernelInputs(120).select(col("row"), word_ngrams(col("t"), 3).as("g")).cache()
    try {
      val pairs = g.as("a").crossJoin(g.as("b")).filter(col("a.row") < col("b.row"))
        .select(sorted_jaccard(col("a.g"), col("b.g")),
          size(array_intersect(col("a.g"), col("b.g"))).cast("double") /
            size(array_union(col("a.g"), col("b.g"))).cast("double"))
        .collect()
      assert(pairs.length == 132 * 131 / 2)
      assert(pairs.exists(r => !r.isNullAt(0) && r.getDouble(0) > 0.0))
      pairs.foreach { r =>
        assert(r.isNullAt(0) == r.isNullAt(1))
        if (!r.isNullAt(0))
          assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
            java.lang.Double.doubleToLongBits(r.getDouble(1)))
      }
    } finally g.unpersist()
  }
}
