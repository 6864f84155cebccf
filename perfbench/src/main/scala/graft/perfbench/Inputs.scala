package graft.perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.Sim.mix64
import graft.testgen.{LabeledPair, WebCorpus, WebPage}

final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
                          c_acctbal: Double, c_mktsegment: String)
final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
                       o_totalprice: Double, o_orderdate: Timestamp,
                       o_orderpriority: String)
final case class LineItem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
                          l_linenumber: Int, l_quantity: Double,
                          l_extendedprice: Double, l_discount: Double, l_tax: Double,
                          l_returnflag: String, l_linestatus: String,
                          l_shipdate: Timestamp)
final case class Document(doc_id: Long, text: String, lang: String, source: String,
                          n_chars: Long)
final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

/**
 * Seeded inputs. Every row is a pure function of (seed, key), generated with
 * `spark.range(..).flatMap`, so a seed always yields the same tables at any
 * parallelism. The web corpus is the engine's own generator
 * ([[WebCorpus.pagesOf]]) over an entity-id window whose start the seed
 * picks; the relational tables follow the star schema the C360 queries
 * expect (customer / orders / lineitem / documents).
 */
object Inputs extends Serializable {

  private def h(seed: Long, key: Long, salt: Long): Long =
    mix64(mix64(key ^ (seed * 0x9e3779b97f4a7c15L)) ^ salt)
  private def below(seed: Long, key: Long, salt: Long, n: Long): Long =
    math.floorMod(h(seed, key, salt), n)

  /** First entity id of the seed's corpus window (below 2^40, so ids and
    * urls stay well inside Long and the window never wraps). */
  def entityOffset(seed: Long): Long = below(seed, 0L, 0x0ff5e7L, 1L << 40)

  def pages(spark: SparkSession, seed: Long, nEntities: Long): DataFrame = {
    import spark.implicits._
    val off = entityOffset(seed)
    val d = WebCorpus.defaultDomains(nEntities)
    spark.range(off, off + nEntities).flatMap(i => WebCorpus.pagesOf(i, d)).toDF()
  }

  /** Ground truth for [[pages]]: one (sub_url, main_url) per two-source entity. */
  def labeledPairs(spark: SparkSession, seed: Long, nEntities: Long): DataFrame = {
    import spark.implicits._
    val off = entityOffset(seed)
    val d = WebCorpus.defaultDomains(nEntities)
    spark.range(off, off + nEntities).flatMap { i =>
      if (WebCorpus.hasSub(i)) Seq(LabeledPair(WebCorpus.subUrl(i, d), WebCorpus.mainUrl(i, d)))
      else Seq.empty[LabeledPair]
    }.toDF()
  }

  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val langs = Array("en", "en", "en", "de", "fr", "es", "zh")
  private val vocab = Array("spark", "table", "query", "join", "scan", "sort", "hash", "group",
    "window", "stream", "batch", "value", "key", "row", "column", "filter", "merge", "order",
    "line", "part", "customer", "vector", "data", "fast", "slow", "big", "small", "agg", "the", "a")
  private val returnFlags = Array("R", "A", "N")
  private val Day = 86400000L
  private val Epoch1992 = 694224000000L // 1992-01-01T00:00:00Z

  private def cents(seed: Long, key: Long, salt: Long, lo: Long, hi: Long): Double =
    (lo + below(seed, key, salt, hi - lo)) / 100.0

  /** The relational tables at scale factor `sf` (sf 0.1 ≈ 15 k customers,
    * 150 k orders, 600 k line items, 5 k documents), as parquet under `dir`. */
  def writeRelational(spark: SparkSession, seed: Long, sf: Double, dir: String): Unit = {
    import spark.implicits._
    val nCust = math.max(100L, (sf * 150000).toLong)
    val nOrd = nCust * 10
    val nPart = math.max(100L, (sf * 200000).toLong)
    val nSupp = math.max(10L, (sf * 10000).toLong)
    val nDocs = math.max(100L, (sf * 50000).toLong)

    spark.range(nCust).map { i =>
      Customer(i, f"Customer#$i%09d", below(seed, i, 0xc1L, 25).toInt,
        cents(seed, i, 0xc2L, -99999L, 999999L), segments(below(seed, i, 0xc3L, 5).toInt))
    }.write.mode("overwrite").parquet(s"$dir/customer.parquet")

    def orderDate(o: Long): Long = Epoch1992 + below(seed, o, 0x0d1L, 3650) * Day
    spark.range(nOrd).map { o =>
      val st = below(seed, o, 0x0d2L, 20)
      Order(o, below(seed, o, 0x0d3L, nCust), if (st < 9) "F" else if (st < 18) "O" else "P",
        cents(seed, o, 0x0d4L, 100000L, 50000000L), new Timestamp(orderDate(o)),
        priorities(below(seed, o, 0x0d5L, 5).toInt))
    }.write.mode("overwrite").parquet(s"$dir/orders.parquet")

    spark.range(nOrd).flatMap { o =>
      val n = 1 + below(seed, o, 0x11L, 7).toInt
      (1 to n).map { ln =>
        val k = o * 8 + ln
        val ship = orderDate(o) + (1 + below(seed, k, 0x12L, 120)) * Day
        LineItem(o, 1 + below(seed, k, 0x13L, nPart), below(seed, k, 0x14L, nSupp), ln,
          (1 + below(seed, k, 0x15L, 50)).toDouble, cents(seed, k, 0x16L, 90000L, 10500000L),
          below(seed, k, 0x17L, 11) / 100.0, below(seed, k, 0x18L, 9) / 100.0,
          returnFlags(below(seed, k, 0x19L, 3).toInt),
          if (below(seed, k, 0x1aL, 2) == 0) "O" else "F", new Timestamp(ship))
      }
    }.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

    spark.range(nDocs).map { id =>
      val i: Long = id
      // 2% exact copies of the previous document, for the exact-dedup query
      val src = if (i > 0 && below(seed, i, 0xd1L, 50) == 0) i - 1 else i
      val n = 10 + below(seed, src, 0xd2L, 50).toInt
      val text = (0 until n).map(j => vocab(below(seed, src * 64 + j, 0xd3L, vocab.length).toInt))
        .mkString(" ")
      Document(i, text, langs(below(seed, i, 0xd4L, langs.length).toInt), s"src${i % 3}",
        text.length.toLong)
    }.write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** Unstructured float vectors (uniform in [-1, 1) per dimension). */
  def embeddings(spark: SparkSession, seed: Long, n: Long, dim: Int = 64): DataFrame = {
    import spark.implicits._
    spark.range(n).map { i =>
      Embedding(i, Array.tabulate(dim)(k =>
        (below(seed, i * 1024 + k, 0xe1L, 2000000L) / 1000000.0 - 1.0).toFloat),
        below(seed, i, 0xe2L, 10).toInt)
    }.toDF()
  }
}
