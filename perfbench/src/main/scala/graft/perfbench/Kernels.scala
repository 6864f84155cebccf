package graft.perfbench

import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{HtmlText, Sim}

/**
 * ns/op of the `functions` layer's scalar kernels, from a warm hand-rolled
 * loop over inputs sampled from the workload's corpus. Each kernel first
 * runs for `warmMs`, then the loop repeats passes over the sample until
 * `measureMs` has elapsed; ns/op = elapsed / calls.
 */
object Kernels {
  @volatile private var sink = 0L

  private def time(inputs: Int, warmMs: Long, measureMs: Long)(call: Int => Long): Double = {
    def loop(ms: Long): (Long, Long) = {
      val t0 = System.nanoTime()
      val until = t0 + ms * 1000000L
      var calls = 0L
      var acc = 0L
      while (System.nanoTime() < until) {
        var i = 0
        while (i < inputs) { acc += call(i); i += 1 }
        calls += inputs
      }
      sink += acc
      (System.nanoTime() - t0, calls)
    }
    loop(warmMs)
    val (ns, calls) = loop(measureMs)
    ns.toDouble / calls
  }

  def measure(sample: Seq[(Array[Byte], String)], warmMs: Long = 150,
              measureMs: Long = 300): Map[String, Double] = {
    require(sample.size >= 2, "kernel sample needs at least two inputs")
    val html = sample.map(_._1).toArray
    val text = sample.map(s => Sim.asciiLower(UTF8String.fromString(s._2))).toArray
    val title = sample.map(s => UTF8String.fromString(s._2.split(' ').take(8).mkString(" "))).toArray
    val packed = text.map(t => Sim.packTokenHashes(t, 32))
    val n = html.length
    def next(i: Int) = if (i + 1 == n) 0 else i + 1
    Map(
      "functions.html_to_text_ns" -> time(n, warmMs, measureMs)(i =>
        HtmlText.extract(html(i)).numBytes()),
      "functions.jaro_winkler_ns" -> time(n, warmMs, measureMs)(i =>
        java.lang.Double.doubleToRawLongBits(Sim.jaroWinkler(title(i), title(next(i))))),
      "functions.pack_tokens_ns" -> time(n, warmMs, measureMs)(i =>
        Sim.packTokenHashes(text(i), 32).length),
      "functions.packed_jaccard_ns" -> time(n, warmMs, measureMs)(i =>
        java.lang.Double.doubleToRawLongBits(Sim.packedJaccard(packed(i), packed(next(i))))),
      "functions.minhash_sig_ns" -> time(n, warmMs, measureMs)(i =>
        Sim.minHashSig(text(i), 2, 15).numElements()),
      "functions.simhash_ns" -> time(n, warmMs, measureMs)(i => Sim.simHash(text(i))))
  }
}
