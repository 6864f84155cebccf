package graft.functions

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/**
 * Deterministic string-similarity / hashing kernels used by the codegen'd
 * Catalyst expressions in [[Expressions]]. Everything here is a pure static
 * function (Scala objects emit static forwarders, so generated Java code can
 * call `graft.functions.Sim.jaroWinkler(a, b)` directly inside
 * whole-stage codegen).
 *
 * These re-create, from scratch, the scoring layer that the reference sample
 * (`aws-samples/sample-c360-text2sql-segmentation-entityresolution`) hides
 * inside AWS Entity Resolution `ML_MATCHING`
 * (reference: lib/entity-resolution-service.ts:142-183, output contract
 * `ConfidenceLevel` at lib/data-storage.ts:166-169).
 *
 * All hashing is locale-free and seed-stable: identical results on any JVM,
 * any thread count, any partitioning — required for the byte-identical /
 * parallelism-independent guarantees of the pipeline.
 */
object Sim {

  // ---------------------------------------------------------------- hashing

  /** splitmix64 finalizer — the mixing core of all hashes here. */
  @inline def mix64(zIn: Long): Long = {
    var z = zIn + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  // ------------------------------------------------------------ Jaro-Winkler

  /** Jaro-Winkler over UTF8String. ASCII inputs ≤64 bytes take a zero-
    * allocation byte-level path (match flags in two long bitmasks, no
    * String/boolean[] garbage — the per-pair allocations otherwise dominate
    * memory bandwidth under high task parallelism); anything else falls back
    * to the char-level reference implementation. Results are identical: for
    * ASCII, bytes and chars coincide 1:1. */
  def jaroWinkler(a: UTF8String, b: UTF8String): Double = {
    val la = a.numBytes()
    val lb = b.numBytes()
    if (la <= 64 && lb <= 64 && isAscii(a) && isAscii(b)) {
      val j = jaroBytes(a, b)
      if (j <= 0.7) return j // standard boost threshold
      var l = 0
      val maxPrefix = math.min(4, math.min(la, lb))
      while (l < maxPrefix && a.getByte(l) == b.getByte(l)) l += 1
      j + l * 0.1 * (1.0 - j)
    } else jaroWinkler(a.toString, b.toString)
  }

  @inline private def isAscii(s: UTF8String): Boolean = {
    val n = s.numBytes()
    var i = 0
    while (i < n) {
      if (s.getByte(i) < 0) return false
      i += 1
    }
    true
  }

  /** Byte-level Jaro for ASCII strings ≤64 bytes; mirrors [[jaro]] exactly
    * (same window, greedy matching, integer-halved transpositions). */
  private def jaroBytes(s1: UTF8String, s2: UTF8String): Double = {
    val n1 = s1.numBytes()
    val n2 = s2.numBytes()
    if (n1 == 0 && n2 == 0) return 1.0
    if (n1 == 0 || n2 == 0) return 0.0
    val window = math.max(0, math.max(n1, n2) / 2 - 1)
    var m1 = 0L
    var m2 = 0L
    var matches = 0
    var i = 0
    while (i < n1) {
      val c = s1.getByte(i)
      val lo = math.max(0, i - window)
      val hi = math.min(n2 - 1, i + window)
      var k = lo
      var found = false
      while (k <= hi && !found) {
        if (((m2 >>> k) & 1L) == 0L && c == s2.getByte(k)) {
          m1 |= 1L << i; m2 |= 1L << k; matches += 1; found = true
        }
        k += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < n1) {
      if (((m1 >>> i) & 1L) != 0L) {
        while (((m2 >>> k) & 1L) == 0L) k += 1
        if (s1.getByte(i) != s2.getByte(k)) t += 1
        k += 1
      }
      i += 1
    }
    val m = matches.toDouble
    (m / n1 + m / n2 + (m - t / 2) / m) / 3.0
  }

  /** Standard Jaro-Winkler similarity (prefix scale 0.1, max prefix 4). */
  def jaroWinkler(s1: String, s2: String): Double = {
    val j = jaro(s1, s2)
    if (j <= 0.7) return j // standard boost threshold
    var l = 0
    val maxPrefix = math.min(4, math.min(s1.length, s2.length))
    while (l < maxPrefix && s1.charAt(l) == s2.charAt(l)) l += 1
    j + l * 0.1 * (1.0 - j)
  }

  def jaro(s1: String, s2: String): Double = {
    val n1 = s1.length
    val n2 = s2.length
    if (n1 == 0 && n2 == 0) return 1.0
    if (n1 == 0 || n2 == 0) return 0.0
    val window = math.max(0, math.max(n1, n2) / 2 - 1)
    val m1 = new Array[Boolean](n1)
    val m2 = new Array[Boolean](n2)
    var matches = 0
    var i = 0
    while (i < n1) {
      val lo = math.max(0, i - window)
      val hi = math.min(n2 - 1, i + window)
      var k = lo
      var found = false
      while (k <= hi && !found) {
        if (!m2(k) && s1.charAt(i) == s2.charAt(k)) {
          m1(i) = true; m2(k) = true; matches += 1; found = true
        }
        k += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    // transpositions
    var t = 0
    var k = 0
    i = 0
    while (i < n1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val m = matches.toDouble
    (m / n1 + m / n2 + (m - t / 2) / m) / 3.0
  }

  // ------------------------------------------------------------ token sets

  /**
   * Hash each whitespace-separated token of a UTF-8 byte sequence; returns
   * SORTED distinct hashes. Operates directly on the UTF8String's bytes —
   * no String materialization, no char[] garbage on the hot path (UTF-8
   * multi-byte sequences all have the high bit set, so ASCII-whitespace
   * splitting is byte-safe).
   */
  def tokenHashes(s: UTF8String): Array[Long] = {
    // primitive grow→sort→in-place-dedup: no TreeSet, no boxed Longs — the
    // per-record boxing otherwise dominates allocation bandwidth at high
    // task parallelism (measured via JFR execution samples)
    val n = s.numBytes()
    var arr = new Array[Long](math.max(8, n / 6))
    var t = 0
    var i = 0
    while (i < n) {
      while (i < n && isWsByte(s.getByte(i))) i += 1
      val start = i
      while (i < n && !isWsByte(s.getByte(i))) i += 1
      if (i > start) {
        if (t == arr.length) arr = java.util.Arrays.copyOf(arr, t * 2)
        arr(t) = hashUtf8Range(s, start, i, 0x5eedL)
        t += 1
      }
    }
    if (t == 0) return Array.emptyLongArray
    java.util.Arrays.sort(arr, 0, t)
    var w = 1
    var r = 1
    while (r < t) {
      if (arr(r) != arr(w - 1)) { arr(w) = arr(r); w += 1 }
      r += 1
    }
    if (w == arr.length) arr else java.util.Arrays.copyOf(arr, w)
  }

  @inline private def isWsByte(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f'

  /** Deterministic 64-bit hash of a UTF8String byte range (FNV-ish +
    * splitmix mix), read in place (no byte[] copy). */
  def hashUtf8Range(s: UTF8String, from: Int, until: Int, seed: Long): Long = {
    var h = seed ^ 0xcbf29ce484222325L
    var i = from
    while (i < until) {
      h = (h ^ (s.getByte(i) & 0xffL)) * 0x100000001b3L
      i += 1
    }
    mix64(h)
  }

  /** Token hash set as Catalyst array (sorted) — precompute once per record
    * so pair scoring shuffles ~840B of hashes instead of KBs of text and
    * never re-tokenizes. UnsafeArrayData keeps the longs primitive
    * (GenericArrayData would box every element). */
  def tokenHashArray(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(tokenHashes(s))

  // ------------------------------------------------------ packed token sets

  /**
   * Delta+varint-packed token-hash SET: the shuffle/stage-table form of
   * [[tokenHashes]]. Layout: varint(count), varint(first value), then
   * varint(gap) per remaining value — values ascending, distinct.
   *
   * `bits` truncates each 64-bit token hash to its TOP `bits` bits before
   * packing. Token sets are only ever compared by equality-of-elements
   * (jaccard), so truncation is exactly a re-hash into a 2^bits universe;
   * sorted truncated values sit `2^bits / n` apart on average, which is what
   * makes the gaps varint-small (full 64-bit hashes have ~2^56-sized gaps —
   * information-theoretically incompressible, a varint would EXPAND them).
   * Measured on the web corpus (~200 distinct tokens/doc): 32-bit packing is
   * ~3.9 B/token vs 8 B raw plus the 16-byte array header — ~2x fewer stage
   * bytes end-to-end through records.parquet and every funnel-join shuffle.
   *
   * Exactness: a pair's packed jaccard differs from the 64-bit value only if
   * two DISTINCT tokens of the pair's union collide in the top `bits` bits —
   * probability ~n_a·n_b/2^bits per pair (≈9·10⁻⁶ at bits=32 and 200-token
   * docs), shifting that one pair's jaccard by ≤ 1/|union| when it happens.
   * On the deterministic test corpora the 400-word generator vocabulary is
   * verified collision-free at 32 bits (SimSpec), so every oracle value is
   * bit-identical to the 64-bit computation at ANY corpus scale. bits=64
   * disables truncation entirely (lossless mode).
   */
  def packTokenHashes(s: UTF8String, bits: Int): Array[Byte] =
    packLongs(tokenHashes(s), bits)

  /** Truncate to top `bits`, sort, dedup, delta+varint encode. The input
    * must be sorted distinct 64-bit values (as [[tokenHashes]] returns);
    * output order is ascending (signed — equals unsigned for bits < 64). */
  def packLongs(hashes: Array[Long], bits: Int): Array[Byte] = {
    require(bits >= 8 && bits <= 64, s"bits must be in [8,64], got $bits")
    val n0 = hashes.length
    val v = new Array[Long](n0)
    var i = 0
    while (i < n0) {
      v(i) = if (bits == 64) hashes(i) else hashes(i) >>> (64 - bits)
      i += 1
    }
    if (bits != 64 && n0 > 1) {
      // The input is ascending SIGNED (negatives first); the unsigned shift
      // maps the negative block to [2^(bits-1), 2^bits) and the positive
      // block to [0, 2^(bits-1)) — two ascending runs over DISJOINT ranges,
      // so the sorted order is exactly [positive-origin block][negative-
      // origin block]: an O(n) rotation, bit-identical to the former
      // O(n log n) re-sort (spec-gated by the random-universe packed-
      // jaccard property in SimSpec).
      var firstPos = 0
      while (firstPos < n0 && hashes(firstPos) < 0) firstPos += 1
      if (firstPos > 0 && firstPos < n0) {
        val tmp = new Array[Long](firstPos)
        System.arraycopy(v, 0, tmp, 0, firstPos)              // negative-origin block
        System.arraycopy(v, firstPos, v, 0, n0 - firstPos)    // positive-origin first
        System.arraycopy(tmp, 0, v, n0 - firstPos, firstPos)  // then negative-origin
      }
    }
    var n = if (n0 == 0) 0 else 1
    i = 1
    while (i < n0) { // truncation can merge neighbors
      if (v(i) != v(n - 1)) { v(n) = v(i); n += 1 }
      i += 1
    }
    val out = new Array[Byte](10 * (n + 1))
    var p = writeVarint(out, 0, n.toLong)
    var prev = 0L
    i = 0
    while (i < n) {
      // gap as WRAPPED difference: correct unsigned delta even when bits=64
      // values span the signed range (first "gap" is the value itself)
      p = writeVarint(out, p, if (i == 0) v(0) else v(i) - prev)
      prev = v(i)
      i += 1
    }
    java.util.Arrays.copyOf(out, p)
  }

  @inline private def writeVarint(buf: Array[Byte], pos0: Int, value: Long): Int = {
    var x = value
    var p = pos0
    while ((x & ~0x7fL) != 0L) {
      buf(p) = ((x & 0x7fL) | 0x80L).toByte
      p += 1
      x >>>= 7
    }
    buf(p) = x.toByte
    p + 1
  }

  /** Element count of a packed set — O(1), reads only the count prefix. */
  def packedCount(packed: Array[Byte]): Int = {
    var p = 0
    var shift = 0
    var v = 0L
    var b = 0
    while ({ b = packed(p); p += 1; v |= (b & 0x7fL) << shift; shift += 7
             (b & 0x80) != 0 }) ()
    v.toInt
  }

  /** Decode a packed set back to its (truncated) values — tests/tooling. */
  def unpackLongs(packed: Array[Byte]): Array[Long] = {
    val c = new VarintCursor(packed)
    val n = c.next().toInt
    val out = new Array[Long](n)
    var prev = 0L
    var i = 0
    while (i < n) {
      prev += c.next()
      out(i) = prev
      i += 1
    }
    out
  }

  private final class VarintCursor(buf: Array[Byte]) {
    var pos: Int = 0
    @inline def next(): Long = {
      var v = 0L
      var shift = 0
      var b = 0
      while ({ b = buf(pos); pos += 1; v |= (b & 0x7fL) << shift; shift += 7
               (b & 0x80) != 0 }) ()
      v
    }
  }

  /**
   * Exact jaccard of two packed token sets — streaming merge over the two
   * varint streams, zero decode allocation (the cursors are tiny non-escaping
   * objects, scalar-replaced by the JIT). At bits=64 it equals
   * [[tokenJaccard]] of the two texts (SimSpec property-gates this).
   */
  def packedJaccard(a: Array[Byte], b: Array[Byte]): Double = {
    val ca = new VarintCursor(a)
    val cb = new VarintCursor(b)
    val na = ca.next().toInt
    val nb = cb.next().toInt
    if (na == 0 && nb == 0) return 1.0
    if (na == 0 || nb == 0) return 0.0
    var i = 0; var j = 0; var inter = 0
    var x = ca.next(); var y = cb.next()
    var done = false
    while (!done) {
      if (x == y) {
        inter += 1; i += 1; j += 1
        if (i < na && j < nb) { x += ca.next(); y += cb.next() } else done = true
      } else if (x < y) { // ascending signed order, as packed
        i += 1
        if (i < na) x += ca.next() else done = true
      } else {
        j += 1
        if (j < nb) y += cb.next() else done = true
      }
    }
    inter.toDouble / (na + nb - inter)
  }

  /** Jaccard similarity of the whitespace-token *sets* of two strings. */
  def tokenJaccard(a: String, b: String): Double =
    tokenJaccard(UTF8String.fromString(a), UTF8String.fromString(b))

  def tokenJaccard(a: UTF8String, b: UTF8String): Double = {
    val ha = tokenHashes(a)
    val hb = tokenHashes(b)
    if (ha.length == 0 && hb.length == 0) return 1.0
    if (ha.length == 0 || hb.length == 0) return 0.0
    // both sorted: merge-count the intersection
    var i = 0; var j = 0; var inter = 0
    while (i < ha.length && j < hb.length) {
      val c = java.lang.Long.compare(ha(i), hb(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    inter.toDouble / (ha.length + hb.length - inter)
  }

  // ------------------------------------------- space-split word n-grams

  /** `s`'s bytes in an array this call owns, so the byte-range strings cut
    * from it never alias a row buffer Spark reuses. */
  private def ownedBytes(s: UTF8String): Array[Byte] = {
    val out = new Array[Byte](s.numBytes())
    s.writeToMemory(out, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET)
    out
  }

  /** Start offset of every token of Spark's `split(s, " ")` (byte 0x20
    * only; empty tokens from leading, trailing and double spaces count),
    * plus a sentinel `bytes.length + 1`: token k is the byte range
    * `[starts(k), starts(k + 1) - 1)`. UTF-8 multi-byte sequences never
    * hold 0x20, so the byte split equals the char split. */
  private def spaceTokenStarts(bytes: Array[Byte]): Array[Int] = {
    var spaces = 0
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' ') spaces += 1; i += 1 }
    val starts = new Array[Int](spaces + 2)
    var k = 1
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' ') { starts(k) = i + 1; k += 1 }
      i += 1
    }
    starts(k) = bytes.length + 1
    starts
  }

  private val binaryOrder: java.util.Comparator[UTF8String] =
    (a: UTF8String, b: UTF8String) => a.binaryCompare(b)

  /**
   * The distinct word `n`-grams of `s`, sorted in UTF8String byte order —
   * the compiled form of `array_distinct(transform(sequence(1, cnt), i ->
   * array_join(slice(split(s, ' '), i, n), ' ')))` with
   * `cnt = max(ntok − n + 1, 1)`. Tokens hold no space, so each joined
   * slice is exactly the byte range of `s` from its first token's start to
   * its last token's end: the grams are cut from `s` with no slice array
   * and no join. A text of fewer than `n` tokens is one gram, itself.
   */
  def wordNgrams(s: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val bytes = ownedBytes(s)
    val starts = spaceTokenStarts(bytes)
    val ntok = starts.length - 1
    val cnt = math.max(ntok - n + 1, 1)
    val grams = new Array[UTF8String](cnt)
    var i = 0
    while (i < cnt) {
      val from = starts(i)
      grams(i) = UTF8String.fromBytes(bytes, from, starts(math.min(i + n, ntok)) - 1 - from)
      i += 1
    }
    java.util.Arrays.sort(grams, binaryOrder)
    var w = 1
    var r = 1
    while (r < cnt) {
      if (grams(r).binaryCompare(grams(w - 1)) != 0) { grams(w) = grams(r); w += 1 }
      r += 1
    }
    new GenericArrayData(
      (if (w == cnt) grams else java.util.Arrays.copyOf(grams, w)).asInstanceOf[Array[Any]])
  }

  /**
   * Jaccard of two sets held as sorted distinct string arrays (as
   * [[wordNgrams]] returns): one merge walk counts the intersection, and
   * the union is |a| + |b| − |a ∩ b|. The counts are the integers that
   * `size(array_intersect(a, b))` and `size(array_union(a, b))` give on
   * such sets, so the quotient is the same double.
   */
  def sortedJaccard(a: org.apache.spark.sql.catalyst.util.ArrayData,
                    b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val c = a.getUTF8String(i).binaryCompare(b.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter).toDouble
  }

  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))
  private val hexDigits = "0123456789abcdef".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /**
   * The distinct md5 fingerprints (lower hex, the format of Spark's `md5`)
   * of every `w`-token window of `s`, in first-occurrence order — the
   * compiled form of `array_distinct(transform(sequence(1, ntok − w + 1),
   * i -> md5(array_join(slice(split(s, ' '), i, w), ' '))))`. Each window
   * is hashed straight from its byte range of `s` (the same bytes the
   * joined slice holds, as in [[wordNgrams]]). A text of fewer than `w`
   * tokens has no window: the array is empty.
   */
  def windowMd5s(s: UTF8String, w: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val bytes = s.getBytes // read only: the fingerprints are fresh arrays
    val starts = spaceTokenStarts(bytes)
    val nWin = starts.length - w
    if (nWin < 1) return new GenericArrayData(Array.empty[Any])
    val md = md5.get()
    val seen = new java.util.HashSet[UTF8String](nWin * 2)
    val out = new Array[UTF8String](nWin)
    var k = 0
    var i = 0
    while (i < nWin) {
      val from = starts(i)
      md.update(bytes, from, starts(i + w) - 1 - from)
      val d = md.digest()
      val hex = new Array[Byte](32)
      var j = 0
      while (j < 16) {
        hex(2 * j) = hexDigits((d(j) >> 4) & 0xf)
        hex(2 * j + 1) = hexDigits(d(j) & 0xf)
        j += 1
      }
      val fp = UTF8String.fromBytes(hex)
      if (seen.add(fp)) { out(k) = fp; k += 1 }
      i += 1
    }
    new GenericArrayData(
      (if (k == nWin) out else java.util.Arrays.copyOf(out, k)).asInstanceOf[Array[Any]])
  }

  // ---------------------------------------------------------------- MinHash

  /**
   * Word-shingle hashes (shingle = `size` consecutive tokens,
   * order-sensitive), computed directly over UTF-8 bytes. Falls back to
   * single-token shingles when the document is shorter than `size` tokens.
   */
  def shingleHashes(s: UTF8String, size: Int): Array[Long] = {
    val n = s.numBytes()
    var toks = new Array[Long](math.max(16, n / 6))
    var t = 0
    var i = 0
    while (i < n) {
      while (i < n && isWsByte(s.getByte(i))) i += 1
      val start = i
      while (i < n && !isWsByte(s.getByte(i))) i += 1
      if (i > start) {
        if (t == toks.length) toks = java.util.Arrays.copyOf(toks, t * 2)
        toks(t) = hashUtf8Range(s, start, i, 0x5eedL)
        t += 1
      }
    }
    val k = math.min(size, math.max(1, t))
    if (t == 0) return Array.empty
    val out = new Array[Long](t - k + 1)
    var p = 0
    while (p + k <= t) {
      var h = 0x27d4eb2f165667c5L
      var q = 0
      while (q < k) { h = mix64(h ^ toks(p + q)); q += 1 }
      out(p) = h
      p += 1
    }
    out
  }

  def shingleHashes(s: String, size: Int): Array[Long] =
    shingleHashes(UTF8String.fromString(s), size)

  private val SeedGold = 0x9e3779b97f4a7c15L

  /**
   * MinHash signature: numHashes permutations h_i(x) = mix64(x ^ seed_i),
   * min over the document's word-shingles. Empty doc => Long.MaxValue row.
   */
  def minHashSig(s: UTF8String, shingle: Int, numHashes: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val sh = shingleHashes(s, shingle)
    val sig = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) {
      val seed = mix64(SeedGold * (i + 1))
      var mn = Long.MaxValue
      var j = 0
      while (j < sh.length) {
        val v = mix64(sh(j) ^ seed)
        if (v < mn) mn = v
        j += 1
      }
      sig(i) = mn
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(sig)
  }

  // ---------------------------------------------------------------- SimHash

  /** 64-bit SimHash over whitespace tokens (term frequency weighted). */
  def simHash(s: String): Long = simHash(UTF8String.fromString(s))

  def simHash(s: UTF8String): Long = {
    val counts = new Array[Int](64)
    var i = 0
    val n = s.numBytes()
    while (i < n) {
      while (i < n && isWsByte(s.getByte(i))) i += 1
      val start = i
      while (i < n && !isWsByte(s.getByte(i))) i += 1
      if (i > start) {
        val h = hashUtf8Range(s, start, i, 0x51a4L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Two 64-bit halves → one 16-byte big-endian binary id. Backs the
    * pipeline's 128-bit record-id mode (collision probability ~n²/2¹²⁹:
    * negligible at 10¹² records, where 64-bit ids reach ~3% — see
    * EntityResolution's id scaladoc). Big-endian so BinaryType's unsigned
    * lexicographic comparison is a consistent total order over (hi, lo) —
    * all the clustering min/least logic needs. */
  def bin128(hi: Long, lo: Long): Array[Byte] = {
    val out = new Array[Byte](16)
    var i = 0
    while (i < 8) {
      out(i) = (hi >>> (56 - 8 * i)).toByte
      out(i + 8) = (lo >>> (56 - 8 * i)).toByte
      i += 1
    }
    out
  }

  // ----------------------------------------------------- vector kernels

  /**
   * Exact cosine similarity of two float/double vectors — the compiled form
   * of the former `zip_with`+`aggregate` higher-order-function composition
   * (HOFs are CodegenFallback: three interpreted array walks with per-element
   * lambda dispatch and boxing). ONE fused pass, bit-identical math: the
   * same sequential (index-ascending) double accumulation for dot/|a|²/|b|²
   * and the same `dot / (sqrt(na)·sqrt(nb))` finish, so scores — and every
   * oracle-checked ranking built on them — are unchanged.
   *
   * Null/length semantics mirror the HOF composition exactly: a length
   * mismatch or a null element made the zipped product (hence the aggregate,
   * hence the score) NULL — returned here as a boxed null. `aDouble`/
   * `bDouble` select the element accessor (the expression layer bakes them
   * in from the child types; the HOF version cast every element to double).
   */
  def cosineSim(a: org.apache.spark.sql.catalyst.util.ArrayData, aDouble: Boolean,
                b: org.apache.spark.sql.catalyst.util.ArrayData, bDouble: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aDouble) a.getDouble(i) else a.getFloat(i).toDouble
      val y = if (bDouble) b.getDouble(i) else b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  /** ±1 hyperplane weights for planes 0..nPlanes-1 over dims 0..n-1, cached
    * per (nPlanes, n): +1 when Spark's seed-42 `xxhash64(plane, dim)` over
    * two int inputs is even, else -1 — a pure function of (plane, dim), so
    * it is hashed once per (plane, dim), never per row. */
  private val planeWeightCache =
    new java.util.concurrent.ConcurrentHashMap[java.lang.Long, Array[Array[Double]]]()
  private def planeWeights(nPlanes: Int, n: Int): Array[Array[Double]] = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val key = java.lang.Long.valueOf((nPlanes.toLong << 32) | n.toLong)
    var w = planeWeightCache.get(key)
    if (w == null) {
      w = Array.tabulate(nPlanes) { p =>
        val h0 = XXH64.hashInt(p, 42L)
        Array.tabulate(n)(i =>
          if ((XXH64.hashInt(i, h0) & 1L) == 0L) 1.0 else -1.0)
      }
      planeWeightCache.putIfAbsent(key, w)
    }
    w
  }

  /**
   * All `tables` sign-LSH bucket codes of a vector in one compiled pass.
   * Bit p of table t's code is set when the index-ascending sequential sum
   * Σ v[i]·w(t·bits+p, i) is `>= 0` (weights per [[planeWeights]]) under
   * Catalyst comparison semantics: NaN and -0.0 count as `>= 0`, as under
   * nanSafeCompareDoubles (Java `>=` alone would drop the NaN case). A
   * vector with a null element, or an empty one, gets all-zero codes.
   */
  def signCodes(v: org.apache.spark.sql.catalyst.util.ArrayData, isDouble: Boolean,
                bits: Int, tables: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = v.numElements()
    val out = new Array[Long](tables)
    var anyNull = false
    var i = 0
    while (i < n && !anyNull) { anyNull = v.isNullAt(i); i += 1 }
    // empty or null-holding vector: every code stays 0
    if (n > 0 && !anyNull) {
      val w = planeWeights(bits * tables, n)
      var tb = 0
      while (tb < tables) {
        var code = 0L
        var p = 0
        while (p < bits) {
          val wp = w(tb * bits + p)
          var acc = 0.0
          var j = 0
          while (j < n) {
            val x = if (isDouble) v.getDouble(j) else v.getFloat(j).toDouble
            acc += x * wp(j)
            j += 1
          }
          if (acc >= 0 || java.lang.Double.isNaN(acc)) code |= 1L << p
          p += 1
        }
        out(tb) = code
        tb += 1
      }
    }
    new GenericArrayData(out)
  }

  /**
   * Locale-free lowercase with a zero-garbage ASCII fast path. Spark 4's
   * `lower()` routes through ICU collation support (observed dominating
   * profiles and contending across task threads); web-corpus normalization
   * only needs deterministic casefolding, so: pure-ASCII inputs lowercase
   * byte-wise; anything else falls back to Locale.ROOT (still deterministic,
   * never the platform locale).
   */
  def asciiLower(s: UTF8String): UTF8String = {
    val n = s.numBytes()
    var i = 0
    var ascii = true
    var hasUpper = false
    while (i < n && ascii) {
      val b = s.getByte(i)
      if (b < 0) ascii = false
      else if (b >= 'A' && b <= 'Z') hasUpper = true
      i += 1
    }
    if (ascii) {
      if (!hasUpper) return s
      val out = s.getBytes.clone()
      var j = 0
      while (j < n) {
        val b = out(j)
        if (b >= 'A' && b <= 'Z') out(j) = (b + 32).toByte
        j += 1
      }
      UTF8String.fromBytes(out)
    } else {
      UTF8String.fromString(s.toString.toLowerCase(java.util.Locale.ROOT))
    }
  }
}
