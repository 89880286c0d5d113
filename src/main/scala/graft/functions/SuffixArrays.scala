package graft.functions

/**
 * Suffix array (prefix-doubling, O(n log n)) + Kasai LCP — the in-partition
 * kernel of the suffix-array substring stage (north-rule addition; no
 * reference counterpart, SURVEY.md §2 footnote).
 */
object SuffixArrays {

  /** Suffix array of s (indices sorted by suffix). Prefix doubling with
    * PACKED-LONG sort keys — (rank, rank(i+k), i) packed into one long and
    * sorted with java.util.Arrays.sort over primitives. The generic
    * `sortBy((Int, Int))` form boxed two tuples per COMPARISON per doubling
    * round, which made the SA kernel both slow and allocation-hot (the
    * contended resource for scaling). Packed path requires n < 2^21
    * (~2M chars — a capped fingerprint group is ≪ that); larger inputs use
    * the boxed fallback. */
  def build(s: Array[Int]): Array[Int] = {
    val n = s.length
    if (n == 0) return Array.empty
    if (n < (1 << 21)) buildPacked(s) else buildBoxed(s)
  }

  private def buildPacked(s: Array[Int]): Array[Int] = {
    val n = s.length
    val rank = new Array[Int](n)
    val keys = new Array[Long](n)
    val sa = new Array[Int](n)
    val idxMask = (1L << 21) - 1

    // round 0: sort by character value (offset to non-negative), index in
    // the low bits keeps the sort stable-by-position for equal values
    var i = 0
    while (i < n) {
      keys(i) = ((s(i).toLong + n + 1) << 21) | i
      i += 1
    }
    java.util.Arrays.sort(keys)
    i = 0
    var r = 0
    while (i < n) {
      val idx = (keys(i) & idxMask).toInt
      if (i > 0 && (keys(i) >>> 21) != (keys(i - 1) >>> 21)) r += 1
      sa(i) = idx
      rank(idx) = r
      i += 1
    }

    var k = 1
    while (k < n && rank(sa(n - 1)) != n - 1) {
      // key = (rank+1)(21b) | (rank(i+k)+1 or 0)(21b) | i(21b)
      i = 0
      while (i < n) {
        val r2 = if (i + k < n) rank(i + k) + 1 else 0
        keys(i) = ((rank(i).toLong + 1) << 42) | (r2.toLong << 21) | i
        i += 1
      }
      java.util.Arrays.sort(keys)
      i = 0
      r = 0
      while (i < n) {
        val idx = (keys(i) & idxMask).toInt
        if (i > 0 && (keys(i) >>> 21) != (keys(i - 1) >>> 21)) r += 1
        sa(i) = idx
        rank(idx) = r
        i += 1
      }
      k <<= 1
    }
    sa
  }

  private def buildBoxed(s: Array[Int]): Array[Int] = {
    val n = s.length
    val rank = s.clone()
    var sa = Array.range(0, n)
    val tmp = new Array[Int](n)
    var k = 1
    // sort by (rank(i), rank(i+k)) with doubling
    while (k < n) {
      val kk = k
      def pairOf(i: Int): (Int, Int) = (rank(i), if (i + kk < n) rank(i + kk) else -1)
      sa = sa.sortBy(pairOf)
      tmp(sa(0)) = 0
      var i = 1
      while (i < n) {
        tmp(sa(i)) = tmp(sa(i - 1)) + (if (pairOf(sa(i)) == pairOf(sa(i - 1))) 0 else 1)
        i += 1
      }
      System.arraycopy(tmp, 0, rank, 0, n)
      if (rank(sa(n - 1)) == n - 1) return sa
      k <<= 1
    }
    sa
  }

  /** Kasai LCP array: lcp(i) = LCP(sa(i-1), sa(i)), lcp(0) = 0. */
  def lcp(s: Array[Int], sa: Array[Int]): Array[Int] = {
    val n = s.length
    val out = new Array[Int](n)
    if (n == 0) return out
    val rank = new Array[Int](n)
    var i = 0
    while (i < n) { rank(sa(i)) = i; i += 1 }
    var h = 0
    i = 0
    while (i < n) {
      if (rank(i) > 0) {
        val j = sa(rank(i) - 1)
        while (i + h < n && j + h < n && s(i + h) == s(j + h)) h += 1
        out(rank(i)) = h
        if (h > 0) h -= 1
      } else h = 0
      i += 1
    }
    out
  }

  final case class SpanPair(id1: Long, id2: Long, spanLen: Int, span: String)

  /** Sparse-table range-minimum over an int array: O(n log n) build,
    * O(1) query — used for exact per-pair LCP intervals. */
  private final class Rmq(a: Array[Int]) {
    private val n = a.length
    private val log: Array[Int] = {
      val l = new Array[Int](math.max(n + 1, 2))
      var i = 2
      while (i <= n) { l(i) = l(i >> 1) + 1; i += 1 }
      l
    }
    private val k = if (n == 0) 1 else log(n) + 1
    private val st = Array.ofDim[Int](k, math.max(n, 1))
    if (n > 0) {
      System.arraycopy(a, 0, st(0), 0, n)
      var j = 1
      while (j < k) {
        var i = 0
        while (i + (1 << j) <= n) {
          st(j)(i) = math.min(st(j - 1)(i), st(j - 1)(i + (1 << (j - 1))))
          i += 1
        }
        j += 1
      }
    }
    /** min over a(lo..hi) inclusive; lo <= hi required. */
    def min(lo: Int, hi: Int): Int = {
      val j = log(hi - lo + 1)
      math.min(st(j)(lo), st(j)(hi - (1 << j) + 1))
    }
  }

  /**
   * Duplicate spans across documents: concatenate docs with per-doc unique
   * sentinels (negative ints, impossible in text), build SA + LCP, scan for
   * maximal runs of SA-adjacent suffixes with LCP >= minLen, and inside each
   * run compute the EXACT per-pair span: for docs A and B, the longest
   * common substring is max over SA positions (i of A, j of B) of
   * min(lcp(i+1..j)) — evaluated with a sparse-table RMQ and a last-seen
   * index per doc (O(runLen × distinctDocs) per run), not the run minimum
   * (which under-reports when a run extends with weaker suffixes). Emits
   * each doc pair once with its longest span's length AND content (the
   * content makes results externally checkable by substring containment).
   * At most 1024 docs: the per-pair accumulator is quadratic in group size.
   */
  def dupSpans(docs: Seq[(Long, String)], minLen: Int): Seq[SpanPair] = {
    require(docs.size <= 1024, s"dupSpans takes at most 1024 docs, got ${docs.size}")
    if (docs.size < 2) return Nil
    val totalLen = docs.map(_._2.length).sum + docs.size
    val s = new Array[Int](totalLen)
    val docOf = new Array[Int](totalLen)
    var pos = 0
    var d = 0
    docs.foreach { case (_, text) =>
      var i = 0
      while (i < text.length) {
        s(pos) = text.charAt(i).toInt + 1 // shift: keep > 0
        docOf(pos) = d
        pos += 1; i += 1
      }
      s(pos) = -(d + 1) // unique sentinel per doc
      docOf(pos) = d
      pos += 1; d += 1
    }
    val sa = build(s)
    val lcps = lcp(s, sa)
    val rmq = new Rmq(lcps)
    val ids = docs.map(_._1).toArray
    val nDocs = docs.size
    // best span per doc pair, keyed by PACKED MEMBER INDICES (di*nDocs+dj,
    // di < dj by id order) into flat int arrays — the boxed
    // HashMap[(Long,Long),(Int,Int)] form allocated two tuples per
    // candidate update across ~10^5 updates/group. The flat form is
    // quadratic in group size, hence the 1024-doc bound (2 x 4 MB); engine
    // groups are capped at SuffixSpans.GroupCap.
    val bestLen = new Array[Int](nDocs * nDocs)
    val bestStart = new Array[Int](nDocs * nDocs)
    val lastSeen = new Array[Int](nDocs)
    var i = 1
    while (i < sa.length) {
      if (lcps(i) >= minLen) {
        // run of suffixes sharing >= minLen prefixes: SA rows [i-1 .. runEnd]
        java.util.Arrays.fill(lastSeen, -1)
        lastSeen(docOf(sa(i - 1))) = i - 1
        while (i < sa.length && lcps(i) >= minLen) {
          val di = docOf(sa(i))
          var dj = 0
          while (dj < nDocs) {
            val j = lastSeen(dj)
            if (j >= 0 && dj != di) {
              // exact pair span = min lcp over the pair's own SA interval
              val len = rmq.min(j + 1, i)
              val key = if (ids(di) < ids(dj)) di * nDocs + dj else dj * nDocs + di
              if (ids(di) != ids(dj) && len > bestLen(key)) {
                bestLen(key) = len
                bestStart(key) = sa(i)
              }
            }
            dj += 1
          }
          lastSeen(di) = i
          i += 1
        }
      } else i += 1
    }
    val out = Seq.newBuilder[SpanPair]
    var key = 0
    while (key < bestLen.length) {
      val len = bestLen(key)
      if (len > 0) {
        val start = bestStart(key)
        val chars = new Array[Char](len)
        var j = 0
        while (j < len) { chars(j) = (s(start + j) - 1).toChar; j += 1 }
        out += SpanPair(ids(key / nDocs), ids(key % nDocs), len, new String(chars))
      }
      key += 1
    }
    out.result().sortBy(p => (p.id1, p.id2))
  }
}
