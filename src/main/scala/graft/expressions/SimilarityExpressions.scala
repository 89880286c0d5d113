package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{lit, lower, split, trim}
import org.apache.spark.sql.{GraftSqlBridge => ExpressionUtils}
import org.apache.spark.sql.types._

/**
 * Column functions for the pair-verification hot path and the n-gram set
 * projection that feeds it: each one calls a kernel object's static
 * `compute` through Spark's built-in `StaticInvoke`.
 *
 * Why not Scala UDFs: a ScalaUDF over Array[Long] deserializes each
 * ArrayData into a fresh JVM array per call — at web scale the verify stage
 * evaluates one comparison per candidate pair (pair-entity ratio x corpus
 * size calls), so the two array copies per pair dominate. The kernels read
 * the unsafe ArrayData/UTF8String buffers directly, and `StaticInvoke`
 * keeps the call inside whole-stage codegen (one static method call per
 * row; interpreted eval reflects on the same method). Preference order per
 * SURVEY.md §4: built-in < custom Expression < UDF — the built-in here is
 * `StaticInvoke`, so no custom Expression class is needed.
 */
object SimilarityExpressions {

  private val longs = ArrayType(LongType)
  private val doubles = ArrayType(DoubleType)

  /** `kernel.compute(args...)` as a non-null DOUBLE column; a null argument
    * yields null (dropped by the threshold filters). `argTypes` is checked
    * at analysis time. */
  private def call(kernel: AnyRef, argTypes: Seq[DataType], args: Column*): Column =
    ExpressionUtils.column(StaticInvoke(kernel.getClass, DoubleType, "compute",
      args.map(ExpressionUtils.expression), inputTypes = argTypes,
      returnNullable = false))

  /** The sorted distinct word n-gram hashes of `text`, as an
    * `array<bigint>` (the SetSimJoin gram set of Dedup.tokenJaccardPairs).
    * Tokens are the built-in `split(lower(trim(text)), "\\s+")`; the kernel
    * hashes each token with `xxhash64`, each run of n token hashes with
    * `xxhash64` again (n = 1: the token hashes themselves), and sorts and
    * dedups the grams in the same call, where the `transform` and
    * `array_distinct` chain it replaces evaluated an interpreted lambda per
    * token and per gram. Null text gives null for n = 1 and an empty array
    * otherwise, as the chain did. */
  def wordNgramHashes(text: Column, n: Int): Column = {
    require(n >= 1, "n >= 1")
    ExpressionUtils.column(StaticInvoke(WordNgramHashes.getClass, longs, "compute",
      Seq(split(lower(trim(text)), "\\s+"), lit(n)).map(ExpressionUtils.expression),
      inputTypes = Seq(ArrayType(StringType), IntegerType), propagateNull = false))
  }

  /** Exact Jaccard of two SORTED distinct long arrays (merge-intersect). */
  def jaccardSorted(a: Column, b: Column): Column =
    call(JaccardSorted, Seq(longs, longs), a, b)

  /** Agreement fraction over PACKED 8-bit minhash lanes (8 per long) —
    * the tier-1 payload (TextSignatures.Sig.minhash8). `numPerm`
    * bounds the lane scan: the final long's unused lanes are zero-padded
    * on BOTH sides and would otherwise count as phantom agreements when
    * numPerm is not a multiple of 8. */
  def minhashAgreementPacked(a: Column, b: Column, numPerm: Int): Column =
    call(MinHashAgreementPacked, Seq(longs, longs, IntegerType), a, b, lit(numPerm))

  /** Exact k-shingle Jaccard recomputed from the two TEXTS (normalize →
    * shingle-hash, same kernel as TextSignatures) — bitwise-identical to
    * jaccardSorted over stored shingle arrays, without ever storing or
    * shuffling them (a shingle array is ~8 bytes/char of corpus; the text
    * itself is ~8x smaller). */
  def textShingleJaccard(a: Column, b: Column, k: Int): Column =
    call(TextShingleJaccard, Seq(StringType, StringType, IntegerType), a, b, lit(k))

  /** Dot product of two ARRAY<DOUBLE> columns — the embedding-similarity
    * hot path. The `aggregate(zip_with(...))` higher-order-function form is
    * NOT codegen-fused and boxes per element (measured: the cosine LSH
    * rescore spent most of its wall in HOF eval); this is the same
    * left-to-right float summation order, bitwise-identical results. */
  def dotProduct(a: Column, b: Column): Column =
    call(DotProduct, Seq(doubles, doubles), a, b)
}

object JaccardSorted {
  /** Static kernel shared by interpreted eval and generated code. */
  def compute(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    if (na == 0 && nb == 0) return 0.0 // empty must not match empty (P13)
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = na + nb - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }
}

object WordNgramHashes {
  import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, XXH64}
  import org.apache.spark.unsafe.Platform

  /** `xxhash64`'s seed. */
  private val Seed = 42L

  /** Static kernel shared by interpreted eval and generated code. */
  def compute(tokens: ArrayData, n: Int): ArrayData = {
    if (tokens == null) return if (n == 1) null else UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val nt = tokens.numElements()
    val hs = new Array[Long](nt)
    var i = 0
    while (i < nt) { hs(i) = XXH64.hashUTF8String(tokens.getUTF8String(i), Seed); i += 1 }
    // gram i = xxhash64(t_i, ..., t_{i+n-1}) over the token hashes; it
    // overwrites hs(i), which no later gram reads
    val m = if (n == 1) nt else math.max(nt - n + 1, 0)
    if (n > 1) {
      i = 0
      while (i < m) {
        var h = Seed
        var j = 0
        while (j < n) { h = XXH64.hashLong(hs(i + j), h); j += 1 }
        hs(i) = h
        i += 1
      }
    }
    java.util.Arrays.sort(hs, 0, m)
    var k = 0
    i = 0
    while (i < m) {
      if (k == 0 || hs(i) != hs(k - 1)) { hs(k) = hs(i); k += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(hs, Platform.LONG_ARRAY_OFFSET, k, 8)
  }
}

object TextShingleJaccard {
  import org.apache.spark.unsafe.types.UTF8String
  import graft.functions.{Hashing, TextSignatures}

  /** Per-thread scratch: two normalize buffers + two shingle sets. Verify
    * runs once per candidate pair — per-pair allocation here is exactly the
    * write-bandwidth churn that breaks N→4N scaling (see TextSignatures
    * Scratch note). */
  private final class S {
    var bufA: Array[Char] = new Array[Char](8192)
    var bufB: Array[Char] = new Array[Char](8192)
    val setA = new Hashing.ScratchLongSet(4096)
    val setB = new Hashing.ScratchLongSet(4096)
  }
  private val tl: ThreadLocal[S] = ThreadLocal.withInitial(() => new S)

  /** Decode + normalize (identical semantics to TextSignatures.normalize:
    * lowercase, collapse whitespace runs, trim) into the chosen scratch
    * buffer; returns normalized length. ASCII fast path decodes bytes in
    * place; non-ASCII falls back to the String-based kernel (rare for web
    * text after extraction, still correct). */
  private def normalizeInto(u: UTF8String, sc: S, slotA: Boolean): Int = {
    val nb = u.numBytes
    var buf = if (slotA) sc.bufA else sc.bufB
    if (buf.length < nb) {
      buf = new Array[Char](Integer.highestOneBit(math.max(nb, 16) - 1) << 1)
      if (slotA) sc.bufA = buf else sc.bufB = buf
    }
    var ascii = true
    var i = 0
    while (i < nb) {
      if (u.getByte(i) < 0) { ascii = false; i = nb }
      i += 1
    }
    if (ascii) {
      var j = 0
      var pendingSpace = false
      i = 0
      while (i < nb) {
        val c = u.getByte(i).toChar
        if (Character.isWhitespace(c)) {
          if (j > 0) pendingSpace = true
        } else {
          if (pendingSpace) { buf(j) = ' '; j += 1; pendingSpace = false }
          buf(j) = Character.toLowerCase(c); j += 1
        }
        i += 1
      }
      j
    } else {
      val cs = TextSignatures.normalize(u.toString)
      if (buf.length < cs.length) {
        buf = new Array[Char](Integer.highestOneBit(cs.length - 1) << 1)
        if (slotA) sc.bufA = buf else sc.bufB = buf
      }
      System.arraycopy(cs, 0, buf, 0, cs.length)
      cs.length
    }
  }

  /** Static kernel shared by interpreted eval and generated code. */
  def compute(a: UTF8String, b: UTF8String, k: Int): Double = {
    val sc = tl.get()
    val la = normalizeInto(a, sc, slotA = true)
    sc.setA.clear()
    if (la >= k) {
      var i = 0
      val last = la - k
      while (i <= last) {
        sc.setA.add(Hashing.hashChars(sc.bufA, i, i + k))
        i += 1
      }
    }
    val lb = normalizeInto(b, sc, slotA = false)
    sc.setB.clear()
    var inter = 0
    if (lb >= k) {
      var i = 0
      val last = lb - k
      while (i <= last) {
        val h = Hashing.hashChars(sc.bufB, i, i + k)
        if (sc.setB.add(h) && sc.setA.contains(h)) inter += 1
        i += 1
      }
    }
    val na = sc.setA.size
    val nb = sc.setB.size
    if (na == 0 && nb == 0) return 0.0 // empty must not match empty (P13)
    val union = na + nb - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }
}

object DotProduct {
  /** Left-to-right summation — the same FP order as
    * aggregate(zip_with(a, b, _*_), 0.0, _+_), so results are
    * bitwise-identical to the HOF form it replaces. Vectors are expected
    * equal-length (embedding columns); extra trailing elements on either
    * side are ignored. */
  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    s
  }
}

object MinHashAgreementPacked {
  /** Fraction of equal 8-bit lanes over the first numPerm lanes. */
  def compute(a: ArrayData, b: ArrayData, numPerm: Int): Double = {
    val n = a.numElements()
    if (n == 0 || n != b.numElements() || numPerm <= 0) return 0.0
    val lanes = math.min(numPerm, n * 8)
    var i = 0
    var eq = 0
    while (i < lanes) {
      val z = a.getLong(i >>> 3) ^ b.getLong(i >>> 3)
      if (((z >>> ((i & 7) * 8)) & 0xFFL) == 0L) eq += 1
      i += 1
    }
    eq.toDouble / lanes
  }
}
