package dedupbench

import graft.config.GraftConfig
import graft.eval.{BruteForceOracle, UnionFind}
import graft.functions.{Hashing, TextSignatures}
import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._
import scala.util.hashing.MurmurHash3

/** Expected output for one corpus: every pair whose exact similarity is at
  * or above the threshold, the exact score of any pair, and the union-find
  * clusters the pairs induce (cluster key = min member id, singletons keep
  * their own id — the engine's `normalizeIds = false` convention). */
final class Reference(val ids: Array[Long], val pairs: Array[(Long, Long)],
    val score: (Long, Long) => Double, val threshold: Double) {
  val pairSet: Set[(Long, Long)] = pairs.toSet
  val clusters: Map[Long, Long] = Reference.clustersOf(ids, pairs.iterator)
  /** Share of docs that are in at least one reference pair. */
  def participation: Double =
    pairs.iterator.flatMap(p => Iterator(p._1, p._2)).toSet.size.toDouble / ids.length
}

object Reference {

  def clustersOf(ids: Array[Long], pairs: Iterator[(Long, Long)]): Map[Long, Long] = {
    val uf = new UnionFind
    ids.foreach(uf.find)
    uf.unionPairs(pairs)
    uf.componentDict.flatMap { case (_, members) => members.map(_ -> members.head) }
  }

  /** Char-shingle Jaccard at the engine config: the same shingle sets and
    * the same `>= threshold` test as the repo's BruteForceOracle, found with
    * an exact count-filter join instead of its all-pairs loop (runs on
    * small corpora check that both give the same pairs). */
  def shingles(docs: Array[(Long, String)], cfg: GraftConfig): Reference =
    exact(docs.map { case (id, t) =>
      id -> TextSignatures.shingleSet(TextSignatures.normalize(t), cfg.shingleK)
    }, cfg.simThreshold)

  /** The repo's all-pairs oracle, for cross-checking [[shingles]]. */
  def bruteForceShingles(docs: Array[(Long, String)], cfg: GraftConfig): Array[(Long, Long)] =
    BruteForceOracle.duplicatePairs(docs.toSeq, cfg).map(p => (p.id1, p.id2)).toArray

  /** Plain all-pairs loop, for cross-checking [[wordNgrams]]. */
  def allPairsWordNgrams(docs: Array[(Long, String)], n: Int, t: Double): Array[(Long, Long)] = {
    val g = docs.map { case (id, text) => (id, wordGrams(text, n)) }.sortBy(_._1)
    (for (i <- g.indices; j <- i + 1 until g.length
      if Hashing.jaccardSorted(g(i)._2, g(j)._2) >= t) yield (g(i)._1, g(j)._1)).toArray
  }

  /** Every pair of sets (sorted distinct hashes) with Jaccard >= t.
    *
    * Count filter over an inverted index: Jaccard >= t needs an overlap of
    * at least t * (|x| + |y|) / (1 + t). For each doc x the overlap with
    * every later doc is counted over x's elements held by at most `common`
    * docs; x's other elements can add at most one each, so a pair whose
    * count plus that allowance falls short cannot reach t, and every other
    * pair is scored with the exact Jaccard. A doc whose allowance alone
    * could reach t is scored against every later doc. */
  def exact(sets: Array[(Long, Array[Long])], t: Double): Reference = {
    val n = sets.length
    val vals = sets.flatMap(_._2)
    java.util.Arrays.sort(vals)
    var nv = 0
    for (i <- vals.indices) if (i == 0 || vals(i) != vals(i - 1)) { vals(nv) = vals(i); nv += 1 }
    val tok = sets.map(_._2.map(e => java.util.Arrays.binarySearch(vals, 0, nv, e)))
    val df = new Array[Int](nv)
    tok.foreach(_.foreach(k => df(k) += 1))
    val start = df.scanLeft(0)(_ + _)
    val postings = new Array[Int](start(nv))
    val fill = start.clone()
    for (x <- 0 until n; k <- tok(x)) { postings(fill(k)) = x; fill(k) += 1 }
    val common = math.max(50, n / 5)
    val tl = t - 1e-9
    // docs are probed in interleaved strides, one stride per task
    val strides = 64
    val found = (0 until strides).par.map { stride =>
      val acc = new Array[Int](n)
      val touched = new Array[Int](n)
      val out = mutable.ArrayBuffer[(Long, Long)]()
      var x = stride
      while (x < n) {
        val sx = sets(x)._2
        var allowance = 0
        var nt = 0
        tok(x).foreach { k =>
          if (df(k) > common) allowance += 1
          else {
            // postings are in doc order and hold x itself: count the docs after it
            var p = java.util.Arrays.binarySearch(postings, start(k), start(k + 1), x) + 1
            while (p < start(k + 1)) {
              val y = postings(p)
              if (acc(y) == 0) { touched(nt) = y; nt += 1 }
              acc(y) += 1
              p += 1
            }
          }
        }
        val candidates =
          if (allowance >= tl * sx.length) (x + 1 until n).iterator
          else touched.iterator.take(nt)
        candidates.foreach { y =>
          val sy = sets(y)._2
          if (acc(y) + allowance >= tl * (sx.length + sy.length) / (1 + tl) &&
              Hashing.jaccardSorted(sx, sy) >= t) {
            val (a, b) = (sets(x)._1, sets(y)._1)
            out += ((a.min(b), a.max(b)))
          }
        }
        var i = 0
        while (i < nt) { acc(touched(i)) = 0; i += 1 }
        x += strides
      }
      out
    }.seq.flatten.toArray.sorted
    val byId = sets.toMap
    new Reference(sets.map(_._1), found,
      (a, b) => Hashing.jaccardSorted(byId(a), byId(b)), t)
  }

  /** Word n-grams as Dedup.tokenJaccardPairs forms them: trim spaces,
    * lowercase, split on whitespace runs, distinct runs of `n` tokens. */
  def wordGrams(text: String, n: Int): Array[Long] = {
    var lo = 0
    var hi = text.length
    while (lo < hi && text.charAt(lo) == ' ') lo += 1
    while (hi > lo && text.charAt(hi - 1) == ' ') hi -= 1
    val toks = text.substring(lo, hi).toLowerCase.split("\\s+", -1)
    if (toks.length < n) Array.emptyLongArray
    else toks.sliding(n).map { g =>
      val s = g.mkString("\u0001")
      (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) |
        (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
    }.toArray.distinct.sorted
  }

  /** Word n-gram Jaccard as Dedup.tokenJaccardPairs scores it. */
  def wordNgrams(docs: Array[(Long, String)], n: Int, threshold: Double): Reference =
    exact(docs.map { case (id, t) => id -> wordGrams(t, n) }, threshold)
}

/** What a workload's output must satisfy. `exactScores`: every output pair's
  * score is its exact similarity, so none may fall below the threshold. */
final case class Gate(minRecall: Double, exactScores: Boolean, minAgreement: Double)

/** Output of one run of a workload: scored pairs (when collected) and a
  * cluster id for every doc. */
final case class Output(pairs: Option[Array[(Long, Long, Double)]], clusters: Map[Long, Long])

final case class Verdict(recall: Option[Double], agreement: Double,
    belowThreshold: Int, problems: Vector[String]) {
  def ok: Boolean = problems.isEmpty
}

object Check {
  private val Tol = 1e-6

  def apply(ref: Reference, out: Output, gate: Gate): Verdict = {
    var problems = Vector.empty[String]
    var below = 0
    val recall = out.pairs.map { ps =>
      val keys = ps.map(p => (p._1.min(p._2), p._1.max(p._2)))
      if (keys.distinct.length != keys.length) problems :+= "duplicate output pairs"
      ps.foreach { case (a, b, s) =>
        if (gate.exactScores) {
          val exact = ref.score(a, b)
          if (exact < ref.threshold - Tol) below += 1
          if (math.abs(exact - s) > Tol) problems :+= f"pair ($a,$b) scored $s%.6f, exact $exact%.6f"
        } else if (s < ref.threshold - Tol) below += 1
      }
      val hit = keys.distinct.count(ref.pairSet.contains)
      if (ref.pairs.isEmpty) 1.0 else hit.toDouble / ref.pairs.length
    }
    if (below > 0) problems :+= s"$below output pairs score below the threshold"
    recall.foreach { r =>
      if (r < gate.minRecall) problems :+= f"pair recall $r%.4f below ${gate.minRecall}"
    }
    val agree = ref.ids.count(id => out.clusters.get(id).contains(ref.clusters(id)))
      .toDouble / ref.ids.length
    if (agree < gate.minAgreement) problems :+= f"cluster agreement $agree%.4f below ${gate.minAgreement}"
    Verdict(recall, agree, below, problems.take(20))
  }

  /** A deliberately wrong copy of an output: 5% of the true pairs dropped,
    * one dissimilar pair added at the threshold score, and one doc moved out
    * of the largest reference cluster. The smoke test runs the gate on it. */
  def corrupt(ref: Reference, out: Output): Output = {
    val pairs = out.pairs.map { ps =>
      val trueOnes = ps.filter(p => ref.pairSet.contains((p._1, p._2)))
      val drop = trueOnes.take(math.max(1, trueOnes.length / 20)).toSet
      val (a, b) = ref.ids.iterator.sliding(2).map(w => (w(0), w(1)))
        .find(p => !ref.pairSet.contains(p) && ref.score(p._1, p._2) < ref.threshold)
        .getOrElse((ref.ids(0), ref.ids(1)))
      ps.filterNot(drop.contains) :+ ((a, b, ref.threshold))
    }
    val biggest = ref.clusters.groupBy(_._2).maxBy(_._2.size)._2.keys.max
    Output(pairs, out.clusters.updated(biggest, biggest + (1L << 40)))
  }
}
