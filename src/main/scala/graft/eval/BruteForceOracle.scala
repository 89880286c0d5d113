package graft.eval

import graft.config.GraftConfig
import graft.functions.{Hashing, TextSignatures}
import scala.collection.parallel.CollectionConverters._

/**
 * Brute-force O(n²) Jaccard + in-memory union-find oracle (FIXTURES.md §7):
 * plays the role of the reference implementation for the recall/cluster
 * gates. Exact by construction — every pair is scored with exact Jaccard on
 * the SAME char-shingle config the Spark pipeline uses, so "dup-pair recall
 * >= 0.99 at the same shingle/signature config" is measured apples-to-apples.
 *
 * Driver-side, tiny/small scales only.
 */
object BruteForceOracle {

  final case class OraclePair(id1: Long, id2: Long, jaccard: Double)

  /** All pairs with exact shingle-Jaccard >= threshold. Parallel over cores. */
  def duplicatePairs(docs: Seq[(Long, String)], cfg: GraftConfig): Seq[OraclePair] = {
    val sh: Array[(Long, Array[Long])] = docs.iterator.map { case (id, text) =>
      (id, TextSignatures.shingleSet(TextSignatures.normalize(text), cfg.shingleK))
    }.toArray.sortBy(_._1)
    val n = sh.length
    val results = (0 until n).par.flatMap { i =>
      val (id1, s1) = sh(i)
      val buf = scala.collection.mutable.ArrayBuffer.empty[OraclePair]
      var j = i + 1
      while (j < n) {
        val (id2, s2) = sh(j)
        // length prefilter: jaccard <= min/max sizes — sound skip
        val lo = math.min(s1.length, s2.length).toDouble
        val hi = math.max(s1.length, s2.length).toDouble
        if (hi > 0 && lo / hi >= cfg.simThreshold) {
          val jac = Hashing.jaccardSorted(s1, s2)
          if (jac >= cfg.simThreshold) buf += OraclePair(id1, id2, jac)
        }
        j += 1
      }
      buf
    }
    results.seq.sortBy(p => (p.id1, p.id2)).toSeq
  }

  /**
   * Expected cluster assignment: union-find over the oracle pairs, cluster
   * key = min member id, singletons = own id (the engine's cluster key).
   */
  def clusters(docs: Seq[(Long, String)], cfg: GraftConfig): Map[Long, Long] = {
    val uf = new UnionFind
    val pairs = duplicatePairs(docs, cfg)
    docs.foreach { case (id, _) => uf.find(id) }
    uf.unionPairs(pairs.iterator.map(p => (p.id1, p.id2)))
    val comp = uf.componentDict
    comp.flatMap { case (_, members) =>
      val m = members.min
      members.map(_ -> m)
    }
  }
}
