package graft.eval

import scala.collection.mutable

/**
 * In-memory union-find with path compression + union by size — the oracle's
 * clustering, semantics pinned to the reference
 * (entity_embed/data_utils/union_find.py:4-45). Driver-side only; the
 * distributed engine uses operators.ConnectedComponents instead.
 */
final class UnionFind {
  private val parent = mutable.LongMap.empty[Long]
  private val size = mutable.LongMap.empty[Long]

  def find(x: Long): Long = {
    var root = parent.getOrElseUpdate(x, { size(x) = 1L; x })
    while (parent(root) != root) root = parent(root)
    // path compression
    var cur = x
    while (parent(cur) != root) {
      val next = parent(cur)
      parent(cur) = root
      cur = next
    }
    root
  }

  def union(a: Long, b: Long): Unit = {
    val ra = find(a); val rb = find(b)
    if (ra != rb) {
      val (big, small) = if (size(ra) >= size(rb)) (ra, rb) else (rb, ra)
      parent(small) = big
      size(big) += size(small)
    }
  }

  def unionPairs(pairs: IterableOnce[(Long, Long)]): Unit =
    pairs.iterator.foreach { case (a, b) => union(a, b) }

  /** root -> sorted members, for every element ever touched. */
  def componentDict: Map[Long, Seq[Long]] =
    parent.keys.toSeq.groupBy(find).view.mapValues(_.sorted).toMap
}
