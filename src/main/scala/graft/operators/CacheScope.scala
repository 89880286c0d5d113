package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/**
 * The one owner of an eager operator's scratch caches. [[keep]] persists a
 * frame the operator reads more than once; [[CacheScope.run]] unpersists
 * every kept frame, in the order kept, when the body returns OR throws — a
 * failed call must not leave storage entries behind in a long-lived
 * session. Lineage cuts over a kept frame stay at their call sites.
 *
 * EAGER bodies only (the [[ConfScope]] contract): the body must materialize
 * its result — a `localCheckpoint` or a TableIO write — before it returns,
 * since the caches it reads are gone afterwards.
 */
final class CacheScope private {
  private val kept = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Persist `df` at MEMORY_AND_DISK until the scope ends. */
  def keep(df: DataFrame): DataFrame = {
    kept += df
    df.persist(StorageLevel.MEMORY_AND_DISK)
  }
}

object CacheScope {
  def run[T](body: CacheScope => T): T = {
    val s = new CacheScope
    try body(s) finally s.kept.foreach(_.unpersist())
  }
}
