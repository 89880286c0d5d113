package graft.operators

import graft.SparkSuite
import graft.config.GraftConfig

/** Eager operators release every scratch cache they persisted, whether the
  * call returns or throws: a long-lived session (one SparkEntry run serves
  * all its queries) must not accumulate storage entries per failed call. */
class CacheLeakSpec extends SparkSuite {
  import spark.implicits._

  private def cacheEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "an entirely different sentence about nothing")).toDF("doc_id", "text")

  test("tokenJaccardPairs releases its caches on success and on a bad threshold") {
    spark.catalog.clearCache()
    val got = Dedup.tokenJaccardPairs(docs, 0.5).as[(Long, Long, Double)].collect()
    assert(got.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    assert(cacheEmpty, "a successful call left cache entries")
    intercept[IllegalArgumentException](Dedup.tokenJaccardPairs(docs, 0.0))
    assert(cacheEmpty, "a rejected threshold left cache entries")
  }

  test("linkagePairs releases its caches when the materializing job fails") {
    spark.catalog.clearCache()
    // an RDD-backed frame: a local Seq would fold the bad cast while the
    // plan is optimized, before anything is persisted
    val records = spark.sparkContext.parallelize(Seq(
      ("1", "the quick brown fox jumps over the lazy dog", "left"),
      ("x", "the quick brown fox jumps over the lazy dog", "right")))
      .toDF("id", "text", "source")
    // SparkNumberFormatException is private[spark]; it extends
    // NumberFormatException and is raised by the localCheckpoint job. Both
    // sides of the `sigs` join cast the bad id; when AQE's concurrent stages
    // both fail, Spark wraps the error ("Multiple failures in stage
    // materialization"), so the cast error may sit in the cause chain.
    val e = intercept[Exception](
      Linkage.linkagePairs(records, GraftConfig.default, "left"))
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.isInstanceOf[NumberFormatException] &&
      c.getClass.getSimpleName == "SparkNumberFormatException"), e)
    assert(cacheEmpty, "a failed job left cache entries")
  }
}
