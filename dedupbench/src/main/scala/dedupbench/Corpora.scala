package dedupbench

import graft.corpus.PageCorpus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** A generated input: the cached pages table the program sees, and the same
  * pages on the driver for the reference. */
final case class Corpus(pages: DataFrame, docs: Array[(Long, String)],
    plantedParticipation: Double) {
  def textBytes: Long = docs.iterator.map(_._2.getBytes("UTF-8").length.toLong).sum
  def release(): Unit = pages.unpersist()
}

object Corpora {

  private def cached(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK).count()
    df
  }

  private def participation(spine: Array[PageCorpus.Spine]): Double = {
    val sizes = spine.groupBy(_.cluster).view.mapValues(_.length)
    spine.count(s => sizes(s.cluster) > 1).toDouble / spine.length
  }

  /** The engine's own planted-duplicate corpus (about 76% of pages in a
    * duplicate cluster, one host holding about 30% of pages). */
  def dense(spark: SparkSession, nPages: Int, seed: Long): Corpus = {
    val (pages, _) = PageCorpus.generate(spark, nPages, seed)
    val spine = PageCorpus.spine(nPages, seed)
    Corpus(cached(pages.toDF()), spine.map(s => (s.id, PageCorpus.makePage(seed, s).text)),
      participation(spine))
  }

  /** Low-participation spine: about 4.8% of clusters are duplicate clusters
    * of 2 to 5 pages and the rest are singletons, so about 15% of pages have
    * a near-duplicate. Ids are dense 0..n-1; cluster ids are distinct, so
    * every singleton gets its own base text. */
  def sparseSpine(nPages: Int, seed: Long): Array[PageCorpus.Spine] = {
    val rng = new java.util.SplittableRandom(seed ^ 0x5ba5e1C0L)
    val out = new scala.collection.mutable.ArrayBuffer[PageCorpus.Spine](nPages)
    var cluster = 0L
    while (out.length < nPages) {
      val size = if (rng.nextDouble() < 0.048) 2 + rng.nextInt(4) else 1
      var v = 0
      while (v < size && out.length < nPages) {
        out += PageCorpus.Spine(out.length.toLong, cluster, v)
        v += 1
      }
      cluster += 1
    }
    out.toArray
  }

  /** Low-participation corpus built from the public spine/page generator;
    * pages are synthesized on the executors as PageCorpus.generate does. */
  def sparse(spark: SparkSession, nPages: Int, seed: Long): Corpus = {
    import spark.implicits._
    val spine = sparseSpine(nPages, seed)
    val parts = math.max(spark.sparkContext.defaultParallelism, 1)
    val pages = spark.createDataset(spine.toSeq).repartition(parts)
      .map(s => PageCorpus.makePage(seed, s))
    Corpus(cached(pages.toDF()), spine.map(s => (s.id, PageCorpus.makePage(seed, s).text)),
      participation(spine))
  }
}
