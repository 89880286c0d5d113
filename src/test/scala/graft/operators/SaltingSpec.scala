package graft.operators

import graft.SparkSuite
import graft.corpus.PageCorpus
import org.apache.spark.sql.functions._

/** Salted repartitioning vs the corpus's planted ~30% hot host. */
class SaltingSpec extends SparkSuite {

  test("salted repartition flattens the hot-host partition skew") {
    val (pages, _) = PageCorpus.generate(spark, 4000, 42L)
    val df = pages.toDF().cache()

    val host = Salting.hostOf(col("url"))
    val byHost = df.repartition(16, host)
    val skewRaw = Salting.maxPartitionShare(byHost)
    // the pipeline's local path: AQE off (with AQE on, runtime coalescing
    // folds this small input's salted partitions into one), the session's
    // shuffle width sets the partition count
    val skewSalted = ConfScope.aqeOff(spark, Some(16))(
      Salting.maxPartitionShare(
        Salting.saltedRepartition(df, host, col("id"), salts = 16)))
    info(f"max partition share: host-partitioned $skewRaw%.3f, salted $skewSalted%.3f")
    // the hot host (~30% of pages) bounds the unsalted layout
    assert(skewRaw >= 0.25, s"corpus hot host missing? raw skew $skewRaw")
    // salted: within 2x of perfectly uniform (1/16)
    assert(skewSalted <= 2.0 / 16, s"salting left skew $skewSalted")
    df.unpersist()
  }

  test("hostOf extracts the crawl partition key") {
    import spark.implicits._
    val got = Seq("https://hot.example.com/p/1/2", "http://a.io/x")
      .toDF("url").select(Salting.hostOf(col("url"))).as[String].collect()
    assert(got.toSeq == Seq("hot.example.com", "a.io"))
  }

  test("salting is deterministic (same input → same partition histogram)") {
    val (pages, _) = PageCorpus.generate(spark, 1000, 42L)
    val df = pages.toDF()
    def hist() = ConfScope.aqeOff(spark, Some(8))(
      Salting.saltedRepartition(df, Salting.hostOf(col("url")), col("id"), 8)
        .groupBy(spark_partition_id()).count().collect()
        .map(r => (r.getInt(0), r.getLong(1))).toMap)
    assert(hist() == hist())
  }
}
