package graft.pipeline

import graft.SparkSuite
import graft.config.GraftConfig
import graft.corpus.PageCorpus
import java.nio.file.Files

/**
 * Job budget of the pipeline's entry calls: each Spark job is a fixed
 * latency (scheduling, task launch, a driver round trip) whatever its row
 * count, so the number of jobs a call launches is pinned from above. A
 * checkpointed run writes each stage once and builds its lineage in one
 * more job.
 */
class JobBudgetSpec extends SparkSuite {

  val cfg = GraftConfig.default

  /** Jobs launched while `body` runs, counted through a job group of its
    * own (AQE and broadcast threads inherit the caller's group). The status
    * store is fed in event order, so once a marker job started after
    * `body` is visible, every job of `body` is. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"job-budget-${java.util.UUID.randomUUID()}"
    def inGroup(g: String)(f: => Unit): Unit = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    inGroup(group)(body)
    inGroup(s"$group-marker")(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (sc.statusTracker.getJobIdsForGroup(s"$group-marker").isEmpty &&
      System.nanoTime() < deadline) Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(s"$group-marker").nonEmpty,
      "marker job start was never delivered")
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  private def corpus = PageCorpus.generate(spark, 400, cfg.seed)._1.toDF()

  private def runAndCollect(p: DedupPipeline, df: org.apache.spark.sql.DataFrame) =
    p.run(df).assignments.collect()

  test("checkpointed run and its resume stay within their job budgets") {
    val dir = Files.createTempDirectory("graft_budget").toString
    val df = corpus
    val fresh = jobsOf(runAndCollect(new DedupPipeline(spark, cfg, Some(dir)), df))
    assert(fresh <= 18, s"checkpointed run launched $fresh jobs")
    new java.io.File(s"$dir/clusters/_GRAFT_OK").delete()
    val resumed = jobsOf(runAndCollect(new DedupPipeline(spark, cfg, Some(dir)), df))
    assert(resumed <= 10, s"resume launched $resumed jobs")
  }

  test("a run without a checkpoint stays within its job budget") {
    val df = corpus
    val jobs = jobsOf(runAndCollect(new DedupPipeline(spark, cfg), df))
    assert(jobs <= 11, s"un-checkpointed run launched $jobs jobs")
  }

  test("runPairs stays within its job budget") {
    val df = corpus
    val jobs = jobsOf(new DedupPipeline(spark, cfg).runPairs(df).collect())
    assert(jobs <= 4, s"runPairs launched $jobs jobs")
  }

  test("checkpointed runPairs and its resume stay within their job budgets") {
    val dir = Files.createTempDirectory("graft_budget_pairs").toString
    val df = corpus
    val fresh = jobsOf(new DedupPipeline(spark, cfg, Some(dir)).runPairs(df).collect())
    assert(fresh <= 7, s"checkpointed runPairs launched $fresh jobs")
    // the completed pairs table short-circuits the whole job
    val resumed = jobsOf(new DedupPipeline(spark, cfg, Some(dir)).runPairs(df).collect())
    assert(resumed <= 3, s"runPairs resume launched $resumed jobs")
  }

  test("tokenJaccardPairs stays within its job budget") {
    val docs = corpus.withColumnRenamed("id", "doc_id")
    val jobs = jobsOf(graft.operators.Dedup.tokenJaccardPairs(docs, 0.2, ngram = 3).collect())
    assert(jobs <= 5, s"tokenJaccardPairs launched $jobs jobs")
  }

  test("minhashDupPairs stays within its job budget") {
    val docs = corpus.withColumnRenamed("id", "doc_id")
    val jobs = jobsOf(graft.operators.Dedup.minhashDupPairs(docs, cfg).collect())
    assert(jobs <= 10, s"minhashDupPairs launched $jobs jobs")
  }

  test("linkagePairs stays within its job budget") {
    import org.apache.spark.sql.functions.{col, lit, pmod, when}
    val tagged = corpus.withColumn("source",
      when(pmod(col("id"), lit(2)) === 0, "left").otherwise("right"))
    val jobs = jobsOf(graft.operators.Linkage.linkagePairs(tagged, cfg, "left").collect())
    assert(jobs <= 13, s"linkagePairs launched $jobs jobs")
  }
}
