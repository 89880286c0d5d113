package graft

import graft.operators.ConfScope
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col

class GraftSqlBridgeSpec extends SparkSuite {

  /** Jobs started while `body` runs. Listener events arrive in post order,
    * so once a marker job run after `body` is seen, every job `body`
    * started has been counted. */
  private def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val marker = "graft-sql-bridge-spec-marker"
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!started.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(started.contains(marker), "marker job start was never delivered")
      started.size() - 1
    } finally sc.removeSparkListener(listener)
  }

  test("truncateLineage launches no job when the plan was already forced under AQE") {
    ConfScope.withConfs(spark, "spark.sql.adaptive.enabled" -> "true") {
      val df = spark.range(1000).groupBy((col("id") % 7).as("k")).count()
      assert(df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
      var cut: org.apache.spark.sql.DataFrame = null
      assert(jobsStartedBy { cut = GraftSqlBridge.truncateLineage(df) } == 0)
      // the cut is a leaf over the same rows
      assert(cut.queryExecution.logical.children.isEmpty)
      assert(cut.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    }
  }
}
