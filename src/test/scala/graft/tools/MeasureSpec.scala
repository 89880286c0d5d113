package graft.tools

import graft.SparkSuite
import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/**
 * The measurement front-end: every subcommand on one small query, the A/B
 * methodology (alternating arm order, the key's prior state restored), the
 * median/quartile helper, the listener's per-job accounting, and that the
 * product does not depend on the tools package.
 */
class MeasureSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"
  private val Q = "q_vocab_count"
  private val Width = "spark.sql.shuffle.partitions"

  private def captured(body: => Unit): Seq[String] = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(buf, true, "UTF-8"))(body)
    buf.toString("UTF-8").linesIterator.toSeq
  }

  test("median of an even count is the mean of the two middle values") {
    assert(Measure.stats(Seq(4.0, 1.0, 3.0, 2.0)) == Measure.Stats(1.0, 1.75, 2.5, 3.25, 4.0))
    assert(Measure.stats(Seq(1.0, 9.0)).median == 5.0)
    assert(Measure.stats(Seq(7.0)) == Measure.Stats(7.0, 7.0, 7.0, 7.0, 7.0))
    assert(Measure.stats(Seq(5.0, 1.0, 3.0)).median == 3.0)
  }

  test("ab alternates which arm runs first in each pair") {
    val key = "graft.test.measure.order"
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    val (as, bs) = Measure.abRuns(spark, key, "a", "b", 3) { () =>
      seen += spark.conf.get(key); seen.size.toDouble
    }
    assert(seen == Seq("a", "b", "b", "a", "a", "b"))
    assert(as == Seq(1.0, 4.0, 5.0) && bs == Seq(2.0, 3.0, 6.0))
  }

  test("ab restores a key that was set and leaves an unset key unset") {
    val unset = "graft.test.measure.unset"
    assert(spark.conf.getOption(unset).isEmpty)
    Measure.abRuns(spark, unset, "x", "y", 2)(() => 0.0)
    assert(spark.conf.getOption(unset).isEmpty)
    assert(spark.conf.get(Width) == "4")
    Measure.abRuns(spark, Width, "2", "3", 2)(() => 0.0)
    assert(spark.conf.get(Width) == "4")
  }

  test("time, ab and plan each run on one small query") {
    val t = captured(Measure.time(spark, sf, 2, Seq(Q)))
    assert(t.exists(l => l.startsWith(s"[time] $Q") && l.contains("med=") && l.contains("rows=")), t)
    val ab = captured(Measure.ab(spark, sf, 2, s"$Width=2|3", Seq(Q)))
    assert(ab.exists(l => l.startsWith(s"[ab] $Q") && l.contains(s"A($Width=2)") &&
      l.contains(s"B($Width=3)")), ab)
    assert(spark.conf.get(Width) == "4")
    val p = captured(Measure.plan(spark, sf, Seq(Q)))
    assert(p.contains(s"===== $Q =====") && p.exists(_.contains("Physical Plan")), p)
    intercept[IllegalArgumentException](Measure.plan(spark, sf, Seq("flagship")))
    intercept[IllegalArgumentException](Measure.target(spark, sf, "q_no_such_query"))
  }

  test("profile: per-job task time sums to the listener total") {
    val prof = Measure.attach(spark)
    try {
      val out = captured(Measure.profile(spark, sf, Seq(Q), prof))
      assert(out.exists(_.startsWith(s"[profile] $Q rows=")), out)
      assert(out.exists(_.startsWith("[profile]   job ")), out)
      val jobs = prof.jobs.values.toSeq
      assert(jobs.nonEmpty && prof.total.tasks > 0)
      assert(jobs.map(_.taskMs).sum == prof.total.taskMs)
      assert(jobs.map(_.tasks).sum == prof.total.tasks)
      jobs.foreach(j => assert(j.stages.values.map(_.taskMs).sum == j.taskMs))
    } finally spark.sparkContext.removeSparkListener(prof)
  }

  test("betweenJobs is wall minus the union of job intervals, never negative") {
    // jobs [0, 3] s and [1, 4] s overlap, [6, 7] s follows a gap: the
    // walls sum to 7 s, but jobs cover only 5 s of a 10 s run
    def job(id: Int, start: Long, end: Long) = {
      val j = new Measure.Job(s"j$id", start); j.end = end; id -> j
    }
    val prof = new Measure.Profiler(spark.sparkContext)
    prof.jobs ++= Seq(job(0, 0L, 3000L), job(1, 1000L, 4000L), job(2, 6000L, 7000L))
    assert(Measure.jobSpanSec(prof.jobs.values.toSeq) == 5.0)
    val out = captured(Measure.report("[t]", "q", 10.0, prof))
    assert(out.head.contains("jobWallSum=7.00 s betweenJobs=5.00 s"), out)
  }

  test("no product code outside graft/tools references graft.tools") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (cwd ${new File(".").getAbsolutePath})")
    val offenders = Files.walk(root.toPath).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !p.toString.contains("graft/tools/"))
      .filter(p => Files.readString(p).contains("graft.tools"))
      .toSeq
    assert(offenders.isEmpty, offenders)
  }
}
