package graft.tools

import graft.operators.ConfScope
import graft.{Bench, SparkEntry}
import java.util.concurrent.{Semaphore, TimeUnit}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/**
 * The one measurement front-end over the frozen harness (`graft.Bench`'s
 * session and slices, `graft.SparkEntry.queries`):
 *
 * {{{
 * runMain graft.tools.Measure time    <sfDir> <cores> <reps>  <target...>
 * runMain graft.tools.Measure ab      <sfDir> <cores> <pairs> <key=valA|valB> <target...>
 * runMain graft.tools.Measure profile <sfDir> <cores> <target...>
 * runMain graft.tools.Measure plan    <sfDir> <cores> <query...>
 * }}}
 *
 * A target is a `SparkEntry.queries` name or a bench slice — `flagship`
 * (`Bench.pipelineSlice`), `pairs` / `full3` (`Bench.pairsSlice`) — on a
 * corpus of max(2000, 16 × documents) pages, the bench's size rule. Each
 * measured target runs once untimed first (JIT, codegen, corpus and aux
 * caches), and every run ends with `clearCache`. Times are seconds,
 * reported as min / quartiles / max: on a time-shared host one run is not
 * evidence. `plan` takes query names only — a slice builds and runs its
 * plans inside one `Bench` call.
 */
object Measure {

  private val Slices = Seq("flagship", "pairs", "full3")
  private val Usage = "usage: Measure time|ab|profile|plan <sfDir> <cores> ... (see scaladoc)"

  /** Task metrics summed over a job, a stage, or everything seen. The
    * columns attribute where task time goes: executor CPU, GC, shuffle
    * fetch wait, shuffle write time, and shuffle bytes read / written. */
  class Cost(val name: String) {
    var taskMs, cpuNs, gcMs, fetchWaitMs, writeNs, readBytes, writeBytes = 0L
    var tasks = 0
    def add(e: SparkListenerTaskEnd): Unit = {
      taskMs += e.taskInfo.duration
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        writeNs += m.shuffleWriteMetrics.writeTime
        readBytes += m.shuffleReadMetrics.totalBytesRead
        writeBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
    def taskSec: Double = taskMs / 1e3
    override def toString: String =
      f"task=$taskSec%8.2f s tasks=$tasks%5d cpu=${cpuNs / 1e9}%7.2f gc=${gcMs / 1e3}%5.2f " +
        f"fw=${fetchWaitMs / 1e3}%5.2f sw=${writeNs / 1e9}%5.2f " +
        f"srMB=${readBytes / 1e6}%7.1f swMB=${writeBytes / 1e6}%7.1f"
  }

  final class Job(name: String, val start: Long) extends Cost(name) {
    var end: Long = start
    val stages = mutable.LinkedHashMap[Int, Cost]()
    def wallSec: Double = (end - start) / 1e3
  }

  private val Marker = "graft-measure-drain"
  private val Description = "spark.job.description"

  /**
   * The profiling listener: folds task metrics by job and by stage, plus a
   * running total. Reads are deterministic only after [[drain]]: the bus
   * delivers events in post order, so once a marker job launched after the
   * measured work has ended, every event of that work has been folded —
   * late task-end events are never dropped. The marker's own tasks are not
   * counted.
   */
  final class Profiler(sc: SparkContext) extends SparkListener {
    val jobs = mutable.LinkedHashMap[Int, Job]()
    @volatile var total = new Cost("total")
    private val stageJob = mutable.HashMap[Int, Job]()
    private val markerJobs = mutable.HashSet[Int]()
    private val markerStages = mutable.HashSet[Int]()
    private val markersDone = new Semaphore(0)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties).flatMap(p => Option(p.getProperty(Description)))
      if (desc.contains(Marker)) {
        markerJobs += e.jobId
        markerStages ++= e.stageIds
      } else {
        val j = new Job(desc.orElse(e.stageInfos.lastOption.map(_.name)).getOrElse(""), e.time)
        jobs(e.jobId) = j
        e.stageInfos.foreach { si => stageJob(si.stageId) = j; j.stages(si.stageId) = new Cost(si.name) }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (markerJobs.remove(e.jobId)) markersDone.release()
      else jobs.get(e.jobId).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (!markerStages(e.stageId)) {
        total.add(e)
        stageJob.get(e.stageId).foreach { j => j.add(e); j.stages(e.stageId).add(e) }
      }

    /** Block until every listener event posted before this call is folded. */
    def drain(): Unit = {
      val prior = sc.getLocalProperty(Description)
      sc.setJobDescription(Marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(prior)
      require(markersDone.tryAcquire(60, TimeUnit.SECONDS), "listener bus never delivered the marker job")
    }

    /** [[drain]], then forget everything folded so far. */
    def reset(): Unit = {
      drain()
      jobs.clear(); stageJob.clear()
      total = new Cost("total")
    }
  }

  def attach(spark: SparkSession): Profiler = {
    val p = new Profiler(spark.sparkContext)
    spark.sparkContext.addSparkListener(p)
    p
  }

  /** Seconds covered by the union of the jobs' [start, end] intervals:
    * jobs that AQE runs at the same time overlap, so their walls do not
    * add up. */
  def jobSpanSec(jobs: Seq[Job]): Double =
    jobs.map(j => (j.start, j.end)).sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((ms, reach), (s, e)) =>
        (ms + math.max(0L, e - math.max(s, reach)), math.max(reach, e))
      }._1 / 1e3

  /** `head` with wall, job count, summed job walls, the time no job ran
    * (driver-serial work: wall minus [[jobSpanSec]]) and the total; then
    * each job in launch order, with its stages of at least 50 ms task time
    * below it. */
  def report(tag: String, head: String, wall: Double, p: Profiler): Unit = {
    val js = p.jobs.toSeq.sortBy(_._1)
    val jobWall = js.map(_._2.wallSec).sum
    println(f"$tag $head wall=$wall%.2f s jobs=${js.size} jobWallSum=$jobWall%.2f s " +
      f"betweenJobs=${wall - jobSpanSec(js.map(_._2))}%.2f s ${p.total}")
    js.foreach { case (id, j) =>
      println(f"$tag   job $id%4d wall=${j.wallSec}%7.2f s $j " +
        f"par=${j.taskSec / math.max(j.wallSec, 0.001)}%5.2f  ${j.name.take(80)}")
      j.stages.foreach { case (sid, s) =>
        if (s.taskMs >= 50) println(f"$tag     stage $sid%4d $s  ${s.name.take(80)}")
      }
    }
  }

  /** Min, quartiles and max, interpolating linearly between order
    * statistics — the median of an even count is the mean of the two
    * middle values. */
  final case class Stats(min: Double, q1: Double, median: Double, q3: Double, max: Double) {
    override def toString: String =
      f"min=$min%.2f q1=$q1%.2f med=$median%.2f q3=$q3%.2f max=$max%.2f"
  }
  def stats(xs: Seq[Double]): Stats = {
    require(xs.nonEmpty, "stats of no samples")
    val s = xs.sorted.toIndexedSeq
    def at(p: Double): Double = {
      val h = p * (s.size - 1)
      val i = h.toInt
      if (i + 1 < s.size) s(i) + (h - i) * (s(i + 1) - s(i)) else s(i)
    }
    Stats(s.head, at(0.25), at(0.5), at(0.75), s.last)
  }

  private def secs(xs: Seq[Double]): String = xs.map(x => f"$x%.2f").mkString("[", " ", "]")

  private def query(name: String) = SparkEntry.queries.getOrElse(name,
    throw new IllegalArgumentException(s"unknown query '$name'" +
      (if (Slices.contains(name)) " (plan takes query names, not slices)" else "")))

  /** One run of a target: (wall seconds, rows). A slice's wall is Bench's
    * measured region; corpus generation and caching sit outside it. */
  def target(spark: SparkSession, sfDir: String, name: String): () => (Double, Long) = {
    lazy val pages =
      math.max(2000, (spark.read.parquet(s"$sfDir/documents.parquet").count() * 16).toInt)
    def slice(r: => Bench.SliceRun): () => (Double, Long) = () => { val s = r; (s.wallSec, s.rows) }
    val run = name match {
      case "flagship" => slice(Bench.pipelineSlice(spark, pages))
      case "pairs" => slice(Bench.pairsSlice(spark, pages))
      case "full3" => slice(Bench.pairsSlice(spark, pages, allStages = true))
      case q =>
        val fn = query(q)
        () => {
          val t0 = System.nanoTime()
          val n = fn(spark, sfDir).count()
          ((System.nanoTime() - t0) / 1e9, n)
        }
    }
    () => try run() finally spark.catalog.clearCache()
  }

  /** Resolve each target, run it once untimed, then hand it to `body`. */
  private def eachWarm(spark: SparkSession, sfDir: String, names: Seq[String])(
      body: (String, () => (Double, Long)) => Unit): Unit = {
    require(names.nonEmpty, "no targets given")
    names.foreach { n => val t = target(spark, sfDir, n); t(); body(n, t) }
  }

  def time(spark: SparkSession, sfDir: String, reps: Int, names: Seq[String]): Unit =
    eachWarm(spark, sfDir, names) { (name, t) =>
      val runs = Seq.fill(reps)(t())
      println(f"[time] $name%-26s ${stats(runs.map(_._1))} rows=${runs.head._2} ${secs(runs.map(_._1))}")
    }

  /** Interleaved A/B of `key`: `pairs` pairs of runs, and the arm that runs
    * first alternates per pair, so drift over the session lands on both
    * arms. Each run sets its arm through `ConfScope.withConfs`, so the key's
    * prior state — a value or unset — is back after every run. Returns
    * each arm's samples. */
  def abRuns(spark: SparkSession, key: String, a: String, b: String, pairs: Int)(
      run: () => Double): (Seq[Double], Seq[Double]) =
    (0 until pairs).map { p =>
      def arm(v: String): Double = ConfScope.withConfs(spark, key -> v)(run())
      if (p % 2 == 0) { val x = arm(a); (x, arm(b)) }
      else { val y = arm(b); (arm(a), y) }
    }.unzip

  private val ArmSpec = "([^=]+)=([^|]*)\\|(.*)".r

  def ab(spark: SparkSession, sfDir: String, pairs: Int, spec: String, names: Seq[String]): Unit = {
    val (key, a, b) = spec match {
      case ArmSpec(k, a, b) => (k, a, b)
      case _ => throw new IllegalArgumentException(s"expected key=valA|valB, got '$spec'")
    }
    eachWarm(spark, sfDir, names) { (name, t) =>
      val (as, bs) = abRuns(spark, key, a, b, pairs)(() => t()._1)
      println(f"[ab] $name%-26s A($key=$a) ${stats(as)} | B($key=$b) ${stats(bs)} " +
        s"A=${secs(as)} B=${secs(bs)}")
    }
  }

  /** Per-job/per-stage decomposition of one warm run of each target. */
  def profile(spark: SparkSession, sfDir: String, names: Seq[String], p: Profiler): Unit =
    eachWarm(spark, sfDir, names) { (name, t) =>
      p.reset()
      val (wall, rows) = t()
      p.drain()
      report("[profile]", s"$name rows=$rows", wall, p)
    }

  def plan(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    require(names.nonEmpty, "no queries given")
    names.map(n => n -> query(n)).foreach { case (name, fn) =>
      println(s"===== $name =====")
      fn(spark, sfDir).explain("formatted")
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 4, Usage)
    val Array(cmd, sfDir, cores) = args.take(3)
    val rest = args.drop(3).toSeq
    val spark = Bench.makeSession(cores)
    try cmd match {
      case "time" => time(spark, sfDir, rest.head.toInt, rest.tail)
      case "ab" => ab(spark, sfDir, rest.head.toInt, rest(1), rest.drop(2))
      case "profile" => profile(spark, sfDir, rest, attach(spark))
      case "plan" => plan(spark, sfDir, rest)
      case _ => throw new IllegalArgumentException(Usage)
    } finally spark.stop()
  }
}
