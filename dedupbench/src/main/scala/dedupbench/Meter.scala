package dedupbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Cost of one measured span: driver wall time plus the task metrics of the
  * Spark jobs launched inside it. `gc` is the driver JVM's collection time
  * over the span (in local mode every task runs in that JVM, so the per-task
  * `jvmGCTime` would count one pause once per running task). */
final case class Cost(wall: Double, core: Double, cpu: Double, gc: Double,
    shuffleWriteMb: Double, shuffleReadMb: Double, jobs: Long) {
  def minus(o: Cost): Cost = Cost(
    (wall - o.wall).max(0), (core - o.core).max(0), (cpu - o.cpu).max(0),
    (gc - o.gc).max(0), (shuffleWriteMb - o.shuffleWriteMb).max(0),
    (shuffleReadMb - o.shuffleReadMb).max(0), (jobs - o.jobs).max(0))
}

object Cost {
  val zero: Cost = Cost(0, 0, 0, 0, 0, 0, 0)
}

/** Folds task metrics per Spark job group. A task is attributed to the
  * group of the first job that submitted its stage. */
final class GroupListener extends SparkListener {
  final class Totals {
    var taskMs = 0L; var cpuNs = 0L
    var shuffleWriteBytes = 0L; var shuffleReadBytes = 0L
    var jobs = 0L
  }
  private val totals = mutable.HashMap[String, Totals]()
  private val stageGroup = mutable.HashMap[Int, String]()
  private val jobGroup = mutable.HashMap[Int, String]()
  @volatile private var markerSeen = -1L

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    jobGroup(e.jobId) = g
    totals.getOrElseUpdate(g, new Totals).jobs += 1
    e.stageIds.foreach(s => if (!stageGroup.contains(s)) stageGroup(s) = g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).filter(_.startsWith(GroupListener.Marker))
      .foreach(g => markerSeen = markerSeen.max(g.drop(GroupListener.Marker.length).toLong))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = totals.getOrElseUpdate(stageGroup.getOrElse(e.stageId, ""), new Totals)
    t.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      t.cpuNs += m.executorCpuTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
    }
  }

  def get(group: String): Option[Totals] = synchronized(totals.get(group))

  private var markers = 0L
  /** Block until every event posted before this call has been folded: run
    * a one-task marker job and wait for its end event, which the listener
    * bus delivers after all earlier events of this listener's queue. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    markers += 1
    val prior = Option(sc.getLocalProperty("spark.jobGroup.id"))
    sc.setJobGroup(GroupListener.Marker + markers, "listener drain marker")
    try sc.parallelize(Seq(1), 1).count()
    finally prior match {
      case Some(g) => sc.setJobGroup(g, g)
      case None => sc.clearJobGroup()
    }
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (markerSeen < markers && System.nanoTime() < deadline) Thread.sleep(2)
    require(markerSeen >= markers, "listener bus did not drain within 30 s")
  }
}

object GroupListener {
  val Marker = "__drain_"
}

/** Runs a body under a fresh Spark job group and returns what it cost. */
final class Meter(spark: SparkSession, listener: GroupListener) {
  private var spans = 0L

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
  }

  def measure[T](name: String)(body: => T): (T, Cost) = {
    spans += 1
    val group = s"$name#$spans"
    val sc = spark.sparkContext
    val gc0 = gcMs()
    sc.setJobGroup(group, name)
    val t0 = System.nanoTime()
    val out = try body finally sc.clearJobGroup()
    val wall = (System.nanoTime() - t0) / 1e9
    val gc = (gcMs() - gc0) / 1e3
    listener.drain(spark)
    val cost = listener.get(group) match {
      case Some(t) => Cost(wall, t.taskMs / 1e3, t.cpuNs / 1e9, gc,
        t.shuffleWriteBytes / 1e6, t.shuffleReadBytes / 1e6, t.jobs)
      case None => Cost(wall, 0, 0, gc, 0, 0, 0)
    }
    (out, cost)
  }
}
