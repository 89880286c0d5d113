package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession across all suites (JVM-wide singleton). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session

  /** `body`'s result and the WARN messages logged to `logger` (or its
    * children; "" is the root logger) while it ran. */
  def warnings[T](logger: String)(body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val warns = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("warn-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(ev: LogEvent): Unit =
        if (ev.getLevel == org.apache.logging.log4j.Level.WARN)
          warns.add(ev.getMessage.getFormattedMessage)
    }
    appender.start()
    val l = LogManager.getContext(false).asInstanceOf[LoggerContext].getLogger(logger)
    l.addAppender(appender)
    val out = try body finally { l.removeAppender(appender); appender.stop() }
    (out, warns.toArray.map(_.toString).toSeq)
  }
}

object SparkSuite {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
