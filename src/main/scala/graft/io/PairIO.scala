package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Record CSV source for the Cli (S1). */
object PairIO {

  /**
   * S1: record CSV scan with the reference's coercion semantics
   * (cli.py:34-49, utils.py:30-38): every column reads as string except
   * `id` — and `clusterField`, when given and present in the header —
   * which are coerced to long. A non-integer value in either column RAISES
   * at execution (Spark 4 ANSI cast), exactly like the reference's `int()`
   * ValueError; the error is made eager here so callers fail at scan time,
   * not deep inside a downstream join.
   */
  def readRecords(spark: SparkSession, path: String,
      clusterField: Option[String] = None, idCol: String = "id"): DataFrame = {
    val raw = spark.read.option("header", "true").csv(path)
    require(raw.columns.contains(idCol), s"record CSV must have an '$idCol' column")
    val withId = raw.withColumn(idCol, col(idCol).cast("long"))
    val coerced = clusterField match {
      case Some(cf) if raw.columns.contains(cf) =>
        withId.withColumn(cf, col(cf).cast("long"))
      case _ => withId
    }
    coerced
  }
}
