package dedupbench

import graft.io.{ParquetTables, TableIO}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** The engine's path-per-table parquet backend, with every call timed and
  * the bytes each write adds to the table directory counted. A `write`
  * runs the job that computes its DataFrame, so its time includes that
  * upstream work. */
final class TimedTableIO(spark: SparkSession, root: String) extends TableIO {
  private val inner = new ParquetTables(spark, root)
  var writeS = 0.0
  var readS = 0.0
  var isCompleteS = 0.0
  var markCompleteS = 0.0
  var writes = 0
  var bytesWritten = 0L

  private def timed[T](add: Double => Unit)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally add((System.nanoTime() - t0) / 1e9)
  }

  private def bytes(table: String): Long = {
    val p = new Path(s"$root/$table")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  override def read(table: String): DataFrame = timed(readS += _)(inner.read(table))

  override def write(df: DataFrame, table: String, mode: SaveMode): Unit = {
    val before = if (mode == SaveMode.Append) bytes(table) else 0L
    timed(writeS += _)(inner.write(df, table, mode))
    writes += 1
    bytesWritten += bytes(table) - before
  }

  override def isComplete(table: String): Boolean =
    timed(isCompleteS += _)(inner.isComplete(table))

  override def markComplete(table: String): Unit =
    timed(markCompleteS += _)(inner.markComplete(table))

  /** Remove a table's completion marker, as a killed run would leave it. */
  def dropMarker(table: String): Unit = {
    val ok = new Path(s"$root/$table/_GRAFT_OK")
    require(ok.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(ok, false),
      s"no completion marker for $table")
  }
}
