package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/**
 * Table-format seam (SURVEY.md §7; north rule "Iceberg tables"): the
 * pipeline and entry points read/write NAMED TABLES through this interface
 * instead of raw paths, so a production deployment swaps the storage
 * backend without touching any operator.
 *
 * The sandbox implementation is [[ParquetTables]] (path-per-table parquet +
 * a completion marker file). An Iceberg deployment implements the same four
 * methods with the catalog API:
 *
 * {{{
 * class IcebergTables(spark: SparkSession, db: String) extends TableIO {
 *   def read(t: String)              = spark.table(s"$db.$t")
 *   def write(df: DataFrame, t: String, mode: SaveMode) =
 *     df.writeTo(s"$db.$t").using("iceberg").createOrReplace()
 *   def isComplete(t: String)        = spark.catalog.tableExists(s"$db.$t")
 *   def markComplete(t: String)      = () // snapshot commit is atomic:
 *                                         // a visible table IS complete
 * }
 * }}}
 *
 * The marker split exists because plain parquet directories are not atomic:
 * a killed writer leaves a partial directory, so completion is a separate
 * `_GRAFT_OK` flag written AFTER the data. [[TableIO.checkpoint]] is the one
 * owner of that protocol (pipeline.DedupPipeline's stages, Cli's pairs);
 * transactional formats collapse both steps into the snapshot commit.
 */
trait TableIO {
  def read(table: String): DataFrame
  /** Every engine write replaces the table (`mode` is never set). */
  def write(df: DataFrame, table: String,
      mode: SaveMode = SaveMode.Overwrite): Unit
  /** True iff the table exists AND its write completed. */
  def isComplete(table: String): Boolean
  /** Flag a finished write (no-op for transactional backends). */
  def markComplete(table: String): Unit

  /** Resume contract: the completed table if there is one, else `compute`
    * written once, then marked complete, then read back. */
  final def checkpoint(table: String)(compute: => DataFrame): DataFrame = {
    if (!isComplete(table)) { write(compute, table); markComplete(table) }
    read(table)
  }
}

/**
 * Path-per-table parquet backend: table `t` lives at `root/t[suffix]`,
 * completion = `_GRAFT_OK` marker inside the directory.
 * `suffix` lets the same seam read the driver's `<table>.parquet` layouts.
 */
final class ParquetTables(spark: SparkSession, root: String,
    suffix: String = "") extends TableIO {

  private def path(table: String) = s"$root/$table$suffix"
  private def marker(table: String) = new org.apache.hadoop.fs.Path(s"${path(table)}/_GRAFT_OK")
  private def fs(p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def read(table: String): DataFrame =
    spark.read.parquet(path(table))

  override def write(df: DataFrame, table: String, mode: SaveMode): Unit =
    df.write.mode(mode).parquet(path(table))

  override def isComplete(table: String): Boolean = fs(marker(table)).exists(marker(table))

  override def markComplete(table: String): Unit =
    fs(marker(table)).create(marker(table), true).close()
}
