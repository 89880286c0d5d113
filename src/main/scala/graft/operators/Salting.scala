package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Salted repartitioning for skewed keys (north rule: "salted repartitioning
 * for skewed hosts"). A crawl corpus partitioned by host puts a hot host's
 * ~30% of all pages into one partition; every per-partition stage after the
 * exchange (signature projection, media decode) is then bounded by the
 * hottest host. Salting composes the repartition key with a deterministic
 * per-row salt so each key fans out over `salts` subpartitions — the
 * partition histogram flattens to ~uniform while rows of one (key, salt)
 * still co-locate (enough locality for per-host rate limiting / dedupe).
 *
 * The salt is derived from a row-unique column (xxhash64 % salts), never
 * rand(): results stay byte-deterministic across retries and re-runs (the
 * checkpoint/resume contract).
 */
object Salting {

  /** Host of a URL — the standard crawl partition key. */
  def hostOf(url: Column): Column =
    regexp_extract(url, "^[a-z]+://([^/]+)", 1)

  /** Repartition df over (key, salt) with salt = xxhash64(saltSource) %
    * salts, into spark.sql.shuffle.partitions partitions. */
  def saltedRepartition(df: DataFrame, key: Column, saltSource: Column,
      salts: Int): DataFrame = {
    require(salts >= 1, "salts must be >= 1")
    df.repartition(key, pmod(xxhash64(saltSource), lit(salts)))
  }

  /** Pages-table convenience: salt on host(url), seeded by the page id. */
  def saltPagesByHost(pages: DataFrame, salts: Int): DataFrame =
    saltedRepartition(pages, hostOf(col("url")), col("id"), salts)

  /** Max partition-size share of the total — the skew diagnostic the test
    * gates on (1/partitions = perfectly uniform; 0.3 = one hot host). */
  def maxPartitionShare(df: DataFrame): Double = {
    val counts = df.groupBy(spark_partition_id().as("p"))
      .agg(count(lit(1)).as("n"))
      .agg(max("n").as("mx"), sum("n").as("total")).head()
    counts.getLong(0).toDouble / counts.getLong(1)
  }
}
