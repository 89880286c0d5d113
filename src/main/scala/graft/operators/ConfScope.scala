package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * The engine's one local planning policy, and the only engine code that
 * writes session confs. Spark's session-wide `spark.sql.shuffle.partitions`
 * and AQE re-planning are tuned for the BIG stages; an operator whose
 * stages are provably tiny pays pure scheduling latency for them. Every
 * scope here sets confs for the duration of a body and then restores the
 * PRIOR state — including "unset" (restoring a literal default would
 * silently pin a conf the session never set). The policy is fixed, not
 * user-tunable: its thresholds are the constants below.
 *
 * Three parts, each decided here only:
 *  - the small-input predicate: local mode and the input's size — plan
 *    statistics ([[sizeOf]]), or for SuffixSpans the doc count it has
 *    already taken;
 *  - the width rule `min(session, max(8, units / perPart + 1))` — the
 *    session width always wins ([[width]]);
 *  - the AQE-off scope ([[aqeOff]]).
 *
 * EAGER bodies only: a conf must be in force when the physical plan is
 * made, i.e. the body must materialize its result.
 */
object ConfScope {

  /** Pipeline AQE-off gate: 10M docs at >= 1 KB each (DedupPipeline.planningScope). */
  val AqeOffBytes: BigInt = BigInt(10000000L) * 1000
  /** Inputs up to this plan size get a right-sized width ([[smallInputScope]]). */
  val SmallJobBytes: Long = 64L << 20
  /** [[smallInputScope]] width target: input bytes per reduce partition. */
  val BytesPerPartition: Long = 2L << 20
  /** SuffixSpans' fast path runs up to this many docs (A/B at its call site). */
  val SpanFastPathDocs: Long = 40000L
  /** SuffixSpans' fast-path width target: docs per reduce partition. */
  val SpanDocsPerPartition: Long = 1500L
  /** ConnectedComponents' loop width target: edges per reduce partition. */
  val CcRowsPerPartition: Long = 500000L

  private val Aqe = "spark.sql.adaptive.enabled"
  private val Width = "spark.sql.shuffle.partitions"

  /** Evaluate `body` with `confs` set, then restore each key's prior state. */
  def withConfs[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    // conf.get falls back to the registered default, so it cannot distinguish
    // "explicitly set" from "defaulted"; conf.getAll holds only explicit sets
    val all = spark.conf.getAll
    val prior = confs.map { case (k, _) => k -> all.get(k) }
    try { confs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The width rule: `units / perPart + 1` partitions, floored at 8 so
    * per-group kernels keep real parallelism, then capped at the current
    * session width — a session narrower than 8 is never widened. */
  def width(spark: SparkSession, units: BigInt, perPart: Long): Int = {
    val session = spark.conf.get(Width).toInt
    (units / perPart + 1).max(BigInt(8)).min(BigInt(session)).toInt
  }

  /** AQE off for `body`, at `parts` shuffle partitions when given (the
    * current session width otherwise). */
  def aqeOff[T](spark: SparkSession, parts: Option[Int] = None)(body: => T): T =
    withConfs(spark, ((Aqe -> "false") +: parts.map(p => Width -> p.toString).toSeq): _*)(body)

  /** How the policy sees an input: NotLocal (a cluster session — session
    * confs stay as they are), Unknown (some plan leaf reports the
    * `spark.sql.defaultSizeInBytes` sentinel, e.g. a `createDataFrame(rdd)`
    * frame, so the plan size says nothing), or its plan-statistics Bytes. */
  private sealed trait Size
  private case object NotLocal extends Size
  private case object Unknown extends Size
  private final case class Bytes(n: BigInt) extends Size

  /** The small-input predicate's measure, from plan statistics (no job). */
  private def sizeOf(spark: SparkSession, input: DataFrame): Size =
    if (!spark.sparkContext.isLocal) NotLocal
    else {
      val plan = input.queryExecution.optimizedPlan
      val sentinel = spark.sessionState.conf.defaultSizeInBytes
      if (plan.collectLeaves().exists(_.stats.sizeInBytes >= sentinel)) Unknown
      else Bytes(plan.stats.sizeInBytes)
    }

  /**
   * Right-size shuffle width to a SMALL local input (round-6 finding): in
   * the bench session shape every map task opens one shuffle writer PER
   * REDUCE PARTITION (1 MB file buffer + zstd stream + file open ≈ 8 ms
   * each — microbenched by the TaskCost2 main, last in commit 24a9999), so
   * a 32-map × 32-reduce exchange costs ~8-10 core-SECONDS before it moves
   * a single row. A 64k-row groupBy measured 9.3 core-s / 0.52 s wall at 32
   * reduce partitions vs 1.8 core-s / 0.22 s at 4 — identical results. An
   * input whose plan size is at most [[SmallJobBytes]] therefore plans its
   * shuffles at [[width]]`(bytes, `[[BytesPerPartition]]`)` instead of the session's
   * cluster-sized default. A cluster session and an input of unknown size
   * run at the session width. AQE stays as configured — runtime coalescing
   * composes with a smaller initial width.
   */
  def smallInputScope[T](spark: SparkSession, input: DataFrame)(body: => T): T =
    sizeOf(spark, input) match {
      case Bytes(n) if n <= SmallJobBytes =>
        withConfs(spark, Width -> width(spark, n, BytesPerPartition).toString)(body)
      case _ => body
    }

  /** The pipeline regime (rationale at DedupPipeline.planningScope): a
    * local input of at most [[AqeOffBytes]] runs with AQE off and the
    * [[smallInputScope]] width. An input of unknown size also runs with AQE
    * off — the regime measured faster at every local size — but at the
    * session width, since there is no size to right-size to and counting
    * it would cost a job. Callers: DedupPipeline (every entry call) and
    * Dedup.tokenJaccardPairs, whose SetSimJoin stages are planned up front
    * instead of re-planned between stages. */
  def pipelineScope[T](spark: SparkSession, pages: DataFrame)(body: => T): T =
    sizeOf(spark, pages) match {
      case Unknown => aqeOff(spark)(body)
      case Bytes(n) if n <= AqeOffBytes => aqeOff(spark)(smallInputScope(spark, pages)(body))
      case _ => body
    }

  /** SuffixSpans' fast path: a local input of at most [[SpanFastPathDocs]]
    * docs (counted by the caller, which materializes it anyway) runs with
    * AQE off at [[width]]`(docs, `[[SpanDocsPerPartition]]`)`. */
  def spanScope[T](spark: SparkSession, docs: Long)(body: => T): T =
    if (spark.sparkContext.isLocal && docs <= SpanFastPathDocs)
      aqeOff(spark, Some(width(spark, docs, SpanDocsPerPartition)))(body)
    else body
}
