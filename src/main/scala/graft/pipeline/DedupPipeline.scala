package graft.pipeline

import graft.config.GraftConfig
import graft.functions.TextSignatures
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

/**
 * The end-to-end near-duplicate detection + clustering pipeline — the
 * flagship query (reference: `predict_pairs` entity_embed/cli.py:429-524 →
 * clusters, End-to-End-Matching notebook):
 *
 *   pages ─ sig ─┬─ minhash LSH ──┐
 *                ├─ simhash ball ─┼─ union ─ jaccard verify ─ CC ─ clusters
 *                └─ span winnow ──┘
 *
 * Checkpoint/resume (north rule "resumable from checkpoint"): each stage
 * is written once, as Parquet under `checkpointDir/<stage>` plus a
 * `_GRAFT_OK` marker (TableIO.checkpoint); a re-run skips any stage whose
 * marker exists, so a killed job resumes from the last completed stage with
 * byte-identical results (everything downstream of the deterministic
 * signatures is deterministic).
 *
 * Lineage + metrics (north rule): one job per call replaces
 * `checkpointDir/lineage` with each stage table's per-partition row counts
 * (spark_partition_id aggregation); oversized blocking buckets (skew cap
 * hits) go to `checkpointDir/oversize` — no silent caps.
 *
 * Both entry points are eager and release their caches (CacheScope) on
 * return; a Result frame read afterwards recomputes (see [[Result]]).
 */
final class DedupPipeline(
    spark: SparkSession,
    cfg: GraftConfig = GraftConfig.default,
    checkpointDir: Option[String] = None,
    tableIO: Option[graft.io.TableIO] = None) {

  import DedupPipeline._

  /** All stage/lineage/metrics IO goes through the TableIO seam: explicit
    * `tableIO` wins; else `checkpointDir` selects path-per-table parquet;
    * else stages stay in-session (no resume). Swapping in an
    * Iceberg-backed TableIO touches nothing below this line. */
  private val io: Option[graft.io.TableIO] =
    tableIO.orElse(checkpointDir.map(d => new graft.io.ParquetTables(spark, d)))

  /** Engine-managed physical planning for the pipeline's own jobs
    * (ConfScope.pipelineScope): in LOCAL mode, for an input of at most
    * ConfScope.AqeOffBytes of plan statistics (10M docs at >= 1 KB each) or
    * of unknown size, AQE is turned off for the jobs that materialize
    * INSIDE the pipeline methods, and a small input also gets the
    * ConfScope.smallInputScope shuffle width. The gate reads plan
    * statistics, not a count() job, so a checkpoint-resume run does not
    * re-scan its input. Rationale (measured A/B, local[32], best-of-3
    * warm — pairs slice / flagship):
    *   80k pages: pairs 5.2 s AQE-off vs 12.6 s on; flagship 17.6 vs 20.4
    *   320k: pairs 14.0 vs 19.3        1M: pairs 59.3 vs 126.9
    * Every blocking join already carries its own skew handling (bucket
    * caps + salting), so in a single JVM — where every shuffle read is an
    * in-process memory/disk read — AQE's sequential per-exchange
    * re-planning plus a localCheckpoint interaction that re-executes
    * upstream stages is pure overhead: 1.2-2.1x wall at every size
    * measured, and 16% lower task-time too (139.6 vs 165.2 core-s for the
    * 120k-page flagship on one 1-core executor).
    *
    * DISTRIBUTED mode keeps AQE on — measured, not assumed: the identical
    * 120k-page job on 4 separate 1-core executor JVMs (standalone master,
    * spark-submit) costs 186.4 core-s with AQE vs 293.2 without, because
    * the runtime broadcast conversion eliminates cross-JVM exchanges whose
    * fetch waits land in task time (and whose I/O sensitivity made AQE-off
    * runs swing 778-1984 dps under identical confs). On a real cluster
    * those exchanges cross a network; AQE earns its keep exactly there. */
  private def planningScope[T](pages: DataFrame)(body: => T): T =
    ConfScope.pipelineScope(spark, pages)(body)

  /** Ingest salting (north rule "salted repartitioning for skewed hosts"):
    * a crawl partitioned by host makes the per-partition signature
    * projection wait on the hottest host's partition; the salted exchange
    * flattens the histogram. Purely physical — results are unchanged
    * (everything downstream re-shuffles on its own keys). */
  private def salted(pages: DataFrame): DataFrame =
    if (pages.columns.contains("url")) Salting.saltPagesByHost(pages, HostSalts)
    else pages

  /** pages(id, text, ...) → (id, cluster) for every input page. */
  def run(pages: DataFrame): Result = planningScope(pages) { CacheScope.run { s =>
    val input = salted(pages)
    val computed = stage("signatures", versioned = true)(Signatures.compute(input, cfg))
    // signatures feed 3 blocking stages + the tier-1 verify join: kept for
    // the call and lineage-cut (GraftSqlBridge.truncateLineage), unless the
    // checkpoint Parquet is already the leaf
    val sigs =
      if (io.isEmpty) org.apache.spark.sql.GraftSqlBridge.truncateLineageLocal(s.keep(computed))
      else computed
    // candidates/verified stay UN-persisted: each has one logical consumer,
    // and the one subtree Catalyst's broadcast chaining really does
    // re-execute (tier-1 survivors, which feed BOTH tier-2 joins) is cut
    // inside JaccardVerify instead. Round-6 A/Bs: persisting candidates on
    // top of that cut is a wash (flagship 5842/5916 vs 5569/6257 dps across
    // interleaved pairs); persisting verified was a measured LOSS
    // (q_pipeline_clusters 6.3 s vs 4.9 s — the cache write costs more
    // than the single CC consumer saves).
    val candStage = stage("candidates") {
      val r = CandidateGen.all(sigs, cfg)
      sideSink("oversize", r.oversizeLog)
      r.candidates
    }
    val verified = stage("verified") {
      JaccardVerify.verify(candStage, sigs, cfg,
        texts = Some(input.select(col("id"), col("text"))))
    }
    val assignments = stage("clusters") {
      val comps = ConnectedComponents.components(verified)
      Clustering.assignAll(pages.select("id"), comps)
    }
    lineage("signatures" -> sigs, "candidates" -> candStage,
      "verified" -> verified, "clusters" -> assignments)
    Result(sigs, candStage, verified, assignments)
  } }

  /**
   * Pairs-only mode — the work-equivalent of the reference's `predict_pairs`
   * console path (entity_embed/cli.py:429-524): embed each record
   * (here: deterministic signatures), search the index (here: the 3 blocking
   * stages), emit scored duplicate pairs at the threshold. NO clustering, NO
   * assignment writeback — exactly the record → pairs slice the reference's
   * 10,600 rec/s baseline measures.
   *
   * Scoring tier matches the reference's single-score shape: the tier-1
   * MinHash estimate over the packed 8-bit lanes is the final score
   * (`estimate = true`, the 100 TB mode; its ≤ (1−j)/256 one-sided bias is
   * documented in JaccardVerify). Pass `exact = true` for the two-tier
   * exact-Jaccard variant (what `run` uses).
   *
   * Stage flags select the blocking paths; the signature kernel computes
   * ONLY the families the enabled stages consume (SigParts — at 10^12 docs
   * you do not pay the SimHash token vote or the winnowing pass for a
   * MinHash-only job). `useMinhash = true, useSimhash = false,
   * useSpans = false` is the reference-predict work shape exactly: ONE
   * index per record (the reference searches one HNSW graph; the 3-stage
   * union is this engine's higher-recall extension).
   */
  def runPairs(pages: DataFrame, exact: Boolean = false,
      useMinhash: Boolean = true, useSimhash: Boolean = true,
      useSpans: Boolean = true): DataFrame = planningScope(pages) { CacheScope.run { s =>
    // checkpoint/resume at the output granularity (same marker contract as
    // the staged pipeline): a completed `pairs` table short-circuits the
    // whole job, and the parquet write IS the one materialization — no
    // localCheckpoint first (that would run the verify job twice).
    // Versioned: estimate-mode jaccard is format-dependent (see stage()).
    val out = stage("pairs", versioned = true) {
      val r = Dedup.signaturePairs(s, salted(pages), cfg, exact,
        useMinhash, useSimhash, useSpans)
      // no silent caps in pairs mode either: skew-cap hits land in the same
      // oversize sink run() uses (no-op without a checkpoint dir)
      sideSink("oversize", r.oversizeLog)
      r.pairs
    }
    lineage("pairs" -> out)
    if (io.isEmpty) out.localCheckpoint() else out
  } }

  /** Run a stage, or load it from checkpoint if already completed. Without
    * a checkpoint dir the stage is the body's lazy frame.
    *
    * `versioned = true`: the stage's VALUES depend on the signature hash
    * family (the signatures table; the estimate-mode pairs table, whose
    * jaccard is a minhash-lane agreement). The table then carries
    * TextSignatures.formatVersion in its schema ([[FormatKey]]), and a
    * resume against a checkpoint written by a different family fails fast
    * instead of silently mixing incompatible values (round-5 advisor
    * finding). A checkpoint from before schema stamps is checked through its
    * `<name>_format` table; with neither, the error names the stage
    * directory to delete to recompute. */
  private def stage(name: String, versioned: Boolean = false)(
      body: => DataFrame): DataFrame =
    io match {
      case None => body
      case Some(t) if versioned =>
        val fmt = TextSignatures.formatVersion.toLong
        val out = t.checkpoint(name) {
          val df = body
          df.withMetadata(df.columns.head, new MetadataBuilder()
            .withMetadata(df.schema.head.metadata).putLong(FormatKey, fmt).build())
        }
        val m = out.schema.head.metadata
        val stored =
          if (m.contains(FormatKey)) m.getLong(FormatKey)
          else if (t.isComplete(s"${name}_format")) t.read(s"${name}_format").head().getLong(0)
          else -1L
        require(stored == fmt,
          s"checkpointed '$name' was written with signature format " +
            (if (stored < 0) "unknown (a checkpoint from before format stamps)"
             else stored.toString) +
            s" but this engine computes format $fmt; resuming would mix " +
            "incompatible signature values. To recover, delete the " +
            s"checkpoint's '$name' stage directory (or the whole checkpoint " +
            "directory) and re-run to recompute it, or keep the jar that " +
            "wrote it")
        out
      case Some(t) => t.checkpoint(name)(body)
    }

  /** Side output (metrics/logs), written only under a checkpoint. */
  private def sideSink(name: String, df: DataFrame): Unit =
    io.foreach(_.write(df, name))

  /** Per-partition lineage: rows per partition of each stage, in one job. */
  private def lineage(stages: (String, DataFrame)*): Unit =
    io.foreach(_.write(stages.map { case (name, df) =>
      df.groupBy(spark_partition_id().as("partition"))
        .agg(count(lit(1)).as("rows"))
        .withColumn("stage", lit(name))
    }.reduce(_ union _), "lineage"))
}

object DedupPipeline {
  /** Salt buckets per host for the ingest exchange ([[DedupPipeline]]'s
    * `salted`). */
  val HostSalts = 8

  /** Metadata key of a versioned stage table's format stamp, on its first
    * column. */
  private[pipeline] val FormatKey = "graft_format"

  /** `run`'s stage tables. With a checkpoint each is read from its stage
    * table. Without one, `assignments` reads the materialized components,
    * and `signatures` (uncached: `unpersist()` is a no-op), `candidates` and
    * `verified` recompute from the pages. */
  final case class Result(
      signatures: DataFrame,
      candidates: DataFrame,
      verified: DataFrame,
      assignments: DataFrame)
}
