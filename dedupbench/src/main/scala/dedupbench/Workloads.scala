package dedupbench

import graft.config.GraftConfig
import graft.functions.TextSignatures.SigParts
import graft.operators._
import graft.pipeline.DedupPipeline
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

final case class Ctx(spark: SparkSession, cfg: GraftConfig, meter: Meter,
    workDir: String, cores: Int)

/** One untraced repetition: the cost of the measured call, its output, and
  * for the checkpointed workload the resume leg. */
final case class Rep(cost: Cost, output: Output, resumeS: Option[Double] = None,
    problems: Vector[String] = Vector.empty, io: Map[String, Double] = Map.empty)

/** Per-layer spans of one traced repetition. Each layer's output is
  * persisted and counted inside its span, so a span holds exactly that
  * layer's jobs. */
final class Trace(ctx: Ctx) {
  val costs = mutable.LinkedHashMap[String, Cost]()
  val rows = mutable.HashMap[String, Long]()
  val ratios = mutable.HashMap[String, Double]()
  private val cached = mutable.ArrayBuffer[DataFrame]()

  def layer(name: String)(df: => DataFrame): DataFrame = {
    val ((out, n), cost) = ctx.meter.measure(name) {
      val d = df.persist(StorageLevel.MEMORY_AND_DISK)
      (d, d.count())
    }
    cached += out
    costs(name) = cost
    rows(name) = n
    out
  }

  /** A span that is not a persisted DataFrame (the io layer). */
  def span(name: String, outRows: Long)(body: => Unit): Unit = {
    costs(name) = ctx.meter.measure(name)(body)._2
    rows(name) = outRows
  }

  def release(): Unit = cached.foreach(_.unpersist())
}

trait Workload {
  def name: String
  /** Pages at --scale 1. */
  def pages: Int
  def gate: Gate
  def corpus(spark: SparkSession, nPages: Int, seed: Long): Corpus =
    Corpora.dense(spark, nPages, seed)
  def reference(c: Corpus, cfg: GraftConfig): Reference = Reference.shingles(c.docs, cfg)
  /** The same pairs from a plain all-pairs loop (small corpora only). */
  def allPairs(c: Corpus, cfg: GraftConfig): Array[(Long, Long)] =
    Reference.bruteForceShingles(c.docs, cfg)
  def rep(ctx: Ctx, c: Corpus, first: Boolean): Rep
  /** Untimed repetitions on the measured corpus before the timed ones. */
  def warmReps: Int = 0
  /** The measured call alone, for the set-up's warm-up. */
  def warmup(ctx: Ctx, c: Corpus): Unit = rep(ctx, c, first = false)
  /** Returns the traced repetition's output for the correctness gate. */
  def traced(ctx: Ctx, c: Corpus, t: Trace): Output
}

object Workloads {

  val all: Seq[Workload] = Seq(DedupDense, PairsMinhash, DedupSparseCkpt, NgramExact)

  private[dedupbench] def scoredPairs(df: DataFrame): Array[(Long, Long, Double)] =
    df.select(col("id1"), col("id2"), col("jaccard")).collect().map(r =>
      (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue, r.getDouble(2)))

  private[dedupbench] def clusterMap(rows: Array[Row]): Map[Long, Long] =
    rows.iterator.map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue).toMap

  /** The physical-planning scope DedupPipeline applies to its own jobs on a
    * small local input, so traced layers plan as the pipeline does. */
  private def pipelineScope[T](ctx: Ctx, pages: DataFrame)(body: => T): T =
    ConfScope.withConfs(ctx.spark, "spark.sql.adaptive.enabled" -> "false") {
      ConfScope.smallInputScope(ctx.spark, pages)(body)
    }

  /** Salting, signatures, the enabled blocking stages and their union, as
    * DedupPipeline runs them; returns (salted input, signatures, candidates). */
  private def traceBlocking(ctx: Ctx, c: Corpus, t: Trace, parts: SigParts,
      simhash: Boolean, spans: Boolean): (DataFrame, DataFrame, DataFrame) = {
    val cfg = ctx.cfg
    val input = Salting.saltPagesByHost(c.pages, 8)
    val sigs = t.layer("signatures") {
      Signatures.compute(input, cfg, emitShingles = false, parts = parts)
    }
    val stages = mutable.ArrayBuffer[CandidateGen.Result]()
    val mh = CandidateGen.minhashStage(sigs, cfg, dedupe = false)
    stages += mh
    val blocked = mutable.ArrayBuffer(t.layer("blocking.minhash")(mh.candidates))
    if (simhash) {
      val sh = CandidateGen.simhashStage(sigs, cfg, dedupe = false)
      stages += sh
      blocked += t.layer("blocking.simhash")(sh.candidates)
    }
    if (spans) {
      val sp = CandidateGen.spanStage(sigs, cfg)
      stages += sp
      blocked += t.layer("blocking.span")(sp.candidates)
    }
    val cands = t.layer("blocking.union") {
      blocked.reduce(_ union _).groupBy("id1", "id2").agg(min("stage").as("stage"))
    }
    t.ratios("blocking.oversize_buckets") =
      stages.map(_.oversizeLog).reduce(_ union _).count().toDouble
    t.ratios("blocking.pairs_per_doc") = t.rows("blocking.union").toDouble / c.docs.length
    (input, sigs, cands)
  }

  /** Two-tier verify: tier 1 alone at the margin it filters at, then the full
    * verify; tier 2's self cost is the difference. */
  private def traceVerify(ctx: Ctx, c: Corpus, t: Trace, input: DataFrame,
      sigs: DataFrame, cands: DataFrame): DataFrame = {
    val cfg = ctx.cfg
    val th = cfg.simThreshold
    val margin = 3.5 * math.sqrt(th * (1 - th) / cfg.numPerm)
    val survivors = t.layer("verify.tier1") {
      JaccardVerify.verify(cands, sigs, cfg.copy(simThreshold = th - margin),
        estimate = true, packedEstimate = true)
    }
    val verified = t.layer("verify.full") {
      JaccardVerify.verify(cands, sigs, cfg,
        texts = Some(input.select(col("id"), col("text"))))
    }
    val nSurv = t.rows("verify.tier1").toDouble
    t.ratios("verify.tier1.survivor_rate") = nSurv / t.rows("blocking.union").max(1L)
    t.ratios("verify.tier2.keep_rate") = t.rows("verify.full") / nSurv.max(1.0)
    t.ratios("verify.tier2.participation") =
      survivors.select(col("id1").as("id")).union(survivors.select(col("id2").as("id")))
        .distinct().count().toDouble / c.docs.length
    verified
  }

  private def traceCluster(t: Trace, pages: DataFrame, pairs: DataFrame): DataFrame = {
    t.ratios("cc.edges") = pairs.count().toDouble
    val comps = t.layer("cc")(ConnectedComponents.components(pairs.select("id1", "id2")))
    t.layer("assign")(Clustering.assignAll(pages, comps, normalizeIds = false))
  }

  private def traceDedup(ctx: Ctx, c: Corpus, t: Trace): (Map[String, DataFrame], Output) =
    pipelineScope(ctx, c.pages) {
      val (input, sigs, cands) = traceBlocking(ctx, c, t, SigParts.all, simhash = true, spans = true)
      val verified = traceVerify(ctx, c, t, input, sigs, cands)
      val assign = traceCluster(t, c.pages.select("id"), verified)
      (Map("signatures" -> sigs, "candidates" -> cands, "verified" -> verified,
        "clusters" -> assign),
        Output(Some(scoredPairs(verified)), clusterMap(assign.collect())))
    }

  object DedupDense extends Workload {
    val name = "dedup_dense"
    val pages = 3000
    val gate = Gate(minRecall = 0.99, exactScores = true, minAgreement = 1.0)

    def rep(ctx: Ctx, c: Corpus, first: Boolean): Rep = {
      val ((res, assign), cost) = ctx.meter.measure("run") {
        val r = new DedupPipeline(ctx.spark, ctx.cfg).run(c.pages)
        (r, r.assignments.collect())
      }
      // the verified pairs are not kept by the pipeline: re-derive them for
      // the gate on the first repetition only, outside the timing
      val pairs = if (first) Some(scoredPairs(res.verified)) else None
      res.signatures.unpersist()
      Rep(cost, Output(pairs, clusterMap(assign)))
    }

    def traced(ctx: Ctx, c: Corpus, t: Trace): Output = traceDedup(ctx, c, t)._2
  }

  object PairsMinhash extends Workload {
    val name = "pairs_minhash"
    val pages = 6000
    // tier-1 estimate scores: pairs near the threshold fall either side of it
    val gate = Gate(minRecall = 0.95, exactScores = false, minAgreement = 0.95)

    private def output(c: Corpus, pairs: Array[(Long, Long, Double)]): Output =
      Output(Some(pairs), Reference.clustersOf(c.docs.map(_._1),
        pairs.iterator.map(p => (p._1, p._2))))

    def rep(ctx: Ctx, c: Corpus, first: Boolean): Rep = {
      val (rows, cost) = ctx.meter.measure("run") {
        new DedupPipeline(ctx.spark, ctx.cfg)
          .runPairs(c.pages, useSimhash = false, useSpans = false).collect()
      }
      Rep(cost, output(c, rows.map(r =>
        (r.getAs[Number]("id1").longValue, r.getAs[Number]("id2").longValue,
          r.getAs[Double]("jaccard")))))
    }

    def traced(ctx: Ctx, c: Corpus, t: Trace): Output = pipelineScope(ctx, c.pages) {
      val (_, sigs, cands) = traceBlocking(ctx, c, t, SigParts.minhashOnly,
        simhash = false, spans = false)
      val pairs = t.layer("verify.tier1") {
        JaccardVerify.verify(cands, sigs, ctx.cfg, estimate = true, packedEstimate = true)
      }
      t.ratios("verify.tier1.survivor_rate") =
        t.rows("verify.tier1").toDouble / t.rows("blocking.union").max(1L)
      output(c, scoredPairs(pairs))
    }
  }

  object DedupSparseCkpt extends Workload {
    val name = "dedup_sparse_ckpt"
    val pages = 3000
    val gate = Gate(minRecall = 0.99, exactScores = true, minAgreement = 1.0)

    override def corpus(spark: SparkSession, nPages: Int, seed: Long): Corpus =
      Corpora.sparse(spark, nPages, seed)

    private def pipeline(ctx: Ctx, dir: String, io: TimedTableIO) =
      new DedupPipeline(ctx.spark, ctx.cfg, checkpointDir = Some(dir), tableIO = Some(io))

    override def warmup(ctx: Ctx, c: Corpus): Unit = {
      val dir = s"${ctx.workDir}/ckpt"
      Files.delete(dir)
      pipeline(ctx, dir, new TimedTableIO(ctx.spark, dir)).run(c.pages).assignments.collect()
      Files.delete(dir)
    }

    def rep(ctx: Ctx, c: Corpus, first: Boolean): Rep = {
      val dir = s"${ctx.workDir}/ckpt"
      Files.delete(dir)
      val io = new TimedTableIO(ctx.spark, dir)
      val ((res, assign), cost) = ctx.meter.measure("run") {
        val r = pipeline(ctx, dir, io).run(c.pages)
        (r, r.assignments.collect())
      }
      val pairs = scoredPairs(res.verified)
      // resume leg: the last stage's completion marker is gone, as after a
      // run killed while writing it
      io.dropMarker("clusters")
      val resumeIo = new TimedTableIO(ctx.spark, dir)
      val (resumed, resumeCost) = ctx.meter.measure("resume") {
        pipeline(ctx, dir, resumeIo).run(c.pages).assignments.collect()
      }
      Files.delete(dir)
      val problems =
        if (clusterMap(resumed) == clusterMap(assign)) Vector.empty
        else Vector("resumed run assigned different clusters")
      Rep(cost, Output(Some(pairs), clusterMap(assign)), Some(resumeCost.wall), problems,
        Map("write_s" -> io.writeS, "read_s" -> io.readS,
          "is_complete_s" -> io.isCompleteS, "mark_complete_s" -> io.markCompleteS,
          "writes" -> io.writes.toDouble, "write_mb" -> io.bytesWritten / 1e6,
          "resume_read_s" -> resumeIo.readS))
    }

    def traced(ctx: Ctx, c: Corpus, t: Trace): Output = {
      val (stages, out) = traceDedup(ctx, c, t)
      val dir = s"${ctx.workDir}/ckpt-trace"
      Files.delete(dir)
      val io = new TimedTableIO(ctx.spark, dir)
      var readS = 0.0
      t.span("io", stages.valuesIterator.map(_.count()).sum) {
        stages.foreach { case (table, df) => io.write(df, table); io.markComplete(table) }
        val t0 = System.nanoTime()
        stages.keys.foreach(table => if (io.isComplete(table)) io.read(table).count())
        readS = (System.nanoTime() - t0) / 1e9
      }
      Files.delete(dir)
      t.ratios("io.write_mb") = io.bytesWritten / 1e6
      t.ratios("io.write_s") = io.writeS
      t.ratios("io.read_s") = readS
      t.ratios("io.write_amp") = io.bytesWritten.toDouble / c.textBytes
      out
    }
  }

  object NgramExact extends Workload {
    val name = "ngram_exact"
    val pages = 4000
    val threshold = 0.2
    val ngram = 3
    val gate = Gate(minRecall = 0.99, exactScores = true, minAgreement = 1.0)
    // the first repetitions at the measured size still speed up (JIT)
    override val warmReps = 2

    override def reference(c: Corpus, cfg: GraftConfig): Reference =
      Reference.wordNgrams(c.docs, ngram, threshold)
    override def allPairs(c: Corpus, cfg: GraftConfig): Array[(Long, Long)] =
      Reference.allPairsWordNgrams(c.docs, ngram, threshold)

    private def docs(c: Corpus) = c.pages.select(col("id").as("doc_id"), col("text"))

    def rep(ctx: Ctx, c: Corpus, first: Boolean): Rep = {
      val d = docs(c)
      val ((pairs, assign), cost) = ctx.meter.measure("run") {
        val p = Dedup.tokenJaccardPairs(d, threshold, ngram = ngram)
        val comps = ConnectedComponents.components(p.select("id1", "id2"))
        (p, Clustering.assignAll(d.select(col("doc_id").as("id")), comps,
          normalizeIds = false).collect())
      }
      Rep(cost, Output(Some(scoredPairs(pairs)), clusterMap(assign)))
    }

    def traced(ctx: Ctx, c: Corpus, t: Trace): Output = {
      val d = docs(c)
      val pairs = t.layer("setsim")(Dedup.tokenJaccardPairs(d, threshold, ngram = ngram))
      val assign = traceCluster(t, d.select(col("doc_id").as("id")), pairs)
      Output(Some(scoredPairs(pairs)), clusterMap(assign.collect()))
    }
  }
}

object Files {
  def delete(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(c => delete(c.getPath))
    f.delete()
  }
}
