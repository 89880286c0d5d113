package dedupbench

import graft.config.GraftConfig
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/**
 * One benchmark run: one workload, one seed, one JVM, a closed loop of
 * repetitions of the workload's call at local[cores].
 *
 * --trace 0 prints the end-to-end metrics, --trace 1 the per-layer metrics
 * of a traced repetition (plus untraced repetitions for the tracing
 * overhead). The last stdout line is the result object; the line before it
 * holds the run's provenance and per-repetition readings.
 */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      scale: Double, corrupt: Boolean, workDir: String, cores: Int)

  val SetupLegs = 3
  val MinReps = 2
  val MaxReps = 200
  val WarmupPages = 200
  val AllPairsMaxPages = 600
  val Layers = Seq("signatures", "blocking.minhash", "blocking.simhash", "blocking.span",
    "blocking.union", "verify.tier1", "verify.tier2", "cc", "assign", "io", "setsim")
  val LayerRatios = Seq("blocking.pairs_per_doc", "blocking.oversize_buckets",
    "verify.tier1.survivor_rate", "verify.tier2.keep_rate", "verify.tier2.participation",
    "cc.edges", "io.write_mb", "io.write_s", "io.read_s", "io.write_amp", "io.resume_s")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", m.getOrElse("scale", "1").toDouble, m.getOrElse("corrupt", "0") == "1",
      need("work-dir"), m.get("cores").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** CPU time the hypervisor gave to other guests, summed over all CPUs
    * (the `steal` column of /proc/stat, in 1/100 s). */
  private def stealS(): Double =
    scala.io.Source.fromFile("/proc/stat").getLines().take(1).toSeq.headOption
      .map(_.split("\\s+")).filter(_.length > 8).map(_(8).toDouble / 100).getOrElse(Double.NaN)

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def main(argv: Array[String]): Unit = {
    // JaccardVerify reads GRAFT_* knobs once at object init: a run with one
    // set would measure a different configuration than the one named
    val knobs = sys.env.keys.filter(_.startsWith("GRAFT_")).toSeq.sorted
    if (knobs.nonEmpty) {
      System.err.println(s"refusing to run with ${knobs.mkString(", ")} set")
      sys.exit(2)
    }
    val code = try run(parse(argv)) catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    sys.exit(code)
  }

  final case class Done(rep: Rep, verdict: Verdict, loadProbeMs: Double, memProbeMs: Double,
      stealS: Double)

  def run(a: Args): Int = {
    val w = Workloads.all.find(_.name == a.workload).getOrElse {
      System.err.println(s"unknown workload ${a.workload}; known: ${Workloads.all.map(_.name).mkString(", ")}")
      return 2
    }
    val nPages = math.max(50, (w.pages * a.scale).round.toInt)
    val cfg = GraftConfig.default
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    // set-up: session start plus the workload's call on a small corpus,
    // done SetupLegs times (a fresh session each); the first leg counts
    // from JVM start
    val legs = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    var ctx: Ctx = null
    for (leg <- 0 until SetupLegs) {
      val t0 = if (leg == 0) jvmStartMs else System.currentTimeMillis()
      if (spark != null) spark.stop()
      spark = graft.Bench.makeSession(a.cores.toString)
      val listener = new GroupListener
      spark.sparkContext.addSparkListener(listener)
      ctx = Ctx(spark, cfg, new Meter(spark, listener), a.workDir, a.cores)
      val warm = w.corpus(spark, WarmupPages, a.seed + 1000003L)
      w.warmup(ctx, warm)
      warm.release()
      legs += (System.currentTimeMillis() - t0) / 1e3
    }
    graft.Bench.loadProbeMs(); graft.Bench.memProbeMs()

    val tPrep = System.nanoTime()
    val corpus = w.corpus(spark, nPages, a.seed)
    val prepS = (System.nanoTime() - tPrep) / 1e9
    val tRef = System.nanoTime()
    val ref = w.reference(corpus, cfg)
    val refS = (System.nanoTime() - tRef) / 1e9
    // on a small corpus, cross-check the filtered reference join against
    // a plain all-pairs loop
    val crossChecked = nPages <= AllPairsMaxPages
    val referenceAgrees = !crossChecked || w.allPairs(corpus, cfg).toSeq == ref.pairs.toSeq

    val warmRepS = (1 to w.warmReps).map(_ => w.rep(ctx, corpus, first = false).cost.wall)

    val done = mutable.ArrayBuffer[Done]()
    val errors = mutable.ArrayBuffer[String]()
    if (!referenceAgrees) errors += "reference join disagrees with the all-pairs loop"
    val traces = mutable.ArrayBuffer[(Trace, Double)]()
    var attempted = 0

    def check(out: Output, extra: Vector[String]): Verdict = {
      val v = Check(ref, if (a.corrupt) Check.corrupt(ref, out) else out, w.gate)
      v.copy(problems = v.problems ++ extra)
    }

    def untraced(until: Long, minReps: Int): Unit =
      while ((done.size < minReps || System.nanoTime() < until) && attempted < MaxReps) {
        attempted += 1
        val probe = graft.Bench.loadProbeMs()
        val mem = graft.Bench.memProbeMs()
        try {
          val steal0 = stealS()
          val r = w.rep(ctx, corpus, first = done.isEmpty)
          done += Done(r, check(r.output, r.problems), probe, mem, stealS() - steal0)
        } catch {
          case e: Exception =>
            errors += s"${e.getClass.getName}: ${e.getMessage}".take(500)
            if (errors.size >= 3) return
        }
      }

    val t0 = System.nanoTime()
    val runNs = (a.seconds * 1e9).toLong
    var traceVerdicts = Vector.empty[Verdict]
    if (!a.trace) untraced(t0 + runNs, MinReps)
    else {
      untraced(t0 + runNs / 2, 2)
      val until = System.nanoTime().max(t0 + runNs)
      while ((traces.isEmpty || System.nanoTime() < until) && attempted < MaxReps &&
          errors.size < 3) {
        attempted += 1
        val tr = new Trace(ctx)
        try {
          val s = System.nanoTime()
          val out = w.traced(ctx, corpus, tr)
          traces += ((tr, (System.nanoTime() - s) / 1e9))
          traceVerdicts :+= check(out, Vector.empty)
        } catch {
          case e: Exception => errors += s"${e.getClass.getName}: ${e.getMessage}".take(500)
        } finally tr.release()
      }
    }

    val verdicts = done.map(_.verdict) ++ traceVerdicts
    val failed = errors.size + verdicts.count(!_.ok)
    val kdocs = nPages / 1000.0
    val walls = done.map(_.rep.cost.wall).toSeq

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("docs_per_s", median(walls.map(nPages / _)), "1/s"),
        ("cpu_s_per_kdoc", median(done.map(_.rep.cost.cpu / kdocs).toSeq), "s"),
        ("setup_s", median(legs.toSeq), "s"),
        ("peak_rss_mb", peakRssMb(), "MB"),
        ("pair_recall", median(verdicts.flatMap(_.recall).toSeq), "ratio"),
        ("cluster_agreement", median(verdicts.map(_.agreement).toSeq), "ratio"))
      else layerMetrics(traces.toSeq, median(walls), a.cores,
        median(done.flatMap(_.rep.resumeS).toSeq))

    val detail = Json.obj(
      "workload" -> w.name, "seed" -> a.seed, "pages" -> nPages, "trace" -> a.trace,
      "corrupt" -> a.corrupt, "nproc" -> a.cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6,
      "setup_legs_s" -> legs.toSeq, "corpus_prep_s" -> prepS, "reference_s" -> refS,
      "warm_reps_s" -> warmRepS,
      "participation" -> Json.obj("planted" -> corpus.plantedParticipation,
        "measured" -> ref.participation),
      "reference_pairs" -> ref.pairs.length, "reference_cross_checked" -> crossChecked,
      "error_rate" -> failed.toDouble / attempted.max(1),
      "core_s_per_kdoc" -> median(done.map(_.rep.cost.core / kdocs).toSeq),
      "errors" -> errors.toSeq,
      "problems" -> verdicts.flatMap(_.problems).distinct.take(20).toSeq,
      "reps" -> done.map { d =>
        Json.obj("wall_s" -> d.rep.cost.wall, "core_s" -> d.rep.cost.core,
          "cpu_s" -> d.rep.cost.cpu, "gc_s" -> d.rep.cost.gc, "jobs" -> d.rep.cost.jobs,
          "resume_s" -> d.rep.resumeS, "load_probe_ms" -> d.loadProbeMs,
          "mem_probe_ms" -> d.memProbeMs, "steal_s" -> d.stealS, "io" -> d.rep.io,
          "ok" -> d.verdict.ok)
      }.toSeq,
      "traced_total_s" -> traces.map(_._2).toSeq,
      "spark_conf" -> spark.conf.getAll.filter(_._1.startsWith("spark.")).toSeq.sortBy(_._1).toMap,
      "graft_env" -> Seq.empty[String])
    println(Json(Json.obj("detail" -> detail)))
    println(Json(Json.obj(
      "correct" -> (failed == 0 && attempted > 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Json.obj("value" -> v, "unit" -> u) }
        .to(scala.collection.immutable.ListMap))))
    spark.stop()
    0
  }

  /** Per-layer fields, medians over the traced repetitions. Tier 2 has no
    * span of its own: its cost is the full verify's minus tier 1's. */
  def layerMetrics(traces: Seq[(Trace, Double)], untracedWall: Double, cores: Int,
      resumeS: Double): Seq[(String, Double, String)] = {
    def costOf(t: Trace, layer: String): Cost = layer match {
      case "verify.tier2" => t.costs.get("verify.full")
        .map(_.minus(t.costs.getOrElse("verify.tier1", Cost.zero))).getOrElse(Cost.zero)
      case l => t.costs.getOrElse(l, Cost.zero)
    }
    def rowsOf(t: Trace, layer: String): Double =
      t.rows.getOrElse(if (layer == "verify.tier2") "verify.full" else layer, 0L).toDouble
    def med(f: Trace => Double) = median(traces.map(x => f(x._1)))
    val perLayer = Layers.flatMap { l =>
      Seq(
        (s"$l.wall_s", med(costOf(_, l).wall), "s"),
        (s"$l.core_s", med(costOf(_, l).core), "s"),
        (s"$l.cpu_s", med(costOf(_, l).cpu), "s"),
        (s"$l.gc_s", med(costOf(_, l).gc), "s"),
        (s"$l.shuffle_write_mb", med(costOf(_, l).shuffleWriteMb), "MB"),
        (s"$l.shuffle_read_mb", med(costOf(_, l).shuffleReadMb), "MB"),
        (s"$l.rows_out", med(rowsOf(_, l)), "count"),
        (s"$l.idle_core_s", med { t => val c = costOf(t, l); cores * c.wall - c.core }, "s"))
    }
    val units = Map("blocking.oversize_buckets" -> "count", "cc.edges" -> "count",
      "io.write_mb" -> "MB", "io.write_s" -> "s", "io.read_s" -> "s", "io.resume_s" -> "s")
    val ratios = LayerRatios.map { r =>
      val v = if (r == "io.resume_s") (if (resumeS.isNaN) 0.0 else resumeS)
        else med(_.ratios.getOrElse(r, 0.0))
      (r, v, units.getOrElse(r, "ratio"))
    }
    val total = median(traces.map(_._2))
    val spanWall = med(_.costs.valuesIterator.map(_.wall).sum)
    perLayer ++ ratios ++ Seq(
      ("trace.overhead", total / untracedWall, "ratio"),
      ("trace.span_coverage", spanWall / total, "ratio"))
  }
}

/** Minimal JSON rendering for the result lines. */
object Json {
  final class Obj(val fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = new Obj(fields)

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case o: Obj => o.fields.map { case (k, x) => s"${str(k)}: ${render(x)}" }.mkString("{", ", ", "}")
    case m: collection.Map[_, _] => render(new Obj(m.toSeq.map { case (k, x) => (k.toString, x) }))
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def apply(o: Obj): String = render(o)
}
