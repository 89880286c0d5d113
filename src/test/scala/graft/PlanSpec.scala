package graft

import graft.config.GraftConfig
import graft.operators._
import org.apache.spark.sql.functions._

/**
 * Physical-plan assertions — the "would this survive 100×" checks from
 * ARCHITECTURE.md, pinned so regressions in plan shape fail the build:
 *  - column pruning reaches the scan (signatures read only id+text),
 *  - predicate pushdown reaches the scan,
 *  - the bucket self-join reuses one exchange (no duplicate shuffle of the
 *    membership table),
 *  - no cartesian product anywhere in the flagship plan.
 */
class PlanSpec extends SparkSuite {
  import spark.implicits._

  val cfg = GraftConfig.default
  val docsPath = "/root/testdata/sf0.001/documents.parquet"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("signature projection prunes the scan to id+text (ReadSchema)") {
    val docs = spark.read.parquet(docsPath)
    val p = plan(Signatures.compute(docs, cfg, "doc_id", "text"))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"))
    assert(!readSchema.contains("lang") && !readSchema.contains("n_chars"),
      s"scan must not read unused columns: $readSchema")
  }

  test("filters push down into the parquet scan (PushedFilters)") {
    val docs = spark.read.parquet(docsPath).filter($"lang" === "en")
      .select("doc_id", "text")
    val p = plan(docs)
    assert(p.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]"), p)
  }

  test("bucket join: bounded exchange count; stats side broadcast at small scale") {
    val docs = spark.read.parquet(docsPath)
    val sigs = Signatures.compute(docs, cfg, "doc_id", "text")
    val m = sigs.select(col("id"), explode(col("band_keys")).as("bucket"))
    val r = BucketJoin.pairs(
      Seq(BucketJoin.Stage("minhash", m, BucketJoin.Star, 1)), cfg.maxBandBucket)
    r.pairs.collect() // let AQE finalize (runtime exchange reuse / broadcasts)
    val p = plan(r.pairs)
    // regression guard: the whole candidate-pair job must stay within its
    // shuffle budget — stats agg (x3 branches pre-AQE-reuse) + final distinct
    // budget: 3 stats-agg partials (pre-AQE-reuse branches), join-side
    // repartitions, final distinct — anything beyond 8 means a regression
    // added an unplanned wide exchange
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles <= 8, s"bucket join shuffle budget exceeded ($shuffles):\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("ReusedExchange"),
      s"small-scale stats join should broadcast or reuse:\n$p")
  }

  test("candidate generation: all stages in one window, bounded exchanges") {
    // planned as the pipeline plans it: AQE off, the small-input scope
    val docs = spark.read.parquet(docsPath)
    val (windows, shuffles, p) = ConfScope.aqeOff(spark) {
      ConfScope.smallInputScope(spark, docs) {
        val sigs = Signatures.compute(docs, cfg, "doc_id", "text")
        val ep = CandidateGen.all(sigs, cfg).candidates.queryExecution.executedPlan
        // both join sides read the one window (the b side through a reused
        // exchange): one distinct window plan for all stages (5 when each
        // stage ran its own bucket join)
        (ep.collect { case w: org.apache.spark.sql.execution.window.WindowExec =>
          w.canonicalized }.distinct.size,
          "Exchange hashpartitioning".r.findAllIn(ep.toString).size, ep.toString)
      }
    }
    assert(windows == 1, s"one window for all blocking stages, got $windows:\n$p")
    // the membership exchange and the pair groupBy's: 3 on this input (10
    // when each stage ran its own bucket join)
    assert(shuffles <= 9, s"candidate generation shuffle budget exceeded ($shuffles):\n$p")
  }

  test("flagship pipeline plan contains no cartesian product") {
    val (pages, _) = graft.corpus.PageCorpus.generate(spark, 200, cfg.seed)
    val sigs = Signatures.compute(pages.toDF(), cfg)
    val cands = CandidateGen.all(sigs, cfg).candidates
    // tier 2 scores from the texts, as DedupPipeline.run does
    val verified = JaccardVerify.verify(cands, sigs, cfg,
      texts = Some(pages.toDF().select(col("id"), col("text"))))
    val p = plan(verified)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // every kernel call runs inside whole-stage codegen (final AQE plan):
    // an interpreted fallback would reflect per row
    verified.collect()
    val calls = kernelCalls(verified.queryExecution.executedPlan, inCodegen = false)
    assert(calls.map(_._1).contains("TextShingleJaccard"), calls)
    assert(calls.forall(_._2), s"kernel call outside whole-stage codegen: $calls")
  }

  /** (kernel object, inside a WholeStageCodegenExec?) per plan node that
    * calls a graft.expressions kernel, descending into AQE query stages and
    * the plans of cached relations. */
  private def kernelCalls(p: org.apache.spark.sql.execution.SparkPlan,
      inCodegen: Boolean): Seq[(String, Boolean)] = {
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    import org.apache.spark.sql.execution._
    val here = p.expressions.flatMap(_.collect {
      case si: StaticInvoke if si.staticObject.getName.startsWith("graft.expressions.") =>
        (si.staticObject.getSimpleName.stripSuffix("$"), inCodegen)
    })
    val kids = p match {
      case a: adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan -> false)
      case q: adaptive.QueryStageExec => Seq(q.plan -> false)
      case w: WholeStageCodegenExec => Seq(w.child -> true)
      case i: InputAdapter => Seq(i.child -> false)
      case m: columnar.InMemoryTableScanExec => Seq(m.relation.cachedPlan -> false)
      case _ => p.children.map(_ -> inCodegen)
    }
    here ++ kids.flatMap { case (c, f) => kernelCalls(c, f) }
  }

  test("tokenJaccardPairs: the gram kernel runs in codegen, no lambda in any plan") {
    import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
    // planned as tokenJaccardPairs plans it (the pipeline regime), lazy:
    // the public form's localCheckpoint would hide the join plan
    val docs = spark.read.parquet(docsPath)
    val ep = ConfScope.pipelineScope(spark, docs) {
      CacheScope.run { s =>
        val pairs = SetSimJoin.joinFromTable(
          SetSimJoin.prefixTable(s, Dedup.wordNgrams(docs, 3)), 0.2)
        pairs.collect()
        pairs.queryExecution.executedPlan
      }
    }
    val calls = kernelCalls(ep, inCodegen = false)
    assert(calls.map(_._1).toSet == Set("WordNgramHashes", "JaccardSorted"), calls)
    assert(calls.forall(_._2), s"kernel call outside whole-stage codegen: $calls")
    // transform(...) / array_sort(...) evaluate an interpreted lambda per
    // element (CodegenFallback): none may remain, cached plans included
    def lambdas(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
      p.expressions.flatMap(_.collect { case h: HigherOrderFunction => h.prettyName }) ++
        (p match {
          case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            Seq(m.relation.cachedPlan)
          case _ => p.children
        }).flatMap(lambdas)
    assert(lambdas(ep).isEmpty, s"lambda functions in the plan: ${lambdas(ep)}\n$ep")
  }

  test("cosine LSH pairs + pairs-mode plans contain no cartesian product") {
    // lazy plans: the public forms eagerly checkpoint (cache hygiene),
    // which would collapse executedPlan to a checkpoint-RDD scan
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // t=0.85 is the LSH regime (predicted random-pair admission ~3%): the
    // bucket-join plan must hold with no cartesian anywhere
    CacheScope.run { s =>
      val p1 = plan(Ann.lshCosinePairsPlan(s, emb, 0.85).pairs)
      assert(!p1.contains("CartesianProduct") && !p1.contains("BroadcastNestedLoopJoin"), p1)
    }
    // t=0.5 is the documented weak regime (admission ~74%): the planner
    // must select the brute exact scan — LSH overhead prunes almost nothing
    CacheScope.run { s =>
      val p1b = plan(Ann.lshCosinePairsPlan(s, emb, 0.5).pairs)
      assert(p1b.contains("CartesianProduct") || p1b.contains("BroadcastNestedLoopJoin"),
        s"weak-regime cosine pairs should use the brute scan plan: $p1b")
    }
    CacheScope.run { s =>
      val p2 = plan(Ann.lshTopKPlan(s, emb, 3).pairs)
      assert(!p2.contains("CartesianProduct") && !p2.contains("BroadcastNestedLoopJoin"), p2)
    }
  }

  test("whole-stage codegen covers the signature projection") {
    val docs = spark.read.parquet(docsPath)
    val df = Signatures.compute(docs, cfg, "doc_id", "text")
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // scan -> UDF projection -> struct expansion fused into codegen id 1
    assert(formatted.contains("[codegen id : 1]"), formatted)
  }

  test("exactDupPairs keeps full text out of the candidate-join exchanges") {
    // AQE defers the physical plan and broadcast hides exchanges at this
    // tiny scale — force the shuffle form so the exchange payload is
    // inspectable (the 100 TB shape)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val exchanges = try {
      val docs = spark.read.parquet(docsPath)
      Dedup.exactDupPairs(docs).queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e.output.map(_.name)
      }
    } finally {
      spark.conf.unset("spark.sql.adaptive.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    // the hash self-join shuffles (id, h, len) only — any exchange carrying
    // the hash column must NOT also carry the text payload
    val hashExchanges = exchanges.filter(_.contains("h"))
    assert(hashExchanges.nonEmpty, s"expected a hash-keyed exchange: $exchanges")
    hashExchanges.foreach { cols =>
      assert(!cols.exists(c => c == "text" || c == "t" || c == "t1" || c == "t2"),
        s"text payload leaked into the candidate exchange: $cols")
    }
  }
}
