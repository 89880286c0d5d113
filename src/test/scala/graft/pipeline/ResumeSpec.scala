package graft.pipeline

import graft.SparkSuite
import graft.config.GraftConfig
import graft.corpus.PageCorpus
import graft.functions.TextSignatures
import graft.io.ParquetTables
import java.nio.file.Files
import org.apache.spark.sql.types.{Metadata, MetadataBuilder, StructType}

/**
 * North-rule gate: "resumable from checkpoint" — a re-run skips completed
 * stages and produces byte-identical results; a killed-after-stage-k run
 * resumes from stage k+1.
 */
class ResumeSpec extends SparkSuite {

  val cfg = GraftConfig.default
  val stages = Seq("signatures", "candidates", "verified", "clusters")

  private def assignments(r: DedupPipeline.Result) =
    r.assignments.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def stamp(version: Long): Metadata =
    new MetadataBuilder().putLong(DedupPipeline.FormatKey, version).build()

  /** Rewrites a completed stage table with `meta` as its first column's
    * metadata (a format stamp, or none), keeping its rows and marker. */
  private def restamp(dir: String, name: String, meta: Metadata): Unit = {
    val t = new ParquetTables(spark, dir)
    val df = t.read(name)
    val schema = StructType(df.schema.head.copy(metadata = meta) +: df.schema.tail)
    t.write(spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), schema), name)
    t.markComplete(name)
  }

  /** A one-row `<name>_format` table: the stamp of the layout before it
    * moved into the stage table's schema. */
  private def formatTable(dir: String, name: String, version: Long): Unit = {
    val t = new ParquetTables(spark, dir)
    val spark2 = spark
    import spark2.implicits._
    t.write(Seq(version).toDF("format_version"), s"${name}_format")
    t.markComplete(s"${name}_format")
  }

  private def rmr(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmr)); f.delete()
  }

  /** Each stage's lineage rows sum to its table's row count, and lineage
    * names exactly the run's stages. */
  private def assertLineage(dir: String): Unit = {
    val sums = spark.read.parquet(s"$dir/lineage").groupBy("stage")
      .agg(org.apache.spark.sql.functions.sum("rows")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sums.keySet == stages.toSet, s"lineage stages: ${sums.keySet}")
    for (s <- stages)
      assert(sums(s) == spark.read.parquet(s"$dir/$s").count(), s"lineage rows of $s")
  }

  test("checkpointed run persists stages + lineage; resume skips completed stages") {
    val dir = Files.createTempDirectory("graft_ckpt").toString
    val (pages, _) = PageCorpus.generate(spark, 400, cfg.seed)
    val df = pages.toDF()

    val a1 = assignments(new DedupPipeline(spark, cfg, Some(dir)).run(df))

    // all stage outputs + markers + lineage exist
    for (stage <- stages) {
      assert(new java.io.File(s"$dir/$stage/_GRAFT_OK").exists(), s"$stage marker")
    }
    assert(new java.io.File(s"$dir/lineage").exists())
    val lineage = spark.read.parquet(s"$dir/lineage")
    assert(lineage.columns.toSet == Set("partition", "rows", "stage"))
    assertLineage(dir)

    // resume: delete the LAST stage's marker only — earlier stages must be
    // loaded, the deleted one recomputed, and results byte-identical
    new java.io.File(s"$dir/clusters/_GRAFT_OK").delete()
    val a2 = assignments(new DedupPipeline(spark, cfg, Some(dir)).run(df))
    assert(a2 == a1, "resumed run must match original exactly")
    // lineage describes the checkpoint as it stands: the recomputed stage
    // is counted once, not once per run
    assertLineage(dir)

    // full resume (all markers intact): instant stage loads, same output
    val a3 = assignments(new DedupPipeline(spark, cfg, Some(dir)).run(df))
    assert(a3 == a1)
  }

  test("runPairs is resumable: completed pairs table short-circuits the job") {
    val dir = Files.createTempDirectory("graft_ckpt_pairs").toString
    val (pages, _) = PageCorpus.generate(spark, 300, cfg.seed)
    val df = pages.toDF()
    val p1 = new DedupPipeline(spark, cfg, Some(dir))
      .runPairs(df, exact = true)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(new java.io.File(s"$dir/pairs/_GRAFT_OK").exists(), "pairs marker")
    assert(p1.nonEmpty)
    // resume proof: poison the checkpoint table (stamped with the current
    // format, as the pipeline writes it); the second run must READ it (skip
    // recomputation) and therefore return the poisoned content
    val spark2 = spark
    import spark2.implicits._
    Seq((-1L, -2L, 0.9, "minhash")).toDF("id1", "id2", "jaccard", "stage")
      .withMetadata("id1", stamp(TextSignatures.formatVersion))
      .write.mode("overwrite").parquet(s"$dir/pairs")
    new java.io.File(s"$dir/pairs/_GRAFT_OK").createNewFile()
    val p2 = new DedupPipeline(spark, cfg, Some(dir))
      .runPairs(df, exact = true)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p2 == Set((-1L, -2L)), "completed pairs stage must be loaded, not recomputed")
  }

  test("resume fails fast on a signature-format version mismatch") {
    val dir = Files.createTempDirectory("graft_ckpt_fmt").toString
    val (pages, _) = PageCorpus.generate(spark, 200, cfg.seed)
    val df = pages.toDF()
    new DedupPipeline(spark, cfg, Some(dir)).run(df).assignments.count()
    // the stamp rides in the stage table's own schema; no format table
    assert(spark.read.parquet(s"$dir/signatures").schema.head.metadata
      .getLong(DedupPipeline.FormatKey) == TextSignatures.formatVersion)
    assert(!new java.io.File(s"$dir/signatures_format").exists())
    // stale checkpoint from an older hash family: resume must refuse
    restamp(dir, "signatures", stamp(1L))
    val e = intercept[IllegalArgumentException] {
      new DedupPipeline(spark, cfg, Some(dir)).run(df).assignments.count()
    }
    assert(e.getMessage.contains("signature format"), e.getMessage)
    // pre-versioning checkpoint (no stamp, no format table): also refused
    restamp(dir, "signatures", Metadata.empty)
    val pre = intercept[IllegalArgumentException] {
      new DedupPipeline(spark, cfg, Some(dir)).run(df).assignments.count()
    }
    // the error says how to recover: delete the stage (or the whole
    // checkpoint) to recompute
    assert(pre.getMessage.contains("delete the checkpoint's 'signatures' stage directory"),
      pre.getMessage)
  }

  test("a checkpoint with a <stage>_format table (the older layout) resumes or fails fast") {
    val dir = Files.createTempDirectory("graft_ckpt_old").toString
    val (pages, _) = PageCorpus.generate(spark, 200, cfg.seed)
    val df = pages.toDF()
    val a1 = assignments(new DedupPipeline(spark, cfg, Some(dir)).run(df))
    // the older layout: unstamped signatures, the version in a format table
    restamp(dir, "signatures", Metadata.empty)
    formatTable(dir, "signatures", TextSignatures.formatVersion)
    // the later stages recompute from the unstamped signatures table
    for (s <- stages.tail) new java.io.File(s"$dir/$s/_GRAFT_OK").delete()
    val a2 = assignments(new DedupPipeline(spark, cfg, Some(dir)).run(df))
    assert(a2 == a1, "an old-layout checkpoint at the current format must resume")
    assert(!spark.read.parquet(s"$dir/signatures").schema.head.metadata
      .contains(DedupPipeline.FormatKey), "a completed stage is never rewritten")
    // the same layout from an older hash family: refused
    formatTable(dir, "signatures", 1L)
    val e = intercept[IllegalArgumentException] {
      new DedupPipeline(spark, cfg, Some(dir)).run(df).assignments.count()
    }
    assert(e.getMessage.contains("signature format 1 "), e.getMessage)
    // neither a stamp nor a format table: refused, with the recovery path
    rmr(new java.io.File(s"$dir/signatures_format"))
    val pre = intercept[IllegalArgumentException] {
      new DedupPipeline(spark, cfg, Some(dir)).run(df).assignments.count()
    }
    assert(pre.getMessage.contains("delete the checkpoint's 'signatures' stage directory"),
      pre.getMessage)
  }

  test("checkpointed and un-checkpointed runs agree") {
    val dir = Files.createTempDirectory("graft_ckpt2").toString
    val (pages, _) = PageCorpus.generate(spark, 300, cfg.seed + 1)
    val df = pages.toDF()
    val ck = new DedupPipeline(spark, cfg, Some(dir)).run(df)
      .assignments.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mem = new DedupPipeline(spark, cfg, None).run(df)
      .assignments.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ck == mem)
  }

  test("TableIO seam: a custom backend drives the pipeline, operators untouched") {
    // wrap ParquetTables with a call recorder — proves every stage/lineage
    // IO goes through the seam (so swapping in an Iceberg TableIO is a
    // one-class change, SURVEY.md S7)
    val dir = Files.createTempDirectory("graft_tio").toString
    val inner = new graft.io.ParquetTables(spark, dir)
    val reads = scala.collection.mutable.ArrayBuffer.empty[String]
    val writes = scala.collection.mutable.ArrayBuffer.empty[String]
    val recording = new graft.io.TableIO {
      def read(t: String) = { reads += t; inner.read(t) }
      def write(df: org.apache.spark.sql.DataFrame, t: String,
          mode: org.apache.spark.sql.SaveMode) = { writes += t; inner.write(df, t, mode) }
      def isComplete(t: String) = inner.isComplete(t)
      def markComplete(t: String) = inner.markComplete(t)
    }
    val (pages, _) = PageCorpus.generate(spark, 300, cfg.seed + 7)
    val df = pages.toDF()
    val viaSeam = new DedupPipeline(spark, cfg, tableIO = Some(recording)).run(df)
    val a1 = assignments(viaSeam)
    assert(stages.forall(writes.contains),
      s"stage writes must go through the seam: $writes")
    assert(reads.contains("signatures"), s"stage reads must go through the seam: $reads")
    // identical to the in-session run
    val plain = new DedupPipeline(spark, cfg).run(df)
    assert(a1 == assignments(plain))
  }
}
