package graft

import java.nio.file.Files

/** End-to-end CLI contract (reference entity_embed_predict shape,
  * cli.py:177-524): invoke run() against a temp CSV, assert the written
  * pairs / clusters / metrics tables. */
class CliSpec extends SparkSuite {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def writeCsv(dir: String, header: String, rows: Seq[String]): String = {
    val f = java.nio.file.Paths.get(dir, "in.csv")
    Files.writeString(f, (header +: rows).mkString("\n"))
    f.toString
  }

  test("dedup mode end-to-end: pairs + clusters + metrics written and correct") {
    val in = tmp("cli_in")
    val out = tmp("cli_out")
    val dupText = "the quick brown fox jumps over the lazy dog and keeps " +
      "going for quite a while longer than expected"
    val csv = writeCsv(in, "id,text,cluster", Seq(
      s"""1,"$dupText",10""",
      s"""2,"$dupText",10""",
      s"""3,"a completely different document about query engines",11""",
      s"""4,"another unrelated page mentioning shuffles and joins",12"""))
    Cli.run(spark, Cli.parseArgs(Array(
      "--mode", "dedup", "--input", csv, "--output", out,
      "--cluster-col", "cluster")))

    val pairs = spark.read.parquet(s"$out/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
    val clusters = spark.read.parquet(s"$out/clusters").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(clusters.keySet == Set(1L, 2L, 3L, 4L))
    assert(clusters(1L) == clusters(2L))
    assert(Set(clusters(1L), clusters(3L), clusters(4L)).size == 3)
    val m = spark.read.parquet(s"$out/metrics").collect().head
    assert(m.getAs[Long]("truePositives") == 1L)
    assert(m.getAs[Double]("precision") == 1.0)
    assert(m.getAs[Double]("recall") == 1.0)
  }

  test("dedup mode with field config: weighted multi-field pairs") {
    val in = tmp("cli_in2")
    val out = tmp("cli_out2")
    val csv = writeCsv(in, "id,title,body", Seq(
      """5,"acme anvil deluxe model","heavy duty anvil for all purposes"""",
      """6,"acme anvil deluxe model","heavy duty anvil for every purpose"""",
      """7,"completely different product","nothing shared with the others here""""))
    val fc = java.nio.file.Paths.get(in, "fields.json")
    Files.writeString(fc,
      """{"title": {"sig_type": "syntactic", "weight": 2.0},
         "body": {"sig_type": "semantic", "weight": 1.0}}""")
    Cli.run(spark, Cli.parseArgs(Array(
      "--mode", "dedup", "--input", csv, "--output", out,
      "--field-config", fc.toString, "--threshold", "0.6")))
    val pairs = spark.read.parquet(s"$out/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((5L, 6L)))
    assert(Files.exists(java.nio.file.Paths.get(out, "clusters")))
  }

  test("linkage mode: cross-source oriented pairs only") {
    val in = tmp("cli_in3")
    val out = tmp("cli_out3")
    val shared = "identical catalog description shared across both sources " +
      "word for word with enough length to shingle"
    val csv = writeCsv(in, "id,text,source", Seq(
      s"""20,"$shared",left""",
      s"""21,"$shared",right""",
      s"""22,"some other text entirely about nothing in particular",left"""))
    Cli.run(spark, Cli.parseArgs(Array(
      "--mode", "linkage", "--input", csv, "--output", out)))
    val pairs = spark.read.parquet(s"$out/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((20L, 21L))) // oriented: left id first
    assert(!Files.exists(java.nio.file.Paths.get(out, "clusters")))
  }

  test("linkage mode with --checkpoint-dir: pairs checkpointed, rerun reads them") {
    val in = tmp("cli_in3c")
    val out = tmp("cli_out3c")
    val ckpt = tmp("cli_ckpt3c")
    val shared = "identical catalog description shared across both sources " +
      "word for word with enough length to shingle"
    val csv = writeCsv(in, "id,text,source", Seq(
      s"""20,"$shared",left""", s"""21,"$shared",right"""))
    val args = Array("--mode", "linkage", "--input", csv, "--output", out,
      "--checkpoint-dir", ckpt)
    Cli.run(spark, Cli.parseArgs(args))
    val scopes = new java.io.File(ckpt).listFiles()
    assert(scopes != null && scopes.length == 1 && scopes.head.getName.startsWith("cfg_"))
    val t = new graft.io.ParquetTables(spark, scopes.head.getPath)
    assert(t.isComplete("pairs"))
    assert(t.read("pairs").collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((20L, 21L)))
    // replace the checkpointed pairs: the rerun must serve them, not recompute
    val spark2 = spark
    import spark2.implicits._
    t.write(Seq((7L, 8L, 0.5)).toDF("id1", "id2", "score"), "pairs")
    t.markComplete("pairs")
    Cli.run(spark, Cli.parseArgs(args))
    assert(spark.read.parquet(s"$out/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((7L, 8L)))
  }

  test("argument validation") {
    intercept[IllegalArgumentException](Cli.parseArgs(Array("--mode", "dedup")))
    intercept[IllegalArgumentException](
      Cli.parseArgs(Array("--bogus", "x", "--input", "i", "--output", "o")))
    intercept[IllegalArgumentException](Cli.parseArgs(
      Array("--mode", "wat", "--input", "i", "--output", "o")))
    // run is public too: an unknown mode fails before any input is read
    val e = intercept[IllegalArgumentException](Cli.run(spark,
      Cli.Args(mode = "wat", input = "/nonexistent/in.parquet", output = tmp("cli_bad_mode"))))
    assert(e.getMessage.contains("--mode wat"), e.getMessage)
  }

  test("--sweep without --cluster-col is rejected loudly (round-5 defect)") {
    // without ground truth the sweep would only LOWER the emission
    // threshold (writing pairs the user did not ask for) and the metrics
    // block would never run — must fail fast like --estimate misuse
    val tmp = java.nio.file.Files.createTempDirectory("graft_sweep_guard").toString
    val in = writeCsv(tmp, "id,text", Seq("1,aaa bbb ccc", "2,aaa bbb ccc"))
    val out = s"$tmp/out"
    val e = intercept[IllegalArgumentException] {
      Cli.run(spark, Cli.parseArgs(Array(
        "--mode", "dedup", "--input", in, "--output", out,
        "--threshold", "0.7", "--sweep", "0.3,0.5")))
    }
    assert(e.getMessage.contains("--cluster-col"), e.getMessage)
  }

  test("linkage metrics: oriented cross-source truth (right ids below left ids)") {
    // left-source ids are LARGER than right-source ids: oriented found
    // pairs (left_id, right_id) have id1 > id2, which a canonical
    // id1<id2 truth comparison would score as zero precision
    val in = tmp("cli_in4")
    val out = tmp("cli_out4")
    val shared = "identical catalog description shared across both sources " +
      "word for word with enough length to shingle"
    val csv = writeCsv(in, "id,text,source,cluster", Seq(
      s"""30,"$shared",right,7""",
      s"""41,"$shared",left,7""",
      s"""31,"unrelated text about something else entirely here",right,8""",
      s"""42,"more unrelated filler prose with no duplicates",left,9"""))
    Cli.run(spark, Cli.parseArgs(Array(
      "--mode", "linkage", "--input", csv, "--output", out,
      "--cluster-col", "cluster")))
    val pairs = spark.read.parquet(s"$out/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((41L, 30L))) // oriented: left id first, and larger
    val m = spark.read.parquet(s"$out/metrics").collect().head
    assert(m.getAs[Long]("positivePairs") == 1L,
      "truth must be cross-source pairs only (no intra-source expansion)")
    assert(m.getAs[Double]("precision") == 1.0)
    assert(m.getAs[Double]("recall") == 1.0)
  }

  test("CSV input honors --id-col; non-integral ids fail fast") {
    val in = tmp("cli_in5")
    val out = tmp("cli_out5")
    val csv = writeCsv(in, "doc_id,text", Seq(
      """50,"short document number one for id column handling"""",
      """51,"short document number two for id column handling""""))
    // custom id column works end-to-end
    Cli.run(spark, Cli.parseArgs(Array(
      "--mode", "dedup", "--input", csv, "--output", out,
      "--id-col", "doc_id")))
    assert(spark.read.parquet(s"$out/clusters").count() == 2)
    // UUID-ish ids (parquet input) are rejected with a renumbering hint,
    // not silently nulled / deep-join-errored
    val in2 = tmp("cli_in6")
    val csv2 = writeCsv(in2, "id,text", Seq("""rec-001,"some text""""))
    val parqDir = s"$in2/in_parq"
    spark.read.option("header", "true").csv(csv2).write.parquet(parqDir)
    val err = intercept[IllegalArgumentException] {
      Cli.run(spark, Cli.parseArgs(Array(
        "--mode", "dedup", "--input", parqDir, "--output", tmp("cli_out7"))))
    }
    assert(err.getMessage.contains("renumber"))
  }

  test("parquet input + --estimate: tier-1 scored pairs, checkpoint resume") {
    val in = tmp("cli_in8")
    val out = tmp("cli_out8")
    val ckpt = tmp("cli_ckpt8")
    val dupText = "the quick brown fox jumps over the lazy dog and keeps " +
      "going for quite a while longer than expected"
    val spark2 = spark
    import spark2.implicits._
    Seq((1L, dupText), (2L, dupText),
      (3L, "a completely different document about query engines"))
      .toDF("id", "text").write.parquet(s"$in/recs")
    val args = Array("--mode", "dedup", "--input", s"$in/recs",
      "--output", out, "--estimate", "--checkpoint-dir", ckpt)
    Cli.run(spark, Cli.parseArgs(args))
    val pairs = spark.read.parquet(s"$out/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
    // config-scoped checkpoint exists and a rerun resumes from it
    val cfgDirs = new java.io.File(ckpt).listFiles()
    assert(cfgDirs != null && cfgDirs.exists(_.getName.startsWith("cfg_")))
    Cli.run(spark, Cli.parseArgs(args)) // must not fail; serves the marker
    assert(spark.read.parquet(s"$out/pairs").count() == 1)
  }

  test("--estimate rejected outside plain dedup mode") {
    intercept[IllegalArgumentException] {
      Cli.run(spark, Cli.parseArgs(Array(
        "--mode", "linkage", "--input", "x.csv", "--output", "o",
        "--estimate")))
    }
  }

  test("linkage mode with field config: multi-field oriented pairs") {
    val in = tmp("cli_in9")
    val out = tmp("cli_out9")
    val csv = writeCsv(in, "id,title,body,source", Seq(
      """60,"acme anvil deluxe model","heavy duty anvil for all purposes",left""",
      """61,"acme anvil deluxe model","heavy duty anvil for every purpose",right""",
      """62,"acme anvil deluxe model","intra source twin must not appear",left""",
      """63,"completely different product","nothing shared with the others",right"""))
    val fc = java.nio.file.Paths.get(in, "fields.json")
    Files.writeString(fc,
      """{"title": {"sig_type": "syntactic", "weight": 2.0},
         "body": {"sig_type": "semantic", "weight": 1.0}}""")
    Cli.run(spark, Cli.parseArgs(Array(
      "--mode", "linkage", "--input", csv, "--output", out,
      "--field-config", fc.toString, "--threshold", "0.6")))
    val pairs = spark.read.parquet(s"$out/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // oriented (left, right); the intra-left twin (60,62) is excluded even
    // though its weighted score is far above threshold
    assert(pairs == Set((60L, 61L), (62L, 61L)))
    assert(!Files.exists(java.nio.file.Paths.get(out, "clusters")))
  }

  test("checkpoint scope keyed on field-config CONTENT: in-place edit recomputes") {
    val in = tmp("cli_in10")
    val out1 = tmp("cli_out10a")
    val out2 = tmp("cli_out10b")
    val ckpt = tmp("cli_ckpt10")
    // identical titles, disjoint bodies: weighted score is 2/3 under
    // weights (2,1) — above 0.6 — and 1/3 under (1,2) — below
    val csv = writeCsv(in, "id,title,body", Seq(
      """70,"acme anvil deluxe model","first body about nothing shared"""",
      """71,"acme anvil deluxe model","second body with different words""""))
    val fc = java.nio.file.Paths.get(in, "fields.json")
    Files.writeString(fc,
      """{"title": {"weight": 2.0}, "body": {"sig_type": "semantic", "weight": 1.0}}""")
    val args = (o: String) => Array("--mode", "dedup", "--input", csv,
      "--output", o, "--field-config", fc.toString, "--threshold", "0.6",
      "--checkpoint-dir", ckpt)
    Cli.run(spark, Cli.parseArgs(args(out1)))
    assert(spark.read.parquet(s"$out1/pairs").count() == 1)
    // edit the config IN PLACE (same path, new content): the rerun must
    // recompute under a fresh scope, not serve the stale (2,1)-weight pairs
    Files.writeString(fc,
      """{"title": {"weight": 1.0}, "body": {"sig_type": "semantic", "weight": 2.0}}""")
    Cli.run(spark, Cli.parseArgs(args(out2)))
    assert(spark.read.parquet(s"$out2/pairs").count() == 0,
      "stale-config checkpoint served: content edit must change the scope")
    val cfgDirs = new java.io.File(ckpt).listFiles()
      .filter(_.getName.startsWith("cfg_"))
    assert(cfgDirs.length == 2, "two distinct config scopes expected")
  }

  test("--cluster-col naming a missing column fails fast") {
    val in = tmp("cli_in11")
    val csv = writeCsv(in, "id,text", Seq(
      """80,"some document text for the missing column check""""))
    val err = intercept[IllegalArgumentException] {
      Cli.run(spark, Cli.parseArgs(Array(
        "--mode", "dedup", "--input", csv, "--output", tmp("cli_out11"),
        "--cluster-col", "clutser")))
    }
    assert(err.getMessage.contains("clutser"))
    assert(err.getMessage.contains("available"))
  }

  test("--sweep writes one metrics row per threshold") {
    val in = tmp("cli_in12")
    val out = tmp("cli_out12")
    val dupText = "the quick brown fox jumps over the lazy dog and keeps " +
      "going for quite a while longer than expected"
    val csv = writeCsv(in, "id,text,cluster", Seq(
      s"""90,"$dupText",1""",
      s"""91,"$dupText",1""",
      s"""92,"a completely different document about query engines",2"""))
    Cli.run(spark, Cli.parseArgs(Array(
      "--mode", "dedup", "--input", csv, "--output", out,
      "--cluster-col", "cluster", "--sweep", "0.3,0.5,0.7")))
    val m = spark.read.parquet(s"$out/metrics").collect()
      .map(r => r.getAs[Double]("threshold") ->
        (r.getAs[Long]("truePositives"), r.getAs[Double]("recall")))
      .toMap
    assert(m.keySet == Set(0.3, 0.5, 0.7))
    // the exact-dup pair (jaccard 1.0) is found at every swept threshold
    assert(m.values.forall { case (tp, rec) => tp == 1L && rec == 1.0 })
  }
}
