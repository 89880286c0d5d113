package graft.corpus

import graft.functions.Hashing
import graft.model.{IdPage, TruthRow}
import org.apache.spark.sql.{Dataset, SparkSession}
import java.sql.Timestamp

/**
 * Deterministic synthetic Common-Crawl-style page corpus with PLANTED
 * near-duplicate clusters (FIXTURES.md §1) — the engine's test/bench input
 * per BASELINE.json::input_hint (no external data, seed-derived, no
 * wall-clock).
 *
 * Shape mirrors the reference's fixtures: cluster sizes are Zipf-ish with
 * many singletons and a few large clusters (stratification of
 * entity_embed/data_utils/utils.py:96-110); duplicates are a base text under
 * seeded noise (token drop/swap/insert, whitespace jitter, boilerplate
 * header/footer); hosts are skewed (one hot host) to exercise salting/AQE.
 *
 * Scale design: the driver only materializes the (id, cluster, variant) spine
 * (3 longs per page); text synthesis happens distributed inside a map over a
 * Dataset, deterministic per (seed, cluster, variant).
 */
object PageCorpus {

  final case class Spine(id: Long, cluster: Long, variant: Int)

  private val vocab: Array[String] = {
    // Deterministic word list — hash-derived pseudo-words + common glue
    // words. Vocabulary size/diversity is a SCALE-REALISM knob: a tiny
    // syllable space makes every unrelated doc pair share char shingles at
    // ~LSH-knee similarity, which turns candidate generation quadratic —
    // unlike real web text, whose cross-document similarity is far below
    // any useful banding threshold. 24k words over 64 syllables keeps
    // unrelated-pair shingle Jaccard ≪ the 0.42 knee while planted
    // duplicates stay ≫ threshold.
    val glue = Array("the", "a", "of", "and", "to", "in", "is", "for", "on", "with",
      "data", "page", "site", "news", "home", "about", "contact", "search")
    val syll = Array(
      "ba", "co", "de", "fi", "ga", "hu", "ki", "lo", "ma", "ne",
      "po", "qua", "ri", "su", "ta", "ve", "wo", "xi", "yo", "zu",
      "bran", "cle", "drim", "fos", "gur", "hem", "jan", "kol", "lus", "mer",
      "nix", "ost", "pra", "rud", "sel", "tor", "ulm", "vin", "wex", "yat",
      "zeb", "ach", "bel", "cim", "dor", "eph", "fra", "gli", "hyn", "ilk",
      "jos", "kre", "lim", "mot", "nub", "ork", "pel", "quin", "rab", "sto",
      "tul", "urv", "vos", "wim")
    val derived = (0 until 24000).map { i =>
      val h = Hashing.mix64(wordSalt(i))
      val n = 2 + (h & 3).toInt // 2-5 syllables
      (0 until n).map(j => syll(((h >>> (j * 6 + 2)) & 63).toInt % syll.length)).mkString
    }
    glue ++ derived.distinct
  }
  private def wordSalt(i: Int): Long = 0x517e5eedL * (i + 1) // stable per-index salt

  /** Mildly Zipfian vocab draw: common words shared across docs (realistic),
    * tail words doc-specific. */
  private def drawWord(rng: Rng): String =
    vocab((math.pow(rng.nextDouble(), 1.7) * vocab.length).toInt.min(vocab.length - 1))

  /** xorshift-ish deterministic RNG stream keyed by arbitrary longs. */
  private final class Rng(seedParts: Long*) {
    private var s: Long = seedParts.foldLeft(0x9e3779b97f4a7c15L)(Hashing.mix2)
    def nextLong(): Long = { s = Hashing.mix64(s + 0x632be59bd9b4e019L); s }
    def nextInt(n: Int): Int = (((nextLong() >>> 1) % n).toInt)
    def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
  }

  /** Zipf-ish cluster size: ~55% singletons, tail up to 24. */
  private def clusterSize(rng: Rng): Int = {
    val u = rng.nextDouble()
    if (u < 0.55) 1
    else if (u < 0.80) 2
    else if (u < 0.92) 3 + rng.nextInt(3) // 3-5
    else if (u < 0.985) 6 + rng.nextInt(5) // 6-10
    else 11 + rng.nextInt(14) // heavy tail, 11-24
  }

  /** Driver-side spine: one row per page, ids dense 0..n-1. */
  def spine(nPages: Int, seed: Long): Array[Spine] = {
    val out = new scala.collection.mutable.ArrayBuffer[Spine](nPages)
    val rng = new Rng(seed, 0xc1057e2L)
    var cluster = 0L
    var id = 0L
    while (out.length < nPages) {
      val size = math.min(clusterSize(rng), nPages - out.length)
      var v = 0
      while (v < size) {
        out += Spine(id, cluster, v)
        id += 1; v += 1
      }
      cluster += 1
    }
    out.toArray
  }

  private def baseTokens(seed: Long, cluster: Long): Array[String] = {
    val rng = new Rng(seed, cluster, 0xba5eL)
    val n = 60 + rng.nextInt(140)
    Array.fill(n)(drawWord(rng))
  }

  private val boilerplates = Array(
    "cookie notice we use cookies to improve your experience accept decline",
    "subscribe to our newsletter enter your email address submit",
    "copyright all rights reserved terms of service privacy policy")

  /** Deterministic page text for (cluster, variant); variant 0 = base. */
  def makeText(seed: Long, cluster: Long, variant: Int): String = {
    val toks = scala.collection.mutable.ArrayBuffer.from(baseTokens(seed, cluster))
    if (variant > 0) {
      val rng = new Rng(seed, cluster, variant.toLong, 0x4011eL)
      // light seeded edit noise: ~4% of tokens touched — keeps char-shingle
      // jaccard of true dup pairs comfortably above the 0.6 threshold
      val nEdits = math.max(1, (toks.length * 0.04).toInt)
      var e = 0
      while (e < nEdits) {
        val op = rng.nextInt(3)
        val pos = rng.nextInt(toks.length)
        op match {
          case 0 => if (toks.length > 30) toks.remove(pos) // drop
          case 1 => toks.insert(pos, drawWord(rng)) // insert
          case _ => // swap adjacent
            if (pos + 1 < toks.length) {
              val t = toks(pos); toks(pos) = toks(pos + 1); toks(pos + 1) = t
            }
        }
        e += 1
      }
    }
    val rng2 = new Rng(seed, cluster, variant.toLong, 0xb017L)
    val header = if (rng2.nextDouble() < 0.4) boilerplates(rng2.nextInt(3)) + " " else ""
    val footer = if (rng2.nextDouble() < 0.4) " " + boilerplates(rng2.nextInt(3)) else ""
    header + toks.mkString(" ") + footer
  }

  private val hosts: Array[String] =
    "hot.example.com" +: (0 until 63).map(i => s"site$i.example.org").toArray

  /** Skewed host draw: the hot host takes ~30% of all pages. */
  def hostFor(seed: Long, id: Long): String = {
    val rng = new Rng(seed, id, 0x4057L)
    if (rng.nextDouble() < 0.30) hosts(0) else hosts(1 + rng.nextInt(hosts.length - 1))
  }

  def makePage(seed: Long, s: Spine): IdPage = {
    val text = makeText(seed, s.cluster, s.variant)
    val host = hostFor(seed, s.id)
    val url = s"https://$host/p/${s.cluster}/${s.variant}"
    val rng = new Rng(seed, s.id, 0x75L)
    val ts = new Timestamp(1700000000000L + (rng.nextLong() >>> 24))
    val others = Array("de", "es", "fr")
    val lang = if (rng.nextDouble() < 0.8) "en" else others(rng.nextInt(3))
    val html = s"<html><body><p>$text</p></body></html>".getBytes("UTF-8")
    IdPage(s.id, url, ts, html, text, lang)
  }

  /** Distributed corpus: Dataset[IdPage] + planted ground truth, one
    * partition per default-parallelism slot. */
  def generate(spark: SparkSession, nPages: Int,
      seed: Long = 42L): (Dataset[IdPage], Dataset[TruthRow]) = {
    import spark.implicits._
    val sp = spine(nPages, seed)
    val spineDs = spark.createDataset(sp.toIndexedSeq)
      .repartition(math.max(spark.sparkContext.defaultParallelism, 1))
    val pages = spineDs.map(s => makePage(seed, s))
    val truth = spark.createDataset(sp.toIndexedSeq.map(s =>
      TruthRow(s.id, s"https://${hostFor(seed, s.id)}/p/${s.cluster}/${s.variant}", s.cluster)))
    (pages, truth)
  }

  /** Driver-side corpus for unit tests / the brute-force oracle. */
  def generateLocal(nPages: Int, seed: Long = 42L): (Array[IdPage], Array[TruthRow]) = {
    val sp = spine(nPages, seed)
    (sp.map(s => makePage(seed, s)),
      sp.map(s => TruthRow(s.id, s"https://${hostFor(seed, s.id)}/p/${s.cluster}/${s.variant}", s.cluster)))
  }
}
