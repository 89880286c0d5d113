package graft.model

import java.sql.Timestamp

/**
 * Input row per BASELINE.json::input_hint — an Iceberg-shaped table of
 * Common-Crawl-style web pages with a stable numeric id (reference
 * Enumerator, data_utils/utils.py:13-14). `text` is the dedup payload and is
 * NEVER rewritten by any stage (per-row invariant: byte-identical extracted
 * text per url; derived columns only).
 *
 * Reference analog: `record_dict` rows (reference: entity_embed/cli.py:34-49),
 * string payload fields only (docs/guide/field_types.rst:9).
 */
final case class IdPage(
    id: Long,
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** Ground-truth row emitted by the synthetic corpus generator. */
final case class TruthRow(id: Long, url: String, cluster: Long)

/** Blocking metrics row (reference: evaluation.py:5-30). */
final case class PairMetrics(
    threshold: Double,
    truePositives: Long,
    foundPairs: Long,
    positivePairs: Long,
    precision: Double,
    recall: Double,
    f1: Double,
    pairEntityRatio: Double)
