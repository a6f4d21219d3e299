package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.scale.Banding

/** Streaming NEAR-dup gate against a FROZEN corpus index — the
  * incremental-ingest complement of [[DedupProcessor]] (which dedups the
  * stream against itself, exactly): every incoming document is checked
  * for simhash proximity to yesterday's corpus, the shape a daily
  * crawl-delta pipeline runs (the batch twin is `Dedup.incrementalDedup`,
  * q154).
  *
  * The machinery — layout config, grouped (band, key) candidate index,
  * per-row flag fold — lives in [[graft.scale.Banding]] since round 15,
  * shared with the batch near-dup audits (cross-modal consensus, fuzzy
  * contamination); this object keeps the streaming-facing surface and
  * forwards. The stream side is `bands` stream-static equi-joins (each
  * 1:1 after the grouping) plus a per-row fold over the merged
  * candidates: no stream-side state, no aggregation, append-safe,
  * composable with the curation counter processor.
  *
  * Scale: per-(band, key) candidate lists grow with corpus over
  * 2^bandBits buckets per band — when a cell outgrows a task, widen the
  * fingerprint and the band key together: [[Banding.wide64]] runs the
  * 64-bit kernel with 16-bit keys (65k buckets/band, 256× the default's
  * spread) at the same `bands` = 4 pigeonhole. The static side is
  * re-read per micro-batch; checkpoint the index DataFrame
  * (`localCheckpoint`).
  */
object NearDupGate {
  val Bands: Int = Banding.Bands
  val BandBits: Int = Banding.BandBits

  /** The shared banding layout — see [[graft.scale.Banding.Config]]. */
  type Config = Banding.Config
  val Config = Banding.Config

  /** The corpus-scale layout: 64-bit fingerprints, 4×16-bit banding. */
  val wide64: Config = Banding.wide64

  /** Band-grouped candidate index over the frozen corpus — forwards to
    * [[Banding.buildIndex]].
    */
  def buildIndex(corpus: DataFrame, id: Column, text: Column,
      cfg: Config = Config()): DataFrame =
    Banding.buildIndex(corpus, id, text, cfg)

  /** Append the gate columns (simhash, n_cands, min_hamming, match_id,
    * is_neardup) to ANY frame carrying a `text` column — forwards to
    * [[Banding.withFlags]]; every input column passes through. `cfg`
    * must match the one the index was built with.
    */
  def withFlags(df: DataFrame, index: DataFrame, maxHamming: Int,
      cfg: Config = Config()): DataFrame =
    Banding.withFlags(df, index, maxHamming, cfg)

  /** Flag a document stream against the index: per doc, the number of
    * banded candidates, the minimum hamming distance among them (NULL
    * when no candidate), the lowest-id best match, and the gate decision
    * `is_neardup = min_hamming ≤ maxHamming`. Works identically on a
    * batch frame (batch==stream parity is the StreamingSpec gate).
    */
  def flagged(docs: Dataset[QualityDoc], index: DataFrame,
              maxHamming: Int = 3, cfg: Config = Config()): DataFrame =
    withFlags(docs.toDF().select(col("doc_id"), col("text")), index,
        maxHamming, cfg)
      .select(col("doc_id"), col("simhash"), col("n_cands"),
        col("min_hamming"), col("match_id"), col("is_neardup"))
}
