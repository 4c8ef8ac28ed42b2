package graft.streaming

import org.apache.spark.sql.DataFrame
import graft.operators.TextOps

/** Streaming corpus construction — the ingest-time half of the batch
  * [[graft.operators.TextOps.corpusBuild]] pipeline, split the way a
  * production lambda architecture splits it:
  *
  *  - the stateless gates (quality + deterministic hash-gate) apply
  *    inline — shared code with the batch path, so the two can never
  *    drift;
  *  - EXACT duplicates drop inside the stream, keyed on the 16-byte md5
  *    content fingerprint within the watermark (the bounded-delay
  *    re-send window `Ingest.dedupStream` models);
  *  - NEAR-dup handling streams as candidate flags ([[StreamDedup]]);
  *    cluster canonicalization stays a periodic batch artifact
  *    (`dedupClusters`) because component identity is a property of the
  *    whole graph, not of any prefix of the stream.
  *
  * CorpusStreamSpec pins drained-stream ≡ batch equivalence for the
  * gates + exact-dedup stages.
  */
object CorpusStream {

  /** The streaming manifest: docs stream in as
    * (doc_id, text, lang, n_chars, time); gated + exact-deduped manifest
    * rows (doc_id, lang, n_chars) stream out.
    */
  def manifest(docs: DataFrame, watermark: String = "10 minutes"): DataFrame =
    TextOps.corpusGates(docs)
      .withColumn("fp", TextOps.contentFingerprint)
      .withWatermark("time", watermark)
      .dropDuplicatesWithinWatermark("fp")
      .select("doc_id", "lang", "n_chars")

  /** Streaming twin of the batch mix pipeline
    * ([[graft.operators.TextOps.corpusMix]]), split the lambda way:
    * eval-gram set and per-language temperature thresholds are GLOBAL
    * corpus properties, so they refresh batch-side and ride into the
    * stream as literals (`TextOps.mixGates` — code shared verbatim with
    * the batch side, so gates can never drift); exact dedup drops inside
    * the stream within the watermark. The stateless gates commute with
    * the dedup (they depend only on the row), so gating BEFORE dedup is
    * both equivalent and cheaper — gated-out rows never touch state.
    */
  def mixStream(docs: DataFrame, evalGramHashes: Seq[Long],
      thresholds: Map[String, Double],
      watermark: String = "10 minutes"): DataFrame =
    TextOps.mixGates(docs, evalGramHashes, thresholds)
      .withColumn("fp", TextOps.contentFingerprint)
      .withWatermark("time", watermark)
      .dropDuplicatesWithinWatermark("fp")
      .select("doc_id", "lang")
}
