package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}

/** Streaming MATERIALIZED-VIEW maintenance for the route rollups (r14)
  * — the ingest face of [[graft.plans.KmvRoute]],
  * [[graft.plans.QuantileRoute]] and [[graft.plans.CorpusRoute]],
  * completing the maintainer symmetry
  * across every maintained artifact class: the index families had
  * streaming appendStreams since r11-r13, the trained models got their
  * probe/refit stream this round, and the routed sketch rollups — the
  * states the dashboard queries actually read — were batch-upsert-only.
  * With these, events folding in through a micro-batch stream keep the
  * routed faces (q_distinct_approx, q_percentiles_approx and their SQL
  * twins) fresh at rollup-sized maintenance cost per batch.
  *
  * Replay semantics differ BY SKETCH ALGEBRA, and each maintainer uses
  * the cheapest protocol its algebra admits:
  *  - KMV states are MULTIPLICITY-INVARIANT (k-minima of a hash SET):
  *    a re-delivered batch folds the same hashes into the same minima,
  *    so blind appends are already exactly-once under at-least-once
  *    delivery — no tags, no ledger ([[kmvAppendStream]]).
  *  - Histogram states are ADDITIVE (bag rows — the TagIndex class):
  *    a re-delivered batch would double-count, so the maintainer uses
  *    the file-tag protocol ([[graft.plans.QuantileRoute.maintainRollup]]
  *    with tag = (streamId, batchId)): a replay first deletes its own
  *    tagged segment files, converging every crash point to
  *    exactly-once; the route's re-merge aggregate folds the per-batch
  *    segments at read and [[graft.plans.QuantileRoute.compactDays]]
  *    restores file economy past `maxSegments` ([[qhistAppendStream]]).
  *
  * 100 TB posture: both maintainers do O(batch) work per batch. The
  * qhist append never reads existing state at all (blind tagged
  * segment publish); the KMV upsert reads only the touched days' state
  * rows (#batch-days rows — KBs). Neither re-reads the corpus, and the
  * routed READ cost stays rollup-sized between and during maintenance.
  *
  * Each `foreachBatch` body runs its batch's plan once (the
  * [[Ingest]] invariant): an empty batch's delta publishes no segment,
  * so there is no emptiness pre-check — `batch.isEmpty` would be a
  * second job over the batch's input.
  */
object RollupStream {

  /** Per-batch KMV rollup maintenance
    * ([[graft.plans.KmvRoute.maintainRollup]]): each batch's per-day
    * states land as new BLIND-append segment files with no read of
    * existing state at all — O(batch) work however large the rollup —
    * folded back to the day's k-minima by the route's own re-merge at
    * read, day-local compaction past `maxSegments`. The one maintainer
    * needing NO replay machinery whatsoever: the k-minima union is
    * multiplicity-invariant, so any replay (even of a batch an earlier
    * compaction already folded — the case the tagged families forbid by
    * contract) is absorbed exactly.
    *
    * Since r15 [[graft.plans.KmvRoute.upsertRollup]] commits through
    * this same blind-append machinery (the dynamic-partition-overwrite
    * torn-commit window the r14 review documented is retired); this
    * stream entry remains the maintainer face — per-batch compaction
    * policy, no ledger bookkeeping — while the upsert adds the
    * batch-caller replay economy (commit markers).
    */
  def kmvAppendStream(events: DataFrame, rollupPath: String, k: Int,
      maxSegments: Int = 8)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    events.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[Row], _: Long) =>
        graft.plans.KmvRoute.maintainRollup(batch.sparkSession,
          rollupPath, batch.toDF(), k, maxSegments)
    }

  /** Per-batch quantile-histogram rollup maintenance: each micro-batch
    * publishes its per-(type, day) histogram states as ONE tagged
    * segment file per touched day dir
    * ([[graft.plans.QuantileRoute.maintainRollup]], tag =
    * (`streamId`, batchId) — the replay-exact file-tag protocol for
    * additive states, with the delete-own-tag → compact → append
    * ordering that keeps a crash-replay of the current batch exact
    * even with the day-local auto-compaction firing past `maxSegments`
    * files). `streamId` must be stable across restarts of the same
    * checkpointed stream (Structured Streaming replays a failed batch
    * under the SAME batchId, which is exactly what the tag overwrite
    * keys on). ONE maintainer per rollup at a time — the family-wide
    * single-maintainer-per-root contract, and for tagged state it is
    * load-bearing (review-found, r14): a second concurrent feeder's
    * compaction could fold THIS stream's last uncommitted batch's tags,
    * reopening exactly the crash-replay double-count the
    * delete-own-tag ordering closes. `streamId` distinguishes
    * sequential owners (a handoff), never concurrent ones.
    */
  def qhistAppendStream(events: DataFrame, rollupPath: String,
      streamId: String, maxSegments: Int = 8)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    events.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[Row], batchId: Long) =>
        graft.plans.QuantileRoute.maintainRollup(batch.sparkSession,
          rollupPath, batch.toDF(), (streamId, batchId.toString),
          maxSegments)
    }

  /** Per-batch corpus-stats rollup maintenance
    * ([[graft.plans.CorpusRoute.maintainRollup]] — tagged segment files
    * into lang dirs, same ordering and replay contract as
    * [[qhistAppendStream]]): each micro-batch of ingested documents
    * folds its (lang, source) partials in at O(batch) cost, keeping the
    * routed corpus dashboards (q_route_stats' class) fresh under
    * continuous ingest. Multi-segment soundness is the route's own
    * rewrite — every routed measure re-aggregates its partials.
    */
  def corpusAppendStream(docs: DataFrame, rollupPath: String,
      streamId: String, maxSegments: Int = 8)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[Row], batchId: Long) =>
        graft.plans.CorpusRoute.maintainRollup(batch.sparkSession,
          rollupPath, batch.toDF(), (streamId, batchId.toString),
          maxSegments)
    }
}
