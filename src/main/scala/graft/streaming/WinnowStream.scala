package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import graft.operators.TextOps

/** Streaming winnow-fingerprint matching vs corpus history — the fourth
  * face of the ingest-time dedup stack, completing its symmetry: exact
  * substrings ([[SpanStream]]), lexical LSH ([[StreamDedup]]),
  * embeddings ([[VectorStream]]), and now the INDEX-ALTITUDE substring
  * matcher: each arriving document winnows row-wise
  * ([[TextOps.winnowOver]] — stateless, stream-legal, spec-pinned) and
  * its selected fingerprints check against the corpus's winnow index,
  * reporting how much of the document the corpus already knows. The
  * triage signal an ingest gate acts on at ~2/(w+1) the cost of the
  * full window-key check [[SpanStream]] runs.
  *
  * Spark-first shape: the corpus side is its distinct selected
  * fingerprint set (an ingest artifact, ~2/(w+1) of the gram count —
  * bucketed by fp at production scale); each micro-batch runs the same
  * batch kernel ([[matchReport]]) stream-static against it at
  * `foreachBatch` altitude. Stateless — nothing accumulates, no
  * watermark, and a drained stream equals the batch run by code
  * identity (WinnowStreamSpec pins it anyway, across micro-batch
  * boundaries).
  *
  * 100 TB posture: the fingerprint set is the only corpus-scale
  * artifact and it moves once per refresh, not per batch; the per-batch
  * exchange is the batch's own selected fingerprints semi-joined
  * against it — batch-sized, never corpus-sized.
  */
object WinnowStream {

  /** The batch-built static side: the corpus's distinct selected
    * fingerprints. The MAINTAINED form is
    * [[graft.operators.WinnowIndex]] (build/append/compact with
    * crash-consistent swaps, r9) — this is the one-shot recompute the
    * index's serving is spec-pinned equal to.
    */
  def corpusIndexOf(corpus: DataFrame, k: Int = 3, w: Int = 4,
      family: TextOps.WinnowHash = TextOps.WinnowMd5): DataFrame =
    TextOps.winnowOver(corpus, k, w, family).select("fp").distinct()

  /** Per-document match report against a static fingerprint set:
    * (doc_id, n_fp, n_matched) — how many of the document's selected
    * fingerprints the corpus already holds. TOTAL over the batch: a
    * document too short to winnow (or with null text) reports
    * (n_fp = 0, n_matched = 0) rather than vanishing — an ingest gate
    * keyed on the report must see every document it was handed. One
    * winnow pass: the membership test is a left join carrying a hit
    * flag into a single aggregate (count + count(hit)), so the
    * per-gram hashing — the dominant per-batch cost — runs once, not
    * once per aggregate. Plain transformation (the aggregates run per
    * micro-batch inside foreachBatch, never as streaming state) —
    * identical on a batch frame, which is how the spec pins
    * stream ≡ batch.
    *
    * `corpusFps` must be fp-distinct ([[corpusIndexOf]] and the
    * refreshing loader both guarantee it); a duplicated fp would
    * multiply the left join and inflate n_fp / n_matched.
    */
  def matchReport(docs: DataFrame, corpusFps: DataFrame, k: Int = 3,
      w: Int = 4, family: TextOps.WinnowHash = TextOps.WinnowMd5): DataFrame =
    // the batch kernel, shared verbatim — its q_winnow_match oracle row
    // is the driver-checked proof of the signal this stream gates on
    TextOps.winnowMatchReport(docs, corpusFps, k, w, family)

  /** [[matchReport]] with a PERIODICALLY REFRESHED fingerprint set —
    * the same production posture (and consistency model) as
    * [[SpanStream.spansVsCorpusRefreshing]]: the index reloads from
    * `fpsPath` every `refreshEvery` micro-batches (after
    * `refreshByPath`, so the re-read cannot ride a stale shared
    * file-listing cache); additions become visible at the next refresh
    * boundary, never mid-batch. Snapshot lifecycle (final-snapshot
    * release on query termination, double-start fail-fast) is
    * [[RefreshingSnapshot]]'s.
    *
    * Returns an unstarted writer (`.start()` it); `sink` receives each
    * micro-batch's reports with the [[matchReport]] schema plus the
    * batch id.
    */
  def matchesVsCorpusRefreshing(stream: DataFrame, fpsPath: String,
      refreshEvery: Int, k: Int = 3, w: Int = 4,
      family: TextOps.WinnowHash = TextOps.WinnowMd5)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] = {
    require(refreshEvery >= 1, s"refreshEvery must be >= 1, got $refreshEvery")
    val snap = new RefreshingSnapshot(stream.sparkSession, sp => {
      sp.catalog.refreshByPath(fpsPath)
      // dedupe at LOAD, once per refresh: the refresh model accepts raw
      // part files from an external ingest, and overlapping deliveries can
      // carry duplicate fp rows — which would multiply matchReport's left
      // join and inflate both n_fp and n_matched. Paying the distinct here
      // keeps the per-batch path duplicate-safe at zero per-batch cost
      // (the snapshot is persisted across the refresh window).
      sp.read.parquet(fpsPath).select("fp").distinct()
    })
    stream.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[Row], batchId: Long) =>
        val fps = snap.forBatch(batch.sparkSession, batchId, refreshEvery)
        sink(matchReport(batch.toDF(), fps, k, w, family), batchId)
    }
  }

  /** [[matchesVsCorpusRefreshing]] against a MAINTAINED
    * [[graft.operators.WinnowIndex]] root: serves the index's fps
    * artifact through the same refresh lifecycle — appends/compactions
    * by the index's maintainer become visible at refresh boundaries;
    * the per-refresh loader dedup also absorbs the index's benign
    * append-duplicate segments. The hash-family check runs INSIDE the
    * refresh loader, once per refresh, not once at construction: an
    * index rebuilt under a different family MID-STREAM (or one whose
    * `_family` marker is absent — not yet built, or torn) fails the
    * next refresh loudly instead of silently matching nothing, which is
    * the failure mode cross-family fingerprints produce.
    */
  def matchesVsIndexRefreshing(stream: DataFrame, root: String,
      refreshEvery: Int, k: Int = 3, w: Int = 4,
      family: TextOps.WinnowHash = TextOps.WinnowMd5)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] = {
    require(refreshEvery >= 1, s"refreshEvery must be >= 1, got $refreshEvery")
    val fpsPath = graft.operators.WinnowIndex.fpsDir(root)
    val snap = new RefreshingSnapshot(stream.sparkSession, sp => {
      graft.operators.WinnowIndex.requireServableFamily(root, family)
      sp.catalog.refreshByPath(fpsPath)
      sp.read.parquet(fpsPath).select("fp").distinct()
    })
    stream.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[Row], batchId: Long) =>
        val fps = snap.forBatch(batch.sparkSession, batchId, refreshEvery)
        sink(matchReport(batch.toDF(), fps, k, w, family), batchId)
    }
  }

  /** [[matchesVsIndexRefreshing]]'s PRUNED-SERVING sibling (r11): each
    * micro-batch winnows once, collects its fingerprints' distinct
    * shard ids under the artifact's manifest, and reads ONLY those
    * shard dirs for the membership join
    * ([[graft.operators.WinnowIndex.membershipFps]]) — no corpus-sized
    * snapshot is ever loaded or persisted. This is the gate's shape at
    * the scale the refresh-snapshot model stops fitting: the full
    * fingerprint set of a 100 TB corpus is itself huge, while a
    * micro-batch of paste-sized probes touches a handful of shard
    * ranges (8% of bytes at 512 shards — SCALE.md's exact-dedup 512-shard
    * row; the pruned scan is plan-pinned in PlanSpec and the batch face
    * is the oracle-checked q_winnow_snippet). Trade against the refreshing sibling: every
    * batch re-reads its ranges from disk (no warm snapshot), so for
    * LARGE batches against a SMALL corpus the refresh model wins —
    * pruning pays when probe ranges ≪ shard count, the r10 turn.
    * Freshness: reads the live artifact per batch, so maintainer
    * appends become visible at the NEXT batch, not a refresh boundary;
    * the family/manifest gates run per batch and fail fast mid-stream
    * exactly like the refresh loader's.
    */
  def matchesVsIndexPruned(stream: DataFrame, root: String, k: Int = 3,
      w: Int = 4, family: TextOps.WinnowHash = TextOps.WinnowMd5)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    stream.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[Row], batchId: Long) =>
        val docs = batch.toDF()
        // idle-tick fast path (the appendStream guard): an empty batch
        // still honors the every-batch sink contract with an empty
        // report, but skips the winnow pass, the manifest read, the
        // shard-id job and the artifact listing entirely
        if (batch.isEmpty) {
          sink(docs.select(col("doc_id"),
            lit(0L).as("n_fp"), lit(0L).as("n_matched")), batchId)
        } else {
          // one winnow pass per batch: the selection feeds shard
          // discovery AND the report join (the winnowSnippet shape)
          val sel = TextOps.winnowOver(docs, k, w, family)
            .select("doc_id", "fp").distinct().persist()
          try {
            // drop any stale listing/cache for the live artifact — the
            // freshness contract here is per-BATCH (the refresh
            // siblings' refreshByPath, at batch grain)
            batch.sparkSession.catalog.refreshByPath(
              graft.operators.WinnowIndex.fpsDir(root))
            sink(TextOps.winnowMatchReportFromSel(docs, sel,
              graft.operators.WinnowIndex.membershipFps(
                batch.sparkSession, root, sel, family)), batchId)
          } finally sel.unpersist(blocking = false): Unit
        }
    }

  /** Continuous index maintenance — the ingest face: each micro-batch
    * of documents folds into the winnow index at `root` via
    * [[graft.operators.WinnowIndex.appendTo]] (slice-sized work), with
    * crash-swap recovery at batch entry and SHARD-LOCAL auto-compaction
    * past `maxSegments` files (the TextIndexStream lifecycle).
    * Compaction rewrites only the overweight shard dirs
    * ([[graft.operators.WinnowIndex.compactShards]] — r11): the
    * boundary cut is untouched and work is proportional to the shards
    * the appends actually loaded, never the corpus — at production
    * widths the difference between rewriting a few hot dirs and
    * rewriting everything. The global equi-depth REBALANCE
    * ([[graft.operators.WinnowIndex.compact]]) stays a deliberate
    * out-of-band maintenance action, not a per-batch hazard.
    * REPLAY-SAFE WITHOUT a marker protocol: a re-delivered batch
    * appends duplicate fp rows, which every serving path dedupes and
    * compaction collapses — idempotent by VALUE (unlike the text
    * index's counted df/stats, which need the tag gates).
    */
  def appendStream(docs: DataFrame, root: String, k: Int = 3, w: Int = 4,
      family: TextOps.WinnowHash = TextOps.WinnowMd5,
      maxSegments: Int = 8): org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[Row], _: Long) =>
        if (!batch.isEmpty) {
          graft.operators.WinnowIndex.recover(root)
          graft.operators.WinnowIndex.appendTo(root, batch.toDF(), k, w, family)
          if (graft.operators.WinnowIndex.segments(root) > maxSegments)
            graft.operators.WinnowIndex.compactShards(root, batch.sparkSession,
              family)
        }
    }
}
