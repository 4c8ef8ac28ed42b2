package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.operators.VectorOps

/** Streaming EMBEDDING near-dup vs corpus history — the vector face of the
  * streaming ingest-dedup stack, completing the symmetry with the lexical
  * layers ([[StreamDedup.candidatesVsCorpus]] for minhash-LSH,
  * [[SpanStream]] for exact substrings): every arriving embedding is
  * checked against a batch-built signed-random-projection LSH index of the
  * corpus, and candidate collisions are confirmed by EXACT cosine before
  * emission — precision is exact (every emitted pair truly clears the
  * cosine gate), only recall rides the LSH tables.
  *
  * Spark-first shape: the bucket projection
  * ([[VectorOps.lshBucketArr]] — the SAME column expression the batch
  * index build runs, so the code space can never drift between the two
  * sides) and the norm are row-wise column work; the only exchange is the
  * stream-static (t, bucket) join, which moves the (small) micro-batch
  * side. Completely STATELESS — history lives in the static index,
  * refreshed at foreachBatch altitude like the lexical twin — so the same
  * code runs identically on a batch frame, which is exactly how
  * VectorStreamSpec pins drained-stream ≡ batch.
  *
  * 100 TB posture: the corpus index is (t, bucket)-keyed with per-bucket
  * caps (skew-bounded scoring work), written bucketed at corpus scale;
  * each arriving vector scores only the O(tables × maxBucket) entries its
  * codes collide with — per-document work is independent of corpus size,
  * the property that lets ingest-time semantic dedup keep up with a
  * growing corpus.
  */
object VectorStream {

  /** Row-wise projection of a streaming (vec_id, embedding) frame to one
    * row per (vector, table): norm + LSH bucket code, no shuffle.
    */
  def coded(emb: DataFrame, bits: Int): DataFrame = {
    VectorFunctions.ensureRegistered(emb.sparkSession)
    val e = col("embedding")
    emb
      .withColumn("nrm", sqrt(VectorFunctions.dot(e, e)))
      .select(col("vec_id"), e.as("embedding"), col("nrm"),
        explode(VectorOps.lshBucketArr(e, bits)).as("tb"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("tb.t").as("t"), col("tb.bucket").as("bucket"))
  }

  /** The batch-built static side: the corpus through the SAME coded
    * projection, renamed for the join. At production scale this is an
    * ingest artifact written bucketed by (t, bucket) with per-bucket caps
    * (see [[VectorOps.lshIndex]]); callers persist or reload it between
    * refreshes.
    */
  def corpusIndexOf(corpus: DataFrame, bits: Int): DataFrame =
    coded(corpus, bits).select(col("vec_id").as("corpus_vec"),
      col("embedding").as("corpus_emb"), col("nrm").as("corpus_nrm"),
      col("t"), col("bucket"))

  /** Near-dup hits of the STREAM against the CORPUS index: bucket
    * collision in any table proposes, exact cosine confirms. A pair
    * colliding in several tables emits once per table — consumers
    * dropDuplicates(vec_id, corpus_vec) exactly like the lexical twin.
    */
  def candidatesVsCorpus(stream: DataFrame, corpusIndex: DataFrame,
      bits: Int, threshold: Double = 0.95): DataFrame =
    coded(stream, bits)
      .join(corpusIndex, Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("corpus_vec"))
      .withColumn("cosine",
        VectorFunctions.dot(col("embedding"), col("corpus_emb")) /
          (col("nrm") * col("corpus_nrm")))
      .filter(col("cosine") >= threshold)
      .select(col("vec_id"), col("corpus_vec"), col("cosine"))

  /** [[candidatesVsCorpus]] with a PERIODICALLY REFRESHED corpus index —
    * same consistency model as the lexical twin
    * ([[StreamDedup.candidatesVsCorpusRefreshing]]): every `refreshEvery`
    * micro-batches the parquet index at `indexPath` is re-read (after
    * `refreshByPath`, dropping the shared file-listing cache), the
    * previous snapshot unpersists and the fresh one persists; corpus
    * additions become visible at the NEXT refresh boundary, never
    * mid-batch. Snapshot lifecycle (final-snapshot release on query
    * termination, double-start fail-fast) is [[RefreshingSnapshot]]'s.
    * Returns an unstarted writer; `sink` receives each
    * micro-batch's hits with the [[candidatesVsCorpus]] schema.
    */
  def candidatesVsCorpusRefreshing(stream: DataFrame, indexPath: String,
      refreshEvery: Int, bits: Int, threshold: Double = 0.95)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(refreshEvery >= 1, s"refreshEvery must be >= 1, got $refreshEvery")
    val snap = new RefreshingSnapshot(stream.sparkSession, sp => {
      sp.catalog.refreshByPath(indexPath)
      sp.read.parquet(indexPath)
    })
    stream.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val idx = snap.forBatch(batch.sparkSession, batchId, refreshEvery)
        sink(candidatesVsCorpus(batch.toDF(), idx, bits, threshold), batchId)
    }
  }

  /** [[candidatesVsCorpusRefreshing]] against a MAINTAINED
    * [[graft.operators.VectorIndex]] root (r10 — the
    * WinnowStream.matchesVsIndexRefreshing parity for vectors): the
    * artifact's bucket lists serve through the same refresh lifecycle,
    * with appends/compactions by the index's maintainer becoming
    * visible at refresh boundaries. The CODE WIDTH comes from the
    * artifact's own `_meta` INSIDE the refresh loader — the query side
    * must project with exactly the bits the index was built at
    * (drifted codes silently match nothing), and reading it per
    * refresh means a root rebuilt at another width mid-stream fails
    * the next refresh loudly. The loader's per-refresh dedup absorbs
    * the benign duplicate rows a replayed append leaves.
    */
  def candidatesVsIndexRefreshing(stream: DataFrame, root: String,
      refreshEvery: Int, threshold: Double = 0.95)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(refreshEvery >= 1, s"refreshEvery must be >= 1, got $refreshEvery")
    // the loader stashes the width it loaded alongside the snapshot —
    // bits must describe the index version this batch actually joins
    // against (a fresh per-batch meta read could race a concurrent
    // rebuild and project the stream in a drifted code space), and the
    // stash costs zero per-batch jobs. Safe because forBatch runs the
    // loader synchronously before returning the snapshot it describes.
    @volatile var snapBits = -1
    val snap = new RefreshingSnapshot(stream.sparkSession, sp => {
      sp.catalog.refreshByPath(graft.operators.VectorIndex.indexDir(root))
      val (df, bits, coder) = graft.operators.VectorIndex.load(sp, root)
      // this serving path projects the STREAM with the float-tier
      // lshBucketArr (candidatesVsCorpus → coded), so the artifact must
      // be the float family — pointing it at an exactsig-coded root
      // would join drifted codes and silently emit zero candidates,
      // exactly what requireMeta's refusal posture exists to prevent.
      // Checked per refresh, so a root rebuilt into another family
      // mid-stream fails the NEXT refresh loudly, never quietly.
      require(coder == graft.operators.VectorIndex.coderFloat,
        s"vector index at $root is coded '$coder' but this stream " +
          s"projects '${graft.operators.VectorIndex.coderFloat}' codes " +
          "— refusing to serve (drifted codes silently match nothing)")
      snapBits = bits
      df
    })
    stream.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val idx = snap.forBatch(batch.sparkSession, batchId, refreshEvery)
        sink(candidatesVsCorpus(batch.toDF(), idx, snapBits, threshold),
          batchId)
    }
  }

  /** Continuous index maintenance — the ingest face (the
    * WinnowStream.appendStream lifecycle for vectors): each micro-batch
    * of (vec_id, embedding) rows folds into the maintained LSH index at
    * `root` via [[graft.operators.VectorIndex.appendTo]] (slice-sized,
    * capped within the slice), with crash-swap recovery at batch entry
    * and auto-compaction past `maxSegments` files per table dir via the
    * TABLE-LOCAL entry ([[graft.operators.VectorIndex.compactTables]],
    * r12): only dirs past the bound rewrite, and because the cap rule
    * is (t, bucket)-local each REWRITTEN dir re-caps to exactly the
    * full rebuild's survivor set for its table, at the cost of only
    * the dirs the stream's appends actually loaded. Whole-artifact
    * convergence therefore holds when every dir crosses the bound
    * together — which this stream's appends guarantee (every vector
    * lands in one bucket PER table, so each non-empty batch adds one
    * file to every `t=` dir and the dirs age in lockstep); a
    * still-under-bound dir holds capped-within-slice SUPERSETS of its
    * survivor set until its own rewrite — candidate-volume cost, never
    * correctness (the exact-cosine confirm runs per candidate).
    * Replay-safe by VALUE: a re-delivered batch appends duplicate
    * rows, which serving dedupes and compaction collapses.
    */
  def appendStream(emb: DataFrame, root: String, maxSegments: Int = 8)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    emb.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          graft.operators.VectorIndex.recover(root)
          graft.operators.VectorIndex.appendTo(root, batch.toDF())
          if (graft.operators.VectorIndex.segments(root) > maxSegments)
            graft.operators.VectorIndex.compactTables(root,
              batch.sparkSession, maxSegments)
        }
    }

  /** Continuous ANN SERVING-TABLE maintenance (r14 — the ingest face of
    * [[graft.operators.AnnServing]], the [[appendStream]] lifecycle at
    * the IVF/PQ assignment families): each micro-batch of
    * (vec_id, embedding) rows runs the family's ONE assignment
    * projection under `dir`'s codebook ([[graft.operators.AnnServing
    * .Family.rowsOf]] — slice-sized, map-only: new vectors take their
    * nearest EXISTING list, the assign-on-append policy) and folds into
    * the maintained table via [[graft.operators.AnnServing.appendTo]],
    * with crash-swap recovery at batch entry and LIST-LOCAL
    * auto-compaction past `maxSegments` files per `cid=` dir. The model
    * fingerprint is pinned ONCE at stream start AND re-checked against
    * the live codebook per batch: the appendTo gate alone only compares
    * the pin against the artifact's `_meta`, so a codebook regenerated
    * mid-stream (dataset replaced, refit by another process) would pass
    * it in the window BEFORE the cascade rebuild — while the batch's
    * rows were already assigned under the NEW centroids
    * (family.rowsOf reads the live codebook); the per-batch check makes
    * that window refuse loudly too (review-found, r14). Restart the
    * maintainer after the cascade rebuild, like every sibling family
    * gate. Replay-safe by VALUE: a re-delivered batch appends duplicate
    * rows, which serving dedupes and compaction collapses.
    */
  def annServingAppendStream(emb: DataFrame, root: String,
      family: graft.operators.AnnServing.Family, dir: String,
      maxSegments: Int = 8)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val model = family.modelFpOf(emb.sparkSession, dir)
    emb.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val live = family.modelFpOf(batch.sparkSession, dir)
          require(live == model,
            s"ANN serving maintainer for $root pinned model '$model' at " +
              s"stream start but the live codebook is now '$live' — a " +
              "regenerated codebook must cascade: rebuild the serving " +
              "table and restart the maintainer, never fold new-model " +
              "assignments into old-model state")
          graft.operators.AnnServing.recover(root)
          graft.operators.AnnServing.appendTo(root,
            family.rowsOf(batch.sparkSession, dir, batch.toDF()),
            family, model)
          if (graft.operators.AnnServing.segments(root) > maxSegments)
            graft.operators.AnnServing.compactLists(root,
              batch.sparkSession, family, model, maxSegments)
        }
    }
  }

  /** Continuous TRAINED-MODEL maintenance (r14 — the drift lifecycle
    * running where production runs it, closing the loop on
    * [[graft.operators.TrainedAnn]]'s r13 probe/refit rule): each
    * micro-batch of (vec_id, embedding) rows is probed against the
    * stored IVF codebook at `modelRoot` — the SLICE-sized drift probe
    * ([[graft.operators.TrainedAnn.maintainIvfBatch]]), the cost a
    * per-batch hook can afford — and a batch whose inertia ratio
    * exceeds the refit bound triggers a refit over `full` (the
    * corpus-so-far, by-name — only built when the refit fires).
    * In-distribution traffic costs one map-only pass per batch; a
    * planted distribution shift fires the refit on ITS OWN batch
    * (spec-pinned: VectorStreamSpec's mid-stream shift → refit →
    * recall re-pin). `onMaintain` observes every (batchId, ratio,
    * refitFired) — the ladder's and spec's hook.
    */
  def trainedIvfMaintainerStream(emb: DataFrame, modelRoot: String,
      full: () => DataFrame, k: Int, iters: Int, gen: String,
      onMaintain: (Long, Double, Boolean) => Unit = (_, _, _) => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    emb.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) {
          val (ratio, refit) = graft.operators.TrainedAnn.maintainIvfBatch(
            modelRoot, batch.toDF(), full(), k, iters, s"$gen-b$batchId")
          onMaintain(batchId, ratio, refit)
        }
    }
}
