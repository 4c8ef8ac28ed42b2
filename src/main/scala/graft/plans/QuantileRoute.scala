package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.datasources.LogicalRelation
import graft.functions.{QHistMergeStateAgg, QHistStateAgg}

/** QUANTILE-PARTIAL materialized-view routing — [[KmvRoute]]'s
  * sketch-routing pattern extended to rank statistics: the per-type
  * percentile panel (q_percentiles_approx) derives from per-(type, day)
  * EXACT value histograms ([[graft.functions.QHistStateAgg]]), and a
  * registered events table gets a companion rollup of those states so
  * the INNER aggregate of the two-level sketch query is rewritten onto
  * the rollup — #days × #types stored rows instead of the corpus. The
  * rewrite emits a MERGE aggregate over the stored states (not a bare
  * scan): a compacted rollup holds one state per (type, day) and the
  * merge is a per-row no-op, while a continuously-maintained rollup
  * holds one TAGGED segment state per streamed batch between
  * compactions ([[appendRollup]] / [[graft.streaming.RollupStream]]),
  * and the monoid re-merge restores the inner aggregate's
  * one-row-per-group contract for any consumer either way.
  *
  * Exactness is the histogram monoid, one step STRONGER than KMV's
  * merge-closure: where a stream-built quantile sketch (GK/KLL) is
  * merge-order-sensitive — the routed estimate would only be
  * replay-stable under a PINNED merge order (sorted day list) — exact
  * histogram partials are a commutative monoid (counter addition), so
  * any merge order reaches the same multiset and the single
  * band-compression at read ([[graft.functions.QHistMergeAgg]], pure
  * integer arithmetic) is a function of that multiset. Routed plans are
  * therefore HASH-IDENTICAL to the raw recompute with no order pinning
  * at all, and the whole sketch face is DuckDB-oracle-checkable.
  *
  * Anything not this exact shape — a different grain, a different
  * measure, extra aggregates, filters — leaves the plan untouched and
  * scans raw (the [[CorpusRoute]]/[[KmvRoute]] conservatism), and a
  * session whose timezone differs from the rollup's build zone declines
  * (the day grain is a timezone-dependent cast, as for [[KmvRoute]]).
  */
object QuantileRoute extends RollupRoute[(String, String)]("day") {

  /** A route's target: (rollup path, build timezone). */
  protected def rollupPath(t: (String, String)): String = t._1
  protected def buildZone(t: (String, String)): Option[String] = Some(t._2)
  protected val requiredColumns: Seq[String] = Seq("event_type", "day", "state")

  /** The maintained rollup: one row per (event_type, day) holding the
    * EXACT value histogram of that day's readings — the same partial
    * the declared query's inner aggregate computes, so serving it is
    * substitution, not approximation-on-approximation.
    */
  def rollupOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.functions.VectorFunctions.ensureRegistered(events.sparkSession)
    events.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(graft.functions.VectorFunctions.qhistState(col("value"))
        .as("state"))
  }

  /** Incremental maintenance for an APPEND batch — the BATCH-caller
    * entry, crash-exact end to end: the batch's per-(type, day) states
    * land as ledger-tagged blind segment files by staged write +
    * per-file rename (the [[appendRollup]] machinery — no read of
    * existing state, no delete of live state at ANY crash point),
    * auto-compacted past
    * `maxSegments` by the day-local entry, and the route's re-merge
    * aggregate folds segments back to one state per group at read
    * (bit-identical to a read-merge-overwrite by the histogram
    * monoid). The NULL day appends like any other touched day.
    *
    * Replay protection for AT-LEAST-ONCE callers rides the batch
    * LEDGER ([[graft.operators.Artifacts.ledgerPrefix]]): with
    * `batchTag` = (pipelineId, batchId), a re-delivered batch whose
    * commit marker exists is SKIPPED, an unmarked one deletes its own
    * tagged files and re-publishes — exactly-once at every crash
    * point, even for a batch re-delivered after later compactions
    * (unmarked `segb-` files are never folded; see the compaction fold
    * gate). An untagged call publishes under a unique adhoc tag and is
    * exact for exactly-once callers; a failed untagged call leaves a
    * partial fold its caller must not blindly retry — pass a
    * `batchTag` when retries are possible.
    */
  def upsertRollup(spark: SparkSession, rollupPath: String,
      newEvents: DataFrame, batchTag: Option[(String, String)] = None,
      maxSegments: Int = 8): Unit =
    upsert(spark, rollupPath, batchTag, maxSegments, rollupOf(newEvents))(
      remerge)

  /** BLIND tagged-segment append — the maintenance entry a STREAMING
    * maintainer runs per micro-batch ([[graft.streaming.RollupStream]]):
    * the batch's per-(type, day) states land as ONE new tagged file per
    * touched day dir (staged write + per-file rename — no read of
    * existing state, no day-partition overwrite: O(batch) work however
    * large the rollup), and the route's re-merge aggregate folds
    * segments back to one state per group at read. Histogram states
    * are ADDITIVE (bag rows — the TagIndex class, not the KMV
    * multiplicity-invariant class), so replay-exactness comes from the
    * file-tag protocol: with `appendTag` = (streamId, batchId) a replay
    * first DELETES files carrying its own tag, converging every crash
    * point to exactly-once. Untagged appends get a unique adhoc tag and
    * require an exactly-once caller.
    */
  def appendRollup(spark: SparkSession, rollupPath: String,
      newEvents: DataFrame,
      appendTag: Option[(String, String)] = None): Unit = {
    require(new java.io.File(rollupPath).isDirectory,
      s"appendRollup on $rollupPath with no rollup — build it first")
    append(spark, rollupPath, appendTag, Int.MaxValue, rollupOf(newEvents))(
      remerge)
  }

  /** The per-batch STREAMING maintenance entry
    * ([[graft.streaming.RollupStream.qhistAppendStream]]): delete-own-tag
    * → day-local compaction → tagged blind append, IN THAT ORDER — the
    * ordering ([[RollupRoute.publish]]) is what keeps the
    * crash-replay of the CURRENT batch exact with auto-compaction on
    * (the TextIndex postings contract: "maintainers must not replay
    * batches older than their last compaction").
    */
  def maintainRollup(spark: SparkSession, rollupPath: String,
      newEvents: DataFrame, tag: (String, String),
      maxSegments: Int = 8): Unit =
    append(spark, rollupPath, Some(tag), maxSegments, rollupOf(newEvents))(
      remerge)

  /** DAY-LOCAL segment compaction — the family-standard read-economy
    * restorer: every day dir past `maxSegments` files is re-merged to
    * ONE state row per (type, day) (the exact counter-add re-fold — the
    * same multiset by the monoid, so routed answers are untouched) and
    * swapped in atomically through the shared crash protocol.
    */
  def compactDays(spark: SparkSession, rollupPath: String,
      maxSegments: Int = 1, owner: Option[String] = None): Unit =
    compact(spark, rollupPath, maxSegments, owner)(remerge)

  private def remerge(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.functions.VectorFunctions.ensureRegistered(df.sparkSession)
    df.groupBy("event_type", "day")
      .agg(graft.functions.VectorFunctions.qhistMergeState(col("state"))
        .as("state"))
  }

  /** Heal a crashed day-dir swap and sweep crashed staged-append trees
    * — call at maintenance entry.
    */
  def recoverRollup(rollupPath: String): Unit =
    RouteSupport.recoverRollup(rollupPath, "day")

  def register(spark: SparkSession, rawPath: String,
      rollupPath: String): Unit =
    addRoute(spark, rawPath, (rollupPath, RouteSupport.sessionZone(spark)))

  /** Build (once per dataset fingerprint × session zone, at ingest) the
    * per-(type, day) histogram rollup, register raw→rollup, and enable
    * the rule. Zone discipline and the two-JVM-safe publish are the
    * [[KmvRoute.ensureArtifacts]] shape.
    */
  def ensureArtifacts(spark: SparkSession, dir: String): String = {
    val (roll, existed) = RouteSupport.zonedRollupEnsure(spark, dir,
      "qhist_route_v1") { tmp =>
      rollupOf(graft.Tables.events(spark, dir)).coalesce(1)
        .write.partitionBy("day").parquet(s"$tmp/rollup")
    }
    install(spark, roll, rebuilt = !existed)(
      register(spark, s"$dir/events.parquet", roll))
    roll
  }

  protected def buildRewrite(agg: Aggregate, lr: LogicalRelation,
      roll: Map[String, Attribute], t: (String, String))
      : Option[(Seq[Expression], Seq[NamedExpression])] = {
    val m = RouteSupport.TsMatchers(lr, t._2)
    import m.{isRawAttr, isDayOfTs}

    def isTypeAttr(e: Expression): Boolean = e match {
      case al: Alias => isTypeAttr(al.child)
      case _ => isRawAttr(e, "event_type")
    }

    // exactly two groupings: event_type and the day of ts
    val gs = agg.groupingExpressions
    if (gs.size != 2) return None
    if (!((isTypeAttr(gs(0)) && isDayOfTs(gs(1))) ||
      (isTypeAttr(gs(1)) && isDayOfTs(gs(0))))) return None

    var ok = true
    val newProj: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case a: AttributeReference if isRawAttr(a, "event_type") =>
        Alias(roll("event_type"), a.name)(exprId = a.exprId,
          qualifier = a.qualifier)
      case al: Alias => al.child match {
        case g if isDayOfTs(g) =>
          Alias(roll("day"), al.name)(exprId = al.exprId,
            qualifier = al.qualifier)
        case a: AttributeReference if isRawAttr(a, "event_type") =>
          Alias(roll("event_type"), al.name)(exprId = al.exprId,
            qualifier = al.qualifier)
        case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
          ae.aggregateFunction match {
            // gridBits == 0 only: the rollup stores grid-FREE states,
            // and a grid-g query groups values into coarser cells — a
            // different statistic the rollup cannot answer
            case st: QHistStateAgg
                if st.gridBits == 0 && isRawAttr(st.child, "value") =>
              // the group's state is the MERGE of its stored segment
              // rows: one row per (type, day) on a compacted rollup,
              // but a maintained rollup holds one TAGGED segment state
              // per streamed batch between compactions
              // ([[appendRollup]]), so the sound substitution is the
              // monoid re-merge, which restores the inner aggregate's
              // one-row-per-group contract for ANY consumer — still a
              // rollup-sized read (the re-merge groups #stored rows,
              // never the corpus)
              Alias(ae.copy(aggregateFunction =
                QHistMergeStateAgg(roll("state"))), al.name)(
                exprId = al.exprId, qualifier = al.qualifier)
            case _ => ok = false; al
          }
        case _ => ok = false; al
      }
      case other => ok = false; other
    }
    if (ok) Some((Seq(roll("event_type"), roll("day")), newProj)) else None
  }
}
