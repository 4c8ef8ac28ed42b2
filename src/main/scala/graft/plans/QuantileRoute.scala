package graft.plans

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import graft.functions.{QHistMergeStateAgg, QHistStateAgg}

/** QUANTILE-PARTIAL materialized-view routing (r14) — [[KmvRoute]]'s
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
  * (the day grain is a timezone-dependent cast — the r13-ADVICE
  * KmvRoute rule, applied here from birth).
  */
object QuantileRoute extends Rule[LogicalPlan] {

  /** raw events root path (fully qualified) → (rollup path, build
    * timezone).
    */
  private val routes = TrieMap[String, (String, String)]()

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
    * entry, crash-exact end to end (r15; this retired the r14 CRASH
    * CAVEAT): the batch's per-(type, day) states land as ledger-tagged
    * blind segment files by staged write + per-file rename (the
    * [[appendRollup]] machinery — no read of existing state, no delete
    * of live state at ANY crash point), auto-compacted past
    * `maxSegments` by the day-local entry, and the route's re-merge
    * aggregate folds segments back to one state per group at read
    * (bit-identical to the old read-merge-overwrite by the histogram
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
      maxSegments: Int = 8): Unit = {
    graft.functions.VectorFunctions.ensureRegistered(spark)
    RouteSupport.requireWriteZone(spark, rollupPath, "quantile rollup")
    RouteSupport.ledgeredUpsert(rollupPath, "day", batchTag, maxSegments,
      rollupOf(newEvents),
      owner => compactDays(spark, rollupPath, maxSegments, Some(owner)),
      () => invalidate(rollupPath))
  }

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
    RouteSupport.requireWriteZone(spark, rollupPath, "quantile rollup")
    RouteSupport.taggedAppend(rollupPath, "day", appendTag, Int.MaxValue,
      rollupOf(newEvents), _ => (), () => invalidate(rollupPath))
  }

  /** The per-batch STREAMING maintenance entry
    * ([[graft.streaming.RollupStream.qhistAppendStream]]): delete-own-tag
    * → day-local compaction → tagged blind append, IN THAT ORDER — the
    * ordering ([[RouteSupport.taggedAppend]]) is what keeps the
    * crash-replay of the CURRENT batch exact with auto-compaction on
    * (the TextIndex postings contract: "maintainers must not replay
    * batches older than their last compaction").
    */
  def maintainRollup(spark: SparkSession, rollupPath: String,
      newEvents: DataFrame, tag: (String, String),
      maxSegments: Int = 8): Unit = {
    RouteSupport.requireWriteZone(spark, rollupPath, "quantile rollup")
    RouteSupport.taggedAppend(rollupPath, "day", Some(tag), maxSegments,
      rollupOf(newEvents),
      owner => compactDays(spark, rollupPath, maxSegments, Some(owner)),
      () => invalidate(rollupPath))
  }

  /** DAY-LOCAL segment compaction — the family-standard read-economy
    * restorer: every day dir past `maxSegments` files is re-merged to
    * ONE state row per (type, day) (the exact counter-add re-fold — the
    * same multiset by the monoid, so routed answers are untouched) and
    * swapped in atomically through the shared crash protocol.
    */
  def compactDays(spark: SparkSession, rollupPath: String,
      maxSegments: Int = 1, owner: Option[String] = None): Unit = {
    import org.apache.spark.sql.functions._
    graft.functions.VectorFunctions.ensureRegistered(spark)
    // standalone ad-hoc compaction leases scoped (unique owner); a call
    // on a stream's behalf (owner = Some(streamId)) keeps that
    // stream's lease standing
    val (id, sticky) = graft.operators.Artifacts.leaseFor(owner)
    graft.operators.Artifacts.withLease(rollupPath, id, sticky) {
      RouteSupport.compactPartitions(spark, rollupPath, "day", maxSegments)(
        _.groupBy("event_type", "day")
          .agg(graft.functions.VectorFunctions.qhistMergeState(col("state"))
            .as("state")))
      invalidate(rollupPath)
    }
    // (unmarked ledgered batch segments ride through unfolded — the
    // [[graft.operators.Artifacts.foldableFile]] gate inside the shared
    // compaction — so a delayed batch replay still finds its own files)
  }

  /** Heal a crashed day-dir swap and sweep crashed staged-append trees
    * — call at maintenance entry.
    */
  def recoverRollup(rollupPath: String): Unit =
    RouteSupport.recoverRollup(rollupPath, "day")

  /** MAX parquet file count across day dirs — the segment proxy a
    * continuous maintainer bounds.
    */
  private[graft] def rollupSegments(rollupPath: String): Int =
    RouteSupport.foldableSegments(rollupPath, "day")

  def register(spark: SparkSession, rawPath: String,
      rollupPath: String): Unit =
    routes.put(RouteSupport.canon(spark, rawPath),
      (rollupPath, RouteSupport.sessionZone(spark))): Unit

  def deregister(spark: SparkSession, rawPath: String): Unit =
    routes.remove(RouteSupport.canon(spark, rawPath)): Unit

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
    this.synchronized {
      if (!existed) invalidate(roll)
      enable(spark)
      register(spark, s"$dir/events.parquet", roll)
    }
    roll
  }

  /** Loud engagement check — a declared routed query must FAIL if the
    * optimizer stopped serving it from the rollup.
    */
  def requireEngaged(df: DataFrame, rollupPath: String): Unit = {
    val engaged = df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation =>
          h.location.rootPaths.exists(_.toString.contains(rollupPath))
        case _ => false
      }
    }.exists(identity)
    require(engaged, s"quantile route failed to engage for $rollupPath:\n" +
      df.queryExecution.optimizedPlan)
  }

  /** Idempotently attach the rule to a live session. */
  def enable(spark: SparkSession): Unit = this.synchronized {
    if (!spark.experimental.extraOptimizations.exists(_ eq this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
  }

  // resolved-once rollup relations (shared scaffold)
  private val rollupRelations = new RouteSupport.RelationCache("day")

  def invalidate(rollupPath: String): Unit =
    rollupRelations.invalidate(rollupPath)

  private def routeFor(lr: LogicalRelation): Option[(String, String)] =
    lr.relation match {
      case h: HadoopFsRelation if h.location.rootPaths.size == 1 =>
        routes.get(h.location.rootPaths.head.toString)
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg: Aggregate => rewrite(agg).getOrElse(agg)
  }

  /** Same Project-inlining dance as [[KmvRoute.rewrite]] (the shared
    * [[RouteSupport.inlineProject]] preamble). */
  private def rewrite(agg: Aggregate): Option[LogicalPlan] = agg.child match {
    case lr: LogicalRelation =>
      routeFor(lr).flatMap { case (p, z) => buildRewrite(agg, lr, p, z) }
    case Project(projList, lr: LogicalRelation) =>
      routeFor(lr).flatMap { case (p, z) =>
        buildRewrite(RouteSupport.inlineProject(agg, projList, lr), lr, p, z) }
    case _ => None
  }

  private def buildRewrite(agg: Aggregate, lr: LogicalRelation,
      rollupPath: String, buildZone: String): Option[LogicalPlan] = {
    // a foreign-zone session's to_date grain is a DIFFERENT grouping
    // than the stored day buckets — the raw scan is its correct answer
    if (conf.sessionLocalTimeZone != buildZone) return None
    val rollRel = rollupRelations.relationFor(rollupPath).getOrElse(return None)
    val roll: Map[String, Attribute] = rollRel.output.map(a => a.name -> a).toMap
    if (!Seq("event_type", "day", "state").forall(roll.contains)) return None
    val m = RouteSupport.TsMatchers(
      lr.output.map(a => a.exprId -> a.name).toMap, buildZone)
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
            // different statistic the rollup cannot answer (r15)
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
    val leftover = newProj
      .flatMap(_.references).exists(lr.outputSet.contains)
    if (ok && !leftover)
      Some(Aggregate(Seq(roll("event_type"), roll("day")), newProj, rollRel))
    else None
  }
}
