package graft.plans

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import graft.operators.Artifacts

/** One materialized-view routing rule (yamon's `metrics_*_lts` views,
  * SURVEY.md §4): an `Aggregate` over a REGISTERED raw table is rewritten
  * onto the table's maintained rollup, a parquet tree partitioned by
  * `partCol`. The base is the one copy of what every family needs — the
  * registry keyed by the raw table's qualified root, the session hook,
  * the Project-inlining preamble, the build-zone gate, the resolved-once
  * rollup relation, the engagement check and the leased segment
  * maintenance — so a family ([[LtsRoute]], [[CorpusRoute]],
  * [[KmvRoute]], [[QuantileRoute]]) supplies only its rollup, its merge,
  * its target `T` and the expression match [[buildRewrite]].
  *
  * A rewrite that leaves any reference to the raw relation is dropped, so
  * a family's match can only route or decline, never half-route; output
  * attribute ids are the family's to keep so parent operators stay bound.
  */
private[plans] abstract class RollupRoute[T](partCol: String)
    extends Rule[LogicalPlan] {

  /** raw-table root path (fully qualified) → the family's target. */
  private val routes = TrieMap[String, T]()

  /** The rollup root a target reads. */
  protected def rollupPath(t: T): String

  /** The session zone a day-grain target's buckets were built under: a
    * session in another zone groups `to_date(ts)` into different days, so
    * the route declines there and the raw scan answers. None for a grain
    * no zone moves.
    */
  protected def buildZone(t: T): Option[String]

  /** Rollup columns the rewrite reads; a rollup missing one never routes. */
  protected def requiredColumns: Seq[String]

  /** The family's match: `agg`, re-rooted on the raw relation `lr`, as the
    * groupings and outputs of an aggregate over the rollup columns `roll`,
    * or None to leave the plan on the raw scan.
    */
  protected def buildRewrite(agg: Aggregate, lr: LogicalRelation,
      roll: Map[String, Attribute], t: T)
      : Option[(Seq[Expression], Seq[NamedExpression])]

  protected final def addRoute(spark: SparkSession, rawPath: String,
      t: T): Unit =
    routes.put(RouteSupport.canon(spark, rawPath), t): Unit

  def deregister(spark: SparkSession, rawPath: String): Unit =
    routes.remove(RouteSupport.canon(spark, rawPath)): Unit

  /** Idempotently attach the rule to a live session. */
  def enable(spark: SparkSession): Unit = this.synchronized {
    if (!spark.experimental.extraOptimizations.exists(_ eq this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
  }

  /** Serve an ensured rollup: drop the cached relation only when the
    * ensure (re)built it — a per-query invalidate would re-resolve the
    * relation on every routed query for nothing — then enable and
    * `register`.
    */
  protected final def install(spark: SparkSession, rollupPath: String,
      rebuilt: Boolean)(register: => Unit): Unit = this.synchronized {
    if (rebuilt) invalidate(rollupPath)
    enable(spark)
    register
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg: Aggregate => rewrite(agg).getOrElse(agg)
  }

  /** The optimizer pulls complex groupings into a child Project, so its
    * aliases inline back before the family matches raw columns.
    */
  private def rewrite(agg: Aggregate): Option[LogicalPlan] = agg.child match {
    case lr: LogicalRelation => routeFor(lr).flatMap(serve(agg, lr, _))
    case Project(projList, lr: LogicalRelation) =>
      routeFor(lr).flatMap(serve(inlineProject(agg, projList, lr), lr, _))
    case _ => None
  }

  // single-root only: a multi-path scan mixes registered and foreign data,
  // and routing it would drop the other paths' rows
  private def routeFor(lr: LogicalRelation): Option[T] = lr.relation match {
    case h: HadoopFsRelation if h.location.rootPaths.size == 1 =>
      routes.get(h.location.rootPaths.head.toString)
    case _ => None
  }

  private def inlineProject(agg: Aggregate, projList: Seq[NamedExpression],
      lr: LogicalRelation): Aggregate = {
    val aliasOf = projList.collect {
      case al: Alias => al.toAttribute.exprId -> al.child
    }.toMap
    def inline(e: Expression): Expression = e.transformUp {
      case a: AttributeReference if aliasOf.contains(a.exprId) =>
        aliasOf(a.exprId)
    }
    Aggregate(
      agg.groupingExpressions.map(inline),
      agg.aggregateExpressions.map(ne => inline(ne) match {
        case n: NamedExpression => n
        case other => Alias(other, ne.name)(exprId = ne.exprId)
      }),
      lr)
  }

  private def serve(agg: Aggregate, lr: LogicalRelation,
      t: T): Option[LogicalPlan] = {
    if (buildZone(t).exists(_ != conf.sessionLocalTimeZone)) return None
    val rel = relationFor(rollupPath(t)).getOrElse(return None)
    val roll = rel.output.map(a => a.name -> a).toMap
    if (!requiredColumns.forall(roll.contains)) return None
    buildRewrite(agg, lr, roll, t).collect {
      case (groupings, outputs) if !(groupings ++ outputs)
          .exists(_.references.exists(lr.outputSet.contains)) =>
        Aggregate(groupings, outputs, rel)
    }
  }

  /** Rollup relations, resolved once per path: resolving inside the
    * optimizer re-enters analysis and lists files on every plan.
    * `newInstance()` refreshes exprIds per use, so two routed aggregates
    * in one query never collide.
    *
    * A MISS declines while crash residue persists: a fresh listing during
    * a compaction's aside-rename window would see a `partCol=X.old-…` dir
    * and either drop partition X or infer the aside's name as a value, and
    * the raw scan is always correct. A HIT resolved against a healthy
    * listing; a swap landing before execution fails the read loudly
    * (missing file), never silently, and the maintainer's invalidate after
    * the swap re-resolves the next query.
    */
  private val relations = TrieMap[String, LogicalRelation]()

  private def relationFor(path: String): Option[LogicalRelation] =
    relations.get(path).orElse {
      if (RouteSupport.settledResidue(path, partCol).nonEmpty) None
      else {
        val rel = SparkSession.active.read.parquet(path)
          .queryExecution.analyzed
          .collectFirst { case l: LogicalRelation => l }
        rel.foreach(relations.put(path, _))
        rel
      }
    }.map(_.newInstance())

  /** Drop the cached relation for a rollup whose FILES changed: maintenance
    * publishes segment files and compacts partitions, and a stale listing
    * would miss the new segments or read deleted files.
    */
  def invalidate(rollupPath: String): Unit = relations.remove(rollupPath): Unit

  /** Loud engagement check: a declared routed query must FAIL if the
    * optimizer stopped serving it from the rollup, never silently fall
    * back to the raw scan.
    */
  def requireEngaged(df: DataFrame, rollupPath: String): Unit = {
    val plan = df.queryExecution.optimizedPlan
    require(plan.exists {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation =>
          h.location.rootPaths.exists(_.toString.contains(rollupPath))
        case _ => false
      }
      case _ => false
    }, s"$ruleName failed to engage for $rollupPath:\n$plan")
  }

  /** MAX FOLDABLE parquet file count across the partition dirs — the
    * segment proxy a continuous maintainer bounds (carried unmarked-ledger
    * orphans excluded; see [[Artifacts.maxFoldableSegmentsIn]]).
    */
  private[graft] def rollupSegments(rollupPath: String): Int =
    Artifacts.maxFoldableSegmentsIn(rollupPath, s"$partCol=")

  /** Partition-local segment compaction under the maintenance lease:
    * every partition dir past `maxSegments` files re-folds through the
    * family's `merge` (the same multiset of partials by its algebra, so
    * routed answers are untouched) and swaps in atomically. `owner` =
    * Some(streamId) compacts on a stream's behalf and keeps its lease
    * standing; None leases as a unique scoped owner.
    */
  protected final def compact(spark: SparkSession, rollupPath: String,
      maxSegments: Int, owner: Option[String])(
      merge: DataFrame => DataFrame): Unit = {
    val (id, sticky) = Artifacts.leaseFor(owner)
    Artifacts.withLease(rollupPath, id, sticky) {
      RouteSupport.compactPartitions(spark, rollupPath, partCol,
        maxSegments)(merge)
      invalidate(rollupPath)
    }
  }

  /** The streaming / exactly-once append of `delta`: `tag` = (streamId,
    * batchId) makes a replay of the last uncommitted batch overwrite its
    * own segment files (the `seg-` namespace, foldable at once); an
    * untagged call publishes under a unique adhoc tag and needs an
    * exactly-once caller (or a multiplicity-invariant state).
    */
  protected final def append(spark: SparkSession, rollupPath: String,
      tag: Option[(String, String)], maxSegments: Int, delta: => DataFrame)(
      merge: DataFrame => DataFrame): Unit =
    publish(spark, rollupPath, tag, Artifacts.segPrefix(tag), maxSegments,
      delta, committed = false, commit = ())(merge)

  /** The batch-ledgered upsert for AT-LEAST-ONCE batch callers: a MARKED
    * re-delivery is skipped, an unmarked one overwrites its own `segb-`
    * files and marks the tag committed ([[Artifacts.ledgerPrefix]]).
    */
  protected final def upsert(spark: SparkSession, rollupPath: String,
      batchTag: Option[(String, String)], maxSegments: Int,
      delta: => DataFrame)(merge: DataFrame => DataFrame): Unit = {
    require(new java.io.File(rollupPath).isDirectory,
      s"upsertRollup on $rollupPath with no rollup — build it first")
    publish(spark, rollupPath, batchTag,
      batchTag.map(Artifacts.ledgerPrefix).getOrElse(Artifacts.segPrefix(None)),
      maxSegments, delta,
      committed = batchTag.exists(Artifacts.isCommitted(rollupPath, _)),
      commit = batchTag.foreach(Artifacts.markCommitted(rollupPath, _)))(merge)
  }

  /** The ONE tagged-segment maintenance body, so an ordering or
    * crash-window fix cannot miss a route: the write-zone gate
    * ([[RouteSupport.requireWriteZone]]), then under the maintenance
    * lease — recover, skip a `committed` re-delivery, delete-own-tag,
    * compact past the foldable bound (as the tag's stream when tagged),
    * blind tagged staged publish, `commit`, invalidate.
    *
    * Delete-own-tag runs BEFORE the compaction: compaction folds tagged
    * segments into untagged files, so it must only ever fold committed
    * batches' tags. Structured Streaming replays only the last
    * uncommitted batch, so a replay entering here removes its own crashed
    * residue first and the compaction then folds only earlier tags;
    * compacting after the append would fold the current batch's own tag
    * before its commit, and a crash there would re-append it.
    */
  private def publish(spark: SparkSession, rollupPath: String,
      tag: Option[(String, String)], prefix: String, maxSegments: Int,
      delta: => DataFrame, committed: => Boolean, commit: => Unit)(
      merge: DataFrame => DataFrame): Unit = {
    RouteSupport.requireWriteZone(spark, rollupPath, ruleName)
    val (owner, sticky) = Artifacts.leaseIdentity(tag)
    Artifacts.withLease(rollupPath, owner, sticky) {
      RouteSupport.recoverRollup(rollupPath, partCol)
      if (!committed) {
        if (tag.isDefined)
          Artifacts.deleteTaggedFiles(rollupPath, s"$partCol=", prefix)
        if (rollupSegments(rollupPath) > maxSegments)
          compact(spark, rollupPath, maxSegments, tag.map(_._1))(merge)
        RouteSupport.stagePublish(rollupPath, delta, partCol, prefix)
        commit
        invalidate(rollupPath)
      }
    }
  }

  /** The re-aggregation match of the additive families ([[LtsRoute]],
    * [[CorpusRoute]]): every grouping and output is rebuilt over the
    * rollup — a raw column through `column` (None: not a rollup key), an
    * expression `measure` claims through it (None: claimed but not
    * re-aggregable), anything else child by child. It declines on a
    * DISTINCT or FILTER aggregate, on any aggregate `measure` does not
    * claim (walking into its arguments would route it with wrong
    * semantics), and on a nondeterministic expression, which draws once
    * per INPUT row and would redraw over the rollup's rows instead. Top
    * level dimension columns keep their exprIds so parents stay bound.
    */
  protected final def reaggregate(agg: Aggregate, lr: LogicalRelation)(
      column: String => Option[Attribute],
      measure: PartialFunction[Expression, Option[Expression]])
      : Option[(Seq[Expression], Seq[NamedExpression])] = {
    def key(e: Expression) = RouteSupport.rawColumn(lr, e).flatMap(column)
    var ok = true
    def fail(): Expression = { ok = false; Literal(null) }
    def rw(e: Expression): Expression = e match {
      case ae: AggregateExpression if ae.isDistinct || ae.filter.nonEmpty =>
        fail()
      case m if measure.isDefinedAt(m) => measure(m).getOrElse(fail())
      case _: AggregateExpression => fail()
      case a: AttributeReference => key(a).getOrElse(fail())
      case _: Literal => e
      case other if !other.deterministic => fail()
      case other if other.children.nonEmpty => other.mapChildren(rw)
      case _ => fail()
    }
    val groupings = agg.groupingExpressions.map(rw)
    val outputs: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case a: AttributeReference => key(a) match {
        case Some(m) => Alias(m, a.name)(exprId = a.exprId)
        case None => ok = false; a
      }
      case al: Alias =>
        Alias(rw(al.child), al.name)(exprId = al.exprId, qualifier = al.qualifier)
      case other => rw(other) match {
        case ne: NamedExpression => ne
        case _ => ok = false; other
      }
    }
    if (ok) Some((groupings, outputs)) else None
  }
}
