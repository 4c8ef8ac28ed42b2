package graft.plans

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{DateType, IntegerType, LongType, TimestampType}

/** Scaffolding shared by the routing rules — extracted (r14 review
  * pass) because the r13-ADVICE timezone fixes had to be
  * hand-replicated between them: the zone discipline, the
  * normalized-ts/day-grain plan matchers, the resolved-once
  * rollup-relation cache, the Project-inlining rewrite preamble and the
  * tagged-segment maintenance protocol every maintained rollup
  * ([[KmvRoute]], [[QuantileRoute]], [[CorpusRoute]], [[LtsRoute]])
  * appends through are ONE audited implementation, so the next matcher,
  * zone or protocol fix cannot silently miss a route.
  */
private[plans] object RouteSupport {

  def sessionZone(spark: SparkSession): String =
    spark.sessionState.conf.sessionLocalTimeZone

  def canon(spark: SparkSession, path: String): String = {
    val hp = new org.apache.hadoop.fs.Path(path)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(hp).toString
  }

  /** The incremental-WRITE zone gate (review-found, r14): an upsert's
    * `to_date(ts)` grain runs under the CURRENT session zone, so a
    * maintainer session whose zone differs from the rollup's build
    * zone would fold delta states into FOREIGN day buckets — silently
    * corrupting the states the route serves as build-zone answers,
    * the exact drifted-grain hazard the read-side zone gates refuse.
    * The ensure layout records `zone=` in the rollup root's sibling
    * `_meta`; when that marker exists the zones must match. A bare
    * hand-built rollup (a spec's temp dir) carries no marker — grain
    * consistency is then the caller's contract, as for any
    * hand-maintained table.
    */
  def requireWriteZone(spark: SparkSession, rollupPath: String,
      what: String): Unit = {
    val meta = new java.io.File(
      new java.io.File(rollupPath).getParentFile, "_meta")
    graft.operators.Artifacts.parseKvFile(meta)
      .flatMap(_.get("zone")).foreach { z =>
        require(z == sessionZone(spark),
          s"$what at $rollupPath was built under zone '$z' but this " +
            s"session writes under '${sessionZone(spark)}' — folding " +
            "deltas across zones corrupts the stored day buckets; align " +
            "spark.sql.session.timeZone with the artifact or rebuild it")
      }
  }

  /** Resolved-once rollup relations, per route (the LtsRoute
    * ltsRelations rationale: resolving inside the optimizer re-enters
    * analysis — do it once, refresh on invalidate after maintenance
    * rewrites the files).
    *
    * Residue discipline (r14 review): a FRESH resolution during a
    * compaction's aside-rename window would list a `partCol=X.old-…`
    * dir — partition discovery either drops day X silently or infers
    * the aside's name as a string partition value — so a cache MISS
    * first checks [[settledResidue]] and DECLINES (None → the route
    * stays raw, which is always correct) while residue persists. A
    * cache HIT resolved against a healthy listing; if a swap lands
    * between resolution and execution the read fails LOUDLY
    * (missing-file), never silently — and the maintainer's own
    * invalidate-after-swap re-resolves the next query.
    */
  final class RelationCache(partCol: String) {
    private val cache = TrieMap[String, LogicalRelation]()

    def invalidate(path: String): Unit = cache.remove(path): Unit

    def relationFor(path: String): Option[LogicalRelation] =
      cache.get(path).orElse {
        if (settledResidue(path, partCol).nonEmpty) None
        else {
          val rel = SparkSession.active.read.parquet(path)
            .queryExecution.analyzed
            .collectFirst { case l: LogicalRelation => l }
          rel.foreach(cache.put(path, _))
          rel
        }
      }.map(_.newInstance())
  }

  /** The Project-inlining preamble every route's rewrite runs: the
    * optimizer pulls complex groupings into a child Project, so aliases
    * inline back before shape-matching against the raw columns. Returns
    * the aggregate re-rooted directly on the relation.
    */
  def inlineProject(agg: Aggregate, projList: Seq[NamedExpression],
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

  /** Zone-aware matchers over the normalized events schema — the ONE
    * definition of "this expression is the normalized event timestamp"
    * and "this is its day grain" (previously two verbatim copies the
    * r13-ADVICE timeZoneId fixes had to chase into each).
    */
  final case class TsMatchers(rawName: Map[ExprId, String],
      buildZone: String) {

    def isRawAttr(e: Expression, name: String): Boolean = e match {
      case a: AttributeReference => rawName.get(a.exprId).contains(name)
      case _ => false
    }

    /** The normalized event timestamp in every generation Tables.events
      * produces: a plain ts attribute (timestamp files), cast-from-NTZ,
      * or timestamp_micros(ts div 1000) (nanos-as-long files). Casts
      * must carry the BUILD zone (or none) — a resolver-stamped foreign
      * zone shifts instants.
      */
    def isNormalizedTs(e: Expression): Boolean = e match {
      case a: AttributeReference => isRawAttr(a, "ts")
      case c: Cast if c.dataType == TimestampType &&
          c.timeZoneId.forall(_ == buildZone) => isNormalizedTs(c.child)
      case m: MicrosToTimestamp => m.child match {
        case d: IntegralDivide =>
          isRawAttr(d.left, "ts") && (d.right match {
            case Literal(v: Long, LongType) => v == 1000L
            case Literal(v: Int, IntegerType) => v == 1000
            case _ => false
          })
        case _ => false
      }
      case _ => false
    }

    /** The rollup's day grain: to_date(ts) — Cast to DateType after the
      * optimizer replaced ParseToDate (groupings may still carry an
      * alias when a rule runs before RemoveRedundantAliases settles).
      * The cast's OWN timeZoneId must be the build zone too.
      */
    def isDayOfTs(e: Expression): Boolean = e match {
      case al: Alias => isDayOfTs(al.child)
      case c: Cast if c.dataType == DateType &&
          c.timeZoneId.forall(_ == buildZone) => isNormalizedTs(c.child)
      case _ => false
    }
  }

  /** Blind tagged-segment publish of a delta frame into a partitioned
    * rollup: staged write, per-file rename into the live partition dirs
    * under `prefix` (atomic on a local fs) — O(delta) work, no read of
    * existing state. The shared write half of every tagged rollup
    * append. Stages INSIDE the rollup as a dot-prefixed dir (invisible
    * to parquet readers while staging — the TagIndex pattern), so
    * [[recoverRollup]] can sweep a crashed attempt's leftovers.
    */
  def stagePublish(rollupPath: String, delta: DataFrame,
      partCol: String, prefix: String): Unit = {
    import graft.operators.Artifacts
    val stage = s"$rollupPath/.tmp-stage-${java.util.UUID.randomUUID()}"
    delta.coalesce(1).write.partitionBy(partCol).parquet(stage)
    Artifacts.publishStagedFiles(stage, rollupPath, s"$partCol=", prefix)
    Artifacts.rmTree(new java.io.File(stage))
  }

  /** Partition-local segment compaction for a maintained rollup: every
    * `partCol=` dir past `maxSegments` files is re-folded through the
    * route's own `merge` (the per-group partial re-aggregation — the
    * same multiset by each route's algebra, so routed answers are
    * untouched) and swapped in atomically through the shared crash
    * protocol.
    */
  def compactPartitions(spark: SparkSession, rollupPath: String,
      partCol: String, maxSegments: Int)(
      merge: DataFrame => DataFrame)
      : Unit = {
    import graft.operators.Artifacts
    recoverRollup(rollupPath, partCol)
    // the work list counts only FOLDABLE files: a dir overweight
    // purely from carried (unmarked segb-) orphans is left alone —
    // rewriting it would converge nothing and repeat forever
    // (review-found, r15)
    val dirs = Artifacts.overweightFoldableDirs(rollupPath, s"$partCol=",
      maxSegments)
    if (dirs.isEmpty) return
    // the batch-ledger fold gate (r15): an UNMARKED `segb-` segment —
    // a ledgered batch append that crashed before its commit marker —
    // must not fold untagged (its caller will replay by delete-own-tag,
    // which only matches files still CARRYING the tag); it rides
    // through the rewrite by copy instead. Live originals stay until
    // the swap lands, so no crash point loses them.
    val (fold, carry) = dirs.flatMap(d =>
        Option(d.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
          .filter(_.getName.endsWith(".parquet")))
      .partition(f => Artifacts.foldableFile(rollupPath)(f.getName))
    if (fold.isEmpty) return // cannot happen given the work list; belt
    val stage = s"$rollupPath/.tmp-stage-${java.util.UUID.randomUUID()}"
    merge(spark.read.option("basePath", rollupPath)
      .parquet(fold.map(_.getPath): _*))
      .coalesce(1)
      .write.partitionBy(partCol).parquet(stage)
    for (f <- carry) {
      val sd = new java.io.File(stage, f.getParentFile.getName)
      sd.mkdirs()
      java.nio.file.Files.copy(f.toPath,
        new java.io.File(sd, f.getName).toPath): Unit
    }
    Artifacts.swapStagedDirs(spark, stage, dirs.toSeq)
  }

  /** MAX FOLDABLE parquet file count across a rollup's partition dirs —
    * the segment proxy every route's maintenance triggers bound
    * (carried unmarked-ledger orphans deliberately excluded; see
    * [[graft.operators.Artifacts.maxFoldableSegmentsIn]]).
    */
  def foldableSegments(rollupPath: String, partCol: String): Int =
    graft.operators.Artifacts.maxFoldableSegmentsIn(rollupPath,
      s"$partCol=")

  /** The ONE tagged-segment maintenance body every route's append
    * entry runs, so an ordering or crash-window fix cannot miss a
    * route: under the maintenance lease — recover, skip a `committed`
    * re-delivery, delete-own-tag, compact past the foldable bound (as
    * the same lease owner), blind tagged staged publish, `commit`,
    * invalidate. Routes differ only in partition column, delta
    * construction and compactor — passed in.
    *
    * Delete-own-tag runs BEFORE the compaction: compaction folds
    * tagged segments into untagged files, so it must only ever fold
    * committed batches' tags. Structured Streaming replays only the
    * last uncommitted batch, so a replay entering here removes its own
    * crashed residue first and the compaction then folds only earlier
    * tags; compacting after the append would fold the current batch's
    * own tag before its commit, and a crash there would re-append it.
    */
  private def publishSegment(rollupPath: String, partCol: String,
      tag: Option[(String, String)], prefix: String, maxSegments: Int,
      delta: => DataFrame, compact: String => Unit, invalidate: () => Unit,
      committed: => Boolean, commit: => Unit): Unit = {
    import graft.operators.Artifacts
    val (owner, sticky) = Artifacts.leaseIdentity(tag)
    Artifacts.withLease(rollupPath, owner, sticky) {
      recoverRollup(rollupPath, partCol)
      if (!committed) {
        if (tag.isDefined)
          Artifacts.deleteTaggedFiles(rollupPath, s"$partCol=", prefix)
        if (foldableSegments(rollupPath, partCol) > maxSegments)
          compact(owner)
        stagePublish(rollupPath, delta, partCol, prefix)
        commit
        invalidate()
      }
    }
  }

  /** The streaming / exactly-once append: `tag` = (streamId, batchId)
    * makes a replay of the last uncommitted batch overwrite its own
    * segment files (the `seg-` namespace, foldable at once); an
    * untagged call publishes under a unique adhoc tag and needs an
    * exactly-once caller (or a multiplicity-invariant state).
    */
  def taggedAppend(rollupPath: String, partCol: String,
      tag: Option[(String, String)], maxSegments: Int, delta: => DataFrame,
      compact: String => Unit, invalidate: () => Unit): Unit =
    publishSegment(rollupPath, partCol, tag,
      graft.operators.Artifacts.segPrefix(tag), maxSegments, delta, compact,
      invalidate, committed = false, commit = ())

  /** The batch-ledgered upsert for AT-LEAST-ONCE batch callers: a
    * MARKED re-delivery is skipped, an unmarked one overwrites its own
    * `segb-` files and marks the tag committed
    * ([[graft.operators.Artifacts.ledgerPrefix]]).
    */
  def ledgeredUpsert(rollupPath: String, partCol: String,
      batchTag: Option[(String, String)], maxSegments: Int,
      delta: => DataFrame, compact: String => Unit,
      invalidate: () => Unit): Unit = {
    import graft.operators.Artifacts
    require(new java.io.File(rollupPath).isDirectory,
      s"upsertRollup on $rollupPath with no rollup — build it first")
    publishSegment(rollupPath, partCol, batchTag,
      batchTag.map(Artifacts.ledgerPrefix).getOrElse(Artifacts.segPrefix(None)),
      maxSegments, delta, compact, invalidate,
      committed = batchTag.exists(Artifacts.isCommitted(rollupPath, _)),
      commit = batchTag.foreach(Artifacts.markCommitted(rollupPath, _)))
  }

  /** Heal a maintained rollup at maintenance entry: complete or roll
    * back crashed partition-dir swaps, and sweep crashed staged-append
    * trees (`.tmp-stage-*` — dot-prefixed, so a live reader never saw
    * them; without the sweep a long-running maintainer that crashes
    * mid-batch leaks one orphan tree per crash — r14 review).
    */
  def recoverRollup(rollupPath: String, partCol: String): Unit = {
    import graft.operators.Artifacts
    Artifacts.recoverDirSwaps(rollupPath, s"$partCol=")
    Artifacts.sweepStageTrees(rollupPath)
  }

  /** Crash-residue among a rollup's partition dirs that OUTLIVES a
    * healthy swap's patience window — the routes' read-side refusal
    * signal ([[graft.operators.Artifacts.settledDirResidue]]): an
    * aside-renamed `partCol=X.old-…` dir in a freshly-resolved file
    * listing would silently DROP day X (or partition-infer the aside's
    * name as a string value), so a route must decline to serve while
    * one exists — the raw scan is the correct answer there.
    */
  def settledResidue(rollupPath: String, partCol: String): Seq[String] =
    graft.operators.Artifacts.settledDirResidue(rollupPath, s"$partCol=")

  /** The zone-keyed rollup-ensure scaffold shared by the day-grain
    * routes: the build zone is part of the artifact identity (path key,
    * sanitized) AND pinned exactly by the in-tree `_meta` the
    * completeness predicate checks — a sanitize-collision or
    * hand-moved tree refuses rather than serving another zone's day
    * buckets. `writeRollup` stages the rollup under `<tmp>/rollup`.
    * Returns (rollup path, whether a complete artifact already existed
    * — callers skip their relation-cache invalidate on a pure reuse).
    */
  def zonedRollupEnsure(spark: SparkSession, dir: String,
      artifactName: String)(writeRollup: String => Unit): (String, Boolean) = {
    val zone = sessionZone(spark)
    val zoneKey = zone.replaceAll("[^A-Za-z0-9._-]", "_")
    val base = graft.operators.Artifacts.datasetRoot(dir, "events",
      s"${artifactName}_z$zoneKey")
    val roll = s"$base/rollup"
    def complete(p: String): Boolean =
      new java.io.File(s"$p/rollup/_SUCCESS").exists() &&
        graft.operators.Artifacts.parseKvFile(new java.io.File(s"$p/_meta"))
          .exists(_.get("zone").contains(zone))
    val existed =
      new java.io.File(s"$base/_SUCCESS").exists() && complete(base)
    graft.operators.Artifacts.ensureRoot(base)(complete) { tmp =>
      writeRollup(tmp)
      java.nio.file.Files.write(new java.io.File(s"$tmp/_meta").toPath,
        s"zone=$zone\n".getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
    }
    (roll, existed)
  }
}
