package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{DateType, IntegerType, LongType, TimestampType}

/** The zone discipline, the normalized-ts/day-grain plan matchers and
  * the segment-file steps (staged publish, compaction, crash recovery)
  * of every maintained rollup — one implementation, so a matcher, zone
  * or protocol fix cannot miss a route. [[RollupRoute]] runs them.
  */
private[plans] object RouteSupport {

  def sessionZone(spark: SparkSession): String =
    spark.sessionState.conf.sessionLocalTimeZone

  def canon(spark: SparkSession, path: String): String = {
    val hp = new org.apache.hadoop.fs.Path(path)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(hp).toString
  }

  /** The incremental-WRITE zone gate: an upsert's `to_date(ts)` grain
    * runs under the CURRENT session zone, so a
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

  /** The raw relation column `e` references directly, by name. */
  def rawColumn(lr: LogicalRelation, e: Expression): Option[String] =
    e match {
      case a: AttributeReference =>
        lr.output.find(_.exprId == a.exprId).map(_.name)
      case _ => None
    }

  /** Zone-aware matchers over the normalized events schema — the ONE
    * definition of "this expression is the normalized event timestamp"
    * and "this is its day grain", so a cast's zone is checked the same
    * way by every day-grain route.
    */
  final case class TsMatchers(lr: LogicalRelation, buildZone: String) {

    def isRawAttr(e: Expression, name: String): Boolean =
      rawColumn(lr, e).contains(name)

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
    val dirs = Artifacts.overweightFoldableDirs(rollupPath, s"$partCol=",
      maxSegments)
    if (dirs.isEmpty) return
    // the batch-ledger fold gate: an UNMARKED `segb-` segment —
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
      .parquet(fold.map(_.getPath).toSeq: _*))
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

  /** Heal a maintained rollup at maintenance entry: complete or roll
    * back crashed partition-dir swaps, and sweep crashed staged-append
    * trees (`.tmp-stage-*` — dot-prefixed, so a live reader never saw
    * them; without the sweep a long-running maintainer that crashes
    * mid-batch leaks one orphan tree per crash).
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
