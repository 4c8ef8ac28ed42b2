package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StringType}
import graft.functions.{KmvAgg, KmvMergeAgg}

/** SKETCH-PARTIAL materialized-view routing — [[CorpusRoute]]'s
  * pattern extended past re-aggregable integers to a MERGEABLE SKETCH:
  * the per-day distinct-users panel (q_distinct_approx — the dashboard
  * query of the event surface) recomputes a KMV sketch over the corpus
  * on every refresh, while the corpus changes rarely. A registered
  * events table gets a companion per-day rollup of KMV PARTIAL STATES
  * ([[rollupOf]] — [[graft.functions.KmvStateAgg]]'s k-minima arrays),
  * and any `Aggregate` over the raw table whose grouping is the day of
  * the event timestamp and whose measure is the engine's md5-tier KMV
  * sketch ([[graft.functions.KmvAgg]] at spaceBits=60 over the h60 user
  * hash) is rewritten to MERGE the stored states instead
  * ([[graft.functions.KmvMergeAgg]]).
  *
  * Exactness is the sketch's merge-closure, not approximation-on-
  * approximation: the union of per-slice k-minima contains the global
  * k-minima and the estimator is a pure function of that set, so routed
  * plans are HASH-IDENTICAL to the raw recompute (the driver checks
  * q_distinct_approx against the same DuckDB raw-replay oracle either
  * way) while reading #days rows instead of the corpus — at 100 TB the
  * difference between a dashboard refresh and a full scan. Maintenance
  * is replay-idempotent BY VALUE (unlike the additive CorpusRoute
  * partials): KMV is multiplicity-invariant, so [[upsertRollup]] on a
  * re-delivered slice converges to the same states.
  *
  * Anything not this exact shape — a different hash, a different grain,
  * extra measures, filters/distinct — leaves the plan untouched and
  * scans raw, the [[CorpusRoute]]/[[LtsRoute]] conservatism.
  */
object KmvRoute extends RollupRoute[(String, Int, String)]("day") {

  /** A route's target: (rollup path, sketch k, BUILD TIMEZONE). The zone
    * rides along because the rollup's day grain is `to_date(ts)` — a
    * timezone-DEPENDENT cast: states built under zone X answer day-bucket
    * questions asked under zone X only, so a session with a different
    * `spark.sql.session.timeZone` scans raw.
    */
  protected def rollupPath(t: (String, Int, String)): String = t._1
  protected def buildZone(t: (String, Int, String)): Option[String] =
    Some(t._3)
  protected val requiredColumns: Seq[String] = Seq("day", "state")

  /** The maintained rollup: one row per day with the KMV partial state
    * of the day's user hashes — the EXACT sketch family (md5 60-bit
    * space, same k) q_distinct_approx declares, so merging a day's
    * state reproduces its estimate bit-for-bit.
    */
  def rollupOf(events: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.functions.VectorFunctions.ensureRegistered(events.sparkSession)
    events.groupBy(to_date(col("ts")).as("day"))
      .agg(graft.functions.VectorFunctions.kmvStateExact(
        graft.operators.TextOps.h60(col("user_id").cast("string")), k)
        .as("state"))
  }

  /** Incremental maintenance for an APPEND batch — the BATCH-caller
    * entry, crash-exact end to end: the batch's per-day states land as
    * blind segment files by staged write + per-file rename (the
    * [[appendRollup]] machinery — no read of existing state, no delete
    * of live state at ANY crash point), auto-compacted past
    * `maxSegments`, and the route's [[graft.functions.KmvMergeAgg]]
    * re-merge folds segments back to the day's k-minima at read —
    * bit-identical to a read-merge-overwrite by merge-closure. The NULL
    * day appends like any other touched day; no step overwrites a day,
    * so the stored null-day state is never lost.
    *
    * Replay-exactness needs NO ledger here — KMV states are
    * multiplicity-invariant, so ANY re-delivery (even of a batch a
    * compaction already folded) adds duplicate state rows the re-merge
    * absorbs exactly. `batchTag` still buys the replay ECONOMY of the
    * ledgered routes: a marked re-delivery is skipped outright and an
    * unmarked one overwrites its own crashed files instead of
    * accumulating absorbed-but-stored duplicates.
    */
  def upsertRollup(spark: SparkSession, rollupPath: String,
      newEvents: DataFrame, k: Int,
      batchTag: Option[(String, String)] = None,
      maxSegments: Int = 8): Unit =
    upsert(spark, rollupPath, batchTag, maxSegments,
      rollupOf(newEvents, k))(remerge(k))

  /** BLIND segment append — the streaming maintenance entry's write
    * half ([[graft.streaming.RollupStream.kmvAppendStream]]): the
    * batch's per-day states land as ONE new file per touched day dir
    * (staged write + per-file rename — no read of existing state,
    * O(batch) work however large the rollup), and the route's
    * [[graft.functions.KmvMergeAgg]] re-merge folds segments back to
    * the day's k-minima at read. KMV is the one rollup family where
    * blind appends need NO replay machinery AT ALL — not even the
    * file-tag protocol: a re-delivered batch adds duplicate state rows,
    * and the k-minima union is multiplicity-invariant, so replays are
    * absorbed even AFTER a compaction has folded the original (the case
    * the tagged families must forbid by contract).
    */
  def appendRollup(spark: SparkSession, rollupPath: String,
      newEvents: DataFrame, k: Int): Unit = {
    require(new java.io.File(rollupPath).isDirectory,
      s"appendRollup on $rollupPath with no rollup — build it first")
    // untagged entry — scoped unique-owner lease: excludes OVERLAPPING
    // maintenance (the physical swap/rename races), while KMV's
    // multiplicity-invariance needs no standing replay window
    append(spark, rollupPath, None, Int.MaxValue,
      rollupOf(newEvents, k))(remerge(k))
  }

  /** The per-batch STREAMING maintenance entry: day-local compaction
    * past the bound, then the blind append. No delete-own-tag step —
    * see [[appendRollup]]: multiplicity-invariance absorbs any replay,
    * so the ordering carries no replay contract here, only file
    * economy.
    */
  def maintainRollup(spark: SparkSession, rollupPath: String,
      newEvents: DataFrame, k: Int, maxSegments: Int = 8): Unit =
    append(spark, rollupPath, None, maxSegments,
      rollupOf(newEvents, k))(remerge(k))

  /** DAY-local segment compaction through [[remerge]]. */
  def compactDays(spark: SparkSession, rollupPath: String, k: Int,
      maxSegments: Int = 1, owner: Option[String] = None): Unit =
    compact(spark, rollupPath, maxSegments, owner)(remerge(k))

  /** Re-sketch the union of a day's stored minima back to one state row:
    * a stored state's elements ARE hash values, and the k-minima of
    * unioned k-minima sets equal the global k-minima.
    */
  private def remerge(k: Int)(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.functions.VectorFunctions.ensureRegistered(df.sparkSession)
    df.select(col("day"), explode(col("state")).as("h"))
      .groupBy("day")
      .agg(graft.functions.VectorFunctions.kmvStateExact(col("h"), k)
        .as("state"))
  }

  def register(spark: SparkSession, rawPath: String, rollupPath: String,
      k: Int): Unit =
    addRoute(spark, rawPath, (rollupPath, k, RouteSupport.sessionZone(spark)))

  /** Build (once per dataset fingerprint, at ingest) the per-day state
    * rollup for the REAL events table, register raw→rollup, and enable
    * the rule — after this, q_distinct_approx and its SQL twin are
    * served from #days stored states with no query change. Returns the
    * rollup path.
    */
  def ensureArtifacts(spark: SparkSession, dir: String,
      k: Int = graft.operators.EventOps.kmvOracleK): String = {
    // zone-keyed, _meta-pinned, two-JVM-safe — the shared
    // [[RouteSupport.zonedRollupEnsure]] scaffold (the zone discipline
    // lives there once for every day-grain route)
    val (roll, existed) = RouteSupport.zonedRollupEnsure(spark, dir,
      s"kmv_route_v1_k$k") { tmp =>
      rollupOf(graft.Tables.events(spark, dir), k).coalesce(1)
        .write.partitionBy("day").parquet(s"$tmp/rollup")
    }
    install(spark, roll, rebuilt = !existed)(
      register(spark, s"$dir/events.parquet", roll, k))
    roll
  }

  protected def buildRewrite(agg: Aggregate, lr: LogicalRelation,
      roll: Map[String, Attribute], t: (String, Int, String))
      : Option[(Seq[Expression], Seq[NamedExpression])] = {
    val (_, k, buildZone) = t
    val m = RouteSupport.TsMatchers(lr, buildZone)
    import m.{isRawAttr, isDayOfTs}
    // the exact h60-of-user_id chain q_distinct_approx hashes with
    // (TextOps.h60): conv(substring(md5(user_id::string::binary),1,15),
    // 16,10)::long — a drifted hash must NOT route (different minima)
    def isH60OfUser(e: Expression): Boolean = e match {
      case outer: Cast if outer.dataType == LongType => outer.child match {
        case conv: Conv => conv.children.take(3) match {
          case Seq(sub: Substring, Literal(16, IntegerType),
              Literal(10, IntegerType)) =>
            sub.children match {
              case Seq(md5e: Md5, Literal(1, IntegerType),
                  Literal(15, IntegerType)) =>
                md5e.child match {
                  case bin: Cast if bin.dataType == BinaryType =>
                    bin.child match {
                      case str: Cast if str.dataType == StringType =>
                        isRawAttr(str.child, "user_id")
                      case _ => false
                    }
                  case _ => false
                }
              case _ => false
            }
          case _ => false
        }
        case _ => false
      }
      case _ => false
    }

    // exactly one grouping: the day of ts
    if (agg.groupingExpressions.size != 1 ||
      !isDayOfTs(agg.groupingExpressions.head)) return None

    var ok = true
    val newAggExprs: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case al: Alias => al.child match {
        case g if isDayOfTs(g) =>
          Alias(roll("day"), al.name)(exprId = al.exprId,
            qualifier = al.qualifier)
        case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
          ae.aggregateFunction match {
            case kmv: KmvAgg if kmv.spaceBits == 60 && kmv.k == k &&
                isH60OfUser(kmv.child) =>
              Alias(ae.copy(aggregateFunction =
                KmvMergeAgg(roll("state"), k, spaceBits = 60)),
                al.name)(exprId = al.exprId, qualifier = al.qualifier)
            case _ => ok = false; al
          }
        case _ => ok = false; al
      }
      // a bare day attribute reference is only producible via a child
      // Project alias, which the inline pass already substituted —
      // anything else conservatively stays raw
      case other => ok = false; other
    }
    if (ok) Some((Seq(roll("day")), newAggExprs)) else None
  }
}
