package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{DecimalType, StringType}

/** LTS query routing (SURVEY.md §4; ref: res/schema.sql:22-37,54-69): the
  * reference keeps 1-minute materialized rollups (`metrics_*_lts`) beside
  * each raw table and serves history queries from them. Spark-first, that
  * is a `Rule[LogicalPlan]`: an `Aggregate` over a REGISTERED raw table
  * whose time grouping is `date_trunc` at minute-or-coarser grain and whose
  * measures are decimal sums / counts is rewritten onto the downsampled
  * table — `sum(cast(value as decimal))` → `sum(sum_value)`, `count(*)` →
  * `sum(n)`, `date_trunc(u, time)` → `date_trunc(u, bucket)` (idempotent
  * coarsening). Decimal re-aggregation is exact, so routed plans are
  * bit-identical to raw scans while reading ~1/rows-per-minute of the data
  * — at 100 TB the difference between a full-history scan and an index hit.
  * Because the rewrite re-aggregates, the rollup may hold several partial
  * rows per (bucket, dims) key — one per maintained segment
  * ([[maintainRollup]]) — like the partial parts a MergeTree merges later.
  *
  * Rewrites happen only when EVERY grouping/aggregate expression is
  * re-aggregable from the rollup; anything else (raw-grain groupings,
  * percentiles, distinct counts) leaves the plan untouched. Output
  * attribute ids and types are preserved (sums re-cast to their original
  * decimal precision, replaced dimension attrs re-aliased under their old
  * exprIds) so parent operators never see the difference.
  *
  * Activate with [[enable]] or via
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
object LtsRoute extends RollupRoute[String]("date") {

  /** Register a raw→LTS route; the LTS table must be the minute rollup of
    * the raw table ([[graft.streaming.Ingest.ltsRollup]]): (bucket,
    * <dims...>, sum_value, n, ...). The rewrite reads only `sum_value`
    * and `n`.
    */
  def register(spark: SparkSession, rawPath: String, ltsPath: String): Unit =
    addRoute(spark, rawPath, ltsPath)

  protected def rollupPath(ltsPath: String): String = ltsPath
  protected def buildZone(ltsPath: String): Option[String] = None
  protected val requiredColumns: Seq[String] = Seq("bucket", "sum_value", "n")

  // truncation units that are coarser-or-equal to the rollup's minute grain
  private val coarseUnits =
    Set("minute", "hour", "day", "week", "month", "quarter", "year")

  /** The per-batch entry of a streaming-maintained rollup
    * ([[graft.streaming.Ingest.streamLtsRollupTo]]): the batch's
    * [[graft.streaming.Ingest.ltsRollup]] rows, dated by their bucket's
    * UTC epoch-day, land as ONE tagged segment file per touched `date=`
    * dir through the shared tagged-segment protocol
    * ([[RollupRoute.publish]]: lease, recover, delete-own-tag,
    * date-local compaction past 8 segments, staged publish,
    * invalidate). No state store and no rewrite of stored rows: a late
    * row just adds a partial for its minute in a later segment, and the
    * rewrite already re-aggregates partials (`sum(sum_value)`,
    * `sum(n)`), exact for decimal sums, so routed answers stay
    * bit-identical to the raw scan. `tag` = (streamId, batchId) makes a
    * replay of the last uncommitted batch overwrite its own segment.
    *
    * One stream feeds a rollup for its whole life: the root's `_stream`
    * file records the first feeder's streamId, and any other streamId
    * refuses, whatever the state of the lease. A stream under a fresh
    * checkpoint re-reads its source from the start, so every re-read
    * minute would be stored twice while the raw table holds it once.
    * The check runs before the lease too, so a refused stream never
    * steals a lapsed lease from the rollup's own stream.
    */
  def maintainRollup(ltsPath: String, metrics: DataFrame, dims: Seq[String],
      tag: (String, String)): Unit = {
    import graft.streaming.Ingest
    val (owner, sticky) = graft.operators.Artifacts.leaseIdentity(Some(tag))
    requireFeeder(ltsPath, tag._1, claim = false)
    graft.operators.Artifacts.withLease(ltsPath, owner, sticky) {
      requireFeeder(ltsPath, tag._1, claim = true)
      append(metrics.sparkSession, ltsPath, Some(tag), 8,
        Ingest.ltsRollup(metrics, dims)
          .withColumn("date", Ingest.utcEpochDay))(remerge)
    }
  }

  /** Refuse unless `streamId` is the rollup's recorded feeder. A root
    * with no record must hold no rows yet; `claim` (under the lease)
    * then records `streamId`, by temp file and atomic rename.
    */
  private def requireFeeder(ltsPath: String, streamId: String,
      claim: Boolean): Unit = {
    val root = new java.io.File(ltsPath)
    val record = new java.io.File(root, "_stream")
    graft.operators.Artifacts.parseKvFile(record).flatMap(_.get("stream")) match {
      case Some(s) => require(s == streamId,
        s"LTS rollup at $ltsPath is fed by stream '$s', not '$streamId': " +
          "a stream under a fresh checkpoint re-reads its source and " +
          "would count every re-read minute twice; restart from the " +
          "rollup's own checkpoint, or delete the rollup to rebuild it")
      case None =>
        require(!Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
            .exists(f => !f.getName.startsWith("_") && !f.getName.startsWith(".")),
          s"LTS rollup at $ltsPath holds rows but records no feeding " +
            "stream; delete it to rebuild it from a stream")
        if (claim) {
          val tmp = new java.io.File(root, s".stream-${java.util.UUID.randomUUID()}")
          java.nio.file.Files.writeString(tmp.toPath, s"stream=$streamId\n")
          java.nio.file.Files.move(tmp.toPath, record.toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
        }
    }
  }

  /** Fold rollup segments to one row per key — every column but the
    * [[graft.streaming.Ingest.ltsMeasures]] is key. Each measure's sum is
    * cast back to its stored type: the decimal one is what the rewrite's
    * sum-type check matches.
    */
  private def remerge(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, sum}
    val measures = graft.streaming.Ingest.ltsMeasures
    val folded = measures.map(m => sum(col(m)).cast(df.schema(m).dataType).as(m))
    df.groupBy(df.columns.toSeq.filterNot(measures.contains).map(col): _*)
      .agg(folded.head, folded.tail: _*)
  }

  protected def buildRewrite(agg: Aggregate, lr: LogicalRelation,
      lts: Map[String, Attribute], ltsPath: String)
      : Option[(Seq[Expression], Seq[NamedExpression])] = {
    def isRawAttr(e: Expression, name: String) =
      RouteSupport.rawColumn(lr, e).contains(name)
    // the rollup accumulated per-row casts at exactly this type; a sum over
    // a different scale/precision rounds per ROW on raw but per TOTAL when
    // re-aggregated, so only the matching cast is re-aggregable
    def rollupSumOk(e: Expression) = e match {
      case c: Cast if isRawAttr(c.child, "value") => c.dataType match {
        case d: DecimalType => lts("sum_value").dataType == DecimalType(
          math.min(DecimalType.MAX_PRECISION, d.precision + 10), d.scale)
        case _ => false
      }
      case _ => false
    }
    reaggregate(agg, lr)(lts.get, {
      case ae: AggregateExpression => ae.aggregateFunction match {
        // sum(cast(value as decimal(p,s))) → cast(sum(sum_value), original)
        case s: Sum if rollupSumOk(s.child) =>
          Some(Cast(ae.copy(aggregateFunction =
            s.withNewChildren(Seq(lts("sum_value"))).asInstanceOf[Sum]),
            ae.dataType))
        // count(*) / count(lit) → sum(n), zero-coalesced to keep the
        // empty-relation global-aggregate answer identical; the literal
        // must be non-null (count(NULL) is always 0, not the row count)
        case c: Count if c.children.forall(ch => ch.foldable && ch.eval() != null) =>
          Some(Coalesce(Seq(
            ae.copy(aggregateFunction = Sum(lts("n").asInstanceOf[Expression])),
            Literal(0L))))
        case _ => None
      }
      case tt: TruncTimestamp => tt.format match {
        case Literal(f, StringType) if f != null &&
            coarseUnits.contains(f.toString.toLowerCase) &&
            isRawAttr(tt.timestamp, "time") =>
          Some(tt.withNewChildren(Seq(tt.format, lts("bucket"))))
        case _ => None
      }
    })
  }
}
