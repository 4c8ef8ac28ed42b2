package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Num, Tables}

/** The yamon-analog query surface over the `events` stream table
  * (SURVEY.md §2.7): `ts`→`when`, `event_type`→`name`/`type`,
  * `user_id`→`host`, `props`→`tags`-as-JSON.
  *
  * Scale notes: every query is a declarative plan — filters sit directly on
  * the scan (parquet pushdown + pruning), aggregations are hash aggregates
  * with map-side partial combine, the one dimension join is broadcast, and
  * nothing collects to the driver. All group keys include a time bucket or
  * a bounded-cardinality column, so state per task stays small at 100 TB.
  */
object EventOps {

  /** D5/D9 analog: time-range + type filter scan. Both predicates push down
    * to the parquet reader (shows under PushedFilters).
    */
  def scanFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type") === "error" &&
        col("ts") >= lit("2024-01-05 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-20 00:00:00").cast("timestamp"))
      .select("event_id", "ts", "user_id", "value")
      .orderBy("event_id")

  /** D1 analog (gauge materialized view): 1-minute tumbling average per
    * series (ref: res/schema.sql:39-50).
    */
  def bucketAvg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_trunc("minute", col("ts")).as("bucket"), col("event_type"))
      .agg(Num.davg(col("value")).as("avg_value"), count(lit(1)).as("n"))
      .orderBy("bucket", "event_type")

  /** D2 analog (counter materialized view): 1-minute tumbling sum
    * (ref: res/schema.sql:71-82).
    */
  def bucketSum(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_trunc("minute", col("ts")).as("bucket"), col("event_type"))
      .agg(Num.dsum(col("value")).as("sum_value"), count(lit(1)).as("n"))
      .orderBy("bucket", "event_type")

  /** D6 analog: predicate on a tag served from the tag-indexed table
    * (ref bloom-indexed tag lookup, res/schema.sql:9-10). The predicate
    * sits on the materialized typed `k` column, so it pushes down into the
    * parquet scan (row-group stats + bloom) instead of JSON-parsing every
    * row — see [[TagIndex]] for the ingest-time build.
    */
  def tagFilter(spark: SparkSession, dir: String): DataFrame =
    TagIndex.events(spark, dir)
      .filter(col("k") > 50)
      .select("event_id", "user_id", "k")
      .orderBy("event_id")

  /** Full MV semantics (D1+D2 unioned): gauge-like types get the avg branch,
    * counter-like types the sum branch, exactly like the two LTS tables
    * (ref: res/schema.sql:22-37,54-69).
    */
  def downsampleLts(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(spark, dir)
      .withColumn("bucket", date_trunc("minute", col("ts")))
    val gaugeTypes = Seq("view", "click")
    val gauges = base.filter(col("event_type").isin(gaugeTypes: _*))
      .groupBy("bucket", "event_type")
      .agg(Num.davg(col("value")).as("value"))
      .withColumn("kind", lit("gauge"))
    val counters = base.filter(!col("event_type").isin(gaugeTypes: _*))
      .groupBy("bucket", "event_type")
      .agg(Num.dsum(col("value")).as("value"))
      .withColumn("kind", lit("counter"))
    gauges.unionByName(counters).orderBy("bucket", "event_type")
  }

  /** Top-K series by volume (sort+limit; partial top-k happens map-side via
    * the hash aggregate, the final sort sees only #distinct-types rows).
    */
  def topK(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("event_type"))
      .limit(3)

  /** Counter-rate via lag over each per-key ordered series — the canonical
    * monitoring query the reference's ORDER BY (name,host,ts) serves
    * (ref: res/schema.sql:14). One shuffle on the partition key.
    */
  def rate(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(spark, dir)
      .withColumn("delta", col("value") - lag("value", 1).over(w))
      .filter(col("delta").isNotNull)
      .select("user_id", "event_id", "delta")
      .orderBy("user_id", "event_id")
  }

  /** T8 analog (audit reassembly): gap-based sessionization per user via
    * `session_window` (30-minute inactivity gap).
    */
  def session(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))
      .orderBy("user_id", "session_start")

  /** S15 analog (device-info enrichment): stream × small dimension. The
    * dimension is explicitly broadcast — at 100 TB the fact side never
    * shuffles for this join.
    */
  def joinEnrich(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)),
        col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), Num.dsum(col("value")).as("total"))
      .orderBy("c_mktsegment")

  /** Exact distinct users per day (count_distinct → partial distinct
    * aggregation; the approx variant below is the 100 TB path).
    */
  def distinctDaily(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count_distinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("day")

  /** The declared tier's sketch size — small enough that the sf0.01
    * verify corpus (125+ users/day) exercises the ESTIMATE branch, not
    * just the exact small-set regime; relative error ~1/sqrt(k-2) ≈ 13%.
    */
  private[graft] val kmvOracleK = 64

  /** Approximate distinct users per day via the KMV sketch
    * ([[graft.functions.KmvAgg]]) on its md5-60bit ORACLE tier (r10 —
    * previously Spark's HLL `approx_count_distinct`, rows-only): hash =
    * [[TextOps.h60]] of the user id, estimate = the exact-integer
    * k-th-minimum formula, so the DRIVER HASH-CHECKS the whole sketch —
    * admit set, tie handling, both count regimes — against a DuckDB
    * replay. At 100 TB this shape replaces the exact distinct: a
    * ≤ 8·k-byte buffer per (partition, day) moves, never user ids; the
    * production-tier comparison (xxhash64 KMV vs built-in HLL — the
    * built-in wins) is SCALE.md's "r6: sketch altitude" row.
    */
  def distinctApprox(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.ensureRegistered(spark)
    // ROUTED through the maintained per-day KMV-state rollup since r13
    // (graft.plans.KmvRoute): the query text below is unchanged — the
    // optimizer rewrites the sketch to merge #days stored partials, and
    // merge-closure keeps the estimate hash-identical to this raw
    // declaration (the same DuckDB oracle checks it either way). The
    // engagement require is the routedStats posture: a silently
    // de-routed dashboard query must fail, not fall back to the corpus
    // scan.
    val roll = graft.plans.KmvRoute.ensureArtifacts(spark, dir)
    val out = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(graft.functions.VectorFunctions.kmvCountDistinctExact(
        TextOps.h60(col("user_id").cast("string")), kmvOracleK)
        .as("approx_users"))
      .orderBy("day")
    graft.plans.KmvRoute.requireEngaged(out, roll)
    out
  }

  /** T9 analog: when-chain classification + histogram (syslog-priority →
    * level-name decode, ref: journal/client.go:84-99).
    */
  def logLevelHist(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("level",
        when(col("value") < 50, "low")
          .when(col("value") < 150, "mid")
          .otherwise("high"))
      .groupBy("level").agg(count(lit(1)).as("n"))
      .orderBy("level")

  /** Set operation: user-days with a purchase but no error (EXCEPT
    * DISTINCT).
    */
  def setExcept(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).withColumn("day", to_date(col("ts")))
    ev.filter(col("event_type") === "purchase").select("user_id", "day")
      .except(ev.filter(col("event_type") === "error").select("user_id", "day"))
      .orderBy("user_id", "day")
  }

  /** Rollup (grouping sets) over type × day with count. */
  def rollupCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("day", to_date(col("ts")))
      .rollup("event_type", "day")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type").asc_nulls_first, col("day").asc_nulls_first)

  /** Anti-join: users who clicked but never purchased (LEFT ANTI — the
    * NOT EXISTS class; the anti side stays a broadcast at dim scale, a
    * shuffled semi-structure otherwise).
    */
  def antiJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).withColumn("day", to_date(col("ts")))
    ev.filter(col("event_type") === "click").select("user_id", "day").distinct()
      .join(ev.filter(col("event_type") === "purchase").select("user_id", "day").distinct(),
        Seq("user_id", "day"), "left_anti")
      .orderBy("user_id", "day")
  }

  /** As-of join ([[AsofJoin]]): each error event picks up the value of the
    * same user's latest purchase at-or-before it — the point-in-time
    * enrichment ClickHouse serves with ASOF JOIN. Purchases pre-aggregate
    * to one row per (user, ts) so timestamp ties are deterministic on both
    * engines.
    */
  def asofPurchase(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val errors = ev.filter(col("event_type") === "error")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts").agg(max(col("value")).as("pv"))
    AsofJoin.asof(errors, purchases, keys = Seq("user_id"), timeCol = "ts")
      .orderBy("event_id")
  }

  /** Range (band) join via bin bucketing: purchases within ±5 minutes of
    * each error event, counted. The inequality predicate
    * |t_e − t_p| ≤ 300 s becomes an EQUI-join on the 300 s time bin — each
    * left row probes its bin and both neighbors, the exact predicate
    * filters inside the join — so Spark plans a hash join on bins instead
    * of a broadcast-nested-loop over the full cross product. The 100 TB
    * shape for every band/interval join: candidates per row are bounded by
    * bin population, not corpus size.
    */
  def rangeNearbyPurchases(spark: SparkSession, dir: String): DataFrame = {
    val binMicros = 300000000L // 5 minutes
    val ev = Tables.events(spark, dir)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("ts"))
      .withColumn("d", explode(typedlit(Seq(-1L, 0L, 1L))))
      .withColumn("bin", expr(s"unix_micros(ts) div $binMicros") + col("d"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("ts").as("pts"))
      .withColumn("bin", expr(s"unix_micros(pts) div $binMicros"))
    // a purchase occupies exactly one bin, so each (error, purchase) pair
    // meets through exactly one of the error's three probe bins — no dedup
    errors.join(purchases, Seq("bin"), "left")
      .groupBy("event_id")
      .agg(sum(when(col("pts").isNotNull &&
          abs(unix_micros(col("ts")) - unix_micros(col("pts"))) <= binMicros,
        1L).otherwise(0L)).as("n_nearby"))
      .orderBy("event_id")
  }

  /** Exact percentiles of value per event type (sort-based percentile —
    * the contiguous-interpolation definition both engines share). At
    * 100 TB the approx_percentile sketch replaces this; the exact form is
    * the oracle-checkable baseline.
    */
  def valuePercentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.95)"), 4).as("p95"),
        round(expr("percentile(value, 0.99)"), 4).as("p99"))
      .orderBy("event_type")

  /** Sketch-percentile parameters: basis points over 10000 and the
    * band-compression budget — shared by the DSL face, the routing
    * rule's shape match, and the DuckDB oracle's replay of the same
    * integer walk.
    */
  private[graft] val qhistBps = Seq(5000, 9500, 9900)
  private[graft] val qhistB = 2048

  /** Sketch percentiles — since r14 the ENGINE's deterministic quantile
    * summary ([[graft.functions.QHistStateAgg]]/[[graft.functions
    * .QHistMergeAgg]]) instead of Spark's approx_percentile, for the
    * same reason q_distinct_approx runs the engine's KMV rather than
    * approx_count_distinct: the estimate must be REPLAY-STABLE so a
    * maintained rollup can serve it bit-identically. approx_percentile's
    * GK summaries are merge-ORDER-sensitive (partition merge order is
    * nondeterministic, so even the raw query's low bits wander);
    * histogram partials are a commutative monoid, so the two-level
    * shape below — exact per-(type, day) histograms, merged then
    * band-compressed at read (rank error ≤ n/2048) — is
    * order-invariant, and therefore also DuckDB-replayable: this row is
    * ORACLE-CHECKED now, not rows-only. ROUTED through the maintained
    * per-day histogram rollup ([[graft.plans.QuantileRoute]]): the
    * inner aggregate is rewritten to scan #days×#types stored states;
    * the monoid argument keeps the answer identical either way.
    */
  def valuePercentilesApprox(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.ensureRegistered(spark)
    val roll = graft.plans.QuantileRoute.ensureArtifacts(spark, dir)
    val ps = graft.functions.VectorFunctions.qhistPercentiles(
      col("state"), qhistBps, qhistB)
    val out = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(graft.functions.VectorFunctions.qhistState(col("value"))
        .as("state"))
      .groupBy("event_type")
      .agg(ps.as("ps"))
      // a type whose readings are ALL null has no percentile panel —
      // dropped, matching the oracle's histogram (which excludes null
      // readings before grouping); keeping a (type, NULL, NULL, NULL)
      // row would hash-mismatch on such a dataset (review-found, r14)
      .filter(col("ps").isNotNull)
      .select(col("event_type"),
        round(element_at(col("ps"), 1), 4).as("p50"),
        round(element_at(col("ps"), 2), 4).as("p95"),
        round(element_at(col("ps"), 3), 4).as("p99"))
      .orderBy("event_type")
    graft.plans.QuantileRoute.requireEngaged(out, roll)
    out
  }

  /** Pivot: per-day event-type counts as columns. */
  def pivotDaily(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("day", to_date(col("ts")))
      .groupBy("day")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("day")
}
