package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

/** [[LtsRoute]]'s materialized-view routing pattern on the LLM-corpus
  * side: per-language/source corpus statistics are the
  * dashboard queries of a training-data pipeline, recomputed constantly
  * while the corpus changes rarely — exactly the access pattern that
  * justifies a maintained rollup. A registered documents table gets a
  * companion per-(lang, source) rollup ([[rollupOf]]), and any
  * `Aggregate` over the raw table whose groupings are corpus dimensions
  * and whose measures are re-aggregable document counts / sums is
  * rewritten to scan the rollup instead: `count(*)` → `sum(n_docs)`,
  * `count(text)` → `sum(n_text)`, `sum(n_chars)` → `sum(sum_chars)`,
  * and the token total `sum(size(split(text, ' ')) :: long)` →
  * `sum(sum_tokens)`. Integer re-aggregation is exact, so routed plans
  * are bit-identical while reading #langs×#sources rows instead of the
  * corpus — at 100 TB the difference between a dashboard refresh and a
  * full scan.
  *
  * Anything not re-aggregable (distinct counts — the dedup fingerprint,
  * per-document quality gates, raw-grain groupings) leaves the plan
  * untouched and scans raw, the same conservatism as [[LtsRoute]].
  * Output attribute ids and types are preserved so parent operators
  * never see the difference.
  */
object CorpusRoute extends RollupRoute[String]("lang") {

  /** The maintained rollup: one row per (lang, source) with the partial
    * aggregates every routed measure re-aggregates from — additive
    * (counts, sums) and order-statistic (min/max) partials, plus the
    * non-null counts `avg` needs for its denominator. Maintain it like
    * any ingest artifact — rebuild, or [[upsertRollup]] incrementally —
    * then [[invalidate]].
    */
  def rollupOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val tok = size(split(col("text"), " ")).cast("long")
    docs.groupBy("lang", "source").agg(
      count(lit(1)).as("n_docs"),
      count(col("text")).as("n_text"),
      count(col("n_chars")).as("n_nchars"),
      sum(col("n_chars")).as("sum_chars"),
      sum(tok).as("sum_tokens"),
      min(col("n_chars")).as("min_chars"),
      max(col("n_chars")).as("max_chars"),
      min(tok).as("min_tokens"),
      max(tok).as("max_tokens"))
  }

  /** Fold rollup-shaped rows back to one row per (lang, source) — the
    * merge algebra incremental maintenance relies on: counts and sums
    * ADD, mins MIN, maxes MAX, group-wise. Exact by construction for an
    * append-only corpus (deletes would need full-recompute of affected
    * groups — order statistics are not subtractable). Used by
    * [[compactLangs]]' segment collapse; [[upsertRollup]] appends
    * segments and lets reads/compaction fold through this same algebra.
    */
  private[graft] def remerge(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    df.groupBy("lang", "source").agg(
      sum("n_docs").as("n_docs"),
      sum("n_text").as("n_text"),
      sum("n_nchars").as("n_nchars"),
      sum("sum_chars").as("sum_chars"),
      sum("sum_tokens").as("sum_tokens"),
      min("min_chars").as("min_chars"),
      max("max_chars").as("max_chars"),
      min("min_tokens").as("min_tokens"),
      max("max_tokens").as("max_tokens"))
  }

  /** Incremental maintenance for an APPEND batch — the BATCH-caller
    * entry, crash-exact end to end: the batch's (lang, source) partials
    * land as ledger-tagged blind segment files by staged write +
    * per-file rename (the
    * [[maintainRollup]] machinery — no read of existing state, no delete
    * of live state at ANY crash point), auto-compacted past
    * `maxSegments`, and every routed measure re-aggregates its stored
    * partials at read ([[remerge]]'s algebra inside the rewrite), so
    * answers are bit-identical to a read-merge-overwrite. A NULL lang
    * appends into the default partition like any other: no step
    * overwrites a partition, so none can lose its rows.
    *
    * Replay protection for AT-LEAST-ONCE callers is the batch LEDGER
    * (the [[QuantileRoute.upsertRollup]] contract, verbatim): marked
    * re-deliveries skip, unmarked ones overwrite their own tag, and
    * compaction never folds an unmarked ledgered segment.
    */
  def upsertRollup(spark: SparkSession, rollupPath: String,
      newDocs: DataFrame, batchTag: Option[(String, String)] = None,
      maxSegments: Int = 8): Unit =
    upsert(spark, rollupPath, batchTag, maxSegments, rollupOf(newDocs))(remerge)

  /** The per-batch STREAMING maintenance entry
    * ([[graft.streaming.RollupStream.corpusAppendStream]]): the batch's
    * per-(lang, source) partials land as ONE tagged file per touched
    * lang dir (staged write + per-file rename — no read of existing
    * state, O(batch) work however large the rollup), after
    * delete-own-tag and lang-local compaction past `maxSegments`, in
    * the [[RollupRoute.publish]] order. Extra segment rows per
    * group are SOUND for every routed measure because the rewrite
    * itself re-aggregates its partials (counts/sums ADD, mins MIN,
    * maxes MAX, avg = sum/count of folded partials) — the same algebra
    * [[upsertRollup]] merges with. The partials are additive bag state,
    * so replay-exactness under at-least-once delivery is the file-tag
    * protocol: a replay first DELETES files carrying its own tag.
    */
  def maintainRollup(spark: SparkSession, rollupPath: String,
      newDocs: DataFrame, tag: (String, String),
      maxSegments: Int = 8): Unit =
    append(spark, rollupPath, Some(tag), maxSegments, rollupOf(newDocs))(remerge)

  /** LANG-local segment compaction through the merge algebra
    * ([[remerge]]).
    */
  def compactLangs(spark: SparkSession, rollupPath: String,
      maxSegments: Int = 1, owner: Option[String] = None): Unit =
    compact(spark, rollupPath, maxSegments, owner)(remerge)

  def register(spark: SparkSession, rawPath: String, rollupPath: String): Unit =
    addRoute(spark, rawPath, rollupPath)

  /** Build (once per dataset fingerprint) and register the
    * [[routedStats]] artifacts — called from `SparkEntry.prepare` so the
    * copy/rollup writes are ingest-time costs, not bench time. Returns
    * the (rawCopy, rollup) paths.
    */
  def ensureArtifacts(spark: SparkSession, dir: String): (String, String) = {
    // the rollup schema carries avg/min/max partials and is stored
    // lang-partitioned for upsertRollup; the `_v2` name keeps an artifact
    // of the older layout from being served.
    // The root is the ONE shared fingerprint-keyed recipe
    // (the index family's [[graft.operators.Artifacts.datasetRoot]]),
    // so a cache-layout change can never miss this family.
    val base = graft.operators.Artifacts.datasetRoot(dir, "documents",
      "corpus_route_v2")
    val rawCopy = s"$base/documents"
    val roll = s"$base/rollup"
    // the two-JVM-safe tmp-build + atomic-rename publish: two processes
    // never interleave their writes into one torn copy/rollup pair.
    // `existed` must use ensureRoot's EXACT servability predicate
    // (root marker + both artifacts): a weaker check (rollup marker
    // alone) would skip the invalidate below when ensureRoot decides to
    // rebuild anyway, leaving a stale cached relation listing deleted
    // files
    def complete(p: String): Boolean =
      new java.io.File(s"$p/documents/_SUCCESS").exists() &&
        new java.io.File(s"$p/rollup/_SUCCESS").exists()
    val existed =
      new java.io.File(s"$base/_SUCCESS").exists() && complete(base)
    graft.operators.Artifacts.ensureRoot(base)(complete) { tmp =>
      graft.Tables.documents(spark, dir)
        .write.parquet(s"$tmp/documents")
      rollupOf(spark.read.parquet(s"$tmp/documents")).coalesce(1)
        .write.partitionBy("lang").parquet(s"$tmp/rollup")
    }
    install(spark, roll, rebuilt = !existed)(register(spark, rawCopy, roll))
    (rawCopy, roll)
  }

  /** Oracle-checked routed corpus stats (`q_route_stats`): build — once
    * per dataset fingerprint, an ingest-time artifact like the tag/ANN
    * indexes — a private copy of the documents table plus its
    * [[rollupOf]] rollup under /tmp/graft-index, register copy→rollup,
    * and run the textStats aggregate over the COPY. It `require`s that
    * the optimizer actually served the plan from the rollup, and the
    * DuckDB oracle computes the same stats from the ORIGINAL raw table — a green row is an end-to-end proof
    * that MV routing is bit-identical under the external gate. A
    * production deployment registers the real table path; the private
    * copy here only keeps the route's session-global scope from
    * silently rerouting the other declared queries mid-bench (routing
    * them would be correct, but would change what the bench measures).
    */
  def routedStats(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val (rawCopy, roll) = ensureArtifacts(spark, dir)
    val out = spark.read.parquet(rawCopy)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("n_tokens")).cast("double") / count(lit(1))).as("avg_tokens"))
      .orderBy("lang")
    requireEngaged(out, roll)
    out
  }

  protected def rollupPath(rollupPath: String): String = rollupPath
  protected def buildZone(rollupPath: String): Option[String] = None
  protected val requiredColumns: Seq[String] = Seq("lang", "source",
    "n_docs", "n_text", "n_nchars", "sum_chars", "sum_tokens", "min_chars",
    "max_chars", "min_tokens", "max_tokens")

  private val dims = Set("lang", "source")

  protected def buildRewrite(agg: Aggregate, lr: LogicalRelation,
      roll: Map[String, Attribute], rollupPath: String)
      : Option[(Seq[Expression], Seq[NamedExpression])] = {
    def isRawAttr(e: Expression, name: String) =
      RouteSupport.rawColumn(lr, e).contains(name)

    // Average routes to Divide(sum partial, count partial) — null on an
    // all-null/empty input like the original (Sum of an empty group is
    // null, and x/null, null/x are null)
    def routedAvg(ae: AggregateExpression, sumCol: Attribute,
        cntCol: Attribute): Expression =
      Divide(
        Cast(ae.copy(aggregateFunction = Sum(sumCol),
          resultId = NamedExpression.newExprId), DoubleType),
        Cast(ae.copy(aggregateFunction = Sum(cntCol),
          resultId = NamedExpression.newExprId), DoubleType))

    // the exact token-count shape the engine's own stats queries emit:
    // size(split(text, ' ')) cast to long (TextOps.tokens is the split)
    def isTokenCount(e: Expression): Boolean = e match {
      case c: Cast if c.dataType == LongType => isTokenCount(c.child)
      case Size(StringSplit(t, Literal(sep, StringType), Literal(-1, _)), _) =>
        sep != null && sep.toString == " " && isRawAttr(t, "text")
      case _ => false
    }

    reaggregate(agg, lr)(n => Some(n).filter(dims.contains).flatMap(roll.get), {
      case ae: AggregateExpression => Some(ae.aggregateFunction).collect {
        // count(*) / count(non-null literal) → sum(n_docs), coalesced so
        // the empty-relation global aggregate still answers 0
        case c: Count if c.children.forall(ch => ch.foldable && ch.eval() != null) =>
          Coalesce(Seq(
            ae.copy(aggregateFunction = Sum(roll("n_docs").asInstanceOf[Expression])),
            Literal(0L)))
        // count(text) — non-null-text document count
        case c: Count if c.children.size == 1 && isRawAttr(c.children.head, "text") =>
          Coalesce(Seq(
            ae.copy(aggregateFunction = Sum(roll("n_text").asInstanceOf[Expression])),
            Literal(0L)))
        case s: Sum if isRawAttr(s.child, "n_chars") =>
          ae.copy(aggregateFunction =
            s.withNewChildren(Seq(roll("sum_chars"))).asInstanceOf[Sum])
        case s: Sum if isTokenCount(s.child) =>
          ae.copy(aggregateFunction =
            s.withNewChildren(Seq(roll("sum_tokens"))).asInstanceOf[Sum])
        // avg(x) = Sum(x)/Count(x): the routed sum re-aggregates the
        // group partials EXACTLY (long addition) where the raw plan
        // accumulates doubles row-wise — identical while totals stay
        // under 2^53 (nonnegative longs; every partial ≤ the total),
        // i.e. everywhere double avg itself is exact. Two fresh
        // AggregateExpressions (fresh resultIds — reusing ae's id for
        // both would alias two different aggregates).
        case a: Average if isRawAttr(a.child, "n_chars") =>
          routedAvg(ae, roll("sum_chars"), roll("n_nchars"))
        case a: Average if isTokenCount(a.child) =>
          routedAvg(ae, roll("sum_tokens"), roll("n_text"))
        // order statistics re-aggregate through their own partials
        case mn: Min if isRawAttr(mn.child, "n_chars") =>
          ae.copy(aggregateFunction = Min(roll("min_chars")))
        case mn: Min if isTokenCount(mn.child) =>
          ae.copy(aggregateFunction = Min(roll("min_tokens")))
        case mx: Max if isRawAttr(mx.child, "n_chars") =>
          ae.copy(aggregateFunction = Max(roll("max_chars")))
        case mx: Max if isTokenCount(mx.child) =>
          ae.copy(aggregateFunction = Max(roll("max_tokens")))
      }
    })
  }
}
