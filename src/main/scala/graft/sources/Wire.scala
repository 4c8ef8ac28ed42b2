package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, classic}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import graft.functions.{WireDecode, WireLayout}
import graft.model.Schemas
import graft.operators.Enrich

/** Parsers for the agent→server wire protocol: a column of JSON `Batch`
  * envelopes (`{"m":[...],"l":[...],"e":[...]}` with short struct-tag keys,
  * ref: common/batch.go:3-7, FIXTURES.md §B1) → the three canonical record
  * streams. Works identically on batch and streaming DataFrames — this is
  * the S23 ingestion boundary (`POST /v1/submit-batch`,
  * ref: forward_server.go:58-79). Times are RFC3339Nano strings (ref: Go
  * time.Time JSON encoding) read by a TRY-mode cast to timestamp under the
  * session zone; nanosecond digits beyond Spark's µs are truncated
  * (SURVEY.md §1.4).
  *
  * Invariant: each parser scans its input once and decodes each envelope
  * once, in one [[graft.functions.WireDecode]] generator (pinned in
  * WireSpec). A canonical envelope is tokenized once by a Jackson
  * streaming parser; any other line goes whole to
  * `from_json(line, Schemas.wireBatch)`, whose PERMISSIVE semantics stay
  * the reference: malformed JSON yields a null struct and its records are
  * dropped, mirroring the reference's decode-and-reject behavior
  * (ref: forward_server.go:58-63) without failing the stream.
  */
object Wire {

  /** S23 auth gate (ref: forward_server.go:38-56): each envelope row
    * carries its transport `Authorization` value in `authColumn` as
    * `name:key`; rows survive only when the name is a known sender and the
    * key matches. An empty `keys` map accepts everything (the reference's
    * nil-keys server). Malformed values (no / multiple colons, unknown
    * name, wrong key) are dropped, and drops are counted on the riding
    * [[graft.streaming.IngestMetrics.authObservationName]] observation —
    * the 401 counter without a second pass over the stream.
    */
  def authorized(df: DataFrame, keys: Map[String, String],
      authColumn: String = "auth"): DataFrame = {
    if (keys.isEmpty) return df
    val parts = split(col(authColumn), ":", -1)
    val ok = size(parts) === 2 &&
      element_at(typedlit(keys), parts.getItem(0)) === parts.getItem(1)
    df.observe(graft.streaming.IngestMetrics.authObservationName,
        count(lit(1)).as("received"),
        coalesce(sum(when(ok, 0L).otherwise(1L)), lit(0L)).as("dropped"))
      .filter(ok)
  }

  /** One decode per envelope row, emitting `layout`'s final rows: the
    * short (server submit-batch) and long (agent /v1/data) key spellings
    * are both valid and parse identically, so records under the short key
    * come first, then those under the long key — neither spelling can
    * shadow the other when a producer sends both. The session time zone is
    * bound here, as analysis binds it for a `Cast`.
    */
  private def records(jsonLines: DataFrame, column: String, layout: WireLayout): DataFrame = {
    val spark = jsonLines.sparkSession.asInstanceOf[classic.SparkSession]
    val zone = spark.conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key)
    val decode = WireDecode(UnresolvedAttribute.quotedString(column), layout, zone)
    new classic.Dataset[Row](spark,
      Project(Seq(UnresolvedAlias(decode)), jsonLines.queryExecution.analyzed),
      ExpressionEncoder(layout.output))
  }

  /** Metric stream: only `gauge`/`counter` survive — any other type is
    * dropped, the *intended* semantics of the reference's script decode
    * (ref: script.go:29-38 leaves other types nil; we do not replicate the
    * nil-deref, SURVEY.md §7.4). Rows need a parseable time and a name.
    */
  def metrics(jsonLines: DataFrame, column: String = "value"): DataFrame =
    records(jsonLines, column, WireLayout.Metrics)

  /** Log stream; absent level defaults to "" (ref: common/log.go:21).
    * Rows need a parseable time and a service.
    */
  def logs(jsonLines: DataFrame, column: String = "value"): DataFrame =
    records(jsonLines, column, WireLayout.Logs)

  /** Event stream (ref: common/event.go:8-14); rows need a parseable time
    * and a type.
    */
  def events(jsonLines: DataFrame, column: String = "value"): DataFrame =
    records(jsonLines, column, WireLayout.Events)
}

/** Parser for script stdout documents (`ScriptResult`, ref: script.go:77-86,
  * FIXTURES.md §B2): singular and plural forms both valid, optional
  * unix-seconds `time` override; records without a time use the supplied
  * collection time (the reference stamps time.Now at parse,
  * ref: script.go:35-37).
  *
  * Script output is a collector's stdout, a few documents per run, so these
  * parsers stay on `from_json` + `explode`: there is no hot path that
  * [[Wire]]'s streaming decode would pay for.
  *
  * NOTE divergence from the reference, by design (SURVEY.md §7.4): the
  * streaming-script path actually *emits* parsed records (the reference
  * drops them, script.go:184-189), and unknown metric types are dropped
  * instead of panicking (script.go:29-38).
  */
object ScriptResults {

  private def ts(unixSecs: Column, collectedAt: Column): Column =
    coalesce(timestamp_seconds(unixSecs), collectedAt)

  /** Singular field (when present) followed by the plural array, as one
    * exploded record column: one `from_json` and one `explode` per
    * document, like [[Wire]]'s envelopes. A malformed document or one
    * carrying neither form explodes to nothing.
    */
  private def forms(jsonLines: DataFrame, column: String, singular: String,
      plural: String): DataFrame = {
    val one = col(s"r.$singular")
    jsonLines.select(from_json(col(column), Schemas.scriptResult).as("r"))
      .select(explode(concat(
        when(one.isNotNull, array(one)).otherwise(array()),
        coalesce(col(s"r.$plural"), array()))).as("x"))
  }

  /** Metrics from one-or-many documents: `metric` ∪ `metrics[]`. */
  def metrics(jsonLines: DataFrame, collectedAt: Column, host: String = "",
      column: String = "value"): DataFrame =
    forms(jsonLines, column, "metric", "metrics")
      .select(
        ts(col("x.time"), collectedAt).as("time"),
        col("x.type").as("type"),
        lit(host).as("host"),
        col("x.name").as("name"),
        col("x.value").as("value"),
        Enrich.normTags(col("x.tags")).as("tags"))
      .filter(col("name").isNotNull && col("type").isin("gauge", "counter"))

  /** Logs: `log` ∪ `logs[]`; absent level → "" (ref: script.go:49-52). */
  def logs(jsonLines: DataFrame, collectedAt: Column, host: String = "",
      column: String = "value"): DataFrame =
    forms(jsonLines, column, "log", "logs")
      .select(
        ts(col("x.time"), collectedAt).as("time"),
        lit(host).as("host"),
        col("x.service").as("service"),
        coalesce(col("x.level"), lit("")).as("level"),
        coalesce(col("x.data"), lit("")).as("data"),
        Enrich.normTags(col("x.tags")).as("tags"))
      .filter(col("service").isNotNull)

  /** Events: `event` ∪ `events[]` (ref: script.go:66-75). */
  def events(jsonLines: DataFrame, collectedAt: Column, host: String = "",
      column: String = "value"): DataFrame =
    forms(jsonLines, column, "event", "events")
      .select(
        ts(col("x.time"), collectedAt).as("time"),
        lit(host).as("host"),
        col("x.type").as("type"),
        coalesce(col("x.data"), lit("")).as("data"),
        Enrich.normTags(col("x.tags")).as("tags"))
      .filter(col("type").isNotNull)
}
