package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

/** S17 (plain mode) — file tail: each line of a followed file becomes one
  * LogEntry with the configured service/level (ref: tail.go:47-50,91-96).
  * In production the input is `spark.readStream.text(path)` (follow+reopen
  * is the file source's listing loop; resume = checkpoint); audit-format
  * mode is [[graft.streaming.AuditSession]].
  */
object Tail {
  def logs(lines: DataFrame, time: Column, hostname: String, service: String,
      level: String = "", column: String = "value"): DataFrame =
    lines.select(
      time.as("time"),
      lit(hostname).as("host"),
      lit(service).as("service"),
      lit(level).as("level"),
      col(column).as("data"),
      map().cast(MapType(StringType, StringType, valueContainsNull = false)).as("tags"))
}

/** S20 — agent webhook: each POST body becomes an Event `yamon-agent.
  * webhook` whose data is the form fields as a JSON document, each value
  * JSON-decoded when possible, tagged with remote-addr/content-type
  * (ref: agent/http.go:72-95). Input here is the already-captured body
  * plus transport metadata — the HTTP listener itself is out of engine
  * scope, like the reference's chi router.
  */
object Webhook {
  def events(bodies: DataFrame, time: Column, hostname: String,
      bodyCol: String = "body", remoteAddrCol: String = "remote_addr",
      contentTypeCol: String = "content_type"): DataFrame =
    bodies.select(
      time.as("time"),
      lit(hostname).as("host"),
      lit("yamon-agent.webhook").as("type"),
      col(bodyCol).as("data"),
      map(
        lit("remote-addr"), coalesce(col(remoteAddrCol), lit("")),
        lit("content-type"), coalesce(col(contentTypeCol), lit(""))).as("tags"))
}

/** Wire-format serialization — the inverse of [[Wire]]: canonical record
  * streams → the agent→server JSON `Batch` envelope (B2, the
  * ForwardClient's serialize step, ref: forward.go:44-67). One envelope
  * row per micro-batch partition group keeps POST bodies bounded, like
  * the reference's size-thresholded flushes.
  */
object WireWriter {

  /** One metric as a wire record (short keys); `t` stays a timestamp until
    * [[json]] renders it.
    */
  private def record: Column = struct(
    col("time").as("t"), col("type").as("m"), col("host").as("h"),
    col("name").as("n"), col("value").as("v"), col("tags").as("g"))

  /** RFC3339 with µs, rendered in UTC whatever the session zone, so the
    * `Z` suffix is true and [[Wire]] reads back the same instant.
    */
  private def json(c: Column): Column = to_json(c, Map(
    "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'", "timeZone" -> "UTC"))

  /** Metrics → wire JSON objects (one per record, short keys). */
  def metricJson(metrics: DataFrame): DataFrame =
    metrics.select(json(record).as("value"))

  /** Group records into `Batch` envelopes of at most `maxPerBatch` metrics
    * (the agent's flush threshold, ref: cmd/yamon-agent/main.go:47).
    * Envelopes form within each partition — no shuffle; the id's
    * per-partition low bits give a stable intra-partition row counter.
    */
  def envelopes(metrics: DataFrame, maxPerBatch: Int = 4000): DataFrame =
    metrics
      .withColumn("m", record)
      .withColumn("pid", spark_partition_id())
      .withColumn("grp",
        floor((monotonically_increasing_id() % (1L << 33)) / maxPerBatch))
      .groupBy("pid", "grp")
      .agg(collect_list(col("m")).as("m"))
      .select(json(struct(col("m"))).as("value"))
}
