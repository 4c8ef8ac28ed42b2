package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Enrich

/** Storage layer of the engine — the Spark re-expression of the reference's
  * ClickHouse DDL (SURVEY.md §2.4) and server writer (B1/B3).
  *
  * Layout choices mirror the MergeTree declarations:
  *  - `PARTITION BY toDate(when)` → parquet `partitionBy(date)` (D5);
  *    Catalyst prunes partitions on date predicates for free
  *  - `ORDER BY (name, host, ts)` → `sortWithinPartitions` at write (D4);
  *    parquet row-group min/max stats give the equivalent data skipping
  *  - Delta+ZSTD codecs → parquet zstd + dictionary encoding (D8)
  *  - bloom-filter tag indexes → parquet column bloom filters on the sort
  *    keys (D6)
  *  - 5s flush ticker → `Trigger.ProcessingTime` micro-batches (B1)
  *  - TTL partition drops → [[Retention.dropExpired]] (D7)
  *
  * Invariant: a `foreachBatch` body here executes its micro-batch's plan
  * once — a second action on the batch would re-run the source scan
  * (pinned in LtsRouteSpec through `numInputRows`). No stream here holds
  * aggregation state: each LTS batch appends its own minute partials
  * ([[streamLtsRollupTo]]), D1/D2 included ([[streamDownsampleTo]]).
  */
object Ingest {

  /** Write a record stream as a date-partitioned sorted parquet table.
    * Works for all three streams; `sortKeys` is (name, host) for metrics,
    * (service, host) for logs, (type, host) for events
    * (ref: res/schema.sql:14,98,117).
    *
    * D6 tag indexing (ref: res/schema.sql:9-10 — ClickHouse bloom skip
    * indexes over `mapKeys(tags)`/`mapValues(tags)`): when the frame carries
    * a `tags` map, derived `tag_keys`/`tag_values` array columns are
    * materialized with parquet bloom filters on their elements — the
    * "does this row group contain tag X at all" skip the reference gets.
    * `derived` additionally materializes hot computed columns (e.g. a typed
    * extraction of one tag) as top-level bloom-filtered parquet columns;
    * unlike array membership, predicates on those push down through
    * Catalyst into the scan, so point/range tag lookups skip row groups via
    * dictionary+bloom+min/max — the Spark-native equivalent of the
    * reference's indexed tag path.
    */
  def writeTable(df: DataFrame, path: String, sortKeys: Seq[String],
      derived: Seq[(String, Column)] = Nil): Unit = {
    val withTagCols =
      if (df.columns.contains("tags"))
        df.withColumn("tag_keys", map_keys(col("tags")))
          .withColumn("tag_values", map_values(col("tags")))
      else df
    val withDerived = derived.foldLeft(withTagCols) {
      case (d, (name, expr)) => d.withColumn(name, expr)
    }
    val bloomCols =
      (if (df.columns.contains("tags")) Seq("tag_keys.list.element", "tag_values.list.element")
       else Nil) ++ derived.map(_._1) :+ sortKeys.head
    // sort the derived index columns last so their row-group min/max ranges
    // stay tight where the primary order allows
    val writer = withDerived.withColumn("date", to_date(col("time")))
      .sortWithinPartitions(
        (("date" +: sortKeys) ++ derived.map(_._1) :+ "time").map(col): _*)
      .write
      .mode("append")
      .partitionBy("date")
      .option("compression", "zstd")
    bloomCols.foldLeft(writer) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
    }.parquet(path)
  }

  /** Continuous ingestion: micro-batch the stream into the partitioned
    * table every 5 s (the reference's flush ticker, ref: forward.go:119-132,
    * clickhouse_writer.go:202-215), with checkpointed offsets playing the
    * journald cursor's resume role (SURVEY.md §2.5).
    */
  def streamToTable(stream: DataFrame, path: String, checkpoint: String,
      sortKeys: Seq[String]): StreamingQuery =
    stream.writeStream
      .trigger(Trigger.ProcessingTime("5 seconds"))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        writeTable(batch, path, sortKeys)
      }
      .start()

  /** Bucketed write for co-located joins (D4-adjacent; the Spark-native
    * analog of sharding both sides of a recurring large×large join on the
    * same key — ClickHouse gets co-location from the distributed table's
    * sharding key). Two tables written with the same (key, numBuckets)
    * spec join with ZERO exchange: each task reads matching buckets from
    * both sides. `saveAsTable` is required — the bucket spec lives in the
    * catalog, not the files.
    */
  def writeBucketed(df: DataFrame, name: String, path: String, key: String,
      numBuckets: Int): Unit =
    df.write.mode("overwrite")
      .format("parquet")
      .option("path", path)
      .bucketBy(numBuckets, key)
      .sortBy(key)
      .saveAsTable(name)

  /** The [[graft.plans.LtsRoute]]-compatible minute rollup of a raw table:
    * (bucket, dims..., [[ltsMeasures]]), every measure a mergeable partial
    * (ref: the sumState/avgState MV columns, res/schema.sql:39-50,71-82).
    * `sum_value` (decimal) and `n` (rows) serve the route: decimal sums
    * make routed re-aggregation bit-identical to scanning raw.
    * `sum_double` and `n_value` (non-null values) serve the D1/D2 view
    * [[downsampled]]: `decimal(18,2)` would round gauges to cents, and a
    * gauge average skips null values where `n` counts them.
    */
  def ltsRollup(raw: DataFrame, dims: Seq[String]): DataFrame =
    raw.groupBy(date_trunc("minute", col("time")).as("bucket") +: dims.map(col): _*)
      .agg(
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .as("sum_value"),
        count(lit(1)).as("n"),
        sum(col("value").cast("double")).as("sum_double"),
        count(col("value")).as("n_value"))

  /** The measure columns of [[ltsRollup]]; every other column is a key. */
  val ltsMeasures: Seq[String] = Seq("sum_value", "n", "sum_double", "n_value")

  /** The D1/D2 series key under the minute bucket: (type, host, name) and
    * the map-typed tags canonicalized for grouping (D3, SURVEY.md §7.4).
    */
  private val downsampleDims = Seq("type", "host", "name", "tags_key")

  /** D1/D2 batch recompute — the exact ClickHouse-MV-equivalent answer
    * (ref: res/schema.sql:39-50,71-82): 1-minute buckets per
    * (host, name, tags) series; gauges average, counters sum.
    * [[downsampled]] is tested against it.
    */
  def downsample(metrics: DataFrame): DataFrame =
    metrics
      .withColumn("bucket", date_trunc("minute", col("time")))
      .withColumn("tags_key", Enrich.tagsKey(col("tags")))
      .groupBy("bucket", downsampleDims: _*)
      .agg(
        avg(when(col("type") === "gauge", col("value"))).as("avg_value"),
        sum(when(col("type") === "counter", col("value"))).as("sum_value"),
        count(lit(1)).as("n"))
      .withColumn("value",
        when(col("type") === "gauge", col("avg_value")).otherwise(col("sum_value")))
      .select("bucket", "type", "host", "name", "tags_key", "value", "n")

  /** D1/D2 read from the rollup [[streamDownsampleTo]] maintains:
    * [[downsample]]'s columns, folded over the rollup's partial rows per
    * (bucket, type, host, name, tags_key). A gauge averages its non-null
    * values (`sum(sum_double) / sum(n_value)`, yamon's finalized
    * `avgState`), a counter sums them, and `n` counts every row.
    */
  def downsampled(rollup: DataFrame): DataFrame =
    rollup.groupBy("bucket", downsampleDims: _*)
      .agg(sum(col("sum_double")).as("sum_double"),
        sum(col("n_value")).as("n_value"), sum(col("n")).as("n"))
      .withColumn("value",
        when(col("type") === "gauge", col("sum_double") / col("n_value"))
          .when(col("type") === "counter", col("sum_double")))
      .select("bucket", "type", "host", "name", "tags_key", "value", "n")

  /** Streaming exact dedup: the first occurrence of each key survives,
    * duplicates arriving within the event-time watermark are dropped, and
    * the dedup state is BOUNDED by that watermark (the unbounded-state
    * exact variant is the batch `TextOps.dedupExact`). The streaming half
    * of the training-pipeline dedup family: a continuously ingested corpus
    * re-sends documents within a bounded delay, not across arbitrary time.
    */
  def dedupStream(stream: DataFrame, keyCols: Seq[String],
      watermark: String, timeCol: String = "time"): DataFrame = {
    // content-fingerprint keyspace grows with ingest volume inside the
    // watermark — unbounded-class state, so default to RocksDB
    StateBackend.defaultToRocksDB(stream.sparkSession)
    stream.withWatermark(timeCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)
  }

  /** Continuously maintain a [[ltsRollup]]-shaped table, partitioned by
    * the bucket's UTC epoch-day `date`, as a [[graft.plans.LtsRoute]]
    * target. The stream is stateless: each micro-batch aggregates its own
    * rows into their minutes, whatever their arrival time (yamon's
    * insert-time materialized views, ref: res/schema.sql:39-50,71-82),
    * and publishes one tagged segment per touched date dir
    * ([[graft.plans.LtsRoute.maintainRollup]]). The route re-aggregates
    * a minute's partials across segments, so a late row of any age
    * counts in the rollup as in the raw table. The tag is (the query id
    * the checkpoint persists, batchId): a restart replays its last
    * uncommitted batch under the same tag, overwriting that segment.
    * The query id, not the checkpoint path, names the feeder: a
    * checkpoint deleted and made again at the same path gets a new query
    * id, so its stream, which re-reads the whole source, is refused
    * instead of double-counting. The rollup is bound to the checkpoint
    * of the stream that first fed it; a stream under any other
    * checkpoint refuses loudly ([[graft.plans.LtsRoute.maintainRollup]]).
    * Pinned in LtsRouteSpec across a restart, a late row, a replay, a
    * compaction and a fresh-checkpoint restart.
    */
  def streamLtsRollupTo(metrics: DataFrame, path: String, checkpoint: String,
      dims: Seq[String]): StreamingQuery = {
    requireLocal(path, "streamLtsRollupTo")
    metrics.writeStream
      .trigger(Trigger.ProcessingTime("5 seconds"))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val queryId = batch.sparkSession.sparkContext.getLocalProperty(
          StreamExecution.QUERY_ID_KEY)
        require(queryId != null, s"streamLtsRollupTo: no '" +
          s"${StreamExecution.QUERY_ID_KEY}' local property on the " +
          "foreachBatch thread, so the batch has no stream id to tag with")
        graft.plans.LtsRoute.maintainRollup(path, batch, dims,
          (queryId, batchId.toString))
      }
      .start()
  }

  /** D1/D2 maintenance: the [[streamLtsRollupTo]] stream over the dims
    * (type, host, name, tags_key), read through [[downsampled]]. No
    * state store and no rewrite of stored rows: a minute whose rows span
    * several micro-batches keeps one partial per segment until a
    * compaction folds them, and the view re-aggregates them either way.
    */
  def streamDownsampleTo(metrics: DataFrame, path: String,
      checkpoint: String): StreamingQuery =
    streamLtsRollupTo(metrics.withColumn("tags_key", Enrich.tagsKey(col("tags"))),
      path, checkpoint, downsampleDims)

  /** The maintained tables commit by `java.io.File` renames: a remote
    * path would stage remotely but install against the LOCAL view,
    * silently writing nothing (review-found, r14), so refuse loudly. A
    * distributed deployment needs an FS with POSIX renames or a table
    * format with a transactional commit.
    */
  private def requireLocal(path: String, what: String): Unit = {
    val scheme = new java.net.URI(path).getScheme
    require(scheme == null || scheme == "file",
      s"$what commits by local-filesystem renames; got '$path' " +
        s"(scheme '$scheme') — use a local path or a transactional table format")
  }

  /** The routing date of a `bucket` instant: its UTC epoch-day. */
  private[graft] def utcEpochDay: Column = expr(
    "date_add(DATE'1970-01-01', " +
      "CAST(FLOOR(unix_timestamp(bucket) / 86400) AS INT))")
}

/** D7 — TTL retention: raw tables keep 30 days, LTS tables 1 year, enforced
  * by whole-partition drops (`ttl_only_drop_parts=1`,
  * ref: res/schema.sql:15-18,34,66). A maintenance job, not a query-engine
  * concern — at scale this is a metastore partition-drop, here a directory
  * delete.
  */
object Retention {
  import java.time.LocalDate

  /** Delete `date=YYYY-MM-DD` partition dirs older than `maxAgeDays` before
    * `today`. Returns the partition names actually deleted. When the table
    * is an LTS route target, its cached relation is dropped too, so the
    * next routed query lists the surviving files instead of reading the
    * deleted ones.
    */
  def dropExpired(spark: SparkSession, tablePath: String, maxAgeDays: Int,
      today: LocalDate): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = new org.apache.hadoop.fs.Path(tablePath)
    if (!fs.exists(base)) return Nil
    val cutoff = today.minusDays(maxAgeDays.toLong)
    val dropped = fs.listStatus(base).toSeq
      .map(_.getPath)
      .filter(_.getName.startsWith("date="))
      .filter { p =>
        scala.util.Try(LocalDate.parse(p.getName.stripPrefix("date=")))
          .toOption.exists(_.isBefore(cutoff))
      }
      .filter(fs.delete(_, true))
      .map(_.getName)
    graft.plans.LtsRoute.invalidate(tablePath)
    dropped
  }
}
