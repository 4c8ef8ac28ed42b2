package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
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
  * once — a second action on the batch would re-run the source scan and
  * any stateful aggregation above it (pinned in LtsRouteSpec through
  * `numInputRows`). The LTS rollup stream holds no state at all: each
  * batch appends its own minute partials ([[streamLtsRollupTo]]).
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
    * (bucket, dims..., sum_value decimal, n). Decimal sums make routed
    * re-aggregation bit-identical to scanning raw (ref: the sumState/
    * avgState MV columns, res/schema.sql:39-50,71-82).
    */
  def ltsRollup(raw: DataFrame, dims: Seq[String]): DataFrame =
    raw.groupBy(date_trunc("minute", col("time")).as("bucket") +: dims.map(col): _*)
      .agg(
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .as("sum_value"),
        count(lit(1)).as("n"))

  /** D1/D2 batch recompute — the exact ClickHouse-MV-equivalent answer
    * (ref: res/schema.sql:39-50,71-82): 1-minute buckets per
    * (host, name, tags) series; gauges average, counters sum. The map-typed
    * tag key is canonicalized for grouping (D3, SURVEY.md §7.4).
    */
  def downsample(metrics: DataFrame): DataFrame =
    metrics
      .withColumn("bucket", date_trunc("minute", col("time")))
      .withColumn("tags_key", Enrich.tagsKey(col("tags")))
      .groupBy("bucket", "type", "host", "name", "tags_key")
      .agg(
        avg(when(col("type") === "gauge", col("value"))).as("avg_value"),
        sum(when(col("type") === "counter", col("value"))).as("sum_value"),
        count(lit(1)).as("n"))
      .withColumn("value",
        when(col("type") === "gauge", col("avg_value")).otherwise(col("sum_value")))
      .select("bucket", "type", "host", "name", "tags_key", "value", "n")

  /** D1/D2 as a continuous streaming aggregation: same grouping with a
    * watermark bounding state (a deliberate improvement over the
    * reference's unbounded insert-time aggregation, SURVEY.md §2.5).
    * Update mode matches ClickHouse MV re-aggregation semantics.
    */
  def downsampleStream(metrics: DataFrame, watermark: String = "10 minutes"): DataFrame =
    metrics
      .withWatermark("time", watermark)
      .withColumn("tags_key", Enrich.tagsKey(col("tags")))
      .groupBy(
        window(col("time"), "1 minute").as("w"),
        col("type"), col("host"), col("name"), col("tags_key"))
      .agg(
        avg(when(col("type") === "gauge", col("value"))).as("avg_value"),
        sum(when(col("type") === "counter", col("value"))).as("sum_value"),
        count(lit(1)).as("n"))
      .select(
        col("w.start").as("bucket"), col("type"), col("host"), col("name"),
        col("tags_key"),
        when(col("type") === "gauge", col("avg_value"))
          .otherwise(col("sum_value")).as("value"),
        col("n"))

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

  /** Parquet-level MERGE for a date-partitioned table, the commit of
    * [[streamDownsampleTo]] (its averaged values do not add, so a revised
    * minute must replace its row): rows whose key appears in `batch`
    * are replaced, the rest kept, and only the date partitions the batch
    * lands in are touched. The batch is `localCheckpoint`ed once, so its
    * plan and state-store update run once; a live table's merged frame is
    * snapshotted too, because the write replaces the files it reads.
    *
    * The merged dates stage as a dot-prefixed tree and each date dir
    * swaps in by aside-rename (or installs by rename when new), so every
    * crash point leaves old files, new files or a recoverable aside,
    * healed at the next entry; the keyed merge itself is
    * replay-idempotent. The routing `date` is the bucket instant's UTC
    * epoch-day, pinned by `datekey=utc-epoch-day` in the root's `_meta`:
    * a table without it may hold keys under session-zone dates, where
    * the merge would miss the stored row and keep a second one, so it
    * refuses until [[certifyUtcDateLayout]] has verified and stamped it.
    */
  private[graft] def upsertByKey(batch: DataFrame, path: String,
      keys: Seq[String]): Unit = {
    import graft.operators.Artifacts
    val spark = batch.sparkSession
    requireLocal(path, "upsertByKey")
    // the date list, the anti-join and the write all read this snapshot
    val dated = batch.withColumn("date", utcEpochDay).localCheckpoint(true)
    val dates = dated.select("date").distinct()
      .collect().map(_.getDate(0): Any)
    if (dates.isEmpty) return
    new java.io.File(path).mkdirs()
    Artifacts.recoverDirSwaps(path, "date=")
    Artifacts.sweepStageTrees(path)
    val hasLive = Option(new java.io.File(path).listFiles())
      .exists(_.exists(_.getName.startsWith("date=")))
    if (hasLive) requireUtcDateMarker(path)
    else writeDateMarker(path)
    // null-safe: `isin(null)` matches nothing, and the install replaces
    // the whole default-partition dir that null dates land in
    val nonNullDates = dates.filter(_ != null)
    val dateMatch = {
      val base =
        if (nonNullDates.nonEmpty) col("date").isin(nonNullDates: _*)
        else lit(false)
      if (dates.exists(_ == null)) base || col("date").isNull else base
    }
    // a fresh table writes the batch snapshot as is; a live table's merge
    // reads files the swap replaces, so it is snapshotted first
    val snapshot =
      if (!hasLive) dated
      else {
        val existing = spark.read.parquet(path).filter(dateMatch)
        val revised = dated.select(keys.map(col): _*)
        // null-safe too, or a stored null-keyed row is kept twice
        val sameKey = keys.map(k => existing(k) <=> revised(k))
          .reduce(_ && _)
        existing.join(revised, sameKey, "left_anti")
          .unionByName(dated).localCheckpoint(true)
      }
    val stage = s"$path/.tmp-stage-${java.util.UUID.randomUUID()}"
    snapshot.write
      .option("compression", "zstd")
      .partitionBy("date")
      .parquet(stage)
    snapshot.unpersist()
    Artifacts.installStagedDirs(spark, stage, path, "date=")
    graft.plans.LtsRoute.invalidate(path)
  }

  /** The routing date of a `bucket` instant: its UTC epoch-day. */
  private[graft] def utcEpochDay: Column = expr(
    "date_add(DATE'1970-01-01', " +
      "CAST(FLOOR(unix_timestamp(bucket) / 86400) AS INT))")

  /** The date-derivation pin [[upsertByKey]] writes and checks: ONE
    * `datekey=` line in the table root's `_meta`.
    */
  private val DateKey = "utc-epoch-day"

  private def writeDateMarker(path: String): Unit = {
    // temp + atomic move like every other _meta writer (ADVICE r15): a
    // crash mid-write must not leave a torn _meta whose missing datekey
    // wedges every subsequent upsert behind a manual re-certify. Other
    // keys a future writer may have stored there are merged, not
    // dropped.
    val meta = new java.io.File(path, "_meta")
    val kept = graft.operators.Artifacts.parseKvFile(meta)
      .getOrElse(Map.empty[String, String]) - "datekey"
    val lines = (kept.toSeq.sortBy(_._1) :+ ("datekey" -> DateKey))
      .map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n")
    // sweep temps orphaned by a crash between write and move; unlike
    // writeLeaseClaim's `.lease-w-*` sweep this runs with NO lock, hence
    // the age-gated sweep
    graft.operators.Artifacts.sweepOrphanTemps(new java.io.File(path),
      _.startsWith(".meta-w-"))
    val tmp = new java.io.File(path, s".meta-w-${java.util.UUID.randomUUID()}")
    java.nio.file.Files.write(tmp.toPath,
      lines.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
    java.nio.file.Files.move(tmp.toPath, meta.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
  }

  private def requireUtcDateMarker(path: String): Unit = {
    val marked = graft.operators.Artifacts
      .parseKvFile(new java.io.File(path, "_meta")).flatMap(_.get("datekey"))
    require(marked.contains(DateKey),
      s"upsertByKey on $path: existing date partitions carry no " +
        s"'datekey=$DateKey' marker (found ${marked.getOrElse("none")}) — " +
        "merging against dirs derived under another date rule would " +
        "silently double-count the keys stored there; rebuild the table " +
        "(it is derived state), or run Ingest.certifyUtcDateLayout once " +
        "if it was written by the UTC derivation before markers existed")
  }

  /** Verify an EXISTING unmarked table's date layout against the UTC
    * epoch-day derivation row by row and stamp the marker — the
    * mechanical upgrade for tables the r14 code wrote before the pin
    * existed. Refuses (without stamping) on the first dir holding a row
    * whose bucket derives a different date: such a table must rebuild.
    */
  def certifyUtcDateLayout(spark: SparkSession, path: String): Unit = {
    val bad = spark.read.parquet(path)
      .filter(!(col("date") <=> utcEpochDay))
      .limit(1).collect()
    require(bad.isEmpty,
      s"certifyUtcDateLayout on $path: found a row stored under " +
        s"date=${bad.head.getAs[Any]("date")} whose bucket derives a " +
        "different UTC epoch-day — the table was written under another " +
        "date rule; rebuild it instead of marking")
    writeDateMarker(path)
  }

  /** Start the LTS maintenance stream: 1-minute downsample in update mode
    * every 5 s, upserted into the long-term parquet table per micro-batch
    * by (bucket, type, host, name, tags_key) through [[upsertByKey]] — a
    * minute whose rows span several micro-batches keeps one row, revised
    * by each re-emission, never a partial row beside the revised one.
    */
  def streamDownsampleTo(metrics: DataFrame, path: String, checkpoint: String,
      watermark: String = "10 minutes"): StreamingQuery =
    downsampleStream(metrics, watermark).writeStream
      .outputMode(OutputMode.Update())
      .trigger(Trigger.ProcessingTime("5 seconds"))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertByKey(batch, path, Seq("bucket", "type", "host", "name", "tags_key"))
      }
      .start()
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
