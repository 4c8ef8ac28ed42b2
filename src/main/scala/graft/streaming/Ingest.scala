package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.Row
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
  * `numInputRows` and `numRowsUpdated`).
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

  /** Continuously maintain a [[ltsRollup]]-SHAPED table — (bucket, dims...,
    * sum_value decimal, n) — so it can be registered as a
    * [[graft.plans.LtsRoute]] target: routed minute-or-coarser aggregates
    * then serve CONTINUOUSLY-INGESTED data, not just batch-built rollups.
    * Update-mode re-emissions (late rows inside the watermark revise their
    * minute's partial sums) are upserted via [[upsertByKey]], and the
    * route's cached relation is invalidated per batch so routed queries
    * always see the latest files. Equivalence with a raw-scan recompute —
    * including across a checkpoint stop/restart — is pinned in
    * LtsRouteSpec.
    */
  def streamLtsRollupTo(metrics: DataFrame, path: String, checkpoint: String,
      dims: Seq[String], watermark: String = "10 minutes"): StreamingQuery =
    metrics
      .withWatermark("time", watermark)
      .groupBy(window(col("time"), "1 minute").as("w") +: dims.map(col): _*)
      .agg(
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .as("sum_value"),
        count(lit(1)).as("n"))
      .select(col("w.start").as("bucket") +: dims.map(col) :+
        col("sum_value") :+ col("n"): _*)
      .writeStream
      .outputMode(OutputMode.Update())
      .trigger(Trigger.ProcessingTime("5 seconds"))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertByKey(batch, path, "bucket" +: dims)
      }
      .start()

  /** Parquet-level MERGE for a date-partitioned table: replace rows whose
    * key appears in `batch`, keep the rest, touching ONLY the date
    * partitions the batch lands in. `batch` is `localCheckpoint`ed once
    * and every later step reads that snapshot, so a streaming batch's plan
    * (and its state-store update) executes exactly once. Against a live
    * table the merged frame is snapshotted too before the rewrite: the
    * write replaces the files the plan would otherwise lazily re-read
    * mid-rewrite.
    *
    * Commits through the shared STAGED-SWAP protocol rather than dynamic
    * partition overwrite (r14 review — this runs inside a streaming
    * crash-replay loop): the overwrite's job commit deletes a live date
    * dir before renaming the staged one in, so a crash between the two
    * would destroy rows of every series NOT in the replayed batch. Here
    * the merged dates stage as a dot-prefixed tree, then each date dir
    * swaps in by aside-rename (existing) or installs by direct rename
    * (fresh date) — every crash point leaves old files, new files, or a
    * recoverable aside, healed at the next entry, and the keyed merge
    * itself is replay-idempotent (left-anti by key + union of the same
    * revised rows). The routing `date` is the bucket instant's UTC
    * epoch-day (zone-free by construction).
    *
    * The derivation is MECHANICALLY pinned by a `datekey=utc-epoch-day`
    * line in the table root's `_meta` (r15, closing the r14 ADVICE
    * gap): a table whose date dirs were written under some OTHER
    * derivation (a pre-r14 session-zone `to_date(bucket)`) holds the
    * same bucket key under a different date dir — the merge would read
    * only the UTC partitions, miss the stored row, and union a
    * SECOND row, silently double-counting routed sums. An existing
    * table without the marker therefore refuses loudly; a caller who
    * knows the layout is already UTC-derived (written by r14 code
    * before the marker existed) runs [[certifyUtcDateLayout]] once —
    * it verifies every stored row's dir against the UTC derivation and
    * stamps the marker mechanically, so nobody ever asserts the layout
    * by hand.
    */
  private[graft] def upsertByKey(batch: DataFrame, path: String,
      keys: Seq[String]): Unit = {
    import graft.operators.Artifacts
    val spark = batch.sparkSession
    // the swap protocol is java.io.File renames — a remote path would
    // stage on the remote FS but install/sweep against the LOCAL view,
    // silently writing nothing (review-found, r14); refuse loudly. (The
    // whole maintained-artifact layer shares this local-rename contract;
    // a distributed deployment fronts these tables with an FS that
    // exposes POSIX renames, or swaps this layer for a table format
    // with a transactional commit.)
    val scheme = new java.net.URI(path).getScheme
    require(scheme == null || scheme == "file",
      s"upsertByKey commits by local-filesystem renames; got '$path' " +
        s"(scheme '$scheme') — use a local path or a transactional table format")
    // the routing date is derived from the bucket's INSTANT (UTC epoch
    // days), never from to_date's session-zone calendar: a maintainer
    // session restarted under a different spark.sql.session.timeZone
    // would otherwise place the same bucket key in a DIFFERENT date
    // partition, miss the existing row in the merge, and double-count
    // routed sums (review-found, r14 — the requireWriteZone hazard, made
    // zone-free by construction instead of gated)
    // the batch plan runs ONCE: every later read (the date list, the
    // anti-join, the write) reads this snapshot. A streaming batch re-run
    // here would re-execute its stateful aggregation and update the state
    // store a second time.
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
    // null-safe membership (the CorpusRoute lang rule): a null bucket
    // derives a null date, and `isin(null)` matches NOTHING — the
    // existing date=__HIVE_DEFAULT_PARTITION__ rows would be excluded
    // from the merge while the install wholesale-replaces that live dir
    // with only the batch's null-date rows (r14 ADVICE; shielded today
    // by non-null window keys, but the helper is generic)
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
        // the anti-join must be null-safe too: a null bucket is a real
        // stored key (the default partition), and a plain equi-join
        // would never match it — the union below would then double-keep
        // the null-keyed row instead of replacing it
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
  private def utcEpochDay: Column = expr(
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
    // sweep temps orphaned by a crash between write and move (ADVICE
    // r16). Unlike writeLeaseClaim's `.lease-w-*` sweep this runs with
    // NO lock, so it must never delete a CONCURRENT writer's in-flight
    // temp (written milliseconds ago, consumed by its own atomic move)
    // — age-gate the sweep: only temps old enough that no live call
    // can still own them are crash orphans
    val orphanAgeMs = 60L * 60L * 1000L
    val cutoff = System.currentTimeMillis() - orphanAgeMs
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(".meta-w-") &&
        f.lastModified() < cutoff)
      .foreach(f => f.delete(): Unit)
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
    * `today`. Returns the dropped partition names.
    */
  def dropExpired(spark: SparkSession, tablePath: String, maxAgeDays: Int,
      today: LocalDate): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = new org.apache.hadoop.fs.Path(tablePath)
    if (!fs.exists(base)) return Nil
    val cutoff = today.minusDays(maxAgeDays.toLong)
    fs.listStatus(base).toSeq
      .map(_.getPath)
      .filter(_.getName.startsWith("date="))
      .filter { p =>
        scala.util.Try(LocalDate.parse(p.getName.stripPrefix("date=")))
          .toOption.exists(_.isBefore(cutoff))
      }
      .map { p => fs.delete(p, true); p.getName }
  }
}
