package graft.plans

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{Tables, TestSpark}
import graft.streaming.Ingest

/** LTS routing (SURVEY.md §4): minute-or-coarser bucket aggregates over a
  * registered raw table transparently scan its rollup, with bit-identical
  * results (decimal re-aggregation is exact).
  */
class LtsRouteSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  // engine-layout raw table (time, event_type, value) + its minute rollup
  private lazy val (rawPath, ltsPath): (String, String) = {
    val base = Files.createTempDirectory("graft_lts").toString
    val raw = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("ts").as("time"), col("event_type"), col("value"))
    raw.write.parquet(s"$base/raw")
    Ingest.ltsRollup(spark.read.parquet(s"$base/raw"), Seq("event_type"))
      .write.parquet(s"$base/lts")
    (s"$base/raw", s"$base/lts")
  }

  private def minuteQuery = spark.read.parquet(rawPath)
    .groupBy(date_trunc("minute", col("time")).as("bucket"), col("event_type"))
    .agg(sum(col("value").cast("decimal(18,2)")).as("sv"), count(lit(1)).as("n"))

  private def hourlyAvgQuery = spark.read.parquet(rawPath)
    .groupBy(date_trunc("hour", col("time")).as("bucket"))
    .agg((sum(col("value").cast("decimal(18,2)")).cast("double") /
      count(lit(1))).as("avg_value"))

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private def routed(df: org.apache.spark.sql.DataFrame,
      lts: String = ltsPath): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.exists(_.toString.contains(lts))
          case _ => false
        }
    }.exists(identity)

  private def withRoute[A](f: => A): A = {
    LtsRoute.enable(spark)
    LtsRoute.register(spark, rawPath, ltsPath)
    try f finally LtsRoute.deregister(spark, rawPath)
  }

  test("minute sum+count aggregate routes to the rollup, bit-identical") {
    val baseline = rows(minuteQuery) // route not registered yet
    withRoute {
      assert(routed(minuteQuery), minuteQuery.queryExecution.optimizedPlan.toString)
      assert(rows(minuteQuery) == baseline)
    }
  }

  test("coarser grain + derived avg re-aggregates from the rollup") {
    val baseline = rows(hourlyAvgQuery)
    withRoute {
      assert(routed(hourlyAvgQuery))
      assert(rows(hourlyAvgQuery) == baseline)
    }
  }

  test("downstream operators stay bound across the rewrite") {
    // built fresh on each use: a DataFrame's QueryExecution is lazy and
    // cached, so a pre-registration plan would never see the route
    def q = minuteQuery.orderBy(col("bucket"), col("event_type")).limit(7)
    val baseline = q.collect().map(_.toString).toSeq
    withRoute {
      assert(routed(q))
      assert(q.collect().map(_.toString).toSeq == baseline)
    }
  }

  test("non-reaggregable queries are left untouched") {
    withRoute {
      // raw-grain grouping: time is not derivable from minute buckets
      val rawGrain = spark.read.parquet(rawPath)
        .groupBy(col("time")).agg(count(lit(1)).as("n"))
      assert(!routed(rawGrain))
      // percentile needs raw values, not partial sums
      val pct = spark.read.parquet(rawPath)
        .groupBy(col("event_type")).agg(expr("percentile(value, 0.5)").as("p50"))
      assert(!routed(pct))
      // second-grain trunc is finer than the rollup
      val fine = spark.read.parquet(rawPath)
        .groupBy(date_trunc("second", col("time")).as("b"))
        .agg(count(lit(1)).as("n"))
      assert(!routed(fine))
      // sum over a dimension column is not the rollup's measure
      val wrongCol = spark.read.parquet(rawPath)
        .groupBy(date_trunc("minute", col("time")).as("b"))
        .agg(sum(length(col("event_type")).cast("decimal(18,2)")).as("s"))
      assert(!routed(wrongCol))
      // FILTER-clause aggregates count raw rows, not rollup rows
      val filtered = spark.read.parquet(rawPath)
        .groupBy(date_trunc("minute", col("time")).as("b"))
        .agg(count_if(col("event_type") === "click").as("clicks"))
      assert(!routed(filtered))
      // a different decimal scale rounds per row on raw but per total when
      // re-aggregated — not the same answer, must not route
      val wrongScale = spark.read.parquet(rawPath)
        .groupBy(date_trunc("minute", col("time")).as("b"))
        .agg(sum(col("value").cast("decimal(18,0)")).as("s"))
      assert(!routed(wrongScale))
      // DISTINCT is not derivable from partial sums
      val dist = spark.read.parquet(rawPath)
        .groupBy(date_trunc("minute", col("time")).as("b"))
        .agg(sum_distinct(col("value").cast("decimal(18,2)")).as("s"))
      assert(!routed(dist))
    }
  }

  test("a retention drop on a routed rollup invalidates its cached " +
      "relation: the routed answer equals the raw recompute over the " +
      "dates that remain") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_lts_ttl").toString
    val (rawP, ltsP) = (s"$base/raw", s"$base/lts")
    val metrics = Seq(
      ("2024-01-01 00:00:10", "a", 1.5), ("2024-01-01 00:01:20", "b", 2.25),
      ("2024-01-02 00:00:30", "a", 4.0), ("2024-01-03 00:02:00", "b", 7.0))
      .toDF("t", "host", "value")
      .select(col("t").cast("timestamp").as("time"), col("host"),
        col("value"))
    metrics.withColumn("date", to_date(col("time")))
      .write.partitionBy("date").parquet(rawP)
    Ingest.ltsRollup(metrics, Seq("host"))
      .withColumn("date", Ingest.utcEpochDay)
      .write.partitionBy("date").parquet(ltsP)
    def q = spark.read.parquet(rawP)
      .groupBy(date_trunc("minute", col("time")).as("bucket"), col("host"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("sv"),
        count(lit(1)).as("n"))
    LtsRoute.enable(spark)
    LtsRoute.register(spark, rawP, ltsP)
    try {
      // the first routed query caches the rollup's relation
      assert(routed(q, ltsP) && rows(q).size == 4)
      val today = java.time.LocalDate.parse("2024-02-01")
      for (p <- Seq(rawP, ltsP))
        assert(graft.streaming.Retention.dropExpired(spark, p, 30, today) ==
          Seq("date=2024-01-01"))
      val routedRows = rows(q)
      assert(routed(q, ltsP))
      LtsRoute.deregister(spark, rawP)
      assert(!routed(q, ltsP))
      val raw = rows(q)
      assert(raw.size == 2 && routedRows == raw)
    } finally LtsRoute.deregister(spark, rawP)
  }

  test("unregistered tables never route") {
    LtsRoute.enable(spark)
    assert(!routed(minuteQuery))
  }

  // ---- the streaming maintainer: one input file = one data micro-batch,
  // each started from the same checkpoint (a restart per phase) ----

  private final class StreamFixture {
    import java.nio.file.Paths
    val base = Files.createTempDirectory("graft_lts_stream").toString
    val in = s"$base/in"; Files.createDirectory(Paths.get(in))
    val rawP = s"$base/raw"; val ltsP = s"$base/lts"; val ckpt = s"$base/ckpt"
    val dims = Seq("host", "name")

    def line(min: Int, sec: Int, host: String, v: Double): String =
      f"""{"m":[{"t":"2024-01-01T00:$min%02d:$sec%02dZ","m":"gauge","h":"$host","n":"load.1","v":$v}]}"""

    /** Runs the maintainer over whatever is new under `in` and returns
      * the query with its progress.
      */
    def run(checkpoint: String = ckpt): org.apache.spark.sql.streaming.StreamingQuery = {
      val q = Ingest.streamLtsRollupTo(
        graft.sources.Wire.metrics(spark.readStream.text(in)), ltsP, checkpoint, dims)
      try q.processAllAvailable() finally q.stop()
      q
    }

    def write(file: String, rows: Seq[(Int, Int, String, Double)]): Unit =
      Files.writeString(Paths.get(s"$in/$file"),
        rows.map { case (mi, se, h, v) => line(mi, se, h, v) + "\n" }.mkString): Unit

    /** The streamed rows plus `extra` as a raw batch table (Wire
      * transforms are engine-shared).
      */
    def writeRaw(extra: Seq[org.apache.spark.sql.DataFrame]): Unit =
      (graft.sources.Wire.metrics(spark.read.text(in))
        .select(col("time"), col("host"), col("name"), col("value")) +: extra)
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(rawP)

    def minuteQuery = spark.read.parquet(rawP)
      .groupBy(date_trunc("minute", col("time")).as("bucket"),
        col("host"), col("name"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("sv"), count(lit(1)).as("n"))

    def rollupN: Long = {
      spark.catalog.refreshByPath(ltsP)
      spark.read.parquet(ltsP).agg(sum(col("n"))).head().getLong(0)
    }

    /** Routed minute aggregate equals the raw recompute, bit for bit,
      * and really reads the rollup.
      */
    def assertRoutedEqualsRaw(extra: org.apache.spark.sql.DataFrame*): Unit = {
      writeRaw(extra)
      val baseline = rows(minuteQuery)
      assert(baseline.nonEmpty)
      LtsRoute.enable(spark)
      LtsRoute.register(spark, rawP, ltsP)
      try {
        val q = minuteQuery
        assert(q.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location.rootPaths.exists(_.toString.contains(ltsP))
              case _ => false
            }
        }.exists(identity), q.queryExecution.optimizedPlan.toString)
        assert(rows(q) == baseline)
      } finally LtsRoute.deregister(spark, rawP)
    }

    /** Parquet files under the rollup's date dirs. */
    def files(): Seq[java.io.File] =
      new java.io.File(ltsP).listFiles().toSeq
        .filter(d => d.isDirectory && d.getName.startsWith("date="))
        .flatMap(_.listFiles().toSeq).filter(_.getName.endsWith(".parquet"))
  }

  test("streaming-maintained rollup serves routed queries across a checkpoint restart") {
    val f = new StreamFixture

    // each phase is one file = one data micro-batch. Its plan must run
    // once (every input line read once), the stream keeps no state, and
    // the batch publishes one tagged segment holding exactly its
    // distinct (minute, host) keys.
    def runPhase(file: String, rows: Seq[(Int, Int, String, Double)]): Unit = {
      f.write(file, rows)
      val q = f.run()
      val data = q.recentProgress.filter(_.numInputRows > 0)
      assert(data.length == 1, data.map(_.json).mkString("\n"))
      assert(data.head.numInputRows == rows.size, data.head.json)
      assert(data.head.stateOperators.isEmpty, data.head.json)
      val prefix = graft.operators.Artifacts.segPrefix(
        Some((q.id.toString, data.head.batchId.toString)))
      val segment = f.files().filter(_.getName.startsWith(prefix))
      assert(segment.nonEmpty, s"no segment tagged $prefix")
      val keys = spark.read.parquet(segment.map(_.getPath): _*)
        .select(minute(col("bucket")), col("host")).collect()
        .map(r => (r.getInt(0), r.getString(1))).toSeq
      assert(keys.sorted ==
        rows.map { case (mi, _, h, _) => (mi, h) }.distinct.sorted)
    }

    // phase 1: two rows in minute 0, one in minute 1
    runPhase("a.json", Seq((0, 10, "a", 1.5), (0, 40, "a", 2.25), (1, 5, "b", 4.0)))

    // phase 2 lands while the pipeline is down: a LATE row adding to
    // minute 0 (a second partial beside the first) + a new minute.
    // Restart from the same checkpoint → the same query id tags it.
    runPhase("b.json", Seq((0, 55, "a", 10.0), (2, 30, "a", 7.0)))

    f.assertRoutedEqualsRaw() // bit-identical: partials re-aggregate
  }

  test("a row later than any watermark still reaches the streaming rollup") {
    val f = new StreamFixture
    f.write("a.json", Seq((30, 0, "a", 1.0)))
    f.run()
    f.write("b.json", Seq((40, 0, "a", 2.0)))
    f.run()
    // 35 minutes behind the newest row seen
    f.write("c.json", Seq((5, 0, "a", 4.0)))
    f.run()
    f.writeRaw(Nil)
    assert(f.rollupN == spark.read.parquet(f.rawP).count())
    f.assertRoutedEqualsRaw()
  }

  test("a replayed batch overwrites its own segment; past 8 segments a " +
      "date dir compacts and still routes bit-identically") {
    val f = new StreamFixture
    // end to end: drop the last commit so the restarted query re-runs
    // batch 0 under the query id its checkpoint persists
    f.write("a.json", Seq((0, 10, "a", 1.5), (0, 40, "b", 2.25)))
    f.run()
    val commit = new java.io.File(s"${f.ckpt}/commits/0")
    assert(commit.delete())
    val replay = f.run()
    assert(replay.recentProgress.exists(p => p.batchId == 0 && p.numInputRows == 2),
      replay.recentProgress.map(_.json).mkString("\n"))
    assert(f.rollupN == 2, "the replay double-counted batch 0")
    assert(f.files().size == 1)

    // the per-batch entry directly, as the stream's own owner: the same
    // (streamId, batchId) published twice counts once
    val streamId = replay.id.toString
    import spark.implicits._
    def batchOf(i: Int) = Seq(
      (f"2024-01-01 00:$i%02d:30", "a", i + 0.25),
      ("2024-01-01 00:00:50", "b", 0.5))
      .toDF("t", "host", "value")
      .select(col("t").cast("timestamp").as("time"), col("host"),
        lit("load.1").as("name"), col("value"))
    LtsRoute.maintainRollup(f.ltsP, batchOf(1), f.dims, (streamId, "1"))
    LtsRoute.maintainRollup(f.ltsP, batchOf(1), f.dims, (streamId, "1"))
    assert(f.rollupN == 4, "the same tag published twice double-counted")

    // ten more batches into the one date dir: past 8 segments the dir
    // folds through the route's re-merge before the next publish
    (2 to 11).foreach(i =>
      LtsRoute.maintainRollup(f.ltsP, batchOf(i), f.dims, (streamId, i.toString)))
    val segs = f.files()
    assert(segs.size <= 9, segs.map(_.getName))
    assert(segs.exists(!_.getName.startsWith("seg-")), "no compacted file")
    assert(f.rollupN == 24)
    val schema = spark.read.parquet(f.ltsP).schema
    assert(schema("sum_value").dataType ==
      org.apache.spark.sql.types.DecimalType(28, 2))
    assert(schema("sum_double").dataType == org.apache.spark.sql.types.DoubleType)
    assert(schema("n_value").dataType == org.apache.spark.sql.types.LongType)
    // the fold keeps one row per key and sums every measure: with no
    // null values and quarter fractions, the double measures agree with
    // the decimal ones exactly
    val folded = spark.read.option("basePath", f.ltsP)
      .parquet(segs.filterNot(_.getName.startsWith("seg-")).map(_.getPath): _*)
    assert(folded.groupBy("bucket", "host", "name", "date").count()
      .filter(col("count") > 1).isEmpty, folded.collect().mkString("\n"))
    assert(folded.filter(col("n") > 1).count() > 0)
    assert(folded.filter(col("sum_double") =!= col("sum_value").cast("double") ||
      col("n_value") =!= col("n")).isEmpty, folded.collect().mkString("\n"))
    f.assertRoutedEqualsRaw((1 to 11).map(batchOf): _*)
  }

  test("maintainRollup heals crashed swap residue at its next batch") {
    val f = new StreamFixture
    import spark.implicits._
    def batchOf(v: Double) = Seq(
      ("2024-01-01 10:01:00", "a", v), ("2024-01-02 10:01:00", "b", v))
      .toDF("t", "host", "value")
      .select(col("t").cast("timestamp").as("time"), col("host"),
        lit("load.1").as("name"), col("value"))
    LtsRoute.maintainRollup(f.ltsP, batchOf(1.0), f.dims, ("s", "0"))
    // fabricate a crashed swap: one date dir renamed aside mid-swap,
    // plus an orphaned stage tree
    val root = new java.io.File(f.ltsP)
    val dateDir = root.listFiles().filter(_.getName.startsWith("date=")).head
    val aside = new java.io.File(root, s"${dateDir.getName}.old-deadbeef")
    assert(dateDir.renameTo(aside))
    val stage = new java.io.File(root, ".tmp-stage-deadbeef")
    assert(stage.mkdirs())
    // (the cache-miss DECLINE while an aside exists is pinned at the
    // shared RelationCache in QuantileRouteSpec; the heal below is this
    // entry's contract)
    LtsRoute.maintainRollup(f.ltsP, batchOf(2.0), f.dims, ("s", "1"))
    assert(!stage.exists(), "orphan stage tree not swept")
    assert(!aside.exists() && dateDir.isDirectory, "crashed aside not healed")
    spark.catalog.refreshByPath(f.ltsP)
    // every stored partial, not a per-key map: a map would collapse a
    // double-kept row and mask exactly what this pins. Each batch keeps
    // its own partial per key, none lost to the crashed swap.
    val got = spark.read.parquet(f.ltsP)
      .select(col("host"), col("sum_double"), col("n"))
      .as[(String, Double, Long)].collect().toSeq
    assert(got.sorted == Seq(("a", 1.0, 1L), ("a", 2.0, 1L),
      ("b", 1.0, 1L), ("b", 2.0, 1L)), got)
  }

  test("a stream under a fresh checkpoint refuses to feed another stream's " +
      "rollup, even once that stream's lease has lapsed") {
    val f = new StreamFixture
    f.write("a.json", Seq((0, 10, "a", 1.5), (1, 5, "b", 4.0)))
    val first = f.run()
    // the first stream has been down past the lease patience
    val lease = new java.io.File(s"${f.ltsP}/_lease")
    assert(lease.setLastModified(0L))
    // a lost checkpoint: the new query re-reads a.json from the start
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      f.run(s"${f.base}/ckpt-fresh"))
    val msgs = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("\n")
    assert(msgs.contains(s"is fed by stream '${first.id}'"), msgs)
    assert(f.rollupN == 2, "the re-read source was counted twice")
    assert(graft.operators.Artifacts.parseKvFile(lease)
      .flatMap(_.get("owner")).contains(first.id.toString),
      "the refused stream took the lease")
  }
}
