package graft.streaming

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.LocalDate
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalacheck.Gen
import graft.TestSpark
import graft.model.Metric
import graft.sources.Wire

/** Storage layer: partitioned writes (D4/D5), downsampling (D1/D2/D3) in
  * batch and streaming, retention (D7). SURVEY.md §5.3-5.4.
  */
class IngestSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.from(java.time.Instant.parse(s))

  private val metrics = Seq(
    Metric(ts("2024-01-01T00:00:10Z"), "gauge", "h1", "load.1", 1.0, Map("env" -> "p")),
    Metric(ts("2024-01-01T00:00:40Z"), "gauge", "h1", "load.1", 3.0, Map("env" -> "p")),
    Metric(ts("2024-01-01T00:01:10Z"), "gauge", "h1", "load.1", 5.0, Map("env" -> "p")),
    Metric(ts("2024-01-01T00:00:20Z"), "counter", "h1", "net.rx", 10.0, Map()),
    Metric(ts("2024-01-01T00:00:50Z"), "counter", "h1", "net.rx", 7.0, Map()),
    Metric(ts("2024-01-02T12:00:00Z"), "gauge", "h2", "load.1", 9.0, Map()))

  test("writeTable: date partitions on disk, partition pruning in plan (D5)") {
    val dir = Files.createTempDirectory("graft_tbl").toString
    Ingest.writeTable(metrics.toDF
      .withColumnRenamed("metricType", "type"), dir, Seq("name", "host"))
    val parts = new java.io.File(dir).listFiles.map(_.getName).filter(_.startsWith("date="))
    assert(parts.toSet == Set("date=2024-01-01", "date=2024-01-02"))
    val planned = spark.read.parquet(dir).filter(col("date") === "2024-01-02")
    assert(planned.count() == 1)
    // pruning is visible in the physical plan's partition filters
    val plan = planned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("date"))
  }

  test("writeTable: tag_keys/tag_values + derived columns materialize with pushdown (D6)") {
    val dir = Files.createTempDirectory("graft_tagidx").toString
    Ingest.writeTable(metrics.toDF.withColumnRenamed("metricType", "type"),
      dir, Seq("name", "host"),
      derived = Seq("tag_env" -> col("tags").getItem("env")))
    val back = spark.read.parquet(dir)
    assert(Seq("tag_keys", "tag_values", "tag_env").forall(back.columns.contains))
    // the ClickHouse-parity derived arrays hold the map's keys/values
    val r = back.filter(col("name") === "load.1" && col("host") === "h1")
      .select("tag_keys", "tag_values").collect().head
    assert(r.getSeq[String](0) == Seq("env") && r.getSeq[String](1) == Seq("p"))
    // predicates on the materialized tag column reach the parquet scan
    val q = back.filter(col("tag_env") === "p")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(tag_env,p)"), plan)
    assert(q.count() == 3)
  }

  test("downsample batch: gauge avg / counter sum per 1-min bucket (D1/D2)") {
    val out = Ingest.downsample(
        metrics.toDF.withColumnRenamed("metricType", "type"))
      .orderBy("name", "bucket")
      .collect()
    val byKey = out.map(r => (r.getAs[String]("name"),
      r.getAs[Timestamp]("bucket").toInstant.toString) -> r.getAs[Double]("value")).toMap
    assert(byKey(("load.1", "2024-01-01T00:00:00Z")) == 2.0) // avg(1,3)
    assert(byKey(("load.1", "2024-01-01T00:01:00Z")) == 5.0)
    assert(byKey(("net.rx", "2024-01-01T00:00:00Z")) == 17.0) // sum(10,7)
  }

  test("downsample streaming == downsample batch (SURVEY §7.3 equivalence)") {
    implicit val sc = spark.sqlContext
    val base = Files.createTempDirectory("graft_ds_stream").toString
    val mem = MemoryStream[Metric]
    val q = Ingest.streamDownsampleTo(
      mem.toDF.withColumnRenamed("metricType", "type"), s"$base/lts", s"$base/ckpt")
    try {
      // both minute-0 series of h1 span the two micro-batches
      mem.addData(metrics(0), metrics(2), metrics(3))
      q.processAllAvailable()
      mem.addData(metrics(1), metrics(4), metrics(5))
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) == 2)
    } finally q.stop()
    val view = Ingest.downsampled(spark.read.parquet(s"$base/lts"))
    val batch = Ingest.downsample(
      metrics.toDF.withColumnRenamed("metricType", "type"))
    assert(view.exceptAll(batch).isEmpty && batch.exceptAll(view).isEmpty)
  }

  test("downsample view skips null values exactly like downsample") {
    val base = Files.createTempDirectory("graft_ds_null").toString
    val in = s"$base/in"
    def line(sec: Int, typ: String, name: String, v: String) =
      f"""{"m":[{"t":"2024-01-01T00:00:$sec%02dZ","m":"$typ","h":"a","n":"$name","v":$v}]}""" + "\n"
    Files.createDirectory(Paths.get(in))
    // two files, two micro-batches; a null sits among valid values in each
    // series, and the `idle`/`drops` series hold nothing but nulls
    Files.writeString(Paths.get(s"$in/a.json"),
      line(1, "gauge", "load.1", "1.0") + line(2, "gauge", "load.1", "null") +
        line(3, "counter", "rx", "10") + line(4, "gauge", "idle", "null"))
    val q = Ingest.streamDownsampleTo(Wire.metrics(spark.readStream.text(in)),
      s"$base/lts", s"$base/ckpt")
    try {
      q.processAllAvailable()
      val staged = Files.writeString(Files.createTempFile("graft_ds_null", ".json"),
        line(5, "gauge", "load.1", "4.0") + line(6, "counter", "rx", "null") +
          line(7, "counter", "rx", "5") + line(8, "counter", "drops", "null"))
      Files.move(staged, Paths.get(s"$in/b.json"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) == 2)
    } finally q.stop()
    val raw = Wire.metrics(spark.read.text(in))
    assert(raw.filter(col("value").isNull).count() == 4)
    val view = Ingest.downsampled(spark.read.parquet(s"$base/lts"))
    val batch = Ingest.downsample(raw)
    assert(view.exceptAll(batch).isEmpty && batch.exceptAll(view).isEmpty,
      view.collect().mkString("\n"))
    // the gauge averages its two values, not its three rows
    val byName = view.collect().map(r => r.getAs[String]("name") ->
      (Option(r.getAs[Any]("value")), r.getAs[Long]("n"))).toMap
    assert(byName("load.1") == (Some(2.5), 3L))
    assert(byName("rx") == (Some(15.0), 3L))
    assert(byName("idle") == (None, 1L) && byName("drops") == (None, 1L))
  }

  test("downsample property: per-series counter sums are conserved (§5.4)") {
    val gen = for {
      n <- Gen.choose(1, 40)
      vals <- Gen.listOfN(n, Gen.choose(0, 1000))
      secs <- Gen.listOfN(n, Gen.choose(0L, 600L))
    } yield vals.zip(secs).map { case (v, s) =>
      Metric(new Timestamp(1704067200000L + s * 1000), "counter", "h", "c", v.toDouble, Map())
    }
    val sample = Iterator.continually(gen.sample).flatten.take(5).toSeq
    sample.foreach { ms =>
      val total = Ingest.downsample(ms.toDF.withColumnRenamed("metricType", "type"))
        .agg(sum("value")).as[Double].collect().head
      assert(total == ms.map(_.value).sum)
    }
  }

  test("streaming exact dedup: duplicate keys within the watermark collapse") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Metric]
    val q = Ingest.dedupStream(
        mem.toDF.withColumnRenamed("metricType", "type"),
        keyCols = Seq("name", "host"), watermark = "10 minutes")
      .writeStream.format("memory").queryName("dedup_stream_test")
      .outputMode("append").start()
    try {
      def m(name: String, host: String, s: Int, v: Double) =
        Metric(ts(f"2024-01-01T00:00:${s}%02dZ"), "gauge", host, name, v, Map())
      mem.addData(m("a", "h1", 1, 1.0), m("a", "h1", 2, 2.0), m("b", "h1", 3, 3.0))
      q.processAllAvailable()
      mem.addData(m("a", "h1", 4, 4.0), m("a", "h2", 5, 5.0))
      q.processAllAvailable()
      val out = spark.table("dedup_stream_test")
        .select("name", "host", "value").collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
      // first occurrence per (name, host) only — in-batch and cross-batch
      // duplicates both collapse; (a, h2) is a distinct key and survives
      assert(out == Set(("a", "h1", 1.0), ("b", "h1", 3.0), ("a", "h2", 5.0)))
    } finally q.stop()
  }

  test("bucketed tables join with zero exchange (co-located join)") {
    val dir = Files.createTempDirectory("graft_bkt").toString
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
    Ingest.writeBucketed(ev.select("event_id", "user_id", "value"),
      "bkt_fact", s"$dir/fact", "user_id", 8)
    Ingest.writeBucketed(
      ev.groupBy("user_id").agg(count(lit(1)).as("n_events")),
      "bkt_agg", s"$dir/agg", "user_id", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("bkt_fact").join(spark.table("bkt_agg"), "user_id")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
      assert(j.count() == ev.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("retention drops only expired date partitions (D7)") {
    val dir = Files.createTempDirectory("graft_ttl").toString
    Ingest.writeTable(metrics.toDF.withColumnRenamed("metricType", "type"),
      dir, Seq("name", "host"))
    // 2024-01-01 is >30 days old on Feb 1 (exactly-30-days is NOT expired,
    // matching ClickHouse's `when + INTERVAL 30 DAY < now()`)
    val dropped = Retention.dropExpired(spark, dir, maxAgeDays = 30,
      today = LocalDate.parse("2024-02-01"))
    assert(dropped == Seq("date=2024-01-01"))
    assert(spark.read.parquet(dir).select("date").distinct.as[java.sql.Date]
      .collect().map(_.toString).toSeq == Seq("2024-01-02"))
  }
}
