package yamonbench

import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.plans.LtsRoute
import graft.streaming.Ingest

/** `dashboard`: one closed-loop client over a seeded metrics table that
  * set-up writes with `Ingest.writeTable` (sorted, date-partitioned, tag
  * bloom filters) next to its `Ingest.ltsRollup`, registered with
  * `LtsRoute`. The client cycles a seeded mix of eight query classes;
  * each class's first answer is checked against its unrouted recompute.
  */
object Dashboard {
  val hosts = 20
  val points = 360
  val stepMicros = 5000000L
  val warmMs = 6000.0

  val classes: Vector[String] = Vector("lts_minute_host", "lts_hour_fleet",
    "raw_point", "tag_lookup", "counter_rate", "topk_hosts", "raw_percentile",
    "sql_lts_minute")

  /** Classes the route must serve. */
  val routable: Set[String] = Set("lts_minute_host", "lts_hour_fleet", "sql_lts_minute")

  private val schema = StructType(Seq(
    StructField("time", TimestampType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("host", StringType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("tags", MapType(StringType, StringType, valueContainsNull = false),
      nullable = false)))

  /** The seeded table as a local frame (not yet written). */
  def source(spark: SparkSession, seed: Long): DataFrame = {
    val rows = Gen.table(seed, hosts, points, stepMicros).map { m =>
      Row(new java.sql.Timestamp(m.time / 1000L), m.kind, m.host, m.name, m.value,
        m.tags.toMap)
    }.toVector
    spark.createDataFrame(spark.sparkContext.parallelize(rows, spark.sparkContext.defaultParallelism), schema)
  }

  private val dec = DecimalType(18, 2)

  /** One query of a class; `p` draws its parameters. */
  def query(spark: SparkSession, table: DataFrame, cls: String, p: SplittableRandom,
      seed: Long): DataFrame = {
    val day0 = Gen.midnightMicros(seed) - points / 2 * stepMicros
    def pick[A](xs: Seq[A]): A = xs(p.nextInt(xs.size))
    val gauges = Gen.names.filter(_._2 == "gauge").map(_._1)
    val counters = Gen.names.filter(_._2 == "counter").map(_._1)
    cls match {
      case "lts_minute_host" =>
        table.groupBy(date_trunc("minute", col("time")).as("bucket"), col("host"))
          .agg(sum(col("value").cast(dec)).as("sv"), count(lit(1)).as("n"))
      case "lts_hour_fleet" =>
        table.groupBy(date_trunc("hour", col("time")).as("hour"))
          .agg((sum(col("value").cast(dec)).cast("double") / count(lit(1))).as("avg"),
            count(lit(1)).as("n"))
      case "raw_point" =>
        val t = day0 + p.nextInt(points - 60).toLong * stepMicros
        val from = new java.sql.Timestamp(t / 1000L)
        val to = new java.sql.Timestamp((t + 60 * stepMicros) / 1000L)
        table.filter(col("date") === to_date(lit(from)) && col("name") === pick(Gen.names.map(_._1)) &&
            col("host") === Gen.host(p.nextInt(hosts)) &&
            col("time") >= lit(from) && col("time") < lit(to))
          .select("time", "host", "name", "value")
      case "tag_lookup" =>
        table.filter(col("svc") === Gen.service(p.nextInt(Gen.services)))
          .groupBy("host", "name").agg(count(lit(1)).as("n"), max(col("value")).as("max_value"))
      case "counter_rate" =>
        val w = Window.partitionBy("host").orderBy("time")
        table.filter(col("name") === pick(counters))
          .withColumn("rate", (col("value") - lag(col("value"), 1).over(w)) /
            (col("time").cast("long") - lag(col("time").cast("long"), 1).over(w)))
          .groupBy("host").agg(max(col("rate")).as("max_rate"))
      case "topk_hosts" =>
        table.filter(col("name") === pick(gauges))
          .groupBy("host").agg((sum(col("value").cast(dec)) / count(lit(1))).as("avg"))
          .orderBy(col("avg").desc, col("host")).limit(10)
      case "raw_percentile" =>
        table.groupBy("name").agg(
          percentile_approx(col("value"), array(lit(0.5), lit(0.9), lit(0.99)), lit(1000)).as("p"))
      case "sql_lts_minute" =>
        spark.sql(
          """SELECT date_trunc('minute', time) AS bucket, host,
            |  SUM(CAST(value AS DECIMAL(18,2))) AS sv, COUNT(1) AS n
            |FROM dash_raw GROUP BY 1, 2""".stripMargin)
    }
  }

  def run(r: Run): Unit = {
    val spark = r.spark
    // set-up ×3: generate, write the sorted raw table and its rollup
    val tables = (1 to 3).map { k =>
      r.setup {
        val raw = r.dir(s"dash-$k/raw")
        val lts = r.dir(s"dash-$k/lts")
        Ingest.writeTable(source(spark, r.seed), raw, Pipeline.sortKeys,
          derived = Seq("svc" -> col("tags").getItem("svc")))
        Ingest.ltsRollup(spark.read.parquet(raw), Pipeline.dims)
          .write.mode("overwrite").parquet(lts)
        (raw, lts)
      }
    }
    val (rawPath, ltsPath) = tables.last
    val (files, bytes) = Pipeline.tableFiles(rawPath)
    val rows = hosts.toLong * Gen.names.size * points
    r.layer("write.files", files.toDouble)
    r.layer("write.bytes_per_row", bytes.toDouble / rows)
    r.layer("lts.files", Pipeline.tableFiles(ltsPath)._1.toDouble)

    // the client resolves its table once, as a dashboard server holds it
    val table = spark.read.parquet(rawPath)
    def register(): Unit = {
      LtsRoute.register(spark, rawPath, ltsPath)
      table.createOrReplaceTempView("dash_raw")
    }
    register()

    // first pass: every class once, checked against its unrouted recompute
    val src = source(spark, r.seed).withColumn("svc", col("tags").getItem("svc"))
      .withColumn("date", to_date(col("time")))
    classes.foreach { cls =>
      def q(t: DataFrame) = query(spark, t, cls, new SplittableRandom(r.seed), r.seed)
      r.attempt(s"first.$cls") {
        val first = q(table)
        if (routable(cls))
          r.check(s"$cls.route_used", Pipeline.routedTo(first, ltsPath), "class was not routed")
        val got = Pipeline.rowsOf(first)
        LtsRoute.deregister(spark, rawPath)
        // layout classes are recomputed from the generated rows themselves,
        // so pruning or bloom skipping that lost a row would show
        val want = try {
          if (Set("raw_point", "tag_lookup", "counter_rate", "topk_hosts")(cls)) Pipeline.rowsOf(q(src))
          else Pipeline.rowsOf(q(table))
        } finally register()
        r.check(s"$cls.equals_raw", got == want && got.nonEmpty,
          s"${got.size} rows differ from the unrouted recompute's ${want.size}")
      }
    }

    val mix = new SplittableRandom(r.seed ^ 0x5eedL)
    val order = scala.util.Random.javaRandomToRandom(new java.util.Random(r.seed)).shuffle(classes)
    var n = 0
    /** Runs the mix for `ms`; `timed` samples the answers. */
    def client(ms: Double, timed: Boolean): Unit = {
      val t0 = System.nanoTime()
      while (Run.ms(t0) < ms) {
        val cls = order(n % order.size)
        val req = Trace.newRequest()
        val q0 = System.nanoTime()
        val answered = Trace.span("query", "client", req) {
          r.attempt(cls) {
            val df = query(spark, table, cls, mix, r.seed)
            val (routed, planMs) = Run.timed(Trace.span("plan", "plans.Route", req) {
              Pipeline.routedTo(df, ltsPath)
            })
            Trace.span("execute", "spark.query", req)(df.collect())
            (df, routed, planMs)
          }
        }
        val ms = Run.ms(q0)
        answered.filter(_ => timed).foreach { case (df, routed, planMs) =>
          r.sample("query_ms", ms)
          r.sample(s"dash.${cls}_ms", ms)
          if (routable(cls)) {
            r.sample("route.plan_ms", planMs)
            r.sample("route.routed", if (routed) 1.0 else 0.0)
          }
          if (r.traced) {
            r.sample("scan.files", Layers.scanFiles(df))
            if (routed) r.sample("route.rows_scanned", Layers.scanRows(df))
          }
        }
        n += 1
      }
    }
    // warm-up: JIT and codegen settle before the measured window
    client(warmMs, timed = false)
    Layers.windowStart(r)
    val t0 = System.nanoTime()
    n = 0
    client(r.seconds * 1000.0, timed = true)
    r.sample("queries_per_s", n / (Run.ms(t0) / 1000))
    Layers.windowEnd(r)
    LtsRoute.deregister(spark, rawPath)
  }
}
