package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.Enrich
import graft.sources.{Collectors, Journald, Procfs, Prometheus, Wire}
import graft.streaming.{Ingest, Retention}

/** End-to-end ingest pipeline demo (the yamon agent→server→storage flow,
  * SURVEY.md §3): wire batches + journald + prometheus in, enriched,
  * written as a date-partitioned sorted table, downsampled to LTS,
  * retention applied. Run: `sbt "runMain graft.IngestDemo"`.
  */
object IngestDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val out = Files.createTempDirectory("graft_demo").toString
    println(s"[demo] table dir: $out")

    // 1. agent wire batches (S23) — two hosts, two days
    val batches = Seq(
      """{"m":[{"t":"2024-01-01T00:00:10Z","m":"gauge","h":"a","n":"load.1","v":0.5,"g":{"env":"prod"}},
        |{"t":"2024-01-01T00:00:40Z","m":"gauge","h":"a","n":"load.1","v":1.5,"g":{"env":"prod"}},
        |{"t":"2024-01-01T00:00:20Z","m":"counter","h":"a","n":"net.rx.bytes","v":100}]}""".stripMargin.replace("\n", ""),
      """{"m":[{"t":"2024-02-15T08:00:00Z","m":"counter","h":"b","n":"net.rx.bytes","v":7}]}""")
      .toDF("value")
    val metrics = Enrich.withMetadata(Wire.metrics(batches), "ingest-host", Map("dc" -> "eu"))
    println(s"[demo] wire metrics parsed: ${metrics.count()}")

    // 2. journald + prometheus side inputs (S16/S18)
    val logs = Journald.logs(Seq(
      """{"SYSLOG_IDENTIFIER":"sshd","MESSAGE":"ok","PRIORITY":"6","__REALTIME_TIMESTAMP":"1704067200123456","_PID":"1"}""")
      .toDF("value"), hostname = "a")
    val prom = Prometheus.metrics(Seq(
      "# TYPE up gauge", "up 1").toDF("value"),
      lit("2024-01-01 00:00:00").cast("timestamp"))
    println(s"[demo] journald logs: ${logs.count()}, prom metrics: ${prom.count()}")

    // 2b. host collectors: procfs + exec parses into the same stream
    val at = lit("2024-01-01 00:00:00").cast("timestamp")
    val cpu = Procfs.cpu(Seq("cpu0 10 20 30 40 50 60 70 0 0 0", "ctxt 99")
      .toDF("line"), at, lit("a"))
    val gpu = Collectors.nvidiaSmi(Seq("0, RTX 3090, 45, 1024, 24576, 33, 350")
      .toDF("line"), at, lit("a"))
    println(s"[demo] cpu metrics: ${cpu.count()}, gpu metrics: ${gpu.count()}")

    // 3. storage: date-partitioned sorted parquet (D4/D5/D8)
    Ingest.writeTable(metrics.unionByName(prom), s"$out/metrics", Seq("name", "host"))
    val stored = spark.read.parquet(s"$out/metrics")
    println(s"[demo] stored rows: ${stored.count()}, partitions: " +
      stored.select("date").distinct().as[java.sql.Date].collect().sorted.mkString(","))

    // 4. LTS downsample (D1/D2)
    val lts = Ingest.downsample(stored.drop("date"))
    lts.orderBy("bucket", "name").show(20, truncate = false)

    // 5. retention: drop the January partitions as-of mid-March (D7)
    val dropped = Retention.dropExpired(spark, s"$out/metrics", 30,
      java.time.LocalDate.parse("2024-03-01"))
    println(s"[demo] retention dropped: ${dropped.mkString(",")} " +
      s"remaining=${spark.read.parquet(s"$out/metrics").count()}")
    spark.stop()
  }
}
