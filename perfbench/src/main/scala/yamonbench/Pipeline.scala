package yamonbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.plans.LtsRoute
import graft.sources.{HttpIngest, Wire}
import graft.streaming.{Ingest, IngestMetrics}

/** The ingest path both ingest workloads drive, through the engine's
  * public entry points only: `HttpIngest` spools posted envelopes,
  * `Wire.metrics` parses the spool stream, `Ingest.streamToTable` writes
  * the raw table and `Ingest.streamLtsRollupTo` maintains its minute
  * rollup side by side, and `LtsRoute` serves aggregates from it.
  */
object Pipeline {
  val sortKeys: Seq[String] = Seq("name", "host")
  val dims: Seq[String] = Seq("host", "name")

  /** Sender → key map the server authenticates posts against. */
  val keys: Map[String, String] = Map("bench" -> "k3y")
  val auth: Option[String] = Some("bench:k3y")

  final case class Streams(raw: StreamingQuery, lts: StreamingQuery,
      rawPath: String, ltsPath: String) {
    def stop(): Unit = { raw.stop(); lts.stop() }
  }

  /** Starts the raw writer and the LTS maintainer on `spool`, writing
    * under `out`. The traced run adds the engine's written-rows
    * observation to the raw stream.
    */
  def start(run: Run, spool: String, out: String): Streams = {
    val spark = run.spark
    val parsed = Wire.metrics(spark.readStream.text(spool))
    val raw = Ingest.streamToTable(
      if (run.traced) IngestMetrics.observed(parsed) else parsed,
      s"$out/raw", s"$out/ck-raw", sortKeys)
    val lts = Ingest.streamLtsRollupTo(parsed, s"$out/lts", s"$out/ck-lts", dims)
    run.stream("raw", raw.id)
    run.stream("lts", lts.id)
    Streams(raw, lts, s"$out/raw", s"$out/lts")
  }

  /** Envelopes (input rows) a stream has committed so far. */
  def consumed(q: StreamingQuery): Long = q.recentProgress.map(_.numInputRows).sum

  /** Blocks until both streams committed `envelopes` input rows; false on
    * timeout or when a stream died.
    */
  def awaitConsumed(s: Streams, envelopes: Long, timeoutMs: Long): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def done = consumed(s.raw) >= envelopes && consumed(s.lts) >= envelopes
    while (!done && System.nanoTime() < deadline && s.raw.isActive && s.lts.isActive)
      Thread.sleep(5)
    done
  }

  /** The probe/check aggregate: per-host hourly sum and count over the
    * raw table — an `LtsRoute`-routable shape.
    */
  def hourlyByHost(spark: SparkSession, rawPath: String): DataFrame =
    spark.read.parquet(rawPath)
      .groupBy(date_trunc("hour", col("time")).as("hour"), col("host"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("sv"), count(lit(1)).as("n"))

  /** Root paths of the file relations the optimized plan reads. */
  def relationRoots(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toUri.getPath.stripSuffix("/"))
          case _ => Nil
        }
    }.flatten

  /** True when the optimized plan reads the rollup at `ltsPath`, judged
    * from the relation roots of the optimized plan.
    */
  def routedTo(df: DataFrame, ltsPath: String): Boolean =
    relationRoots(df).contains(new File(ltsPath).getAbsoluteFile.toURI.getPath.stripSuffix("/"))

  def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** The ingest correctness checks, on stopped streams: the raw table
    * holds exactly the rows `Wire` keeps, the rollup's `sum(n)` agrees,
    * and the routed aggregate equals the raw recompute bit for bit.
    */
  def checkIngest(run: Run, label: String, s: Streams, acceptedRows: Long,
      expectedDrops: Long): Unit = {
    val spark = run.spark
    val rawRows = spark.read.parquet(s.rawPath).count()
    run.check(s"$label.raw_rows", rawRows + expectedDrops == acceptedRows,
      s"accepted $acceptedRows rows, raw table holds $rawRows, expected drops $expectedDrops")
    val ltsN = spark.read.parquet(s.ltsPath).agg(sum(col("n"))).head().getLong(0)
    run.check(s"$label.lts_sum_n", ltsN == rawRows,
      s"rollup sum(n) $ltsN, raw rows $rawRows")
    LtsRoute.register(spark, s.rawPath, s.ltsPath)
    val routedQ = hourlyByHost(spark, s.rawPath)
    val isRouted = routedTo(routedQ, s.ltsPath)
    val routed = rowsOf(routedQ)
    LtsRoute.deregister(spark, s.rawPath)
    val raw = rowsOf(hourlyByHost(spark, s.rawPath))
    run.check(s"$label.route_used", isRouted, "hourly per-host aggregate was not routed")
    run.check(s"$label.routed_equals_raw", routed == raw,
      s"routed ${routed.size} rows differ from raw recompute ${raw.size} rows")
  }

  /** Posts envelopes to a running server from `threads` client threads;
    * returns the HTTP status per envelope, in order.
    */
  def postAll(run: Run, url: String, bodies: IndexedSeq[String], threads: Int): IndexedSeq[Int] = {
    val status = new Array[Int](bodies.size)
    val next = new java.util.concurrent.atomic.AtomicInteger()
    val ts = (0 until threads).map { _ =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < bodies.size) {
          val req = Trace.newRequest()
          val t0 = System.nanoTime()
          status(i) = Trace.span("post", "sources.HttpIngest", req) {
            run.attempt("post")(HttpIngest.post(url, bodies(i), auth)).getOrElse(-1)
          }
          run.sample("http.service_ms", Run.ms(t0))
          if (status(i) != 204) {
            run.sample("http.refused", 1.0)
            if (status(i) > 0) run.fail("post", s"HTTP ${status(i)}")
          }
          i = next.getAndIncrement()
        }
      })
      t.start()
      t
    }
    ts.foreach(_.join())
    status.toIndexedSeq
  }

  def submitUrl(server: HttpIngest.Server): String =
    s"http://127.0.0.1:${server.port}/v1/submit-batch"

  /** Parquet data files and bytes under a table root. */
  def tableFiles(path: String): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet") && !f.getName.startsWith(".")) Seq(f)
      else Nil
    val fs = walk(new File(path))
    (fs.size.toLong, fs.map(_.length).sum)
  }
}
