package yamonbench

import java.io.File
import java.util.SplittableRandom
import org.apache.spark.sql.functions._
import graft.plans.LtsRoute
import graft.sources.HttpIngest

/** `ingest_live`: open-loop ingest at a fixed offered rate with a
  * concurrent reader. Simulated agents each flush one pre-rendered
  * envelope every [[flushMicros]] on a staggered schedule; at most
  * `cores` sender threads multiplex them. The raw writer and the LTS
  * maintainer run as in `ingest_backlog`, and a prober runs an
  * `LtsRoute`-served per-host count every [[probePeriodMs]].
  *
  * Freshness of an envelope is the time from when it was due until the
  * first probe whose per-host count includes it; submit latency is the
  * time from due until the POST was answered. Only envelopes due inside
  * the measured window (after [[warmSeconds]]) are sampled.
  */
object Live {
  val agents = 64
  val rowsPerEnvelope = 100
  val flushMicros = 5000000L
  val warmSeconds = 10
  val probePeriodMs = 200L
  val visibleTimeoutMs = 40000L

  /** One scheduled flush: due offset (ns after start) and its envelope. */
  final case class Flush(dueNs: Long, env: Gen.Envelope)

  /** The seeded schedule of every flush due in the first `seconds`. Agent
    * `a` flushes at `a/agents` of the interval, then every interval; its
    * rows cover the interval before the flush, in event time starting
    * just before the seed's midnight.
    */
  def schedule(seed: Long, seconds: Int): IndexedSeq[Flush] = {
    val rng = new SplittableRandom(seed)
    val eventStart = Gen.midnightMicros(seed) - 10000000L
    val step = flushMicros / (rowsPerEnvelope / Gen.names.size)
    val flushes = for {
      k <- 0 until (seconds * 1000000L / flushMicros + 1).toInt
      a <- 0 until agents
      dueMicros = a * flushMicros / agents + k * flushMicros
      if dueMicros < seconds * 1000000L
    } yield (dueMicros, a)
    flushes.sortBy(_._1).map { case (due, a) =>
      Flush(due * 1000L, Gen.envelope(rng, a, eventStart + due - flushMicros,
        rowsPerEnvelope, step, Gen.dropsFor(rowsPerEnvelope)))
    }
  }

  /** A completed probe: when it answered and the per-host row counts. */
  final case class Probe(doneNs: Long, counts: Map[String, Long])

  def run(r: Run): Unit = {
    val spark = r.spark
    val total = warmSeconds + r.seconds
    val plan = (1 to 3).map(_ => r.setup(schedule(r.seed, total))).last
    val spool = r.dir("spool")
    val out = r.dir("live")
    val server = HttpIngest.start(spool, Pipeline.keys)
    val url = Pipeline.submitUrl(server)
    val streams = Pipeline.start(r, spool, out)
    val probes = new java.util.concurrent.ConcurrentLinkedQueue[Probe]()
    @volatile var latest: Option[Probe] = None
    @volatile var stopProbes = false
    val prober = new Thread(() => {
      var registered = false
      def hasData(p: String) = Option(new File(p).list()).exists(_.exists(_.startsWith("date=")))
      while (!stopProbes) {
        val t0 = System.nanoTime()
        if (!registered && hasData(streams.rawPath) && hasData(streams.ltsPath)) {
          LtsRoute.register(spark, streams.rawPath, streams.ltsPath)
          registered = true
        }
        if (registered) {
          val req = Trace.newRequest()
          Trace.span("probe", "client", req) {
            r.attempt("probe") {
              def q = spark.read.parquet(streams.rawPath)
                .groupBy(col("host")).agg(count(lit(1)).as("n"))
              def once() = {
                val df = q
                val (routed, planMs) = Run.timed(Trace.span("plan", "plans.Route", req) {
                  Pipeline.routedTo(df, streams.ltsPath)
                })
                (df, routed, planMs, Trace.span("execute", "spark.query", req)(df.collect()))
              }
              // a probe planned against the rollup's previous file listing
              // can race the maintainer's partition swap and find a file
              // gone: a user sees that query throw, so it fails the run;
              // the probe is retried once so freshness sampling goes on
              val (df, routed, planMs, rows) =
                try once() catch {
                  case e: Exception if String.valueOf(e.getMessage).contains("FILE_NOT_EXIST") =>
                    r.sample("route.stale_reads", 1.0)
                    r.fail("probe", s"stale rollup read: ${e.getClass.getSimpleName}")
                    once()
                }
              if (r.traced) {
                r.sample("scan.files", Layers.scanFiles(df))
                if (routed) r.sample("route.rows_scanned", Layers.scanRows(df))
              }
              val p = Probe(System.nanoTime(), rows.map(row => row.getString(0) -> row.getLong(1)).toMap)
              probes.add(p)
              latest = Some(p)
              r.sample("route.plan_ms", planMs)
              r.sample("route.routed", if (routed) 1.0 else 0.0)
              r.sample("probe_ms", Run.ms(t0))
            }
          }
        }
        val left = probePeriodMs - Run.ms(t0).toLong
        if (left > 0) Thread.sleep(left)
      }
      if (registered) LtsRoute.deregister(spark, streams.rawPath)
    }, "live-prober")
    prober.start()

    Layers.windowStart(r)
    val start = System.nanoTime()
    val sent = try new OpenLoop(plan.map(_.dueNs), r.cores, OpenLoop.systemClock,
      OpenLoop.systemSleep, i => {
        val req = Trace.newRequest()
        Trace.span("post", "sources.HttpIngest", req) {
          r.attempt("post")(HttpIngest.post(url, plan(i).env.body, Pipeline.auth)) match {
            case Some(204) => true
            case Some(code) => r.fail("post", s"HTTP $code"); false
            case None => false
          }
        }
      }).run(start)
    catch { case e: Throwable => stopProbes = true; prober.join(); streams.stop(); server.stop(); throw e }
    val scheduleEnd = start + total * 1000000000L

    // cumulative valid rows per host after each accepted flush
    val cumulative = new Array[Long](plan.size)
    val perHost = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    plan.indices.foreach { i =>
      val h = Gen.host(plan(i).env.host)
      if (sent(i).accepted) perHost(h) += plan(i).env.valid
      cumulative(i) = perHost(h)
    }
    val finalCounts = perHost.toMap
    def allVisible(p: Probe) = finalCounts.forall { case (h, n) => p.counts.getOrElse(h, 0L) >= n }
    val deadline = System.nanoTime() + visibleTimeoutMs * 1000000L
    while (System.nanoTime() < deadline && !latest.exists(allVisible)) Thread.sleep(20)
    stopProbes = true
    prober.join()
    streams.stop()
    server.stop()
    Layers.windowEnd(r)

    val probeSeq = probes.toArray(new Array[Probe](0)).toIndexedSeq.sortBy(_.doneNs)
    r.check("live.all_visible", probeSeq.nonEmpty && allVisible(probeSeq.last),
      s"rows not all visible ${visibleTimeoutMs} ms after the schedule ended")
    val windowStartNs = warmSeconds * 1000000000L
    var lastVisibleNs = start + windowStartNs
    var windowRows = 0L
    plan.indices.filter(i => plan(i).dueNs >= windowStartNs).foreach { i =>
      val s = sent(i)
      r.sample("submit_ms", s.latencyNs / 1e6)
      r.sample("gen.late_ms", s.lateNs / 1e6)
      r.sample("http.service_ms", s.serviceNs / 1e6)
      if (s.accepted) {
        val h = Gen.host(plan(i).env.host)
        probeSeq.find(p => p.counts.getOrElse(h, 0L) >= cumulative(i)).foreach { p =>
          r.sample("freshness_ms", (p.doneNs - s.dueNs) / 1e6)
          lastVisibleNs = math.max(lastVisibleNs, p.doneNs)
          windowRows += plan(i).env.valid
        }
      }
    }
    r.sample("visible_rows_per_s", windowRows / ((lastVisibleNs - start - windowStartNs) / 1e9))
    // accepted rows not yet visible when the schedule ended
    val atEnd = probeSeq.takeWhile(_.doneNs <= scheduleEnd).lastOption
    val acceptedByEnd = plan.indices.filter(i => sent(i).accepted && sent(i).doneNs <= scheduleEnd)
      .groupBy(i => Gen.host(plan(i).env.host)).map { case (h, is) => h -> is.map(cumulative).max }
    r.layer("live.backlog_end_rows", acceptedByEnd.map { case (h, n) =>
      math.max(0L, n - atEnd.map(_.counts.getOrElse(h, 0L)).getOrElse(0L))
    }.sum.toDouble)

    val accepted = plan.indices.filter(sent(_).accepted).map(plan(_).env)
    val rows = accepted.map(_.rows.toLong).sum
    val drops = accepted.map(e => (e.rows - e.valid).toLong).sum
    r.layer("http.posts", sent.size.toDouble)
    val spooled = new File(spool).listFiles().filter(_.getName.endsWith(".json"))
    r.layer("http.spool_files", spooled.length.toDouble)
    r.layer("http.spool_bytes", spooled.map(_.length).sum.toDouble)
    r.layer("wire.rows_in", rows.toDouble)
    r.layer("wire.rows_out", (rows - drops).toDouble)
    r.layer("wire.rows_dropped", drops.toDouble)
    val (files, bytes) = Pipeline.tableFiles(streams.rawPath)
    r.layer("write.files", files.toDouble)
    r.layer("write.bytes_per_row", bytes.toDouble / math.max(1L, rows - drops))
    r.layer("lts.files", Pipeline.tableFiles(streams.ltsPath)._1.toDouble)
    Pipeline.checkIngest(r, "live", streams, rows, drops)
  }
}
