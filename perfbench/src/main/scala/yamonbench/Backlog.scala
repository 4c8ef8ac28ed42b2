package yamonbench

import java.io.File
import org.apache.spark.sql.functions._
import graft.sources.{HttpIngest, Wire}
import graft.streaming.Ingest

/** `ingest_backlog`: closed-loop ingest throughput. Set-up spools a seeded
  * backlog through `HttpIngest`; the timed part drains it through `Wire`
  * parse, the raw writer and the LTS maintainer running side by side, on
  * fresh output and checkpoint directories each time, until both streams
  * have consumed every envelope.
  */
object Backlog {
  val envelopes = 80
  val rowsPerEnvelope = 2000
  val hosts = 50
  val stepMicros = 5000000L
  val drainTimeoutMs = 60000L
  val warmDrains = 1
  /** Timed drains at least, even when the window holds fewer: single
    * drains fall into a fast and a slow mode ~1.5 s apart, and the rate
    * over several averages them.
    */
  val minTimedDrains = 3

  /** A spooled backlog: its directory and the envelopes the server
    * accepted.
    */
  final case class Spool(dir: String, accepted: IndexedSeq[Gen.Envelope]) {
    val rows: Long = accepted.map(_.rows.toLong).sum
    val drops: Long = accepted.map(e => (e.rows - e.valid).toLong).sum
  }

  def run(r: Run): Unit = {
    // set-up ×3: render the seeded backlog and spool it through HTTP
    val spools = (1 to 3).map { k =>
      r.setup {
        val env = Gen.backlog(r.seed, envelopes, rowsPerEnvelope, hosts, stepMicros)
        val spool = r.dir(s"spool-$k")
        val server = HttpIngest.start(spool, Pipeline.keys)
        val status = try Pipeline.postAll(r, Pipeline.submitUrl(server), env.map(_.body), r.cores)
          finally server.stop()
        Spool(spool, env.indices.filter(status(_) == 204).map(env))
      }
    }
    val spooled = new File(spools.head.dir).listFiles().filter(_.getName.endsWith(".json"))
    r.layer("http.posts", (envelopes * spools.size).toDouble)
    r.layer("http.spool_files", spooled.length.toDouble)
    r.layer("http.spool_bytes", spooled.map(_.length).sum.toDouble)

    /** Drains backlog `i` into fresh directories and returns its time;
      * the outputs are checked when `checked` holds once it is done.
      */
    def drain(i: Int, checked: => Boolean): Double = {
      val sp = spools(i % spools.size)
      val out = r.dir(s"drain-$i")
      val t0 = System.nanoTime()
      val s = Pipeline.start(r, sp.dir, out)
      // timed until both streams committed every envelope, not until they stop
      val (done, ms) =
        try { val d = Pipeline.awaitConsumed(s, sp.accepted.size, drainTimeoutMs); (d, Run.ms(t0)) }
        finally s.stop()
      r.check(s"drain-$i.consumed", done,
        s"streams did not consume ${sp.accepted.size} envelopes in $drainTimeoutMs ms")
      if (done && checked) Pipeline.checkIngest(r, s"drain-$i", s, sp.rows, sp.drops)
      if (i == 0) {
        val (files, bytes) = Pipeline.tableFiles(s.rawPath)
        r.layer("write.files", files.toDouble)
        r.layer("write.bytes_per_row", bytes.toDouble / (sp.rows - sp.drops))
        r.layer("lts.files", Pipeline.tableFiles(s.ltsPath)._1.toDouble)
        r.layer("wire.rows_in", sp.rows.toDouble)
        r.layer("wire.rows_out", (sp.rows - sp.drops).toDouble)
        r.layer("wire.rows_dropped", sp.drops.toDouble)
      }
      Run.deleteTree(new File(out))
      ms
    }

    // warm-up: JIT and codegen land outside the timed window
    (0 until warmDrains).foreach(i => drain(i, checked = i == 0))
    val window0 = System.nanoTime()
    Layers.windowStart(r)
    var i = warmDrains
    var (rows, ms) = (0L, 0.0)
    def more(next: Int) =
      Run.ms(window0) < r.seconds * 1000.0 || next < warmDrains + minTimedDrains
    while (more(i)) {
      val sp = spools(i % spools.size)
      // the last drain of the window is checked too
      val d = drain(i, checked = !more(i + 1))
      rows += sp.rows - sp.drops
      ms += d
      r.sample("drain_ms", d)
      i += 1
    }
    r.sample("rows_per_s", rows / (ms / 1000))
    // the traced decomposition stays inside the window so its spans count
    if (r.traced) decompose(r, spools.head.dir)
    Layers.windowEnd(r)
  }

  /** The traced run's batch decomposition of one backlog: the parse, the
    * raw write and the rollup as separate timed batch jobs.
    */
  private def decompose(r: Run, spool: String): Unit = {
    val spark = r.spark
    val out = r.dir("decompose")
    val (_, parseMs) = Run.timed(Trace.span("wire.parse", "sources.Wire") {
      Wire.metrics(spark.read.text(spool)).foreach(_ => ())
    })
    val parsed = Wire.metrics(spark.read.text(spool)).localCheckpoint(true)
    val (_, writeMs) = Run.timed(Trace.span("ingest.write", "streaming.Ingest.raw") {
      Ingest.writeTable(parsed, s"$out/raw", Pipeline.sortKeys)
    })
    val (_, rollupMs) = Run.timed(Trace.span("lts.rollup", "streaming.Ingest.lts") {
      Ingest.ltsRollup(parsed, Pipeline.dims).write.parquet(s"$out/lts")
    })
    parsed.unpersist()
    r.layer("wire.parse_ms", parseMs)
    r.layer("write.ms", writeMs)
    r.layer("lts.rollup_ms", rollupMs)
    Run.deleteTree(new File(out))
  }
}
