package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** B2 transport: real HTTP round-trip into the spool, with the reference's
  * status semantics (ref: forward_server.go:30-79), the group-commit
  * invariants of the spool, and the spool parsing end-to-end through the
  * Wire surface.
  */
class HttpIngestSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private val batch =
    """{"m":[{"t":"2024-01-01T00:09:58.778549Z","m":"gauge","h":"web-1","n":"load.1","v":0.42,"g":{"env":"prod"}}],
      | "l":[],"e":[]}""".stripMargin.replace("\n", "")

  test("submit-batch: auth/status semantics and atomic spool publish") {
    val spool = Files.createTempDirectory("graft_spool").toString
    val srv = HttpIngest.start(spool, keys = Map("web-1" -> "s3cret"))
    try {
      val url = s"http://127.0.0.1:${srv.port}/v1/submit-batch"
      assert(HttpIngest.post(url, batch, Some("web-1:s3cret")) == 204)
      assert(HttpIngest.post(url, batch, Some("web-1:wrong")) == 401)
      assert(HttpIngest.post(url, batch, None) == 401)
      assert(HttpIngest.post(url, "not json", Some("web-1:s3cret")) == 400)
      // strict whole-body decode: trailing garbage and non-object roots
      // are rejects, like the reference's struct decode
      assert(HttpIngest.post(url, batch + " trailing", Some("web-1:s3cret")) == 400)
      assert(HttpIngest.post(url, "123", Some("web-1:s3cret")) == 400)
      // only the accepted batch landed, atomically (no .part files)
      val files = new java.io.File(spool).listFiles.map(_.getName)
      assert(files.length == 1 && files.head.startsWith("batch-"), files.toSeq)
    } finally srv.stop()
  }

  test("spooled envelopes parse through the Wire surface end-to-end") {
    val spool = Files.createTempDirectory("graft_spool2").toString
    val srv = HttpIngest.start(spool) // keyless server accepts all
    try {
      val url = s"http://127.0.0.1:${srv.port}/v1/submit-batch"
      assert(HttpIngest.post(url, batch) == 204)
      assert(HttpIngest.post(url, batch) == 204)
      val m = Wire.metrics(spark.read.text(spool)).collect()
      assert(m.length == 2)
      assert(m.forall(_.getAs[String]("name") == "load.1"))
      assert(m.forall(_.getAs[Map[String, String]]("tags") == Map("env" -> "prod")))
    } finally srv.stop()
  }

  /** An envelope of `rows` metric rows whose first row names `probe`. */
  private def envelope(probe: String, rows: Int): String =
    (0 until rows).map { i =>
      val n = if (i == 0) probe else s"load.$i"
      s"""{"t":"2024-01-01T00:09:58.778549Z","m":"gauge","h":"web-1","n":"$n","v":0.42,"g":{"env":"prod"}}"""
    }.mkString("""{"m":[""", ",", """],"l":[],"e":[]}""")

  private val probeRe = "probe-[0-9]+-[0-9]+".r

  private def spoolFiles(spool: String): Seq[File] =
    new File(spool).listFiles.toSeq.filter(_.getName.startsWith("batch-"))

  /** Spool lines, each reduced to the probe name it carries. */
  private def spoolProbes(files: Seq[File]): Seq[String] =
    files.flatMap(f => Files.readAllLines(f.toPath).asScala)
      .map(l => probeRe.findFirstIn(l).getOrElse(l.take(40)))

  /** Runs `body(t)` on `n` threads and rethrows the first failure. */
  private def onThreads(n: Int)(body: Int => Unit): Unit = {
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until n).map { t =>
      val th = new Thread(() => try body(t) catch { case e: Throwable => errors.add(e) })
      th.start(); th
    }
    ts.foreach(_.join())
    errors.asScala.headOption.foreach(e => throw e)
  }

  private def workers(port: Int): Seq[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.getName.startsWith(s"http-ingest-$port-") && t.isAlive)

  test("concurrent submits are group-committed: acked means visible, " +
      "one line per envelope, fewer files than posts") {
    val spool = Files.createTempDirectory("graft_spool_group").toString
    val srv = HttpIngest.start(spool)
    val posters = 4
    val posts = 10
    try {
      val url = s"http://127.0.0.1:${srv.port}/v1/submit-batch"
      // probes seen per published file: a file is immutable once renamed
      // into place, so each is read once
      val seen = new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
      onThreads(posters) { t =>
        (0 until posts).foreach { i =>
          val probe = s"probe-$t-$i"
          assert(HttpIngest.post(url, envelope(probe, 500)) == 204, probe)
          spoolFiles(spool).foreach(f =>
            seen.computeIfAbsent(f.getName, _ => spoolProbes(Seq(f))))
          assert(seen.values.asScala.exists(_.contains(probe)),
            s"$probe was acked but is not in the spool")
        }
      }
      val files = spoolFiles(spool)
      val lines = spoolProbes(files)
      val expected = for (t <- 0 until posters; i <- 0 until posts) yield s"probe-$t-$i"
      assert(lines.sorted == expected.sorted)
      assert(!new File(spool).list.exists(_.startsWith(HttpIngest.tmpPrefix)))
      assert(files.size < posters * posts,
        s"${files.size} spool files for ${posters * posts} concurrent posts")
      assert(spark.read.text(spool).count() == posters * posts)
    } finally srv.stop()
  }

  test("refused requests never reach the spool nor hold a group past the " +
      "cap, and stop() leaves no worker running") {
    val spool = Files.createTempDirectory("graft_spool_mixed").toString
    val srv = HttpIngest.start(spool, keys = Map("web-1" -> "s3cret"))
    val url = s"http://127.0.0.1:${srv.port}/v1/submit-batch"
    val auth = Some("web-1:s3cret")
    val accepted = new ConcurrentLinkedQueue[String]()
    val slowestMs = new java.util.concurrent.atomic.AtomicLong()
    try {
      // a request that stays in flight mid-body for 2 s, then completes
      // with invalid JSON: committers may wait for it only up to the cap
      val stalled = new java.util.concurrent.atomic.AtomicReference[String]()
      val staller = new Thread(() => {
        val sock = new java.net.Socket("127.0.0.1", srv.port)
        try {
          val body = "{\"m\": not json at all}".getBytes(StandardCharsets.UTF_8)
          val out = sock.getOutputStream
          out.write((s"POST /v1/submit-batch HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
            s"Authorization: web-1:s3cret\r\nContent-Length: ${body.length}\r\n\r\n")
            .getBytes(StandardCharsets.US_ASCII))
          out.write(body, 0, 4); out.flush()
          Thread.sleep(2000)
          out.write(body, 4, body.length - 4); out.flush()
          stalled.set(new java.io.BufferedReader(new java.io.InputStreamReader(
            sock.getInputStream, StandardCharsets.US_ASCII)).readLine())
        } finally sock.close()
      })
      staller.start()
      Thread.sleep(200)
      val tooLarge = "x" * (HttpIngest.maxBodyBytes + 1)
      onThreads(4) { t =>
        (0 until 8).foreach { i =>
          if (t == 3) {
            // the refusals, interleaved with the accepted posts
            val (body, a, code) = i % 3 match {
              case 0 => (envelope(s"probe-$t-$i", 50), Some("web-1:wrong"), 401)
              case 1 => (envelope(s"probe-$t-$i", 50).dropRight(1), auth, 400)
              case _ => (tooLarge, auth, 413)
            }
            assert(HttpIngest.post(url, body, a) == code, s"$t/$i")
          } else {
            val probe = s"probe-$t-$i"
            val t0 = System.nanoTime()
            assert(HttpIngest.post(url, envelope(probe, 50), auth) == 204, probe)
            slowestMs.accumulateAndGet((System.nanoTime() - t0) / 1000000L, math.max)
            accepted.add(probe)
          }
        }
      }
      staller.join()
      assert(stalled.get != null && stalled.get.contains(" 400 "), stalled.get)
      // every accepted post finished well inside the 2 s stall: no group
      // waited on the stalled request past the cap
      assert(slowestMs.get < 1500, s"slowest accepted post ${slowestMs.get} ms")
      assert(spoolProbes(spoolFiles(spool)).sorted == accepted.asScala.toSeq.sorted)
      assert(workers(srv.port).nonEmpty)
    } finally srv.stop()
    assert(workers(srv.port).isEmpty, workers(srv.port).map(_.getName))
    // nothing lands after stop() returned
    val after = spoolFiles(spool).map(_.getName).toSet
    Thread.sleep(HttpIngest.groupWaitMs * 2)
    assert(spoolFiles(spool).map(_.getName).toSet == after)
  }

  test("stop() ends a request stalled mid-body and leaves no worker running") {
    val spool = Files.createTempDirectory("graft_spool_stop").toString
    val srv = HttpIngest.start(spool)
    val sock = new java.net.Socket("127.0.0.1", srv.port)
    try {
      sock.getOutputStream.write(("POST /v1/submit-batch HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
        "Content-Length: 100\r\n\r\n{\"m\":").getBytes(StandardCharsets.US_ASCII))
      sock.getOutputStream.flush()
      Thread.sleep(200)
      assert(workers(srv.port).nonEmpty)
      val t0 = System.nanoTime()
      srv.stop()
      assert((System.nanoTime() - t0) / 1000000L < 5000L)
      assert(workers(srv.port).isEmpty, workers(srv.port).map(_.getName))
      assert(spoolFiles(spool).isEmpty)
    } finally sock.close()
  }

  test("a failed spool write answers every group member 500") {
    val spool = Files.createTempDirectory("graft_spool_fail")
    val srv = HttpIngest.start(spool.toString)
    try {
      val url = s"http://127.0.0.1:${srv.port}/v1/submit-batch"
      Files.delete(spool)
      val codes = new ConcurrentLinkedQueue[Int]()
      onThreads(4)(t => codes.add(HttpIngest.post(url, envelope(s"probe-$t-0", 50))))
      assert(codes.asScala.toSeq == Seq(500, 500, 500, 500))
      assert(!Files.exists(spool))
    } finally srv.stop()
  }

  test("start sweeps temps orphaned by a crash, but not fresh ones") {
    val spool = Files.createTempDirectory("graft_spool_orphans")
    def temp(name: String, ageMs: Long): File = {
      val f = spool.resolve(name).toFile
      Files.write(f.toPath, "{}\n".getBytes(StandardCharsets.UTF_8))
      f.setLastModified(System.currentTimeMillis() - ageMs)
      f
    }
    val orphan = temp(s"${HttpIngest.tmpPrefix}1${HttpIngest.tmpSuffix}", 2 * graft.operators.Artifacts.orphanAgeMs)
    val fresh = temp(s"${HttpIngest.tmpPrefix}2${HttpIngest.tmpSuffix}", 0L)
    val published = temp("batch-0-000001.json", 2 * graft.operators.Artifacts.orphanAgeMs)
    HttpIngest.start(spool.toString).stop()
    assert(!orphan.exists())
    assert(fresh.exists() && published.exists())
  }
}
