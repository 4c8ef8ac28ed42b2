package graft.sources

import java.io.IOException
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable.ArrayBuffer
import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.operators.Artifacts

/** B2/S23 — the wire TRANSPORT: a minimal HTTP server exposing
  * `POST /v1/submit-batch` with the reference's semantics
  * (ref: forward_server.go:30-79):
  *
  *  - `Authorization: name:key` checked against a sender-key map when one
  *    is configured — malformed / unknown / mismatched → 401 (the same
  *    predicate [[Wire.authorized]] applies inside the engine)
  *  - body must be valid JSON → else 400 "invalid json"
  *  - accepted envelopes are appended to a SPOOL DIRECTORY, one line per
  *    envelope, and answered 204
  *
  * The spool is the engine boundary: Structured Streaming tails it
  * (`spark.readStream.text(spool)`) and [[Wire.metrics]]/`logs`/`events`
  * parse the envelopes — the ClickHouse-writer role is [[
  * graft.streaming.Ingest.streamToTable]]. JDK HttpServer + Jackson (both
  * already on Spark's classpath) keep this dependency-free; at scale this
  * front-end is horizontally replicated and the spool is the distributed
  * log, but the per-request semantics are exactly these.
  *
  * Requests run on a fixed pool of `availableProcessors` worker threads,
  * and the spool is GROUP-COMMITTED: an accepted envelope line joins the
  * open group; the first member is its committer, which writes every
  * member's line into one temp file and renames it atomically to
  * `batch-*.json`. Invariant: a 204 is sent only after the file holding
  * that envelope is visible in the spool, and a failed write answers
  * every member 500 with nothing visible. The committer waits only while
  * other requests are between entering the handler and joining (or being
  * refused), and never longer than [[groupWaitMs]], so a lone POST
  * commits at once. Each file costs the downstream file stream: over
  * more files than `spark.sql.sources.parallelPartitionDiscovery.threshold`
  * (32), `getBatch` plans a parallel listing job, which took 0.5–1.2 s of
  * a 3–4 s micro-batch over an 80-file backlog on 4 cores. Concurrent
  * submitters share files; sparse traffic, with about one request in
  * flight, still writes one file per envelope.
  */
object HttpIngest {

  // strict parse: trailing garbage after the JSON document is a reject,
  // matching the reference's whole-body decode (forward_server.go:58-63)
  private val mapper = new ObjectMapper()
    .enable(com.fasterxml.jackson.databind.DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
  private val seq = new AtomicLong()
  private val client = java.net.http.HttpClient.newHttpClient()

  /** Bodies beyond this are answered 413 without buffering the payload. */
  val maxBodyBytes: Int = 8 * 1024 * 1024

  /** The longest a committer holds its group open for requests still in
    * flight.
    */
  private[sources] val groupWaitMs = 50L

  private[sources] val tmpPrefix = ".tmp-"
  private[sources] val tmpSuffix = ".part"

  final class Server private[HttpIngest] (val server: HttpServer, val port: Int,
      pool: ExecutorService) {
    /** Stops accepting (open connections are closed), then waits for the
      * workers: no spool commit lands after this returns.
      */
    def stop(): Unit = {
      server.stop(0)
      pool.shutdown()
      if (!pool.awaitTermination(30, TimeUnit.SECONDS)) {
        pool.shutdownNow()
        if (!pool.awaitTermination(30, TimeUnit.SECONDS))
          throw new IllegalStateException(s"http-ingest workers on port $port did not stop")
      }
    }
  }

  /** Start the ingest server on `port` (0 = ephemeral), spooling accepted
    * batches into `spoolDir`. `keys` empty = unauthenticated server
    * (ref: nil keys short-circuit). Temps orphaned in the spool by a
    * crash between write and rename are swept first.
    */
  def start(spoolDir: String, keys: Map[String, String] = Map.empty,
      port: Int = 0): Server = {
    val spool = Paths.get(spoolDir)
    Files.createDirectories(spool)
    Artifacts.sweepOrphanTemps(spool.toFile,
      n => n.startsWith(tmpPrefix) && n.endsWith(tmpSuffix))
    val commits = new GroupCommit(spool)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    val bound = server.getAddress.getPort
    val threads = new AtomicInteger()
    val pool = Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors(),
      (r: Runnable) => {
        val t = new Thread(r, s"http-ingest-$bound-${threads.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    server.setExecutor(pool)
    server.createContext("/v1/submit-batch", (ex: HttpExchange) => handle(ex, commits, keys))
    server.start()
    new Server(server, bound, pool)
  }

  /** Group commit of accepted envelope lines into shared spool files. */
  private final class GroupCommit(spool: Path) {
    private final class Group {
      val lines = ArrayBuffer.empty[Array[Byte]]
      var done = false
      var ok = false
    }
    private var open = new Group
    // requests in the handler that have neither joined a group nor been
    // refused: the ones a committer may wait for
    private var inFlight = 0

    def enter(): Unit = synchronized { inFlight += 1 }

    def refuse(): Unit = synchronized { inFlight -= 1; notifyAll() }

    /** Joins the open group; true once the group's file is published,
      * false when its write failed.
      */
    def commit(line: Array[Byte]): Boolean = {
      val (group, committer) = synchronized {
        inFlight -= 1
        open.lines += line
        notifyAll()
        (open, open.lines.size == 1)
      }
      if (committer) {
        synchronized {
          val deadline = System.nanoTime() + TimeUnit.MILLISECONDS.toNanos(groupWaitMs)
          var left = deadline - System.nanoTime()
          while (inFlight > 0 && left > 0) {
            TimeUnit.NANOSECONDS.timedWait(this, left)
            left = deadline - System.nanoTime()
          }
          open = new Group
        }
        val ok = try { publish(group.lines); true } catch { case _: Throwable => false }
        synchronized { group.ok = ok; group.done = true; notifyAll() }
      } else synchronized {
        while (!group.done) wait()
      }
      group.ok
    }

    // temp + atomic rename, so a streaming reader never observes a
    // partial file
    private def publish(lines: Iterable[Array[Byte]]): Unit = {
      val name = f"batch-${System.currentTimeMillis()}%d-${seq.incrementAndGet()}%06d.json"
      val tmp = Files.createTempFile(spool, tmpPrefix, tmpSuffix)
      try {
        val out = Files.newOutputStream(tmp)
        try lines.foreach(out.write) finally out.close()
        Files.move(tmp, spool.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      } catch {
        case e: Throwable => Files.deleteIfExists(tmp); throw e
      }
    }
  }

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length.toLong)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def authorized(ex: HttpExchange, keys: Map[String, String]): Boolean = {
    if (keys.isEmpty) return true
    val parts = Option(ex.getRequestHeaders.getFirst("Authorization"))
      .getOrElse("").split(":", -1)
    parts.length == 2 && keys.get(parts(0)).contains(parts(1))
  }

  /** The spool line of an acceptable body, or the refusal to send. */
  private def accept(ex: HttpExchange, keys: Map[String, String]): Either[(Int, String), Array[Byte]] =
    if (ex.getRequestMethod != "POST") Left(405 -> "method not allowed")
    else if (!authorized(ex, keys)) Left(401 -> "unauthorized")
    else {
      // bounded read: never materialize more than the cap + 1 probe byte
      val raw = ex.getRequestBody.readNBytes(maxBodyBytes + 1)
      if (raw.length > maxBodyBytes) Left(413 -> "payload too large")
      else {
        val body = new String(raw, StandardCharsets.UTF_8)
        // a Batch envelope is a JSON OBJECT; scalars/arrays are rejected
        // like the reference's struct decode would reject them
        val json = try {
          val node = mapper.readTree(body); node != null && node.isObject
        } catch { case _: IOException => false }
        if (!json) Left(400 -> "invalid json")
        // one spool line per envelope, so a stream counts envelopes as rows
        else Right((body.replaceAll("[\r\n]", " ") + "\n").getBytes(StandardCharsets.UTF_8))
      }
    }

  private def handle(ex: HttpExchange, commits: GroupCommit, keys: Map[String, String]): Unit = {
    commits.enter()
    val verdict =
      try accept(ex, keys) catch { case _: Throwable => Left(500 -> "internal error") }
    val (status, msg) = verdict match {
      case Left(refusal) => commits.refuse(); refusal
      case Right(line) =>
        val ok = try commits.commit(line) catch { case _: Throwable => false }
        if (ok) 204 -> "" else 500 -> "internal error"
    }
    try respond(ex, status, msg) catch { case _: Throwable => () }
  }

  /** Agent-side POST (ref: ForwardClient): returns the HTTP status. The
    * client is shared — one selector/connection pool for the whole agent,
    * not one per flush.
    */
  def post(url: String, body: String, auth: Option[String] = None): Int = {
    val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
    auth.foreach(a => b.header("Authorization", a))
    client.send(b.build(),
      java.net.http.HttpResponse.BodyHandlers.discarding()).statusCode()
  }
}
