package graft.sources

import java.io.IOException
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong
import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** B2/S23 — the wire TRANSPORT: a minimal HTTP server exposing
  * `POST /v1/submit-batch` with the reference's semantics
  * (ref: forward_server.go:30-79):
  *
  *  - `Authorization: name:key` checked against a sender-key map when one
  *    is configured — malformed / unknown / mismatched → 401 (the same
  *    predicate [[Wire.authorized]] applies inside the engine)
  *  - body must be valid JSON → else 400 "invalid json"
  *  - accepted envelopes are appended to a SPOOL DIRECTORY, one file per
  *    batch written atomically (temp + rename), and answered 204
  *
  * The spool is the engine boundary: Structured Streaming tails it
  * (`spark.readStream.text(spool)`) and [[Wire.metrics]]/`logs`/`events`
  * parse the envelopes — the ClickHouse-writer role is [[
  * graft.streaming.Ingest.streamToTable]]. JDK HttpServer + Jackson (both
  * already on Spark's classpath) keep this dependency-free; at scale this
  * front-end is horizontally replicated and the spool is the distributed
  * log, but the per-request semantics are exactly these.
  *
  * Spool file count has a per-batch cost downstream: a file stream's
  * `getBatch` over more files than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) plans a
  * parallel listing job, one task per file. Traced over an 80-file
  * backlog on 4 cores, that job did about 60 ms of task work but took
  * 0.58 s of wall time alone, and about 1.0 s when it queued (FIFO)
  * behind the other stream's job on the same spool.
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

  final class Server private[HttpIngest] (val server: HttpServer, val port: Int) {
    def stop(): Unit = server.stop(0)
  }

  /** Start the ingest server on `port` (0 = ephemeral), spooling accepted
    * batches into `spoolDir`. `keys` empty = unauthenticated server
    * (ref: nil keys short-circuit).
    */
  def start(spoolDir: String, keys: Map[String, String] = Map.empty,
      port: Int = 0): Server = {
    val spool = Paths.get(spoolDir)
    Files.createDirectories(spool)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/v1/submit-batch", (ex: HttpExchange) => handle(ex, spool, keys))
    server.start()
    new Server(server, server.getAddress.getPort)
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

  private def handle(ex: HttpExchange, spool: Path, keys: Map[String, String]): Unit =
    try {
      if (ex.getRequestMethod != "POST") respond(ex, 405, "method not allowed")
      else if (!authorized(ex, keys)) respond(ex, 401, "unauthorized")
      else {
        // bounded read: never materialize more than the cap + 1 probe byte
        val raw = ex.getRequestBody.readNBytes(maxBodyBytes + 1)
        if (raw.length > maxBodyBytes) respond(ex, 413, "payload too large")
        else {
          val body = new String(raw, StandardCharsets.UTF_8)
          // a Batch envelope is a JSON OBJECT; scalars/arrays are rejected
          // like the reference's struct decode would reject them
          val json = try {
            val node = mapper.readTree(body); node != null && node.isObject
          } catch { case _: IOException => false }
          if (!json) respond(ex, 400, "invalid json")
          else {
            // one line per envelope; atomic publish so a streaming reader
            // never observes a partial file
            val line = body.replaceAll("[\r\n]", " ") + "\n"
            val name = f"batch-${System.currentTimeMillis()}%d-${seq.incrementAndGet()}%06d.json"
            val tmp = Files.createTempFile(spool, ".tmp-", ".part")
            Files.write(tmp, line.getBytes(StandardCharsets.UTF_8))
            Files.move(tmp, spool.resolve(name), StandardCopyOption.ATOMIC_MOVE)
            respond(ex, 204, "")
          }
        }
      }
    } catch {
      case _: Throwable =>
        try respond(ex, 500, "internal error") catch { case _: Throwable => () }
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
