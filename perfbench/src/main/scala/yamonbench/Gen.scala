package yamonbench

import java.time.{Instant, LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

/** Seeded input generation. Everything the benchmark feeds the engine is
  * a pure function of the seed: the same seed gives byte-identical
  * envelopes and table rows, on any host.
  *
  * The data is yamon's metric stream: `hosts` agents each reporting the
  * ten [[names]] as gauges or counters, with a fixed tag map per series.
  * Every data set spans a UTC midnight, so writes land in two date
  * partitions and queries cross the partition boundary.
  */
object Gen {

  /** (metric name, type). */
  val names: Vector[(String, String)] = Vector(
    "cpu.user" -> "gauge", "cpu.sys" -> "gauge", "mem.used" -> "gauge",
    "disk.used" -> "gauge", "load.1m" -> "gauge", "temp.c" -> "gauge",
    "net.rx_bytes" -> "counter", "net.tx_bytes" -> "counter",
    "http.requests" -> "counter", "http.errors" -> "counter")

  private val roles = Vector("web", "db", "cache")

  def host(i: Int): String = f"host-$i%03d"

  /** Distinct `svc` tag values; [[tags]] spreads series over them. */
  val services = 40

  def service(i: Int): String = f"svc-$i%02d"

  def tags(h: Int, n: Int): Seq[(String, String)] = Seq(
    "dc" -> s"dc-${h % 4}", "role" -> roles(h % roles.size),
    "svc" -> service((h * 7 + n) % services))

  /** The UTC midnight (epoch µs) a seed's data spans. */
  def midnightMicros(seed: Long): Long =
    LocalDate.of(2026, 1, 1).plusDays(java.lang.Math.floorMod(seed, 300L))
      .atStartOfDay(ZoneOffset.UTC).toEpochSecond * 1000000L

  private val rfc3339 =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
      .withZone(ZoneOffset.UTC)

  def timeText(micros: Long): String =
    rfc3339.format(Instant.ofEpochSecond(
      Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L))

  private def round2(x: Double): Double = math.rint(x * 100) / 100

  /** Gauges wander in [0, 100); counters grow with time at a per-series
    * rate, so rate queries see monotone series.
    */
  def value(rng: SplittableRandom, h: Int, n: Int, micros: Long): Double =
    if (names(n)._2 == "gauge") round2(rng.nextDouble() * 100)
    else round2((micros / 1000000L % 86400L) * (1 + (h * 31 + n * 17) % 9) +
      rng.nextInt(5))

  /** One agent flush: `rows` records of host `h` starting at `t0` µs, the
    * ten names round-robin, one sample per name every `stepMicros`.
    * `drops` of the records are made unparseable the two ways the server
    * discards rows (an unknown metric type, an invalid timestamp), so
    * `valid = rows - drops` survive [[graft.sources.Wire.metrics]].
    */
  final case class Envelope(host: Int, body: String, rows: Int, valid: Int)

  def envelope(rng: SplittableRandom, h: Int, t0: Long, rows: Int,
      stepMicros: Long, drops: Int): Envelope = {
    val dropAt = scala.collection.mutable.Set.empty[Int]
    while (dropAt.size < drops) dropAt += rng.nextInt(rows)
    val b = new StringBuilder(rows * 140)
    b ++= "{\"m\":["
    var j = 0
    while (j < rows) {
      if (j > 0) b += ','
      val n = j % names.size
      val t = t0 + (j / names.size) * stepMicros
      val dropped = dropAt(j)
      val kind = if (dropped && j % 2 == 0) "histogram" else names(n)._2
      val time = if (dropped && j % 2 == 1) "not-a-time" else timeText(t)
      b ++= "{\"t\":\"" ++= time ++= "\",\"m\":\"" ++= kind ++=
        "\",\"h\":\"" ++= host(h) ++= "\",\"n\":\"" ++= names(n)._1 ++=
        "\",\"v\":" ++= value(rng, h, n, t).toString ++= ",\"g\":{"
      b ++= tags(h, n).map { case (k, v) => s"\"$k\":\"$v\"" }.mkString(",")
      b ++= "}}"
      j += 1
    }
    b ++= "]}"
    Envelope(h, b.toString, rows, rows - drops)
  }

  /** Drops per envelope: a fixed 1% share, at least one. */
  def dropsFor(rows: Int): Int = math.max(1, rows / 100)

  /** A backlog: `envelopes` flushes of `rows` records, hosts round-robin
    * over `hosts`, event time advancing across the seed's midnight.
    */
  def backlog(seed: Long, envelopes: Int, rows: Int, hosts: Int,
      stepMicros: Long): Vector[Envelope] = {
    val rng = new SplittableRandom(seed)
    val span = (rows / names.size).toLong * stepMicros
    val rounds = (envelopes + hosts - 1) / hosts
    val start = midnightMicros(seed) - rounds * span / 2
    Vector.tabulate(envelopes) { e =>
      envelope(rng, e % hosts, start + (e / hosts) * span, rows, stepMicros,
        dropsFor(rows))
    }
  }

  /** The dashboard table: `hosts` × ten names sampled every `stepMicros`
    * for `points` samples, centred on the seed's midnight. Rows are
    * (time µs, type, host, name, value, tags), in series-major order.
    */
  final case class MetricRow(time: Long, kind: String, host: String,
      name: String, value: Double, tags: Seq[(String, String)])

  def table(seed: Long, hosts: Int, points: Int, stepMicros: Long): Iterator[MetricRow] = {
    val start = midnightMicros(seed) - points / 2 * stepMicros
    for {
      h <- Iterator.range(0, hosts)
      n <- Iterator.range(0, names.size)
      rng = new SplittableRandom(seed * 1000003L + h * 131L + n)
      k <- Iterator.range(0, points)
    } yield {
      val t = start + k * stepMicros
      MetricRow(t, names(n)._2, host(h), names(n)._1, value(rng, h, n, t),
        tags(h, n))
    }
  }
}
