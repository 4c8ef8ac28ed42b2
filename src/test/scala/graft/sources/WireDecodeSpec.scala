package graft.sources

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.TestSpark
import graft.functions.{WireDecode, WireLayout}
import graft.model.Schemas
import graft.operators.Enrich

/** Differential property: [[Wire]]'s decode generator equals the
  * `from_json` + `explode` + per-field-cast plan it replaced, as row
  * multisets with the same schema, on a fixed-seed corpus that mixes
  * canonical envelopes (the streaming fast path) with every class of line
  * that must go whole to `from_json`.
  */
class WireDecodeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // ---- the reference plan: one from_json, concat short ++ long, explode ----

  private def records(lines: DataFrame, short: String, long: String): DataFrame =
    lines.select(from_json(col("value"), Schemas.wireBatch).as("b"))
      .select(explode(concat(
        coalesce(col(s"b.$short"), array()),
        coalesce(col(s"b.$long"), array()))).as("r"))

  private def time = col("r.t").try_cast("timestamp").as("time")

  private def host = coalesce(col("r.h"), lit("")).as("host")

  private def tagMap = Enrich.normTags(col("r.g")).as("tags")

  private val reference: Map[String, DataFrame => DataFrame] = Map(
    "metrics" -> (l => records(l, "m", "metrics")
      .select(time, col("r.m").as("type"), host, col("r.n").as("name"),
        col("r.v").as("value"), tagMap)
      .filter(col("time").isNotNull && col("name").isNotNull &&
        col("type").isin("gauge", "counter"))),
    "logs" -> (l => records(l, "l", "logs")
      .select(time, host, col("r.s").as("service"),
        coalesce(col("r.l"), lit("")).as("level"),
        coalesce(col("r.d"), lit("")).as("data"), tagMap)
      .filter(col("time").isNotNull && col("service").isNotNull)),
    "events" -> (l => records(l, "e", "events")
      .select(time, host, col("r.e").as("type"),
        coalesce(col("r.d"), lit("")).as("data"), tagMap)
      .filter(col("time").isNotNull && col("type").isNotNull)))

  private val decoded: Map[String, DataFrame => DataFrame] = Map(
    "metrics" -> (l => Wire.metrics(l)), "logs" -> (l => Wire.logs(l)),
    "events" -> (l => Wire.events(l)))

  // ---- the corpus ----

  /** A JSON string literal; `ascii` escapes every non-ASCII char as \\uXXXX. */
  private def js(s: String, ascii: Boolean): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < 0x20 || (ascii && c > 0x7e) => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  private def jsGen(values: String*): Gen[String] =
    for (s <- Gen.oneOf(values); ascii <- Gen.oneOf(true, false)) yield js(s, ascii)

  private val text = jsGen("web-1", "db-2", "", "quo\"te", "back\\slash",
    "line\nbreak", "tab\there", "ctl\u0001", "été", "日本語", "emoji 😀",
    "nginx", "audit.SYSCALL", "{\"k\":1}")

  private val times = Gen.frequency(
    4 -> jsGen("2024-01-01T00:09:58.778549Z", "2024-01-01T00:09:58Z",
      "2024-01-01T00:09:58.123456789Z", // nanoseconds: truncated to µs
      "2024-03-10T02:30:00-08:00", "2024-01-01T05:30:00+05:30", // offsets
      "2024-01-01 00:00:00", "2024-11-03T01:30:00", // offset-less: session zone
      "2024-01-01"),
    1 -> jsGen("not-a-time", ""))

  private val numbers = Gen.oneOf("0.42", "1", "-7", "-0.0", "1e3", "2.5E-3",
    "12345678901234567890", "3.141592653589793")

  private val tagMaps: Gen[String] = for {
    n <- Gen.choose(0, 3)
    keys <- Gen.pick(n, Seq("env", "dc", "rôle", "k\"q", "svc", "日"))
    vals <- Gen.listOfN(n, text)
    ascii <- Gen.oneOf(true, false)
  } yield keys.zip(vals).map { case (k, v) => s"${js(k, ascii)}:$v" }.mkString("{", ",", "}")

  private def valueOf(field: String, metric: Boolean): Gen[String] = field match {
    case "t" => times
    case "m" if metric => jsGen("gauge", "gauge", "counter", "histogram")
    case "v" => numbers
    case "g" => tagMaps
    case _ => text
  }

  private def shuffled[A](xs: Seq[A]): Gen[Seq[A]] =
    Gen.long.map(s => new scala.util.Random(s).shuffle(xs))

  /** A canonical record: the struct's keys, often a subset of them, in
    * random order, each value of its type or null.
    */
  private def record(rec: StructType): Gen[String] = {
    val metric = rec == Schemas.wireMetric
    val all = rec.fieldNames.toSeq
    for {
      keys <- Gen.frequency(2 -> Gen.const(all), 1 -> Gen.someOf(all).map(_.toSeq))
        .flatMap(shuffled(_))
      vals <- Gen.sequence[Seq[String], String](keys.map(k =>
        Gen.frequency(9 -> valueOf(k, metric), 1 -> Gen.const("null"))))
    } yield keys.zip(vals).map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  }

  private val envelopeKeys = Schemas.wireBatch.fields.map(f =>
    f.name -> f.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[StructType]).toSeq

  private def recordsOf(rec: StructType): Gen[Seq[String]] =
    Gen.choose(0, 4).flatMap(n => Gen.listOfN(n, record(rec)))

  /** A canonical envelope: any of the six keys, in any order, each null or
    * an array of its stream's records.
    */
  private val canonical: Gen[String] = for {
    keys <- Gen.someOf(envelopeKeys).flatMap(ks => shuffled(ks.toSeq))
    vals <- Gen.sequence[Seq[String], String](keys.map { case (_, rec) =>
      Gen.frequency(1 -> Gen.const("null"),
        6 -> recordsOf(rec).map(_.mkString("[", ",", "]")))
    })
  } yield keys.map(_._1).zip(vals).map { case (k, v) => s""""$k":$v""" }
    .mkString("{", ",", "}")

  /** Records with one member that makes them non-canonical; the other
    * members are valid, and none repeats the defective key unless the
    * repeat is the defect.
    */
  private def defective(base: Seq[(String, String)], defects: Seq[(String, String)]): Seq[String] =
    defects.map { case (key, value) =>
      (base.filter(_._1 != key) :+ (key -> value))
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    }

  private val anyDefects = Seq(
    "h" -> "5", "t" -> "1704067200", "h" -> "{}", "g" -> """{"a":null}""", "g" -> """{"a":1}""",
    "g" -> """{"k":"1","k":"2"}""", "g" -> "[]", "g" -> "\"x\"", "h" -> "\"a\",\"h\":\"b\"",
    "H" -> "\"x\"", "T" -> "\"2024-01-01T00:00:00Z\"", "zz" -> "1")

  private val badMetrics = defective(
    Seq("t" -> "\"2024-01-01T00:00:01Z\"", "m" -> "\"gauge\"", "h" -> "\"a\"", "n" -> "\"x\"", "v" -> "1"),
    anyDefects ++ Seq("n" -> "1.5", "v" -> "\"NaN\"", "v" -> "NaN", "v" -> "-Infinity",
      "v" -> "1e400", "v" -> "\"1.5\"", "v" -> "true", "s" -> "\"nginx\""))

  private val badEvents = defective(
    Seq("t" -> "\"2024-01-01T00:00:01Z\"", "h" -> "\"a\"", "e" -> "\"deploy\"", "d" -> "\"\""),
    anyDefects ++ Seq("e" -> "7", "v" -> "1"))

  private def jsArray(records: Seq[String]) = records.mkString("[", ",", "]")

  /** One line per defect, the defective record among valid ones: metric
    * defects under either metric key beside a log array, and event defects
    * beside valid metrics, which a whole-line fallback must still decode.
    */
  private val defectLines: Gen[Seq[String]] = Gen.sequence[Seq[String], String](
    (badMetrics ++ Seq("null", "1", "\"x\"", "[]")).zipWithIndex.map { case (bad, i) =>
      for {
        before <- recordsOf(Schemas.wireMetric)
        after <- recordsOf(Schemas.wireMetric)
        logs <- recordsOf(Schemas.wireLog)
      } yield s"""{"${if (i % 2 == 0) "m" else "metrics"}":${jsArray(before ++ Seq(bad) ++ after)},""" +
        s""""l":${jsArray(logs)}}"""
    } ++ badEvents.map(bad =>
      recordsOf(Schemas.wireMetric).map(ms => s"""{"m":${jsArray(ms)},"events":[$bad]}""")))

  /** A line that must go whole to `from_json` for a reason other than a
    * defective record.
    */
  private val nonCanonical: Gen[String] = Gen.oneOf(
    // Jackson errors: a proper prefix of an object, or not JSON at all
    canonical.flatMap(l => Gen.choose(1, l.length - 1).map(l.take)),
    Gen.const("not json at all"),
    // empty lines and array or scalar roots
    Gen.oneOf("", "   ", "5", "\"str\"", "null", "true", "[]"),
    canonical.map(l => s"[$l]"),
    // trailing garbage
    canonical.flatMap(l => Gen.oneOf(s"$l x", s"$l{}", s"$l,", s"$l]")),
    // root defects: duplicate, case-variant or unknown keys, non-array values
    for (ms <- recordsOf(Schemas.wireMetric); root <- Gen.oneOf(
        (a: String) => s"""{"m":$a,"m":$a}""", (a: String) => s"""{"M":$a}""",
        (a: String) => s"""{"x":1,"m":$a}""", (a: String) => s"""{"Metrics":$a,"m":$a}""",
        (_: String) => """{"m":{}}""", (_: String) => """{"m":"x"}""",
        (_: String) => """{"logs":5}"""))
      yield root(jsArray(ms)))

  /** Byte-level lines, each left to the fallback: invalid UTF-8 inside a
    * string, a byte-order mark or a leading NUL, a raw control char (a
    * Jackson error).
    */
  private val rawLines: Seq[Array[Byte]] = {
    def line(host: Array[Byte]) =
      """{"m":[{"t":"2024-01-01T00:00:01Z","m":"gauge","h":"""".getBytes("UTF-8") ++ host ++
        """","n":"raw","v":1}],"l":[{"t":"2024-01-01T00:00:02Z","s":"s","h":"""".getBytes("UTF-8") ++
        host ++ """"}]}""".getBytes("UTF-8")
    def bytes(xs: Int*) = xs.map(_.toByte).toArray
    Seq(bytes(0x80), bytes(0xC0, 0x80), bytes(0xED, 0xA0, 0x80), bytes(0xF4, 0x90, 0x80, 0x80),
      bytes(0xE6, 0x97), bytes(0x61, 0xFF, 0x62), bytes(0x01), bytes(0x1F)).map(line) ++
      Seq(bytes(0xEF, 0xBB, 0xBF) ++ line(bytes(0x61)), bytes(0x00) ++ line(bytes(0x61)),
        bytes(0x20, 0x00) ++ line(bytes(0x61)))
  }

  /** (line bytes, expected fast path): canonical lines, some padded with
    * whitespace, non-canonical ones, and the byte-level lines.
    */
  private val corpus: Seq[(Array[Byte], Boolean)] = {
    val line = Gen.frequency(
      3 -> canonical.flatMap(l => Gen.oneOf(l, s"  $l ", s"\t$l")).map(_ -> true),
      1 -> nonCanonical.map(_ -> false))
    val lines = for (ls <- Gen.listOfN(400, line); ds <- defectLines) yield ls ++ ds.map(_ -> false)
    lines.pureApply(Gen.Parameters.default, Seed(20241019L))
      .map { case (l, fast) => l.getBytes("UTF-8") -> fast } ++ rawLines.map(_ -> false)
  }

  private def show(line: Array[Byte]) = new String(line, "UTF-8")

  test("the corpus hits both the streaming fast path and the from_json fallback") {
    val probe = WireDecode(Literal(null, StringType), WireLayout.Metrics, "UTC")
    val taken = corpus.map { case (l, _) => probe.canonical(UTF8String.fromBytes(l)) != null }
    corpus.zip(taken).foreach { case ((l, expected), fast) =>
      assert(fast == expected, s"fast path $fast for: ${show(l)}")
    }
    assert(taken.count(identity) >= 100 && taken.count(!_) >= 100, taken.count(identity))
  }

  test("metrics, logs and events equal the from_json reference plan (rows, order, schema)") {
    // the corpus goes through the text source, raw bytes and all, plus a null line
    val dir = java.nio.file.Files.createTempDirectory("graft_wire_decode")
    java.nio.file.Files.write(dir.resolve("corpus.json"),
      corpus.map(_._1).reduce(_ ++ Array('\n'.toByte) ++ _))
    val lines = spark.read.text(dir.toString).union(Seq(Option.empty[String]).toDF("value"))
    val zoneKey = "spark.sql.session.timeZone"
    val saved = spark.conf.get(zoneKey)
    try Seq("UTC", "America/Los_Angeles").foreach { zone =>
      spark.conf.set(zoneKey, zone)
      assert(lines.count() == corpus.size + 1)
      Seq("metrics", "logs", "events").foreach { stream =>
        val want = reference(stream)(lines)
        val got = decoded(stream)(lines)
        assert(got.schema == want.schema, s"$stream in $zone")
        val (g, w) = (got.collect().toSeq, want.collect().toSeq)
        assert(w.size > 50, s"$stream in $zone: ${w.size} rows")
        def bag(rows: Seq[Row]) = rows.groupBy(identity).view.mapValues(_.size).toMap
        assert(bag(g) == bag(w), s"$stream in $zone")
        assert(g == w, s"$stream in $zone: same rows, different order")
      }
    } finally spark.conf.set(zoneKey, saved)
  }
}
