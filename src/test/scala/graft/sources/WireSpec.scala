package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** B1 wire-envelope parsing (FIXTURES.md §B1; ref: common/batch.go:3-7). */
class WireSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val batch =
    """{"m":[{"t":"2024-01-01T00:09:58.778549Z","m":"gauge","h":"web-1","n":"load.1","v":0.42,"g":{"env":"prod"}},
      |       {"t":"2024-01-01T00:09:59Z","m":"histogram","h":"web-1","n":"bad.type","v":1}],
      | "l":[{"t":"2024-01-01T00:09:58.778549Z","h":"web-1","s":"nginx","l":"error","d":"GET /x 500","g":{}}],
      | "e":[{"t":"2024-01-01T00:09:58.778549Z","h":"web-1","e":"audit.SYSCALL","d":"{\"k\":1}"}]}"""
      .stripMargin.replace("\n", "")

  test("metrics: parse, µs truncation, tag passthrough") {
    val m = Wire.metrics(Seq(batch).toDF("value")).collect()
    assert(m.length == 1) // histogram dropped
    val r = m.head
    assert(r.getAs[String]("name") == "load.1")
    assert(r.getAs[String]("type") == "gauge")
    assert(r.getAs[Double]("value") == 0.42)
    assert(r.getAs[Map[String, String]]("tags") == Map("env" -> "prod"))
    assert(r.getAs[java.sql.Timestamp]("time").toInstant.toString
      == "2024-01-01T00:09:58.778549Z")
  }

  test("unknown metric types are dropped, not crashed (ref script.go:29-38 divergence)") {
    val m = Wire.metrics(Seq(batch).toDF("value"))
      .filter(col("name") === "bad.type").count()
    assert(m == 0)
  }

  test("logs and events: defaults and absent-tags normalization") {
    val l = Wire.logs(Seq(batch).toDF("value")).collect().head
    assert(l.getAs[String]("service") == "nginx")
    assert(l.getAs[String]("level") == "error")
    val e = Wire.events(Seq(batch).toDF("value")).collect().head
    assert(e.getAs[String]("type") == "audit.SYSCALL")
    // absent "g" → {} (ref: common/metric.go:34-36)
    assert(e.getAs[Map[String, String]]("tags") == Map.empty[String, String])
  }

  test("agent /v1/data long-form envelope keys parse identically (ref agent/http.go:36-40)") {
    val longForm =
      """{"metrics":[{"t":"2024-01-01T00:09:58Z","m":"gauge","h":"web-1","n":"load.1","v":0.42}],
        | "logs":[{"t":"2024-01-01T00:09:58Z","h":"web-1","s":"nginx","l":"error","d":"x"}],
        | "events":[{"t":"2024-01-01T00:09:58Z","h":"web-1","e":"deploy","d":""}]}"""
        .stripMargin.replace("\n", "")
    val df = Seq(longForm).toDF("value")
    assert(Wire.metrics(df).collect().head.getAs[String]("name") == "load.1")
    assert(Wire.logs(df).collect().head.getAs[String]("service") == "nginx")
    assert(Wire.events(df).collect().head.getAs[String]("type") == "deploy")
  }

  test("an envelope carrying both key spellings loses neither set") {
    val both =
      """{"m":[{"t":"2024-01-01T00:00:01Z","m":"gauge","h":"a","n":"short.key","v":1}],
        | "metrics":[{"t":"2024-01-01T00:00:02Z","m":"gauge","h":"a","n":"long.key","v":2}]}"""
        .stripMargin.replace("\n", "")
    val names = Wire.metrics(Seq(both).toDF("value"))
      .collect().map(_.getAs[String]("name")).toSet
    assert(names == Set("short.key", "long.key"))
  }

  test("each parser scans its input once and evaluates the envelope JSON once") {
    import org.apache.spark.sql.catalyst.expressions.JsonToStructs
    import graft.functions.WireDecode
    val dir = java.nio.file.Files.createTempDirectory("graft_wire_plan")
    java.nio.file.Files.writeString(dir.resolve("a.json"), batch + "\n")
    val lines = spark.read.text(dir.toString)
    Seq("metrics" -> Wire.metrics(lines), "logs" -> Wire.logs(lines),
        "events" -> Wire.events(lines)).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan
      val exprs = plan.flatMap(_.expressions)
      val decodes = exprs.flatMap(_.collect { case d: WireDecode => d })
      val parses = exprs.flatMap(_.collect { case j: JsonToStructs => j })
      assert(plan.collectLeaves().size == 1, s"$name scans:\n$plan")
      // the one decode holds its from_json fallback inside; none in the plan
      assert(decodes.size == 1, s"$name decode generators:\n$plan")
      assert(parses.isEmpty, s"$name from_json evaluations:\n$plan")
      assert(df.count() == 1, name)
    }
  }

  test("malformed JSON is dropped without failing the stream") {
    val df = Seq("not json at all", batch).toDF("value")
    assert(Wire.metrics(df).count() == 1)
  }

  test("auth gate: name:key map accept/reject semantics (ref forward_server.go:38-56)") {
    val keys = Map("web-1" -> "s3cret", "db-1" -> "other")
    val rows = Seq(
      ("web-1:s3cret", "good"),      // known sender, right key
      ("web-1:wrong", "badkey"),     // right sender, wrong key
      ("ghost:s3cret", "badname"),   // unknown sender
      ("web-1", "nocolon"),          // malformed: no colon
      ("web-1:s3:cret", "twocolon"), // malformed: len(parts) != 2
      (null, "noauth")).toDF("auth", "value")
    val kept = Wire.authorized(rows, keys).select("value").as[String].collect().toSet
    assert(kept == Set("good"))
    // nil-keys server accepts everything (ref: f.keys == nil short-circuit)
    assert(Wire.authorized(rows, Map.empty).count() == 6)
  }

  test("auth gate: drops are counted through the ingest-metrics listener") {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val listener = new graft.streaming.IngestMetrics.Listener
    spark.streams.addListener(listener)
    val mem = MemoryStream[(String, String)]
    val q = Wire.authorized(mem.toDF.toDF("auth", "value"), Map("a" -> "k"))
      .writeStream.format("noop").queryName("auth_count_test").start()
    try {
      mem.addData(("a:k", "ok1"), ("a:bad", "drop1"), ("b:k", "drop2"))
      q.processAllAvailable()
      mem.addData(("a:k", "ok2"), ("zzz", "drop3"))
      q.processAllAvailable()
      val deadline = System.currentTimeMillis + 30000
      while (listener.dropped("auth_count_test") < 3 &&
        System.currentTimeMillis < deadline) Thread.sleep(100)
      assert(listener.dropped("auth_count_test") == 3)
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }
}
