package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** S17 file tail, S20 webhook, and the wire round-trip (serialize →
  * re-parse yields the same records).
  */
class TailSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val at = lit("2024-01-01 00:00:00").cast("timestamp")

  test("tail plain mode: line → LogEntry with configured service/level (S17)") {
    val out = Tail.logs(Seq("line one", "line two").toDF("value"), at,
      "h1", "myapp", "info").collect()
    assert(out.length == 2)
    assert(out.forall(r => r.getAs[String]("service") == "myapp" &&
      r.getAs[String]("level") == "info" && r.getAs[String]("host") == "h1"))
    assert(out.map(_.getAs[String]("data")).toSeq == Seq("line one", "line two"))
  }

  test("webhook: body → yamon-agent.webhook event with transport tags (S20)") {
    val bodies = Seq(("""{"k":"v"}""", "10.0.0.1:123", "application/json"))
      .toDF("body", "remote_addr", "content_type")
    val e = Webhook.events(bodies, at, "h1").collect().head
    assert(e.getAs[String]("type") == "yamon-agent.webhook")
    assert(e.getAs[Map[String, String]]("tags")
      == Map("remote-addr" -> "10.0.0.1:123", "content-type" -> "application/json"))
  }

  test("wire round-trip: serialize envelopes → Wire.metrics parses back identical") {
    // the session zone must not shift the instant: `Z` means UTC
    val zoneKey = "spark.sql.session.timeZone"
    val saved = spark.conf.get(zoneKey)
    try Seq("UTC", "America/Los_Angeles").foreach { zone =>
      spark.conf.set(zoneKey, zone)
      val src = Seq(
        ("2024-01-01T00:00:10.000000Z", "gauge", "a", "load.1", 0.5, Map("env" -> "p")),
        ("2024-01-01T00:00:20.500000Z", "counter", "b", "net.rx", 100.0, Map[String, String]()))
        .toDF("t", "type", "host", "name", "value", "tags")
        .withColumn("time", col("t").cast("timestamp")).drop("t")
      val envelopes = WireWriter.envelopes(src, maxPerBatch = 10)
      assert(envelopes.count() >= 1)
      val back = Wire.metrics(envelopes)
        .orderBy("host")
        .select("time", "type", "host", "name", "value", "tags")
      val orig = src.orderBy("host").select("time", "type", "host", "name", "value", "tags")
      assert(back.collect().toSeq.map(_.toSeq) == orig.collect().toSeq.map(_.toSeq), zone)
      assert(WireWriter.metricJson(src.filter(col("host") === "a")).as[String].head()
        .contains("\"t\":\"2024-01-01T00:00:10.000000Z\""), zone)
    } finally spark.conf.set(zoneKey, saved)
  }

  test("envelope size bound holds") {
    val many = (1 to 25).map(i =>
      (new java.sql.Timestamp(1704067200000L), "gauge", "h", s"m$i", i.toDouble,
        Map[String, String]()))
      .toDF("time", "type", "host", "name", "value", "tags")
      .coalesce(1)
    val sizes = WireWriter.envelopes(many, maxPerBatch = 10)
      .select(size(from_json(col("value"),
        graft.model.Schemas.wireBatch).getField("m")))
      .as[Int].collect()
    assert(sizes.sum == 25 && sizes.forall(_ <= 10))
  }
}
