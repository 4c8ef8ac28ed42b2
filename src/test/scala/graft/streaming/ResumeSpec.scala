package graft.streaming

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.sources.Wire

/** Checkpointed ingest resume — the journald cursor's at-least-once restart
  * role (SURVEY.md §2.5; ref: journal/tracker.go:39-67), played by
  * Structured Streaming source offsets: stop the ingest stream, deliver
  * more data, restart from the same checkpoint → old data is not
  * re-ingested, new data is.
  */
class ResumeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def batch(host: String, n: Int): String =
    s"""{"m":[{"t":"2024-01-01T00:00:0${n}Z","m":"gauge","h":"$host","n":"load.1","v":$n.0}]}"""

  test("stream stop + restart from checkpoint: exactly-once table contents") {
    val in = Files.createTempDirectory("graft_in").toString
    val table = Files.createTempDirectory("graft_out").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_ckpt").toString

    Files.writeString(Paths.get(s"$in/a.json"), batch("a", 1) + "\n" + batch("a", 2) + "\n")
    val source = () => Wire.metrics(spark.readStream.text(in))

    val q1 = Ingest.streamToTable(source(), table, ckpt, Seq("name", "host"))
    try { q1.processAllAvailable() } finally q1.stop()
    assert(spark.read.parquet(table).count() == 2)

    // new file lands while the pipeline is down; restart resumes from the
    // committed offsets — the two old rows must not be ingested again
    Files.writeString(Paths.get(s"$in/b.json"), batch("b", 3) + "\n")
    val q2 = Ingest.streamToTable(source(), table, ckpt, Seq("name", "host"))
    try { q2.processAllAvailable() } finally q2.stop()

    val rows = spark.read.parquet(table)
    assert(rows.count() == 3)
    import spark.implicits._
    assert(rows.select("host").as[String].collect().sorted.toSeq == Seq("a", "a", "b"))
  }

  test("continuous LTS downsample stream writes the long-term table") {
    val in = Files.createTempDirectory("graft_lts_in").toString
    val lts = Files.createTempDirectory("graft_lts_out").toString + "/lts"
    val ckpt = Files.createTempDirectory("graft_lts_ckpt").toString
    // two gauges in the same minute bucket + one counter
    Files.writeString(Paths.get(s"$in/a.json"),
      batch("a", 1) + "\n" + batch("a", 2) + "\n" +
        """{"m":[{"t":"2024-01-01T00:00:05Z","m":"counter","h":"a","n":"rx","v":10}]}""" + "\n")
    val q = Ingest.streamDownsampleTo(
      Wire.metrics(spark.readStream.text(in)), lts, ckpt)
    try { q.processAllAvailable() } finally q.stop()
    val rollup = spark.read.parquet(lts)
    import org.apache.spark.sql.functions.col
    val byName = Ingest.downsampled(rollup).collect().map(r =>
      r.getAs[String]("name") -> r.getAs[Double]("value")).toMap
    assert(byName("load.1") == 1.5) // avg of gauge 1.0, 2.0
    assert(byName("rx") == 10.0)    // counter sum
    assert(rollup.filter(col("date").isNull).count() == 0)
  }

  test("LTS downsample stream keeps one row per minute revised across micro-batches") {
    val in = Files.createTempDirectory("graft_lts2_in").toString
    val lts = Files.createTempDirectory("graft_lts2_out").toString + "/lts"
    val ckpt = Files.createTempDirectory("graft_lts2_ckpt").toString
    def row(sec: Int, typ: String, name: String, v: Double) =
      f"""{"m":[{"t":"2024-01-01T00:00:$sec%02dZ","m":"$typ","h":"a","n":"$name","v":$v}]}""" + "\n"
    Files.writeString(Paths.get(s"$in/a.json"),
      row(1, "gauge", "load.1", 1.0) + row(5, "counter", "rx", 10.0))
    val q = Ingest.streamDownsampleTo(
      Wire.metrics(spark.readStream.text(in)), lts, ckpt)
    try {
      q.processAllAvailable()
      // the second file revises both minute-0 series in a later batch; it
      // is moved in whole so the running stream never lists it half-written
      val staged = Files.writeString(Files.createTempFile("graft_lts2", ".json"),
        row(3, "gauge", "load.1", 4.0) + row(6, "counter", "rx", 5.0))
      Files.move(staged, Paths.get(s"$in/b.json"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) == 2)
    } finally q.stop()
    val out = Ingest.downsampled(spark.read.parquet(lts)).collect()
    // the view folds each batch's partial: one row per (bucket, type,
    // host, name, tags_key), holding the revised aggregate, not the first
    // batch's partial beside it
    assert(out.length == 2, out.mkString("\n"))
    val byName = out.map(r =>
      r.getAs[String]("name") -> (r.getAs[Double]("value"), r.getAs[Long]("n"))).toMap
    assert(byName("load.1") == (2.5, 2L)) // avg of gauge 1.0, 4.0
    assert(byName("rx") == (15.0, 2L))    // counter sum 10 + 5
  }
}
