package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Streaming MV maintenance for the day-grain sketch rollups: a drained
  * event stream must leave the rollup answering exactly as a full
  * rebuild over everything folded, each maintainer must be replay-exact
  * under its own algebra (KMV by multiplicity-invariance with no
  * machinery; qhist by the file-tag protocol), and day-local compaction
  * must preserve the served answers while restoring file economy.
  */
class RollupStreamSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._
  graft.functions.VectorFunctions.ensureRegistered(spark)

  private def evFrame(rows: Seq[(String, String, String, Double)]) =
    rows.toDF("ts0", "user_id", "event_type", "value")
      .select(col("ts0").cast("timestamp").as("ts"), col("user_id"),
        col("event_type"), col("value"))

  private val base = evFrame(Seq(
    ("2024-01-01 10:00:00", "u1", "click", 1.5),
    ("2024-01-01 11:00:00", "u2", "click", 2.5),
    ("2024-01-02 10:00:00", "u1", "view", 7.0)))
  private val incoming = Seq(
    ("2024-01-01 12:00:00", "u3", "click", 3.5),
    ("2024-01-02 11:00:00", "u4", "view", 9.0),
    ("2024-01-03 09:00:00", "u1", "click", 0.5),
    ("2024-01-03 10:00:00", "u5", "view", 6.0))

  test("qhistAppendStream: drained tagged ingest (with mid-stream " +
      "day-local compaction) serves the full rebuild's merged states; " +
      "a replayed batch tag converges instead of double-counting") {
    val roll = java.nio.file.Files
      .createTempDirectory("graft-qroll-stream").toString + "/rollup"
    graft.plans.QuantileRoute.rollupOf(base).coalesce(1)
      .write.partitionBy("day").parquet(roll)

    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(String, String, String, Double)]
    val stream = mem.toDS
      .select(col("_1").cast("timestamp").as("ts"), col("_2").as("user_id"),
        col("_3").as("event_type"), col("_4").as("value"))
    // maxSegments=1: the second batch touching an already-appended day
    // pushes it past the bound and compactDays runs mid-stream
    val q = RollupStream.qhistAppendStream(stream, roll, "rollupspec",
      maxSegments = 1).start()
    try {
      incoming.grouped(2).foreach { slice =>
        mem.addData(slice: _*)
        q.processAllAvailable()
        // the maintainer's bound: one append past maxSegments at most
        assert(graft.plans.QuantileRoute.rollupSegments(roll) <= 2,
          s"segment bound violated: ${graft.plans.QuantileRoute.rollupSegments(roll)}")
      }
    } finally q.stop()

    def served(): Map[(String, String), Seq[(Double, Long)]] = {
      spark.catalog.refreshByPath(roll)
      spark.read.parquet(roll)
        .groupBy("event_type", "day")
        .agg(graft.functions.VectorFunctions.qhistMergeState(col("state"))
          .as("state"))
        .select(col("event_type"), col("day").cast("string"), col("state"))
        .as[(String, String, Seq[(Double, Long)])].collect()
        .map { case (t, d, s) => (t, d) -> s }.toMap
    }
    val want = graft.plans.QuantileRoute
      .rollupOf(base.unionByName(evFrame(incoming)))
      .select(col("event_type"), col("day").cast("string"), col("state"))
      .as[(String, String, Seq[(Double, Long)])].collect()
      .map { case (t, d, s) => (t, d) -> s }.toMap
    assert(served().nonEmpty && served() === want)

    // a replayed LAST batch (same streamId, same batchId => same tag —
    // the only batch Structured Streaming ever replays; earlier tags
    // are committed and may have been folded by compaction, the
    // documented TextIndex postings contract) first deletes its own
    // segment files — the served states are unchanged
    graft.plans.QuantileRoute.maintainRollup(spark, roll,
      evFrame(incoming.drop(2)), ("rollupspec", "1"), maxSegments = 1)
    assert(served() === want)
    // and compaction to one file per day preserves the answers
    graft.plans.QuantileRoute.compactDays(spark, roll, owner = Some("rollupspec"))
    assert(graft.plans.QuantileRoute.rollupSegments(roll) == 1)
    assert(served() === want)
  }

  test("corpusAppendStream: a segmented (tagged, mid-stream-compacted) " +
      "corpus rollup routes bit-identically to the raw recompute, and a " +
      "replayed last batch converges") {
    import graft.plans.CorpusRoute
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text", "lang", "source", "n_chars")
    val d = java.nio.file.Files.createTempDirectory("graft-croll-ds").toString
    val rawCopy = s"$d/documents"
    docs.write.parquet(rawCopy)
    val all = spark.read.parquet(rawCopy)
    val roll = s"$d/rollup"
    CorpusRoute.rollupOf(all.filter(col("doc_id") % 3 =!= 0)).coalesce(1)
      .write.partitionBy("lang").parquet(roll)
    val incoming = all.filter(col("doc_id") % 3 === 0)
      .as[(Long, String, String, String, Long)].collect().sortBy(_._1)
    assert(incoming.nonEmpty)

    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String, String, String, Long)]
    val stream = mem.toDS.select(col("_1").as("doc_id"), col("_2").as("text"),
      col("_3").as("lang"), col("_4").as("source"), col("_5").as("n_chars"))
    // maxSegments=1: the second batch pushes a touched lang dir past
    // the bound and the lang-local compaction runs mid-stream
    val q = RollupStream.corpusAppendStream(stream, roll, "corpspec",
      maxSegments = 1).start()
    // exactly TWO batches (ids 0, 1), so the replay below really is the
    // LAST batch's tag — the only one the replay contract covers
    val (slice0, slice1) = incoming.splitAt((incoming.length + 1) / 2)
    try {
      Seq(slice0, slice1).foreach { slice =>
        mem.addData(slice.toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    CorpusRoute.enable(spark)
    CorpusRoute.register(spark, rawCopy, roll)
    try {
      def stats() = spark.read.parquet(rawCopy)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          avg(col("n_chars")).as("avg_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy("lang")
      val routed = stats()
      assert(routed.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
          if lr.relation.asInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location.rootPaths.exists(_.toString.contains(roll)) => lr
      }.nonEmpty, routed.queryExecution.optimizedPlan.toString)
      val routedRows = routed.collect().toSeq.map(_.toString)
      CorpusRoute.deregister(spark, rawCopy)
      assert(routedRows === stats().collect().toSeq.map(_.toString))
      // a replayed LAST batch (same tag) converges instead of
      // double-counting
      CorpusRoute.register(spark, rawCopy, roll)
      val lastBatch = slice1.toSeq
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      CorpusRoute.maintainRollup(spark, roll, lastBatch,
        ("corpspec", "1"), maxSegments = 1)
      assert(stats().collect().toSeq.map(_.toString) === routedRows)
      CorpusRoute.compactLangs(spark, roll, owner = Some("corpspec"))
      assert(CorpusRoute.rollupSegments(roll) == 1)
      assert(stats().collect().toSeq.map(_.toString) === routedRows)
    } finally CorpusRoute.deregister(spark, rawCopy)
  }

  test("kmvAppendStream: blind segment appends (with mid-stream " +
      "compaction) converge to the rebuild's states; even a replay of an " +
      "ALREADY-COMPACTED batch is absorbed — multiplicity-invariance " +
      "needs no replay contract at all") {
    val k = 64
    val roll = java.nio.file.Files
      .createTempDirectory("graft-kmvapp-stream").toString + "/rollup"
    graft.plans.KmvRoute.rollupOf(base, k).coalesce(1)
      .write.partitionBy("day").parquet(roll)

    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(String, String, String, Double)]
    val stream = mem.toDS
      .select(col("_1").cast("timestamp").as("ts"), col("_2").as("user_id"),
        col("_3").as("event_type"), col("_4").as("value"))
    // maxSegments=1: the second batch's entry compaction folds the
    // first batch's segment files
    val q = RollupStream.kmvAppendStream(stream, roll, k,
      maxSegments = 1).start()
    try {
      incoming.grouped(2).foreach { slice =>
        mem.addData(slice: _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    def mergedStates(): Map[String, Seq[Long]] = {
      spark.catalog.refreshByPath(roll)
      spark.read.parquet(roll)
        .select(col("day"), explode(col("state")).as("h"))
        .groupBy("day")
        .agg(graft.functions.VectorFunctions.kmvStateExact(col("h"), k)
          .as("state"))
        .select(col("day").cast("string"), col("state"))
        .as[(String, Seq[Long])].collect().toMap
    }
    val want = graft.plans.KmvRoute
      .rollupOf(base.unionByName(evFrame(incoming)), k)
      .select(col("day").cast("string"), col("state"))
      .as[(String, Seq[Long])].collect().toMap
    assert(mergedStates().nonEmpty && mergedStates() === want)

    // the FIRST batch was folded by the second batch's entry
    // compaction; replaying it anyway (the case the tagged families'
    // contract forbids) is absorbed by the k-minima union
    graft.plans.KmvRoute.appendRollup(spark, roll,
      evFrame(incoming.take(2)), k)
    assert(mergedStates() === want)
    // compaction to one state row per day preserves — and now equals
    // the rebuild's states bit-for-bit
    graft.plans.KmvRoute.compactDays(spark, roll, k)
    assert(graft.plans.KmvRoute.rollupSegments(roll) == 1)
    spark.catalog.refreshByPath(roll)
    val stored = spark.read.parquet(roll)
      .select(col("day").cast("string"), col("state"))
      .as[(String, Seq[Long])].collect().toMap
    assert(stored === want)
  }
}
