package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import graft.TestSpark

/** Streaming winnow matching: a drained stream's match reports must
  * equal the batch kernel over the same documents (stateless by
  * construction, pinned across micro-batch boundaries and through the
  * foreachBatch plumbing), a re-served corpus document must read as
  * fully known, and index additions become visible exactly at refresh
  * boundaries.
  */
class WinnowStreamSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._
  private val dir = "/root/testdata/sf0.001"

  test("streamed match reports equal the batch kernel; re-served text fully known") {
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect().filter(_._2 != null)
    val (newDocs0, existing) = docs.partition(_._1 % 10 == 9)
    // plant a verbatim re-serve of a corpus document in the new batch —
    // every selected fingerprint of it must already be in the index
    // (picked long enough to actually winnow)
    val reserve = (900001L,
      existing.find(_._2.split(" ").length >= 20).get._2)
    val newDocs = newDocs0 :+ reserve
    val fpsPath = java.nio.file.Files.createTempDirectory("graft-winfps").toString
    WinnowStream.corpusIndexOf(existing.toSeq.toDF("doc_id", "text"))
      .write.mode("overwrite").parquet(fpsPath)

    val expected = WinnowStream.matchReport(
      newDocs.toSeq.toDF("doc_id", "text"),
      spark.read.parquet(fpsPath))
      .as[(Long, Long, Long)].collect().toSet
    assert(expected.nonEmpty)

    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDS.select(col("_1").as("doc_id"), col("_2").as("text"))
    val q = WinnowStream.matchesVsCorpusRefreshing(stream, fpsPath,
      refreshEvery = 1) { (df, _) =>
      val rows = df.as[(Long, Long, Long)].collect()
      got.synchronized { got ++= rows }
    }.start()
    try {
      val sorted = newDocs.sortBy(_._1).toSeq
      val (b1, b2) = sorted.splitAt(sorted.size / 2)
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()

    assert(got.toSet == expected)
    assert(got.size == got.toSet.size, "a report row was emitted twice")
    val rsv = got.find(_._1 == 900001L).get
    assert(rsv._2 > 0 && rsv._3 == rsv._2,
      s"verbatim re-serve not fully matched: $rsv")
  }

  test("duplicate fp rows from overlapping deliveries do not inflate the report") {
    // the documented refresh model accepts raw part files from an
    // external ingest; an overlapping delivery re-lands rows already
    // present. The loader dedupes per refresh, so n_fp/n_matched must
    // equal the distinct-set report, not multiply with the join
    val fpsPath = java.nio.file.Files.createTempDirectory("graft-windup").toString
    val textA = (1 to 30).map(i => s"d$i").mkString(" ")
    val fps = WinnowStream.corpusIndexOf(Seq((1L, textA)).toDF("doc_id", "text"))
    fps.write.mode("overwrite").parquet(fpsPath)
    // overlapping re-delivery: the same fingerprints land again as an
    // extra part file
    val side = java.nio.file.Files.createTempDirectory("graft-windup-add").toString
    fps.coalesce(1).write.mode("overwrite").parquet(side)
    val part = new java.io.File(side).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .head
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(fpsPath, "dup-" + part.getName))

    val expected = WinnowStream.matchReport(
      Seq((9001L, textA)).toDF("doc_id", "text"),
      fps.select("fp").distinct())
      .as[(Long, Long, Long)].collect().toSet

    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDS.select(col("_1").as("doc_id"), col("_2").as("text"))
    val q = WinnowStream.matchesVsCorpusRefreshing(stream, fpsPath,
      refreshEvery = 1) { (df, _) =>
      val rows = df.as[(Long, Long, Long)].collect()
      got.synchronized { got ++= rows }
    }.start()
    try {
      mem.addData((9001L, textA))
      q.processAllAvailable()
    } finally q.stop()
    val rep = got.toSet
    assert(rep == expected, s"duplicated deliveries distorted the report: $rep vs $expected")
    val r = rep.head
    assert(r._2 > 0 && r._3 == r._2, s"verbatim doc must be fully known: $r")
  }

  test("maintained index: streamed appends bound segments and serve ≡ rebuild") {
    import graft.operators.WinnowIndex
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id").cast("long"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("graft-winidx").toString
    WinnowIndex.buildInto(root, docs.filter(col("doc_id") % 7 === 0))
    val rest = docs.filter(col("doc_id") % 7 =!= 0)
      .as[(Long, String)].collect().filter(_._2 != null).toSeq
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val maxSegments = 3
    val q = WinnowStream.appendStream(
        mem.toDS.select(col("_1").as("doc_id"), col("_2").as("text")),
        root, maxSegments = maxSegments)
      .start()
    try {
      rest.grouped(math.max(1, rest.size / 6)).foreach { g =>
        mem.addData(g: _*)
        q.processAllAvailable()
        assert(WinnowIndex.segments(root) <= maxSegments + 1,
          s"segment bound violated: ${WinnowIndex.segments(root)}")
      }
    } finally q.stop()
    assert(WinnowIndex.segments(root) <= maxSegments,
      s"segment bound violated: ${WinnowIndex.segments(root)}")
    spark.catalog.refreshByPath(WinnowIndex.fpsDir(root))
    val art = spark.read.parquet(WinnowIndex.fpsDir(root))
      .select("fp").distinct().collect().map(_.getLong(0)).sorted
    val full = WinnowStream.corpusIndexOf(docs)
      .collect().map(_.getLong(0)).sorted
    assert(art.nonEmpty && art === full)
    // and the serving path reads it: a corpus doc re-served through the
    // index-backed refreshing matcher reports fully known
    val reserve = rest.find(_._2.split(" ").length >= 20).get
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val mem2 = MemoryStream[(Long, String)]
    val q2 = WinnowStream.matchesVsIndexRefreshing(
      mem2.toDS.select(col("_1").as("doc_id"), col("_2").as("text")),
      root, refreshEvery = 1) { (df, _) =>
      val rows = df.as[(Long, Long, Long)].collect()
      got.synchronized { got ++= rows }
    }.start()
    try {
      mem2.addData((990001L, reserve._2))
      q2.processAllAvailable()
    } finally q2.stop()
    val r = got.find(_._1 == 990001L).get
    assert(r._2 > 0 && r._3 == r._2, s"re-serve not fully known: $r")
  }

  test("pruned serving: drained stream reports equal the batch kernel against " +
      "the FULL set, and maintainer appends are visible at the next batch") {
    import graft.operators.WinnowIndex
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id").cast("long"), col("text"))
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val root = java.nio.file.Files.createTempDirectory("graft-winprn").toString
    WinnowIndex.buildInto(root, corpus)
    // paste-sized probes: 12-token snippets of probe-slice docs — the
    // regime where range-pruned reads pay (the q_winnow_snippet shape)
    val probes = docs.filter(col("doc_id") % 3 === 0)
      .as[(Long, String)].collect().filter(_._2 != null).take(6)
      .map { case (id, t) => (id, t.split(" ").take(12).mkString(" ")) }.toSeq
    // batch truth: the same snippets against the FULL fingerprint set —
    // pruning must change the bytes read, never the report
    val want = WinnowStream.matchReport(
        probes.toDF("doc_id", "text"), WinnowStream.corpusIndexOf(corpus))
      .as[(Long, Long, Long)].collect().toSet

    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = WinnowStream.matchesVsIndexPruned(
      mem.toDS.select(col("_1").as("doc_id"), col("_2").as("text")), root) {
      (df, _) =>
        val rows = df.as[(Long, Long, Long)].collect()
        got.synchronized { got ++= rows }
    }.start()
    try {
      val (a, b) = probes.splitAt(probes.size / 2)
      mem.addData(a: _*)
      q.processAllAvailable()
      mem.addData(b: _*)
      q.processAllAvailable()
      assert(got.toSet == want, s"pruned stream diverged: ${got.toSet} vs $want")
      // a maintainer append lands mid-stream: the NEXT batch sees it
      // (per-batch artifact read — no refresh boundary to wait for)
      // identical novel text on both sides (a PREFIX's winnow minima are
      // not guaranteed a subset of the full doc's selection — windows
      // near the cut differ; same text ⇒ same selection exactly)
      val probe2 = (1 to 12).map(i => s"zq$i xkcd$i").mkString(" ")
      val r0 = {
        got.clear()
        mem.addData((990001L, probe2)); q.processAllAvailable()
        got.find(_._1 == 990001L).get
      }
      assert(r0._2 > 0 && r0._3 == 0, s"novel text should be unknown: $r0")
      WinnowIndex.appendTo(root, Seq((990002L, probe2)).toDF("doc_id", "text"))
      val r1 = {
        got.clear()
        mem.addData((990003L, probe2)); q.processAllAvailable()
        got.find(_._1 == 990003L).get
      }
      assert(r1._2 == r0._2 && r1._3 == r1._2,
        s"append not visible at next batch: $r1 (before: $r0)")
    } finally q.stop()
  }

  test("checkpointed resume: no report is re-emitted for already-processed batches") {
    // the ResumeSpec contract for the winnow gate: stop the stream,
    // deliver more documents, restart from the same checkpoint — old
    // documents are not re-reported (their ingest decision already
    // happened), new ones are
    val in = java.nio.file.Files.createTempDirectory("graft-winres-in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-winres-ck").toString
    val fpsPath = java.nio.file.Files.createTempDirectory("graft-winres-fp").toString
    val textA = (1 to 20).map(i => s"r$i").mkString(" ")
    WinnowStream.corpusIndexOf(Seq((1L, textA)).toDF("doc_id", "text"))
      .write.mode("overwrite").parquet(fpsPath)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    def startQuery() = WinnowStream.matchesVsCorpusRefreshing(
      spark.readStream.schema("doc_id LONG, text STRING").json(in),
      fpsPath, refreshEvery = 1) { (df, _) =>
      val rows = df.as[(Long, Long, Long)].collect()
      got.synchronized { got ++= rows }
    }.option("checkpointLocation", ckpt).start()
    def doc(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text"}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$in/a.json"),
      doc(9001, textA) + "\n" + doc(9002, "too short") + "\n")
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(got.map(_._1).sorted.toSeq == Seq(9001L, 9002L))
    // a new document lands while the gate is down; restart resumes from
    // the committed offsets
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$in/b.json"), doc(9003, textA) + "\n")
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    assert(got.map(_._1).sorted.toSeq == Seq(9001L, 9002L, 9003L),
      s"resume re-emitted or dropped reports: $got")
    val r = got.find(_._1 == 9003L).get
    assert(r._2 > 0 && r._3 == r._2, s"post-resume report wrong: $r")
  }

  test("refreshing fingerprint set: additions invisible until the refresh boundary") {
    val fpsPath = java.nio.file.Files.createTempDirectory("graft-winfps").toString
    // 20 distinct-token texts — long enough (>= k+w-1 = 6) to winnow
    val textA = (1 to 20).map(i => s"a$i").mkString(" ")
    val textB = (1 to 20).map(i => s"b$i").mkString(" ")
    WinnowStream.corpusIndexOf(Seq((1L, textA)).toDF("doc_id", "text"))
      .write.mode("overwrite").parquet(fpsPath)

    val hits = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDS.select(col("_1").as("doc_id"), col("_2").as("text"))
    // refreshEvery = 2 → the fingerprint set reloads on batches 0, 2, …
    val q = WinnowStream.matchesVsCorpusRefreshing(stream, fpsPath,
      refreshEvery = 2) { (df, bid) =>
      val rows = df.collect()
      hits.synchronized {
        rows.foreach(r =>
          hits += ((bid, r.getLong(0), r.getLong(2) == r.getLong(1))))
      }
    }.start()
    try {
      mem.addData((9001L, textA)) // batch 0 (refresh): fully known
      q.processAllAvailable()
      // corpus addition lands as a raw part-file move (a separate
      // ingest process's delivery — a same-session write would
      // auto-recache and defeat the staleness half)
      val side = java.nio.file.Files.createTempDirectory("graft-winfps-add").toString
      WinnowStream.corpusIndexOf(Seq((2L, textB)).toDF("doc_id", "text"))
        .coalesce(1).write.mode("overwrite").parquet(side)
      val part = new java.io.File(side).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(fpsPath, part.getName))
      mem.addData((9002L, textB)) // batch 1 (stale): nothing matches
      q.processAllAvailable()
      mem.addData((9003L, textB)) // batch 2 (refresh): fully known
      q.processAllAvailable()
    } finally q.stop()

    assert(hits.toSeq == Seq((0L, 9001L, true), (1L, 9002L, false),
      (2L, 9003L, true)), s"got $hits")
  }
}
