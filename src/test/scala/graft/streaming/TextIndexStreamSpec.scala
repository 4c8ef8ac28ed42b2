package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import graft.TestSpark
import graft.operators.{TextIndex, TextOps}

/** Drained-stream ≡ full rebuild for continuous index maintenance: after
  * streaming the remainder of the corpus into a base index across
  * several micro-batches, BM25 and phrase serving match an index built
  * on everything at once.
  */
class TextIndexStreamSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._
  private val dir = "/root/testdata/sf0.001"

  test("streamed appends serve exactly like a full rebuild") {
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id").cast("long"), col("text"))
    val base = java.nio.file.Files.createTempDirectory("graft-tidxs").toString
    val full = s"$base/full"
    val streamed = s"$base/streamed"
    TextIndex.buildInto(full, docs, "spec-tidxs-full")
    TextIndex.buildInto(streamed, docs.filter(col("doc_id") % 3 === 0),
      "spec-tidxs-base")

    val rest = docs.filter(col("doc_id") % 3 =!= 0)
      .as[(Long, String)].collect().toSeq
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = TextIndexStream.appendStream(
        mem.toDS.toDF("doc_id", "text"), streamed)
      .start()
    try {
      val (first, second) = rest.splitAt(rest.size / 2)
      mem.addData(first: _*)
      q.processAllAvailable()
      mem.addData(second: _*)
      q.processAllAvailable()
    } finally q.stop()

    val wl = TextOps.bm25Queries
    val a = TextIndex.bm25At(spark, full, 10, wl).collect().map(_.toString)
    val b = TextIndex.bm25At(spark, streamed, 10, wl).collect().map(_.toString)
    assert(a.nonEmpty && b.toSeq === a.toSeq)
    val pa = TextIndex.phraseAt(spark, full, TextIndex.phraseQueries)
      .collect().map(_.toString)
    val pb = TextIndex.phraseAt(spark, streamed, TextIndex.phraseQueries)
      .collect().map(_.toString)
    assert(pa.nonEmpty && pb.toSeq === pa.toSeq)
  }

  test("replayed micro-batches are idempotent (restart re-delivery gate)") {
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id").cast("long"), col("text"))
    val base = java.nio.file.Files.createTempDirectory("graft-tidxr").toString
    val full = s"$base/full"
    val replayed = s"$base/replayed"
    TextIndex.buildInto(full, docs, "spec-tidxr-full")
    TextIndex.buildInto(replayed, docs.filter(col("doc_id") % 2 === 0),
      "spec-tidxr-base")
    val batch = docs.filter(col("doc_id") % 2 =!= 0)
    // foreachBatch is at-least-once: the same batch id arriving twice
    // (post-restart re-delivery) must append exactly once — and markers
    // are scoped per streamId, so a different stream's batch 7 is not
    // swallowed by this one's marker (the checkpoint-reset contract)
    TextIndexStream.appendBatch(replayed, batch.limit(0), id = 7L, "other")
    TextIndexStream.appendBatch(replayed, batch, id = 7L)
    TextIndexStream.appendBatch(replayed, batch, id = 7L)
    val wl = TextOps.bm25Queries
    val a = TextIndex.bm25At(spark, full, 10, wl).collect().map(_.toString)
    val b = TextIndex.bm25At(spark, replayed, 10, wl).collect().map(_.toString)
    assert(a.nonEmpty && b.toSeq === a.toSeq)
  }

  test("a committed append whose marker was lost is detected by the stats tag") {
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id").cast("long"), col("text"))
    val base = java.nio.file.Files.createTempDirectory("graft-tidxt").toString
    val full = s"$base/full"
    val tagd = s"$base/tagged"
    TextIndex.buildInto(full, docs, "spec-tidxt-full")
    TextIndex.buildInto(tagd, docs.filter(col("doc_id") % 2 === 0),
      "spec-tidxt-base")
    val batch = docs.filter(col("doc_id") % 2 =!= 0)
    TextIndexStream.appendBatch(tagd, batch, id = 3L)
    // simulate the crash-after-append-before-marker window: delete the
    // marker, replay the batch — the stats tag must gate the re-append
    // and the marker must be backfilled
    val marker = new java.io.File(s"$tagd/_appended/default/batch-3")
    assert(marker.exists())
    assert(marker.delete())
    TextIndexStream.appendBatch(tagd, batch, id = 3L)
    assert(marker.exists(), "replay did not backfill the lost marker")
    val wl = TextOps.bm25Queries
    val a = TextIndex.bm25At(spark, full, 10, wl).collect().map(_.toString)
    val b = TextIndex.bm25At(spark, tagd, 10, wl).collect().map(_.toString)
    assert(a.nonEmpty && b.toSeq === a.toSeq)
  }

  test("a lost marker is tag-gated even after ANOTHER stream appended") {
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id").cast("long"), col("text"))
    val base = java.nio.file.Files.createTempDirectory("graft-tidxm").toString
    val full = s"$base/full"
    val multi = s"$base/multi"
    TextIndex.buildInto(full, docs, "spec-tidxm-full")
    TextIndex.buildInto(multi, docs.filter(col("doc_id") % 3 === 0),
      "spec-tidxm-base")
    val batchA = docs.filter(col("doc_id") % 3 === 1)
    val batchB = docs.filter(col("doc_id") % 3 === 2)
    // stream A commits batch 7, loses its marker; stream B then appends
    // batch 2 — a single latest-append slot would now forget A's commit
    // and double-count on A's replay
    TextIndexStream.appendBatch(multi, batchA, id = 7L, "streamA")
    val markerA = new java.io.File(s"$multi/_appended/streamA/batch-7")
    assert(markerA.exists() && markerA.delete())
    // sequential handoff between streams is a GRACEFUL release of the
    // single-maintainer lease (concurrent feeders refuse — the lease
    // spec); the per-stream tag map below is what survives the handoff
    graft.operators.Artifacts.releaseLease(multi, "streamA")
    TextIndexStream.appendBatch(multi, batchB, id = 2L, "streamB")
    graft.operators.Artifacts.releaseLease(multi, "streamB")
    TextIndexStream.appendBatch(multi, batchA, id = 7L, "streamA") // replay
    assert(markerA.exists(), "replay did not backfill stream A's marker")
    val wl = TextOps.bm25Queries
    val a = TextIndex.bm25At(spark, full, 10, wl).collect().map(_.toString)
    val b = TextIndex.bm25At(spark, multi, 10, wl).collect().map(_.toString)
    assert(a.nonEmpty && b.toSeq === a.toSeq)
  }

  /** Recreate a mid-append crash state: run the append to completion,
    * then restore the named small-table artifacts from a pre-append
    * snapshot — leaving exactly the on-disk state a crash at that point
    * would have left (committed postings files under their tagged names,
    * selected artifacts still old, commit evidence gone with them).
    */
  private def copyTree(src: java.io.File, dst: java.io.File): Unit = {
    if (src.isDirectory) {
      dst.mkdirs()
      src.listFiles().foreach(f => copyTree(f, new java.io.File(dst, f.getName)))
    } else java.nio.file.Files.copy(src.toPath, dst.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
  }
  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmTree)
    f.delete(): Unit
  }

  test("a crash after the postings publish but before the terms swap replays exactly-once") {
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id").cast("long"), col("text"))
    val base = java.nio.file.Files.createTempDirectory("graft-tidxp").toString
    val full = s"$base/full"
    val crashed = s"$base/crashed"
    TextIndex.buildInto(full, docs, "spec-tidxp-full")
    TextIndex.buildInto(crashed, docs.filter(col("doc_id") % 2 === 0),
      "spec-tidxp-base")
    // snapshot the small tables, commit the append, then roll terms AND
    // stats back: the state a crash between the postings publish and the
    // terms swap leaves (tagged postings live, no tag anywhere)
    copyTree(new java.io.File(s"$crashed/terms"), new java.io.File(s"$base/terms.bak"))
    copyTree(new java.io.File(s"$crashed/stats"), new java.io.File(s"$base/stats.bak"))
    val batch = docs.filter(col("doc_id") % 2 =!= 0)
    TextIndexStream.appendBatch(crashed, batch, id = 11L, "crashy")
    rmTree(new java.io.File(s"$crashed/_appended"))
    rmTree(new java.io.File(s"$crashed/terms"))
    rmTree(new java.io.File(s"$crashed/stats"))
    copyTree(new java.io.File(s"$base/terms.bak"), new java.io.File(s"$crashed/terms"))
    copyTree(new java.io.File(s"$base/stats.bak"), new java.io.File(s"$crashed/stats"))
    // replay: must OVERWRITE the tagged postings (not re-append) and
    // merge terms/stats exactly once
    TextIndexStream.appendBatch(crashed, batch, id = 11L, "crashy")
    val wl = TextOps.bm25Queries
    val a = TextIndex.bm25At(spark, full, 10, wl).collect().map(_.toString)
    val b = TextIndex.bm25At(spark, crashed, 10, wl).collect().map(_.toString)
    assert(a.nonEmpty && b.toSeq === a.toSeq)
    val pa = TextIndex.phraseAt(spark, full, TextIndex.phraseQueries)
      .collect().map(_.toString)
    val pb = TextIndex.phraseAt(spark, crashed, TextIndex.phraseQueries)
      .collect().map(_.toString)
    assert(pa.nonEmpty && pb.toSeq === pa.toSeq)
  }

  test("a crash between the terms and stats swaps does not re-merge df on replay") {
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id").cast("long"), col("text"))
    val base = java.nio.file.Files.createTempDirectory("graft-tidxw").toString
    val full = s"$base/full"
    val crashed = s"$base/crashed"
    TextIndex.buildInto(full, docs, "spec-tidxw-full")
    TextIndex.buildInto(crashed, docs.filter(col("doc_id") % 2 === 0),
      "spec-tidxw-base")
    // roll back ONLY stats: postings + terms committed (terms carries its
    // tag), stats old — the exact window r8's docs papered over
    copyTree(new java.io.File(s"$crashed/stats"), new java.io.File(s"$base/stats.bak"))
    val batch = docs.filter(col("doc_id") % 2 =!= 0)
    TextIndexStream.appendBatch(crashed, batch, id = 4L, "crashy")
    rmTree(new java.io.File(s"$crashed/_appended"))
    rmTree(new java.io.File(s"$crashed/stats"))
    copyTree(new java.io.File(s"$base/stats.bak"), new java.io.File(s"$crashed/stats"))
    assert(TextIndex.readTagFile(s"$crashed/terms").get("crashy").contains("4"),
      "terms artifact must carry its own append tag")
    TextIndexStream.appendBatch(crashed, batch, id = 4L, "crashy")
    val wl = TextOps.bm25Queries
    val a = TextIndex.bm25At(spark, full, 10, wl).collect().map(_.toString)
    val b = TextIndex.bm25At(spark, crashed, 10, wl).collect().map(_.toString)
    assert(a.nonEmpty && b.toSeq === a.toSeq)
  }

  test("a streamId containing the tag separator cannot clobber another stream's postings") {
    // "crawl" appending batch 2 forms prefix seg-crawl-2-, which would
    // ALSO match stream "crawl-2"'s files if '-' were left unescaped in
    // the encoding — its committed postings would be deleted while
    // terms/stats still counted them
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id").cast("long"), col("text"))
    val base = java.nio.file.Files.createTempDirectory("graft-tidxd").toString
    val full = s"$base/full"
    val multi = s"$base/multi"
    TextIndex.buildInto(full, docs, "spec-tidxd-full")
    TextIndex.buildInto(multi, docs.filter(col("doc_id") % 3 === 0),
      "spec-tidxd-base")
    TextIndexStream.appendBatch(multi, docs.filter(col("doc_id") % 3 === 1),
      id = 7L, "crawl-2")
    // graceful handoff: release crawl-2's maintenance lease before the
    // second stream appends (concurrent feeders would refuse)
    graft.operators.Artifacts.releaseLease(multi, "crawl-2")
    TextIndexStream.appendBatch(multi, docs.filter(col("doc_id") % 3 === 2),
      id = 2L, "crawl")
    val wl = TextOps.bm25Queries
    val a = TextIndex.bm25At(spark, full, 10, wl).collect().map(_.toString)
    val b = TextIndex.bm25At(spark, multi, 10, wl).collect().map(_.toString)
    assert(a.nonEmpty && b.toSeq === a.toSeq,
      "stream crawl's append deleted stream crawl-2's postings")
  }

  test("a crash between compaction's aside and swap-in renames heals on the next batch") {
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id").cast("long"), col("text"))
    val base = java.nio.file.Files.createTempDirectory("graft-tidxh").toString
    val full = s"$base/full"
    val healed = s"$base/healed"
    TextIndex.buildInto(full, docs, "spec-tidxh-full")
    TextIndex.buildInto(healed, docs.filter(col("doc_id") % 2 === 0),
      "spec-tidxh-base")
    // simulate the crash point: postings renamed aside, swap-in never ran
    val postings = new java.io.File(s"$healed/postings")
    val aside = new java.io.File(s"$healed/postings.old-crashed")
    assert(postings.renameTo(aside))
    // serving fails fast on the mid-swap tree rather than reading wrong
    intercept[IllegalArgumentException] {
      TextIndex.bm25At(spark, healed, 10, TextOps.bm25Queries)
    }
    // the next micro-batch heals the root and appends normally
    TextIndexStream.appendBatch(healed,
      docs.filter(col("doc_id") % 2 =!= 0), id = 1L, "heal")
    assert(postings.exists() && !aside.exists())
    val wl = TextOps.bm25Queries
    val a = TextIndex.bm25At(spark, full, 10, wl).collect().map(_.toString)
    val b = TextIndex.bm25At(spark, healed, 10, wl).collect().map(_.toString)
    assert(a.nonEmpty && b.toSeq === a.toSeq)
  }

  test("auto-compaction bounds segment count and serving stays ≡ rebuild") {
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id").cast("long"), col("text"))
    val base = java.nio.file.Files.createTempDirectory("graft-tidxc").toString
    val full = s"$base/full"
    val streamed = s"$base/streamed"
    TextIndex.buildInto(full, docs, "spec-tidxc-full")
    TextIndex.buildInto(streamed, docs.filter(col("doc_id") % 7 === 0),
      "spec-tidxc-base")
    // 6 appends with maxSegments=3: without compaction the busiest shard
    // would hold ~7 files (base + one per append); the bound must hold
    // after every batch and serving must stay exact across compactions
    val maxSegments = 3
    for (r <- 1 to 6) {
      TextIndexStream.appendBatch(streamed,
        docs.filter(col("doc_id") % 7 === r), id = r.toLong,
        maxSegments = maxSegments)
      assert(TextIndex.postingsSegments(streamed) <= maxSegments + 1,
        s"segment bound violated after batch $r: " +
          TextIndex.postingsSegments(streamed))
    }
    assert(TextIndex.postingsSegments(streamed) <= maxSegments,
      s"segment bound violated: ${TextIndex.postingsSegments(streamed)}")
    val wl = TextOps.bm25Queries
    val a = TextIndex.bm25At(spark, full, 10, wl).collect().map(_.toString)
    val b = TextIndex.bm25At(spark, streamed, 10, wl).collect().map(_.toString)
    assert(a.nonEmpty && b.toSeq === a.toSeq)
    val pa = TextIndex.phraseAt(spark, full, TextIndex.phraseQueries)
      .collect().map(_.toString)
    val pb = TextIndex.phraseAt(spark, streamed, TextIndex.phraseQueries)
      .collect().map(_.toString)
    assert(pa.nonEmpty && pb.toSeq === pa.toSeq)
  }
}
