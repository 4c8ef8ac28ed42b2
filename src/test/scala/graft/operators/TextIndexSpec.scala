package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The ingest-time inverted index must serve BM25 bit-identically to the
  * raw-scan path, and its reads must actually prune: partition filters on
  * the term shard, pushed filters on the term.
  */
class TextIndexSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("index-served bm25 is bit-identical to the scan path") {
    val scan = TextOps.bm25TopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val indexed = TextIndex.bm25TopKIndexed(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(scan.nonEmpty)
    assert(indexed.toSeq === scan.toSeq)
  }

  test("postings reads prune to the query terms' shards and row groups") {
    val p = TextIndex.bm25TopKIndexed(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("tshard"), p)
    // the term IN (...) predicate must reach the parquet reader (bloom +
    // sort-order row-group skipping apply there)
    assert(p.contains("In(term") || p.contains("term#"), p)
    assert(p.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("term")), p)
  }

  test("a custom workload round-trips through the index identically") {
    val wl = Seq((7L, 1, "row"), (7L, 2, "batch"), (7L, 3, "line"))
    val scan = TextOps.bm25TopKOver(
      graft.Tables.documents(spark, dir), 5, "spec-bm25idx", wl).collect()
    val indexed = TextIndex.bm25TopKIndexed(spark, dir, 5, wl).collect()
    assert(scan.nonEmpty)
    assert(indexed.map(_.toString).toSeq === scan.map(_.toString).toSeq)
  }

  test("phrase search equals a naive token-window scan") {
    val got = TextIndex.phraseSearch(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    val docs = graft.Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .flatMap(r => Option(r.getString(1)).map(t => r.getLong(0) -> t.split(" ", -1)))
    val expect = TextIndex.phraseQueries.flatMap { case (qid, ts) =>
      docs.flatMap { case (id, tk) =>
        val occ = (0 to tk.length - ts.size).count(i =>
          ts.indices.forall(j => tk(i + j) == ts(j)))
        if (occ > 0) Some((qid, id, occ.toLong)) else None
      }
    }.sortBy(x => (x._1, x._2))
    assert(got.toSeq === expect)
  }

  test("incremental append equals a full rebuild for bm25 and phrase serving") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.documents(spark, dir)
    val base = java.nio.file.Files.createTempDirectory("graft-tidx").toString
    val full = s"$base/full"
    val incr = s"$base/incr"
    TextIndex.buildInto(full, docs, "spec-tidx-full")
    // split 60/40 on doc_id; build on the old slice, append the new one
    TextIndex.buildInto(incr, docs.filter(col("doc_id") % 5 < 3), "spec-tidx-old")
    TextIndex.appendTo(incr, docs.filter(col("doc_id") % 5 >= 3), "spec-tidx-new")
    val wl = TextOps.bm25Queries
    val a = TextIndex.bm25At(spark, full, 10, wl).collect().map(_.toString)
    val b = TextIndex.bm25At(spark, incr, 10, wl).collect().map(_.toString)
    assert(a.nonEmpty && b.toSeq === a.toSeq)
    val pa = TextIndex.phraseAt(spark, full, TextIndex.phraseQueries)
      .collect().map(_.toString)
    val pb = TextIndex.phraseAt(spark, incr, TextIndex.phraseQueries)
      .collect().map(_.toString)
    assert(pa.nonEmpty && pb.toSeq === pa.toSeq)
  }

  test("compaction restores file economy and serves identically") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.documents(spark, dir)
    val base = java.nio.file.Files.createTempDirectory("graft-tidxc").toString
    val root = s"$base/idx"
    TextIndex.buildInto(root, docs.filter(col("doc_id") % 3 === 0), "spec-cmp-0")
    TextIndex.appendTo(root, docs.filter(col("doc_id") % 3 === 1), "spec-cmp-1")
    TextIndex.appendTo(root, docs.filter(col("doc_id") % 3 === 2), "spec-cmp-2")
    def parquetFiles(): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$root/postings"))
        .count(_.getName.endsWith(".parquet"))
    }
    val before = TextIndex.bm25At(spark, root, 10, TextOps.bm25Queries)
      .collect().map(_.toString)
    val filesBefore = parquetFiles()
    TextIndex.compact(root, spark)
    val after = TextIndex.bm25At(spark, root, 10, TextOps.bm25Queries)
      .collect().map(_.toString)
    val filesAfter = parquetFiles()
    assert(before.nonEmpty && after.toSeq === before.toSeq)
    assert(filesAfter < filesBefore,
      s"expected fewer postings files: $filesBefore -> $filesAfter")
    val pAfter = TextIndex.phraseAt(spark, root, TextIndex.phraseQueries)
      .collect().map(_.toString)
    val pFull = TextIndex.phraseAt(spark,
      { val f = s"$base/full"; TextIndex.buildInto(f, docs, "spec-cmp-f"); f },
      TextIndex.phraseQueries).collect().map(_.toString)
    assert(pAfter.toSeq === pFull.toSeq)
  }

  test("shard-local postings compaction: only overweight dirs rewrite, the " +
      "posting set is untouched, and a crashed shard swap refuses pruned " +
      "serving then heals") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, dir)
    val base = java.nio.file.Files.createTempDirectory("graft-tidxsl").toString
    val root = s"$base/idx"
    TextIndex.buildInto(root, docs, "spec-slc-0")
    // a GATE-SIZED append — two EXISTING corpus terms, so only their
    // term shards gain a second segment file (the regime shard-local
    // compaction exists for: a few hot dirs, not the corpus; unseen
    // terms would create fresh single-file dirs instead of segments)
    val extra = Seq(
      (900001L, "value table value"),
      (900002L, "table value table")).toDF("doc_id", "text")
    TextIndex.appendTo(root, extra, "spec-slc-1")
    val postingsRoot = new java.io.File(s"$root/postings")
    def filesOf(d: java.io.File): Set[String] =
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    def shardDirs() = postingsRoot.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("tshard="))
    val overweight = shardDirs().filter(d => filesOf(d).size > 1)
    assert(overweight.nonEmpty && overweight.length <= 2,
      s"two rare terms should load at most 2 shards, saw ${overweight.length}")
    val untouched = shardDirs().filter(d => filesOf(d).size == 1)
      .map(d => d.getName -> filesOf(d)).toMap
    assert(untouched.nonEmpty)
    def postingSet(): Seq[String] = {
      spark.catalog.refreshByPath(s"$root/postings")
      spark.read.parquet(s"$root/postings")
        .select("term", "doc_id", "tf", "dl")
        .collect().map(_.toString).sorted.toSeq
    }
    val want = postingSet()
    val wantBm25 = TextIndex.bm25At(spark, root, 10, TextOps.bm25Queries)
      .collect().map(_.toString).toSeq
    TextIndex.compactShards(root, spark)
    assert(TextIndex.postingsSegments(root) == 1)
    // posting SET preserved exactly; serving unchanged
    assert(postingSet() === want)
    assert(TextIndex.bm25At(spark, root, 10, TextOps.bm25Queries)
      .collect().map(_.toString).toSeq === wantBm25)
    // dirs that were not overweight kept their very files — no
    // corpus-wide rewrite hiding behind the shard-local claim
    untouched.foreach { case (name, files) =>
      assert(filesOf(new java.io.File(postingsRoot, name)) == files,
        s"$name was rewritten though it was not overweight")
    }
    // crash point: a shard dir renamed aside with its swap-in never run —
    // pruned serving must refuse loudly (the aside would otherwise parse
    // as a string partition value and silently drop that shard)
    val victim = shardDirs().head
    val aside = new java.io.File(postingsRoot, victim.getName + ".old-crashed")
    assert(victim.renameTo(aside))
    val e = intercept[IllegalArgumentException] {
      TextIndex.bm25At(spark, root, 10, TextOps.bm25Queries)
    }
    assert(e.getMessage.contains("residue"), e.getMessage)
    TextIndex.recoverArtifacts(root)
    assert(victim.exists() && !aside.exists())
    assert(TextIndex.bm25At(spark, root, 10, TextOps.bm25Queries)
      .collect().map(_.toString).toSeq === wantBm25)
    assert(postingSet() === want)
  }

  test("overlapping and repeated phrase occurrences count exactly") {
    // build a throwaway corpus dir via the Over-path? the index is
    // dataset-keyed, so instead check the position algebra directly on a
    // crafted workload against sf0.001: a phrase of a repeated token
    // ("a a") counts overlapping windows the same way the naive scan does
    val wl = Seq((9L, Seq("a", "a")))
    val got = TextIndex.phraseSearch(spark, dir, wl).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toMap
    val docs = graft.Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .flatMap(r => Option(r.getString(1)).map(t => r.getLong(0) -> t.split(" ", -1)))
    val expect = docs.flatMap { case (id, tk) =>
      val occ = (0 until tk.length - 1).count(i => tk(i) == "a" && tk(i + 1) == "a")
      if (occ > 0) Some(id -> occ.toLong) else None
    }.toMap
    assert(got === expect)
  }
}
