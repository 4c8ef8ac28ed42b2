package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.{Tables, TestSpark}

/** Corpus-construction operators (repetition signals, chunk dedup,
  * sequence packing, vocabulary head) — fixture cases with hand-computed
  * expectations, plus exact driver-side ground-truth equivalence over the
  * sf0.01 corpus (the same exhaustive-oracle pattern as TextQualitySpec).
  */
class CorpusOpsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._
  private val dir = "/root/testdata/sf0.01"

  private lazy val corpus: Seq[(Long, String)] =
    Tables.documents(spark, dir).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq

  // --- repetition signals -------------------------------------------------

  test("repetition signals: hand-computed fixture") {
    val docs = Seq(
      (1L, "a b a b a"),       // top token a×3; top bigram "a b"×2
      (2L, "x"),               // single token, no bigram
      (3L, "t t t t"),         // top token t×4; top bigram "t t"×3
      (4L, "u v w")            // all distinct
    ).toDF("doc_id", "text")
    val out = TextOps.repetitionOver(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(out(1L) == ((5L, 2L, 3L, 2L)))
    assert(out(2L) == ((1L, 1L, 1L, 0L)))
    assert(out(3L) == ((4L, 1L, 4L, 3L)))
    assert(out(4L) == ((3L, 3L, 1L, 1L)))
  }

  test("repetition signals: null text drops, like the oracle's unnest") {
    val docs = Seq((1L, "a a"), (2L, null)).toDF("doc_id", "text")
    val out = TextOps.repetitionOver(docs).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("repetition signals match the naive explode+count definition at sf0.01") {
    val got = TextOps.repetitionSignals(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val want = corpus.filter(_._2 != null).map { case (id, text) =>
      val toks = text.split(" ", -1).toSeq
      val bgs = toks.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
      val topTok = toks.groupBy(identity).values.map(_.size).max.toLong
      val topBg =
        if (bgs.isEmpty) 0L
        else bgs.groupBy(identity).values.map(_.size).max.toLong
      id -> ((toks.size.toLong, toks.distinct.size.toLong, topTok, topBg))
    }.toMap
    assert(got == want)
  }

  // --- chunk dedup --------------------------------------------------------

  test("chunk dedup: earlier doc owns the shared span") {
    // chunk size 2: doc 1 = ["a b", "c d"]; doc 2 = ["c d", "e f"];
    // doc 3 = ["a b"] (dup of doc 1's), doc 4 all fresh + short tail chunk
    val docs = Seq(
      (1L, "a b c d"),
      (2L, "c d e f"),
      (3L, "a b"),
      (4L, "g h i")
    ).toDF("doc_id", "text")
    val out = TextOps.chunkDedupOver(docs, chunkTokens = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == ((2L, 0L)))
    assert(out(2L) == ((2L, 1L)))
    assert(out(3L) == ((1L, 1L)))
    assert(out(4L) == ((2L, 0L))) // "g h" + tail "i", neither seen before
  }

  test("chunk dedup: within-doc repeats count once (distinct chunks)") {
    val docs = Seq((1L, "a b a b")).toDF("doc_id", "text")
    val out = TextOps.chunkDedupOver(docs, chunkTokens = 2).collect()
    assert(out.length == 1 && out.head.getLong(1) == 1L && out.head.getLong(2) == 0L)
  }

  test("chunk dedup matches exhaustive driver-side ground truth at sf0.01") {
    val got = TextOps.chunkDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val chunked = corpus.filter(_._2 != null).map { case (id, text) =>
      id -> text.split(" ", -1).grouped(16).map(_.mkString(" ")).toSet
    }
    val firstOwner = chunked.flatMap { case (id, cs) => cs.map(_ -> id) }
      .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).min }
    val want = chunked.map { case (id, cs) =>
      id -> ((cs.size.toLong, cs.count(c => firstOwner(c) < id).toLong))
    }.toMap
    assert(got == want)
  }

  // --- boilerplate --------------------------------------------------------

  test("boilerplate: shared chunks surface with exact df, ties broken by chunk") {
    val docs = Seq(
      (1L, "nav home about contact"),
      (2L, "nav home about contact"),
      (3L, "nav home about contact"),
      (4L, "footer legal"),
      (5L, "footer legal"),
      (6L, "unique content here")
    ).toDF("doc_id", "text")
    val out = TextOps.boilerplateChunksOver(docs, k = 5, minDf = 2, chunkTokens = 16)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(("nav home about contact", 3L), ("footer legal", 2L)))
  }

  test("boilerplate matches exhaustive chunk-df ground truth at sf0.01") {
    val got = TextOps.boilerplateChunks(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val want = corpus.filter(_._2 != null)
      .flatMap { case (id, text) =>
        text.split(" ", -1).grouped(16).map(_.mkString(" ")).toSet.map((c: String) => (c, id))
      }
      .groupBy(_._1).map { case (c, xs) => (c, xs.size.toLong) }
      .filter(_._2 >= 2)
      .toSeq.sortBy { case (c, df) => (-df, c) }.take(20)
    assert(got.toSeq == want)
  }

  // --- sequence packing ---------------------------------------------------

  test("sequence packing: hand-computed fixture at seqLen=4") {
    // token counts: 3, 3, 2 → cumulative starts 0, 3, 6
    val docs = Seq(
      (1L, "a b c"),
      (2L, "d e f"),
      (3L, "g h")
    ).toDF("doc_id", "text")
    val out = TextOps.packSequencesOver(docs, seqLen = 4).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(1L) == ((3L, 0L, 0L, 0L))) // tokens 0-2 in seq 0
    assert(out(2L) == ((3L, 0L, 1L, 3L))) // tokens 3-5 straddle seqs 0-1
    assert(out(3L) == ((2L, 1L, 1L, 2L))) // tokens 6-7 inside seq 1
  }

  test("distributed prefix sum equals the single-window definition at sf0.01") {
    // pinned to 7 range partitions: AQE coalesces 500 rows to one
    // partition otherwise, and a single-partition run proves nothing
    // about the partition-offset arithmetic
    val out = TextOps.packSequencesOver(
      Tables.documents(spark, dir), seqLen = 512, numParts = 7)
    val got = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    var cum = 0L
    val want = corpus.filter(_._2 != null).sortBy(_._1).map { case (id, text) =>
      val n = text.split(" ", -1).length.toLong
      val row = (id, n, cum / 512, (cum + n - 1) / 512, cum % 512)
      cum += n
      row
    }
    assert(got.toSeq == want)
  }

  // --- split assignment + corpus mix --------------------------------------

  /** The engine's deterministic unit uniform, recomputed independently:
    * first 8 hex chars of md5("<doc_id>:<text>") over 2^32.
    */
  private def unitUniform(id: Long, text: String): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$id:${Option(text).getOrElse("")}".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(8), 16).toDouble / 4294967296.0
  }

  test("split assignment matches an independent md5 recompute at sf0.01") {
    val got = TextOps.splitAssign(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val want = corpus.map { case (id, text) =>
      val u = unitUniform(id, text)
      id -> (if (u < 0.98) "train" else if (u < 0.99) "val" else "test")
    }.toMap
    assert(got == want)
    // all three splits must be non-empty for the test to mean anything
    assert(got.values.toSet == Set("train", "val", "test"))
  }

  test("corpus mix matches a full independent recompute of every gate") {
    val got = TextOps.corpusMix(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .filter(_._3 != null)
    // gate 1: exact-dedup canonical (min doc_id per text)
    val keep = docs.groupBy(_._3).values.map(_.map(_._1).min).toSet
    // gate 2: eval slice + gram-overlap contamination
    def gramsOf(text: String): Set[String] =
      text.split(" ", -1).sliding(3).filter(_.size == 3)
        .map(_.mkString(" ")).toSet
    val evalGrams = docs.filter(_._1 % 97 == 0).flatMap(d => gramsOf(d._3)).toSet
    val contaminated = docs.filter(_._1 % 97 != 0)
      .filter(d => gramsOf(d._3).count(evalGrams.contains) >= 3).map(_._1).toSet
    // gate 3: repetition (top token <= 1/5 of tokens)
    def repOk(text: String): Boolean = {
      val toks = text.split(" ", -1)
      toks.groupBy(identity).values.map(_.length).max * 5 <= toks.length
    }
    val clean = docs.filter { case (id, _, text) =>
      id % 97 != 0 && keep(id) && !contaminated(id) && repOk(text)
    }
    // gate 4: temperature-0.5 resample over the survivors
    val strata = clean.groupBy(_._2).view.mapValues(_.size).toMap
    val want = clean.filter { case (id, lang, text) =>
      unitUniform(id, text) < math.min(1.0, 3.0 / math.sqrt(strata(lang).toDouble))
    }.map(d => (d._1, d._2)).sortBy(_._1)
    assert(got.toSeq == want.toSeq)
    assert(want.nonEmpty && want.size < docs.length) // the gates actually cut
  }

  // --- tokenizer merge scan -----------------------------------------------

  test("merge pairs: hand-computed fixture") {
    val docs = Seq(
      (1L, "a b a b"), // pairs: "a b"×2, "b a"×1
      (2L, "a b c")    // pairs: "a b", "b c"
    ).toDF("doc_id", "text")
    val out = TextOps.mergePairsOver(docs, k = 2).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(("a b", 3L), ("b a", 1L)))
  }

  test("merge pairs match exhaustive ground truth; top-k never globally sorts") {
    val df = TextOps.mergePairs(spark, dir)
    val got = df.collect().map(r => (r.getString(0), r.getLong(1)))
    val want = corpus.filter(_._2 != null)
      .flatMap(d => d._2.split(" ", -1).sliding(2).filter(_.size == 2)
        .map(_.mkString(" ")))
      .groupBy(identity).map { case (p, xs) => (p, xs.size.toLong) }
      .toSeq.sortBy { case (p, n) => (-n, p) }.take(10)
    assert(got.toSeq == want)
    // distributed top-k: per-partition heaps, not a global sort exchange
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  // --- vocabulary head ----------------------------------------------------

  test("vocab head: hand-computed fixture with ties broken by term") {
    val docs = Seq(
      (1L, "en", "b a a"), // df: a=1, b=1 within doc (distinct)
      (2L, "en", "a c"),
      (3L, "fr", "z z")
    ).toDF("doc_id", "lang", "text")
    val out = TextOps.vocabDocFreqOver(docs, k = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
    // en: a df=2 first; b/c tie at df=1 → 'b' wins lexicographically
    assert(out.toSeq == Seq(("en", 1L, "a", 2L), ("en", 2L, "b", 1L),
      ("fr", 1L, "z", 1L)))
  }

  test("vocab head matches exhaustive document-frequency ground truth at sf0.01") {
    val got = TextOps.vocabDocFreq(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val docs = Tables.documents(spark, dir).select("doc_id", "lang", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val want = docs.filter(_._3 != null)
      .flatMap { case (_, lang, text) =>
        text.split(" ", -1).distinct.map(t => (lang, t))
      }
      .groupBy(identity).map { case ((lang, t), xs) => (lang, t, xs.length.toLong) }
      .groupBy(_._1).toSeq.flatMap { case (lang, terms) =>
        terms.toSeq.sortBy { case (_, t, df) => (-df, t) }.take(10).zipWithIndex
          .map { case ((_, t, df), i) => (lang, (i + 1).toLong, t, df) }
      }.sortBy(r => (r._1, r._2))
    assert(got.toSeq == want)
  }

  // --- quality-aware dedup survivor ---------------------------------------

  test("quality survivor keeps the longest copy, not the first id") {
    // docs 10/20/30 share one token SET (J=1 cluster) with different raw
    // lengths — the longest (20) must survive over the min id (10);
    // ties (40/50) break on the smaller id; 60 is a singleton; 70 null
    val docs = Seq(
      (10L, "a b c"), (20L, "a b c a b c a"), (30L, "c b a"),
      (40L, "x y z w"), (50L, "w z y x"),
      (60L, "solo doc here words"), (70L, null: String))
      .toDF("doc_id", "text")
    val pairs = Seq((10L, 20L), (10L, 30L), (40L, 50L)).toDF("doc_a", "doc_b")
    val got = TextOps.qualitySurvivorOver(docs, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val expect = Seq(
      (10L, 20L, false), (20L, 20L, true), (30L, 20L, false),
      (40L, 40L, true), (50L, 40L, false),
      (60L, 60L, true), (70L, 70L, true))
    assert(got === expect)
  }
}
