package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Randomized equivalence for the corpus-construction family: generated
  * corpora (including empty texts, runs of spaces → empty tokens, and
  * single-token docs) must agree exactly with naive driver-side
  * recomputes of each definition. This is the guard on the row-wise
  * formulations (sort+fold mode, bindOnce gram builders, distributed
  * prefix sum): any boundary slip in the array arithmetic shows up here
  * before it shows up at corpus scale.
  */
class CorpusPropertySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def randCorpus(seed: Long, nDocs: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector("a", "b", "ab", "ba", "xyz", "q", "")
    (0 until nDocs).map { i =>
      val text =
        if (rnd.nextDouble() < 0.05) "" // empty text → one empty token
        else (0 until (1 + rnd.nextInt(30)))
          .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      (i.toLong, text)
    }
  }

  test("repetition signals equal the naive definition on random corpora") {
    for (seed <- 1L to 3L) {
      val docs = randCorpus(seed, 150)
      val got = TextOps.repetitionOver(docs.toDF("doc_id", "text")).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        .toMap
      val want = docs.map { case (id, text) =>
        val toks = text.split(" ", -1).toSeq
        val bgs = toks.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
        id -> ((toks.size.toLong, toks.distinct.size.toLong,
          toks.groupBy(identity).values.map(_.size).max.toLong,
          if (bgs.isEmpty) 0L else bgs.groupBy(identity).values.map(_.size).max.toLong))
      }.toMap
      assert(got == want, s"seed=$seed")
    }
  }

  test("chunk dedup equals the naive definition on random corpora") {
    for (seed <- 4L to 6L) {
      val docs = randCorpus(seed, 150)
      val got = TextOps.chunkDedupOver(docs.toDF("doc_id", "text"), chunkTokens = 4)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val chunked = docs.map { case (id, text) =>
        id -> text.split(" ", -1).grouped(4).map(_.mkString(" ")).toSet
      }
      val firstOwner = chunked.flatMap { case (id, cs) => cs.map(_ -> id) }
        .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).min }
      val want = chunked.map { case (id, cs) =>
        id -> ((cs.size.toLong, cs.count(c => firstOwner(c) < id).toLong))
      }.toMap
      assert(got == want, s"seed=$seed")
    }
  }

  test("sequence packing equals the naive running count on random corpora") {
    for (seed <- 7L to 9L) {
      val docs = randCorpus(seed, 150)
      val got = TextOps.packSequencesOver(docs.toDF("doc_id", "text"),
        seqLen = 16, numParts = 5).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .sortBy(_._1)
      var cum = 0L
      val want = docs.sortBy(_._1).map { case (id, text) =>
        val n = text.split(" ", -1).length.toLong
        val row = (id, n, cum / 16, (cum + n - 1) / 16, cum % 16)
        cum += n
        row
      }
      assert(got.toSeq == want, s"seed=$seed")
    }
  }

  test("merge pairs equal the naive definition on random corpora") {
    for (seed <- 10L to 12L) {
      val docs = randCorpus(seed, 150)
      val got = TextOps.mergePairsOver(docs.toDF("doc_id", "text"), k = 8)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val want = docs
        .flatMap(d => d._2.split(" ", -1).sliding(2).filter(_.size == 2)
          .map(_.mkString(" ")))
        .groupBy(identity).map { case (p, xs) => (p, xs.size.toLong) }
        .toSeq.sortBy { case (p, n) => (-n, p) }.take(8)
      assert(got.toSeq == want, s"seed=$seed")
    }
  }

  test("lm score and tfidf equal the naive definitions on random corpora") {
    for (seed <- 13L to 15L) {
      val rnd = new scala.util.Random(seed)
      val docs = randCorpus(seed, 120).map { case (id, text) =>
        // sprinkle null text — both operators must drop those rows
        (id, if (rnd.nextDouble() < 0.05) null else text)
      }
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_prop$seed").toString
      docs.map { case (id, t) => (id, t, "en", "t", 0L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val live = docs.filter(_._2 != null)
        .map { case (id, t) => id -> t.split(" ", -1).toSeq }
      val cnt = live.flatMap(_._2).groupBy(identity)
        .map { case (t, xs) => t -> xs.size.toLong }
      val total = cnt.values.sum
      // lm: mirror the exact division order ((sum_tf / n) / T)
      val wantLm = live.map { case (id, toks) =>
        val tf = toks.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
        val sumTf = tf.map { case (t, f) => BigInt(f) * BigInt(cnt(t)) }.sum
        id -> ((toks.size.toLong, sumTf.toDouble,
          (sumTf.toDouble / toks.size.toDouble) / total.toDouble))
      }.toMap
      val gotLm = TextOps.lmScore(spark, tmp).collect().map(r =>
        r.getLong(0) -> ((r.getLong(1),
          r.getAs[Double]("sum_tf"),
          r.getDouble(3)))).toMap
      assert(gotLm == wantLm, s"seed=$seed lm")
      // tfidf: rank by (tf·N/df desc, term asc), take 3 per doc
      val df = live.flatMap { case (_, toks) => toks.distinct }
        .groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
      val nDocs = live.size.toLong
      val wantTf = live.flatMap { case (id, toks) =>
        toks.groupBy(identity).toSeq
          .map { case (t, xs) =>
            (t, xs.size.toLong, df(t), (xs.size.toLong * nDocs).toDouble / df(t).toDouble)
          }
          .sortBy { case (t, _, _, s) => (-s, t) }.take(3).zipWithIndex
          .map { case ((t, tf0, d0, s), i) => (id, i + 1L, t, tf0, d0, s) }
      }.toSet
      val gotTf = TextOps.tfidfTerms(spark, tmp).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
          r.getLong(4), r.getDouble(5))).toSet
      assert(gotTf == wantTf, s"seed=$seed tfidf")
      // corpus stats: the en row must match a naive full recompute
      // raw-text md5 — the contentFingerprint exact-dedup semantics
      // (NOT the normalized `fingerprint` query's digest)
      val fps = docs.filter(_._2 != null).map { case (_, t) =>
        java.security.MessageDigest.getInstance("MD5")
          .digest(t.getBytes("UTF-8")).toSeq
      }
      val wantStats = (docs.size.toLong, live.size.toLong,
        live.map(_._2.size.toLong).sum,
        live.size.toLong - fps.distinct.size.toLong)
      val row = TextOps.corpusStats(spark, tmp).collect().head
      val gotStats = (row.getAs[Long]("n_docs"), row.getAs[Long]("n_text"),
        row.getAs[Long]("total_tokens"), row.getAs[Long]("n_dupes"))
      assert(gotStats == wantStats, s"seed=$seed stats")
    }
  }

  test("iterated BPE merges equal a naive single-node trainer on random corpora") {
    def applyMerge(toks: Vector[String], l: String, r: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < toks.size) {
        if (i + 1 < toks.size && toks(i) == l && toks(i + 1) == r) {
          out += (l + " " + r); i += 2
        } else { out += toks(i); i += 1 }
      }
      out.result()
    }
    for (seed <- 16L to 18L) {
      val docs = randCorpus(seed, 120)
      val got = TextOps.bpeMergesOver(spark, docs.toDF("doc_id", "text"), k = 6)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
      // bpeToks semantics: empty tokens are not symbols
      var seqs = docs.map(_._2.split(" ", -1).toVector.filterNot(_.isEmpty))
        .filter(_.size >= 2)
      val want = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
      var r = 1
      var done = false
      while (r <= 6 && !done) {
        val counts = seqs
          .flatMap(s => s.sliding(2).filter(_.size == 2).map(p => (p(0), p(1))))
          .groupBy(identity).map { case (p, xs) => (p, xs.size.toLong) }
        if (counts.isEmpty) done = true
        else {
          val ((p1, p2), n) =
            counts.toSeq.sortBy { case ((a, b), c) => (-c, a, b) }.head
          want += ((r.toLong, p1, p2, n))
          seqs = seqs.map(applyMerge(_, p1, p2))
          r += 1
        }
      }
      assert(got == want.toSeq, s"seed=$seed")
    }
  }

  test("BPE merges stop early when no pairs remain") {
    val docs = Seq((1L, "x y")).toDF("doc_id", "text")
    val got = TextOps.bpeMergesOver(spark, docs, k = 5).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, "x", "y", 1L)))
  }

  test("BPE token counts equal sequential rule application on random corpora") {
    def applyMerge(toks: Vector[String], l: String, r: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < toks.size) {
        if (i + 1 < toks.size && toks(i) == l && toks(i + 1) == r) {
          out += (l + " " + r); i += 2
        } else { out += toks(i); i += 1 }
      }
      out.result()
    }
    for (seed <- 21L to 22L) {
      val docs = randCorpus(seed, 100)
      val df = docs.toDF("doc_id", "text")
      val rules = TextOps.bpeMergesOver(spark, df, k = 5).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      val got = TextOps.bpeTokenCountsOver(spark, df, rules).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      val want = docs.flatMap { case (id, text) =>
        // bpeToks semantics: empty tokens are not symbols, and a doc
        // with no symbols is outside the tokenizer's corpus
        val ws = text.split(" ", -1).toVector.filterNot(_.isEmpty)
        if (ws.isEmpty) None
        else {
          val bpe = rules.foldLeft(ws) { case (t, (_, p1, p2, _)) => applyMerge(t, p1, p2) }
          Some((id, ws.size.toLong, bpe.size.toLong, ws.size.toDouble / bpe.size.toDouble))
        }
      }.sortBy(_._1)
      assert(got == want, s"seed=$seed")
    }
  }

  /** Naive coverage-set formulation of the span family — deliberately NOT
    * the engine's interval-merge: mark every position covered by a
    * qualifying window directly, then read components off the set. The
    * merged spans' covered union and component count must agree.
    */
  private def coveredStats(covered: Set[Int]): (Long, Long) =
    if (covered.isEmpty) (0L, 0L)
    else {
      val nSpans = covered.count(p => !covered.contains(p - 1)).toLong
      (nSpans, covered.size.toLong)
    }

  test("duplicated spans equal the naive coverage-set definition") {
    val w = 3
    for (seed <- 31L to 33L) {
      val rnd = new scala.util.Random(seed)
      // tiny vocab + within-doc repetition so w-grams collide heavily
      val vocab = Vector("a", "b", "c")
      val docs = (0 until 120).map { i =>
        val toks = (0 until rnd.nextInt(25)).map(_ => vocab(rnd.nextInt(3)))
        val rep = if (rnd.nextBoolean()) toks ++ toks.take(rnd.nextInt(6)) else toks
        // sprinkle empties: the family must drop them pre-windowing
        (i.toLong, rep.mkString(" ") + (if (rnd.nextBoolean()) "  " else ""))
      }
      val toks = docs.map { case (id, t) =>
        id -> t.split(" ", -1).toVector.filterNot(_.isEmpty)
      }
      val occ = toks.flatMap { case (id, tk) =>
        (1 to tk.size - w + 1).map(i => (id, i, tk.slice(i - 1, i - 1 + w).mkString(" ")))
      }
      val cnt = occ.groupBy(_._3).map { case (g, xs) => g -> xs.size }
      val flaggedByDoc = occ.filter(o => cnt(o._3) >= 2).groupBy(_._1)
      val want = toks.map { case (id, tk) =>
        val covered = flaggedByDoc.getOrElse(id, Nil)
          .flatMap(o => o._2 until o._2 + w).toSet
        val (ns, dt) = coveredStats(covered)
        (id, tk.size.toLong, ns, dt)
      }.sortBy(_._1)
      val got = TextOps.dupSpansOver(docs.toDF("doc_id", "text"), w).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(got == want, s"seed=$seed")
      assert(want.exists(_._3 > 0), s"seed=$seed generated no duplicated spans")
    }
  }

  test("span scrub equals the naive keep-first coverage definition") {
    val w = 3
    for (seed <- 34L to 36L) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("x", "y", "z")
      val docs = (0 until 120).map { i =>
        val toks = (0 until rnd.nextInt(25)).map(_ => vocab(rnd.nextInt(3)))
        val rep = if (rnd.nextBoolean()) toks ++ toks.take(rnd.nextInt(6)) else toks
        (i.toLong, rep.mkString(" ") + (if (rnd.nextBoolean()) " " else ""))
      }
      val toks = docs.map { case (id, t) =>
        id -> t.split(" ", -1).toVector.filterNot(_.isEmpty)
      }
      val occ = toks.flatMap { case (id, tk) =>
        (1 to tk.size - w + 1).map(i => (id, i, tk.slice(i - 1, i - 1 + w).mkString(" ")))
      }
      val byGram = occ.groupBy(_._3)
      // keep-first: occurrences after the (doc_id, i)-minimal one scrub
      val scrubbed = byGram.valuesIterator.filter(_.size >= 2)
        .flatMap(xs => xs.sortBy(o => (o._1, o._2)).drop(1)).toSeq
      val covByDoc = scrubbed.groupBy(_._1)
      val want = toks.map { case (id, tk) =>
        val covered = covByDoc.getOrElse(id, Nil)
          .flatMap(o => o._2 until o._2 + w).toSet
        val kept = tk.zipWithIndex.collect {
          case (t, i0) if !covered.contains(i0 + 1) => t
        }
        (id, tk.size.toLong, covered.size.toLong, kept.mkString(" "))
      }.sortBy(_._1)
      val got = TextOps.spanScrubOver(docs.toDF("doc_id", "text"), w).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
      assert(got == want, s"seed=$seed")
      assert(want.exists(_._3 > 0), s"seed=$seed generated nothing to scrub")
    }
  }

  test("contamination spans equal the naive coverage-set definition") {
    val w = 3
    for (seed <- 37L to 39L) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("p", "q", "r")
      // ids 0..119 → eval slice = {0, 97} under the % 97 convention
      val docs = (0 until 120).map { i =>
        val toks = (0 until (w + rnd.nextInt(22))).map(_ => vocab(rnd.nextInt(3)))
        (i.toLong, toks.mkString(" ") + (if (rnd.nextBoolean()) " " else ""))
      }
      val toks = docs.map { case (id, t) =>
        id -> t.split(" ", -1).toVector.filterNot(_.isEmpty)
      }.toMap
      val evalGrams = toks.filter(_._1 % 97 == 0).values.flatMap(tk =>
        (1 to tk.size - w + 1).map(i => tk.slice(i - 1, i - 1 + w).mkString(" "))).toSet
      val want = toks.filter(_._1 % 97 != 0).toSeq.sortBy(_._1).flatMap {
        case (id, tk) =>
          val covered = (1 to tk.size - w + 1)
            .filter(i => evalGrams.contains(tk.slice(i - 1, i - 1 + w).mkString(" ")))
            .flatMap(i => i until i + w).toSet
          val (ns, ct) = coveredStats(covered)
          if (ns == 0) None else Some((id, tk.size.toLong, ns, ct))
      }
      val got = TextOps.contamSpansOver(docs.toDF("doc_id", "text"), w).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(got == want, s"seed=$seed")
      assert(want.nonEmpty, s"seed=$seed generated no contamination")
    }
  }

  test("shuffle-sharding equals the naive md5-order prefix sum") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    for (seed <- 46L to 48L) {
      val docs = randCorpus(seed, 150)
      val got = TextOps.shardPackOver(docs.toDF("doc_id", "text"),
        shardTokens = 16, seed = 7, numParts = 5).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
      var cum = 0L
      val want = docs.map { case (id, text) =>
        (md5hex(s"$id:7"), id, text.split(" ", -1).length.toLong)
      }.sortBy(x => (x._1, x._2)).map { case (_, id, n) =>
        val row = (id, n, cum / 16, cum % 16)
        cum += n
        row
      }.sortBy(_._1)
      assert(got.toSeq == want, s"seed=$seed")
      // the seeded order must actually differ from doc_id order (the
      // whole point) — shard of the first doc ids shouldn't be all-0
      assert(got.map(_._3).distinct.size > 1, s"seed=$seed single shard")
    }
  }

  test("source overlap equals the naive chunk-set intersection") {
    for (seed <- 49L to 51L) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("m", "n", "o", "p")
      // short docs + chunk size 2 + tiny vocab → heavy cross-source sharing
      val docs = (0 until 120).map { i =>
        val text = (0 until (1 + rnd.nextInt(7)))
          .map(_ => vocab(rnd.nextInt(4))).mkString(" ")
        (i.toLong, text, s"s${rnd.nextInt(4)}")
      }
      val chunkSets = docs.groupBy(_._3).view.mapValues(_.flatMap { case (_, t, _) =>
        t.split(" ", -1).grouped(2).map(_.mkString(" "))
      }.toSet).toMap
      val srcs = chunkSets.keys.toSeq.sorted
      val want = (for {
        a <- srcs; b <- srcs if a < b
        shared = (chunkSets(a) intersect chunkSets(b)).size
        if shared > 0
      } yield (a, b, shared.toLong,
        shared.toDouble / (chunkSets(a).size + chunkSets(b).size - shared)))
        .sortBy(x => (x._1, x._2))
      val got = TextOps.sourceOverlapOver(
        docs.toDF("doc_id", "text", "source"), chunkTokens = 2).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSeq
      assert(got == want, s"seed=$seed")
      assert(want.nonEmpty, s"seed=$seed generated no overlap")
    }
  }

  test("nb quality classifier equals the naive train+score definition") {
    for (seed <- 43L to 45L) {
      val rnd = new scala.util.Random(seed)
      // two populations the gate separates: short/garbage docs (label 0)
      // and well-formed ones (label 1), with distinct-ish vocabularies so
      // the learned model is actually predictive, plus empty-token noise
      val docs = (0 until 150).map { i =>
        val good = rnd.nextBoolean()
        val text =
          if (good) (0 until 12 + rnd.nextInt(20))
            .map(_ => Vector("alpha", "beta", "gamma", "delta")(rnd.nextInt(4)))
            .mkString(" ")
          else (0 until rnd.nextInt(8))
            .map(_ => Vector("x", "y", "zz", "")(rnd.nextInt(4))).mkString(" ")
        (i.toLong, text)
      }
      val toks = docs.map { case (id, t) => id -> t.split(" ", -1).toVector }
      val lab = toks.map { case (id, tk) =>
        val n = tk.size.toLong
        val avg = tk.map(_.length).sum.toDouble / n
        id -> (if (n >= 10 && avg >= 3.0 && avg <= 15.0) 1L else 0L)
      }.toMap
      val tf = toks.flatMap { case (id, tk) =>
        tk.groupBy(identity).map { case (t, xs) => (id, t, xs.size.toLong) }
      }
      val cnt = tf.groupBy(_._2).map { case (t, xs) =>
        t -> (xs.filter(x => lab(x._1) == 1L).map(_._3).sum,
          xs.filter(x => lab(x._1) == 0L).map(_._3).sum)
      }
      val (tHi, tLo, v) = (cnt.values.map(_._1).sum, cnt.values.map(_._2).sum,
        cnt.size.toLong)
      val (n, nHi) = (toks.size.toLong, lab.values.count(_ == 1L).toLong)
      val want = toks.map { case (id, tk) =>
        val nt = tk.size.toLong
        val sHi = tk.groupBy(identity).map { case (t, xs) =>
          BigInt(xs.size) * BigInt(cnt(t)._1 + 1) }.sum
        val sLo = tk.groupBy(identity).map { case (t, xs) =>
          BigInt(xs.size) * BigInt(cnt(t)._2 + 1) }.sum
        val pHi = ((sHi.toDouble / nt.toDouble) / (tHi + v).toDouble) *
          (nHi.toDouble / n.toDouble)
        val pLo = ((sLo.toDouble / nt.toDouble) / (tLo + v).toDouble) *
          ((n - nHi).toDouble / n.toDouble)
        (id, lab(id), pHi, pLo, if (pHi > pLo) 1L else 0L)
      }.sortBy(_._1)
      val got = TextOps.nbQualityOver(docs.toDF("doc_id", "text")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
          r.getLong(4))).toSeq
      assert(got == want, s"seed=$seed")
      // the distilled model must actually predict its training labels on
      // separable data (not a fixed-output degenerate)
      val acc = want.count(x => x._2 == x._5).toDouble / want.size
      assert(acc >= 0.9, s"seed=$seed training accuracy $acc")
      assert(want.exists(_._2 == 0L) && want.exists(_._2 == 1L), s"seed=$seed")
    }
  }

  test("incremental spans equal the naive batch-vs-history definition") {
    val w = 3
    for (seed <- 40L to 42L) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("u", "v", "w")
      val docs = (0 until 120).map { i =>
        val toks = (0 until (w + rnd.nextInt(22))).map(_ => vocab(rnd.nextInt(3)))
        (i.toLong, toks.mkString(" ") + (if (rnd.nextBoolean()) " " else ""))
      }
      val toks = docs.map { case (id, t) =>
        id -> t.split(" ", -1).toVector.filterNot(_.isEmpty)
      }.toMap
      val existGrams = toks.filter(_._1 % 10 != 9).values.flatMap(tk =>
        (1 to tk.size - w + 1).map(i => tk.slice(i - 1, i - 1 + w).mkString(" "))).toSet
      val want = toks.filter(_._1 % 10 == 9).toSeq.sortBy(_._1).flatMap {
        case (id, tk) =>
          val covered = (1 to tk.size - w + 1)
            .filter(i => existGrams.contains(tk.slice(i - 1, i - 1 + w).mkString(" ")))
            .flatMap(i => i until i + w).toSet
          val (ns, dt) = coveredStats(covered)
          if (ns == 0) None else Some((id, tk.size.toLong, ns, dt))
      }
      val got = TextOps.incrSpansOver(docs.toDF("doc_id", "text"), w).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(got == want, s"seed=$seed")
      assert(want.nonEmpty, s"seed=$seed generated no history overlap")
    }
  }

  test("batched BPE training equals a naive single-node batched trainer; m=1 equals sequential") {
    def applyMerge(toks: Vector[String], l: String, r: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < toks.size) {
        if (i + 1 < toks.size && toks(i) == l && toks(i + 1) == r) {
          out += (l + " " + r); i += 2
        } else { out += toks(i); i += 1 }
      }
      out.result()
    }
    // the trainer's exact selection policy, single-node: per round, the
    // top-(4m) pool in (count desc, pair) order filtered to pairwise
    // symbol-disjoint rules (constituents AND merged symbol unused),
    // applied sequentially; counts recomputed from scratch each round
    // (the engine maintains them incrementally — same numbers)
    def naiveBatched(texts: Seq[Vector[String]], k: Int, m: Int)
        : Seq[(Long, String, String, Long)] = {
      var seqs = texts
      val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
      var done = false
      while (merges.size < k && !done) {
        val counts = seqs
          .flatMap(s => s.sliding(2).filter(_.size == 2).map(p => (p(0), p(1))))
          .groupBy(identity).map { case (p, xs) => (p, xs.size.toLong) }
        val pool = counts.toSeq.sortBy { case ((a, b), c) => (-c, a, b) }.take(4 * m)
        if (pool.isEmpty) done = true
        else {
          val used = scala.collection.mutable.Set.empty[String]
          val accepted = pool.iterator.filter { case ((a, b), _) =>
            val mg = a + " " + b
            val ok = !used(a) && !used(b) && !used(mg)
            if (ok) { used += a; used += b; used += mg }
            ok
          }.take(math.min(m, k - merges.size)).toSeq
          accepted.foreach { case ((a, b), n) =>
            merges += ((merges.size + 1L, a, b, n))
          }
          if (merges.size < k)
            seqs = seqs.map(s => accepted.foldLeft(s) {
              case (cur, ((a, b), _)) => applyMerge(cur, a, b)
            })
        }
      }
      merges.toSeq
    }
    var sawMultiMergeBatch = false
    for (seed <- 60L to 62L) {
      val docs = randCorpus(seed, 120)
      val texts = docs.map(_._2.split(" ", -1).toVector.filterNot(_.isEmpty))
        .filter(_.size >= 2)
      val df = docs.toDF("doc_id", "text")
      val gotBatched = TextOps.bpeMergesBatchedOver(spark, df, k = 12, m = 4)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
      val want = naiveBatched(texts, 12, 4)
      assert(gotBatched == want, s"seed=$seed")
      assert(gotBatched.size == 12, s"seed=$seed trained fewer than k rules")
      // rules 1 and 2 sharing a round means their counts BOTH come from
      // the round-start table — visible as non-increasing counts in
      // position order is not enough; compare against the m=1 run to
      // prove some corpus actually packed >1 merge per round
      if (want != naiveBatched(texts, 12, 1)) sawMultiMergeBatch = true
      // m=1 batched IS sequential BPE by construction
      val gotM1 = TextOps.bpeMergesBatchedOver(spark, df, k = 6, m = 1)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
      val gotSeq = TextOps.bpeMergesOver(spark, df, k = 6)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
      assert(gotM1 == gotSeq, s"seed=$seed")
    }
    assert(sawMultiMergeBatch,
      "no seed exercised a multi-merge batch — test corpus too conflicted")
  }

  test("mix gate semi-join fallback equals the literal path; the collect gate trips past budget") {
    for (seed <- 50L to 52L) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg")
      val docs = (0 until 200).map { i =>
        val text = (0 until (3 + rnd.nextInt(25)))
          .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
        (i.toLong, text, vocab(rnd.nextInt(3)), text.length.toLong)
      }
      val df = docs.toDF("doc_id", "text", "lang", "n_chars")
      // eval set: a handful of docs' text — small vocab guarantees real
      // gram overlap, so the contamination gate actually fires
      val evalDf = docs.take(5).map(_._2).toDF("text")
      val thresholds = Map("aa" -> 0.9, "bb" -> 0.7, "cc" -> 1.0)
      val literal = TextOps.mixGates(df,
        TextOps.evalGramHashesOf(evalDf), thresholds)
        .select("doc_id").as[Long].collect().toSet
      val joined = TextOps.mixGatesVsKeys(df,
        TextOps.evalGramKeysOf(evalDf), thresholds)
        .select("doc_id").as[Long].collect().toSet
      assert(literal == joined, s"seed=$seed")
      assert(literal.nonEmpty && literal.size < docs.size,
        s"seed=$seed gates vacuous: ${literal.size} of ${docs.size}")
      // some docs must be dropped by CONTAMINATION specifically (not just
      // repetition/temperature), or the membership-test equivalence is
      // untested: compare against the same gates with no eval set
      val noEval = TextOps.mixGates(df, Seq.empty, thresholds)
        .select("doc_id").as[Long].collect().toSet
      assert(literal != noEval, s"seed=$seed contamination gate never fired")
      // the driver-collect guard: counted BEFORE collecting, fails fast
      val e = intercept[IllegalArgumentException] {
        TextOps.evalGramHashesOf(evalDf, maxGrams = 1L)
      }
      assert(e.getMessage.contains("literal budget"))
    }
  }
}
