package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Randomized equivalence: the AllPairs prefix-filtered jaccardPairs
  * engine must emit EXACTLY the naive all-pairs result — same pairs, same
  * jaccard doubles — on seeded random corpora dense with identical sets,
  * near-misses and threshold-boundary pairs, for both tokenizers and both
  * thresholds. This is the guardrail that makes prefix-bound arithmetic
  * (floor((1-t)|d|)+1, size-compatibility windows) safe to touch.
  */
class JaccardPropertySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def corpus(seed: Long): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = (0 until 8).map(i => s"t$i")
    val base = (1L to 24L).map { id =>
      val len = 4 + rnd.nextInt(10)
      id -> Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    // exact copies (intra path: identical sets) + single-token edits
    // (inter path: pairs hovering at the threshold)
    val copies = base.take(4).map { case (id, t) => (id + 100, t) }
    val edits = base.slice(4, 10).map { case (id, t) =>
      (id + 200, t.split(" ").toSeq.updated(0, "t0").mkString(" "))
    }
    base ++ copies ++ edits
  }

  private def naive(docs: Seq[(Long, String)], threshold: Double,
      shingleN: Option[Int]): Set[(Long, Long, Double)] = {
    def setOf(text: String): Set[Seq[String]] = {
      val toks = text.split(" ").toSeq
      shingleN match {
        case None => toks.map(Seq(_)).toSet
        case Some(n) =>
          if (toks.size >= n) toks.sliding(n).toSet else Set(toks)
      }
    }
    val sets = docs.map { case (id, t) => id -> setOf(t) }
    (for {
      (a, sa) <- sets; (b, sb) <- sets
      if a < b
      common = sa.intersect(sb).size
      j = common.toDouble / (sa.size + sb.size - common)
      if j >= threshold
    } yield (a, b, j)).toSet
  }

  private def engine(docs: Seq[(Long, String)], threshold: Double,
      shingleN: Option[Int]): Set[(Long, Long, Double)] = {
    val df = docs.toDF("doc_id", "text")
    val sets = shingleN match {
      // the production kernels (r17): docHashSets' setOf contract is a
      // SORTED distinct set (sortedIntersectCount needs sorted inputs)
      case None => TextOps.docHashSets(df,
        t => graft.functions.VectorFunctions.hashSetSorted(split(t, " ")))
      case Some(n) => TextOps.docHashSets(df,
        t => graft.functions.VectorFunctions.shingleSetSorted(
          split(t, " "), lit(n)))
    }
    TextOps.jaccardPairs(spark, sets, threshold)
      .as[(Long, Long, Double)].collect().toSet
  }

  for {
    seed <- Seq(7L, 42L)
    (label, shingleN, threshold) <- Seq(
      ("unigram t=0.95", None, 0.95),
      ("unigram t=0.8", None, 0.8),
      ("3-gram t=0.8", Some(3), 0.8))
  } test(s"prefix-filtered == naive all-pairs ($label, seed=$seed)") {
    val docs = corpus(seed)
    val got = engine(docs, threshold, shingleN)
    val want = naive(docs, threshold, shingleN)
    assert(got == want,
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  /** Naive cross-corpus pairs: a from A, b from B, J >= t (no ordering). */
  private def naiveCross(as: Seq[(Long, String)], bs: Seq[(Long, String)],
      threshold: Double): Set[(Long, Long, Double)] = {
    def setOf(t: String): Set[String] = t.split(" ").toSet
    (for {
      (a, sa0) <- as.map { case (id, t) => id -> setOf(t) }
      (b, sb0) <- bs.map { case (id, t) => id -> setOf(t) }
      common = sa0.intersect(sb0).size
      j = common.toDouble / (sa0.size + sb0.size - common)
      if j >= threshold
    } yield (a, b, j)).toSet
  }

  for (seed <- Seq(11L, 23L); threshold <- Seq(0.95, 0.8))
  test(s"cross-corpus prefix-filtered == naive (t=$threshold, seed=$seed)") {
    val all = corpus(seed)
    // split into "new batch" and "existing corpus" — copies/edits land on
    // both sides so identical-set and near-miss cross pairs both occur
    val (as, bs) = all.partition(_._1 % 3 == 0)
    def sets(docs: Seq[(Long, String)]) = TextOps.docHashSets(
      docs.toDF("doc_id", "text"),
      t => graft.functions.VectorFunctions.hashSetSorted(split(t, " ")))
    val got = TextOps.crossJaccardPairs(spark, sets(as), sets(bs), threshold)
      .as[(Long, Long, Double)].collect().toSet
    val want = naiveCross(as, bs, threshold)
    assert(got == want,
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  /** Naive ordered-pair containment: C(A→B) = |A∩B|/|A| over distinct
    * token sets, both directions, a ≠ b.
    */
  private def naiveContainment(docs: Seq[(Long, String)],
      threshold: Double): Set[(Long, Long, Double)] = {
    val sets = docs.map { case (id, t) => id -> t.split(" ").toSet }
    (for {
      (a, sa) <- sets; (b, sb) <- sets
      if a != b
      common = sa.intersect(sb).size
      c = common.toDouble / sa.size
      if c >= threshold
    } yield (a, b, c)).toSet
  }

  /** Containment corpora add the asymmetric shape jaccard misses: short
    * excerpts fully embedded in long containers (tiny J, containment 1)
    * and threshold-edge subsets.
    */
  private def containCorpus(seed: Long): Seq[(Long, String)] = {
    val base = corpus(seed)
    val excerpts = base.take(6).map { case (id, t) =>
      val toks = t.split(" ").toSeq.distinct
      (id + 300, toks.take(math.max(2, toks.size / 3)).mkString(" "))
    }
    // near-containment: an excerpt plus one token the container lacks
    val nearMiss = base.slice(6, 10).map { case (id, t) =>
      (id + 400, (t.split(" ").toSeq.distinct.take(5) :+ "zz9").mkString(" "))
    }
    base ++ excerpts ++ nearMiss ++ Seq((999L, (0 until 8).map(i => s"t$i").mkString(" ")))
  }

  for (seed <- Seq(5L, 31L); threshold <- Seq(0.9, 0.75))
  test(s"containment prefix-filtered == naive ordered pairs (t=$threshold, seed=$seed)") {
    val docs = containCorpus(seed)
    val sets = TextOps.docHashSets(docs.toDF("doc_id", "text"),
      t => graft.functions.VectorFunctions.hashSetSorted(split(t, " ")))
    val got = TextOps.containmentPairs(spark, sets, threshold)
      .as[(Long, Long, Double)].collect().toSet
    val want = naiveContainment(docs, threshold)
    assert(got == want,
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }
}
