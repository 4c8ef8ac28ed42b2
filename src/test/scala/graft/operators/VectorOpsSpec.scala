package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** ANN quality: the index paths (IVF, LSH) measured against the exact
  * brute-force top-k ground truth — recall is the contract of an ANN
  * operator, not exact equality.
  */
class VectorOpsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.01"

  private def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.collect()
      .groupBy(_.getAs[Long]("qid"))
      .map { case (q, rows) => q -> rows.map(_.getAs[Long]("nid")).toSet }

  private lazy val exact = topSets(VectorOps.cosineTopK(spark, dir))

  test("IVF probes recover most of the exact top-10 (recall ≥ 0.6)") {
    val ivf = topSets(VectorOps.annIvf(spark, dir))
    val recalls = exact.map { case (q, truth) =>
      ivf.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    info(s"IVF mean recall $mean, per-query $recalls")
    assert(mean >= 0.6, s"mean IVF recall $mean, per-query $recalls")
  }

  test("IVF-PQ rerank recovers at least IVF-grade recall (≥ 0.6)") {
    val pq = topSets(VectorOps.annPq(spark, dir))
    val recalls = exact.map { case (q, truth) =>
      pq.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    info(s"IVF-PQ mean recall $mean, per-query $recalls")
    assert(mean >= 0.6, s"mean IVF-PQ recall $mean, per-query $recalls")
  }

  test("multi-probe LSH recovers the exact top-10 (recall ≥ 0.9)") {
    val lsh = topSets(VectorOps.annLsh(spark, dir))
    val recalls = exact.map { case (q, truth) =>
      lsh.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    info(s"LSH mean recall $mean, per-query $recalls")
    assert(mean >= 0.9, s"mean LSH recall $mean, per-query $recalls")
  }

  test("LSH index bounds every (table, bucket) population at maxBucket") {
    import org.apache.spark.sql.functions._
    graft.functions.VectorFunctions.ensureRegistered(spark)
    val emb = graft.Tables.embeddings(spark, dir)
      .withColumn("nrm", sqrt(graft.functions.VectorFunctions.dot(col("embedding"), col("embedding"))))
    val sizes = VectorOps.lshIndex(emb, maxBucket = 3)
      .groupBy("t", "bucket").count().agg(max("count")).collect().head.getLong(0)
    assert(sizes <= 3, s"bucket cap violated: max population $sizes")
  }

  test("tuned LSH at the production budget (0.6, the q_ann_lsh config) holds recall ≥ 0.9") {
    val tuned = topSets(VectorOps.annLshTuned(spark, dir, budget = 0.6))
    val recalls = exact.map { case (q, truth) =>
      tuned.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    info(s"tuned(0.6) mean recall $mean, per-query $recalls")
    assert(mean >= 0.9, s"tuned recall $mean, per-query $recalls")
  }

  test("LSH occupancy predictor tracks the measured unique-candidate fraction") {
    val occ = VectorOps.lshOccupancy(spark, dir)
    info(s"occupancy: $occ")
    assert(occ.n > 0 && occ.bucketsPerTable > 1)
    for ((pb, mf) <- Seq((5, 3), (2, 1))) {
      val p = VectorOps.probesPerTable(pb, mf)
      val pred = VectorOps.predictedCandidateFraction(occ, p)
      val meas = VectorOps.lshCandidates(spark, dir, pb, mf)
        .select("qi", "nid").distinct().count().toDouble / (5 * (occ.n - 1))
      info(f"net ($pb,$mf): probes/table $p, predicted $pred%.3f, measured $meas%.3f")
      assert(math.abs(pred - meas) <= 0.15,
        s"net ($pb,$mf): predicted $pred vs measured $meas")
    }
  }

  test("occupancy-tuned probe net respects the candidate budget, or floors honestly") {
    val occ = VectorOps.lshOccupancy(spark, dir)
    // generous budget: tuner must find a net that fits and use the headroom
    val (pb1, mf1) = VectorOps.tuneProbeNet(occ, budget = 0.9)
    val pred1 = VectorOps.predictedCandidateFraction(
      occ, VectorOps.probesPerTable(pb1, mf1))
    info(f"budget 0.9 → net ($pb1,$mf1), predicted $pred1%.3f")
    assert(pred1 <= 0.9)
    // impossible budget: floors at the narrowest net instead of refusing
    val (pb0, mf0) = VectorOps.tuneProbeNet(occ, budget = 0.01)
    assert((pb0, mf0) == (1, 1))
    // the tuned search stays a working ANN query end-to-end, and its
    // recall/cost position gets RECORDED (corpus-structural, see SCALE.md)
    val tuned = topSets(VectorOps.annLshTuned(spark, dir, budget = 0.9))
    val recalls = exact.map { case (q, truth) =>
      tuned.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    info(f"tuned(0.9) mean recall ${recalls.sum / recalls.size}%.2f")
    assert(recalls.sum / recalls.size >= 0.5)
  }

  test("every IVF/LSH result is a true neighbor score (exact cosine within bucket)") {
    // index paths never approximate the *score*, only the candidate set:
    // any (qid, nid) they return must carry the same cosine as brute force
    val bf = VectorOps.cosineTopK(spark, dir)
      .select("qid", "nid", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    Seq(VectorOps.annIvf(spark, dir), VectorOps.annLsh(spark, dir),
      VectorOps.annPq(spark, dir)).foreach { ann =>
      ann.select("qid", "nid", "cosine").collect().foreach { r =>
        val key = (r.getLong(0), r.getLong(1))
        bf.get(key).foreach(expected => assert(r.getDouble(2) == expected, key))
      }
    }
  }

  test("IVF exactsig twin: candidates confined to the probed lists, " +
      "scores are the exact cosine, ranked dense per query") {
    val (cents, assigned) = VectorOps.kmeansFit(spark, dir, 8, 5)
    val cluster = assigned.select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent driver-side probe derivation: quantize the query
    // vectors with the same truncation, integer-L2 them against the
    // FITTED centroids, take the 2 smallest by (dist, cid) — re-deriving
    // the plan's ranked-struct argmin in plain Scala
    val qvecs = graft.Tables.embeddings(spark, dir)
      .filter(org.apache.spark.sql.functions.col("vec_id") < 5)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).toArray.map(x => (x.toDouble * 1.0e7).toLong))
      .toMap
    val probeLists = qvecs.map { case (qid, xq) =>
      qid -> cents.zipWithIndex.map { case (c, cid) =>
        (xq.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, cid)
      }.sorted.take(2).map(_._2).toSet
    }
    val out = VectorOps.annIvfExactSig(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (qid, nid) = (r.getAs[Long]("qid"), r.getAs[Long]("nid"))
      assert(probeLists(qid).contains(cluster(nid).toInt),
        s"($qid, $nid) from unprobed list ${cluster(nid)}")
    }
    // the score contract of every exactsig/ANN row: the exact cosine
    val bfScores = VectorOps.cosineTopK(spark, dir)
      .select("qid", "nid", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    out.foreach { r =>
      val key = (r.getAs[Long]("qid"), r.getAs[Long]("nid"))
      bfScores.get(key).foreach(e => assert(r.getAs[Double]("cosine") == e, key))
    }
    // per-query ranks are dense 1..k and ordered by (cosine desc, nid)
    out.groupBy(_.getAs[Long]("qid")).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("rn"))
      assert(sorted.map(_.getAs[Long]("rn")).toSeq == (1L to sorted.size).toSeq, q)
      val keys = sorted.map(r => (-r.getAs[Double]("cosine"), r.getAs[Long]("nid"))).toSeq
      assert(keys == keys.sorted, s"ranking order broken for query $q")
    }
  }

  test("PQ exactsig twin: the whole compressed search replays driver-side " +
      "— codes, integer ADC pool, exact rerank") {
    val (subs, subDim, pool) = (8, 8, 32)
    val cents = VectorOps.pqFitQ(
      VectorOps.quantizedFor(spark, dir), subs, subDim, codes = 16, iters = 3,
      gen = s"pqfit:$dir:spec")
    // independent plain-Scala re-derivation of everything downstream of
    // the fit: quantize, encode (argmin by (dist, cid)), integer LUT
    // ADC, top-`pool` by (adc DESC, nid), exact rounded-cosine top-10
    val embsF = graft.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val vs = embsF.map { case (id, e) =>
      id -> e.map(x => (x.toDouble * 1.0e7).toLong)
    }
    def codeOf(v: Array[Long], s: Int): Int =
      cents(s).zipWithIndex.map { case (c, cid) =>
        var d = 0L; var i = 0
        while (i < subDim) {
          val t = v(s * subDim + i) - c(i); d += t * t; i += 1
        }
        (d, cid)
      }.min._2
    val codes = vs.map { case (id, v) =>
      id -> (0 until subs).map(codeOf(v, _))
    }
    def adc(q: Long, n: Long): Long =
      (0 until subs).map { s =>
        val c = cents(s)(codes(n)(s))
        var d = 0L; var i = 0
        while (i < subDim) { d += vs(q)(s * subDim + i) * c(i); i += 1 }
        d
      }.sum
    def dotD(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def cos(a: Long, b: Long): Double = {
      val (ea, eb) = (embsF(a), embsF(b))
      dotD(ea, eb) / (math.sqrt(dotD(ea, ea)) * math.sqrt(dotD(eb, eb)))
    }
    def round4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = vs.keys.filter(_ < 5).toSeq.sorted.flatMap { q =>
      val poolIds = vs.keys.filter(_ != q).toSeq
        .map(n => (-adc(q, n), n)).sorted.take(pool).map(_._2)
      poolIds.map(n => (n, round4(cos(q, n))))
        .sortBy { case (n, c) => (-c, n) }.take(10).zipWithIndex
        .map { case ((n, c), i) => (q, n, c, (i + 1).toLong) }
    }
    val got = VectorOps.annPqExactSig(spark, dir).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"),
        r.getAs[Double]("cosine"), r.getAs[Long]("rn"))).toSeq
    assert(got === expected)
  }

  test("hybrid dedup equals the ground-truth lexical ∩ semantic intersection") {
    val cosT = 0.2
    // lexical side: the oracle-verified exact jaccard pairs
    val lexical = graft.operators.TextOps
      .tokenJaccard(spark, dir) // public wrapper over tokenJaccardPairs
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // semantic side recomputed independently: ascending-index fold with
    // per-element double widening (the vec_dot contract)
    val embs = graft.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dotD(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def cos(a: Long, b: Long): Double = {
      val (ea, eb) = (embs(a), embs(b))
      dotD(ea, eb) / (math.sqrt(dotD(ea, ea)) * math.sqrt(dotD(eb, eb)))
    }
    val expected = lexical.filter { case (a, b) => cos(a, b) >= cosT }
    val got = VectorOps.hybridNearDup(spark, dir, cosT)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
    // the gate must be ACTIVE on this corpus: some pairs pass, some drop
    assert(expected.nonEmpty, "no pair survived — threshold too strict to test anything")
    assert(expected.size < lexical.size, "gate dropped nothing — threshold vacuous")
  }

  test("knn join finds planted high-cosine neighbors (recall >= 0.9) and ranks correctly") {
    // strong-neighbor corpus (the SynthVectors recipe): every 13th
    // vector is a noised copy of one of five bases — those planted pairs
    // sit at high cosine, the regime the kNN graph exists to catch
    val tmp = java.nio.file.Files.createTempDirectory("graft-knn").toString
    val n = 2000
    locally {
      import graft.TestSpark.spark.implicits._
      (0 until n).map(i => graft.SynthVectors.synthVec(i.toLong))
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    }
    val got = VectorOps.knnJoin(spark, tmp, k = 3).collect()
      .groupBy(_.getAs[Long]("vec_id"))
    // per-vector: at most k rows, ranks contiguous, cosine non-increasing
    got.foreach { case (v, rows) =>
      assert(rows.length <= 3)
      val byRk = rows.sortBy(_.getAs[Long]("rk"))
      assert(byRk.map(_.getAs[Long]("rk")).toSeq == (1L to rows.length).toSeq)
      val cs = byRk.map(_.getAs[Double]("cosine")).toSeq
      assert(cs == cs.sorted.reverse, s"vec $v not ranked by cosine: $cs")
    }
    // recall on the planted vectors: their true nearest neighbor
    // (driver-recomputed brute force) must appear in the top-3
    val vecs = (0 until n).map(i => graft.SynthVectors.synthVec(i.toLong))
      .map(v => v.vec_id -> v.embedding).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def d(x: Array[Float], y: Array[Float]) = {
        var s = 0.0; var i = 0
        while (i < x.length) { s += x(i).toDouble * y(i).toDouble; i += 1 }; s
      }
      d(a, b) / (math.sqrt(d(a, a)) * math.sqrt(d(b, b)))
    }
    val planted = (5 until n).filter(_ % 13 == 0).map(_.toLong)
    val hit = planted.count { p =>
      val truth = vecs.keys.filter(_ != p)
        .maxBy(o => cos(vecs(p), vecs(o)))
      got.get(p).exists(_.exists(_.getAs[Long]("nid") == truth))
    }
    val recall = hit.toDouble / planted.size
    assert(recall >= 0.9, s"planted-neighbor recall $recall (${planted.size} planted)")
  }

  test("embed prune keeps exactly the cluster canonicals; sizes partition the corpus") {
    val cl = VectorOps.embedClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = cl.groupBy(_._2).map { case (c, rows) => (c, rows.size.toLong) }
    val got = VectorOps.embedPrune(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got == expected)
    assert(got.values.sum == cl.length) // every vector in exactly one cluster
    assert(got.size < cl.length, "no cluster has >1 member — prune vacuous")
  }

  test("incremental embed dedup equals the naive new×existing recompute") {
    val cosT = 0.35
    val rows = graft.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    def dotD(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val (newB, existing) = rows.partition(_._1 % 10 == 9)
    val expected = (for {
      (na, ea, la) <- newB
      (nb, eb, lb) <- existing
      if la == lb
      cos = dotD(ea, eb) / (math.sqrt(dotD(ea, ea)) * math.sqrt(dotD(eb, eb)))
      if cos >= cosT
    } yield (na, nb)).toSet
    val got = VectorOps.incrEmbedDedup(spark, dir, cosT)
      .select("vec_new", "vec_corpus").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
    assert(expected.nonEmpty, "no cross-slice pair survived — test is vacuous")
  }
}
