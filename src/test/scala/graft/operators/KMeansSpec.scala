package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.{Tables, TestSpark}

/** Distributed Lloyd's k-means (exact quantized-integer fit): argmin
  * property against independently recomputed integer distances,
  * monotone inertia across iteration budgets, deterministic assignment
  * across runs, bounded cluster ids, and a centroid hash pin guarding
  * the iteration between oracle runs.
  */
class KMeansSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** The operator's own quantization: trunc(x·1e7) per dim. */
  private def vecs(): Map[Long, Array[Long]] =
    Tables.embeddings(spark, dir).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).toArray.map(x => (x.toDouble * 1.0e7).toLong))
      .toMap

  private def sqDist(v: Array[Long], c: Seq[Long]): Long = {
    var s = 0L; var i = 0
    while (i < v.length) { val d = v(i) - c(i); s += d * d; i += 1 }
    s
  }

  test("assignment is the argmin over the fitted centroids") {
    val (cents, out) = VectorOps.kmeansFit(spark, dir, k = 6, iters = 3)
    val vs = vecs()
    val rows = out.collect()
    assert(rows.length === vs.size)
    rows.foreach { r =>
      val (id, cl, dist) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val ds = cents.zipWithIndex.map { case (c, cid) => (sqDist(vs(id), c), cid) }
      val (bd, bc) = ds.min
      assert(cl === bc.toLong, s"vec $id cluster")
      assert(dist === bd, s"vec $id dist $dist vs $bd (must be EXACT)")
    }
    assert(rows.map(_.getLong(1)).distinct.forall(c => c >= 0 && c < 6))
  }

  test("inertia is non-increasing in the iteration budget") {
    val inertias = Seq(1, 2, 4).map { it =>
      val (_, out) = VectorOps.kmeansFit(spark, dir, k = 6, iters = it)
      out.collect().map(r => BigInt(r.getLong(2))).sum
    }
    inertias.sliding(2).foreach { case Seq(a, b) =>
      // integer-rounded centroids can shift inertia by the rounding
      // residual; allow the quantization-scale slack (1e-7 units)
      assert(b <= a + BigInt(1000000L), s"inertia rose: $inertias")
    }
  }

  test("two runs produce identical assignments") {
    def run() = VectorOps.kmeansAssign(spark, dir, k = 5, iters = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(run() === run())
  }

  test("fitted centroids hash-pin on a fixed synthetic corpus") {
    // the synthetic corpus is a pure function of the id (SynthVectors'
    // deterministic generator), so the full fit — md5-60bit init, three
    // Lloyd rounds in exact int64, floor-div rounding — must reproduce
    // these exact centroids on any run; a drifting hash means the
    // ITERATION changed, which would silently break the unrolled-CTE
    // DuckDB oracle's equivalence with the operator
    import spark.implicits._
    val emb = spark.range(0, 300).map(i => graft.SynthVectors.synthVec(i))
      .toDF("vec_id", "embedding", "label")
    val (cents, out) = VectorOps.kmeansFitOver(emb, k = 4, iters = 3,
      "spec-kmeans-pin")
    assert(out.collect().length === 300)
    val canon = cents.map(_.mkString(",")).mkString(";")
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // PINNED: computed from the r9 exact-integer implementation; see
    // kmeansFitOver's docstring for the oracle-equivalence role
    assert(md5 === "165ed091de05ac9f49b44c42df9dd631",
      s"centroid hash drifted: $md5\n$canon")
  }

  test("PQ codebooks hash-pin on a fixed synthetic corpus") {
    // the multi-subspace fit (VectorOps.pqFitQ) shares the exact-int64
    // discipline: md5-60bit seed slicing, integer argmin per subspace,
    // floor-div rounding — the pin guards the ITERATION between oracle
    // runs exactly like the coarse-fit pin above (a drift would break
    // q_ann_pq_exactsig's unrolled-CTE oracle equivalence)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val emb = spark.range(0, 300).map(i => graft.SynthVectors.synthVec(i))
      .toDF("vec_id", "embedding", "label")
    // the operator's OWN quantization expression — the pin must guard
    // the production unit, not a hand-inlined copy that could drift
    graft.functions.VectorFunctions.ensureRegistered(spark)
    val embq = emb.select(col("vec_id"),
      VectorOps.quantizeExpr(col("embedding")).as("xq"))
    val cents = VectorOps.pqFitQ(embq, subs = 8, subDim = 8,
      codes = 16, iters = 3, gen = "spec-pqfit-pin")
    assert(cents.length === 8)
    assert(cents.forall(cb => cb.length === 16 && cb.forall(_.length == 8)))
    val canon = cents.map(_.map(_.mkString(",")).mkString("|")).mkString(";")
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(md5 === "dd69fa8aa1f5e6cdf904e86913ba2f18",
      s"PQ codebook hash drifted: $md5\n$canon")
  }
}
