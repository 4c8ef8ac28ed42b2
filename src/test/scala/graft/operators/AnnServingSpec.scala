package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** The maintained ANN serving-state artifacts (r14): the IVF/PQ
  * assignment tables and the float LSH bucket lists every ANN search
  * reads must equal the direct full recompute while being the product
  * of the prefix+append+compact maintenance chain, survive replayed
  * appends by value, refuse a regenerated codebook (the cascade rule),
  * and refuse crashed-swap residue until maintenance heals it.
  */
class AnnServingSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  graft.functions.VectorFunctions.ensureRegistered(spark)

  /** Private dataset copy: same bytes, different fingerprint root, so
    * the session-shared artifacts are never clobbered under other
    * suites.
    */
  private val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-annserv-ds").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/embeddings.parquet"),
      java.nio.file.Paths.get(s"$d/embeddings.parquet")): Unit
    d
  }

  private def emb = graft.Tables.embeddings(spark, dir)

  test("ensureIvf: the maintained prefix+append+compact table equals " +
      "the direct full assignment row set, and is idempotent") {
    val root = AnnServing.ensureIvf(spark, dir)
    val model = VectorOps.ivfModelFp(spark, dir)
    val got = AnnServing.load(spark, root, AnnServing.Ivf, model)
      .select("nid", "cid", "label").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val want = VectorOps.ivfAssignedRows(spark, dir, emb)
      .select("nid", "cid", "label").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(got.nonEmpty && got === want)
    assert(AnnServing.ensureIvf(spark, dir) == root)
    // the chain really compacted: one file per populated list dir
    assert(AnnServing.segments(root) == 1)
  }

  test("ensurePq: stored codes equal the direct full encode") {
    val root = AnnServing.ensurePq(spark, dir)
    val model = VectorOps.pqModelFp(spark, dir)
    val got = AnnServing.load(spark, root, AnnServing.Pq, model)
      .select("nid", "cid", "codes").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSet
    val want = VectorOps.pqAssignedRows(spark, dir, emb)
      .select("nid", "cid", "codes").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSet
    assert(got.nonEmpty && got === want)
    // the chain really compacted: one file per populated list dir
    assert(AnnServing.segments(root) == 1)
  }

  test("appends are replay-idempotent by value; list-local compaction " +
      "preserves the set while restoring file economy") {
    val root = java.nio.file.Files.createTempDirectory("graft-annserv-rep").toString
    val model = VectorOps.ivfModelFp(spark, dir)
    val prefix = VectorOps.ivfAssignedRows(spark, dir,
      emb.filter(col("vec_id") % 3 =!= 0))
    val rest = VectorOps.ivfAssignedRows(spark, dir,
      emb.filter(col("vec_id") % 3 === 0))
    AnnServing.buildInto(root, prefix, AnnServing.Ivf, model)
    AnnServing.appendTo(root, rest, AnnServing.Ivf, model)
    def served(): Set[(Long, Int)] =
      AnnServing.load(spark, root, AnnServing.Ivf, model)
        .select("nid", "cid").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    val full = VectorOps.ivfAssignedRows(spark, dir, emb)
      .select("nid", "cid").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(served() === full)
    // a re-delivered slice adds rows, never changes the served set
    spark.catalog.refreshByPath(AnnServing.assignDir(root))
    AnnServing.appendTo(root, rest, AnnServing.Ivf, model)
    spark.catalog.refreshByPath(AnnServing.assignDir(root))
    assert(served() === full)
    assert(AnnServing.segments(root) > 1)
    AnnServing.compactLists(root, spark, AnnServing.Ivf, model)
    spark.catalog.refreshByPath(AnnServing.assignDir(root))
    assert(AnnServing.segments(root) == 1)
    assert(served() === full)
  }

  test("a regenerated codebook CASCADES: serving and appends refuse the " +
      "stale table loudly, and ensure rebuilds it under the new model") {
    val root = AnnServing.ensureIvf(spark, dir)
    val live = VectorOps.ivfModelFp(spark, dir)
    // simulate a codebook refit: the artifact's recorded model no
    // longer matches what the current code assigns with
    val meta = new java.io.File(s"${AnnServing.assignDir(root)}/_meta")
    java.nio.file.Files.write(meta.toPath,
      s"family=${AnnServing.Ivf.name}\nmodel=refit-0000\n".getBytes())
    val e = intercept[IllegalArgumentException] {
      AnnServing.load(spark, root, AnnServing.Ivf, live)
    }
    assert(e.getMessage.contains("cascade"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      AnnServing.appendTo(root, VectorOps.ivfAssignedRows(spark, dir,
        emb.limit(1)), AnnServing.Ivf, live)
    }
    assert(e2.getMessage.contains("cascade"), e2.getMessage)
    // the ensure completeness predicate sees the drift and rebuilds
    assert(AnnServing.ensureIvf(spark, dir) == root)
    spark.catalog.refreshByPath(AnnServing.assignDir(root))
    assert(AnnServing.load(spark, root, AnnServing.Ivf, live).count() > 0)
  }

  test("serving refuses crashed list-swap residue loudly; recover heals") {
    val root = java.nio.file.Files.createTempDirectory("graft-annserv-res").toString
    val model = VectorOps.ivfModelFp(spark, dir)
    AnnServing.buildInto(root,
      VectorOps.ivfAssignedRows(spark, dir, emb), AnnServing.Ivf, model)
    val ad = new java.io.File(AnnServing.assignDir(root))
    val cidDir = ad.listFiles().filter(_.getName.startsWith("cid=")).head
    val aside = new java.io.File(ad, s"${cidDir.getName}.old-deadbeef")
    assert(cidDir.renameTo(aside))
    val e = intercept[IllegalArgumentException] {
      AnnServing.load(spark, root, AnnServing.Ivf, model)
    }
    assert(e.getMessage.contains("residue"), e.getMessage)
    AnnServing.recover(root)
    spark.catalog.refreshByPath(AnnServing.assignDir(root))
    assert(AnnServing.load(spark, root, AnnServing.Ivf, model).count() > 0)
  }

  test("the float LSH serving table reads from the maintained artifact " +
      "and equals the direct one-shot index build entry-for-entry") {
    val (idx, bits) = VectorOps.cachedLshIndex(spark, dir, maxBucket = 100000)
    val direct = VectorOps.lshIndexProbe(emb, maxBucket = 100000, bits = bits)
    def keyset(df: org.apache.spark.sql.DataFrame): Set[(Int, Long, Long)] =
      df.select(col("t"), col("bucket").cast("long"), col("nid"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(keyset(idx).nonEmpty && keyset(idx) === keyset(direct))
    // and the artifact's meta carries the live plane-table fingerprint
    // (the float model identity a plane regeneration would move)
    val root = VectorIndex.floatPath(dir, bits, 100000)
    assert(VectorIndex.modelOf(root)
      .contains(VectorOps.lshPlanesFingerprint))
  }
}
