package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The maintained perceptual-hash artifact (r13): built through the real
  * prefix+append+compact chain, its hash set must equal the per-query
  * recompute's exactly — which is what lets the q_image_neardup_indexed /
  * q_audio_neardup_indexed driver rows stand as standing consistency
  * proofs for the maintained path (the q_bm25_indexed role for media).
  * Also pins the crash-residue refusal, the replay-by-value idempotence,
  * shard-local compaction's set preservation, and the pipeline-family
  * gates.
  */
class MediaHashIndexSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** Private dataset copy: same bytes, different fingerprint root, so
    * the session-shared artifacts are never clobbered under other suites.
    */
  private val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-mediahash-ds").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/documents.parquet"),
      java.nio.file.Paths.get(s"$d/documents.parquet")): Unit
    d
  }

  private def artifactSet(root: String): Set[(Long, Long)] =
    spark.read.parquet(MediaHashIndex.hashesDir(root))
      .select("media_id", "h").distinct()
      .as[(Long, Long)].collect().toSet

  test("ensure: the prefix+append+compact maintained artifact equals the " +
      "full recompute's hash set for both modalities, and is idempotent") {
    for ((modality, recompute) <- Seq(
        MediaHashIndex.Image -> MultimodalOps.imageHashes(spark, dir),
        MediaHashIndex.Audio -> MultimodalOps.audioHashes(spark, dir))) {
      val root = MediaHashIndex.ensure(spark, dir, modality)
      // ran the full chain: compact left exactly one segment per shard
      assert(MediaHashIndex.segments(root) == 1)
      assert(MediaHashIndex.metaOf(root).contains((modality.family, 16)))
      val want = recompute.as[(Long, Long)].collect().toSet
      assert(want.nonEmpty, s"${modality.name}: recompute produced no hashes")
      assert(artifactSet(root) === want, modality.name)
      // both prefix and appended-remainder docs contributed hashes (the
      // append was real work, not a vacuous empty slice)
      val prefixIds = want.map(_._1).filter(_ % 5 != 1)
      assert(prefixIds.nonEmpty && prefixIds.size < want.size,
        s"${modality.name}: maintenance proof vacuous")
      // idempotent: a second ensure serves the committed artifact untouched
      assert(MediaHashIndex.ensure(spark, dir, modality) == root)
    }
  }

  test("indexed near-dup reports equal the per-query recompute twins " +
      "pair-for-pair on the full corpus") {
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.select("doc_a", "doc_b", "hamming")
        .as[(Long, Long, Long)].collect().toSet
    val imgIdx = pairs(MediaHashIndex.imageNearDupIndexed(spark, dir))
    val imgRaw = pairs(MultimodalOps.imageNearDup(spark, dir))
    assert(imgRaw.nonEmpty, "image recompute found no pairs; pin vacuous")
    assert(imgIdx === imgRaw)
    val audIdx = pairs(MediaHashIndex.audioNearDupIndexed(spark, dir))
    val audRaw = pairs(MultimodalOps.audioNearDup(spark, dir))
    assert(audRaw.nonEmpty, "audio recompute found no pairs; pin vacuous")
    assert(audIdx === audRaw)
  }

  test("appends are replay-idempotent by value and shard-local compaction " +
      "preserves the set while restoring file economy") {
    val fam = MediaHashIndex.Image.family
    val root = java.nio.file.Files.createTempDirectory("graft-mh-replay").toString
    val base = Seq((1L, 100L), (2L, 200L), (3L, 300L)).toDF("media_id", "h")
    val slice = Seq((4L, 400L), (5L, 500L)).toDF("media_id", "h")
    MediaHashIndex.buildInto(root, base, fam, shards = 4)
    MediaHashIndex.appendTo(root, slice, fam)
    // an at-least-once replay re-delivers the same slice
    MediaHashIndex.appendTo(root, slice, fam)
    val want = Set((1L, 100L), (2L, 200L), (3L, 300L), (4L, 400L), (5L, 500L))
    assert(MediaHashIndex.load(spark, root, fam)
      .as[(Long, Long)].collect().toSet === want)
    // the touched shard(s) hold the two appends' files (plus the base
    // file when the slice lands in a populated shard)
    assert(MediaHashIndex.segments(root) >= 2)
    MediaHashIndex.compactShards(root, spark, fam)
    spark.catalog.refreshByPath(MediaHashIndex.hashesDir(root))
    assert(MediaHashIndex.segments(root) == 1)
    assert(MediaHashIndex.load(spark, root, fam)
      .as[(Long, Long)].collect().toSet === want)
  }

  test("serving refuses crashed shard-swap residue loudly; recover heals it") {
    val fam = MediaHashIndex.Audio.family
    val root = java.nio.file.Files.createTempDirectory("graft-mh-residue").toString
    MediaHashIndex.buildInto(root,
      Seq((1L, 10L), (2L, 20L)).toDF("media_id", "h"), fam, shards = 2)
    // plant the exact residue a compactShards crash between the
    // aside-rename and the swap-in leaves: shard dir missing, aside live
    val hd = new java.io.File(MediaHashIndex.hashesDir(root))
    val shard = hd.listFiles().filter(_.getName.startsWith("shard=")).head
    val aside = new java.io.File(hd, s"${shard.getName}.old-deadbeef")
    assert(shard.renameTo(aside))
    val e = intercept[IllegalArgumentException] {
      MediaHashIndex.load(spark, root, fam)
    }
    assert(e.getMessage.contains("residue"), e.getMessage)
    // maintenance heals: the missing-dir/aside pair renames back
    MediaHashIndex.recover(root)
    spark.catalog.refreshByPath(MediaHashIndex.hashesDir(root))
    assert(MediaHashIndex.load(spark, root, fam)
      .as[(Long, Long)].collect().toSet === Set((1L, 10L), (2L, 20L)))
  }

  test("the pipeline-family gate refuses cross-family appends, serving, " +
      "and rebuilds — drifted hash pipelines pair to garbage") {
    val root = java.nio.file.Files.createTempDirectory("graft-mh-family").toString
    val rows = Seq((1L, 10L)).toDF("media_id", "h")
    MediaHashIndex.buildInto(root, rows, MediaHashIndex.Image.family)
    for (bad <- Seq(
        intercept[IllegalArgumentException](MediaHashIndex.appendTo(
          root, rows, MediaHashIndex.Audio.family)),
        intercept[IllegalArgumentException](MediaHashIndex.load(
          spark, root, MediaHashIndex.Audio.family)),
        intercept[IllegalArgumentException](MediaHashIndex.buildInto(
          root, rows, MediaHashIndex.Audio.family))))
      assert(bad.getMessage.contains("family"), bad.getMessage)
  }

  test("the r14 family bump cascades for real: a v2 (PNG-chain) artifact " +
      "refuses a LITERAL v1 (BMP-chain) append, and a stranded v1 " +
      "artifact refuses v2 serving — the refusal is live code, not " +
      "theory") {
    val v1 = "dhash64-bmp-tile64-v1" // the retired family, verbatim
    assert(MediaHashIndex.Image.family == "dhash64-png-tile64-v2",
      "this test pins the v1->v2 bump; update it WITH the family")
    val rows = Seq((1L, 10L)).toDF("media_id", "h")
    // a current-family artifact refuses an old-pipeline append — a
    // maintainer running old code against a rebuilt index fails loudly
    val root = java.nio.file.Files.createTempDirectory("graft-mh-v2").toString
    MediaHashIndex.buildInto(root, rows, MediaHashIndex.Image.family)
    val e1 = intercept[IllegalArgumentException] {
      MediaHashIndex.appendTo(root, rows, v1)
    }
    assert(e1.getMessage.contains("family"), e1.getMessage)
    // a pre-bump artifact on disk refuses current serving (ensure's
    // completeness predicate then rebuilds it — the cascade)
    val old = java.nio.file.Files.createTempDirectory("graft-mh-v1").toString
    MediaHashIndex.buildInto(old, rows, v1)
    val e2 = intercept[IllegalArgumentException] {
      MediaHashIndex.load(spark, old, MediaHashIndex.Image.family)
    }
    assert(e2.getMessage.contains("family"), e2.getMessage)
    assert(!MediaHashIndex.metaOf(old).exists(_._1 == MediaHashIndex.Image.family))
  }
}
