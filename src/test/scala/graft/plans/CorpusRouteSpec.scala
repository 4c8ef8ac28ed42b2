package graft.plans

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{Tables, TestSpark}
import graft.operators.TextOps

/** Corpus-stats routing: per-language/source document aggregates over a
  * registered documents table transparently scan its maintained rollup,
  * bit-identically (integer re-aggregation is exact); non-re-aggregable
  * shapes stay on the raw scan.
  */
class CorpusRouteSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  // a private copy of the documents table + its rollup (registering the
  // shared testdata path would leak routing into other suites)
  private lazy val (base, rawPath, rollupPath): (String, String, String) = {
    val b = Files.createTempDirectory("graft_corpus_route").toString
    Tables.documents(spark, "/root/testdata/sf0.001")
      .write.parquet(s"$b/documents.parquet")
    CorpusRoute.rollupOf(spark.read.parquet(s"$b/documents.parquet"))
      .write.parquet(s"$b/rollup")
    (b, s"$b/documents.parquet", s"$b/rollup")
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private def scansRollup(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.exists(_.toString.contains(rollupPath))
          case _ => false
        }
    }.exists(identity)

  private def withRoute[A](f: => A): A = {
    CorpusRoute.enable(spark)
    CorpusRoute.register(spark, rawPath, rollupPath)
    try f finally CorpusRoute.deregister(spark, rawPath)
  }

  test("the shared engagement check and enable: a deregistered route " +
      "fails loudly naming its rollup, and enable installs each route once") {
    CorpusRoute.enable(spark)
    CorpusRoute.deregister(spark, rawPath)
    val e = intercept[IllegalArgumentException] {
      CorpusRoute.requireEngaged(TextOps.textStats(spark, base), rollupPath)
    }
    assert(e.getMessage.contains(rollupPath), e.getMessage)
    val routes: Seq[RollupRoute[_]] =
      Seq(LtsRoute, CorpusRoute, KmvRoute, QuantileRoute)
    for (r <- routes) {
      r.enable(spark)
      r.enable(spark)
      assert(spark.experimental.extraOptimizations.count(_ eq r) == 1,
        r.ruleName)
    }
  }

  test("the engine's own textStats query routes to the rollup, bit-identical") {
    def q = TextOps.textStats(spark, base)
    val baseline = rows(q) // route not registered yet
    withRoute {
      assert(scansRollup(q), q.queryExecution.optimizedPlan.toString)
      assert(rows(q) == baseline)
    }
  }

  test("coarser grains re-aggregate: per-(lang, source), and the global row") {
    def fine = spark.read.parquet(rawPath).groupBy("lang", "source")
      .agg(count(lit(1)).as("n"), count(col("text")).as("nt"),
        sum(col("n_chars")).as("sc"))
    def global = spark.read.parquet(rawPath)
      .agg(count(lit(1)).as("n"),
        sum(size(split(col("text"), " ")).cast("long")).as("tok"))
    val (fineBase, globalBase) = (rows(fine), rows(global))
    withRoute {
      assert(scansRollup(fine))
      assert(rows(fine) == fineBase)
      assert(scansRollup(global))
      assert(rows(global) == globalBase)
    }
  }

  test("non-re-aggregable shapes stay on the raw scan") {
    // the dedup fingerprint distinct-count cannot come from the rollup
    def q = spark.read.parquet(rawPath).groupBy("lang")
      .agg(countDistinct(md5(col("text"))).as("d"))
    val baseline = rows(q)
    withRoute {
      assert(!scansRollup(q))
      assert(rows(q) == baseline)
    }
  }

  test("nondeterministic groupings stay on the raw scan") {
    // rand() draws once per input row; routed to the rollup it would
    // draw over ~#langs×#sources rollup rows instead of the corpus,
    // splitting counts wildly differently — the rewrite must refuse
    def q = spark.read.parquet(rawPath)
      .groupBy((rand(42) * 2).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n"))
    withRoute {
      assert(!scansRollup(q))
      // both buckets populated at corpus granularity: 500 docs split
      // ~half/half, impossible off the handful of rollup rows
      val n = q.collect().map(_.getLong(1)).sorted
      assert(n.sum == 500 && n.forall(_ > 100), n.toSeq.toString)
    }
  }

  test("downstream operators stay bound across the rewrite") {
    def q = spark.read.parquet(rawPath).groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("lang")).limit(3)
    val baseline = q.collect().map(_.toString).toSeq
    withRoute {
      assert(scansRollup(q))
      assert(q.collect().map(_.toString).toSeq == baseline)
    }
  }

  test("avg / min / max re-aggregate through the rollup, identically") {
    def q = spark.read.parquet(rawPath).groupBy("lang")
      .agg(
        avg(col("n_chars")).as("avg_chars"),
        avg(size(split(col("text"), " ")).cast("long")).as("avg_tokens"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        min(size(split(col("text"), " ")).cast("long")).as("min_tokens"),
        max(size(split(col("text"), " ")).cast("long")).as("max_tokens"))
    val baseline = rows(q)
    withRoute {
      assert(scansRollup(q), q.queryExecution.optimizedPlan.toString)
      assert(rows(q) == baseline)
    }
    // global (ungrouped) avg re-aggregates too
    def g = spark.read.parquet(rawPath).agg(avg(col("n_chars")).as("a"),
      max(col("n_chars")).as("mx"))
    val gBase = rows(g)
    withRoute {
      assert(scansRollup(g))
      assert(rows(g) == gBase)
    }
  }

  test("incremental upsert preserves NULL-lang history (null-safe membership)") {
    val b = Files.createTempDirectory("graft_route_nulllang").toString
    import spark.implicits._
    // day 0: two null-lang docs + one 'en' doc; rollup built from them
    val day0 = Seq((1L, "alpha beta", null: String, "src0", 10L),
      (2L, "gamma delta", null: String, "src0", 11L),
      (3L, "epsilon", "en", "src0", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    day0.write.parquet(s"$b/documents.parquet")
    CorpusRoute.rollupOf(spark.read.parquet(s"$b/documents.parquet"))
      .write.partitionBy("lang").parquet(s"$b/rollup")
    // day 1: another null-lang doc arrives; isin(null) would read ZERO
    // existing null-lang rows and dynamic overwrite would then replace
    // the null partition with delta-only counts
    val batch = Seq((4L, "zeta eta", null: String, "src0", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    batch.write.mode("append").parquet(s"$b/documents.parquet")
    CorpusRoute.upsertRollup(spark, s"$b/rollup", batch)
    val now = spark.read.parquet(s"$b/documents.parquet")
    val cols = Seq("lang", "source", "n_docs", "sum_chars", "sum_tokens")
    // fold the appended segments back to one row per group before
    // comparing (the routed read re-aggregates its partials anyway)
    assert(rows(CorpusRoute.remerge(spark.read.parquet(s"$b/rollup"))
        .select(cols.map(col): _*))
      == rows(CorpusRoute.rollupOf(now).select(cols.map(col): _*)))
    val nullRow = spark.read.parquet(s"$b/rollup")
      .filter(col("lang").isNull).select("n_docs").collect()
    assert(nullRow.map(_.getLong(0)).sum == 3L, "null-lang history lost")
  }

  test("a crashed swap of a DOTTED lang partition heals at the next " +
      "upsert entry — mid-swap aside + orphan stage tree, no group's " +
      "partials lost or double-kept") {
    val b = Files.createTempDirectory("graft_route_dotheal").toString
    import spark.implicits._
    // pt.BR: the partition VALUE contains a dot — the r14-ADVICE case
    // the suffix-stripping heal exists for
    val day0 = Seq((1L, "alpha beta", "pt.BR", "src0", 10L),
      (2L, "gamma", "en", "src0", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    day0.write.parquet(s"$b/documents.parquet")
    CorpusRoute.rollupOf(spark.read.parquet(s"$b/documents.parquet"))
      .write.partitionBy("lang").parquet(s"$b/rollup")
    val root = new java.io.File(s"$b/rollup")
    val langDir = new java.io.File(root, "lang=pt.BR")
    assert(langDir.isDirectory)
    val aside = new java.io.File(root, "lang=pt.BR.old-deadbeef")
    assert(langDir.renameTo(aside))
    assert(new java.io.File(root, ".tmp-stage-deadbeef").mkdirs())
    val batch = Seq((3L, "delta epsilon zeta", "pt.BR", "src0", 18L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    batch.write.mode("append").parquet(s"$b/documents.parquet")
    CorpusRoute.upsertRollup(spark, s"$b/rollup", batch)
    assert(!aside.exists(), "crashed dotted-lang aside not healed")
    assert(!new java.io.File(root, ".tmp-stage-deadbeef").exists(),
      "orphan stage tree not swept")
    val now = spark.read.parquet(s"$b/documents.parquet")
    val cols = Seq("lang", "source", "n_docs", "sum_chars", "sum_tokens",
      "min_chars", "max_chars")
    assert(rows(CorpusRoute.remerge(spark.read.parquet(s"$b/rollup"))
        .select(cols.map(col): _*))
      == rows(CorpusRoute.rollupOf(now).select(cols.map(col): _*)),
      "healed rollup must hold exactly the pre-crash + batch partials")
  }

  test("untagged upserts past the segment bound compact their lang dir " +
      "instead of refusing") {
    import spark.implicits._
    def docs(texts: String*) =
      texts.map(t => ("en", "web", t, t.length.toLong))
        .toDF("lang", "source", "text", "n_chars")
    val roll = Files.createTempDirectory("graft_route_untagged").toString +
      "/rollup"
    CorpusRoute.rollupOf(docs("a b")).write.partitionBy("lang").parquet(roll)
    // the second upsert finds two segments past the bound of one and
    // compacts inside its own unique-owner lease
    CorpusRoute.upsertRollup(spark, roll, docs("c d e"), maxSegments = 1)
    CorpusRoute.upsertRollup(spark, roll, docs("f"), maxSegments = 1)
    assert(rows(CorpusRoute.remerge(spark.read.parquet(roll))) ==
      rows(CorpusRoute.rollupOf(docs("a b", "c d e", "f"))))
  }

  test("incremental upsert: batch langs' partitions gain a segment, others untouched, routed results track") {
    val b = Files.createTempDirectory("graft_route_upsert").toString
    val all = Tables.documents(spark, "/root/testdata/sf0.001")
    val langs = all.select("lang").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    assert(langs.size >= 2, s"need >=2 langs, got $langs")
    val batchLang = langs.head
    val isBatch = col("lang") === batchLang && col("doc_id") % 2 === 0
    // day 0: everything except the batch slice; rollup built from it
    all.filter(!isBatch).write.parquet(s"$b/documents.parquet")
    CorpusRoute.rollupOf(spark.read.parquet(s"$b/documents.parquet"))
      .write.partitionBy("lang").parquet(s"$b/rollup")
    def partFiles(lang: String): Set[String] = {
      val d = new java.io.File(s"$b/rollup/lang=$lang")
      if (!d.exists()) Set.empty
      else d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    }
    val beforeOther = langs.tail.map(l => l -> partFiles(l)).toMap
    // day 1: the batch appends to the raw table and upserts the rollup
    val batch = all.filter(isBatch)
    assert(batch.count() > 0)
    batch.write.mode("append").parquet(s"$b/documents.parquet")
    CorpusRoute.upsertRollup(spark, s"$b/rollup", batch)
    // partition grain: only the batch lang's dir changed (one appended
    // segment file; the original file is untouched — no live state is
    // ever deleted on this path)
    langs.tail.foreach { l =>
      assert(partFiles(l) == beforeOther(l), s"lang=$l partition rewritten")
    }
    assert(partFiles(batchLang).nonEmpty)
    // the maintained rollup re-folds to rollupOf(raw-now): exact
    // re-aggregation over the appended partials
    val now = spark.read.parquet(s"$b/documents.parquet")
    assert(rows(CorpusRoute.remerge(spark.read.parquet(s"$b/rollup"))
        .select("lang", "source", "n_docs", "n_text", "n_nchars", "sum_chars",
          "sum_tokens", "min_chars", "max_chars", "min_tokens", "max_tokens"))
      == rows(CorpusRoute.rollupOf(now)
        .select("lang", "source", "n_docs", "n_text", "n_nchars", "sum_chars",
          "sum_tokens", "min_chars", "max_chars", "min_tokens", "max_tokens")))
    // and a routed query over the appended raw table serves from it
    def q = spark.read.parquet(s"$b/documents.parquet").groupBy("lang")
      .agg(count(lit(1)).as("n"), avg(col("n_chars")).as("a"),
        max(col("n_chars")).as("mx"))
    val baseline = rows(q)
    CorpusRoute.enable(spark)
    CorpusRoute.register(spark, s"$b/documents.parquet", s"$b/rollup")
    try {
      val routed = spark.read.parquet(s"$b/documents.parquet").groupBy("lang")
        .agg(count(lit(1)).as("n"), avg(col("n_chars")).as("a"),
          max(col("n_chars")).as("mx"))
      assert(routed.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.exists(_.toString.contains(s"$b/rollup"))
            case _ => false
          }
      }.exists(identity))
      assert(rows(routed) == baseline)
    } finally CorpusRoute.deregister(spark, s"$b/documents.parquet")
  }
}
