package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Sketch-partial MV routing (r13): the per-day KMV rollup must serve
  * q_distinct_approx's exact answer (merge-closure, not approximation-
  * on-approximation), engage through both front doors, maintain
  * incrementally to the same states a rebuild produces, and leave every
  * non-matching aggregate shape untouched.
  */
class KmvRouteSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  graft.functions.VectorFunctions.ensureRegistered(spark)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString)

  private def scansRollup(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.exists(_.toString.contains("kmv_route"))
          case _ => false
        }
    }.exists(identity)

  test("routed q_distinct_approx reads the rollup (engagement required " +
      "in-query) and equals the raw recompute bit-for-bit") {
    val routed = graft.operators.EventOps.distinctApprox(spark, dir)
    val routedRows = rows(routed)
    // the raw recompute with the route DEREGISTERED (same path would
    // otherwise route too, and this pin would compare routed to routed)
    KmvRoute.deregister(spark, s"$dir/events.parquet")
    val rawRows = try {
      val raw = graft.Tables.events(spark, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(graft.functions.VectorFunctions.kmvCountDistinctExact(
          graft.operators.TextOps.h60(col("user_id").cast("string")), 64)
          .as("approx_users"))
        .orderBy("day")
      val scans = raw.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr
      }
      assert(scans.forall(!_.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
        .location.rootPaths.exists(_.toString.contains("kmv_route"))),
        "raw recompute unexpectedly routed")
      rows(raw)
    } finally KmvRoute.ensureArtifacts(spark, dir): Unit // re-register
    assert(routedRows.nonEmpty)
    assert(routedRows === rawRows)
    // the routed plan reads #days rows, not the corpus: its only scan
    // is the rollup relation
    val scans: Seq[org.apache.spark.sql.execution.datasources.LogicalRelation] =
      routed.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr
    }
    assert(scans.size == 1, routed.queryExecution.optimizedPlan.toString)
    assert(scans.head.relation.asInstanceOf[
        org.apache.spark.sql.execution.datasources.HadoopFsRelation]
      .location.rootPaths.exists(_.toString.contains("kmv_route")),
      routed.queryExecution.optimizedPlan.toString)
    // and the SQL twin routes to the same answer
    assert(rows(graft.SqlFrontDoor.sqlDistinctApprox(spark, dir))
      === rows(routed))
  }

  test("KmvMerge(per-slice KmvState partials) equals KmvAgg(raw rows) — " +
      "the merge-closure the route's exactness rests on") {
    import spark.implicits._
    val n = 5000
    val raw = (0 until n).map(i => (i % 7, s"user-${i % 911}"))
      .toDF("slice", "u")
      .withColumn("h", graft.operators.TextOps.h60(col("u")))
      .select("slice", "h")
    val direct = raw
      .agg(graft.functions.VectorFunctions.kmvCountDistinctExact(col("h"), 64))
      .head.getLong(0)
    val viaStates = raw.groupBy("slice")
      .agg(graft.functions.VectorFunctions.kmvStateExact(col("h"), 64)
        .as("state"))
      .agg(graft.functions.VectorFunctions.kmvMergeExact(col("state"), 64))
      .head.getLong(0)
    assert(direct == viaStates)
    // sanity: the estimate regime is exercised (more than k distinct)
    assert(direct > 64)
  }

  test("incremental rollup upsert converges to the full rebuild's states " +
      "— and is replay-idempotent (multiplicity-invariance)") {
    import spark.implicits._
    val ev = graft.Tables.events(spark, dir)
    val base = ev.filter(col("event_id") % 3 =!= 0)
    val delta = ev.filter(col("event_id") % 3 === 0)
    val roll = java.nio.file.Files.createTempDirectory("graft-kmvroll").toString
    KmvRoute.rollupOf(base, 64).coalesce(1)
      .write.mode("overwrite").partitionBy("day").parquet(roll)
    KmvRoute.upsertRollup(spark, roll, delta, 64)
    // the upsert appends segment states; the day's k-minima re-fold
    // (exactly what the routed read's KmvMergeAgg does) must equal the
    // full rebuild's
    def states(): Map[String, Seq[Long]] = {
      spark.catalog.refreshByPath(roll)
      spark.read.parquet(roll)
        .select(col("day"), explode(col("state")).as("h"))
        .groupBy("day")
        .agg(graft.functions.VectorFunctions.kmvStateExact(col("h"), 64)
          .as("state"))
        .select(col("day").cast("string"), col("state"))
        .as[(String, Seq[Long])].collect().toMap
    }
    val want = KmvRoute.rollupOf(ev, 64)
      .select(col("day").cast("string"), col("state"))
      .as[(String, Seq[Long])].collect().toMap
    assert(states() === want)
    // a re-delivered slice converges to the same states
    KmvRoute.upsertRollup(spark, roll, delta, 64)
    assert(states() === want)
    // and a LEDGERED re-delivery is skipped outright (marker), while a
    // marker-less retry overwrites its own tag — same states either way
    KmvRoute.upsertRollup(spark, roll, delta, 64, Some(("pipe", "b1")))
    assert(states() === want)
    KmvRoute.upsertRollup(spark, roll, delta, 64, Some(("pipe", "b1")))
    assert(states() === want)
  }

  test("a SEGMENTED rollup (blind streaming appends, pre-compaction) " +
      "routes and answers bit-identically — the KmvMergeAgg re-merge " +
      "folds extra state rows per day by merge-closure") {
    val k = 64
    val d = java.nio.file.Files.createTempDirectory("graft-kmvseg-ds").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      java.nio.file.Paths.get(s"$d/events.parquet")): Unit
    val ev = graft.Tables.events(spark, d)
    val roll = java.nio.file.Files
      .createTempDirectory("graft-kmvseg-roll").toString + "/rollup"
    KmvRoute.rollupOf(ev.filter(col("event_id") % 3 =!= 0), k).coalesce(1)
      .write.mode("overwrite").partitionBy("day").parquet(roll)
    // the blind append leaves a SECOND segment file in every touched
    // day dir — the state a continuously-maintained rollup serves from
    // between compactions
    KmvRoute.appendRollup(spark, roll,
      ev.filter(col("event_id") % 3 === 0), k)
    assert(KmvRoute.rollupSegments(roll) > 1)
    KmvRoute.enable(spark)
    KmvRoute.register(spark, s"$d/events.parquet", roll, k)
    try {
      def shape() = ev.groupBy(to_date(col("ts")).as("day"))
        .agg(graft.functions.VectorFunctions.kmvCountDistinctExact(
          graft.operators.TextOps.h60(col("user_id").cast("string")), k)
          .as("approx_users"))
        .orderBy("day")
      val routed = shape()
      assert(routed.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
          if lr.relation.asInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location.rootPaths.exists(_.toString.contains(roll)) => lr
      }.nonEmpty, routed.queryExecution.optimizedPlan.toString)
      val routedRows = rows(routed)
      // one ROW per day even with two segments per day dir — the
      // re-merge restores the inner aggregate's contract
      val routedCount = routed.count()
      KmvRoute.deregister(spark, s"$d/events.parquet")
      val raw = shape()
      assert(routedCount == raw.count())
      assert(routedRows === rows(raw))
    } finally KmvRoute.deregister(spark, s"$d/events.parquet")
  }

  test("non-matching shapes stay raw: a different hash, a different " +
      "grain, and extra measures are never routed") {
    KmvRoute.ensureArtifacts(spark, dir): Unit
    val ev = graft.Tables.events(spark, dir)
    // xxhash64 instead of h60 — different minima, must stay raw
    assert(!scansRollup(ev.groupBy(to_date(col("ts")).as("day"))
      .agg(graft.functions.VectorFunctions.kmvCountDistinctExact(
        abs(xxhash64(col("user_id"))), 64).as("u"))))
    // week grain — no stored partial at that grain
    assert(!scansRollup(ev.groupBy(date_trunc("week", col("ts")).as("wk"))
      .agg(graft.functions.VectorFunctions.kmvCountDistinctExact(
        graft.operators.TextOps.h60(col("user_id").cast("string")), 64).as("u"))))
    // an extra measure the rollup cannot answer
    assert(!scansRollup(ev.groupBy(to_date(col("ts")).as("day"))
      .agg(graft.functions.VectorFunctions.kmvCountDistinctExact(
        graft.operators.TextOps.h60(col("user_id").cast("string")), 64).as("u"),
        count(lit(1)).as("n"))))
  }

  test("a session with a DIFFERENT timezone than the rollup's build zone " +
      "is never routed — its to_date grain is a different grouping than " +
      "the stored day buckets") {
    KmvRoute.ensureArtifacts(spark, dir): Unit
    val zone0 = spark.conf.get("spark.sql.session.timeZone")
    val other = if (zone0 == "Pacific/Kiritimati") "America/Anchorage"
                else "Pacific/Kiritimati"
    // sanity: under the BUILD zone the shape routes
    assert(scansRollup(graft.Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(graft.functions.VectorFunctions.kmvCountDistinctExact(
        graft.operators.TextOps.h60(col("user_id").cast("string")), 64)
        .as("u"))))
    try {
      spark.conf.set("spark.sql.session.timeZone", other)
      val q = graft.Tables.events(spark, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(graft.functions.VectorFunctions.kmvCountDistinctExact(
          graft.operators.TextOps.h60(col("user_id").cast("string")), 64)
          .as("u"))
      assert(!scansRollup(q),
        "a foreign-zone session was routed to build-zone day buckets")
      assert(q.count() > 0) // the raw scan still answers
    } finally spark.conf.set("spark.sql.session.timeZone", zone0)
  }

  test("the WRITE path is zone-gated too: upsertRollup on an " +
      "ensure-built rollup refuses a foreign-zone maintainer session") {
    import spark.implicits._
    val roll = KmvRoute.ensureArtifacts(spark, dir)
    val zone0 = spark.conf.get("spark.sql.session.timeZone")
    val other = if (zone0 == "Pacific/Kiritimati") "America/Anchorage"
                else "Pacific/Kiritimati"
    val delta = Seq(("2024-01-03 10:00:00", "u1"))
      .toDF("ts0", "user_id")
      .select(col("ts0").cast("timestamp").as("ts"), col("user_id"))
    try {
      spark.conf.set("spark.sql.session.timeZone", other)
      val e = intercept[IllegalArgumentException] {
        KmvRoute.upsertRollup(spark, roll, delta, 64)
      }
      assert(e.getMessage.contains("zone"), e.getMessage)
    } finally spark.conf.set("spark.sql.session.timeZone", zone0)
  }

  test("a crashed swap heals at the next upsert entry: mid-swap aside " +
      "+ orphan stage tree, no day's minima lost or double-kept") {
    import spark.implicits._
    def evFrame(rows: Seq[(String, String)]) =
      rows.toDF("ts0", "user_id")
        .select(col("ts0").cast("timestamp").as("ts"), col("user_id"))
    val roll = java.nio.file.Files
      .createTempDirectory("graft-kmvheal").toString + "/rollup"
    val base = evFrame(Seq(
      ("2024-01-01 10:00:00", "a"), ("2024-01-02 10:00:00", "b")))
    KmvRoute.rollupOf(base, 64).coalesce(1)
      .write.partitionBy("day").parquet(roll)
    val root = new java.io.File(roll)
    val dayDir = root.listFiles()
      .filter(_.getName.startsWith("day=")).minBy(_.getName)
    val aside = new java.io.File(root, s"${dayDir.getName}.old-deadbeef")
    assert(dayDir.renameTo(aside))
    assert(new java.io.File(root, ".tmp-stage-deadbeef").mkdirs())
    val delta = evFrame(Seq(("2024-01-01 11:00:00", "c")))
    KmvRoute.upsertRollup(spark, roll, delta, 64)
    assert(!aside.exists(), "crashed aside not healed")
    assert(!new java.io.File(root, ".tmp-stage-deadbeef").exists(),
      "orphan stage tree not swept")
    spark.catalog.refreshByPath(roll)
    val got = spark.read.parquet(roll)
      .select(col("day"), explode(col("state")).as("h"))
      .groupBy("day")
      .agg(graft.functions.VectorFunctions.kmvStateExact(col("h"), 64)
        .as("state"))
      .select(col("day").cast("string"), col("state"))
      .as[(String, Seq[Long])].collect().toMap
    val want = KmvRoute.rollupOf(base.unionByName(delta), 64)
      .select(col("day").cast("string"), col("state"))
      .as[(String, Seq[Long])].collect().toMap
    assert(got === want,
      "healed rollup must hold exactly the pre-crash + delta minima")
  }

  test("upsertRollup preserves the existing NULL-day state — the " +
      "null partition's previously-folded hashes survive and re-fold " +
      "with the batch's") {
    import spark.implicits._
    def evFrame(rows: Seq[(Option[String], String)]) =
      rows.toDF("ts0", "user_id")
        .select(col("ts0").cast("timestamp").as("ts"), col("user_id"))
    val base = evFrame(Seq(
      (Some("2024-01-01 10:00:00"), "a"),
      (None, "x"), (None, "y")))
    val delta = evFrame(Seq(
      (None, "z"), (Some("2024-01-01 11:00:00"), "b")))
    val roll = java.nio.file.Files.createTempDirectory("graft-kmvnull").toString
    KmvRoute.rollupOf(base, 64).coalesce(1)
      .write.mode("overwrite").partitionBy("day").parquet(roll)
    KmvRoute.upsertRollup(spark, roll, delta, 64)
    spark.catalog.refreshByPath(roll)
    def key(df: org.apache.spark.sql.DataFrame): Map[String, Set[Long]] =
      df.select(col("day").cast("string"), col("state"))
        .as[(Option[String], Seq[Long])].collect()
        .map { case (d, s) => d.getOrElse("<null>") -> s.toSet }.toMap
    // fold the appended segments back to one state per day before
    // comparing (the routed read's re-merge)
    val got = key(spark.read.parquet(roll)
      .select(col("day"), explode(col("state")).as("h"))
      .groupBy("day")
      .agg(graft.functions.VectorFunctions.kmvStateExact(col("h"), 64)
        .as("state")))
    val want = key(KmvRoute.rollupOf(base.unionByName(delta), 64))
    assert(got === want)
    // the null-day state holds ALL THREE null-ts users' hashes
    assert(got("<null>").size == 3)
  }
}
