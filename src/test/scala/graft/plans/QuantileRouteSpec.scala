package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Quantile-partial MV routing (r14): per-(type, day) EXACT histogram
  * states must serve q_percentiles_approx bit-identically to the raw
  * recompute (the histogram monoid — order-invariant, so no pinned
  * merge order is even needed), engage as a pruned rollup scan,
  * maintain incrementally to the rebuild's states, refuse malformed
  * state loudly, and leave every non-matching shape raw.
  */
class QuantileRouteSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  graft.functions.VectorFunctions.ensureRegistered(spark)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString)

  private def rollupScans(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.datasources.LogicalRelation] =
    df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
        if lr.relation.isInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation] &&
          lr.relation.asInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location.rootPaths.exists(_.toString.contains("qhist_route")) => lr
    }

  test("routed q_percentiles_approx reads ONLY the rollup — a " +
      "#days-x-#types scan, not the corpus — and equals the raw " +
      "recompute bit-for-bit") {
    val routed = graft.operators.EventOps.valuePercentilesApprox(spark, dir)
    val routedRows = rows(routed)
    // raw recompute with the route deregistered
    QuantileRoute.deregister(spark, s"$dir/events.parquet")
    val rawRows = try {
      val ps = graft.functions.VectorFunctions.qhistPercentiles(
        col("state"), Seq(5000, 9500, 9900), 2048)
      val raw = graft.Tables.events(spark, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(graft.functions.VectorFunctions.qhistState(col("value"))
          .as("state"))
        .groupBy("event_type").agg(ps.as("ps"))
        .select(col("event_type"),
          round(element_at(col("ps"), 1), 4).as("p50"),
          round(element_at(col("ps"), 2), 4).as("p95"),
          round(element_at(col("ps"), 3), 4).as("p99"))
        .orderBy("event_type")
      assert(rollupScans(raw).isEmpty, "raw recompute unexpectedly routed")
      rows(raw)
    } finally QuantileRoute.ensureArtifacts(spark, dir): Unit
    assert(routedRows.nonEmpty && routedRows === rawRows)
    // the routed plan's ONLY scan is the rollup, and the routed read is
    // rollup-sized (#days × #types rows)
    val scans = routed.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr
    }
    assert(scans.size == 1 && rollupScans(routed).size == 1,
      routed.queryExecution.optimizedPlan.toString)
    val roll = QuantileRoute.ensureArtifacts(spark, dir)
    val rollRows = spark.read.parquet(roll).count()
    val corpusRows = graft.Tables.events(spark, dir).count()
    assert(rollRows < corpusRows / 5,
      s"rollup ($rollRows rows) is not materially smaller than the " +
        s"corpus ($corpusRows rows) — the route buys nothing")
  }

  test("the merged estimate is order-invariant (the monoid argument " +
      "that replaces pinned merge order) and rank-accurate within n/b") {
    import spark.implicits._
    val n = 20000
    val vals = (0 until n).map(i => ((i * 7919) % 1000).toDouble / 4.0)
    val df = vals.zipWithIndex.map { case (v, i) => (i % 13, v) }
      .toDF("slice", "v")
    val states = df.groupBy("slice")
      .agg(graft.functions.VectorFunctions.qhistState(col("v")).as("state"))
    def est(order: org.apache.spark.sql.Column): Seq[Double] =
      states.orderBy(order)
        .agg(graft.functions.VectorFunctions.qhistPercentiles(
          col("state"), Seq(5000, 9500, 9900), 2048).as("ps"))
        .select(explode(col("ps"))).as[Double].collect().toSeq
    val a = est(col("slice").asc)
    val b = est(col("slice").desc)
    assert(a === b, "merge order changed the estimate")
    // rank accuracy: the estimate's true rank is within ceil(n/b) of
    // the target rank
    val sorted = vals.sorted
    for ((bp, got) <- Seq(5000, 9500, 9900).zip(a)) {
      val target = (n.toLong * bp + 9999) / 10000
      val lo = sorted.indexWhere(_ == got) + 1      // min rank of got
      val hi = sorted.lastIndexWhere(_ == got) + 1  // max rank of got
      val slack = (n.toLong + 2047) / 2048
      assert(lo - slack <= target && target <= hi + slack,
        s"bp=$bp got=$got rank range [$lo,$hi] vs target $target ± $slack")
    }
  }

  test("incremental rollup upsert converges to the full rebuild's " +
      "states — including the NULL-day partition") {
    import spark.implicits._
    def evFrame(rows: Seq[(Option[String], String, Double)]) =
      rows.toDF("ts0", "event_type", "value")
        .select(col("ts0").cast("timestamp").as("ts"),
          col("event_type"), col("value"))
    val base = evFrame(Seq(
      (Some("2024-01-01 10:00:00"), "click", 1.5),
      (Some("2024-01-02 10:00:00"), "click", 2.5),
      (None, "error", 9.0)))
    val delta = evFrame(Seq(
      (Some("2024-01-02 11:00:00"), "click", 3.5),
      (None, "error", 11.0)))
    val roll = java.nio.file.Files.createTempDirectory("graft-qroll").toString
    QuantileRoute.rollupOf(base).coalesce(1)
      .write.mode("overwrite").partitionBy("day").parquet(roll)
    QuantileRoute.upsertRollup(spark, roll, delta)
    spark.catalog.refreshByPath(roll)
    def key(df: org.apache.spark.sql.DataFrame): Map[(String, String), Seq[(Double, Long)]] =
      df.select(col("event_type"), col("day").cast("string"), col("state"))
        .as[(String, Option[String], Seq[(Double, Long)])].collect()
        .map { case (t, d, s) => (t, d.getOrElse("<null>")) -> s }.toMap
    // the upsert appends segment states; the monoid re-fold (exactly
    // what the routed read's merge aggregate does) must equal the full
    // rebuild's states
    def folded(): Map[(String, String), Seq[(Double, Long)]] = {
      spark.catalog.refreshByPath(roll)
      key(spark.read.parquet(roll)
        .groupBy("event_type", "day")
        .agg(graft.functions.VectorFunctions.qhistMergeState(col("state"))
          .as("state")))
    }
    val want = key(QuantileRoute.rollupOf(base.unionByName(delta)))
    assert(folded() === want)
    // the null-day state carries BOTH error readings
    assert(folded()(("error", "<null>")).map(_._2).sum == 2L)
    // LEDGERED replay protection: the same (pipeline, batch) tag
    // re-delivered after success is skipped by its commit marker; a
    // marker-less retry (crash before the marker landed) deletes its
    // own tagged files and re-publishes — additive states, so WITHOUT
    // the ledger either replay would double-count
    val delta2 = evFrame(Seq((Some("2024-01-03 09:00:00"), "click", 4.5)))
    val tag = ("pipe", "b7")
    QuantileRoute.upsertRollup(spark, roll, delta2, Some(tag))
    val want2 = key(QuantileRoute.rollupOf(
      base.unionByName(delta).unionByName(delta2)))
    assert(folded() === want2)
    QuantileRoute.upsertRollup(spark, roll, delta2, Some(tag))
    assert(folded() === want2, "marked re-delivery must be skipped")
    // crash-before-marker: drop the marker and replay — converges
    val marker = new java.io.File(s"$roll/_committed",
      graft.operators.Artifacts.ledgerPrefix(tag).stripSuffix("-"))
    assert(marker.exists() && marker.delete())
    QuantileRoute.upsertRollup(spark, roll, delta2, Some(tag))
    assert(folded() === want2, "unmarked replay must overwrite its own tag")
    assert(marker.exists(), "the replay must re-commit its marker")
  }

  test("single-maintainer lease: a second concurrent maintainer " +
      "REFUSES on a live foreign lease (its compaction could fold the " +
      "holder's replayable tags); a crashed holder's lease is stolen " +
      "after patience") {
    import spark.implicits._
    def evFrame(rows: Seq[(String, String, Double)]) =
      rows.toDF("ts0", "event_type", "value")
        .select(col("ts0").cast("timestamp").as("ts"),
          col("event_type"), col("value"))
    val roll = java.nio.file.Files
      .createTempDirectory("graft-qlease").toString + "/rollup"
    val base = evFrame(Seq(("2024-01-01 10:00:00", "click", 1.0)))
    QuantileRoute.rollupOf(base).coalesce(1)
      .write.partitionBy("day").parquet(roll)
    // maintainer A feeds the rollup (streamId-owned standing lease)
    QuantileRoute.maintainRollup(spark, roll,
      evFrame(Seq(("2024-01-01 11:00:00", "click", 2.0))), ("mA", "0"))
    // a SECOND maintainer interleaving on the same root refuses loudly
    val e = intercept[IllegalStateException] {
      QuantileRoute.maintainRollup(spark, roll,
        evFrame(Seq(("2024-01-01 12:00:00", "click", 3.0))), ("mB", "0"))
    }
    assert(e.getMessage.contains("mA") && e.getMessage.contains("lease"),
      e.getMessage)
    // ...and so does an ad-hoc compactor not speaking for the stream
    intercept[IllegalStateException] {
      QuantileRoute.compactDays(spark, roll)
    }
    // A's own replay (same streamId) proceeds — the legitimate
    // crash-replay successor
    QuantileRoute.maintainRollup(spark, roll,
      evFrame(Seq(("2024-01-01 11:00:00", "click", 2.0))), ("mA", "0"))
    // crashed-holder takeover: age A's heartbeat past patience, then B
    // acquires and maintains
    val lease = new java.io.File(roll, "_lease")
    assert(lease.setLastModified(System.currentTimeMillis() -
      graft.operators.Artifacts.defaultLeasePatienceMs - 1000))
    QuantileRoute.maintainRollup(spark, roll,
      evFrame(Seq(("2024-01-01 12:00:00", "click", 3.0))), ("mB", "1"))
    // the rollup still folds to exactly the delivered readings
    spark.catalog.refreshByPath(roll)
    val got = spark.read.parquet(roll)
      .groupBy("event_type", "day")
      .agg(graft.functions.VectorFunctions.qhistMergeState(col("state"))
        .as("state"))
      .select(explode(col("state")).as("s"))
      .select(col("s.v"), col("s.w"))
      .as[(Double, Long)].collect().toSeq.sorted
    assert(got === Seq(1.0 -> 1L, 2.0 -> 1L, 3.0 -> 1L))
  }

  test("compaction never folds an UNMARKED ledgered batch segment — it " +
      "rides through by copy so a delayed replay still finds its own " +
      "files — while marked segments fold") {
    import spark.implicits._
    def evFrame(rows: Seq[(String, String, Double)]) =
      rows.toDF("ts0", "event_type", "value")
        .select(col("ts0").cast("timestamp").as("ts"),
          col("event_type"), col("value"))
    val roll = java.nio.file.Files
      .createTempDirectory("graft-qgate").toString + "/rollup"
    val base = evFrame(Seq(("2024-01-01 10:00:00", "click", 1.0)))
    QuantileRoute.rollupOf(base).coalesce(1)
      .write.partitionBy("day").parquet(roll)
    val tag = ("pipe", "b1")
    val batch = evFrame(Seq(("2024-01-01 11:00:00", "click", 2.0)))
    QuantileRoute.upsertRollup(spark, roll, batch, Some(tag))
    // simulate the crash window: the files landed but the marker did not
    val marker = new java.io.File(s"$roll/_committed",
      graft.operators.Artifacts.ledgerPrefix(tag).stripSuffix("-"))
    assert(marker.delete())
    def segbFiles(): Seq[String] =
      Option(new java.io.File(roll).listFiles()).getOrElse(Array.empty)
        .filter(d => d.isDirectory && d.getName.startsWith("day="))
        .flatMap(d => d.listFiles().map(_.getName))
        .filter(_.startsWith("segb-")).toSeq
    val before = segbFiles()
    assert(before.nonEmpty)
    // (a) a dir overweight ONLY from the unmarked orphan is not
    // rewritten at all — the trigger counts foldable files, so an
    // abandoned batch cannot force a convergence-free rewrite per
    // entry (review-found, r15)
    def allFiles(): Set[String] =
      Option(new java.io.File(roll).listFiles()).getOrElse(Array.empty)
        .filter(d => d.isDirectory && d.getName.startsWith("day="))
        .flatMap(d => d.listFiles().map(f => f.getName -> f.lastModified()))
        .map(_.toString).toSet
    val untouched = allFiles()
    QuantileRoute.compactDays(spark, roll, owner = Some("pipe"))
    assert(allFiles() === untouched,
      "an orphan-only overweight dir must not be rewritten")
    // (b) a dir overweight by FOLDABLE files rewrites, folding the
    // committed segments and carrying the unmarked orphan through
    val batch2 = evFrame(Seq(("2024-01-01 12:00:00", "click", 9.0)))
    QuantileRoute.upsertRollup(spark, roll, batch2, Some(("pipe", "b2")))
    QuantileRoute.compactDays(spark, roll, owner = Some("pipe"))
    assert(segbFiles() === before,
      "unmarked ledgered segments must survive compaction untouched")
    def folded(): Seq[(Double, Long)] = {
      spark.catalog.refreshByPath(roll)
      spark.read.parquet(roll)
        .groupBy("event_type", "day")
        .agg(graft.functions.VectorFunctions.qhistMergeState(col("state"))
          .as("state"))
        .select(explode(col("state")).as("s"))
        .select(col("s.v"), col("s.w"))
        .as[(Double, Long)].collect().toSeq.sorted
    }
    val want = Seq(1.0 -> 1L, 2.0 -> 1L, 9.0 -> 1L)
    assert(folded() === want)
    // once marked, the next compaction folds it away
    graft.operators.Artifacts.markCommitted(roll, tag)
    QuantileRoute.compactDays(spark, roll, owner = Some("pipe"))
    assert(segbFiles().isEmpty, "marked segments must fold")
    assert(QuantileRoute.rollupSegments(roll) == 1)
    assert(folded() === want)
  }

  test("a crashed upsert swap heals at the next upsert entry: " +
      "mid-swap aside + orphan stage tree, no state lost or double-kept") {
    import spark.implicits._
    def evFrame(rows: Seq[(String, String, Double)]) =
      rows.toDF("ts0", "event_type", "value")
        .select(col("ts0").cast("timestamp").as("ts"),
          col("event_type"), col("value"))
    val roll = java.nio.file.Files
      .createTempDirectory("graft-qheal").toString + "/rollup"
    val base = evFrame(Seq(
      ("2024-01-01 10:00:00", "click", 1.0),
      ("2024-01-02 10:00:00", "click", 2.0)))
    QuantileRoute.rollupOf(base).coalesce(1)
      .write.partitionBy("day").parquet(roll)
    // fabricate a compaction crash between the aside-rename and the
    // swap-in: the live day dir is gone, only its aside remains — plus
    // an orphaned stage tree from the same doomed entry
    val root = new java.io.File(roll)
    val dayDir = root.listFiles()
      .filter(_.getName.startsWith("day=")).minBy(_.getName)
    val aside = new java.io.File(root, s"${dayDir.getName}.old-deadbeef")
    assert(dayDir.renameTo(aside))
    assert(new java.io.File(root, ".tmp-stage-deadbeef").mkdirs())
    // the next batch upsert heals at entry, then folds its delta in
    val delta = evFrame(Seq(("2024-01-01 11:00:00", "click", 3.0)))
    QuantileRoute.upsertRollup(spark, roll, delta, Some(("pipe", "h1")))
    assert(!aside.exists(), "crashed aside not healed")
    assert(!new java.io.File(root, ".tmp-stage-deadbeef").exists(),
      "orphan stage tree not swept")
    def key(df: org.apache.spark.sql.DataFrame): Map[(String, String), Seq[(Double, Long)]] =
      df.select(col("event_type"), col("day").cast("string"), col("state"))
        .as[(String, Option[String], Seq[(Double, Long)])].collect()
        .map { case (t, d, s) => (t, d.getOrElse("<null>")) -> s }.toMap
    spark.catalog.refreshByPath(roll)
    val got = key(spark.read.parquet(roll)
      .groupBy("event_type", "day")
      .agg(graft.functions.VectorFunctions.qhistMergeState(col("state"))
        .as("state")))
    assert(got === key(QuantileRoute.rollupOf(base.unionByName(delta))),
      "healed rollup must hold exactly the pre-crash + delta states")
  }

  test("a SEGMENTED rollup (tagged streaming appends, pre-compaction) " +
      "routes and answers bit-identically to the raw recompute — the " +
      "re-merge aggregate restores one-state-per-group for any consumer") {
    val d = java.nio.file.Files.createTempDirectory("graft-qseg-ds").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      java.nio.file.Paths.get(s"$d/events.parquet")): Unit
    val ev = graft.Tables.events(spark, d)
    val base = ev.filter(col("event_id") % 3 =!= 0)
    val delta = ev.filter(col("event_id") % 3 === 0)
    val roll = java.nio.file.Files
      .createTempDirectory("graft-qseg-roll").toString + "/rollup"
    QuantileRoute.rollupOf(base).coalesce(1)
      .write.partitionBy("day").parquet(roll)
    // the blind tagged append leaves a SECOND segment file in every
    // touched day dir — the exact state a continuously-maintained
    // rollup serves from between compactions
    QuantileRoute.appendRollup(spark, roll, delta, Some(("qseg", "0")))
    assert(QuantileRoute.rollupSegments(roll) > 1)
    QuantileRoute.enable(spark)
    QuantileRoute.register(spark, s"$d/events.parquet", roll)
    try {
      def shape() = ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(graft.functions.VectorFunctions.qhistState(col("value"))
          .as("state"))
      def summary(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.groupBy("event_type")
          .agg(graft.functions.VectorFunctions.qhistPercentiles(
            col("state"), Seq(5000, 9500, 9900), 2048).as("ps"))
          .orderBy("event_type").collect().toSeq.map(_.toString)
      val routed = shape()
      assert(routed.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
          if lr.relation.asInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location.rootPaths.exists(_.toString.contains(roll)) => lr
      }.nonEmpty, routed.queryExecution.optimizedPlan.toString)
      // the routed inner aggregate hands ONE state per (type, day) to
      // any consumer — count parity with the raw shape, not #segments
      val routedSummary = summary(routed)
      val routedCount = routed.count()
      QuantileRoute.deregister(spark, s"$d/events.parquet")
      val raw = shape()
      assert(routedCount == raw.count())
      assert(routedSummary === summary(raw))
      // replay of the same tag converges; compaction preserves answers
      QuantileRoute.register(spark, s"$d/events.parquet", roll)
      QuantileRoute.appendRollup(spark, roll, delta, Some(("qseg", "0")))
      assert(summary(shape()) === routedSummary)
      QuantileRoute.compactDays(spark, roll, owner = Some("qseg"))
      assert(QuantileRoute.rollupSegments(roll) == 1)
      assert(summary(shape()) === routedSummary)
    } finally QuantileRoute.deregister(spark, s"$d/events.parquet")
  }

  test("maintenance heals: a crashed staged-append tree is swept at " +
      "entry, and a rollup holding crashed-swap residue DECLINES to " +
      "route (the raw scan is the correct answer) until recovered") {
    val d = java.nio.file.Files.createTempDirectory("graft-qres-ds").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      java.nio.file.Paths.get(s"$d/events.parquet")): Unit
    val ev = graft.Tables.events(spark, d)
    val roll = java.nio.file.Files
      .createTempDirectory("graft-qres-roll").toString + "/rollup"
    QuantileRoute.rollupOf(ev).coalesce(1)
      .write.partitionBy("day").parquet(roll)
    // a crashed append leaves an orphan stage tree — maintenance sweeps it
    val orphan = new java.io.File(roll, ".tmp-stage-deadbeef")
    assert(orphan.mkdirs())
    QuantileRoute.recoverRollup(roll)
    assert(!orphan.exists(), "crashed stage tree not swept")
    QuantileRoute.enable(spark)
    QuantileRoute.register(spark, s"$d/events.parquet", roll)
    try {
      def shape() = ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(graft.functions.VectorFunctions.qhistState(col("value"))
          .as("state"))
      def routed(df: org.apache.spark.sql.DataFrame): Boolean =
        df.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
            if lr.relation.asInstanceOf[
              org.apache.spark.sql.execution.datasources.HadoopFsRelation]
              .location.rootPaths.exists(_.toString.contains(roll)) => lr
        }.nonEmpty
      assert(routed(shape()))
      // a crashed compaction's aside dir: a fresh resolution would drop
      // that day (or string-infer the aside) — the route must decline
      val dayDir = new java.io.File(roll).listFiles()
        .filter(_.getName.startsWith("day=")).head
      val aside = new java.io.File(roll, s"${dayDir.getName}.old-deadbeef")
      assert(dayDir.renameTo(aside))
      QuantileRoute.invalidate(roll)
      assert(!routed(shape()),
        "a residue-bearing rollup was routed — a fresh partition " +
          "listing would silently drop the aside day")
      // maintenance heals the swap; the route resumes
      QuantileRoute.recoverRollup(roll)
      QuantileRoute.invalidate(roll)
      spark.catalog.refreshByPath(roll)
      assert(routed(shape()))
    } finally QuantileRoute.deregister(spark, s"$d/events.parquet")
  }

  test("non-matching shapes stay raw, and a foreign-zone session is " +
      "never routed") {
    QuantileRoute.ensureArtifacts(spark, dir): Unit
    val ev = graft.Tables.events(spark, dir)
    // a different grain (week) must stay raw
    assert(rollupScans(ev.groupBy(col("event_type"),
        date_trunc("week", col("ts")).as("wk"))
      .agg(graft.functions.VectorFunctions.qhistState(col("value"))
        .as("state"))).isEmpty)
    // an extra measure the rollup cannot answer
    assert(rollupScans(ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(graft.functions.VectorFunctions.qhistState(col("value"))
        .as("state"), count(lit(1)).as("n"))).isEmpty)
    // a different measure column
    assert(rollupScans(ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(graft.functions.VectorFunctions.qhistState(col("value") * 2)
        .as("state"))).isEmpty)
    // a GRIDDED state (r15 universe-quantization knob) is a coarser
    // statistic than the rollup's grid-free states — must stay raw
    assert(rollupScans(ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(graft.functions.VectorFunctions.qhistStateGrid(col("value"), 8)
        .as("state"))).isEmpty)
    // the matching shape routes under the build zone...
    def shape() = ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(graft.functions.VectorFunctions.qhistState(col("value")).as("state"))
    assert(rollupScans(shape()).nonEmpty)
    // ...and declines under a foreign session zone
    val zone0 = spark.conf.get("spark.sql.session.timeZone")
    val other = if (zone0 == "Pacific/Kiritimati") "America/Anchorage"
                else "Pacific/Kiritimati"
    try {
      spark.conf.set("spark.sql.session.timeZone", other)
      assert(rollupScans(shape()).isEmpty,
        "a foreign-zone session was routed to build-zone day buckets")
    } finally spark.conf.set("spark.sql.session.timeZone", zone0)
  }

  test("the WRITE path is zone-gated too: upsertRollup on an " +
      "ensure-built rollup refuses a foreign-zone maintainer session " +
      "before touching any partition") {
    import spark.implicits._
    val roll = QuantileRoute.ensureArtifacts(spark, dir)
    val zone0 = spark.conf.get("spark.sql.session.timeZone")
    val other = if (zone0 == "Pacific/Kiritimati") "America/Anchorage"
                else "Pacific/Kiritimati"
    val delta = Seq(("2024-01-03 10:00:00", "click", 1.0))
      .toDF("ts0", "event_type", "value")
      .select(col("ts0").cast("timestamp").as("ts"),
        col("event_type"), col("value"))
    try {
      spark.conf.set("spark.sql.session.timeZone", other)
      val e = intercept[IllegalArgumentException] {
        QuantileRoute.upsertRollup(spark, roll, delta)
      }
      assert(e.getMessage.contains("zone"), e.getMessage)
    } finally spark.conf.set("spark.sql.session.timeZone", zone0)
  }

  test("malformed histogram state refuses LOUDLY — null elements and " +
      "non-positive weights never skew an estimate silently") {
    import spark.implicits._
    def msgs(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage} ${msgs(t.getCause)}"
    val nullEl = Seq(1).toDF("i").select(array(
      struct(lit(1.0).as("v"), lit(2L).as("w")),
      lit(null).cast("struct<v:double,w:bigint>")).as("state"))
    val e1 = intercept[Exception] {
      nullEl.agg(graft.functions.VectorFunctions.qhistPercentiles(
        col("state"), Seq(5000), 2048)).head(): Unit
    }
    assert(msgs(e1).contains("NULL element"), msgs(e1))
    val badW = Seq(1).toDF("i").select(array(
      struct(lit(1.0).as("v"), lit(0L).as("w"))).as("state"))
    val e2 = intercept[Exception] {
      badW.agg(graft.functions.VectorFunctions.qhistPercentiles(
        col("state"), Seq(5000), 2048)).head(): Unit
    }
    assert(msgs(e2).contains("non-positive weight"), msgs(e2))
  }
}
