package yamonbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metrics of the traced run, computed from the spans, the
  * listener records and the samples the workloads took inside the
  * measured window. A layer a workload bypasses reports 0.
  */
object Layers extends AdaptiveSparkPlanHelper {

  /** Short names of the traced layers, as they appear in `self.*`/`wait.*`. */
  val spanLayers: Seq[(String, String)] = Seq(
    "client" -> "client", "sources.HttpIngest" -> "http", "sources.Wire" -> "wire",
    "streaming.Ingest.raw" -> "raw", "streaming.Ingest.lts" -> "lts",
    "operators" -> "operators", "plans.Route" -> "route", "spark.query" -> "execute")

  /** Every per-layer metric name with its unit, in record order. */
  val metrics: Seq[(String, String)] = Seq(
    "http.posts" -> "count", "http.refused" -> "count",
    "http.service_p50_ms" -> "ms", "http.service_p90_ms" -> "ms",
    "http.spool_files" -> "count", "http.spool_bytes" -> "bytes",
    "gen.late_p90_ms" -> "ms",
    "wire.parse_ms" -> "ms", "wire.rows_in" -> "count", "wire.rows_out" -> "count",
    "wire.rows_dropped" -> "count",
    "raw.batches" -> "count", "raw.batch_p50_ms" -> "ms", "raw.batch_max_ms" -> "ms",
    "raw.add_batch_ms" -> "ms", "raw.latest_offset_ms" -> "ms",
    "raw.wal_commit_ms" -> "ms", "raw.planning_ms" -> "ms",
    "raw.rows_written" -> "count", "write.ms" -> "ms", "write.files" -> "count",
    "write.bytes_per_row" -> "bytes",
    "lts.batches" -> "count", "lts.batch_p50_ms" -> "ms", "lts.batch_max_ms" -> "ms",
    "lts.add_batch_ms" -> "ms", "lts.state_rows" -> "count", "lts.state_bytes" -> "bytes",
    "lts.rows_updated" -> "count", "lts.files" -> "count", "lts.rollup_ms" -> "ms",
    "route.plan_ms" -> "ms", "route.hit_ratio" -> "ratio", "route.rows_scanned" -> "count",
    "route.stale_reads" -> "count",
    "exec.ms" -> "ms", "scan.rows" -> "count", "scan.bytes" -> "bytes",
    "scan.files" -> "count", "shuffle.bytes" -> "bytes", "spill.bytes" -> "bytes",
    "task.cpu_ms" -> "ms", "task.gc_ms" -> "ms", "task.skew" -> "ratio",
    "driver.ms" -> "ms", "jvm.gc_ms" -> "ms", "jvm.peak_rss_mb" -> "MB") ++
    Dashboard.classes.map(c => s"dash.${c}_ms" -> "ms") ++
    Mix.queries.map(q => s"q.${q}_ms" -> "ms") ++ Seq(
    "ingest_rows_per_s" -> "1/s", "freshness_p50_ms" -> "ms", "freshness_p90_ms" -> "ms",
    "submit_p50_ms" -> "ms", "submit_p90_ms" -> "ms", "query_p50_ms" -> "ms",
    "query_p75_ms" -> "ms", "queries_per_s" -> "1/s", "mix_pass_s" -> "s",
    "failed_ratio" -> "ratio",
    "live.backlog_end_rows" -> "count") ++
    spanLayers.flatMap { case (_, s) => Seq(s"self.${s}_ms" -> "ms", s"wait.${s}_ms" -> "ms") }

  private def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  def windowStart(r: Run): Unit = {
    r.layer("window.start", System.currentTimeMillis().toDouble)
    r.layer("window.gc0", gcMs)
  }

  def windowEnd(r: Run): Unit = {
    r.layer("window.end", System.currentTimeMillis().toDouble)
    r.layer("jvm.gc_ms", gcMs - r.layerValues.getOrElse("window.gc0", gcMs))
  }

  private def leaves(p: SparkPlan): Seq[SparkPlan] =
    collectWithSubqueries(p) { case s if s.children.isEmpty => s }

  private def metric(plans: Seq[SparkPlan], name: String): Double =
    plans.flatMap(_.metrics.get(name)).map(_.value.toDouble).sum

  /** Rows the file scans of an executed query produced. */
  def scanRows(df: DataFrame): Double =
    metric(leaves(df.queryExecution.executedPlan).filter(_.nodeName.contains("Scan")), "numOutputRows")

  /** Files the file scans of an executed query read. */
  def scanFiles(df: DataFrame): Double =
    metric(leaves(df.queryExecution.executedPlan).filter(_.nodeName.contains("Scan")), "numFiles")

  private def peakRssMb: Double =
    scala.util.Try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    }.getOrElse(0.0)

  private def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else Stats.percentile(xs, p)

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Union length of intervals, clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double =
    mergeIntervals(iv.map { case (a, b) => (a max lo, b min hi) }).map(x => x._2 - x._1).sum

  private def progressMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble

  private def phase(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Sequential phase layout of one micro-batch inside its trigger span. */
  private val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")

  /** Adds micro-batch spans (with phase children) for the window's
    * progress records of one stream role.
    */
  private def batchSpans(ps: Seq[StreamingQueryProgress], layer: String): Unit =
    ps.foreach { p =>
      val s = progressMs(p)
      val id = Trace.add("batch", layer, s, s + phase(p, "triggerExecution"))
      var at = s
      phases.foreach { k =>
        val d = phase(p, k)
        if (d > 0) Trace.add(k, layer, at, at + d, parent = id)
        at += d
      }
    }

  /** Computes every per-layer metric into the run's layer values. */
  def finish(r: Run): Unit = {
    val lo = r.layerValues.getOrElse("window.start", 0.0)
    val hi = r.layerValues.getOrElse("window.end", lo)
    def set(k: String, v: Double): Unit = r.layer(k, v)
    def s(k: String) = r.samplesOf(k)

    set("http.refused", s("http.refused").size.toDouble)
    set("http.service_p50_ms", pct(s("http.service_ms"), 50))
    set("http.service_p90_ms", pct(s("http.service_ms"), 90))
    set("gen.late_p90_ms", pct(s("gen.late_ms"), 90))
    set("route.plan_ms", med(s("route.plan_ms")))
    set("route.hit_ratio", mean(s("route.routed")))
    set("route.rows_scanned", mean(s("route.rows_scanned")))
    set("route.stale_reads", s("route.stale_reads").size.toDouble)
    set("scan.files", s("scan.files").sum)
    Dashboard.classes.foreach(c => set(s"dash.${c}_ms", med(s(s"dash.${c}_ms"))))
    Mix.queries.foreach(q => set(s"q.${q}_ms", med(s(s"q.${q}_ms"))))
    set("jvm.peak_rss_mb", peakRssMb)

    r.telemetry.foreach { t =>
      val progress = t.progress.asScala.toSeq.filter { p =>
        val at = progressMs(p); at >= lo && at <= hi
      }
      Seq("raw" -> r.streamIds("raw"), "lts" -> r.streamIds("lts")).foreach { case (role, ids) =>
        val mine = progress.filter(p => ids(p.id.toString))
        val data = mine.filter(_.numInputRows > 0)
        batchSpans(mine, s"streaming.Ingest.$role")
        set(s"$role.batches", data.size.toDouble)
        set(s"$role.batch_p50_ms", med(data.map(phase(_, "triggerExecution"))))
        set(s"$role.batch_max_ms", (0.0 +: data.map(phase(_, "triggerExecution"))).max)
        set(s"$role.add_batch_ms", med(data.map(phase(_, "addBatch"))))
        if (role == "raw") {
          set("raw.latest_offset_ms", med(data.map(phase(_, "latestOffset"))))
          set("raw.wal_commit_ms", med(data.map(phase(_, "walCommit"))))
          set("raw.planning_ms", med(data.map(phase(_, "queryPlanning"))))
          // rows counted by the engine's IngestMetrics.observed observation
          set("raw.rows_written", data.flatMap(p => Option(p.observedMetrics.get(
            graft.streaming.IngestMetrics.observationName))).map(_.getAs[Long]("written").toDouble).sum)
        } else {
          val ops = data.flatMap(_.stateOperators.toSeq)
          set("lts.state_rows", (0.0 +: ops.map(_.numRowsTotal.toDouble)).max)
          set("lts.state_bytes", (0.0 +: ops.map(_.memoryUsedBytes.toDouble)).max)
          set("lts.rows_updated", ops.map(_.numRowsUpdated.toDouble).sum)
        }
      }
      val tasks = t.tasks.asScala.toSeq.filter(x => x.end >= lo && x.end <= hi)
      val jobMs = unionMs(t.jobs.asScala.toSeq, lo, hi)
      set("exec.ms", jobMs)
      set("driver.ms", (hi - lo) - jobMs)
      set("scan.rows", tasks.map(_.rowsIn.toDouble).sum)
      set("scan.bytes", tasks.map(_.bytesIn.toDouble).sum)
      set("shuffle.bytes", tasks.map(_.shuffleBytes.toDouble).sum)
      set("spill.bytes", tasks.map(_.spillBytes.toDouble).sum)
      set("task.cpu_ms", tasks.map(_.cpuMs).sum)
      set("task.gc_ms", tasks.map(_.gcMs).sum)
      val skews = tasks.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
        ts.map(_.runMs).max / math.max(1.0, Stats.median(ts.map(_.runMs)))
      }.toSeq
      set("task.skew", med(skews))
      selfAndWait(r, tasks.map(x => (x.start, x.end)), lo, hi)
    }
  }

  /** Self time (span minus its children) and waiting (self time with no
    * Spark task running anywhere) per traced layer, inside the window.
    */
  private def selfAndWait(r: Run, taskIv: Seq[(Double, Double)], lo: Double, hi: Double): Unit = {
    val spans = Trace.all.filter(sp => sp.end >= lo && sp.start <= hi)
    val children = spans.groupBy(_.parent)
    val busy = mergeIntervals(taskIv)
    spanLayers.foreach { case (layer, short) =>
      var self = 0.0
      var wait = 0.0
      spans.filter(_.layer == layer).foreach { sp =>
        val own = subtract(Seq((sp.start max lo, sp.end min hi)),
          mergeIntervals(children.getOrElse(sp.id, Nil).map(c => (c.start, c.end))))
        self += own.map(x => x._2 - x._1).sum
        wait += subtract(own, busy).map(x => x._2 - x._1).sum
      }
      r.layer(s"self.${short}_ms", self)
      r.layer(s"wait.${short}_ms", wait)
    }
  }

  def mergeIntervals(iv: Seq[(Double, Double)]): Seq[(Double, Double)] =
    iv.filter(x => x._2 > x._1).sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((a, b) :: rest, (c, d)) if c <= b => (a, b max d) :: rest
      case (acc, x) => x :: acc
    }.reverse

  /** `xs` minus the merged, sorted intervals `cut`. */
  def subtract(xs: Seq[(Double, Double)], cut: Seq[(Double, Double)]): Seq[(Double, Double)] =
    xs.flatMap { case (a0, b) =>
      var a = a0
      val out = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
      cut.iterator.dropWhile(_._2 <= a).takeWhile(_._1 < b).foreach { case (c, d) =>
        if (c > a) out += ((a, c))
        a = a max d
      }
      if (b > a) out += ((a, b))
      out.toSeq
    }
}
