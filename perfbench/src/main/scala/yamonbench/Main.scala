package yamonbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import graft.plans.LtsRoute

/** The benchmark harness:
  * `Main --workload W --seed N --seconds S --trace 0|1 --work DIR [--record FILE]`.
  *
  * Runs one workload against the engine's public API, prints one JSON
  * result line last on stdout, and writes the full record (host and
  * configuration, every sample set's median/quartiles/count, and in the
  * traced run the per-layer values and spans) to `--record`. Exits 1
  * when any operation or correctness check failed; the failures are
  * named on stderr and in the record.
  */
object Main {
  val workloads: Seq[String] = Seq("ingest_backlog", "ingest_live", "dashboard", "declared_mix")

  /** End-to-end metrics, reported by every workload. */
  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "throughput_per_s" -> "1/s")

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: File, record: Option[File])

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(workloads.contains(w), s"unknown workload $w (one of ${workloads.mkString(", ")})")
    val trace = need("trace")
    require(trace == "0" || trace == "1", "--trace takes 0 or 1")
    Opts(w, need("seed").toLong, need("seconds").toInt, trace == "1",
      new File(need("work")), kv.get("record").map(new File(_)))
  }

  def loadAvg(): Double =
    scala.util.Try(new String(Files.readAllBytes(new File("/proc/loadavg").toPath),
      StandardCharsets.UTF_8).split(" ")(0).toDouble).getOrElse(-1.0)

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      // the FileContext checkpoint manager shells out on every rename; the
      // FileSystem one stays in-process
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The workload's end-to-end values from its samples. */
  def endToEndValues(w: String, r: Run): Map[String, Double] = {
    val throughput = r.samplesOf(w match {
      case "ingest_backlog" => "rows_per_s"
      case "ingest_live" => "visible_rows_per_s"
      case "dashboard" | "declared_mix" => "queries_per_s"
    }).head
    Map("setup_s" -> Stats.median(r.setupSeconds), "throughput_per_s" -> throughput)
  }

  /** The workload-specific names of each headline number, kept in
    * the per-layer set so the traced record carries them by name.
    */
  def headline(w: String, r: Run): Unit = {
    def s(k: String) = r.samplesOf(k)
    def pct(k: String, p: Double) = if (s(k).isEmpty) 0.0 else Stats.percentile(s(k), p)
    def med(k: String) = if (s(k).isEmpty) 0.0 else Stats.median(s(k))
    r.layer("ingest_rows_per_s", s("rows_per_s").headOption.getOrElse(0.0))
    r.layer("freshness_p50_ms", pct("freshness_ms", 50))
    r.layer("freshness_p90_ms", pct("freshness_ms", 90))
    r.layer("submit_p50_ms", pct("submit_ms", 50))
    r.layer("submit_p90_ms", pct("submit_ms", 90))
    r.layer("query_p50_ms", pct("query_ms", 50))
    r.layer("query_p75_ms", pct("query_ms", 75))
    r.layer("queries_per_s", s("queries_per_s").headOption.getOrElse(0.0))
    r.layer("mix_pass_s", med("mix_pass_s"))
    r.layer("failed_ratio", r.failed.size.toDouble / math.max(1L, r.attempted))
  }

  def metricsJson(values: Seq[(String, String)], of: String => Double): Json.Obj =
    Json.Obj(values.map { case (k, unit) =>
      k -> Json.obj("value" -> Json.Num(of(k)), "unit" -> Json.Str(unit))
    })

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val loadStart = loadAvg()
    o.work.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(cores, o.work)
    val r = new Run(spark, o.seed, o.seconds, o.trace, o.work)
    LtsRoute.enable(spark)
    if (o.trace) {
      Trace.on = true
      r.telemetry.foreach(_.register(spark))
    }
    r.attempt(s"workload ${o.workload}") {
      o.workload match {
        case "ingest_backlog" => Backlog.run(r)
        case "ingest_live" => Live.run(r)
        case "dashboard" => Dashboard.run(r)
        case "declared_mix" => Mix.run(r)
      }
    }
    spark.streams.active.foreach(_.stop())
    val metrics = r.attempt("metrics") {
      if (o.trace) {
        Layers.finish(r)
        headline(o.workload, r)
        val v = r.layerValues
        metricsJson(Layers.metrics, k => v.getOrElse(k, 0.0))
      } else {
        val v = endToEndValues(o.workload, r)
        metricsJson(endToEnd, v)
      }
    }
    // the traced run keeps its end-to-end values too, for the overhead
    val e2e = if (o.trace) scala.util.Try(endToEndValues(o.workload, r)).getOrElse(Map.empty[String, Double])
      else metrics.fold(Map.empty[String, Double])(_ => endToEndValues(o.workload, r))
    val correct = r.failed.isEmpty
    val result = Json.obj(
      "correct" -> Json.Bool(correct),
      "attempted" -> Json.Num(r.attempted.toDouble),
      "failed" -> Json.Num(r.failed.size.toDouble),
      "metrics" -> metrics.getOrElse(Json.Obj(Nil)))
    o.record.foreach { f =>
      f.getAbsoluteFile.getParentFile.mkdirs()
      Files.write(f.toPath, Record.render(o, r, cores, loadStart, loadAvg(), result, e2e)
        .getBytes(StandardCharsets.UTF_8))
    }
    r.failed.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    spark.stop()
    println(result.render)
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
