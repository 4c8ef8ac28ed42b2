package yamonbench

import scala.jdk.CollectionConverters._

/** The full run record: what ran where (so only like is compared with
  * like), every sample set's median, quartiles and count, the failures
  * by name, and for the traced run the per-layer values and the spans.
  */
object Record {
  def render(o: Main.Opts, r: Run, cores: Int, loadStart: Double, loadEnd: Double,
      result: Json.Obj, endToEnd: Map[String, Double]): String = {
    val conf = r.spark.conf
    val host = Json.obj(
      "nproc" -> Json.Num(cores.toDouble),
      "master" -> Json.Str(r.spark.sparkContext.master),
      "shuffle_partitions" -> Json.Str(conf.get("spark.sql.shuffle.partitions")),
      "driver_heap_mb" -> Json.Num(Runtime.getRuntime.maxMemory / 1048576.0),
      "loadavg_start" -> Json.Num(loadStart),
      "loadavg_end" -> Json.Num(loadEnd),
      "java" -> Json.Str(System.getProperty("java.version")),
      "spark" -> Json.Str(r.spark.version),
      "commit" -> Json.Str(sys.env.getOrElse("PERFBENCH_COMMIT", "unknown")),
      "source_digest" -> Json.Str(sys.env.getOrElse("PERFBENCH_SOURCE_DIGEST", "unknown")))
    val samples = (r.allSamples + ("setup_s" -> r.setupSeconds)).toSeq.sortBy(_._1)
      .map { case (k, xs) => k -> Stats.summary(xs) }
    val traced = if (!o.trace) Nil else Seq(
      "layers" -> Json.Obj(Layers.spanLayers.map { case (layer, short) =>
        layer -> Json.obj(
          "self_ms" -> Json.Num(r.layerValues.getOrElse(s"self.${short}_ms", 0.0)),
          "wait_ms" -> Json.Num(r.layerValues.getOrElse(s"wait.${short}_ms", 0.0)))
      }),
      "batches" -> Json.Arr(r.telemetry.toSeq.flatMap(_.progress.asScala).map { p =>
        val role = if (r.streamIds("raw")(p.id.toString)) "raw" else "lts"
        Json.obj("stream" -> Json.Str(role), "batch" -> Json.Num(p.batchId.toDouble),
          "timestamp" -> Json.Str(p.timestamp), "input_rows" -> Json.Num(p.numInputRows.toDouble),
          "duration_ms" -> Json.Obj(p.durationMs.asScala.toSeq.sortBy(_._1)
            .map { case (k, v) => k -> Json.Num(v.doubleValue) }))
      }),
      "spans" -> Json.Arr(Trace.all.map { s =>
        Json.obj("id" -> Json.Num(s.id.toDouble), "name" -> Json.Str(s.name),
          "layer" -> Json.Str(s.layer), "req" -> Json.Num(s.req.toDouble),
          "parent" -> Json.Num(s.parent.toDouble), "start" -> Json.Num(s.start),
          "end" -> Json.Num(s.end))
      }))
    Json.Obj(Seq(
      "workload" -> Json.Str(o.workload),
      "seed" -> Json.Num(o.seed.toDouble),
      "seconds" -> Json.Num(o.seconds.toDouble),
      "trace" -> Json.Bool(o.trace),
      "host" -> host,
      "result" -> result,
      "end_to_end" -> Json.Obj(Main.endToEnd.flatMap { case (k, _) =>
        endToEnd.get(k).map(v => k -> Json.Num(v)) }),
      "failures" -> Json.Arr(r.failed.map(Json.Str)),
      "samples" -> Json.Obj(samples)) ++ traced).render + "\n"
  }
}
