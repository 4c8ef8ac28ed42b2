package yamonbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row}
import graft.SparkEntry

/** `declared_mix`: one closed-loop client timing passes over a fixed mix
  * of the engine's declared queries (`SparkEntry.queries`): the text,
  * vector and multimodal operators with their indexes, the SQL front
  * door, and the Quantile, Kmv and Corpus routes. Set-up writes the
  * [[MixData]] tables from the fixed [[dataSeed]] and runs
  * `SparkEntry.prepare` on them; `--seed` only rotates the query order.
  * Each query's first answer must hash to its pinned value.
  */
object Mix {
  val dataSeed = 42L

  val queries: Vector[String] = Vector("q_quality_survivor", "q_containment",
    "q_dedup_clusters", "q_dup_spans", "q_winnow_overlap", "q_corpus_build",
    "q_bm25_indexed", "q_ann_sig_indexed", "q_hybrid_dedup", "q_media_pipeline",
    "q_sql_percentiles_approx", "q_sql_distinct_approx", "q_route_stats")

  /** Queries a route must serve: their plans read a route's rollup. */
  val routed: Set[String] = Set("q_sql_percentiles_approx", "q_sql_distinct_approx",
    "q_route_stats")

  /** Order-insensitive hash ([[resultHash]]) of each query's answer on
    * the [[dataSeed]] data. The answers of the twelve queries that have a
    * DuckDB oracle matched it when these were pinned ([[MixOracle]],
    * `records/declared_mix-oracle.txt`).
    */
  val pinned: Map[String, String] = Map(
    "q_quality_survivor" -> "66f4b7bff2d5fda7048107196d57d1b574ebff6071d586f8c4047f55583f1730",
    "q_containment" -> "7e0adb731fa7190744120f60619bf91a3e00ae959f72041b31ee790ebf9888dd",
    "q_dedup_clusters" -> "d986d32c36a76afb41b21330009a6b4d4539a46d811778cd955231556cf38e8b",
    "q_dup_spans" -> "0eb97036cb21d4cfdf4d283603a52ded155b8f41041547c8d17447596f33cf6a",
    "q_winnow_overlap" -> "af33a1795551a21e7ee23caf9cc32323d9476dc1488371714d0918a5a18991a3",
    "q_corpus_build" -> "0fb6e12a590176a68568f676eb12f58adb58716875da80a7497031a4ad4d42cf",
    "q_bm25_indexed" -> "7d8262eee75860e28d596ec3cc19e4be264196d2153b9a164532a5f4b8b9f7ba",
    "q_ann_sig_indexed" -> "7891189ea0ab7adef914aa6ebd89e80648a8fec4f22681cd9f0a0c862afa7ae6",
    "q_hybrid_dedup" -> "0bc78bac20227fd2b14ba934d5cfef7c58593442653c2d4f5ada68a06ca040ea",
    "q_media_pipeline" -> "32bcc9405af0db63f1d044c3745a77040fe1912d57c693995be2b19b2414b7a1",
    "q_sql_percentiles_approx" -> "37dd9e117c3dc609f426cf36f3eeeb75254e0006035832552f68ee5846583e43",
    "q_sql_distinct_approx" -> "c88c1893ba272f93bdbfb706d69e20f5fc8733babbd564c12fc37004c6a6ac7e",
    "q_route_stats" -> "b34f2bf72e5553b2c17f4d4c9800d08a445b702b86df7689c02c6548377ddebd")

  /** Canonical text of one value: doubles and floats to 9 significant
    * digits, so the last-bit order dependence of a parallel sum does not
    * change the hash.
    */
  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinity) d.toString
      else String.format(java.util.Locale.ROOT, "%.9g", Double.box(d))
    case f: Float => canon(f.toDouble)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  /** SHA-256 of the sorted canonical rows, with the column names. */
  def resultHash(df: DataFrame, rows: Array[Row]): String = {
    val text = (df.columns.mkString(",") +: rows.map(canon).sorted.toSeq).mkString("\n")
    MessageDigest.getInstance("SHA-256").digest(text.getBytes(StandardCharsets.UTF_8))
      .map(x => f"$x%02x").mkString
  }

  /** True when the optimized plan reads a route's rollup artifact (the
    * routes keep them under `<name>_route` directories).
    */
  def readsRoute(df: DataFrame): Boolean =
    Pipeline.relationRoots(df).exists(_.contains("_route"))

  def run(r: Run): Unit = {
    val spark = r.spark
    val dir = r.dir("mix-data")
    r.setup {
      MixData.write(spark, dir, dataSeed)
      SparkEntry.prepareTimed(spark, dir).foreach { case (step, ms) =>
        r.sample(s"prepare.${step}_ms", ms.toDouble)
      }
    }
    val order = {
      val k = java.lang.Math.floorMod(r.seed, queries.size.toLong).toInt
      queries.drop(k) ++ queries.take(k)
    }

    /** Runs one query; returns its rows, time and plan, or None if it threw. */
    def one(name: String): Option[(Array[Row], Double, DataFrame)] = {
      val req = Trace.newRequest()
      val t0 = System.nanoTime()
      Trace.span("query", "client", req) {
        r.attempt(name) {
          // the operator code builds the plan (and runs any eager jobs)
          val df = Trace.span("build", "operators", req)(SparkEntry.queries(name)(spark, dir))
          Trace.span("plan", "plans.Route", req)(df.queryExecution.optimizedPlan)
          val rows = Trace.span("execute", "spark.query", req)(df.collect())
          (rows, Run.ms(t0), df)
        }
      }
    }

    // first pass, untimed: every answer against its pinned hash
    order.foreach { name =>
      one(name).foreach { case (rows, _, df) =>
        val h = resultHash(df, rows)
        r.check(s"$name.pinned_hash", pinned.get(name).contains(h),
          s"answer hash $h, pinned ${pinned.getOrElse(name, "none")}")
        if (routed(name)) r.check(s"$name.route_used", readsRoute(df), "query was not routed")
      }
    }

    Layers.windowStart(r)
    val t0 = System.nanoTime()
    var answered = 0
    // whole passes until the window is spent, at least two
    var passes = 0
    while (Run.ms(t0) < r.seconds * 1000.0 || passes < 2) {
      val p0 = System.nanoTime()
      order.foreach { name =>
        one(name).foreach { case (_, ms, df) =>
          answered += 1
          r.sample(s"q.${name}_ms", ms)
          if (routed(name)) r.sample("route.routed", if (readsRoute(df)) 1.0 else 0.0)
          if (r.traced) r.sample("scan.files", Layers.scanFiles(df))
        }
      }
      r.sample("mix_pass_s", Run.ms(p0) / 1000)
      passes += 1
    }
    r.sample("queries_per_s", answered / (Run.ms(t0) / 1000))
    Layers.windowEnd(r)
  }
}
