package yamonbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import graft.SparkEntry

/** Writes the `declared_mix` data set and its answers for the DuckDB
  * cross-check of the pinned hashes, and prints each answer's hash:
  *
  * {{{
  * MixOracle DATA_DIR OUT_DIR
  * python3 tools/compare.py DATA_DIR OUT_DIR
  * }}}
  *
  * `DATA_DIR` gets the ten tables; `OUT_DIR` gets one parquet answer per
  * mix query and `oracle_sql.json`, the engine's oracle SQL of the mix
  * queries that have one: the layout `tools/compare.py` reads.
  */
object MixOracle {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, outDir) = args
    val work = new File(outDir, "work")
    val spark = Main.session(Runtime.getRuntime.availableProcessors(), work)
    MixData.write(spark, dataDir, Mix.dataSeed)
    SparkEntry.prepare(spark, dataDir)
    Mix.queries.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dataDir)
      println(s"""    "$name" -> "${Mix.resultHash(df, df.collect())}",""")
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => Mix.queries.contains(k) }
    Files.write(new File(outDir, "oracle_sql.json").toPath,
      Json.Obj(oracle.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.Str(v) }).render
        .getBytes(StandardCharsets.UTF_8))
    spark.stop()
    Run.deleteTree(work)
  }
}
