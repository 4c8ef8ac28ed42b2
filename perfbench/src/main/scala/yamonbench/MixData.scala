package yamonbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The `declared_mix` data set: the ten tables `graft.SparkEntry`'s
  * queries read (`graft.Tables.names`), with the schemas and value ranges
  * of the engine's small test scale, generated from one seed. The
  * documents draw from a 31-word vocabulary, and every tenth one copies
  * an earlier document with a few words changed, so the dedup, containment
  * and span queries have near-duplicates to find; the embeddings are unit
  * vectors scattered around ten label centroids.
  */
object MixData {
  val documents = 500
  val embeddings = 500
  val dims = 64
  val events = 1000
  val orders = 1500
  val lineitems = 6000

  val vocabulary: Vector[String] = Vector("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")
  private val langs = Vector("en", "en", "en", "fr", "es", "zh", "de")
  private val eventTypes = Vector("signup", "click", "error", "view", "purchase")
  private val day = 86400000000L
  private val start2024 = 1704067200000000L

  private def round2(x: Double): Double = math.rint(x * 100) / 100
  private def ts(micros: Long) = new java.sql.Timestamp(micros / 1000L)

  private def f(name: String, t: DataType) = StructField(name, t)

  /** Rows and schema of every table, as a pure function of `seed`. */
  def tables(seed: Long): Seq[(String, StructType, Seq[Row])] = {
    val rng = new SplittableRandom(seed)
    val docs = scala.collection.mutable.ArrayBuffer.empty[Vector[String]]
    (0 until documents).foreach { i =>
      val words =
        if (i % 10 == 9) {
          val src = docs(rng.nextInt(docs.size)).toArray
          (0 until 1 + rng.nextInt(3)).foreach(_ => src(rng.nextInt(src.length)) =
            vocabulary(rng.nextInt(vocabulary.size)))
          src.toVector
        } else Vector.fill(10 + rng.nextInt(90))(vocabulary(rng.nextInt(vocabulary.size)))
      docs += words
    }
    val documentRows = docs.zipWithIndex.map { case (ws, i) =>
      val text = ws.mkString(" ")
      Row(i.toLong, text, langs(rng.nextInt(langs.size)), s"src${i % 20}", text.length.toLong)
    }.toSeq
    val centroids = Vector.fill(10)(Vector.fill(dims)(rng.nextDouble() * 2 - 1))
    val embeddingRows = (0 until embeddings).map { i =>
      val label = rng.nextInt(10)
      val v = centroids(label).map(_ + (rng.nextDouble() * 2 - 1) * 0.6)
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat), label)
    }
    val eventRows = (0 until events).map { i =>
      Row(i.toLong, ts(start2024 + (rng.nextDouble() * 30 * day).toLong), rng.nextInt(15).toLong,
        eventTypes(rng.nextInt(eventTypes.size)), round2(rng.nextDouble() * 330),
        s"""{"k": ${rng.nextInt(100)}}""")
    }
    val orderRows = (0 until orders).map { i =>
      Row(i.toLong, rng.nextInt(150).toLong, if (rng.nextBoolean()) "F" else "O",
        round2(1000 + rng.nextDouble() * 200000),
        ts(788918400000000L + rng.nextInt(2500) * day), s"${1 + rng.nextInt(5)}-PRIORITY")
    }
    val lineRows = (0 until lineitems).map { i =>
      val qty = (1 + rng.nextInt(50)).toDouble
      Row((i / 4).toLong, rng.nextInt(200).toLong, rng.nextInt(10).toLong, i % 4 + 1, qty,
        round2(qty * (900 + rng.nextDouble() * 1100)), rng.nextInt(11) / 100.0,
        rng.nextInt(9) / 100.0, Vector("A", "N", "R")(rng.nextInt(3)),
        if (rng.nextBoolean()) "F" else "O", ts(788918400000000L + rng.nextInt(2500) * day))
    }
    Seq(
      ("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
        Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
          .map { case (n, i) => Row(i, n) }),
      ("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
        f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))),
      ("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
        f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
        (0 until 150).map(i => Row(i.toLong, f"Customer#$i%09d", rng.nextInt(25),
          round2(rng.nextDouble() * 10000), Vector("BUILDING", "FURNITURE", "MACHINERY")(i % 3)))),
      ("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
        f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
        (0 until 10).map(i => Row(i.toLong, f"Supplier#$i%09d", rng.nextInt(25),
          round2(rng.nextDouble() * 10000)))),
      ("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
        f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
        f("p_retailprice", DoubleType))),
        (0 until 200).map(i => Row(i.toLong, s"part $i", s"Brand#${1 + rng.nextInt(25)}",
          Vector("ECONOMY", "STANDARD", "PROMO")(i % 3), 1 + rng.nextInt(50),
          round2(900 + i / 10.0)))),
      ("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
        f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
        f("o_orderdate", TimestampType), f("o_orderpriority", StringType))), orderRows),
      ("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
        f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
        f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
        f("l_returnflag", StringType), f("l_linestatus", StringType),
        f("l_shipdate", TimestampType))), lineRows),
      ("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
        f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
        f("props", StringType))), eventRows),
      ("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
        f("lang", StringType), f("source", StringType), f("n_chars", LongType))), documentRows),
      ("embeddings", StructType(Seq(f("vec_id", LongType), f("embedding", ArrayType(FloatType)),
        f("label", IntegerType))), embeddingRows))
  }

  /** Writes every table as the single parquet file `dir/<name>.parquet`,
    * the layout of the engine's test data.
    */
  def write(spark: SparkSession, dir: String, seed: Long): Unit =
    tables(seed).foreach { case (name, schema, rows) =>
      val tmp = new File(dir, s".$name")
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().filter(f => f.getName.startsWith("part-")).head
      Files.move(part.toPath, new File(dir, s"$name.parquet").toPath,
        StandardCopyOption.REPLACE_EXISTING)
      Run.deleteTree(tmp)
    }
}
