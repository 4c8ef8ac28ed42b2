package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions

/** Similarity search over the `embeddings` table (vec_id, embedding:
  * Array[Float] len 64, label).
  *
  * Scale notes: the brute-force path broadcasts the (small) query set and
  * streams the corpus once — no corpus shuffle, dot products run inside
  * whole-stage codegen via `zip_with`/`aggregate`. Top-k per query is
  * TWO-PHASE ([[perQueryTopK]]): local per-split ranks reduce the corpus
  * to ≤ k×splits survivors before any per-qid exchange, so a 3-5-query
  * workload never funnels the scored corpus through 3-5 reducer tasks.
  * At 100 TB you additionally reduce with the LSH-bucketed variant so
  * only candidate buckets are scored at all.
  */
object VectorOps {

  /** Elementwise dot product in double precision via the native codegen'd
    * [[graft.functions.DotProduct]] expression (floats widened per element;
    * same sequential ascending fold as the `aggregate(zip_with(...))`
    * formulation, so values are bit-identical — just without the
    * interpreted higher-order-function overhead in the pair-scoring loop).
    * Callers must have run [[VectorFunctions.ensureRegistered]].
    */
  private def dot(a: Column, b: Column): Column = VectorFunctions.dot(a, b)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  /** Two-phase per-query top-k over corpus-scored rows — the de-funneled
    * replacement for `Window.partitionBy("qid")` over the whole scored
    * corpus. A fixed retrieval workload has 3-5 qids, so a single per-qid
    * window would funnel EVERY scored row through 3-5 reducer tasks (the
    * same failure class [[graft.operators.TextOps.stratifiedSample]]
    * documents for strata): correct at sf0.1, a wall at 100×. Instead
    * each input split ranks its LOCAL top-k per qid (parallelism =
    * qids × splits, no data movement — `spark_partition_id` is evaluated
    * where the scored row already lives), and the global per-qid window
    * ranks only the ≤ k×splits survivors. The global top-k of a union of
    * local top-ks is exact, and the result is independent of the
    * (nondeterministic) split assignment — any superset of the true
    * top-k yields the same final rows, the [[stratifiedSample]] argument.
    *
    * `scored` must carry `qid`, `scoreCol` and `idCol`; ranks order by
    * (score desc, idCol) — the same deterministic total order the
    * single-window formulation used, so results are bit-identical.
    */
  private def perQueryTopK(scored: DataFrame, k: Int, idCol: String,
      rankName: String, scoreCol: String = "cosine"): DataFrame = {
    val local = Window.partitionBy(col("qid"), col("split"))
      .orderBy(col(scoreCol).desc, col(idCol))
    val global = Window.partitionBy("qid").orderBy(col(scoreCol).desc, col(idCol))
    scored
      .withColumn("split", spark_partition_id())
      .withColumn("lrk", row_number().over(local))
      .filter(col("lrk") <= k)
      .withColumn(rankName, row_number().over(global).cast("long"))
      .filter(col(rankName) <= k)
      .drop("split", "lrk")
  }

  /** Brute-force cosine top-10 for query vectors vec_id < 5 against the
    * whole corpus. Cosine is rounded to 4 decimals (and ranked on the
    * rounded value, tie-broken by id) so the result is exactly comparable
    * across engines and summation orders.
    */
  def cosineTopK(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.ensureRegistered(spark)
    // norms are materialized once per vector before the pair join, so each
    // scored pair costs exactly one 64-element dot product
    val emb = Tables.embeddings(spark, dir)
      .withColumn("nrm", norm(col("embedding")))
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
    val scored = emb.select(col("vec_id").as("nid"), col("embedding").as("ne"), col("nrm").as("nn"))
      .join(broadcast(queries), col("qid") =!= col("nid"))
      .withColumn("cosine",
        round(dot(col("qe"), col("ne")) / (col("qn") * col("nn")), 4))
    perQueryTopK(scored, 10, "nid", "rn")
      .select("qid", "nid", "cosine", "rn")
      .orderBy("qid", "rn")
  }

  /** Near-duplicate pairs by embedding cosine above a threshold, restricted
    * to same-label blocks (blocking keeps the self-join linear-ish; the
    * unblocked exact variant is [[cosineTopK]]'s machinery).
    */
  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame =
    embedNearDupPairs(spark, dir).orderBy("vec_a", "vec_b")

  /** [[embeddingNearDup]] without the presentation sort — consumers that
    * feed the pair set onward (clustering) skip the global range exchange.
    */
  private[operators] def embedNearDupPairs(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.ensureRegistered(spark)
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), col("label"))
      .withColumn("nrm", norm(col("embedding")))
    emb.as("a").join(emb.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cosine",
        round(dot(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm")), 4))
      .filter(col("cosine") >= 0.35)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("cosine"))
  }

  /** All-vectors kNN GRAPH — each vector's top-`k` nearest neighbors by
    * exact cosine among its LSH bucket collisions: the primitive under
    * SemDeDup-style pruning, dedup-graph construction and hard-negative
    * mining, where EVERY vector is a query (unlike [[cosineTopK]]'s fixed
    * query set, which broadcasts because it is tiny by definition).
    *
    * Spark-first shape: the query side is the same row-wise bucket
    * projection the index build runs ([[lshBucketArr]]); the (t, bucket)
    * equality join replaces the n² self-join — per-vector candidate work
    * is O(tables × maxBucket) regardless of corpus size — and the
    * per-vector top-k window partitions on vec_id (millions of tiny
    * partitions, the shape window exchanges shard well). Recall rides the
    * LSH tables and concentrates on HIGH-cosine neighbors (the ones
    * semantic pipelines act on): pinned ≥0.9 for planted near-duplicates
    * in VectorOpsSpec on a strong-neighbor corpus; the driver fixture's
    * weak-angular "neighbors" (cosine ~0.3) make its row a rows-only
    * check, like the other sketch-defined ANN surfaces.
    */
  def knnJoin(spark: SparkSession, dir: String, k: Int = 3,
      maxBucket: Int = 256): DataFrame = {
    VectorFunctions.ensureRegistered(spark)
    val (idx, bits) = cachedLshIndex(spark, dir, maxBucket)
    val q = Tables.embeddings(spark, dir)
      .withColumn("nrm", norm(col("embedding")))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        explode(lshBucketArr(col("embedding"), bits)).as("tb"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    val w = Window.partitionBy("vec_id").orderBy(col("cosine").desc, col("nid"))
    q.join(idx, Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("nid"))
      // same rounded-presentation cosine as cosineTopK: rank on the
      // rounded value, tie-break by nid — a deterministic total order
      .select(col("vec_id"), col("nid"),
        round(dot(col("embedding"), col("ne")) /
          (col("nrm") * col("nn")), 4).as("cosine"))
      // ONE exchange for dedup + window (r16): hash-partitioning on
      // vec_id alone satisfies the (vec_id, nid) dedup's clustered
      // distribution AND the top-k window's, so the explicit
      // repartition replaces the planner's back-to-back
      // hashpartitioning(vec_id, nid) → hashpartitioning(vec_id)
      // pair — the candidate set (the query's bulk) crosses the wire
      // once. Per-key size stays bounded: a vector's candidates are
      // ≤ tables × maxBucket regardless of corpus size. Duplicate
      // (vec_id, nid) rows carry the same deterministic cosine, so
      // which one the dedup keeps is immaterial.
      .repartition(col("vec_id"))
      .dropDuplicates("vec_id", "nid")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("vec_id", "rk", "nid", "cosine")
      .orderBy("vec_id", "rk")
  }

  /** Exact within-block kNN graph — the ORACLE-EXACT exactness tier of
    * the hash-defined [[knnJoin]] (the same approx↔exact twin pairing
    * as q_distinct_approx/q_distinct_daily): each vector's top-`k`
    * nearest same-label neighbors by exact cosine. Blocking on the
    * label ([[embeddingNearDup]]'s contract — the label is the
    * SemDeDup-cluster stand-in) bounds the self-join to
    * block-quadratic, so the exactness tier stays runnable at corpus
    * scale wherever blocks are bounded; the UNBLOCKED corpus-wide graph
    * is [[knnJoin]]'s LSH territory. Rank windows partition on vec_id —
    * millions of tiny partitions, the shape that shards well — with the
    * rounded-cosine (desc, nid) deterministic total order shared with
    * [[cosineTopK]], which is what makes the DuckDB replay hash-exact.
    */
  def knnBlocked(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    VectorFunctions.ensureRegistered(spark)
    val emb = Tables.embeddings(spark, dir)
      .withColumn("nrm", norm(col("embedding")))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("nid"))
    emb.as("a").join(emb.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("qid"), col("b.vec_id").as("nid"),
        round(dot(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm")), 4).as("cosine"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("qid").as("vec_id"), col("rk"), col("nid"), col("cosine"))
      .orderBy("vec_id", "rk")
  }

  /** Semantic-dedup SCRUB — the action face of [[embedClusters]]'s
    * report (the same report→scrub pairing as dupSpans→spanScrub): keep
    * exactly one vector per near-duplicate cluster (the component-minimum
    * canonical, deterministic), emitting each survivor with its cluster
    * size — the SemDeDup-style pruning step that keeps semantic
    * near-copies out of a training corpus and out of ANN indexes (whose
    * quantized tie-breaking degrades on duplicate-heavy corpora — see
    * SCALE.md's IVF-PQ rerank lesson).
    *
    * Scale shape: composes on the cluster map with one canonical-keyed
    * aggregate and one id-equality join — no new pair-granularity work;
    * survivors join back to the corpus on the primary key, which AQE
    * broadcasts when the cluster map is small.
    */
  def embedPrune(spark: SparkSession, dir: String): DataFrame = {
    val sizes = embedClusters(spark, dir)
      .groupBy("canonical").agg(count(lit(1)).as("n_members"))
    Tables.embeddings(spark, dir)
      .join(sizes, col("vec_id") === col("canonical"))
      .select(col("vec_id"), col("label"), col("n_members"))
      .orderBy("vec_id")
  }

  /** Incremental EMBEDDING dedup — the vector face of
    * [[TextOps.incrementalDedup]]: a NEW batch of vectors (the
    * `vec_id % 10 == 9` slice, the stand-in for today's crawl) is checked
    * against the EXISTING corpus only — the existing×existing quadrant
    * never exists in the plan. Blocking and threshold match
    * [[embeddingNearDup]] (same-label blocks, cosine >= 0.35), and the
    * arithmetic is the hybrid-dedup exact chain: one native codegen'd dot
    * per candidate pair in index order, two correctly-rounded sqrts, one
    * division — bit-identical on both engines, so the emitted cosine and
    * the >= gate need no rounding.
    *
    * Scale shape: the batch side is small by definition (one crawl day
    * vs the corpus) — AQE broadcasts it into the label-blocked join; the
    * corpus side streams once with norms folded row-wise. The streaming
    * twin ([[graft.streaming.VectorStream]]) replaces the label block
    * with LSH bucket collision so each arriving vector touches only its
    * buckets, trading exact recall for corpus-scan independence.
    */
  def incrEmbedDedup(spark: SparkSession, dir: String,
      cosT: Double = 0.35): DataFrame = {
    VectorFunctions.ensureRegistered(spark)
    val emb = Tables.embeddings(spark, dir)
      .withColumn("nrm", norm(col("embedding")))
    val isNew = col("vec_id") % 10 === 9
    val newB = emb.filter(isNew)
      .select(col("vec_id").as("vec_new"), col("embedding").as("en"),
        col("label"), col("nrm").as("nn"))
    val existing = emb.filter(!isNew)
      .select(col("vec_id").as("vec_corpus"), col("embedding").as("ec"),
        col("label"), col("nrm").as("nc"))
    existing.join(broadcast(newB), "label")
      .withColumn("cosine", dot(col("en"), col("ec")) / (col("nn") * col("nc")))
      .filter(col("cosine") >= cosT)
      .select("vec_new", "vec_corpus", "cosine")
      .orderBy("vec_new", "vec_corpus")
  }

  /** Embedding dedup clustering: connected components over the cosine
    * near-dup pair graph — one canonical vector per near-duplicate cluster
    * (component-minimum vec_id), singletons map to themselves. Shares
    * [[TextOps.clusterPairs]]: driver union-find while the pair list fits
    * under the broadcast-style threshold, distributed min-label
    * propagation past it.
    */
  def embedClusters(spark: SparkSession, dir: String): DataFrame =
    TextOps.clusterPairs(
      Tables.embeddings(spark, dir).select(col("vec_id").as("doc_id")),
      embedNearDupPairs(spark, dir).select("vec_a", "vec_b"))
      .select(col("doc_id").as("vec_id"), col("canonical"))

  /** Deterministic pseudo-random directions in [-0.5, 0.5)^dim. Generated
    * once at plan-build time with a fixed-seed `java.util.Random` (the LCG
    * is spec-fixed, so every JVM produces the same codebook) and embedded
    * as `typedlit` array literals — true plan constants: zero jobs, zero
    * runtime hashing, nothing driver-data-dependent.
    */
  private def pseudoDirections(seed: Long, count: Int, dim: Int = 64): IndexedSeq[Seq[Double]] = {
    val rnd = new java.util.Random(seed)
    IndexedSeq.fill(count)(Seq.fill(dim)(rnd.nextDouble() - 0.5))
  }

  private val nCentroids = 16
  private val ivfCodebook = pseudoDirections(seed = 42, count = nCentroids)

  /** IVF list count scales ~sqrt(n) with the corpus (floor 8, cap 256 —
    * the cap bounds codebook-literal plan size; past it, grow nProbe or
    * shard). A fixed 16 keeps every list at n/16 vectors, so at 100 TB a
    * probe scans ~6% of the corpus no matter how big it gets; sqrt lists
    * keep probed-fraction shrinking as the corpus grows — the same
    * corpus-scaling move [[lshBitsFor]] makes for LSH code width.
    */
  private[graft] def ivfCentroidsFor(n: Long): Int =
    math.max(8, math.min(256, math.ceil(math.sqrt(math.max(n, 1L).toDouble)).toInt))

  /** Probe count follows list count at ~sqrt(nlist) with the round-4
    * floor of 4 — candidate fraction nProbe/nlist then falls as the
    * corpus grows instead of pinning at 25%.
    */
  private[graft] def ivfProbesFor(nlist: Int): Int =
    math.max(4, math.ceil(math.sqrt(nlist.toDouble)).toInt)

  /** Per-row array of (sim-to-centroid, cid) structs against a literal
    * IVF codebook. Normalizing by the *vector* norm is skipped — it is
    * constant across centroids, so argmax/ordering are unaffected; the
    * centroid norms are Scala-side constants folded into the literal.
    */
  private def centroidSims(e: Column,
      codebook: IndexedSeq[Seq[Double]]): Column = array(codebook.zipWithIndex.map {
    case (c, cid) =>
      val cn = math.sqrt(c.map(x => x * x).sum)
      struct((dot(e, typedlit(c)) / lit(cn)).as("sim"), lit(cid).as("cid"))
  }: _*)

  /** IVF list assignment as ONE inline projection over the corpus scan:
    * `array_max` over the 16 literal-codebook similarities picks the
    * nearest centroid per row. No count job, no join, no window, no
    * exchange — the round-1 version paid an `emb.count()` driver action
    * plus a 16× corpus explode through a `row_number` window (a full
    * shuffle); this is the zero-shuffle shape that survives 100 TB.
    * Exposed for the PlanSpec no-Exchange assertion.
    */
  private[graft] def ivfAssigned(emb: DataFrame,
      codebook: IndexedSeq[Seq[Double]] = ivfCodebook): DataFrame =
    emb.withColumn("cid",
      array_max(centroidSims(col("embedding"), codebook)).getField("cid"))

  private val ivfCodebookCache =
    scala.collection.concurrent.TrieMap[String, IndexedSeq[Seq[Double]]]()

  /** Deterministic spherical k-means codebook: Lloyd iterations over a
    * fixed corpus sample (lowest 1024 vec_ids), cosine assignment, fixed
    * iteration count, no randomness — every run of every JVM produces the
    * same centroids. A trained codebook concentrates true neighbors in the
    * same lists, which is what lets `nProbe` drop from 10 (untrained
    * random codebook, round 2) to 4 while holding the recall contract.
    * List count derives from the corpus size ([[ivfCentroidsFor]]).
    */
  private[graft] def trainedCodebook(spark: SparkSession,
      dir: String): IndexedSeq[Seq[Double]] =
    ivfCodebookCache.getOrElseUpdate(fpKey(dir), {
      val k = ivfCentroidsFor(Tables.embeddings(spark, dir).count())
      val sample = Tables.embeddings(spark, dir)
        .orderBy("vec_id").limit(1024)
        .select("embedding").collect()
        .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      def normed(v: Array[Double]): Array[Double] = {
        val n = math.sqrt(v.map(x => x * x).sum)
        if (n == 0) v else v.map(_ / n)
      }
      val data = sample.map(normed)
      val dim = data.head.length
      // init: evenly strided sample vectors (deterministic, spread out)
      var cents = Array.tabulate(k)(i =>
        data(((i.toLong * data.length) / k).toInt))
      for (_ <- 0 until 10) {
        val sums = Array.fill(k)(new Array[Double](dim))
        val counts = new Array[Int](k)
        data.foreach { v =>
          var best = 0; var bestDot = Double.MinValue
          for (c <- 0 until k) {
            var d = 0.0; var i = 0
            while (i < dim) { d += v(i) * cents(c)(i); i += 1 }
            if (d > bestDot) { bestDot = d; best = c }
          }
          var i = 0
          while (i < dim) { sums(best)(i) += v(i); i += 1 }
          counts(best) += 1
        }
        cents = Array.tabulate(k)(c =>
          if (counts(c) > 0) normed(sums(c)) else cents(c))
      }
      cents.map(_.toSeq).toIndexedSeq
    })

  private val ivfAssignedCache =
    scala.collection.concurrent.TrieMap[String, DataFrame]()

  /** Fingerprint of the trained coarse codebook — the IVF serving
    * table's MODEL identity ([[AnnServing]]'s `_meta` gate): a
    * regenerated codebook (different sample, iteration count, or
    * trainer) must cascade a rebuild of the stored assignments, never
    * pair with them.
    */
  private[graft] def ivfModelFp(spark: SparkSession, dir: String): String =
    Artifacts.modelFingerprint("ivf-v1:" +
      trainedCodebook(spark, dir).map(_.mkString(",")).mkString(";"))

  /** The per-vector IVF assignment rows over an embeddings slice — the
    * ONE projection build, append, and rebuild all run ([[AnnServing]]'s
    * family contract): map-only, zero-shuffle, a pure function of
    * (vector, codebook), which is what makes maintained appends
    * converge on the full rebuild's row set exactly.
    */
  private[graft] def ivfAssignedRows(spark: SparkSession, dir: String,
      emb: DataFrame): DataFrame = {
    VectorFunctions.ensureRegistered(spark)
    val withN = emb.withColumn("nrm", norm(col("embedding")))
    ivfAssigned(withN, trainedCodebook(spark, dir))
      .select(col("vec_id").as("nid"), col("embedding").as("ne"),
        col("nrm").as("nn"), col("label"), col("cid"))
  }

  /** The corpus with its IVF list assignment — SERVED FROM THE
    * MAINTAINED ARTIFACT (r14): [[AnnServing.ensureIvf]] builds the
    * cid-partitioned assignment table once at ingest; every JVM after
    * that re-reads precomputed rows instead of re-running the
    * 16-dot-per-row argmax over the corpus (at 100 TB: a pruned
    * partition read per probe vs a full-corpus pass per restart). The
    * in-memory persist is the serving tier on top.
    */
  private[graft] def cachedIvfAssigned(spark: SparkSession, dir: String): DataFrame =
    ivfAssignedCache.getOrElseUpdate(fpKey(dir), {
      val root = AnnServing.ensureIvf(spark, dir)
      val assigned = AnnServing.load(spark, root, AnnServing.Ivf,
        ivfModelFp(spark, dir))
        .select("nid", "ne", "nn", "cid", "label")
        .persist()
      assigned.count()
      assigned
    })

  /** ANN via IVF (inverted file index): a spherical-k-means-trained literal
    * codebook ([[trainedCodebook]]), inline argmax assignment
    * ([[ivfAssigned]]), queries probe their `nProbe` nearest lists and are
    * scored exactly only within them — one distributed pass: assignment
    * projection on the scan → broadcast probe-list join → score → per-query
    * top-k aggregation. The 100 TB shape: no index shuffle at all, the
    * scoring join touches ~nProbe/nCentroids of the corpus instead of all
    * of it. Recall vs brute force is asserted in VectorOpsSpec. (No SQL
    * oracle — recall is index-defined; rows-only.)
    */
  /** Driver-side probe lists: the `probeN` nearest centroids per query. */
  private def ivfProbeRows(queries: IndexedSeq[(Long, IndexedSeq[Float], Double)],
      codebook: IndexedSeq[Seq[Double]], probeN: Int): Seq[(Int, Int)] =
    queries.indices.flatMap { qi =>
      val qv = queries(qi)._2
      codebook.zipWithIndex.map { case (c, cid) =>
        val cn = math.sqrt(c.map(x => x * x).sum)
        (dotScala(qv, c) / cn, cid)
      }.sortBy { case (s, cid) => (-s, cid) }.take(probeN)
        .map { case (_, cid) => (qi, cid) }
    }

  def annIvf(spark: SparkSession, dir: String, nProbe: Int = 0): DataFrame = {
    VectorFunctions.ensureRegistered(spark)
    import spark.implicits._
    val codebook = trainedCodebook(spark, dir)
    // nProbe <= 0 → derive from the list count (~sqrt(nlist), floor 4)
    val probeN = if (nProbe > 0) nProbe else ivfProbesFor(codebook.size)
    val queries = cachedQueryVecs(spark, dir)
    val probes = ivfProbeRows(queries, codebook, probeN).toDF("qi", "cid")
    val assigned = cachedIvfAssigned(spark, dir)
    val qidLit = element_at(typedlit(queries.map(_._1)), col("qi") + 1)
    val qeLit = element_at(typedlit(queries.map(_._2.toSeq)), col("qi") + 1)
    val qnLit = element_at(typedlit(queries.map(_._3)), col("qi") + 1)
    // every nid has exactly one cid and probe lists are distinct, so
    // (qi, nid) rows are already unique — collect_set is pure top-k here
    assigned.join(broadcast(probes), Seq("cid"))
      .filter(qidLit =!= col("nid"))
      .select(col("qi"), col("nid"),
        round(dot(qeLit, col("ne")) / (qnLit * col("nn")), 4).as("cosine"))
      .groupBy("qi")
      .agg(slice(array_sort(collect_set(
        struct((-col("cosine")).as("nc"), col("nid").as("nid")))), 1, 10).as("top"))
      .select(col("qi"), posexplode(col("top")))
      .select(qidLit.as("qid"), col("col.nid").as("nid"),
        (-col("col.nc")).as("cosine"), (col("pos") + 1).cast("long").as("rn"))
      .orderBy("qid", "rn")
  }

  /** Metadata-filtered exact similarity search: brute-force cosine top-10
    * per query restricted to rows whose `label` equals the query's target
    * class (target = qid — each query searches one label partition). The
    * filtered variant every production vector store ships ("similar docs
    * among lang=X"); this is the exact reference [[annIvfFiltered]]'s
    * recall is pinned against, and it is DuckDB-oracle-checked like
    * [[cosineTopK]]. The label filter lands BEFORE scoring — at 100 TB a
    * selective predicate shrinks the scored corpus, it never post-filters
    * a scored result.
    */
  def filteredTopK(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.ensureRegistered(spark)
    val emb = Tables.embeddings(spark, dir)
      .withColumn("nrm", norm(col("embedding")))
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
    val scored = emb
      .select(col("vec_id").as("nid"), col("embedding").as("ne"),
        col("label").as("nlabel"), col("nrm").as("nn"))
      .join(broadcast(queries),
        col("qid") =!= col("nid") && col("nlabel") === col("qid").cast("int"))
      .withColumn("cosine",
        round(dot(col("qe"), col("ne")) / (col("qn") * col("nn")), 4))
    perQueryTopK(scored, 10, "nid", "rn")
      .select("qid", "nid", "cosine", "rn")
      .orderBy("qid", "rn")
  }

  /** Metadata-filtered ANN with the production adaptive rule. A label
    * filter interacts with IVF probing in two regimes:
    *  - SELECTIVE filter (small class): probed lists are mostly empty of
    *    the class, and recall collapses when labels are independent of
    *    geometry — so below `bruteBelow` members the right plan is to
    *    score the whole class exactly (cheap BECAUSE the filter is
    *    selective; this is the FAISS/Milvus-style selectivity fallback).
    *  - BROAD filter (large class): probe as usual with the net deepened
    *    `deepen`× — the filter thins every list, so recall is bought
    *    back by visiting more lists, never by scoring rejected rows.
    * The class-size decision reads one label-cardinality aggregate
    * (vocab-bounded). Spec pins BOTH paths exactly equal to
    * [[filteredTopK]] (the brute path by construction; the probe path at
    * full probe depth); rows-only driver row like the ANN family.
    */
  def annIvfFiltered(spark: SparkSession, dir: String, deepen: Int = 3,
      bruteBelow: Long = 500L): DataFrame = {
    VectorFunctions.ensureRegistered(spark)
    import spark.implicits._
    val codebook = trainedCodebook(spark, dir)
    val probeN = math.min(codebook.size, ivfProbesFor(codebook.size) * deepen)
    val all = cachedQueryVecs(spark, dir)
    val sizes = cachedIvfAssigned(spark, dir)
      .groupBy("label").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // PER-QUERY decision — a single global choice would deny the exact
    // fallback to a selective-class query whenever some OTHER query in
    // the workload targets a broad class
    val (bruteQs, probeQs) =
      all.partition(q => sizes.getOrElse(q._1.toInt, 0L) <= bruteBelow)
    val parts = Seq.newBuilder[DataFrame]
    if (bruteQs.nonEmpty)
      parts += filteredTopK(spark, dir)
        .filter(col("qid").isin(bruteQs.map(_._1): _*))
    if (probeQs.nonEmpty) {
      val queries = probeQs
      val probes = ivfProbeRows(queries, codebook, probeN).toDF("qi", "cid")
      val assigned = cachedIvfAssigned(spark, dir)
      val qidLit = element_at(typedlit(queries.map(_._1)), col("qi") + 1)
      val qeLit = element_at(typedlit(queries.map(_._2.toSeq)), col("qi") + 1)
      val qnLit = element_at(typedlit(queries.map(_._3)), col("qi") + 1)
      parts += assigned.join(broadcast(probes), Seq("cid"))
        .filter(qidLit =!= col("nid") && col("label") === qidLit.cast("int"))
        .select(col("qi"), col("nid"),
          round(dot(qeLit, col("ne")) / (qnLit * col("nn")), 4).as("cosine"))
        .groupBy("qi")
        .agg(slice(array_sort(collect_set(
          struct((-col("cosine")).as("nc"), col("nid").as("nid")))), 1, 10).as("top"))
        .select(col("qi"), posexplode(col("top")))
        .select(qidLit.as("qid"), col("col.nid").as("nid"),
          (-col("col.nc")).as("cosine"), (col("pos") + 1).cast("long").as("rn"))
    }
    parts.result().reduce(_ unionByName _).orderBy("qid", "rn")
  }

  /** Hybrid lexical+vector retrieval by reciprocal-rank fusion — the
    * modern RAG retrieval stack in one query: BM25 ranks (the keyword
    * workload) fuse with exact-cosine ranks (the query document's
    * embedding — queries share the doc_id = vec_id id space) as
    * rrf = 1/(60+r_lex) + 1/(60+r_vec) over the union of both depth-50
    * lists, absent ranks contributing 0. Every input rank is a
    * deterministic total order and the fusion arithmetic is two exact
    * double divisions summed in literal order, so the fused ranking is
    * DuckDB-oracle-exact — rare for a retrieval stack.
    *
    * Scale shape: both subsystems are the already-shipped bounded-cost
    * paths (hit-set BM25, broadcast-query cosine); the fusion join is
    * depth×queries rows — workload-sized, trivially broadcastable.
    */
  def hybridSearch(spark: SparkSession, dir: String, k: Int = 10,
      depth: Int = 50, rrfK: Int = 60): DataFrame = {
    VectorFunctions.ensureRegistered(spark)
    val lex = TextOps.bm25TopK(spark, dir, depth)
      .select(col("qid"), col("doc_id"), col("rank").as("rb"))
    val emb = Tables.embeddings(spark, dir)
      .withColumn("nrm", norm(col("embedding")))
    val queries = emb.filter(col("vec_id").isin(1L, 2L, 3L))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
    val vecScored = emb.select(col("vec_id").as("doc_id"), col("embedding").as("ne"),
        col("nrm").as("nn"))
      .join(broadcast(queries), col("qid") =!= col("doc_id"))
      .withColumn("cosine",
        round(dot(col("qe"), col("ne")) / (col("qn") * col("nn")), 4))
    val vec = perQueryTopK(vecScored, depth, "doc_id", "rc")
      .select("qid", "doc_id", "rc")
    val fused = lex.join(vec, Seq("qid", "doc_id"), "full_outer")
      // literal order mirrored by the oracle: lex term + vec term
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(rrfK) + col("rb")).cast("double"), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("rc")).cast("double"), lit(0.0)))
    val wf = Window.partitionBy("qid").orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(wf).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "rank", "doc_id", "rrf")
      .orderBy("qid", "rank")
  }

  // ---- IVF-PQ: compressed in-list scoring --------------------------------

  private val pqSubspaces = 8
  private val pqCodes = 16
  private val pqSubDim = 8 // 64-dim embeddings / pqSubspaces

  /** Deterministic L2 Lloyd iterations — the product-quantizer trainer
    * (plain k-means per subspace; [[trainedCodebook]]'s spherical variant
    * is for the coarse IVF codebook).
    */
  private def kmeansL2(data: Array[Array[Double]], k: Int,
      iters: Int): IndexedSeq[Seq[Double]] = {
    val dim = data.head.length
    var cents = Array.tabulate(k)(i => data(((i.toLong * data.length) / k).toInt))
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      data.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        for (c <- 0 until k) {
          var d = 0.0; var i = 0
          while (i < dim) { val t = v(i) - cents(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(k)(c =>
        if (counts(c) > 0) sums(c).map(_ / counts(c)) else cents(c))
    }
    cents.map(_.toSeq).toIndexedSeq
  }

  private val pqCodebookCache =
    scala.collection.concurrent.TrieMap[String, IndexedSeq[IndexedSeq[Seq[Double]]]]()

  /** Per-subspace PQ codebooks — pqSubspaces × pqCodes sub-centroids of
    * pqSubDim dims, trained on the same deterministic 1024-vector sample
    * as the coarse codebook. A corpus vector compresses to pqSubspaces
    * small codes (8 bytes here vs 256 bytes of floats) — at 100 TB the
    * compressed index is what keeps in-list scoring memory-resident.
    */
  private[graft] def pqCodebooks(spark: SparkSession,
      dir: String): IndexedSeq[IndexedSeq[Seq[Double]]] =
    pqCodebookCache.getOrElseUpdate(fpKey(dir), {
      val sample = Tables.embeddings(spark, dir)
        .orderBy("vec_id").limit(1024)
        .select("embedding").collect()
        .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      (0 until pqSubspaces).map { s =>
        kmeansL2(sample.map(_.slice(s * pqSubDim, (s + 1) * pqSubDim)),
          pqCodes, iters = 10)
      }
    })

  /** Inline argmin encoding for one subspace: nearest sub-centroid by L2,
    * computed as argmax of (2·x·c − ‖c‖²) — ‖x‖² is constant per row. The
    * same literal-codebook projection shape as [[ivfAssigned]]: no
    * exchange, no jobs, stays in codegen.
    */
  private def pqCodeCol(e: Column, cb: IndexedSeq[Seq[Double]], s: Int): Column =
    array_max(array(cb.zipWithIndex.map { case (c, cid) =>
      val cc = c.map(x => x * x).sum
      struct((dot(slice(e, s * pqSubDim + 1, pqSubDim), typedlit(c)) * 2 - lit(cc))
        .as("sim"), lit(cid).as("cid"))
    }: _*)).getField("cid")

  private val pqAssignedCache =
    scala.collection.concurrent.TrieMap[String, DataFrame]()

  /** Fingerprint of the COMPOSED IVF-PQ model (coarse codebook + every
    * per-subspace codebook) — the PQ serving table's `_meta` identity:
    * stored codes under a regenerated quantizer decode to garbage
    * distances, so either codebook moving cascades a rebuild.
    */
  private[graft] def pqModelFp(spark: SparkSession, dir: String): String =
    Artifacts.modelFingerprint("ivfpq-v1:" +
      trainedCodebook(spark, dir).map(_.mkString(",")).mkString(";") + "|" +
      pqCodebooks(spark, dir).map(_.map(_.mkString(",")).mkString(";"))
        .mkString("#"))

  /** The per-vector IVF-PQ rows (coarse list + compressed codes) over an
    * embeddings slice — [[ivfAssignedRows]]' twin for the compressed
    * family, the one projection every maintenance entry runs.
    */
  private[graft] def pqAssignedRows(spark: SparkSession, dir: String,
      emb: DataFrame): DataFrame = {
    VectorFunctions.ensureRegistered(spark)
    val cbs = pqCodebooks(spark, dir)
    val codes = array((0 until pqSubspaces)
      .map(s => pqCodeCol(col("embedding"), cbs(s), s)): _*)
    val withN = emb.withColumn("nrm", norm(col("embedding")))
    ivfAssigned(withN, trainedCodebook(spark, dir))
      .select(col("vec_id").as("nid"), col("embedding").as("ne"),
        col("nrm").as("nn"), codes.as("codes"), col("cid"))
  }

  /** The corpus with coarse IVF list + PQ codes — SERVED FROM THE
    * MAINTAINED ARTIFACT (r14, [[cachedIvfAssigned]]'s rationale): the
    * per-restart cost drops from a full encode pass (16 coarse dots +
    * 8 × 256 subspace argmins per vector) to a partitioned parquet
    * read. Full vectors ride along because the exact re-rank needs
    * them; a storage-bound deployment would keep them in a separate
    * rerank table instead.
    */
  private[graft] def cachedPqAssigned(spark: SparkSession, dir: String): DataFrame =
    pqAssignedCache.getOrElseUpdate(fpKey(dir), {
      val root = AnnServing.ensurePq(spark, dir)
      val assigned = AnnServing.load(spark, root, AnnServing.Pq,
        pqModelFp(spark, dir))
        .select("nid", "ne", "nn", "cid", "codes")
        .persist()
      assigned.count()
      assigned
    })

  /** ANN via IVF-PQ (the FAISS-standard compressed search): queries probe
    * their nearest coarse lists exactly like [[annIvf]], but rows inside
    * the probed lists are first scored by ASYMMETRIC DISTANCE COMPUTATION
    * — the approximate dot is a sum of `pqSubspaces` lookups into the
    * query's precomputed per-subspace table (LUT[s][code] = q_s·c), no
    * vector math per row — and only the top `rerank` compressed matches
    * per query are re-ranked with exact cosine. Scores in the output are
    * EXACT (the quantizer only shapes the candidate pool), which
    * VectorOpsSpec pins along with a recall floor. (Rows-only — recall is
    * index-defined, like the other ANN paths.)
    *
    * The 100 TB shape: the hot scan touches 8-byte codes instead of
    * 256-byte vectors (LUTs are plan literals, broadcast with the probe
    * list), and the expensive exact math runs on `rerank` rows per query
    * instead of every in-list row.
    *
    * rerank <= 0 scales the pool with the expected in-list candidate
    * volume (¼ of it, floor 50, cap 2048). The floor is not enough by
    * itself when the corpus holds large NEAR-DUPLICATE clusters: cluster
    * members quantize to the same codes, ADC cannot order inside the tie,
    * and a fixed pool keeps an arbitrary subset (SCALE.md's ANN row under
    * "Measured scale ratios": recall 0.14 with pool 50 against
    * ~300-member clusters, restored by the scaled pool). Production
    * pipelines dedup embeddings BEFORE indexing ([[embedClusters]])
    * precisely to keep such clusters out.
    */
  def annPq(spark: SparkSession, dir: String, nProbe: Int = 0,
      rerank: Int = 0): DataFrame = {
    VectorFunctions.ensureRegistered(spark)
    import spark.implicits._
    val codebook = trainedCodebook(spark, dir)
    val probeN = if (nProbe > 0) nProbe else ivfProbesFor(codebook.size)
    val queries = cachedQueryVecs(spark, dir)
    val cbs = pqCodebooks(spark, dir)
    val rerankN =
      if (rerank > 0) rerank
      else {
        val n = cachedPqAssigned(spark, dir).count() // persisted: metadata-cheap
        math.min(2048L, math.max(50L, n * probeN / codebook.size / 4)).toInt
      }
    val probes = ivfProbeRows(queries, codebook, probeN).toDF("qi", "cid")
    // ADC lookup tables, one per (query, subspace): LUT[s][code] = q_s·c
    val luts: Seq[Seq[Seq[Double]]] = queries.map { q =>
      (0 until pqSubspaces).map { s =>
        cbs(s).map { c =>
          var d = 0.0; var i = 0
          while (i < pqSubDim) { d += q._2(s * pqSubDim + i) * c(i); i += 1 }
          d
        }.toSeq
      }
    }
    val lutLit = typedlit(luts)
    val adc = (0 until pqSubspaces).map(s =>
      element_at(element_at(element_at(lutLit, col("qi") + 1), s + 1),
        element_at(col("codes"), s + 1) + 1)).reduce(_ + _)
    val qidLit = element_at(typedlit(queries.map(_._1)), col("qi") + 1)
    val qeLit = element_at(typedlit(queries.map(_._2.toSeq)), col("qi") + 1)
    val qnLit = element_at(typedlit(queries.map(_._3)), col("qi") + 1)
    cachedPqAssigned(spark, dir).join(broadcast(probes), Seq("cid"))
      .filter(qidLit =!= col("nid"))
      .select(col("qi"), col("nid"), col("ne"), col("nn"), adc.as("adc"))
      // compressed-score pool: top `rerank` by ADC, vectors carried for
      // the exact pass ((qi, nid) rows are unique, see annIvf)
      .groupBy("qi")
      .agg(slice(array_sort(collect_set(struct((-col("adc")).as("na"),
        col("nid").as("nid"), col("ne").as("ne"), col("nn").as("nn")))),
        1, rerankN).as("pool"))
      .select(col("qi"), explode(col("pool")).as("cand"))
      .select(col("qi"), col("cand.nid").as("nid"),
        round(dot(qeLit, col("cand.ne")) / (qnLit * col("cand.nn")), 4).as("cosine"))
      .groupBy("qi")
      .agg(slice(array_sort(collect_set(
        struct((-col("cosine")).as("nc"), col("nid").as("nid")))), 1, 10).as("top"))
      .select(col("qi"), posexplode(col("top")))
      .select(qidLit.as("qid"), col("col.nid").as("nid"),
        (-col("col.nc")).as("cosine"), (col("pos") + 1).cast("long").as("rn"))
      .orderBy("qid", "rn")
  }

  private val lshMaxBits = 16
  private val lshTables = 16
  // planes are allocated at the max stride so any bits<=lshMaxBits reuses
  // the same deterministic codebook prefix per table
  private val lshPlanes = pseudoDirections(seed = 7, count = lshTables * lshMaxBits)

  /** Fingerprint of the literal hyperplane table — the float coder's
    * MODEL identity ([[VectorIndex.modelFpFor]]): any change to the
    * seed, plane count, or generator moves it, cascading a rebuild of
    * every maintained float-coded artifact instead of serving entries
    * coded under planes the query side no longer projects with.
    */
  private[graft] lazy val lshPlanesFingerprint: String =
    Artifacts.modelFingerprint(
      "lshplanes-v1:" + lshPlanes.map(_.mkString(",")).mkString(";"))

  /** Code width scales with corpus size so bucket populations stay O(64)
    * regardless of scale — the round-2 fixed 8-bit space meant buckets grow
    * linearly with the corpus (and at 100 TB every bucket is the corpus).
    */
  private[graft] def lshBitsFor(n: Long): Int =
    math.max(6, math.min(lshMaxBits,
      math.ceil(math.log(math.max(n, 1L) / 64.0) / math.log(2)).toInt))

  /** Signed-random-projection signature for table `t`: bit j is the sign of
    * the projection onto literal hyperplane (t, j).
    */
  private def lshCode(e: Column, t: Int, bits: Int): Column =
    (0 until bits).map { j =>
      when(dot(e, typedlit(lshPlanes(t * lshMaxBits + j))) > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_.bitwiseOR(_))

  /** One (t, bucket) struct per table for an embedding — the row-wise
    * bucket projection shared by the index build and the streaming query
    * side ([[graft.streaming.VectorStream]]); both sides MUST run the
    * same `bits`, or codes drift and recall silently dies.
    */
  private[graft] def lshBucketArr(e: Column, bits: Int): Column =
    array((0 until lshTables).map(t =>
      struct(lit(t).as("t"), lshCode(e, t, bits).as("bucket"))): _*)

  /** The LSH index side: every corpus vector lands in one bucket per table
    * — `lshTables` (t, bucket) rows per vector — with each bucket capped at
    * `maxBucket` entries (kept deterministically by vec_id hash order).
    * The cap bounds the worst-case in-bucket scoring work under skew: at
    * 100 TB a hot bucket otherwise grows linearly with the corpus. The cap
    * is an index-BUILD cost; the built index is persisted once per dataset
    * ([[cachedLshIndex]]) so queries never pay it.
    *
    * DE-SKEWED since r9 (the [[perQueryTopK]] two-phase shape, closing
    * r8's last structural watch item): each input split first keeps its
    * LOCAL smallest-`maxBucket` per (t, bucket) — parallelism =
    * buckets × splits, so a degenerate hot bucket (a heavily duplicated
    * corpus pushes 30%+ of vectors into ONE bucket per table) spreads
    * over every split instead of pinning one task — and the global cap
    * window then ranks ≤ maxBucket × splits survivors per bucket,
    * bounded regardless of corpus size. The global smallest-k of a
    * union of local smallest-ks is exact, so the survivor SET (ordered
    * by (xxhash64(nid), nid) — nid tie-break keeps it total even on
    * hash collisions) is IDENTICAL to the single-window form: index
    * builds stay bit-reproducible (spec-pinned), recall floors
    * untouched. SCALE.md's embedding-similarity row records the build
    * on a 30%-degenerate corpus flat against uniform.
    */
  private[graft] def lshIndex(emb: DataFrame, maxBucket: Int, bits: Int = 8): DataFrame =
    capBuckets(lshEntries(emb, bits), maxBucket)

  /** The uncapped bucket-list entries (nid, ne, nn, t, bucket) of the
    * float-plane family — vectors are copied INTO the bucket lists (the
    * FAISS-style inverted list layout): 16 tables ⇒ 16× vector storage,
    * bought deliberately so the query path scores candidates inside the
    * bucket-join projection — no second gather join per query.
    */
  private[graft] def lshEntries(emb: DataFrame, bits: Int): DataFrame = {
    val tb = lshBucketArr(col("embedding"), bits)
    emb.select(col("vec_id").as("nid"), col("embedding").as("ne"),
        col("nrm").as("nn"), explode(tb).as("tb"))
      .select(col("nid"), col("ne"), col("nn"),
        col("tb.t").as("t"), col("tb.bucket").as("bucket"))
  }

  /** The exactsig family's uncapped entries — the md5-derived integer
    * hyperplane codes carrying the (ne, nn) scoring payload THROUGH the
    * code projection (the [[lshEntries]] shape: one row-wise pass, no
    * corpus self-join to re-attach the payload), so the maintained
    * artifact can serve either code family through one layout.
    */
  private[graft] def exactSigEntries(emb: DataFrame, tables: Int,
      bits: Int): DataFrame =
    emb.filter(col("embedding").isNotNull)
      .select(col("vec_id").as("nid"), col("embedding").as("ne"),
        col("nrm").as("nn"), quantizeExpr(col("embedding")).as("xq"))
      .select(col("nid"), col("ne"), col("nn"),
        exactSigCodesCol(tables, bits).as("codes"))
      .select(col("nid"), col("ne"), col("nn"), posexplode(col("codes")))
      .select(col("nid"), col("ne"), col("nn"),
        col("pos").as("t"), col("col").as("bucket"))

  /** The deterministic two-phase bucket cap over already-coded (nid, ne,
    * nn, t, bucket) entries — extracted (r10) so the maintained on-disk
    * artifact ([[VectorIndex]]) can re-cap merged segments at compaction
    * with the IDENTICAL selection rule. The kept set per bucket is the
    * smallest-`maxBucket` entries by (xxhash64(nid), nid) — a pure
    * function of the entry SET (split-independent: the global smallest-k
    * of a union of local smallest-ks is exact), which is what makes
    * per-slice capped appends + a global re-cap converge bit-for-bit on
    * the full rebuild's survivor set.
    */
  private[graft] def capBuckets(entries: DataFrame, maxBucket: Int): DataFrame = {
    val localCap = Window.partitionBy(col("t"), col("bucket"), col("split"))
      .orderBy(xxhash64(col("nid")), col("nid"))
    val globalCap = Window.partitionBy("t", "bucket")
      .orderBy(xxhash64(col("nid")), col("nid"))
    entries
      .withColumn("split", spark_partition_id())
      .withColumn("lslot", row_number().over(localCap))
      .filter(col("lslot") <= maxBucket)
      .withColumn("slot", row_number().over(globalCap))
      .filter(col("slot") <= maxBucket)
      .drop("split", "lslot", "slot")
  }

  /** Probe hook: build the LSH index over an explicit (vec_id, embedding)
    * frame at a FIXED code width — the planted-hot-bucket build-skew
    * probe times this under uniform vs degenerate bucket populations.
    */
  private[graft] def lshIndexProbe(emb: DataFrame, maxBucket: Int = 64,
      bits: Int = 10): DataFrame =
    lshIndex(emb.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", norm(col("embedding"))), maxBucket, bits)

  // flip-subsets for multi-probe: all subsets of the probeBits
  // lowest-|margin| bit ranks, up to maxFlips flips
  private def flipSubsets(probeBits: Int, maxFlips: Int): Seq[Seq[Int]] =
    (0 to maxFlips).flatMap(k => (0 until probeBits).combinations(k).map(_.toSeq))

  /** Per-dataset LSH index cache: built + `persist()`ed once per (dir,
    * maxBucket) — the production shape writes this through
    * `Ingest.writeTable` partitioned by (t, bucket); here the in-memory
    * persist plays that role so the query path never rebuilds the index
    * (round 2 rebuilt it inside every query run: 128 projections/vector +
    * a full 16×-corpus window shuffle per query). Code width comes from
    * the corpus count via [[lshBitsFor]].
    */
  private val lshIndexCache =
    scala.collection.concurrent.TrieMap[(String, Int), (DataFrame, Int)]()
  private val queryVecsCache = scala.collection.concurrent.TrieMap[
    String, IndexedSeq[(Long, IndexedSeq[Float], Double)]]()

  /** The benchmark query set (vec_id < 5) is tiny by definition, so its
    * vectors live driver-side: probe codes/lists are computed in plain
    * Scala and queries enter plans as literals, which removes two broadcast
    * jobs and two joins from every ANN search.
    */
  // cache keys carry the dataset fingerprint so a regenerated dataset at
  // the same path rebuilds instead of serving stale indexes/vectors
  private def fpKey(dir: String): String = {
    val key = s"$dir#${Tables.fingerprint(dir, "embeddings")}"
    evictStale(dir, key)
    key
  }

  /** Unpersist + drop every cache entry for the same dataset PATH under a
    * superseded fingerprint — without this, each regeneration of a dataset
    * leaks the old persisted index blocks for the JVM lifetime.
    */
  private def evictStale(dir: String, live: String): Unit = {
    val prefix = s"$dir#"
    def stale(k: String) = k.startsWith(prefix) && k != live
    lshIndexCache.filterInPlace { case ((k, _), (df, _)) =>
      if (stale(k)) df.unpersist(); !stale(k)
    }
    ivfAssignedCache.filterInPlace { (k, df) =>
      if (stale(k)) df.unpersist(); !stale(k)
    }
    pqAssignedCache.filterInPlace { (k, df) =>
      if (stale(k)) df.unpersist(); !stale(k)
    }
    ivfCodebookCache.filterInPlace((k, _) => !stale(k))
    pqCodebookCache.filterInPlace((k, _) => !stale(k))
    queryVecsCache.filterInPlace((k, _) => !stale(k))
    occupancyCache.filterInPlace { case ((k, _), _) => !stale(k) }
    // the exact-fit caches key on fpKey PLUS a parameter suffix — stale
    // means same dir, different fingerprint (their frames are lazy, so
    // dropping the entry is enough; nothing to unpersist)
    def staleFit(k: String) = k.startsWith(prefix) && !k.startsWith(live + ":")
    kmeansFitCache.filterInPlace((k, _) => !staleFit(k))
    pqFitCache.filterInPlace((k, _) => !staleFit(k))
    ()
  }

  private[graft] def cachedQueryVecs(spark: SparkSession,
      dir: String): IndexedSeq[(Long, IndexedSeq[Float], Double)] =
    queryVecsCache.getOrElseUpdate(fpKey(dir), {
      // the norm projection calls vec_dot by name — register first (the
      // warm artifact-load paths no longer pass through a build that
      // registered as a side effect, r14)
      VectorFunctions.ensureRegistered(spark)
      Tables.embeddings(spark, dir)
        .filter(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding"), norm(col("embedding")))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toIndexedSeq, r.getDouble(2)))
        .sortBy(_._1).toIndexedSeq
    })

  /** (persisted bucket-list index, code width) — SERVED FROM THE
    * MAINTAINED ARTIFACT (r14): [[VectorIndex.ensureFloat]] builds the
    * t-partitioned bucket lists once at ingest; a JVM restart re-reads
    * precoded (nid, ne, nn, t, bucket) rows instead of re-running 16
    * hyperplane projections per corpus vector plus the two-phase cap
    * shuffle (at 100 TB: the difference between a restart that scans
    * the index and one that re-derives it from the corpus).
    */
  private[graft] def cachedLshIndex(spark: SparkSession, dir: String,
      maxBucket: Int): (DataFrame, Int) =
    lshIndexCache.getOrElseUpdate((fpKey(dir), maxBucket), {
      val root = VectorIndex.ensureFloat(spark, dir, maxBucket)
      val (df, bits, _) = VectorIndex.loadRaw(spark, root)
      val idx = df.persist()
      idx.count() // materialize eagerly — index load is ingest-time work
      (idx, bits)
    })

  /** Build-time occupancy profile of a dataset's LSH index: how many
    * buckets each table actually populates and how big they run. The
    * size-biased mean (E[s²]/E[s]) is the expected population of the
    * bucket a random VECTOR lands in — the right estimate for a query's
    * own bucket under skew, where the plain mean undercounts.
    */
  final case class LshOccupancy(n: Long, bits: Int, tables: Int,
      bucketsPerTable: Double, meanBucket: Double, sizeBiasedMeanBucket: Double,
      maxBucket: Long)

  private val occupancyCache =
    scala.collection.concurrent.TrieMap[(String, Int), LshOccupancy]()

  private[graft] def lshOccupancy(spark: SparkSession, dir: String,
      maxBucket: Int = 100000): LshOccupancy =
    occupancyCache.getOrElseUpdate((fpKey(dir), maxBucket), {
      val (index, bits) = cachedLshIndex(spark, dir, maxBucket)
      val per = index.groupBy("t", "bucket").agg(count(lit(1)).as("s"))
      val r = per.agg(count(lit(1)).as("nb"), sum("s").as("rows"),
        avg("s").as("mean"), (sum(col("s") * col("s")) / sum("s")).as("sb"),
        max("s").as("mx")).collect().head
      LshOccupancy(r.getLong(1) / lshTables, bits, lshTables,
        r.getLong(0).toDouble / lshTables, r.getDouble(2), r.getDouble(3),
        r.getLong(4))
    })

  /** Probe codes per table for a (probeBits, maxFlips) net. */
  private[graft] def probesPerTable(probeBits: Int, maxFlips: Int): Int =
    flipSubsets(probeBits, math.min(maxFlips, probeBits)).size

  /** Predicted UNIQUE-candidate fraction for a net of `p` probes/table:
    * per table the query scans its own bucket (size-biased mean) plus
    * p-1 flip buckets (plain mean); tables are independent hash spaces,
    * so unique coverage composes as 1-(1-f)^T. Verified against the
    * measured fraction in VectorOpsSpec.
    */
  private[graft] def predictedCandidateFraction(occ: LshOccupancy, p: Int): Double = {
    val perTable = math.min(1.0,
      (occ.sizeBiasedMeanBucket + (p - 1) * occ.meanBucket) / math.max(occ.n, 1L))
    1.0 - math.pow(1.0 - perTable, occ.tables)
  }

  /** Occupancy-driven probe-net choice: the WIDEST (probeBits, maxFlips)
    * whose predicted unique-candidate fraction fits the budget — recall
    * rises monotonically with net width, so the budget is the only brake.
    * Falls back to the narrowest net when even that exceeds the budget
    * (tiny corpora: few buckets, every net touches most of them).
    */
  private[graft] def tuneProbeNet(occ: LshOccupancy, budget: Double): (Int, Int) = {
    val ladder = (for (pb <- 1 to 6; mf <- 1 to math.min(pb, 3)) yield (pb, mf))
      .sortBy { case (pb, mf) => (probesPerTable(pb, mf), pb) }
    ladder.filter { case (pb, mf) =>
      predictedCandidateFraction(occ, probesPerTable(pb, mf)) <= budget
    }.lastOption.getOrElse(ladder.head)
  }

  /** Same sequential ascending float-widened fold as the codegen'd
    * [[graft.functions.DotProduct]], so driver-side probe codes land in
    * exactly the code space the index was built in.
    */
  private def dotScala(a: IndexedSeq[Float], plane: Seq[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * plane(i); i += 1 }
    s
  }

  /** ANN via multi-table, multi-probe signed-random-projection LSH (no SQL
    * oracle — bucket assignment is hash-defined; recall vs brute force is
    * asserted in VectorOpsSpec).
    *
    * Production shape: `lshTables` independent tables unioned for
    * candidates, per-bucket population cap ([[lshIndex]]), corpus-scaled
    * code width, a per-dataset persisted index ([[cachedLshIndex]]), and
    * margin-based multi-probe — each query probes its own bucket plus the
    * buckets reached by flipping up to `maxFlips` of its `probeBits`
    * smallest-|projection| bits (the bits most likely to differ for a true
    * neighbor). Probe codes are computed driver-side (the query set is 5
    * vectors) and enter the plan as a broadcast local relation + literals,
    * so a search is ONE distributed pass: bucket-join → score projection →
    * per-query top-k aggregation (collect_set dedups multi-table hits;
    * map-side partial aggregation bounds what reaches the single exchange).
    *
    * Tuning note: this synthetic corpus has weak angular structure (exact
    * top-10 sits at cosine 0.26-0.37), so hitting the asserted recall ≥0.9
    * needs a wide net. Real embedding corpora (neighbors at cosine ≥0.8)
    * run more bits / fewer probes for a far smaller candidate fraction —
    * the knobs, not the shape, change.
    */
  def annLsh(spark: SparkSession, dir: String, probeBits: Int = 5,
      maxFlips: Int = 3, maxBucket: Int = 100000): DataFrame = {
    val queries = cachedQueryVecs(spark, dir)
    val qidLit = element_at(typedlit(queries.map(_._1)), col("qi") + 1)
    lshCandidates(spark, dir, probeBits, maxFlips, maxBucket)
      // dedup (multi-table/multi-probe hits) and top-k in ONE aggregation:
      // collect_set drops duplicate (cosine, nid) structs, the sorted slice
      // keeps (cosine desc, nid asc) top-10 — same order row_number used
      .groupBy("qi")
      .agg(slice(array_sort(collect_set(
        struct((-col("cosine")).as("nc"), col("nid").as("nid")))), 1, 10).as("top"))
      .select(col("qi"), posexplode(col("top")))
      .select(qidLit.as("qid"), col("col.nid").as("nid"),
        (-col("col.nc")).as("cosine"), (col("pos") + 1).cast("long").as("rn"))
      .orderBy("qid", "rn")
  }

  /** [[annLsh]] with the probe net chosen by [[tuneProbeNet]] from the
    * dataset's measured index occupancy: the unique-candidate fraction
    * becomes a TARGET (the budget), not an accident of the corpus.
    * Measured ladder (fraction/recall, consistent at sf0.01 AND sf0.1):
    * (5,3) scans 0.999 of the corpus for recall 1.0; (2,2) 0.64/0.96;
    * (2,1) 0.54/0.94; (1,1) 0.41/0.78-0.84. Budget 0.6 therefore picks
    * (2,1): recall ≥0.9 holds (pinned in VectorOpsSpec) at roughly half
    * the hand-tuned net's scoring work. The floor is corpus-structural —
    * true neighbors at cosine 0.26-0.37 put ~0.5 of the corpus in play
    * for recall 0.9; real embedding corpora (neighbors ≥0.8) fit far
    * tighter budgets. Full numbers in SCALE.md.
    */
  def annLshTuned(spark: SparkSession, dir: String, budget: Double = 0.25,
      maxBucket: Int = 100000): DataFrame = {
    val (pb, mf) = tuneProbeNet(lshOccupancy(spark, dir, maxBucket), budget)
    annLsh(spark, dir, pb, mf, maxBucket)
  }

  /** ORACLE-EXACT signature twin of [[annLsh]] (q_ann_lsh_exactsig,
    * r10): the same signed-random-projection LSH pipeline — per-table
    * bucket codes from projection signs, bucket-collision candidates,
    * exact-cosine scoring, per-query top-k — but with every stage
    * DuckDB-replayable, so the driver hash-checks candidate GENERATION
    * itself (the production [[annLsh]]'s float hyperplanes stay
    * rows-only: double summation order differs across engines at the
    * sign boundary). Two substitutions make it exact, both r9-q_kmeans
    * precedents: embeddings quantize once to int64 1e-7 units (the
    * identical IEEE multiply + truncate on both engines), and the
    * hyperplanes are md5-derived INTEGER weights w ∈ {−1, 0, +1}
    * (w(t,j,i) = h60("t,j,i") mod 3 − 1 — sparse ±1 hyperplanes, the
    * classic cheap rotation family), so each projection is an exact
    * integer sum whose SIGN is order-independent by commutativity.
    * Overflow audit: |xq| ≤ ~6e7 (unit-scale embeddings) × 64 terms
    * → |proj| ≤ 4e9, five orders under 2^63.
    *
    * Scale shape: code projection is row-wise; the candidate join is
    * (t, code)-keyed with the 5-query side broadcast; scoring joins
    * back on the primary key; top-k is the shared two-phase
    * [[perQueryTopK]]. A twin, not a replacement: the production tier
    * keeps dense float planes, corpus-scaled width, bucket caps and
    * multi-probe.
    */
  def annLshExactSig(spark: SparkSession, dir: String, tables: Int = 4,
      bits: Int = 8, k: Int = 10): DataFrame = {
    VectorFunctions.ensureRegistered(spark)
    val codes = exactSigCodes(quantizedFor(spark, dir), tables, bits)
    val emb = Tables.embeddings(spark, dir)
      .withColumn("nrm", norm(col("embedding")))
    val cand = broadcast(codes.filter(exactSigProbe)
        .select(col("vec_id").as("qid"), col("t"), col("code")))
      .join(codes.select(col("vec_id").as("nid"), col("t"), col("code")),
        Seq("t", "code"))
      .filter(col("qid") =!= col("nid"))
      .select("qid", "nid").distinct()
      .join(emb.select(col("vec_id").as("nid"), col("embedding").as("ne"),
        col("nrm").as("nn")), "nid")
    exactSigRank(cand, emb, k)
  }

  /** The exactsig twins' declared probe set (the driver queries' fixed
    * 5-query convention) — ONE definition shared by both candidate
    * builders and the ranking tail, so the probe filters and the
    * query-side join can never disagree on who the queries are (a
    * drifted tail would silently drop candidates on the inner join).
    */
  private[graft] def exactSigProbe: Column = col("vec_id") < 5

  /** The SHARED scoring/ranking tail of the exactsig twins — one
    * definition of the rounded-cosine expression, the two-phase top-k
    * and the output order, so the raw-recompute and the artifact-served
    * paths cannot drift apart (their oracle-equality contract is
    * "identical ranking"; this makes it structural). `cand` carries
    * (qid, nid, ne, nn) for qids drawn from [[exactSigProbe]] — the
    * join against the probe-filtered query side is inner, so
    * out-of-probe qids would be dropped, which is why the candidate
    * builders filter on the same shared predicate.
    */
  private def exactSigRank(cand: DataFrame, emb: DataFrame,
      k: Int): DataFrame = {
    val queries = emb.filter(exactSigProbe)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("nrm").as("qn"))
    val scored = cand.join(broadcast(queries), "qid")
      .withColumn("cosine",
        round(dot(col("qe"), col("ne")) / (col("qn") * col("nn")), 4))
    perQueryTopK(scored, k, "nid", "rn")
      .select("qid", "nid", "cosine", "rn")
      .orderBy("qid", "rn")
  }

  /** [[annLshExactSig]] served from the MAINTAINED [[VectorIndex]]
    * exactsig artifact (q_ann_sig_indexed): the ORACLE
    * recomputes the identical ranking from RAW embeddings, so the
    * green driver row is a standing consistency proof for the vector
    * index's build/publish chain — the q_bm25_indexed /
    * q_winnow_match_indexed role, now covering the third maintained
    * artifact family. The index build is ingest-time
    * ([[graft.SparkEntry.prepare]]); query time joins the 5 probe
    * codes (broadcast) against the artifact's bucket lists and scores
    * with the STORED (ne, nn) payload — bit-identical to raw because
    * the artifact copies the vectors and computes the same norm
    * expression, and the uncapped-at-this-scale bucket lists hold
    * exactly the raw candidate set.
    */
  def annLshExactSigIndexed(spark: SparkSession, dir: String,
      k: Int = 10): DataFrame = {
    VectorFunctions.ensureRegistered(spark)
    val root = VectorIndex.ensureExactSig(spark, dir)
    val (idx, bits, coder) = VectorIndex.load(spark, root)
    require(coder == VectorIndex.coderExactSig,
      s"exactsig serving path got a '$coder'-coded index at $root — " +
        "probe codes would match nothing")
    val probeCodes = exactSigCodes(
      quantizedFor(spark, dir).filter(exactSigProbe), 4, bits)
    val emb = Tables.embeddings(spark, dir)
      .withColumn("nrm", norm(col("embedding")))
    val cand = broadcast(probeCodes
        .select(col("vec_id").as("qid"), col("t"), col("code").as("bucket")))
      .join(idx, Seq("t", "bucket"))
      .filter(col("qid") =!= col("corpus_vec"))
      .select(col("qid"), col("corpus_vec").as("nid"),
        col("corpus_emb").as("ne"), col("corpus_nrm").as("nn"))
      .dropDuplicates("qid", "nid")
    exactSigRank(cand, emb, k)
  }

  /** ORACLE-EXACT coarse-quantizer twin of [[annIvf]]
    * (q_ann_ivf_exactsig, r10): the same IVF pipeline — train a coarse
    * codebook, assign every vector to its nearest list, probe each
    * query's `nProbe` nearest lists, exact-score the candidates — but
    * with the codebook the EXACT int64 k-means fit ([[kmeansFitOver]],
    * the q_kmeans kernel), so candidate GENERATION itself replays in
    * DuckDB: assignment and probing are integer-L2 argmins over the
    * replayed centroids (order-independent by integer commutativity,
    * ties broken on cid both engines), and the ranking is the shared
    * [[exactSigRank]] tail. The production [[annIvf]] keeps its
    * float spherical-k-means codebook and stays rows-only — float
    * centroid normalization (sqrt, division) is not order-exact
    * cross-engine; this twin is the hash-checkable face of the same
    * structure, the [[annLshExactSig]] role for the IVF family.
    *
    * Scale shape: the fit is q_kmeans's (map-only literal-centroid
    * assignment, one model-sized shuffle per iteration); probing is a
    * 5-row driver-free projection over the quantized queries; the
    * candidate join keys on the list id with the probe side broadcast;
    * ranking joins back on the primary key and two-phase top-ks.
    * Overflow audit: the fit's own — |xq| ≤ ~6e7 (unit-scale
    * embeddings in 1e-7 units), so |x−c| ≤ 1.2e8, squared ≤ 1.44e16,
    * summed over 64 dims ≤ 9.3e17 — three orders under 2^63.
    */
  def annIvfExactSig(spark: SparkSession, dir: String, k: Int = 8,
      iters: Int = 5, nProbe: Int = 2, topK: Int = 10): DataFrame = {
    VectorFunctions.ensureRegistered(spark)
    val (cents, assigned) = kmeansFit(spark, dir, k, iters)
    annIvfExactSigWith(spark, dir, cents, assigned, nProbe, topK)
  }

  /** [[annIvfExactSig]] against an EXPLICIT codebook + assignment frame —
    * the TrainedAnnSpec hook that measures recall under a STALE
    * (prefix-fit) codebook with appended vectors assigned to their
    * nearest existing centroid: the state a maintained production index
    * serves from between drift-triggered refits.
    */
  private[graft] def annIvfExactSigWith(spark: SparkSession, dir: String,
      cents: IndexedSeq[Seq[Long]], assigned: DataFrame, nProbe: Int,
      topK: Int): DataFrame = {
    VectorFunctions.ensureRegistered(spark)
    val emb = Tables.embeddings(spark, dir)
      .withColumn("nrm", norm(col("embedding")))
    // each probe query's nProbe nearest lists by (integer L2, cid) —
    // the same ordered-struct argmin family as the fit's assignment,
    // extended from rank-1 to rank-nProbe via sort+slice
    val ranked = array_sort(array(cents.zipWithIndex.map { case (cvec, cid) =>
      struct(VectorFunctions.l2sqLong(col("xq"), typedlit(cvec)).as("d"),
        lit(cid).as("cid"))
    }: _*))
    val probes = quantizedFor(spark, dir).filter(exactSigProbe)
      .select(col("vec_id").as("qid"),
        explode(slice(ranked, 1, nProbe)).as("p"))
      .select(col("qid"), col("p.cid").as("cid"))
    val cand = broadcast(probes)
      .join(assigned.select(col("vec_id").as("nid"),
        col("cluster").cast("int").as("cid")), "cid")
      .filter(col("qid") =!= col("nid"))
      .select("qid", "nid").distinct()
      .join(emb.select(col("vec_id").as("nid"), col("embedding").as("ne"),
        col("nrm").as("nn")), "nid")
    exactSigRank(cand, emb, topK)
  }

  // ---- PQ exactsig twin: exact-int64 product quantization ---------------

  private val pqFitCache =
    scala.collection.concurrent.TrieMap[String, IndexedSeq[IndexedSeq[Seq[Long]]]]()

  /** The exact PQ fit, per-dataset cached — the codebook is an INDEX
    * artifact (ingest-time, like [[trainedCodebook]]/[[pqCodebooks]]):
    * bit-reproducible by construction, so the cache is semantics-free.
    * Warmed by `SparkEntry.prepare` with the declared-query defaults.
    */
  private[graft] def cachedPqFit(spark: SparkSession, dir: String,
      subs: Int = 8, codes: Int = 16,
      iters: Int = 3): IndexedSeq[IndexedSeq[Seq[Long]]] = {
    // register BEFORE quantizedFor eagerly analyzes its quantize_e7
    // projection — this may be the first graft call on the session
    VectorFunctions.ensureRegistered(spark)
    // served from the maintained artifact since r13 (the kmeansFit
    // rationale: the ensured codebooks equal the deterministic full
    // fit, so q_ann_pq_exactsig stays oracle-exact while the model
    // gets the assign-on-append / refit-on-drift lifecycle)
    pqFitCache.getOrElseUpdate(s"${fpKey(dir)}:$subs:$codes:$iters", {
      val root = TrainedAnn.ensurePq(spark, dir, subs, codes, iters)
      TrainedAnn.requireModel(root, "pq_exactsig").pqCents
    })
  }

  /** The per-subspace argmin codes of an `xq` row as ONE native call
    * ([[graft.functions.PqCodesLong]]) against the flattened literal
    * codebook — the single encoding expression shared by the fit's
    * update pass and the search's encoding projection, so the two can
    * never drift (the [[exactSigCodesCol]] discipline). Ties keep the
    * lowest cid, identical to the (dist, cid) ordered-struct argmin
    * and the oracle's `ORDER BY dist, cid` rank.
    */
  private[operators] def pqCodesQ(cents: IndexedSeq[IndexedSeq[Seq[Long]]]): Column =
    VectorFunctions.pqCodesLong(col("xq"),
      typedlit(cents.flatMap(_.flatten)), lit(cents.length))

  /** BATCHED multi-subspace exact-int64 k-means — the product-quantizer
    * trainer as a replayable fit (the [[kmeansFitOver]] kernel extended
    * from one 64-dim space to `subs` independent `subDim`-dim spaces,
    * trained together): init takes the `codes` corpus vectors with
    * smallest ([[seedOrderKey]], vec_id) and slices each into its
    * per-subspace seeds, then every Lloyd round runs ONE map-only
    * assignment pass over the corpus (all subspaces' argmins in a single
    * projection — literal centroids, no exchange) and ONE
    * partial-aggregable shuffle of (s, cid, dim)-keyed integer sums
    * (map-side combine collapses each partition to ≤ subs·codes·subDim
    * rows before the exchange; the driver collects exactly that many).
    * Updates round by the exact floor-division rule `floorDiv(2S+n,2n)`;
    * an empty (s, cid) keeps its previous centroid. All int64, so the
    * fixed rounds unroll as DuckDB CTEs and replay hash-exactly.
    *
    * Overflow: the coarse fit's audit tightened — per-subspace dists sum
    * `subDim`=8 dims (≤ 3.2e15), cluster sums ≤ 1e7·1e9 members = 1e16;
    * both orders under 2^63, and the oracle's float-floor stays exact
    * while |2S+n| < 2^53 (the q_kmeans bound).
    */
  private[graft] def pqFitQ(embq0: DataFrame, subs: Int, subDim: Int,
      codes: Int, iters: Int, gen: String): IndexedSeq[IndexedSeq[Seq[Long]]] = {
    VectorFunctions.ensureRegistered(embq0.sparkSession)
    // the generation key must carry the DATASET (kmeansFitOver's
    // discipline) so different corpora's scoped scans stay separate
    // LRU units instead of pooling under one immortal-MRU key
    graft.IntraQueryCache.newGeneration(gen)
    // iters+1 passes read this frame; scoped so the scan runs once
    val embq = graft.IntraQueryCache.scoped(embq0)
    val seeds = embq
      .orderBy(seedOrderKey(col("vec_id")), col("vec_id"))
      .limit(codes)
      .select(col("xq"))
      .collect().map(_.getSeq[Long](0)).toIndexedSeq
    // the native encoder derives subDim as dim/subs per row — an
    // inconsistent explicit subDim would silently disagree with the
    // sx slices in the update pass, so refuse it loudly
    seeds.headOption.foreach(v => require(v.length == subs * subDim,
      s"pqFitQ: dim ${v.length} != subs $subs x subDim $subDim"))
    var cents: IndexedSeq[IndexedSeq[Seq[Long]]] = (0 until subs).map(s =>
      seeds.map(v => v.slice(s * subDim, (s + 1) * subDim)))
    for (_ <- 1 to iters) {
      // one native encode per row, then a per-subspace struct fan-out
      // off the materialized codes column (never re-encoding per s)
      val perSub = array(cents.indices.map { s =>
        struct(lit(s).as("s"), element_at(col("codes"), s + 1).as("cid"),
          slice(col("xq"), s * subDim + 1, subDim).as("sx"))
      }: _*)
      val sums = embq
        .select(col("xq"), pqCodesQ(cents).as("codes"))
        .select(explode(perSub).as("a"))
        .select(col("a.s").as("s"), col("a.cid").as("cid"),
          posexplode(col("a.sx")))
        .groupBy("s", "cid", "pos")
        .agg(sum(col("col")).as("sm"), count(lit(1)).as("n"))
        .collect() // ≤ subs·codes·subDim rows — bounded by the model
      val byKey = sums.map(r =>
        ((r.getInt(0), r.getInt(1), r.getInt(2)),
          (r.getLong(3), r.getLong(4)))).toMap
      cents = cents.zipWithIndex.map { case (cbs, s) =>
        cbs.zipWithIndex.map { case (prev, cid) =>
          prev.indices.map { i =>
            byKey.get((s, cid, i)) match {
              case Some((sm, n)) => Math.floorDiv(2L * sm + n, 2L * n)
              case None => prev(i) // empty (s, cid): keep its centroid
            }
          }
        }
      }
    }
    cents
  }

  /** ORACLE-EXACT compressed-scan twin of [[annPq]]
    * (q_ann_pq_exactsig, r10): the same PQ pipeline — train per-subspace
    * codebooks, encode every corpus vector to `subs` small codes, score
    * queries against the CODES via asymmetric distance computation
    * (LUT[s][code] = q_s·c), keep a per-query ADC pool, exact-rerank it
    * — but with every stage exact int64 so the whole compressed search
    * replays in DuckDB: the codebook fit is [[pqFitQ]] (unrolled CTEs),
    * encoding and LUTs are integer argmins/dots (order-independent by
    * commutativity), the ADC pool is an exact (adc DESC, nid) top-`pool`
    * and the tail is the shared [[exactSigRank]]. The production
    * [[annPq]] keeps its float codebooks + coarse IVF stage and stays
    * rows-only (float LUT sums are not order-exact cross-engine); this
    * twin is the hash-checkable face of the compressed-domain scoring —
    * the [[annLshExactSig]] / [[annIvfExactSig]] role for the PQ family.
    * (The coarse-quantizer stage already has its own twin in
    * [[annIvfExactSig]]; composing the two would only chain the same
    * replayed fits, so this twin scans flat — FAISS IndexPQ shape — and
    * keeps the oracle at one fit.)
    *
    * Scale shape: the fit is one model-sized shuffle per round; encoding
    * is a map-only literal-codebook projection (8-byte codes per vector
    * — the compressed scan annPq's doc motivates); ADC scoring explodes
    * the 5-element literal probe array over the coded corpus with 8
    * integer LUT lookups per row (no join, no vector math); the pool is
    * the two-phase [[perQueryTopK]] (never a per-qid window over the
    * scored corpus); only `pool` rows per query pay the exact 64-dim
    * rerank.
    */
  def annPqExactSig(spark: SparkSession, dir: String, subs: Int = 8,
      codes: Int = 16, iters: Int = 3, pool: Int = 32,
      topK: Int = 10): DataFrame = {
    VectorFunctions.ensureRegistered(spark)
    val subDim = 64 / subs
    val embq = quantizedFor(spark, dir)
    val cents = cachedPqFit(spark, dir, subs, codes, iters)
    // probe-side LUTs on the quantized queries: the fingerprint-cached
    // driver-side probe vectors ([[cachedQueryVecs]] — the same
    // vec_id < 5 set [[exactSigProbe]] declares), quantized here with
    // quantizeExpr's identical trunc(x·1e7) (float→double cast, double
    // multiply, truncation toward zero — bit-identical to the column
    // expression on any IEEE engine). Integer dots bounded by
    // subDim·1e14; no per-invocation probe collect.
    // null embeddings drop like the oracle's null-filtered `q` CTE
    val probeVecs = cachedQueryVecs(spark, dir).filter(_._2 != null)
    val qids: Seq[Long] = probeVecs.map(_._1)
    val luts: Seq[Seq[Seq[Long]]] = probeVecs.map { case (_, e, _) =>
      val qx = e.map(x => (x.toDouble * 1.0e7).toLong)
      (0 until subs).map(s => cents(s).map { c =>
        var d = 0L; var i = 0
        while (i < subDim) { d += qx(s * subDim + i) * c(i); i += 1 }
        d
      }.toSeq)
    }.toSeq
    val lutLit = typedlit(luts)
    val coded = embq.select(col("vec_id").as("nid"), pqCodesQ(cents).as("codes"))
    // per-query fan-out as a row-wise explode of the 5-element literal
    // probe array — no join operator in the compressed scan at all
    val probeArr = typedlit(qids.zipWithIndex.map { case (qid, qi) =>
      (qi, qid)
    }).cast("array<struct<qi:int,qid:bigint>>")
    val adc = (0 until subs).map(s =>
      element_at(element_at(element_at(lutLit, col("qi") + 1), s + 1),
        element_at(col("codes"), s + 1) + 1)).reduce(_ + _)
    val scored = coded
      .select(col("nid"), col("codes"), explode(probeArr).as("p"))
      .select(col("nid"), col("codes"), col("p.qi").as("qi"),
        col("p.qid").as("qid"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("adc", adc)
    val cand = perQueryTopK(scored, pool, "nid", "prk", scoreCol = "adc")
      .select("qid", "nid")
    val emb = Tables.embeddings(spark, dir)
      .withColumn("nrm", norm(col("embedding")))
    val withPayload = cand.join(emb.select(col("vec_id").as("nid"),
      col("embedding").as("ne"), col("nrm").as("nn")), "nid")
    exactSigRank(withPayload, emb, topK)
  }

  /** md5-derived integer hyperplane weight — MUST equal the oracle's
    * `(h60(t||','||j||','||i) % 3) - 1` (decimal renderings match).
    */
  private def exactSigWeight(t: Int, j: Int, i: Int): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$t,$j,$i".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(15)
    java.lang.Long.parseLong(hex, 16) % 3 - 1
  }

  /** The per-table code array over an `xq` quantized-int64 column: per
    * table, bit j is the sign of the exact integer projection onto the
    * md5-derived plane — the ONE code expression both the row-wise
    * codes and the payload-carrying index entries consume (via
    * posexplode: position = table id), so the two can never drift.
    * Since r10 the projections run through the native
    * [[graft.functions.SigCodesLong]] (one fused loop per row inside
    * whole-stage codegen) instead of tables·bits
    * `aggregate(zip_with(...))` CodegenFallback trees — same exact
    * integer sums, same strict-positive bit rule, verified by the
    * unchanged oracle rows and VectorIndexSpec's bit-reproducibility
    * pins. Consumers posexplode this single array column — a struct
    * array re-referencing it per table would re-evaluate the kernel
    * tables× under GenerateExec, whose codegen does no subexpression
    * elimination.
    */
  private def exactSigCodesCol(tables: Int, bits: Int): Column = {
    val flat = typedlit((0 until tables).flatMap(t =>
      (0 until bits).flatMap(j => (0 until 64).map(i => exactSigWeight(t, j, i)))))
    VectorFunctions.sigCodesLong(col("xq"), flat, lit(tables))
  }

  /** (vec_id, t, code) for every vector. */
  private[graft] def exactSigCodes(embq: DataFrame, tables: Int,
      bits: Int): DataFrame =
    embq.select(col("vec_id"), exactSigCodesCol(tables, bits).as("codes"))
      .select(col("vec_id"), posexplode(col("codes")))
      .select(col("vec_id"), col("pos").as("t"), col("col").as("code"))

  /** The scored candidate set (qi, nid, cosine) BEFORE top-k — the whole
    * distributed cost of a search lives here, so the occupancy predictor
    * is verified against this frame's unique-row count.
    */
  private[graft] def lshCandidates(spark: SparkSession, dir: String,
      probeBits: Int, maxFlips: Int, maxBucket: Int = 100000): DataFrame = {
    VectorFunctions.ensureRegistered(spark)
    import spark.implicits._
    val (index, bits) = cachedLshIndex(spark, dir, maxBucket)
    val queries = cachedQueryVecs(spark, dir)
    val pb = math.min(probeBits, bits - 1)
    val subsets = flipSubsets(pb, maxFlips)
    // driver-side probe codes, identical math to the column-side index
    // codes: projections → base code, |projection|-ranked bits → flip set
    val probeRows = queries.indices.flatMap { qi =>
      val qv = queries(qi)._2
      (0 until lshTables).flatMap { t =>
        val projs = (0 until bits).map(j => dotScala(qv, lshPlanes(t * lshMaxBits + j)))
        val base = (0 until bits).foldLeft(0) { (acc, j) =>
          if (projs(j) > 0) acc | (1 << j) else acc
        }
        val lowBits = projs.zipWithIndex
          .map { case (p, j) => (math.abs(p), j) }.sorted.take(pb).map(_._2)
        subsets.map(_.foldLeft(base)((acc, r) => acc ^ (1 << lowBits(r))))
          .distinct.map(code => (qi, t, code))
      }
    }
    val probes = probeRows.toDF("qi", "t", "bucket")
    val qidLit = element_at(typedlit(queries.map(_._1)), col("qi") + 1)
    val qeLit = element_at(typedlit(queries.map(_._2.toSeq)), col("qi") + 1)
    val qnLit = element_at(typedlit(queries.map(_._3)), col("qi") + 1)
    index.join(broadcast(probes), Seq("t", "bucket"))
      .filter(qidLit =!= col("nid"))
      .select(col("qi"), col("nid"),
        round(dot(qeLit, col("ne")) / (qnLit * col("nn")), 4).as("cosine"))
  }

  /** Cross-modal near-dup confirmation: lexical candidates (exact
    * token-set Jaccard >= 0.95, [[TextOps.tokenJaccardPairs]]) verified
    * by embedding-space agreement (cosine >= `cosT`) — the production
    * gate that separates true duplicates (high lexical AND semantic
    * overlap) from templated boilerplate (same surface skeleton,
    * different meaning) before anything is dropped. Documents and
    * embeddings join on the shared id space (doc_id = vec_id).
    *
    * Oracle-exact: the DuckDB oracle expands the dot products as
    * explicit left-associative 64-term sums, reproducing vec_dot's
    * sequential double accumulation IEEE-exactly — so the unrounded
    * cosine and the >= gate on it agree bit-for-bit across engines.
    * VectorOpsSpec additionally pins the output to the ground-truth
    * intersection {lexical pairs} ∩ {cosine >= cosT} with the cosine
    * recomputed independently. (The driver's synthetic embeddings are
    * independent of document text, so only the random high-cosine tail
    * survives here; on a real corpus the two signals correlate and the
    * gate is the point.)
    *
    * Scale shape: pair volume is the OUTPUT of the prefix-filtered
    * jaccard join (never all-pairs); the two embedding fetches are
    * id-keyed joins (AQE broadcasts the pair side when small); norms
    * fold row-wise; one codegen'd dot per candidate pair.
    */
  def hybridNearDup(spark: SparkSession, dir: String,
      cosT: Double = 0.2): DataFrame = {
    VectorFunctions.ensureRegistered(spark)
    val pairs = TextOps.tokenJaccardPairs(spark, dir)
    // registered into the pair engine's generation (opened inside
    // tokenJaccardPairs): both fetch joins read ONE scan + norm pass
    val emb = graft.IntraQueryCache.scoped(
      Tables.embeddings(spark, dir)
        .withColumn("nrm", norm(col("embedding"))))
    pairs
      .join(emb.select(col("vec_id").as("doc_a"), col("embedding").as("ea"),
        col("nrm").as("na")), "doc_a")
      .join(emb.select(col("vec_id").as("doc_b"), col("embedding").as("eb"),
        col("nrm").as("nb")), "doc_b")
      .withColumn("cosine", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= cosT)
      .select("doc_a", "doc_b", "jaccard", "cosine")
      .orderBy("doc_a", "doc_b")
  }

  // ---- distributed k-means corpus partitioning ---------------------------

  /** Nearest centroid per row against a broadcast centroid literal:
    * argmin by L2 over the fixed centroid order via `array_min` of
    * (partial-distance, cid) structs — ‖x‖² is constant per row, so the
    * ranked partial is ‖c‖²−2·x·c and the true squared distance adds
    * ‖x‖² back once after selection. No exchange, no jobs; the whole
    * assignment stays in codegen (the [[pqCodeCol]] projection shape).
    */
  private def assignToCentroids(emb: DataFrame,
      cents: IndexedSeq[Seq[Double]]): DataFrame = {
    val partial = array_min(array(cents.zipWithIndex.map { case (cvec, cid) =>
      val cc = cvec.map(x => x * x).sum
      struct((lit(cc) - lit(2.0) * dot(col("embedding"), typedlit(cvec))).as("d"),
        lit(cid).as("cid"))
    }: _*))
    emb.withColumn("a", partial)
      .withColumn("cluster", col("a.cid"))
      .withColumn("dist", greatest(col("a.d") + dot(col("embedding"), col("embedding")),
        lit(0.0)))
      .drop("a")
  }

  /** Fully distributed Lloyd's k-means over the whole embedding corpus —
    * the clustering face of SemDeDup-style curation (cluster, then dedup
    * or rebalance within clusters) and the corpus-scale counterpart of
    * the sample-trained IVF codebook: here every vector votes in every
    * iteration. Returns (vec_id, cluster, dist_q) with dist_q the EXACT
    * squared L2 to the final centroid in quantized units.
    *
    * EXACT-ARITHMETIC fit (r9): embeddings quantize once to integer
    * 1e-7 units (`trunc(x·1e7)` — the identical double multiply +
    * truncate on any IEEE engine), and from there the ENTIRE fit is
    * int64: distances are Σ(xᵢ−cᵢ)² via the native [[LongL2Sq]] kernel
    * (order-independent by commutativity of integer addition), centroid
    * updates are integer sums + one exact floor-division rounding rule
    * (half-up: `floorDiv(2S+n, 2n)`), and empty clusters keep their
    * previous centroid. No float summation order anywhere, so the fixed
    * iteration count unrolls into chained SQL CTEs and the driver's
    * DuckDB oracle replays the fit HASH-EXACTLY (the q_bpe_merges
    * precedent) — this was r8's last convertible rows-only query.
    * Quantization at 1e-7 is far below embedding noise (float32 carries
    * ~7 significant digits on unit-scale values).
    *
    * Determinism: init is the k vectors with smallest
    * (md5-60-bit(vec_id), vec_id) — seed-free, reproducible, and
    * cross-engine replayable (the winnow/sampler `conv(substring(md5…`
    * ↔ `'0x'||substr(md5…` pair); ties in assignment break on centroid
    * id via struct ordering on exact integers.
    *
    * Overflow audit (the int64 budget): with |x| ≤ 1 (all embedding
    * tables here) quantized |xq| ≤ 1e7, per-dim diff² ≤ 4e14, × dim 64
    * = 2.6e16 — 350× headroom under 2^63; the kernel stays exact up to
    * |x|·√dim ≈ 150. Cluster sums: 1e7 × 1e9 members = 1e16 ✓. The
    * driver-side update uses `Math.floorDiv` (exact at any int64); the
    * ORACLE's float-division floor is exact while |2S+n| < 2^53 — a
    * bound the sf0.01 oracle data sits 1e4 under.
    *
    * Scale shape: per iteration, assignment is a map-only codegen pass
    * over the corpus (centroids ride the plan as literals — k·dim
    * longs, KBs); the centroid update is ONE partial-aggregable
    * shuffle of (cluster, dim) keyed integer sums — map-side combining
    * collapses every partition to ≤ k·dim rows before the exchange, and
    * the driver collects exactly k·dim aggregated rows (bounded, like
    * the BPE top-pair collect). Nothing all-pairs, no global sort.
    */
  def kmeansAssign(spark: SparkSession, dir: String, k: Int = 8,
      iters: Int = 5): DataFrame = kmeansFit(spark, dir, k, iters)._2

  /** Plan-spec hook: the assignment projection over explicit centroids
    * (double-centroid form — the streaming mini-batch trainer's kernel).
    */
  private[graft] def assignForTest(emb: DataFrame,
      cents: IndexedSeq[Seq[Double]]): DataFrame = assignToCentroids(emb, cents)

  /** The ONE quantization expression — int64 1e-7 units via the
    * identical IEEE double multiply + truncate on both engines —
    * shared by the k-means fit and the exactsig entries so the unit
    * can never drift from the oracles that replay it.
    */
  private[operators] def quantizeExpr(e: Column): Column =
    // the native [[graft.functions.QuantizeE7]] — the identical IEEE
    // widen·multiply·truncate the transform(...) form evaluates, but
    // inside whole-stage codegen (a transform lambda is a
    // CodegenFallback that drops its whole Project out); callers must
    // have run [[VectorFunctions.ensureRegistered]]
    VectorFunctions.quantizeE7(e)

  /** The quantized-integer embedding projection the exact fit runs on:
    * (vec_id, xq: array<bigint>).
    */
  private[graft] def quantized(emb: DataFrame): DataFrame =
    emb.filter(col("embedding").isNotNull)
      .select(col("vec_id"), quantizeExpr(col("embedding")).as("xq"))

  /** Nearest centroid per row against broadcast INTEGER centroid
    * literals: argmin via `array_min` over (exact-distance, cid)
    * structs — the same map-only no-exchange shape as
    * [[assignToCentroids]], with [[LongL2Sq]] as the distance kernel so
    * every comparison is on exact int64.
    */
  private def assignToCentroidsQ(embq: DataFrame,
      cents: IndexedSeq[Seq[Long]]): DataFrame = {
    val best = array_min(array(cents.zipWithIndex.map { case (cvec, cid) =>
      struct(
        graft.functions.VectorFunctions.l2sqLong(col("xq"), typedlit(cvec)).as("d"),
        lit(cid).as("cid"))
    }: _*))
    embq.withColumn("a", best)
      .withColumn("cluster", col("a.cid"))
      .withColumn("dist_q", col("a.d"))
      .drop("a")
  }

  /** Plan-spec hook: the integer assignment projection. */
  private[graft] def assignQForTest(embq: DataFrame,
      cents: IndexedSeq[Seq[Long]]): DataFrame = assignToCentroidsQ(embq, cents)

  /** The quantized projection on a dataset dir — spec/oracle hook.
    * Registers the native functions itself: the quantize_e7 projection
    * analyzes EAGERLY at the `.select`, so callers passing this as an
    * argument can't rely on their own later registration.
    */
  private[graft] def quantizedFor(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.ensureRegistered(spark)
    quantized(Tables.embeddings(spark, dir))
  }

  /** [[kmeansAssign]] plus the fitted centroids — the spec pins the
    * argmin property and inertia against them.
    */
  private val kmeansFitCache = scala.collection.concurrent.TrieMap[
    String, (IndexedSeq[Seq[Long]], DataFrame)]()

  private[graft] def kmeansFit(spark: SparkSession, dir: String, k: Int,
      iters: Int): (IndexedSeq[Seq[Long]], DataFrame) = {
    VectorFunctions.ensureRegistered(spark)
    // served from the MAINTAINED on-disk artifact since r13
    // ([[TrainedAnn.ensureIvf]] — prefix fit, append-state drift probe,
    // convergence refit): the ensured codebook equals the deterministic
    // full fit bit-for-bit, so q_kmeans / q_ann_ivf_exactsig stay
    // hash-green against their unrolled-CTE oracles while the model
    // carries the production assign-on-append / refit-on-drift
    // lifecycle (and survives JVM restarts, unlike the old pure cache).
    // The assignment frame rebuilds lazily from the stored centroids —
    // the identical map-only projection kmeansFitOver returns.
    kmeansFitCache.getOrElseUpdate(s"${fpKey(dir)}:$k:$iters", {
      val root = TrainedAnn.ensureIvf(spark, dir, k, iters)
      val cents = TrainedAnn.requireModel(root, "ivf_exactsig").ivfCents
      val assigned = assignToCentroidsQ(quantizedFor(spark, dir), cents)
        .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
          col("dist_q"))
        .orderBy("vec_id")
      (cents, assigned)
    })
  }

  /** The seed-free k-means init ordering key — first 15 md5 hex chars
    * of the id as a 60-bit int, the cross-engine `conv` ↔ `'0x'`-cast
    * family. ONE definition shared by the exact batch fit, the
    * streaming mini-batch trainer, and the spec fixtures: the
    * batch↔stream "cannot drift on which vectors seed the model" claim
    * holds by construction only while all three use this helper.
    */
  private[graft] def seedOrderKey(id: Column): Column =
    conv(substring(md5(id.cast("string").cast("binary")), 1, 15), 16, 10)
      .cast("long")

  /** [[kmeansFit]] over an explicit embedding frame — the spec hook that
    * pins the fitted centroids on a fixed synthetic corpus (KMeansSpec)
    * AND the shape the DuckDB oracle replays: with every step exact
    * int64 (see [[kmeansAssign]]'s contract) the driver-side loop is a
    * pure function of the data, so unrolling the fixed iteration count
    * as chained CTEs reproduces these centroids — and therefore the
    * assignment — bit-for-bit. The hash pin guards the ITERATION
    * (init rule, rounding rule, tie order) between oracle runs.
    */
  private[graft] def kmeansFitOver(emb0: DataFrame, k: Int, iters: Int,
      gen: String): (IndexedSeq[Seq[Long]], DataFrame) = {
    val spark = emb0.sparkSession
    VectorFunctions.ensureRegistered(spark)
    graft.IntraQueryCache.newGeneration(gen)
    // iters+1 passes read this frame; scoped so the scan+quantize runs once
    val embq = graft.IntraQueryCache.scoped(quantized(emb0))
    // seed-free init, cross-engine replayable: smallest (md5-60bit, id)
    var cents: IndexedSeq[Seq[Long]] = embq
      .orderBy(seedOrderKey(col("vec_id")), col("vec_id"))
      .limit(k)
      .select(col("xq"))
      .collect().map(_.getSeq[Long](0)).toIndexedSeq
    for (_ <- 1 to iters) {
      val sums = assignToCentroidsQ(embq, cents)
        .select(col("cluster"), posexplode(col("xq")))
        .groupBy("cluster", "pos")
        .agg(sum(col("col")).as("s"), count(lit(1)).as("c"))
        .collect() // ≤ k·dim rows — bounded by the model, not the corpus
      val byCluster = sums.groupBy(_.getInt(0))
      cents = cents.zipWithIndex.map { case (prev, cid) =>
        byCluster.get(cid) match {
          case Some(rows) =>
            val next = prev.toArray
            rows.foreach { r =>
              // mean rounded half-up toward +∞: floor((2S + n) / 2n) —
              // exact integer arithmetic, no float in the loop
              next(r.getInt(1)) =
                Math.floorDiv(2L * r.getLong(2) + r.getLong(3),
                  2L * r.getLong(3))
            }
            next.toSeq
          case None => prev // empty cluster: keep its centroid
        }
      }
    }
    val out = assignToCentroidsQ(embq, cents)
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
        col("dist_q"))
      .orderBy("vec_id")
    (cents, out)
  }
}
