package graft.operators

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Maintained lifecycle for the TRAINED-ANN artifacts (r13) — the IVF
  * coarse codebook and the PQ product codebooks, previously
  * fit-and-cache only: the exactsig vector index had the full
  * prefix+append+compact chain while the trained models had no append
  * story at all (new vectors required a full refit, and nothing pinned
  * that recall survived appends between refits). This object gives both
  * exact-int64 model families the production ANN maintenance shape:
  *
  *  - APPEND (no refit): new vectors are assigned to the nearest
  *    EXISTING centroid/codeword — the assignment kernels are pure
  *    map-only projections of the stored codebook
  *    ([[VectorOps.assignQForTest]] / [[VectorOps.pqCodesQ]]), so an
  *    append costs one slice-sized pass and the serving searches keep
  *    working unchanged. TrainedAnnSpec pins the recall floor UNDER a
  *    stale (prefix-fit) codebook over the grown corpus — the state a
  *    production index lives in between refits.
  *  - DRIFT PROBE: the per-vector quantization inertia of the CURRENT
  *    corpus under the stored codebook, ratioed against the fit-time
  *    inertia recorded in the artifact — exact int64 sums both sides,
  *    so the probe is deterministic. In-distribution appends hold the
  *    ratio ≈ 1; a distribution shift inflates it.
  *  - REFIT-PAST-BOUND: [[maintainIvf]]/[[maintainPq]] refit only when
  *    the measured ratio exceeds `refitBound` — the assign-on-append /
  *    refit-on-drift policy production ANN systems run.
  *
  * The artifacts live on disk behind the shared [[Artifacts]] publish
  * protocol (a JVM-restart-surviving upgrade over the old TrieMap
  * caches): `model/` holds the codebook plus fit stats, swapped in by
  * the crash-recoverable aside-rename chain. [[ensureIvf]]/[[ensurePq]]
  * build THROUGH the maintained chain (prefix fit → drift probe over
  * the appended corpus → convergence refit), and because the refit IS
  * the deterministic full fit ([[VectorOps.kmeansFitOver]]/
  * [[VectorOps.pqFitQ]] are seed-free and exact), the served codebook
  * equals the one-shot full fit bit-for-bit — which is why
  * q_kmeans / q_ann_ivf_exactsig / q_ann_pq_exactsig stay HASH-GREEN
  * against their unrolled-CTE DuckDB oracles while serving from the
  * maintained artifact.
  */
object TrainedAnn {

  /** Per-vector inertia ratio past which [[maintainIvf]]/[[maintainPq]]
    * refit: 1.25 tolerates assignment-boundary noise from
    * in-distribution growth (measured ≈ 1.0 on the driver corpora)
    * while catching genuine shift (the spec's displaced appends measure
    * several × higher).
    */
  val refitBound = 1.25

  private def modelDir(root: String) = s"$root/model"

  /** A fitted model: centroid rows (IVF: k × dim; PQ: subs·codes ×
    * subDim, s-major) plus the fit-time inertia the drift probe ratios
    * against.
    */
  final case class Model(rows: IndexedSeq[Seq[Long]], family: String,
      params: Map[String, Int], nFit: Long, inertiaFit: Long,
      gen: Long = 0L) {
    def ivfCents: IndexedSeq[Seq[Long]] = rows
    def pqCents: IndexedSeq[IndexedSeq[Seq[Long]]] = {
      // group by the ACTUAL per-subspace codeword count, not the
      // requested `codes`: pqFitQ seeds min(codes, nVectors) codewords
      // per subspace (all subspaces the same count), so a small-corpus
      // fit regrouped by the requested count would bleed subspace
      // boundaries into each other — structurally garbage codebooks
      // with no error (review-found, r13)
      val subs = params("subs")
      require(rows.nonEmpty,
        "stored PQ codebook is EMPTY — the fit corpus was empty or " +
          "degenerate; refusing to serve from a model with no codewords " +
          "(rebuild over real embeddings)")
      require(rows.size % subs == 0,
        s"stored PQ codebook holds ${rows.size} rows, not a multiple " +
          s"of subs=$subs — torn or cross-family model; rebuild it")
      rows.grouped(rows.size / subs).toIndexedSeq
    }
  }

  private def writeModel(root: String, m: Model): Unit = {
    new File(root).mkdirs()
    recover(root)
    // the model GENERATION (r14): every (re)fit publishes gen+1 of
    // whatever it replaces — the version downstream serving artifacts
    // and the endurance ladder key refit-cascade detection on (a
    // production model registry's version counter)
    val gen = loadModel(root).map(_.gen + 1).getOrElse(0L)
    val stage = new File(s"${modelDir(root)}.tmp-${java.util.UUID.randomUUID()}")
    stage.mkdirs()
    val body = m.rows.map(_.mkString(",")).mkString("\n") + "\n"
    java.nio.file.Files.write(new File(stage, "codebook").toPath,
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val meta = (Seq(s"family=${m.family}", s"n_fit=${m.nFit}",
      s"inertia_fit=${m.inertiaFit}", s"gen=$gen") ++
      m.params.toSeq.sorted.map { case (k, v) => s"$k=$v" })
      .mkString("", "\n", "\n")
    java.nio.file.Files.write(new File(stage, "_meta").toPath,
      meta.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (new File(modelDir(root)).exists())
      Artifacts.publishByRename(modelDir(root), stage.getPath)
    else require(stage.renameTo(new File(modelDir(root))),
      s"publish rename to ${modelDir(root)} failed")
  }

  /** The stored model, if a WELL-FORMED one exists (a torn write parses
    * to None and the gates refuse with the rebuild message).
    */
  private[graft] def loadModel(root: String): Option[Model] = {
    val md = new File(modelDir(root))
    if (!new File(md, "_meta").exists() || !new File(md, "codebook").exists())
      return None
    Artifacts.parseKvFile(new File(md, "_meta")).flatMap { kv =>
      scala.util.Try {
        val rows = new String(java.nio.file.Files.readAllBytes(
          new File(md, "codebook").toPath),
          java.nio.charset.StandardCharsets.UTF_8)
          .linesIterator.filter(_.nonEmpty)
          .map(_.split(',').map(_.toLong).toSeq).toIndexedSeq
        Model(rows, kv("family"),
          (kv - "family" - "n_fit" - "inertia_fit" - "gen")
            .map { case (k, v) => k -> v.toInt },
          kv("n_fit").toLong, kv("inertia_fit").toLong,
          kv.getOrElse("gen", "0").toLong)
      }.toOption
    }
  }

  private[graft] def requireModel(root: String, family: String): Model = {
    val m = loadModel(root)
    require(m.isDefined, s"trained-ANN artifact at $root carries no " +
      "readable model (torn write?) — refusing to serve; rebuild it")
    require(m.get.family == family,
      s"trained-ANN artifact at $root is family '${m.get.family}', " +
        s"refusing to serve as '$family' — drifted code spaces assign garbage")
    m.get
  }

  /** Heal a crashed model swap — call at maintenance entry. */
  def recover(root: String): Unit =
    Artifacts.recoverArtifacts(root, Seq("model"))

  // ---- IVF (coarse k-means codebook — the q_kmeans / annIvfExactSig fit)

  private[graft] def ivfPath(dir: String, k: Int, iters: Int): String =
    Artifacts.datasetRoot(dir, "embeddings", s"trained_ivf_v1_k${k}i$iters")

  /** Exact int64 inertia of an embedding frame under centroid rows:
    * (Σ best squared distance, n) — one map-only assignment pass and a
    * two-long aggregate, the drift probe's whole cost.
    */
  private[graft] def ivfInertia(emb: DataFrame,
      cents: IndexedSeq[Seq[Long]]): (Long, Long) = {
    val r = VectorOps.assignQForTest(VectorOps.quantized(emb), cents)
      .agg(sum(col("dist_q")), count(lit(1))).head()
    (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
  }

  /** Fit (or refit) the IVF model over `emb` and publish it — the
    * deterministic [[VectorOps.kmeansFitOver]] kernel, so a refit over
    * the same rows always reproduces the same codebook.
    */
  def buildIvfInto(root: String, emb: DataFrame, k: Int, iters: Int,
      gen: String): Unit = {
    val (cents, assigned) = VectorOps.kmeansFitOver(emb, k, iters, gen)
    val r = assigned.agg(sum(col("dist_q")), count(lit(1))).head()
    writeModel(root, Model(cents, "ivf_exactsig", Map("k" -> k,
      "iters" -> iters), r.getLong(1),
      if (r.isNullAt(0)) 0L else r.getLong(0)))
  }

  /** The drift probe: per-vector inertia of the CURRENT corpus under
    * the stored codebook, over the fit-time per-vector inertia.
    */
  def ivfDriftRatio(root: String, emb: DataFrame): Double = {
    val m = requireModel(root, "ivf_exactsig")
    val (s, n) = ivfInertia(emb, m.ivfCents)
    driftRatioOf(s, n, m)
  }

  /** The shared ratio rule, degenerate-fit-aware: an EMPTY current
    * corpus has nothing to drift (1.0), but a zero fit-time inertia
    * (≤ k distinct vectors — a perfect fit — or an empty fit corpus)
    * with NONZERO current inertia is infinite drift, not "no drift":
    * returning 1.0 there would permanently mask genuine shift behind a
    * degenerate denominator — the exact failure the probe exists to
    * catch (review-found, r13).
    */
  private def driftRatioOf(s: Long, n: Long, m: Model): Double =
    if (n == 0) 1.0
    else if (m.nFit == 0 || m.inertiaFit == 0) {
      if (s == 0) 1.0 else Double.PositiveInfinity
    } else (s.toDouble / n) / (m.inertiaFit.toDouble / m.nFit)

  /** The maintenance entry a continuous ingester runs after appends:
    * probe drift, refit past the bound. Returns the measured ratio and
    * whether a refit fired.
    */
  def maintainIvf(root: String, emb: DataFrame, k: Int, iters: Int,
      gen: String, bound: Double = refitBound): (Double, Boolean) = {
    recover(root)
    val ratio = ivfDriftRatio(root, emb)
    if (ratio > bound) { buildIvfInto(root, emb, k, iters, gen); (ratio, true) }
    else (ratio, false)
  }

  /** The SLICE-PROBING maintenance entry a continuous ingester runs per
    * micro-batch (r14 — what [[graft.streaming.VectorStream]]'s trained
    * maintainer and the endurance ladder call): the drift probe runs on
    * the INCOMING BATCH only — slice-sized, the cost a per-batch hook
    * can afford, and statistically the right signal (a shifted incoming
    * distribution shows immediately instead of being diluted by the
    * settled corpus) — while a triggered refit runs over the FULL
    * corpus-so-far (`full`, by-name: only built when the refit fires).
    * [[maintainIvf]] stays the full-corpus probe a periodic auditor
    * runs.
    */
  def maintainIvfBatch(root: String, batch: DataFrame, full: => DataFrame,
      k: Int, iters: Int, gen: String,
      bound: Double = refitBound): (Double, Boolean) = {
    recover(root)
    val ratio = ivfDriftRatio(root, batch)
    if (ratio > bound) { buildIvfInto(root, full, k, iters, gen); (ratio, true) }
    else (ratio, false)
  }

  /** Build-if-missing through the MAINTAINED chain (the family-wide
    * ensure pattern): fit on a deterministic corpus prefix
    * (vec_id % 3 ≠ 0), treat the remainder as appended vectors served
    * by assign-to-nearest under the stale codebook (the drift probe
    * measures exactly that state — recorded loudly), then run the
    * CONVERGENCE refit over everything (the compact role): the final
    * model is the deterministic full fit, bit-for-bit, which is what
    * keeps the unrolled-CTE oracles of q_kmeans / q_ann_ivf_exactsig
    * hash-green while they serve from this artifact.
    */
  def ensureIvf(spark: SparkSession, dir: String, k: Int,
      iters: Int): String =
    Artifacts.ensureRoot(ivfPath(dir, k, iters))(p =>
      loadModel(p).exists(m => m.family == "ivf_exactsig" &&
        m.params.get("k").contains(k) && m.params.get("iters").contains(iters))
    ) { tmp =>
      val emb = graft.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      val prefix = emb.filter(col("vec_id") % 3 =!= 0)
      buildIvfInto(tmp, prefix, k, iters, s"trainedivf-prefix:$dir:$k:$iters")
      // the append-state probe: the grown corpus under the stale
      // prefix codebook — the ratio a maintainer would gate on (guarded:
      // a degenerate prefix records nothing to ratio against)
      if (loadModel(tmp).exists(_.nFit > 0)) {
        val ratio = ivfDriftRatio(tmp, emb)
        System.err.println(f"[trained-ann] ivf drift after append " +
          f"(prefix fit, full corpus): $ratio%.4f (refit bound $refitBound)")
      }
      // convergence refit — the final artifact IS the full fit
      buildIvfInto(tmp, emb, k, iters, s"trainedivf-full:$dir:$k:$iters")
    }

  // ---- PQ (product codebooks — the annPqExactSig fit) ------------------

  private[graft] def pqPath(dir: String, subs: Int, codes: Int,
      iters: Int): String =
    Artifacts.datasetRoot(dir, "embeddings",
      s"trained_pq_v1_s${subs}c${codes}i$iters")

  /** Exact int64 PQ quantization inertia: Σ over rows and subspaces of
    * the squared distance between the subvector and its assigned
    * codeword — one encode + lookup projection, no join.
    */
  private[graft] def pqInertia(embq: DataFrame,
      cents: IndexedSeq[IndexedSeq[Seq[Long]]]): (Long, Long) = {
    // an empty/degenerate fit (empty embeddings corpus) yields ZERO
    // codewords — there is no inertia to measure, and `cents.head.head`
    // would die with a raw NoSuchElementException at prepare time
    // instead of the family's degenerate-dataset escape: record a
    // (0, 0) fit, which [[driftRatioOf]] already treats as the
    // infinite-drift-on-nonzero-current rule and [[Model.pqCents]]
    // refuses to SERVE with an actionable message
    // (review-found, r13 ADVICE)
    if (cents.isEmpty || cents.head.isEmpty) return (0L, 0L)
    val subs = cents.length
    val subDim = cents.head.head.length
    val coded = embq.select(col("xq"), VectorOps.pqCodesQ(cents).as("codes"))
    val dist = (0 until subs).map { s =>
      graft.functions.VectorFunctions.l2sqLong(
        slice(col("xq"), s * subDim + 1, subDim),
        element_at(typedlit(cents(s).map(_.toSeq)),
          element_at(col("codes"), s + 1) + 1))
    }.reduce(_ + _)
    val r = coded.agg(sum(dist), count(lit(1))).head()
    (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
  }

  def buildPqInto(root: String, embq: DataFrame, subs: Int, codes: Int,
      iters: Int, gen: String): Unit = {
    val cents = VectorOps.pqFitQ(embq, subs, 64 / subs, codes, iters, gen)
    val (s, n) = pqInertia(embq, cents)
    writeModel(root, Model(cents.flatten, "pq_exactsig",
      Map("subs" -> subs, "codes" -> codes, "iters" -> iters), n, s))
  }

  def pqDriftRatio(root: String, embq: DataFrame): Double = {
    val m = requireModel(root, "pq_exactsig")
    val (s, n) = pqInertia(embq, m.pqCents)
    driftRatioOf(s, n, m)
  }

  def maintainPq(root: String, embq: DataFrame, subs: Int, codes: Int,
      iters: Int, gen: String, bound: Double = refitBound): (Double, Boolean) = {
    recover(root)
    val ratio = pqDriftRatio(root, embq)
    if (ratio > bound) {
      buildPqInto(root, embq, subs, codes, iters, gen); (ratio, true)
    } else (ratio, false)
  }

  /** [[ensureIvf]] for the PQ family — prefix fit, append-state drift
    * probe, convergence refit to the deterministic full fit
    * (q_ann_pq_exactsig's oracle replays exactly that fit).
    */
  def ensurePq(spark: SparkSession, dir: String, subs: Int, codes: Int,
      iters: Int): String =
    Artifacts.ensureRoot(pqPath(dir, subs, codes, iters))(p =>
      loadModel(p).exists(m => m.family == "pq_exactsig" &&
        m.params.get("subs").contains(subs) &&
        m.params.get("codes").contains(codes) &&
        m.params.get("iters").contains(iters))
    ) { tmp =>
      val embq = VectorOps.quantizedFor(spark, dir)
      val prefix = embq.filter(col("vec_id") % 3 =!= 0)
      buildPqInto(tmp, prefix, subs, codes, iters,
        s"trainedpq-prefix:$dir:$subs:$codes:$iters")
      if (loadModel(tmp).exists(_.nFit > 0)) {
        val ratio = pqDriftRatio(tmp, embq)
        System.err.println(f"[trained-ann] pq drift after append " +
          f"(prefix fit, full corpus): $ratio%.4f (refit bound $refitBound)")
      }
      buildPqInto(tmp, embq, subs, codes, iters,
        s"trainedpq-full:$dir:$subs:$codes:$iters")
    }
}
