package graft.operators

import java.io.File
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Maintained winnow-fingerprint artifact — the persisted form of the
  * corpus fingerprint set [[graft.streaming.WinnowStream]] matches
  * against, promoted (r9) from a caller-managed recompute to a
  * TextIndex-parity maintained artifact, and SHARDED BY FP RANGE behind
  * a manifest since r10 (the production posture r9's docstring named):
  * build once, fold new document slices in with [[appendTo]], bound
  * per-shard file count with [[compact]], and serve through the same
  * refresh-snapshot lifecycle — with membership reads PRUNED to the
  * probe batch's fp ranges ([[membershipFps]]).
  *
  * The ranges are EQUI-DEPTH boundaries cut from the build's own data
  * (approx quantiles), not fixed-width slices of the hash space:
  * winnow fingerprints are window MINIMA, so their value distribution
  * is head-heavy by construction (measured: head shards ~2.5× the mean, tails near-empty,
  * under equal-width cuts) — data-driven boundaries are what keep
  * shard volumes balanced, which at 100 TB is the difference between
  * uniform shard maintenance and a permanently hot head shard. The
  * boundaries live in the manifest; the manifest is the ONLY authority
  * for fp→shard mapping (build, append, compact and serving all read
  * it), so the cut can rebalance at every compaction without any
  * reader/writer agreeing on anything out-of-band.
  *
  * Layout under `root`:
  *  - `fps/shard=<id>/` — parquet (fp: long) partitioned by the
  *    manifest's range shard, fp-sorted within files (row-group
  *    min/max locality). May hold duplicate fps ACROSS segment files
  *    after appends — benign by construction: every serving path
  *    dedupes at load, and [[compact]] collapses them. This
  *    value-idempotence is also what makes the append replay-safe with
  *    no marker protocol: an at-least-once re-delivery adds duplicate
  *    ROWS, never duplicate MATCHES.
  *  - `fps/_manifest` — the shard scheme: format version, shard count,
  *    family, and the sorted interior boundaries (shard of fp = count
  *    of boundaries ≤ fp). INSIDE the fps tree deliberately: the
  *    mapping must travel atomically with the data it indexes — a
  *    root-level manifest could describe NEW boundaries while a
  *    crashed rebuild left OLD-sharded dirs, and pruning against
  *    mismatched boundaries silently under-matches, the worst kind of
  *    wrong. Riding the aside-rename swap makes that window
  *    unrepresentable (the TextIndex `_last_appends` move).
  *  - `_family` — the gram-hash tier ([[TextOps.WinnowHash]]) the index
  *    was built with, written BEFORE the first fps write (so no crash
  *    window leaves fps without it); appends and serving fail fast on a
  *    mismatch — fingerprints from different families silently match
  *    nothing.
  *
  * Crash consistency: compaction publishes through the shared
  * [[Artifacts]] aside-rename chain; [[recover]] heals any crash point
  * at maintenance entry. A crashed APPEND leaves either staged
  * `_temporary` residue (the committer's, invisible to readers) or a
  * committed subset of the slice's segment files — the replayed append
  * re-adds the slice and the duplicates collapse by value, so every
  * crash point converges without a marker protocol.
  *
  * 100 TB posture: the fingerprint set is itself large at corpus scale;
  * range sharding is what keeps (a) membership reads probe-bounded,
  * (b) compaction shard-local (each shard's range is disjoint by
  * construction — here one job writes all shards, the manifest is what
  * production hangs per-shard maintenance off), (c) appends
  * slice-sized (only touched shard dirs gain a file), (d) shard
  * volumes balanced (equi-depth re-cut at every compaction).
  */
object WinnowIndex {

  def fpsDir(root: String): String = s"$root/fps"

  /** DEFAULT shard count = the artifact's pruning/parallelism unit (the
    * TextIndex term-shard role). 64 keeps a probe's touched fraction
    * observable at spec scale; production sizes this so a shard stays a
    * few GB (thousands at 100 TB). The count is a BUILD parameter since
    * r11 — recorded in the manifest, which every reader and maintainer
    * treats as the sole authority, so an artifact built at any width
    * serves, prunes and compacts correctly (pinned at 512 shards in
    * WinnowIndexSpec; the measured pruning fraction at that width is
    * SCALE.md's exact-dedup 512-shard row).
    */
  private[operators] val shardCount = 64

  /** The shard of an fp column under sorted interior `bounds`
    * (length = shards − 1): the count of boundaries ≤ fp —
    * well-defined for ANY non-decreasing cut, including duplicate
    * boundaries (those shards are simply empty). The native
    * binary-search kernel ([[graft.functions.RangeShard]]) since r11:
    * the former `Σ when(fp >= bound, 1)` fold builds an O(shards)-node
    * expression chain that overflows Catalyst's recursion at
    * production widths (measured: StackOverflow at 512 shards) and
    * costs O(shards) per row where the search costs O(log shards).
    * Callers must [[graft.functions.VectorFunctions.ensureRegistered]]
    * on the consuming session first — every in-tree entry point does.
    */
  private[graft] def shardOfBounds(fp: Column, bounds: Seq[Long]): Column =
    graft.functions.VectorFunctions.rangeShard(fp,
      org.apache.spark.sql.functions.typedlit(bounds))

  /** Equi-depth interior boundaries cut from an fp frame: the
    * (i/shards)-quantiles for i in 1..shards−1, via the
    * distributed Greenwald–Khanna sketch (bounded memory at any corpus
    * size; exactness is NOT required — any recorded monotone cut
    * prunes correctly, balance is what the quantiles buy). Empty input
    * degrades to all-zero boundaries (one live shard) — still a valid
    * cut.
    */
  private[graft] def equiDepthBounds(fps: DataFrame,
      shards: Int = shardCount): Seq[Long] = {
    val probs = (1 until shards).map(_.toDouble / shards).toArray
    val qs = fps.stat.approxQuantile("fp", probs, 0.01)
    if (qs.isEmpty) Seq.fill(shards - 1)(0L)
    else {
      // double round-trip above 2^53 may locally perturb order; the cut
      // only needs to be non-decreasing to be a valid mapping
      val longs = qs.map(_.toLong)
      longs.scanLeft(Long.MinValue)(math.max).drop(1).toSeq
    }
  }

  /** Per-dataset artifact root, keyed by the dataset fingerprint AND
    * the winnow parameters — fingerprints selected at one (k, w) are
    * meaningless against another's, so a parameter change must build a
    * sibling artifact, never silently serve the first builder's
    * (`_family` plays the same role for the hash tier). `v3` = the
    * manifest-driven equi-depth sharded layout (v1 flat, v2 fixed-width
    * shards); a format change keys a fresh root, never a half-migrated
    * one.
    */
  private[graft] def indexPath(dir: String, k: Int, w: Int): String =
    Artifacts.datasetRoot(dir, "documents", s"winnow_v3_k${k}w$w")

  /** Build-if-missing over the dataset's CORPUS slice (doc_id ≢ 0
    * mod 3 — the q_winnow_match fixture split: the remaining third is
    * the probe side); returns the index root. Publish is the shared
    * [[Artifacts.ensureRoot]] two-JVM-safe atomic whole-root rename,
    * with completeness = root marker + the fps artifact's own
    * `_SUCCESS` + family + in-tree manifest. The q_winnow_match_indexed
    * driver row recomputes the same report from RAW documents in
    * DuckDB, so a green row is a standing consistency proof for this
    * maintained artifact — the q_route_stats / termStats role.
    *
    * Built the way production MAINTAINS the artifact (r11, the
    * VectorIndex.ensureExactSig twin): a deterministic prefix of the
    * corpus slice ([[buildInto]] over doc_id % 5 ≠ 1 within it), the
    * remainder folded in with [[appendTo]] under the live manifest's
    * boundaries, then [[compact]]'s dedup + equi-depth re-cut.
    * Appended fingerprints are per-document values, so the merged
    * distinct set equals the full slice's exactly — the oracle row
    * hash-checks the append+compact maintenance chain, not just a
    * one-shot build. The segment requires make the exercise structural
    * (a skipped append or compact fails prepare loudly).
    */
  def ensure(spark: SparkSession, dir: String, k: Int = 3,
      w: Int = 4): String =
    // the _family/_manifest markers are part of completeness: serving
    // hard-requires them, so a root that lost either must rebuild, not
    // be returned forever in a permanently-refused state
    Artifacts.ensureRoot(indexPath(dir, k, w))(p =>
      new File(s"${fpsDir(p)}/_SUCCESS").exists() &&
        familyFile(p).exists() && manifestFile(p).exists()) { tmp =>
      val corpus = graft.Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 3 =!= 0)
      val prefix = corpus.filter(col("doc_id") % 5 =!= 1)
      val rest = corpus.filter(col("doc_id") % 5 === 1)
      buildInto(tmp, prefix, k, w)
      // every structural require below is guarded by its slice yielding
      // no fingerprints (empty table, or every doc under the 6-token
      // winnow floor) — a degenerate dataset must still build a
      // servable (empty) artifact, never strand prepare behind a proof
      // about work that did not exist. On the driver's fixtures every
      // slice fingerprints, so the proofs bind; the guards only
      // evaluate on the failure path (|| short-circuits).
      val segsAfterBuild = segments(tmp)
      require(segsAfterBuild == 1 || TextOps.winnowOver(prefix, k, w).isEmpty,
        s"winnow prefix build left $segsAfterBuild segments, expected 1")
      appendTo(tmp, rest, k, w)
      // the exercised-maintenance proof: the append must land one new
      // segment on top of whatever the prefix left (0 for a degenerate
      // prefix, 1 otherwise)
      require(segments(tmp) == segsAfterBuild + 1 ||
          TextOps.winnowOver(rest, k, w).isEmpty,
        "winnow append did not add a segment — the maintenance path " +
          "this artifact exists to prove was not exercised")
      // BOTH compaction entries run, so the oracle row stands behind
      // each: shard-local file economy first (the streaming
      // maintainer's per-batch path — set and cut must be preserved),
      // then the global equi-depth rebalance
      compactShards(tmp, spark)
      require(segments(tmp) == 1 || TextOps.winnowOver(corpus, k, w).isEmpty,
        s"winnow shard-local compact left ${segments(tmp)} segments, expected 1")
      compact(tmp, spark)
      require(segments(tmp) == 1 || TextOps.winnowOver(corpus, k, w).isEmpty,
        s"winnow compact left ${segments(tmp)} segments, expected 1")
    }

  private def familyFile(root: String) = new File(root, "_family")
  private def manifestFile(root: String) =
    new File(fpsDir(root), "_manifest")

  /** The family the artifact at `root` was built with, if any. */
  private[graft] def familyOf(root: String): Option[String] = {
    val f = familyFile(root)
    if (!f.exists()) None
    else Some(new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8).trim)
  }

  private def requireFamily(root: String, family: TextOps.WinnowHash): Unit =
    familyOf(root).foreach(have => require(have == family.name,
      s"winnow index at $root was built with hash family '$have', " +
        s"refusing to touch it as '${family.name}' — cross-family " +
        "fingerprints silently match nothing"))

  /** The SERVING-path family gate, shared by every reader
    * ([[TextOps.winnowMatchIndexed]],
    * [[graft.streaming.WinnowStream.matchesVsIndexRefreshing]]): unlike
    * the maintenance-side [[requireFamily]] (which tolerates an absent
    * marker — a fresh root has none yet), serving REQUIRES the marker
    * to exist and match, because an unmarked or cross-family set
    * silently matches nothing — the worst kind of wrong.
    */
  private[graft] def requireServableFamily(root: String,
      family: TextOps.WinnowHash): Unit = {
    val have = familyOf(root)
    require(have.contains(family.name),
      s"winnow index at $root carries family ${have.orNull} " +
        s"(serving requested '${family.name}') — refusing to serve " +
        "cross-family or unmarked fingerprints")
  }

  /** Render the manifest body for a staged tree: the shard count is
    * whatever the boundary cut implies — the manifest IS the authority
    * for the artifact's width, so build-time parameters never need to
    * agree with a compile-time constant.
    */
  private def manifestBody(family: TextOps.WinnowHash,
      bounds: Seq[Long]): String =
    s"version=3\nshards=${bounds.length + 1}\nfamily=${family.name}\n" +
      bounds.map(b => s"bound=$b").mkString("", "\n", "\n")

  /** Parse and VALIDATE the in-tree manifest: version and family must
    * match and the boundary cut must be complete for the RECORDED shard
    * count (any width ≥ 1 — the count is the artifact's build
    * parameter, not a reader constant) and non-decreasing — pruned
    * serving depends on the dirs actually being keyed by these
    * boundaries, so a torn, missing or drifted manifest must fail
    * loudly with an actionable message, never under-read (and never a
    * raw MatchError from a half-written file: ALL parse failures funnel
    * into the same require).
    */
  private[graft] def boundsOf(root: String,
      family: TextOps.WinnowHash): Seq[Long] = {
    val f = manifestFile(root)
    require(f.exists(), s"winnow index at $root has no fps/_manifest — " +
      "pre-v3 or torn artifact; rebuild before pruned serving")
    val parsed = scala.util.Try {
      val lines = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8).linesIterator.toSeq
      require(lines.contains("version=3") &&
        lines.contains(s"family=${family.name}"))
      val shards = lines.find(_.startsWith("shards="))
        .map(_.stripPrefix("shards=").toInt).getOrElse(0)
      val bounds = lines.filter(_.startsWith("bound="))
        .map(_.stripPrefix("bound=").toLong)
      require(shards >= 1 && bounds.length == shards - 1 &&
        bounds.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
      bounds
    }
    require(parsed.isSuccess, s"winnow index manifest at $root is " +
      s"unreadable or does not match the expected scheme (version=3, " +
      s"family=${family.name}, shards=N with N-1 sorted bounds) — " +
      "refusing to prune against it")
    parsed.get
  }

  /** Stage an fps frame as a range-sharded, fp-sorted parquet tree
    * under `bounds`, with the manifest describing the cut INSIDE the
    * tree (so mapping and data publish atomically): one exchange on
    * the shard key so each shard dir is written by one task (file
    * count = one per shard), fp sort within for row-group min/max
    * locality — the TextIndex writeSharded shape at fp grain.
    */
  private def writeSharded(fps: DataFrame, family: TextOps.WinnowHash,
      bounds: Seq[Long], path: String): Unit = {
    graft.functions.VectorFunctions.ensureRegistered(fps.sparkSession)
    fps.withColumn("shard", shardOfBounds(col("fp"), bounds))
      .repartition(col("shard"))
      .sortWithinPartitions("fp")
      .write.partitionBy("shard")
      .option("compression", "zstd")
      .parquet(path)
    java.nio.file.Files.write(new File(path, "_manifest").toPath,
      manifestBody(family, bounds)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
  }

  /** Build (or rebuild) the index under `root` from a corpus frame.
    * A REBUILD over an existing root publishes through the same
    * aside-rename chain as compaction — a crash mid-rebuild must leave
    * the previous servable artifact (or a recoverable aside), never a
    * partially committed fps dir the refresh loader would silently
    * under-match against (the in-tree manifest keeps the boundary cut
    * consistent with whichever tree survives).
    */
  /** SQL-front-door serving views (r15 — the TextIndex
    * registerServingViews pattern verbatim): the maintained fingerprint
    * set as a temp view `winnow_fps` (columns fp, shard — shard exposed
    * so SQL text can prune shard dirs with literal IN-lists), behind
    * the same family and crash-residue gates the DSL faces serve
    * through. Memoized per session+root; every maintenance entry
    * invalidates, so a memo-hit can only serve the state the view
    * already pointed at.
    */
  private val servingViewsFor =
    scala.collection.concurrent.TrieMap[SparkSession, String]()

  private[graft] def invalidateServingViews(): Unit =
    servingViewsFor.clear()

  def registerServingViews(spark: SparkSession, dir: String,
      k: Int = 3, w: Int = 4): String = {
    val root = ensure(spark, dir, k, w)
    if (servingViewsFor.size > 64) servingViewsFor.clear()
    if (servingViewsFor.get(spark).contains(root) &&
        spark.catalog.tableExists("winnow_fps"))
      return root
    requireServableFamily(root, TextOps.WinnowMd5)
    requireNoShardResidue(root)
    spark.read.parquet(fpsDir(root)).createOrReplaceTempView("winnow_fps")
    servingViewsFor.put(spark, root): Unit
    root
  }

  def buildInto(root: String, docs: DataFrame, k: Int = 3, w: Int = 4,
      family: TextOps.WinnowHash = TextOps.WinnowMd5,
      shards: Int = shardCount): Unit = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    invalidateServingViews()
    new File(root).mkdirs()
    recover(root) // heal a previously crashed swap before staging
    requireFamily(root, family) // a rebuild must not silently flip tiers
    java.nio.file.Files.write(familyFile(root).toPath,
      (family.name + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
    val fps = TextOps.winnowOver(docs, k, w, family).select("fp").distinct()
      .persist()
    try {
      val bounds = equiDepthBounds(fps, shards)
      val stage = s"${fpsDir(root)}.tmp-${java.util.UUID.randomUUID()}"
      writeSharded(fps, family, bounds, stage)
      if (new File(fpsDir(root)).exists())
        Artifacts.publishByRename(fpsDir(root), stage)
      else require(new File(stage).renameTo(new File(fpsDir(root))),
        s"publish rename to ${fpsDir(root)} failed")
    } finally fps.unpersist(): Unit
  }

  /** Fold a NEW document slice in: its distinct selected fingerprints
    * append as one additional segment file per TOUCHED shard dir,
    * keyed by the LIVE manifest's boundaries — slice-sized work, the
    * corpus is never re-read. The single pre-write partition bounds
    * the append's file count explicitly (compact's rationale: under
    * the shuffle default a bare distinct would land one file per
    * post-shuffle partition PER SHARD, and a micro-batch append could
    * alone exceed a maintainer's segment bound, re-triggering a full
    * compact every batch). Duplicates against existing segments are
    * benign (see class doc); serving ≡ full rebuild is spec-pinned.
    */
  def appendTo(root: String, newDocs: DataFrame, k: Int = 3, w: Int = 4,
      family: TextOps.WinnowHash = TextOps.WinnowMd5): Unit = {
    require(new File(fpsDir(root)).exists(),
      s"appendTo on $root with no fps/ — build or recover first")
    invalidateServingViews()
    requireFamily(root, family)
    graft.functions.VectorFunctions.ensureRegistered(newDocs.sparkSession)
    val bounds = boundsOf(root, family)
    TextOps.winnowOver(newDocs, k, w, family).select("fp").distinct()
      .withColumn("shard", shardOfBounds(col("fp"), bounds))
      .repartition(1)
      .sortWithinPartitions("shard", "fp")
      .write.mode("append").partitionBy("shard")
      .option("compression", "zstd")
      .parquet(fpsDir(root))
  }

  /** Collapse the appended segments: one distinct, fp-sorted file per
    * shard — same fingerprint SET, restored file economy (per-shard
    * file count is what degrades scan setup at scale) — and RE-CUT the
    * equi-depth boundaries from the merged data, so append drift
    * rebalances at every compaction (the new cut publishes atomically
    * with the re-sharded tree via the in-tree manifest). At production
    * scale each shard compacts independently behind the manifest; this
    * probe-scale form rewrites them in one job.
    */
  def compact(root: String, spark: SparkSession,
      family: TextOps.WinnowHash = TextOps.WinnowMd5): Unit = {
    invalidateServingViews()
    recover(root)
    requireFamily(root, family)
    // refuse to compact an unreadable scheme — and preserve the
    // artifact's OWN shard width across the re-cut (the manifest is the
    // authority; compaction rebalances boundaries, never the count)
    val shards = boundsOf(root, family).length + 1
    // a degenerate artifact (empty corpus, or every doc under the
    // winnow floor) holds no shard dirs at all — nothing to collapse,
    // and a parquet read over zero files would fail schema inference
    // rather than no-op
    if (segments(root) == 0) return
    val fps = spark.read.parquet(fpsDir(root)).select("fp").distinct()
      .persist()
    try {
      val bounds = equiDepthBounds(fps, shards)
      val tmp = s"${fpsDir(root)}.tmp-${java.util.UUID.randomUUID()}"
      writeSharded(fps, family, bounds, tmp)
      Artifacts.publishByRename(fpsDir(root), tmp)
    } finally fps.unpersist(): Unit
  }

  /** Membership serving, PRUNED to the probe's fp ranges: the probe's
    * distinct shard ids under the LIVE manifest's boundaries (a
    * bounded collect — at most the manifest's recorded width, a build
    * parameter since r11) become partition-pruning literals on the fps
    * read, so the scan touches only the shard dirs the probe's
    * fingerprints can possibly match in — read volume is bounded by
    * the probe's range coverage, not the corpus (a matching fp has the
    * probe fp's shard by construction, PROVIDED both sides use the
    * same boundary cut). Returns the pruned DISTINCT fp set, exactly
    * the frame [[TextOps.winnowMatchReport]] consumes.
    *
    * Concurrent-compaction safety: a compact re-cuts the boundaries
    * and swaps the tree, so shard ids computed under the OLD manifest
    * against the NEW tree's dirs would silently under-match — the
    * worst kind of wrong for a dedup gate. The file LISTING is
    * captured eagerly at `spark.read.parquet` (analysis time), so
    * re-reading the manifest AFTER that point and requiring it
    * unchanged closes the window: manifest stable across
    * [ids-computed, listing-captured] ⇒ ids and dirs share one cut.
    * A re-cut detected in the window retries (bounded); a swap AFTER
    * the listing makes listed files vanish, which Spark surfaces as a
    * loud read error (`ignoreMissingFiles` default false) — never a
    * silent under-match.
    */
  private[graft] def membershipFps(spark: SparkSession, root: String,
      probeFps: DataFrame,
      family: TextOps.WinnowHash = TextOps.WinnowMd5): DataFrame = {
    requireServableFamily(root, family)
    graft.functions.VectorFunctions.ensureRegistered(spark)
    var attempt = 0
    while (true) {
      // crash-residue gate (r12): a compactShards crash between the
      // aside-rename and the swap-in leaves `shard=N` missing with
      // `shard=N.old-<uuid>` present. Partition discovery would parse
      // the aside's name as the STRING partition value 'N.old-<uuid>'
      // (widening the shard column), so the isin prune below would
      // silently drop that shard's fingerprints — an under-matching
      // dedup gate with no error, strictly worse than failing. Serving
      // must not race the maintainer by healing (recover mutates under
      // the root lock), so refuse loudly instead; the next maintenance
      // entry heals. The FULL-tree readers are exempt by construction:
      // an unpruned read still sees the aside's rows (same fp set,
      // value-deduped at load). Checked inside the retry loop so a
      // crash landing mid-retry is still caught.
      requireNoShardResidue(root)
      val bounds = boundsOf(root, family)
      // a degenerate artifact has a manifest but no shard dirs; a
      // parquet read over zero files fails schema inference rather
      // than matching nothing — serve the empty set it holds
      if (segments(root) == 0)
        return spark.range(0).select(col("id").as("fp"))
      val ids = probeFps.select(shardOfBounds(col("fp"), bounds).as("s"))
        .distinct().collect().map(_.getInt(0)).sorted
      val pruned = spark.read.parquet(fpsDir(root)) // listing captured here
        .filter(col("shard").isin(ids.map(Integer.valueOf).toSeq: _*))
        .select("fp").distinct()
      if (boundsOf(root, family) == bounds) return pruned
      attempt += 1
      require(attempt < 5, s"winnow manifest at $root kept changing under " +
        "the membership read (maintainer compacting continuously?) — " +
        "refusing to serve a cut-mismatched prune; retry when maintenance settles")
    }
    throw new IllegalStateException("unreachable")
  }

  /** The pruned-serving residue gate ([[membershipFps]]'s contract):
    * fail loudly if the fps tree holds `.old-`/`.tmp-` shard-dir
    * residue from a crashed [[compactShards]] swap, instead of letting
    * partition discovery parse the aside as a string partition value
    * and silently drop that shard from an `isin` prune.
    */
  private[graft] def requireNoShardResidue(root: String): Unit = {
    // bounded patience first (r13): a healthy concurrent compaction's
    // swap briefly leaves a live `.old-` aside — only residue that
    // OUTLIVES the re-checks is a crash to refuse on
    val residue = Artifacts.settledDirResidue(fpsDir(root), "shard=")
    require(residue.isEmpty,
      s"winnow index at $root holds crashed shard-compaction residue " +
        s"(${residue.sorted.mkString(", ")}) — a pruned read against it " +
        "would silently drop those shards' fingerprints; run a " +
        "maintenance entry (recover/compact) to heal before pruned serving")
  }

  /** SHARD-LOCAL compaction (r11) — the per-shard maintenance the
    * manifest exists to hang at production scale, now real code
    * instead of a doc note: every shard dir whose segment-file count
    * exceeds `maxSegments` is rewritten alone (distinct, fp-sorted,
    * one file), through the same aside-rename chain at SHARD-DIR
    * grain. The boundary cut is untouched — appends key by the live
    * manifest, so every copy of an fp lives in exactly one shard dir
    * and a per-shard distinct IS the global dedup for that range;
    * the fingerprint SET is preserved exactly (spec-pinned). Global
    * [[compact]] remains the REBALANCE entry (equi-depth re-cut);
    * this is the file-economy entry a continuous maintainer runs per
    * batch, touching only the shards its appends actually loaded —
    * at thousands of shards the difference between rewriting a few
    * hot dirs and rewriting the corpus.
    */
  def compactShards(root: String, spark: SparkSession,
      family: TextOps.WinnowHash = TextOps.WinnowMd5,
      maxSegments: Int = 1): Unit = {
    invalidateServingViews()
    recover(root)
    requireFamily(root, family)
    boundsOf(root, family): Unit // refuse an unreadable scheme
    val dirs = Artifacts.overweightDirs(fpsDir(root), "shard=", maxSegments)
    if (dirs.isEmpty) return
    // ONE job over exactly the overweight dirs (basePath keeps the
    // shard partition column so the rewrite re-lands per dir), staged
    // as a `.tmp-` sibling the whole-tree recover already knows to
    // sweep — a per-dir job here would pay Spark's scheduling overhead
    // once per shard and dominate at small shards (measured 17 dirs ≈
    // a full rewrite); the data term, not the dir count, should own
    // the cost. The per-dir swap chain and its crash windows are the
    // shared [[Artifacts.swapStagedDirs]].
    val stage = s"${fpsDir(root)}.tmp-${java.util.UUID.randomUUID()}"
    spark.read.option("basePath", fpsDir(root))
      .parquet(dirs.map(_.getPath).toSeq: _*)
      .select("fp", "shard").distinct()
      .repartition(col("shard"))
      .sortWithinPartitions("fp")
      .write.partitionBy("shard")
      .option("compression", "zstd")
      .parquet(stage)
    Artifacts.swapStagedDirs(spark, stage, dirs.toSeq)
  }

  /** Heal a crashed compaction swap — call at maintenance entry:
    * whole-tree swaps ([[compact]]/rebuild) at the fps grain, and any
    * crashed SHARD-dir swaps ([[compactShards]]) inside it.
    */
  def recover(root: String): Unit = {
    Artifacts.recoverArtifacts(root, Seq("fps"))
    if (new File(fpsDir(root)).isDirectory)
      Artifacts.recoverDirSwaps(fpsDir(root), "shard=")
  }

  /** Segment-count proxy the streaming maintainer bounds ([[compact]]
    * when exceeded): MAX parquet file count across shard dirs (each
    * append adds at most one file per touched shard, so this tracks
    * appends-since-compact, not corpus size — the
    * TextIndex.postingsSegments shape).
    */
  private[graft] def segments(root: String): Int =
    Artifacts.maxSegmentsIn(fpsDir(root), "shard=")
}
