package graft.operators

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Ingest-time inverted text index — the 100 TB serving path for lexical
  * retrieval that [[TextOps.bm25TopK]]'s docstring promises: instead of
  * re-deriving the (doc, term) frame from a full corpus scan per query,
  * the postings land ON DISK at ingest, term-sharded and term-sorted, so
  * a keyword query reads only its terms' shards (partition pruning on
  * `tshard`) and within them only its terms' row groups (term sort-order
  * min/max + parquet bloom filter). Document length is denormalized into
  * each posting (the classic impact-index move), so query time touches
  * NOTHING corpus-wide: pruned postings + pruned term stats + a one-row
  * corpus-stats table.
  *
  * Same artifact discipline as [[TagIndex]] (the D6 precedent): built
  * once per dataset fingerprint under a tmp root, atomically renamed into
  * place, rebuilt when the source parquet changes; build cost is
  * ingest-time, exactly where ClickHouse pays for its skip indexes.
  */
object TextIndex {

  /** Term-shard count: at 100 TB this is the index's unit of parallelism
    * and pruning (a query touches #query-terms shards of `shards`);
    * sized so a shard stays a few GB at web scale — here small, the
    * probe/specs only need >1 so pruning is observable.
    */
  private[operators] val shards = 64

  /** The `v2` suffix is the index FORMAT version (v2 added positional
    * postings) — the fingerprint tracks the data, the suffix tracks the
    * schema, and either changing forces a rebuild.
    */
  private[graft] def indexPath(dir: String): String =
    Artifacts.datasetRoot(dir, "documents", "text_inverted_v2")

  private def rmTree(f: File): Unit = Artifacts.rmTree(f)

  private def tshardOf(term: org.apache.spark.sql.Column) =
    pmod(xxhash64(term), lit(shards.toLong)).cast("int")

  /** Build-if-missing; returns the index root. Three artifacts:
    *  - `postings/` — (term, doc_id, tf, dl, positions) partitioned by
    *    `tshard`, term-sorted within files, bloom on term; dl
    *    denormalized, positions the sorted 1-based token offsets (the
    *    positional payload phrase queries consume).
    *  - `terms/` — (term, df) under the same sharding (the per-term
    *    document frequency the idf needs).
    *  - `stats/` — one row (n, t): corpus doc count and token total.
    * The publish is the shared [[Artifacts.ensureRoot]] two-JVM-safe
    * atomic rename.
    */
  def ensure(spark: SparkSession, dir: String): String =
    // completeness is per-artifact ([[artifactsComplete]]): a root
    // _SUCCESS with a missing/uncommitted artifact dir (a crash inside
    // a small-table swap or compaction) must NOT keep serving
    Artifacts.ensureRoot(indexPath(dir))(artifactsComplete) { tmp =>
      buildInto(tmp, Tables.documents(spark, dir), s"textindex:$dir")
    }

  /** Every artifact dir has its own parquet `_SUCCESS`: the
    * append/compaction swaps publish per-artifact, so a crash between
    * them leaves a root missing `terms/` or `stats/` — that tree must
    * fail validation, not serve. [[ensure]]'s completeness predicate
    * (combined with the root marker by [[Artifacts.ensureRoot]], which
    * then falls back to a rebuild) and the fail-fast check of the
    * serve-from-root paths ([[bm25At]] / [[phraseAt]] — a
    * stream-maintained root cannot be re-derived from one dataset dir;
    * such roots never get a root marker, that is ensure's publish
    * protocol, not a build step).
    */
  private[graft] def artifactsComplete(root: String): Boolean =
    Seq("postings", "terms", "stats")
      .forall(a => new File(s"$root/$a/_SUCCESS").exists())

  /** Positional doc-term frame: docTermTf's grain plus the sorted
    * 1-based token positions per (doc, term) — the phrase-query payload;
    * array length is bounded by the document, so postings stay
    * doc-length-bounded.
    */
  private def positionalDt(docs: DataFrame): DataFrame =
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("p"))).as("positions"))

  private def writeSharded(df: DataFrame, sortCols: Seq[String],
      path: String): Unit =
    df.withColumn("tshard", tshardOf(col("term")))
      // one exchange on the shard key so each partition dir is written
      // once; term sort within gives row-group min/max locality
      .repartition(col("tshard"))
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.partitionBy("tshard")
      .option("compression", "zstd")
      .option("parquet.bloom.filter.enabled#term", "true")
      .parquet(path)

  /** Write all three artifacts of a fresh index under `root`. */
  private[graft] def buildInto(root: String, docs: DataFrame,
      gen: String): Unit = {
    invalidateServingViews()
    graft.IntraQueryCache.newGeneration(gen)
    val dt = graft.IntraQueryCache.scoped(positionalDt(docs))
    val dl = graft.IntraQueryCache.scoped(
      dt.groupBy("doc_id").agg(sum(col("tf")).as("dl")))
    writeSharded(dt.join(dl, "doc_id"), Seq("term", "doc_id"), s"$root/postings")
    writeSharded(dt.groupBy("term").agg(count(lit(1)).as("df")),
      Seq("term"), s"$root/terms")
    dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("t"))
      .write.parquet(s"$root/stats")
  }

  /** Incremental index maintenance: fold a NEW document slice (disjoint
    * doc_ids — the re-crawl/ingest contract the incremental dedup family
    * shares) into an existing index without touching old postings. New
    * postings land as additional files under their term-shard dirs —
    * doc-slice-sized work, the corpus is never re-read; the
    * vocabulary-bounded `terms/` table and one-row `stats/` re-derive by
    * re-aggregating old + delta (the CorpusRoute rollup-upsert model at
    * term grain). Results must be EXACTLY a full rebuild's — spec-pinned
    * for both BM25 and phrase serving.
    *
    * REPLAY-IDEMPOTENT per `appendTag` = (streamId, batchId): each of the
    * three mutations is either tag-gated or tag-overwriting, so an
    * at-least-once replayer ([[graft.streaming.TextIndexStream]]) that
    * re-runs this after ANY crash point converges to exactly-once:
    *  - postings STAGE under a `postings.tmp-*` tree, then publish by
    *    per-file rename into the term-shard dirs under tag-prefixed names
    *    (`seg-<streamId>-<batchId>-*`); a replay first DELETES files
    *    carrying its own tag, so a half-moved or fully-moved crashed
    *    attempt is overwritten, never double-appended. Stale staging
    *    trees are swept by [[recoverArtifacts]] at batch entry.
    *  - the `terms/` swap carries the tag map in a `_last_appends` file
    *    inside the published dir (riding the same atomic rename); a
    *    replay that finds its tag there skips the merge — closing the
    *    crashed-between-terms-and-stats window that would otherwise
    *    re-merge df.
    *  - the `stats/` swap (the LAST mutation) embeds the tag map in its
    *    one row ([[lastAppendTags]]) — the overall commit point.
    * Untagged (ad-hoc batch) appends skip the replay bookkeeping; their
    * crash residue is discarded by the next full rebuild (fingerprint
    * change). The small-table swaps publish by the crash-recoverable
    * rename chain ([[publishByRename]] / [[recoverArtifacts]]); a
    * production deployment would still version them behind a segment
    * manifest.
    */
  private[graft] def appendTo(root: String, newDocs: DataFrame,
      gen: String, appendTag: Option[(String, String)] = None): Unit = {
    val (owner, sticky) = Artifacts.leaseIdentity(appendTag)
    Artifacts.withLease(root, owner, sticky) {
      appendToLeased(root, newDocs, gen, appendTag)
    }
  }

  private def appendToLeased(root: String, newDocs: DataFrame,
      gen: String, appendTag: Option[(String, String)]): Unit = {
    invalidateServingViews()
    val spark = newDocs.sparkSession
    require(new File(s"$root/postings").exists(),
      s"appendTo on $root with no postings/ — recover or rebuild first")
    // fully committed on a previous (crashed-before-marker) attempt —
    // the streaming gate checks this too; kept here so direct callers
    // replaying a tag are exactly-once as well
    val oldTags = lastAppendTags(spark, root)
    if (appendTag.exists { case (s, b) => oldTags.get(s).contains(b) }) return
    graft.IntraQueryCache.newGeneration(gen)
    val dt = graft.IntraQueryCache.scoped(positionalDt(newDocs))
    val dl = graft.IntraQueryCache.scoped(
      dt.groupBy("doc_id").agg(sum(col("tf")).as("dl")))
    // read old small tables BEFORE any writes below touch the root;
    // the per-stream tag map is carried forward and merged (a SINGLE
    // latest-append slot would forget stream A's committed tag as soon
    // as stream B appended, re-opening the lost-marker double-count on
    // multi-stream roots)
    val termsTags = readTagFile(s"$root/terms")
    // terms committed ⇒ the crashed attempt got past the postings
    // publish (strictly earlier in this sequence) — skip both and only
    // redo the stats swap the crash interrupted
    val termsCommitted =
      appendTag.exists { case (s, b) => termsTags.get(s).contains(b) }
    val oldTerms = spark.read.parquet(s"$root/terms")
      .select("term", "df").localCheckpoint()
    val oldStats = spark.read.parquet(s"$root/stats")
      .select("n", "t").localCheckpoint()
    if (!termsCommitted) {
      val segPrefix = Artifacts.segPrefix(appendTag)
      if (appendTag.isDefined) deleteTaggedFiles(s"$root/postings", segPrefix)
      val stage = s"$root/postings.tmp-batch-${java.util.UUID.randomUUID()}"
      writeSharded(dt.join(dl, "doc_id"), Seq("term", "doc_id"), stage)
      publishStagedPostings(stage, s"$root/postings", segPrefix)
      rmTree(new File(stage))
      val mergedTerms = oldTerms
        .unionByName(dt.groupBy("term").agg(count(lit(1)).as("df")))
        .groupBy("term").agg(sum(col("df")).as("df"))
      swapSmallTable(mergedTerms, isTerms = true, s"$root/terms",
        tags = Some(termsTags ++ appendTag))
    }
    val deltaStats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("t"))
    // the tag map rides the stats swap — the LAST mutation of the append
    // — so an at-least-once replayer can detect "this append already
    // committed" even when it crashed before writing its own marker (the
    // TextIndexStream replay gate); see [[lastAppendTags]]
    val mergedStats = oldStats.unionByName(deltaStats)
      .agg(sum(col("n")).as("n"), sum(col("t")).as("t"))
      .withColumn("last_appends", typedlit(oldTags ++ appendTag))
    swapSmallTable(mergedStats, isTerms = false, s"$root/stats")
    // the swaps consumed the materialized old tables; drop their blocks
    // (an append-heavy ingest loop would otherwise pin one vocab-sized
    // snapshot per append — the BPE trainer's measured leak class)
    TextOps.releaseCheckpoint(oldTerms)
    TextOps.releaseCheckpoint(oldStats)
  }

  /** Tag encoding and the tagged-segment publish/overwrite pair are the
    * shared [[Artifacts]] machinery since r13 (TagIndex became the
    * second tag-replay family — the replay-idempotence subtleties must
    * live in ONE audited place).
    */
  private def enc(s: String): String = Artifacts.tagEnc(s)

  private def deleteTaggedFiles(postingsRoot: String, prefix: String): Unit =
    Artifacts.deleteTaggedFiles(postingsRoot, "tshard=", prefix)

  private def publishStagedPostings(stage: String, postingsRoot: String,
      prefix: String): Unit =
    Artifacts.publishStagedFiles(stage, postingsRoot, "tshard=", prefix)

  /** The per-stream tag map a small-table artifact dir carries in its
    * `_last_appends` file (empty when absent — fresh builds and the
    * stats dir, whose map is row-embedded). Lines are
    * `urlenc(streamId)\turlenc(batchId)`.
    */
  private[graft] def readTagFile(dir: String): Map[String, String] = {
    val f = new File(dir, "_last_appends")
    if (!f.exists()) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filter(_.contains('\t')).map { line =>
        val Array(k, v) = line.split('\t')
        java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap
      finally src.close()
    }
  }

  private def writeTagFile(dir: String, tags: Map[String, String]): Unit = {
    val body = tags.toSeq.sorted
      .map { case (k, v) => s"${enc(k)}\t${enc(v)}" }
      .mkString("", "\n", "\n")
    java.nio.file.Files.write(new File(dir, "_last_appends").toPath,
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
  }

  /** Segment compaction — the other half of the append lifecycle: an
    * append-heavy ingest leaves each term shard holding one file per
    * append (per micro-batch under [[graft.streaming.TextIndexStream]]),
    * and small-file count is what degrades scan setup at scale. Compact
    * rewrites the postings into one sorted pass per shard — same rows,
    * same layout contract (term-sorted, bloom-filtered), restored file
    * economy. Terms/stats are already single-segment (each append
    * rewrites them whole). Serving equivalence is spec-pinned.
    *
    * Publish is pure RENAMES (each atomic on a local fs): the old tree
    * steps ASIDE (`postings.old-*`) rather than being deleted, so every
    * crash point leaves either a servable `postings/` or a recoverable
    * aside — [[recoverArtifacts]] heals both directions. The previous
    * delete+rename form had a real loss window: a crash between them
    * left no postings, and the NEXT append's `mode("append")` write
    * would silently recreate the dir with only new-batch rows while
    * stats/terms still counted the lost corpus. At 100 TB this runs
    * per-shard behind a segment manifest instead of whole-index.
    */
  private[graft] def compact(root: String, spark: SparkSession,
      owner: Option[String] = None): Unit = {
    val (id, sticky) = Artifacts.leaseFor(owner)
    Artifacts.withLease(root, id, sticky) {
      invalidateServingViews()
      recoverArtifacts(root) // heal a previously crashed swap first
      val posts = spark.read.parquet(s"$root/postings")
        .select("term", "doc_id", "tf", "dl", "positions")
      val tmp = s"$root/postings.tmp-${java.util.UUID.randomUUID()}"
      writeSharded(posts, Seq("term", "doc_id"), tmp)
      publishByRename(s"$root/postings", tmp)
    }
  }

  /** SHARD-LOCAL postings compaction (r12) — the
    * [[WinnowIndex.compactShards]] pattern at term-shard grain: every
    * `tshard=` dir whose segment-file count exceeds `maxSegments` is
    * rewritten alone (term-sorted, bloom-filtered, one file), in ONE
    * job over exactly the overweight dirs, each swapped in atomically
    * at SHARD-DIR grain. Term shards are disjoint by construction
    * (tshard is a pure function of term), so a per-shard rewrite is
    * the global rewrite restricted to that range: the postings SET is
    * preserved exactly (spec-pinned). [[compact]] remains the
    * whole-index entry; this is the file-economy entry a continuous
    * maintainer runs per batch, touching only the shards its appends
    * actually loaded — at thousands of term shards the difference
    * between rewriting a few hot dirs and rewriting the corpus (the
    * winnow measurement: 4.0× at 512 shards, widening with corpus).
    *
    * Replay-safety interplay: rewritten files lose their `seg-<tag>-`
    * prefixes, which is safe under the single-maintainer contract —
    * compaction only ever runs AFTER an append committed (the stats
    * swap landed), and a replayer of a COMMITTED tag is gated by
    * [[lastAppendTags]] before it deletes/re-appends anything; global
    * [[compact]] has erased tags the same way since r8.
    */
  private[graft] def compactShards(root: String, spark: SparkSession,
      maxSegments: Int = 1,
      owner: Option[String] = None): Unit = {
    val (id, sticky) = Artifacts.leaseFor(owner)
    Artifacts.withLease(root, id, sticky) {
      compactShardsLeased(root, spark, maxSegments)
    }
  }

  private def compactShardsLeased(root: String, spark: SparkSession,
      maxSegments: Int): Unit = {
    invalidateServingViews()
    recoverArtifacts(root)
    val postingsRoot = s"$root/postings"
    val dirs = Artifacts.overweightDirs(postingsRoot, "tshard=", maxSegments)
    if (dirs.isEmpty) return
    // ONE job over exactly the overweight dirs (basePath keeps the
    // tshard partition column so the rewrite re-lands per dir; tshardOf
    // recomputes the identical value from term) — a per-dir job would
    // pay scheduling overhead once per shard (the winnow measurement:
    // no win at probe scale). The per-dir swap chain and its crash
    // windows are the shared [[Artifacts.swapStagedDirs]].
    val stage = s"$postingsRoot.tmp-${java.util.UUID.randomUUID()}"
    writeSharded(
      spark.read.option("basePath", postingsRoot)
        .parquet(dirs.map(_.getPath).toSeq: _*)
        .select("term", "doc_id", "tf", "dl", "positions"),
      Seq("term", "doc_id"), stage)
    Artifacts.swapStagedDirs(spark, stage, dirs.toSeq)
  }

  /** The pruned-serving residue gate (the [[WinnowIndex]] r12 rule):
    * [[bm25At]]/[[phraseAt]] prune with `tshard isin(...)` literals, and
    * a crashed [[compactShards]] swap leaves `tshard=N` missing with
    * `tshard=N.old-<uuid>` present — partition discovery would parse the
    * aside as a STRING partition value and the prune would silently
    * drop that shard's postings. Refuse loudly; maintenance heals.
    */
  private def requireNoShardResidue(root: String): Unit = {
    // bounded patience first (r13): a healthy concurrent compaction's
    // swap briefly leaves a live `.old-` aside — only residue that
    // OUTLIVES the re-checks is a crash to refuse on
    val residue = Artifacts.settledDirResidue(s"$root/postings", "tshard=")
    require(residue.isEmpty,
      s"text index at $root holds crashed shard-compaction residue " +
        s"(${residue.sorted.mkString(", ")}) — a pruned read against it " +
        "would silently drop those shards' postings; run a maintenance " +
        "entry (recover/compact) to heal before serving")
  }

  /** Swap-in `tmp` as artifact `path` — the shared [[Artifacts]] chain. */
  private def publishByRename(path: String, tmp: String): Unit =
    Artifacts.publishByRename(path, tmp)

  /** Heal a crashed artifact swap under `root` ([[Artifacts]] semantics).
    * Called by [[compact]] and by the streaming append path before
    * touching the root; single-maintainer-per-root is the concurrency
    * contract (the stream IS that maintainer).
    */
  private[graft] def recoverArtifacts(root: String): Unit = {
    Artifacts.recoverArtifacts(root, Seq("postings", "terms", "stats"))
    // heal crashed SHARD-dir swaps ([[compactShards]]) inside postings/
    if (new File(s"$root/postings").isDirectory)
      Artifacts.recoverDirSwaps(s"$root/postings", "tshard=")
  }

  /** The per-stream append tags the current stats artifact carries
    * (empty for a fresh build) — how an at-least-once replayer detects a
    * fully committed append whose own marker never landed. A MAP, not a
    * single slot: two streams appending into one root (the topology the
    * per-streamId marker namespace supports) must each keep their own
    * last-committed batch visible.
    */
  private[graft] def lastAppendTags(spark: SparkSession,
      root: String): Map[String, String] = {
    val df = spark.read.parquet(s"$root/stats")
    if (!df.columns.contains("last_appends")) Map.empty
    else Option(df.select("last_appends").head().getMap[String, String](0))
      .map(_.toMap).getOrElse(Map.empty)
  }

  /** Max parquet file count across term-shard dirs — the segment-count
    * proxy streaming auto-compaction bounds: each append adds one file
    * per touched shard, and scan setup degrades with files, not rows.
    */
  private[graft] def postingsSegments(root: String): Int =
    Artifacts.maxSegmentsIn(s"$root/postings", "tshard=")

  private def swapSmallTable(df: DataFrame, isTerms: Boolean,
      path: String, tags: Option[Map[String, String]] = None): Unit = {
    val tmp = s"$path.tmp-${java.util.UUID.randomUUID()}"
    if (isTerms) writeSharded(df, Seq("term"), tmp)
    else df.write.parquet(tmp)
    // the tag file lands INSIDE the tmp tree so it rides the atomic
    // swap-in rename with the data it describes (parquet readers skip
    // underscore files)
    tags.foreach(writeTagFile(tmp, _))
    // localCheckpoint above materialized the old contents, so the swap
    // cannot read-after-delete its own input; publish is the same
    // crash-recoverable rename chain as compaction
    publishByRename(path, tmp)
  }

  /** BM25 served from the index: bit-identical to [[TextOps.bm25TopK]]
    * (same [[TextOps.bm25FromHits]] kernel, same oracle) but reading only
    * the query terms' shards. The shard literals come from one
    * metadata-scale job over the workload terms (9 rows) — they must be
    * literals for Catalyst's partition pruning to fire.
    */
  def bm25TopKIndexed(spark: SparkSession, dir: String, k: Int = 10,
      workload: Seq[(Long, Int, String)] = TextOps.bm25Queries): DataFrame =
    bm25At(spark, ensure(spark, dir), k, workload)

  /** The query terms' shard ids — one metadata-scale job over the
    * workload terms (a handful of rows). The ids must become LITERALS in
    * the consuming plan for Catalyst's partition pruning to fire; shared
    * by the DSL serving paths and the SQL front door (which interpolates
    * them into the query text), so the two faces can never prune against
    * different shard keys.
    */
  // memoized for the JVM lifetime (r14): the shard id is
  // pmod(xxhash64(term), shards) — a PURE function of the term with no
  // artifact state — so the metadata job this launched on every
  // retrieval query (DSL and SQL faces alike) was repeated scheduler
  // overhead, not repeated information
  private val shardsOfTermsCache =
    scala.collection.concurrent.TrieMap[Seq[String], Seq[Int]]()

  private[graft] def shardsOfTerms(spark: SparkSession,
      terms: Seq[String]): Seq[Int] = {
    // bounded: a long-lived serving JVM fielding ad-hoc retrieval
    // queries would otherwise grow one permanent entry per distinct
    // term set — on overflow just reset (entries are pure and cheap to
    // recompute; an LRU would be ceremony for a metadata-job saver)
    if (shardsOfTermsCache.size > 4096) shardsOfTermsCache.clear()
    shardsOfTermsCache.getOrElseUpdate(terms.distinct.sorted, {
      import spark.implicits._
      terms.toDF("term")
        .select(tshardOf(col("term"))).as[Int].collect().toSeq.distinct
    })
  }

  /** session → index root its serving views were last registered for.
    * Invalidated by every IN-PROCESS maintenance entry (append/compact/
    * rebuild below), so a memo-hit can only serve the artifact state the
    * views already point at. Cross-process maintenance mid-session stays
    * visible-stale until the next in-process invalidation or session —
    * the same refresh-boundary semantics the streaming serving path
    * documents ([[graft.streaming.RefreshingSnapshot]]).
    */
  private val servingViewsFor =
    scala.collection.concurrent.TrieMap[SparkSession, String]()

  private[graft] def invalidateServingViews(): Unit =
    servingViewsFor.clear()

  /** Gate and register the index's three artifacts as temp views
    * (`text_postings` / `text_terms` / `text_stats`) for the SQL front
    * door — external SQL reaches the SAME maintained serving path the
    * DSL faces read, behind the same completeness and crash-residue
    * refusals. Memoized per session+root (r14 — the per-call parquet
    * footer reads and gate scans were ~0.2 s on every SQL retrieval
    * query): a memo-hit requires the views still present in the
    * catalog AND no maintenance entry having run since registration;
    * anything else re-gates and re-registers. Returns the root.
    */
  def registerServingViews(spark: SparkSession, dir: String): String = {
    val root = ensure(spark, dir)
    // bound the session-keyed memo (a server churning short-lived
    // sessions must not pin them via map keys)
    if (servingViewsFor.size > 64) servingViewsFor.clear()
    val viewNames = Seq("text_postings", "text_terms", "text_stats")
    if (servingViewsFor.get(spark).contains(root) &&
        viewNames.forall(spark.catalog.tableExists))
      return root
    require(artifactsComplete(root), s"text index at $root is incomplete " +
      "(crash mid-swap?) — rebuild it before serving")
    requireNoShardResidue(root)
    spark.read.parquet(s"$root/postings")
      .createOrReplaceTempView("text_postings")
    spark.read.parquet(s"$root/terms").createOrReplaceTempView("text_terms")
    spark.read.parquet(s"$root/stats").createOrReplaceTempView("text_stats")
    servingViewsFor.put(spark, root): Unit
    root
  }

  private[graft] def bm25At(spark: SparkSession, root: String, k: Int,
      workload: Seq[(Long, Int, String)]): DataFrame = {
    import spark.implicits._
    require(artifactsComplete(root), s"text index at $root is incomplete " +
      "(crash mid-swap?) — rebuild it before serving")
    requireNoShardResidue(root)
    val terms = workload.map(_._3).distinct
    val shardLits = shardsOfTerms(spark, terms)
    val qt = broadcast(workload.toDF("qid", "pos", "term"))
    val post = spark.read.parquet(s"$root/postings")
      .filter(col("tshard").isin(shardLits: _*) && col("term").isin(terms: _*))
    val tdf = spark.read.parquet(s"$root/terms")
      .filter(col("tshard").isin(shardLits: _*) && col("term").isin(terms: _*))
      .select("term", "df")
    val stats = spark.read.parquet(s"$root/stats").select("n", "t")
    TextOps.bm25FromHits(
      post.join(qt, "term")
        .join(broadcast(tdf), "term")
        .crossJoin(broadcast(stats)), k)
  }

  /** Vocabulary head served from the index's terms table: top-`k` terms
    * by document frequency (ties on the term). The DuckDB oracle
    * recomputes the same report from the RAW corpus, so a green driver
    * row is a standing consistency proof for the maintained `terms/`
    * artifact — exactly the role q_route_stats plays for the corpus
    * rollup. Reads k rows of a vocabulary-bounded table; TakeOrdered,
    * never a full sort.
    */
  def termStats(spark: SparkSession, dir: String, k: Int = 50): DataFrame = {
    val root = ensure(spark, dir)
    spark.read.parquet(s"$root/terms")
      .select(col("term"), col("df"))
      .orderBy(col("df").desc, col("term"))
      .limit(k)
  }

  /** The fixed phrase workload [[phraseSearch]] serves: 2- and 3-token
    * exact phrases (slot order = phrase order).
    */
  private[graft] val phraseQueries: Seq[(Long, Seq[String])] = Seq(
    (1L, Seq("value", "table")),
    (2L, Seq("fast", "merge")),
    (3L, Seq("key", "agg", "row")))

  /** Exact phrase search from the positional index — the quote-finder /
    * phrase-level decontamination primitive: documents where the phrase's
    * tokens appear at consecutive positions, with the occurrence count.
    * Positions resolve by intersecting shifted position lists
    * (P₁+1 ∩ P₂, then +1 ∩ P₃) — pure array expressions inside codegen,
    * no token re-scan. Reads prune exactly like [[bm25TopKIndexed]]:
    * only the phrase terms' shards and row groups.
    */
  def phraseSearch(spark: SparkSession, dir: String,
      workload: Seq[(Long, Seq[String])] = phraseQueries): DataFrame =
    phraseAt(spark, ensure(spark, dir), workload)

  private[graft] def phraseAt(spark: SparkSession, root: String,
      workload: Seq[(Long, Seq[String])]): DataFrame = {
    import spark.implicits._
    require(artifactsComplete(root), s"text index at $root is incomplete " +
      "(crash mid-swap?) — rebuild it before serving")
    requireNoShardResidue(root)
    require(workload.forall(q => q._2.size >= 2 && q._2.size <= 3),
      "phrase workload supports 2- and 3-token phrases")
    val flat = workload.flatMap { case (qid, ts) =>
      ts.zipWithIndex.map { case (t, i) => (qid, i + 1, t) }
    }
    val terms = flat.map(_._3).distinct
    val shardLits = shardsOfTerms(spark, terms)
    val qt = broadcast(flat.toDF("qid", "pos", "term"))
    val qlen = broadcast(workload.map { case (qid, ts) => (qid, ts.size) }
      .toDF("qid", "qlen"))
    val post = spark.read.parquet(s"$root/postings")
      .filter(col("tshard").isin(shardLits: _*) && col("term").isin(terms: _*))
      .select("term", "doc_id", "positions")
    val slots = post.join(qt, "term")
      .groupBy("qid", "doc_id")
      .agg(max(when(col("pos") === 1, col("positions"))).as("p1"),
        max(when(col("pos") === 2, col("positions"))).as("p2"),
        max(when(col("pos") === 3, col("positions"))).as("p3"))
      .join(qlen, "qid")
    val p12 = array_intersect(transform(col("p1"), x => x + 1), col("p2"))
    slots
      .filter(col("p1").isNotNull && col("p2").isNotNull &&
        (col("qlen") === 2 || col("p3").isNotNull))
      .withColumn("n_occur",
        when(col("qlen") === 2, size(p12))
          .otherwise(size(array_intersect(transform(p12, x => x + 1), col("p3"))))
          .cast("long"))
      .filter(col("n_occur") > 0)
      .select("qid", "doc_id", "n_occur")
      .orderBy("qid", "doc_id")
  }
}
