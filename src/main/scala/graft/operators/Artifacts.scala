package graft.operators

import java.io.File

/** Crash-consistent artifact publishing shared by the maintained index
  * family ([[TextIndex]], [[WinnowIndex]]): a swap is pure RENAMES (each
  * atomic on a local fs) — the live artifact steps ASIDE, the staged tree
  * renames in, the aside is deleted — so every crash point leaves either
  * a servable artifact or a recoverable aside, and [[recoverArtifacts]]
  * heals both directions. Extracted from TextIndex's r8 swap chain so
  * every maintained artifact publishes through one audited path.
  */
private[graft] object Artifacts {

  /** Per-root monitors: maintenance of one root (ensure, recovery) is
    * serialized, while different roots — different datasets, different
    * index types — proceed concurrently, and a minutes-long corpus
    * build can never stall an unrelated stream's per-batch recovery
    * call (the liveness the old per-object locks had, kept under the
    * shared implementation).
    */
  private val rootLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  private def lockFor(path: String): Object =
    rootLocks.getOrElseUpdate(path, new Object)

  /** The ONE per-dataset artifact-root recipe (fingerprint-keyed tmpdir
    * path with a sanitized dataset dir) shared by the maintained index
    * family — previously four copy-pastes that a layout change would
    * silently miss one of.
    */
  private[graft] def datasetRoot(dir: String, table: String,
      name: String): String = {
    val fp = graft.Tables.fingerprint(dir, table)
    val safe = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    s"${sys.props("java.io.tmpdir")}/graft-index/$safe-$fp/$name"
  }

  private[graft] def rmTree(f: File): Unit = {
    // listFiles returns null on an IO error or when the directory
    // vanishes between isDirectory and this call — plausible in the
    // cross-JVM publish races this object mediates; treat as empty
    // (the delete below then fails soft or succeeds on the husk)
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(rmTree)
    f.delete(): Unit
  }

  /** Swap-in `tmp` as artifact `path` by aside-rename / in-rename /
    * delete-aside — each step atomic, every crash point recoverable.
    */
  private[graft] def publishByRename(path: String, tmp: String): Unit = {
    val target = new File(path)
    val aside = new File(s"$path.old-${java.util.UUID.randomUUID()}")
    require(target.renameTo(aside), s"aside rename of $path failed")
    require(new File(tmp).renameTo(target),
      s"swap-in rename to $path failed")
    rmTree(aside)
  }

  /** Build-if-missing under the two-JVM-safe atomic whole-root publish
    * shared by the per-dataset index family ([[TagIndex]] /
    * [[TextIndex]] / [[WinnowIndex]]): completeness is the root
    * `_SUCCESS` plus the caller's per-artifact predicate; the build
    * lands in a unique tmp root atomically renamed into place — the
    * first rename wins, a loser requires the winner's committed tree
    * and discards its own copy, and a crashed build's incomplete target
    * is deleted, never served. Extracted in r9 so the subtle publish
    * race lives in ONE audited place instead of three near-copies. The
    * JVM lock is per-root ([[lockFor]]).
    */
  private[graft] def ensureRoot(path: String)(complete: String => Boolean)(
      build: String => Unit): String = lockFor(path).synchronized {
    def ok(p: String) = new File(s"$p/_SUCCESS").exists() && complete(p)
    if (!ok(path)) {
      val tmp = new File(s"$path.tmp-${java.util.UUID.randomUUID()}")
      build(tmp.getPath)
      // no-op when the build's own parquet write already left a root
      // marker (the TagIndex single-artifact layout)
      new File(tmp, "_SUCCESS").createNewFile(): Unit
      // validate BEFORE publishing: a build that under-produced (lost
      // task, partial write) must fail loudly here, never rename an
      // incomplete tree into the live location for readers to trip on
      require(ok(tmp.getPath),
        s"index build for $path produced an incomplete tree — not publishing")
      val target = new File(path)
      if (target.exists() && !ok(path)) rmTree(target)
      if (!tmp.renameTo(target)) {
        require(ok(path),
          s"index rename to $path failed with no committed index present")
        rmTree(tmp)
      }
    }
    path
  }

  /** The shard-/table-local compaction machinery shared by the three
    * partitioned index families (WinnowIndex `shard=`, TextIndex
    * `tshard=`, VectorIndex `t=`) — extracted (r12) for the same reason
    * the swap chain was: the crash-window logic must live in ONE
    * audited place, not three near-copies a fix could silently miss.
    */

  /** MAX parquet file count across `parent`'s `<prefix>N` partition
    * dirs — the segment proxy every maintained family's auto-compaction
    * bounds (each append adds ≤ 1 file per touched dir, so this tracks
    * appends-since-compact, never corpus size). Extracted (r13) from
    * four byte-identical per-family folds.
    */
  private[graft] def maxSegmentsIn(parent: String, prefix: String,
      keep: String => Boolean = _ => true): Int =
    Option(new File(parent).listFiles()).map { entries =>
      entries.filter(d => d.isDirectory && d.getName.startsWith(prefix))
        .map(parquetCount(_, keep))
        .foldLeft(0)(math.max)
    }.getOrElse(0)

  /** Parquet files in a partition dir passing `keep` — the ONE per-dir
    * count every segment proxy and work list folds over (review-found,
    * r15: the foldable-gated variants had re-duplicated this shape).
    */
  private def parquetCount(d: File, keep: String => Boolean): Int =
    Option(d.listFiles())
      .map(_.count(f => f.getName.endsWith(".parquet") && keep(f.getName)))
      .getOrElse(0)

  /** MD5 hex of a canonical model rendering — the ONE model-fingerprint
    * recipe serving artifacts record in their `_meta` (r14): an
    * artifact whose stored fingerprint differs from the codebook the
    * current code would assign with must refuse to serve or append
    * (regenerated codebooks CASCADE — stale codes under a new model
    * are unreachable garbage).
    */
  private[graft] def modelFingerprint(canonical: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(canonical.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** TOTAL parquet file count across `parent`'s `<prefix>N` partition
    * dirs — the whole-tree growth witness for append proofs where the
    * per-dir MAX is blind: an append that lands only in previously
    * EMPTY dirs leaves the max flat while the tree genuinely grew
    * (review-found, r13 ADVICE).
    */
  private[graft] def totalSegmentsIn(parent: String, prefix: String): Int =
    Option(new File(parent).listFiles()).map { entries =>
      entries.filter(d => d.isDirectory && d.getName.startsWith(prefix))
        .map(d => Option(d.listFiles())
          .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0))
        .sum
    }.getOrElse(0)

  /** Parse a small `key=value`-per-line marker file, None when missing
    * or torn (callers turn that into their actionable refusal) — the
    * shared core of the in-tree `_meta` descriptors (r13).
    */
  private[graft] def parseKvFile(f: File): Option[Map[String, String]] =
    if (!f.exists()) None
    else scala.util.Try {
      new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
        .linesIterator.filter(_.contains('='))
        .map { l =>
          val Array(k, v) = (l.split("=", 2): @unchecked); k -> v
        }.toMap
    }.toOption

  /** Partition dirs under `parent` named `<prefix>N` holding more than
    * `maxSegments` parquet files — a local compaction's work list.
    */
  private[graft] def overweightDirs(parent: String, prefix: String,
      maxSegments: Int, keep: String => Boolean = _ => true): Array[File] =
    Option(new File(parent).listFiles())
      .getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith(prefix))
      .filter(parquetCount(_, keep) > maxSegments)

  /** [[maxSegmentsIn]] / [[overweightDirs]] counting only FOLDABLE
    * files — the triggers for ledger-accepting roots. Carried
    * (unmarked `segb-`) files sit OUTSIDE the file-economy bound by
    * construction: compaction cannot fold them, so a trigger counting
    * them would re-run a convergence-free full-dir rewrite on every
    * batch for as long as one abandoned batch's orphan sits there
    * (review-found, r15). They rejoin the count the moment their
    * marker lands (or their replay deletes them).
    */
  private[graft] def maxFoldableSegmentsIn(parent: String,
      prefix: String): Int =
    maxSegmentsIn(parent, prefix, foldableFile(parent))

  private[graft] def overweightFoldableDirs(parent: String, prefix: String,
      maxSegments: Int): Array[File] =
    overweightDirs(parent, prefix, maxSegments, foldableFile(parent))

  /** Sweep crashed staged-write trees (`.tmp-stage-*` under `root` —
    * dot-prefixed, so no live reader ever saw them) — the maintenance-
    * entry half of the staged-swap protocol.
    */
  private[graft] def sweepStageTrees(root: String): Unit =
    Option(new File(root).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isDirectory && f.getName.startsWith(".tmp-stage-"))
      .foreach(rmTree)

  /** Temps older than this are crash orphans: a writer renames its temp
    * within milliseconds of creating it.
    */
  private[graft] val orphanAgeMs: Long = 60L * 60L * 1000L

  /** Delete the files in `dir` that `isTemp` names and that are older
    * than [[orphanAgeMs]]: temps a crash left between write and rename.
    * The sweep takes no lock, so the age gate is what keeps it off a
    * concurrent writer's in-flight temp.
    */
  private[graft] def sweepOrphanTemps(dir: File, isTemp: String => Boolean): Unit = {
    val cutoff = System.currentTimeMillis() - orphanAgeMs
    Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => isTemp(f.getName) && f.lastModified() < cutoff)
      .foreach(f => f.delete(): Unit)
  }

  /** Swap each staged partition dir over its live sibling atomically
    * (aside-rename chain at PARTITION-DIR grain), then sweep the stage:
    * every crash point leaves each dir whole-old or whole-new (both
    * valid when the rewrite preserves the dir's row set), a
    * missing-dir/aside pair [[recoverDirSwaps]] heals, or `.tmp-`
    * residue the next recover sweeps. A dir with no staged sibling is
    * skipped (an all-duplicate source still stages one copy; an EMPTY
    * staged dir can only mean the source held no rows).
    */
  private[graft] def swapStagedDirs(spark: org.apache.spark.sql.SparkSession,
      stage: String, dirs: Seq[File]): Unit = {
    dirs.foreach { d =>
      val staged = new File(stage, d.getName)
      if (staged.isDirectory) {
        publishByRename(d.getPath, staged.getPath)
        spark.catalog.refreshByPath(d.getPath)
      }
    }
    rmTree(new File(stage))
  }

  /** Filesystem-safe encoding for append-tag components (streamIds are
    * caller-chosen strings; batch ids are digits). `-` is additionally
    * percent-encoded even though URLEncoder leaves it alone: it is the
    * tag SEPARATOR in segment file names, and an unescaped `-` inside a
    * streamId would make prefix matching ambiguous — stream "crawl"
    * replaying batch 2 (prefix `seg-crawl-2-`) must never match stream
    * "crawl-2"'s committed files (`seg-crawl%2D2-…`). URLDecoder
    * round-trips %2D. Extracted (r13) when TagIndex became the second
    * tag-replay family.
    */
  private[graft] def tagEnc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8").replace("-", "%2D")

  /** The ONE segment-file tag-prefix builder (r14 review — this was
    * three verbatim copies across TextIndex/TagIndex/the rollup
    * routes): `seg-<enc(streamId)>-<enc(batchId)>-` for a replayable
    * tagged append, a unique `seg-adhoc-…-` for exactly-once callers.
    * Lives next to [[tagEnc]] so an encoding or separator fix can never
    * fork the families.
    */
  private[graft] def segPrefix(tag: Option[(String, String)]): String =
    tag match {
      case Some((s, b)) => s"seg-${tagEnc(s)}-${tagEnc(b)}-"
      case None => s"seg-adhoc-${java.util.UUID.randomUUID()}-"
    }

  /** The single-maintainer-per-root LEASE (r15) — the tagged-replay
    * families' concurrency contract, made mechanical. The tag protocol
    * (delete-own-tag → compact → append) is exact only when ONE
    * maintainer feeds a root: a second concurrent feeder's compaction
    * can fold another maintainer's still-replayable tag untagged,
    * silently reopening the crash-replay double-count the protocol
    * exists to close. That contract was documentation-only (r14);
    * every maintenance entry of the tagged families now acquires an
    * advisory lease (`_lease` in the root — `_`-prefixed, invisible to
    * parquet readers) and REFUSES LOUDLY on a live foreign one.
    *
    * Semantics:
    *  - owner identity: a tagged entry leases as its tag's streamId
    *    (stable across restarts of the same checkpointed stream — the
    *    legitimate crash-replay successor re-acquires its own lease);
    *    an untagged entry leases as a UNIQUE per-entry ad-hoc id.
    *  - STICKY vs scoped: tagged entries leave the lease STANDING
    *    (their replay window outlives the entry — a batch published
    *    but not yet checkpoint-committed may still replay, and nobody
    *    else may compact its tag away until then); untagged entries
    *    (declared exactly-once — nothing of theirs ever replays)
    *    release at exit, so sequential ad-hoc maintenance interleaves
    *    freely while OVERLAPPING entries still exclude each other
    *    (unique ad-hoc owners make that exclusion real within one JVM
    *    too — review-found, r15).
    *  - heartbeat/expiry: each acquisition rewrites the file (fresh
    *    mtime); a foreign lease older than `patienceMs` is treated as
    *    crashed and may be STOLEN — but only by a TAGGED successor
    *    (taking over a root is accepting its replay-handoff contract;
    *    an ad-hoc entry refuses and points at [[releaseLease]]), and
    *    the steal prints loudly: a live-but-slow maintainer is
    *    indistinguishable from a crashed one here, so the operator
    *    contract is patience > the maintainer's batch cadence, and
    *    the log line is how a wrong sizing surfaces. A graceful
    *    handoff releases explicitly ([[releaseLease]]) instead of
    *    waiting out patience.
    *  - nested entries re-enter: maintainRollup's internal compact +
    *    append acquire nothing (thread-scoped held set), so one entry
    *    is one acquisition however it composes.
    *
    * Scope note: every check-steal-claim sequence runs under an OS
    * file lock on the root's `_lease.lock` ([[withLeaseFileLock]] —
    * `FileChannel.lock`, released by the OS when a holder dies), so
    * mutual exclusion of the lease PROTOCOL itself is exact across
    * processes on a local fs, and the claim write inside it is a
    * temp + atomic-move (no crash point can leave an ownerless
    * lease). On a network fs without reliable file locking the lease
    * degrades to advisory; a deployment there fronts maintenance with
    * a real lock service (or a transactional table format), as the
    * `Ingest.requireLocal` guard already demands for the data itself.
    */
  private[graft] def defaultLeasePatienceMs: Long =
    sys.props.get("graft.lease.patience.ms").map { v =>
      // a malformed patience must refuse actionably, not surface a
      // NumberFormatException from every maintenance entry (and an
      // overflowing digit string is malformed too — review-found)
      v.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"-Dgraft.lease.patience.ms must be a millisecond count " +
          s"within Long range, got '$v'"))
    }.getOrElse(5L * 60L * 1000L)

  private val heldLeases = new ThreadLocal[scala.collection.mutable.Set[String]] {
    override def initialValue() = scala.collection.mutable.Set.empty[String]
  }

  private def leaseFile(root: String) = new File(root, "_lease")

  /** The cross-process critical section for the lease protocol: an OS
    * file lock on the root's persistent `_lease.lock` (0 bytes,
    * `_`-prefixed — invisible to readers). The in-JVM per-root monitor
    * already serializes same-JVM entries (required: overlapping
    * FileLock requests within one JVM throw instead of blocking); the
    * OS lock extends that exclusion across processes and dies with a
    * crashed holder — which is exactly what a check-then-act steal
    * needs: without it, a stealer acting on a stale freshness read
    * could unlink a racing stealer's brand-new claim and let two
    * maintainers both acquire (review-found, r15).
    */
  private def withLeaseFileLock[A](root: String)(body: => A): A = {
    val raf = new java.io.RandomAccessFile(
      new File(root, "_lease.lock"), "rw")
    try {
      val l = raf.getChannel.lock()
      try body finally l.release()
    } finally raf.close()
  }

  /** The claim write itself — temp + atomic move, shared by fresh
    * claims and the setLastModified-fallback heartbeat below.
    */
  private def writeLeaseClaim(root: String, f: File, owner: String): Unit = {
    Option(new File(root).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith(".lease-w-")).foreach(_.delete(): Unit)
    val tmp = new File(root, s".lease-w-${java.util.UUID.randomUUID()}")
    java.nio.file.Files.write(tmp.toPath, s"owner=$owner\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
    java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
  }

  private def acquireLease(root: String, owner: String, sticky: Boolean,
      patienceMs: Long): Unit = lockFor(root).synchronized {
    new File(root).mkdirs()
    withLeaseFileLock(root) {
      val f = leaseFile(root)
      val cur = parseKvFile(f).flatMap(_.get("owner"))
      if (f.exists() && cur.contains(owner)) {
        // the holder's own re-acquisition — heartbeat refresh. Some
        // filesystems refuse setLastModified (returns false); fall back
        // to rewriting the claim through the temp + atomic-move path so
        // a LIVE holder's lease can never silently stale into a steal
        // target (ADVICE r15)
        if (!f.setLastModified(System.currentTimeMillis()))
          writeLeaseClaim(root, f, owner)
        return
      }
      val fresh =
        f.lastModified() > System.currentTimeMillis() - patienceMs
      if (f.exists() && fresh)
        throw new IllegalStateException(
          s"maintenance root $root is leased by maintainer " +
            s"'${cur.getOrElse("<unreadable>")}' (heartbeat " +
            s"${f.lastModified()}) — a second " +
            s"concurrent maintainer ('$owner') could fold the holder's " +
            "still-replayable tags and reopen the replay double-count; " +
            "stop the holder (or let its lease lapse, or " +
            s"Artifacts.releaseLease(root, \"${cur.getOrElse("<owner>")}\") / " +
            "Artifacts.forceReleaseLease(root) for a manual handoff) " +
            "before maintaining this root")
      if (f.exists() && !fresh) {
        // only a TAGGED successor may steal a lapsed lease — taking
        // over a root is accepting its replay-handoff contract, which
        // an ad-hoc exactly-once entry has no standing to do (an
        // OWNERLESS lapsed file is the one exception: there is no
        // maintainer identity to hand off from, so anyone may clear
        // it — otherwise a root maintained only by untagged entries
        // could wedge forever behind unreclaimable junk). And steals
        // are LOUD: a live-but-slow maintainer (batch cadence past
        // patience) being stolen from is the one failure this file
        // cannot distinguish from a crash, so the operator must be
        // able to see it happened (and must size patience above the
        // maintainer's trigger cadence — the documented contract).
        // … and a lapsed AD-HOC lease is reclaimable by ANYONE: an
        // exactly-once owner has no replay window to hand off, so the
        // tagged-successor-only restriction protects nothing there —
        // without this, a crashed untagged streaming maintainer
        // (kmvAppendStream: fresh adhoc identity per batch) deadlocks
        // its root FOREVER after any hard crash (ADVICE r15, high)
        if (!sticky && cur.exists(c => !c.startsWith("adhoc-")))
          throw new IllegalStateException(
            s"maintenance root $root holds a LAPSED lease from " +
              s"'${cur.get}' — an ad-hoc entry must not steal a " +
              "maintainer's root (its uncommitted tags may still " +
              s"replay); Artifacts.releaseLease(root, \"${cur.get}\") " +
              "or Artifacts.forceReleaseLease(root) if the holder is " +
              "truly gone, or run the entry as the successor stream")
        Console.err.println(
          s"[graft] lease STEAL on $root: '${cur.getOrElse("?")}' " +
            s"lapsed (heartbeat ${f.lastModified()}), taken by " +
            s"'$owner' — if the holder was alive but slow, size " +
            "graft.lease.patience.ms above its batch cadence")
      }
      // claim by temp + atomic move: replaces a lapsed file and a
      // fresh-vs-lapsed decision atomically WITHIN the file lock, and
      // no crash point can leave an ownerless lease. Stale claim temps
      // (a claimer crashed between write and move) are swept here —
      // safe because we hold the lock, so no other claim is in flight
      writeLeaseClaim(root, f, owner)
    }
  }

  /** Release `owner`'s lease on `root` (graceful stop/handoff); a no-op
    * when the lease is absent or held by someone else. PUBLIC: the
    * refusal messages name this call as the documented recovery for a
    * wedged root, so external users of the public maintenance entries
    * must be able to execute it (ADVICE r15, medium).
    */
  def releaseLease(root: String, owner: String): Unit =
    lockFor(root).synchronized {
      if (!new File(root).isDirectory) return
      withLeaseFileLock(root) {
        val f = leaseFile(root)
        if (parseKvFile(f).flatMap(_.get("owner")).contains(owner))
          f.delete(): Unit
      }
    }

  /** Force-release whatever lease `root` holds, returning the evicted
    * owner — the admin recovery for a wedged root when the holder's
    * identity is unknown or unreadable. LOUD by design: forcing out a
    * LIVE tagged maintainer reopens the replay double-count the lease
    * exists to prevent, so this is an operator decision, never an
    * automatic one.
    */
  def forceReleaseLease(root: String): Option[String] =
    lockFor(root).synchronized {
      if (!new File(root).isDirectory) return None
      withLeaseFileLock(root) {
        val f = leaseFile(root)
        if (!f.exists()) None
        else {
          val cur = parseKvFile(f).flatMap(_.get("owner"))
          Console.err.println(
            s"[graft] lease FORCE-RELEASE on $root: evicting " +
              s"'${cur.getOrElse("<unreadable>")}' (heartbeat " +
              s"${f.lastModified()}) by operator request")
          f.delete(): Unit
          cur
        }
      }
    }

  /** Run `body` under the root's maintenance lease. `sticky` leaves the
    * lease standing at exit (tagged entries — their replay window
    * outlives the call); otherwise it releases. Re-entrant per thread:
    * a nested entry inside an already-leased call chain runs bare.
    */
  private[graft] def withLease[A](root: String, owner: String,
      sticky: Boolean,
      patienceMs: Long = defaultLeasePatienceMs)(body: => A): A = {
    val held = heldLeases.get()
    if (held.contains(root)) body
    else {
      acquireLease(root, owner, sticky, patienceMs)
      held.add(root): Unit
      try body
      finally {
        held.remove(root): Unit
        if (!sticky) releaseLease(root, owner)
      }
    }
  }

  /** The owner a maintenance entry leases as: its tag's streamId when
    * tagged (sticky — the replay window outlives the call), a UNIQUE
    * per-entry ad-hoc identity otherwise (scoped — released at exit).
    * Uniqueness is load-bearing: a shared per-JVM ad-hoc identity
    * would let two concurrent untagged entries in one JVM both
    * acquire — and the first to finish would release the lease out
    * from under the other (review-found, r15) — where unique owners
    * make overlapping entries exclude exactly as documented.
    */
  private[graft] def leaseIdentity(
      tag: Option[(String, String)]): (String, Boolean) =
    tag match {
      case Some((s, _)) =>
        // the `adhoc-` owner prefix IS the lapsed-lease reclaim
        // protocol (acquireLease lets ANYONE reclaim a lapsed ad-hoc
        // lease): a tagged/sticky stream squatting in that namespace
        // would have its lapsed lease silently stealable, bypassing
        // the replay-handoff protection stickiness exists for — so
        // the namespace is reserved (ADVICE r16)
        require(!s.startsWith("adhoc-"),
          s"streamId '$s' uses the reserved 'adhoc-' owner prefix " +
            "(the lapsed-lease reclaim namespace for exactly-once " +
            "entries) — pick a streamId that does not start with " +
            "'adhoc-'")
        (s, true)
      case None => (s"adhoc-${java.util.UUID.randomUUID()}", false)
    }

  /** [[leaseIdentity]] for entries parameterized by a bare optional
    * OWNER (the compaction entries' `owner: Option[String]` face):
    * Some(streamId) leases sticky on the stream's behalf, None leases
    * as a unique scoped ad-hoc id. One audited adapter instead of a
    * fake-empty-batch-tag idiom at every call site (review-found, r15).
    */
  private[graft] def leaseFor(owner: Option[String]): (String, Boolean) =
    leaseIdentity(owner.map(_ -> ""))

  /** The BATCH-ledgered tag namespace (r15) — the replay protocol for
    * AT-LEAST-ONCE BATCH callers of the additive rollups, where the
    * streaming tag protocol's precondition ("only the LAST uncommitted
    * batch ever replays") does not hold: a batch pipeline may re-deliver
    * ANY past batch after arbitrary delay, including one a compaction
    * already folded untagged — the delete-own-tag step would then find
    * nothing and the re-append would double-count. Ledgered appends use
    * a distinct `segb-` prefix and a durable commit marker (one empty
    * file per tag under `<root>/_committed/` — creation is atomic, and
    * `_`-prefixed paths are invisible to parquet readers):
    *
    *  - append: delete-own-tag → publish `segb-` files → create marker.
    *    The marker is the commit point; the caller's success return
    *    REQUIRES it, so at-least-once delivery replays exactly the
    *    batches without markers.
    *  - replay of a MARKED tag: skipped entirely (its files may have
    *    been folded — deleting by tag would lose them).
    *  - replay of an UNMARKED tag: delete-own-tag → re-publish → mark,
    *    exactly once at every crash point.
    *  - compaction: folds a `segb-` file ONLY when its marker exists
    *    ([[foldableFile]]); unmarked files ride through the rewrite
    *    untouched, so no tag that may still be deleted-and-replayed is
    *    ever folded away.
    *
    * Markers accumulate one empty file per committed batch — bounded by
    * batch count, not data size (a year of hourly batches ≈ 9k inodes),
    * and they must NOT be swept while any caller could still replay
    * their tags.
    */
  private[graft] def ledgerPrefix(tag: (String, String)): String =
    s"segb-${tagEnc(tag._1)}-${tagEnc(tag._2)}-"

  private def commitMarkerFile(liveRoot: String, prefix: String): File =
    new File(new File(liveRoot, "_committed"), prefix.stripSuffix("-"))

  private[graft] def isCommitted(liveRoot: String,
      tag: (String, String)): Boolean =
    commitMarkerFile(liveRoot, ledgerPrefix(tag)).exists()

  private[graft] def markCommitted(liveRoot: String,
      tag: (String, String)): Unit = {
    val f = commitMarkerFile(liveRoot, ledgerPrefix(tag))
    f.getParentFile.mkdirs()
    f.createNewFile(): Unit
  }

  /** The compaction fold gate for roots that accept ledgered batch
    * appends: a `segb-` segment file is foldable only once its commit
    * marker exists; everything else (compacted untagged files, `seg-`
    * streaming tags — whose committedness the streaming replay-window
    * contract already guarantees at compaction time, adhoc tags) folds
    * as before.
    */
  private[graft] def foldableFile(liveRoot: String)(name: String): Boolean =
    !name.startsWith("segb-") || {
      // name = segb-<enc(stream)>-<enc(batch)>-<writer file name>; enc
      // percent-encodes '-', so the first three '-'-separated fields
      // are exactly the tag prefix
      val parts = name.split("-", 4)
      parts.length >= 4 &&
        commitMarkerFile(liveRoot,
          s"segb-${parts(1)}-${parts(2)}").exists()
    }

  /** Remove a crashed same-tag attempt's published segment files under
    * `liveRoot`'s partition dirs — the overwrite half of tag-replay
    * idempotence (TextIndex postings, TagIndex events): a replay first
    * deletes files carrying its own tag, so a half-moved or fully-moved
    * crashed attempt is overwritten, never double-appended.
    */
  private[graft] def deleteTaggedFiles(liveRoot: String, dirPrefix: String,
      filePrefix: String): Unit =
    for {
      d <- Option(new File(liveRoot).listFiles()).getOrElse(Array.empty[File])
      if d.isDirectory && d.getName.startsWith(dirPrefix)
      f <- Option(d.listFiles()).getOrElse(Array.empty[File])
      if f.getName.startsWith(filePrefix)
    } f.delete(): Unit

  /** Publish a staged partition tree into the live partition dirs by
    * per-file rename (atomic on a local fs), prefixing each file with
    * the append's tag so a replay can identify and overwrite it.
    */
  private[graft] def publishStagedFiles(stage: String, liveRoot: String,
      dirPrefix: String, filePrefix: String): Unit =
    for {
      d <- Option(new File(stage).listFiles()).getOrElse(Array.empty[File])
      if d.isDirectory && d.getName.startsWith(dirPrefix)
      f <- Option(d.listFiles()).getOrElse(Array.empty[File])
      if f.getName.endsWith(".parquet")
    } {
      val dir = new File(liveRoot, d.getName)
      dir.mkdirs()
      val target = new File(dir, filePrefix + f.getName)
      require(f.renameTo(target),
        s"staged publish rename to $target failed")
    }

  /** Crashed-swap residue among `parent`'s partition dirs: names like
    * `<prefix>N.old-<uuid>` / `<prefix>N.tmp-<uuid>`. Serving paths
    * must REFUSE while any exists — partition discovery parses an
    * aside's name as a STRING partition value, so a pruned (or
    * partition-key-joining) read would silently drop or mismatch that
    * partition's rows. Callers format their own actionable message.
    */
  private[graft] def dirResidue(parent: String, prefix: String): Seq[String] =
    Option(new File(parent).listFiles())
      .getOrElse(Array.empty)
      .map(_.getName)
      .filter(n => n.startsWith(prefix) &&
        (n.contains(".old-") || n.contains(".tmp-")))
      .toSeq

  /** [[dirResidue]] with bounded patience for a HEALTHY concurrent
    * swap (r13): [[publishByRename]] leaves a LIVE `.old-` aside
    * between the swap-in rename and its rmTree completing, so a single
    * residue observation is ambiguous — a serving gate refusing on
    * first sight would misdiagnose a healthy compaction as a crash
    * (and, inside retry loops built precisely to tolerate concurrent
    * compaction, throw instead of retrying). The healthy window is one
    * rmTree of a partition dir — milliseconds — so re-observe a few
    * times; residue that OUTLIVES the retries is crash residue for the
    * caller to refuse on. Serving still never HEALS (that would race
    * the maintainer); it only waits out the benign window.
    */
  private[graft] def settledDirResidue(parent: String, prefix: String,
      attempts: Int = 5, sleepMs: Long = 100): Seq[String] = {
    var res = dirResidue(parent, prefix)
    var i = 1
    while (res.nonEmpty && i < attempts) {
      Thread.sleep(sleepMs)
      res = dirResidue(parent, prefix)
      i += 1
    }
    res
  }

  /** Heal crashed partition-dir swaps under `parent` — the
    * [[recoverArtifacts]] rule applied at partition-dir grain to every
    * dir name [[dirResidue]] flags.
    */
  private[graft] def recoverDirSwaps(parent: String, prefix: String): Unit = {
    // strip only the residue SUFFIX (`.old-<uuid>` / `.tmp-<uuid>`) —
    // partition VALUES may legally contain dots (lang=pt.BR), so a
    // takeWhile(_ != '.') would truncate the live name, never heal the
    // aside, and leave the route declining forever (r14 ADVICE)
    val names = dirResidue(parent, prefix).map { n =>
      val cut = math.max(n.lastIndexOf(".old-"), n.lastIndexOf(".tmp-"))
      n.substring(0, cut)
    }.distinct
    if (names.nonEmpty) recoverArtifacts(parent, names)
  }

  /** Heal a crashed artifact swap under `root`: an artifact missing with
    * exactly one `.old-` aside present means the aside step completed
    * but the swap-in did not — rename the aside back; an aside next to a
    * LIVE artifact is a completed swap's leftover and is deleted, as are
    * stale `.tmp-` trees. Single-maintainer-per-root is the concurrency
    * contract (a maintaining stream IS that maintainer).
    */
  private[graft] def recoverArtifacts(root: String,
      names: Seq[String]): Unit = lockFor(root).synchronized {
    val entries = Option(new File(root).listFiles()).getOrElse(Array.empty)
    for (name <- names) {
      val live = new File(s"$root/$name")
      val asides = entries.filter(_.getName.startsWith(s"$name.old-"))
      if (!live.exists() && asides.length == 1) {
        require(asides.head.renameTo(live),
          s"recovery rename of ${asides.head} failed")
      } else asides.foreach(rmTree)
      entries.filter(_.getName.startsWith(s"$name.tmp-")).foreach(rmTree)
    }
  }
}
