package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, not}
import org.apache.spark.sql.execution.streaming.sinks.{FileStreamSinkLog, SinkFileStatus}

/** In-place REWRITES of LIVE manifest-committed streaming tables — the
  * seven writers OPTIMIZE ([[optimizeSink]]: small-file compaction,
  * optional Z-order / sort re-clustering), DELETE ([[deleteWhere]]),
  * UPDATE ([[updateWhere]]), MERGE ([[mergeInto]]), the CDC
  * [[upsertSink]], RESTORE ([[restoreTable]]) and the self-compacting
  * [[StreamSinks.compactingParquetSink]] — all under the
  * `_spark_metadata` manifest, all through ONE path.
  *
  * [[graft.sources.FileIO.compact]] rewrites a plain directory to a NEW
  * location; a streaming sink's table cannot move (its writer's
  * checkpoint and its readers both point at the path), and its readers
  * list files through the manifest — so any rewrite must atomically
  * replace the MANIFEST's view while the data directory temporarily
  * holds both generations. Spark's sink log is add-only (no delete
  * action since Spark 3), so retiring files requires REBUILDING the
  * log, not appending to it.
  *
  * The one path (the Sidecar single-commit-point discipline applied to
  * Spark's fixed-location manifest; the reference's in-progress →
  * pending → final rename, RowOrcBucketingSink.java:153-213, with the
  * manifest as the final step):
  *  1. OPEN + ACQUIRE ([[maintain]]): stop-the-writer guard (same
  *     as [[StreamSinks.vacuum]]) — refuses while any active streaming
  *     query in this session sinks here; then, for every op, a refusal
  *     on mid-swap debris (no live `_spark_metadata`, or a `.bak`)
  *     BEFORE the log opens. The op then takes ONE `_graft_scope_<token>`
  *     lock — its partition scope, or the whole table, which overlaps
  *     every scope; the younger of two overlapping claimants yields —
  *     and reads the committed entries with the lock held. The lock is
  *     released on success and on every in-JVM failure;
  *  2. HIT FILES ([[hitFiles]]): the files a rewrite must touch, found by
  *     a scan projecting the file path, split off the manifest entries
  *     with a loud scan-vs-manifest agreement check (OPTIMIZE selects by
  *     size / partition scope instead);
  *  3. REWRITE ([[stageRewrite]] + [[cowLayout]]): the hit files are read
  *     back (partition values re-attached from their Hive-style dir names
  *     as exact strings), transformed by the op's row function, and laid
  *     out copy-on-write;
  *  4. LAND ([[land]]): every writer's output goes to the op's
  *     invisible `_graft_optimize_data_<token>` stage dir, then each
  *     data file moves to a fresh `<prefix>-<uuid>-<i>.<fmt>` name in
  *     its final partition dir —
  *     still invisible: nothing references it. A failure before the
  *     swap deletes the stage dir (its moved files are unreferenced
  *     orphans the graced vacuum reclaims);
  *  5. SWAP ([[swapManifest]]): under the per-table [[swapLock]] the
  *     live manifest is re-read and the replacement — live − replaced +
  *     added, refused if a replaced entry vanished — is staged at
  *     `_graft_optimize_stage_meta_<token>` with the writer's latest
  *     batch id PRESERVED (a checkpointed writer restarted after the
  *     swap appends batch N+1 normally; a replayed batch ≤ N is still
  *     skipped — exactly-once intact). Staging is O(compactInterval)
  *     writes, never O(batches): the snapshot lands as a manually-serialized
  *     `.compact` file at the conf-consistent boundary ≤ latest plus
  *     empty tail batches (measured in SCALING.md r15 — the naive
  *     0..latest replay costs ~48 ms/batch, hours at a production sink's
  *     batch counts). Then the `_COMMITTED` marker lands in the stage
  *     dir, `_spark_metadata` → `.bak`, stage → `_spark_metadata`, and
  *     `.bak` archives into history. A crash between renames leaves a
  *     state [[repairOptimize]] resolves DETERMINISTICALLY (marker
  *     present ⇒ roll forward, absent ⇒ roll back). CAVEAT
  *     (spec-pinned): in the window where `_spark_metadata` is renamed
  *     away, Spark readers FALL BACK to plain directory listing and
  *     would see retired AND rewritten generations together — run
  *     repair before serving reads after a crash, exactly as a
  *     half-restored database is fsck'd before use.
  * The append-only writers (the upsert bootstrap, the compacting sink's
  * batches) land and then commit by `log.add` instead of a swap — one
  * step, [[appendBatch]].
  *
  * Retired files stay on disk, unreferenced — invisible to manifest
  * readers. They are NOT immediately vacuum-able: every swap ARCHIVES
  * the outgoing manifest as `_graft_history/v<N>` (an O(1) rename), and
  * [[StreamSinks.vacuum]] protects any file a history version still
  * references — so [[restoreTable]] can roll the table back to any
  * retained version, and cross-session readers that resolved an OLD
  * manifest keep their files until the operator runs [[expireHistory]].
  * After expiry the files become plain orphans, and vacuum ages them
  * from the LAST MAINTENANCE time (the `_graft_last_maintenance` marker
  * touched by every swap/expiry), NOT from their original mtimes — a
  * retired file keeps its old write-time mtime, so an mtime-based grace
  * would sweep it the instant it was expired, under any in-flight
  * reader (the r15 hazard this marker closes).
  *
  * CONCURRENT-READER hazard, every swap (not only crash repair): in the
  * window between the swap's two renames there is NO `_spark_metadata`,
  * and a Spark reader that lists the directory in that window FALLS
  * BACK to plain listing — it sees retired AND rewritten generations
  * together (doubled rows; deleted rows resurrected). The window is two
  * metadata renames wide, but it exists on every healthy
  * optimize/delete/update/merge/restore. [[open]] stops
  * writers, never readers; a reader that PLANNED against the old
  * manifest before the swap is safe (its file list is resolved, and the
  * files survive under history protection) — only a reader that LISTS
  * inside the window races. No tombstone can make Spark's fallback
  * listing fail loudly (it is Spark-internal behavior, not ours), so
  * serve planning-time readers from a catalog/snapshot layer if the
  * window matters, and always run [[repairOptimize]] before serving
  * reads after a crash.
  *
  * At 100 TB: OPTIMIZE keeps a long-running sink's file count
  * O(data/target) instead of O(batches × tasks); DELETE rewrites ONLY
  * the files that contain matches (found by a predicate-pushed scan) —
  * the copy-on-write discipline that makes a takedown/GDPR pass
  * O(affected bytes), never O(table).
  */
object Optimize {

  final case class OptimizeReport(
      compactedFiles: Int,
      outputFiles: Int,
      keptFiles: Int,
      latestBatchId: Long,
      retired: Seq[String])

  final case class DeleteReport(
      rewrittenFiles: Int,
      outputFiles: Int,
      keptFiles: Int,
      latestBatchId: Long,
      retired: Seq[String])

  private def fsFor(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def metaDir(path: String) = new Path(s"$path/_spark_metadata")
  private def bakDir(path: String) = new Path(s"$path/_spark_metadata.bak")

  /** Per-operation stage dirs + scope lock: every rewrite stages under
    * token-keyed names, so two ops never collide on the filesystem, and
    * announces its claim in a `_graft_scope_<token>` lock file — the
    * selected partition sub-paths one per line, or [[WholeTable]]. Only
    * the manifest swap itself serializes ([[swapLock]]). The empty token
    * names the legacy untokened dirs, which only [[repairOptimize]]
    * still touches. All names are `_`-prefixed: invisible to readers,
    * skipped by vacuum's orphan walk. */
  private val StageMetaPrefix = "_graft_optimize_stage_meta"
  private val StageDataPrefix = "_graft_optimize_data"
  private val ScopePrefix = "_graft_scope_"
  private def tokened(prefix: String, token: String) =
    if (token.isEmpty) prefix else s"${prefix}_$token"
  private def stageMetaDir(path: String, token: String) =
    new Path(path, tokened(StageMetaPrefix, token))
  private def stageDataDir(path: String, token: String) =
    new Path(path, tokened(StageDataPrefix, token))
  private def scopeMarker(path: String, token: String) = new Path(path, s"$ScopePrefix$token")

  /** The token a maintenance dir or lock name carries ("" for a legacy
    * untokened stage dir), None for any other name. */
  private def tokenOf(name: String): Option[String] =
    Seq(ScopePrefix, StageMetaPrefix, StageDataPrefix).collectFirst {
      case pre if name.startsWith(pre) => name.stripPrefix(pre).stripPrefix("_")
    }

  /** A whole-table op's lock line: it overlaps every scope. (A partition
    * sub-path is `k=v[/k=v...]`, never this.) */
  private val WholeTable = "*"

  /** Per-table swap serialization (same-JVM: the local[...] regime; on a
    * multi-driver deployment the scope locks still keep DATA disjoint
    * and the manifest rename is the single commit point). Every swap,
    * every repair and every live-manifest read of a maintenance op runs
    * under it, so in-JVM ops never see another op's mid-swap state. */
  private val swapLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def swapLock(path: String): Object =
    swapLocks.computeIfAbsent(
      Path.getPathWithoutSchemeAndAuthority(new Path(path)).toString, _ => new Object)

  /** ACQUIRE, write-then-check: create our lock (`scope` None claims the
    * whole table), then re-list every `_graft_scope_*` and back off
    * (delete our lock, refuse) when an overlapping one is OLDER (mtime,
    * ties by token) — the younger claimant always yields, so of two
    * racing overlapping acquires exactly one proceeds, and a dead op's
    * lock refuses every overlapping op until repaired. Returns the
    * token. */
  private def acquire(
      spark: SparkSession, fs: FileSystem, path: String, scope: Option[Set[String]],
      op: String): String = {
    val token = newToken()
    val m = scopeMarker(path, token)
    val claim = scope.getOrElse(Set(WholeTable))
    val out = fs.create(m, false)
    try out.write(claim.toSeq.sorted.mkString("\n").getBytes("UTF-8")) finally out.close()
    val mine = fs.getFileStatus(m)
    fs.listStatus(new Path(path))
      .filter(st => st.getPath.getName.startsWith(ScopePrefix) && st.getPath.getName != m.getName)
      .foreach { st =>
        // a lock released since our listing claims nothing
        val theirs = EpochStore.readSmallFile(spark, st.getPath.toString).toSeq
          .flatMap(_.split("\n")).map(_.trim).filter(_.nonEmpty).toSet
        val overlaps = theirs(WholeTable) || claim(WholeTable) || theirs.exists(claim)
        val theyWin = st.getModificationTime < mine.getModificationTime ||
          (st.getModificationTime == mine.getModificationTime && st.getPath.getName < m.getName)
        if (overlaps && theyWin) {
          fs.delete(m, false)
          val repair = s"repairOptimize(path, \"${st.getPath.getName.stripPrefix(ScopePrefix)}\")"
          throw new IllegalArgumentException(scope match {
            case None =>
              s"$op($path): maintenance dirs/locks present (${st.getPath.getName}) — another " +
                s"maintenance op is in flight; rerun after it completes, or $repair if it died"
            case Some(_) =>
              val shared =
                if (theirs(WholeTable)) "the whole table"
                else theirs.intersect(claim).toSeq.sorted.take(3).mkString(", ")
              s"$op($path): partition scope overlaps in-flight maintenance " +
                s"(${st.getPath.getName}; shared: $shared) — disjoint scopes run concurrently; " +
                s"rerun after it completes, or $repair if it died"
          })
        }
      }
    token
  }
  private def marker(stage: Path) = new Path(stage, "_COMMITTED")
  private def historyDir(path: String) = new Path(s"$path/_graft_history")
  private[streaming] def maintMarker(path: String) = new Path(s"$path/_graft_last_maintenance")

  /** Touch the maintenance marker: its mtime is the last instant the
    * table's referenced-file set changed (swap or history expiry).
    * [[StreamSinks.vacuum]] ages orphans from max(file mtime, marker
    * mtime) so files retired/expired by maintenance get the FULL grace
    * window from the maintenance event, not from their original write
    * time. */
  private def touchMaintMarker(fs: FileSystem, path: String): Unit = {
    val out = fs.create(maintMarker(path), true)
    out.close()
  }

  private val VersionRe = "v(\\d+)".r

  /** Archived manifest generations, oldest first. `files` is the number
    * of data files that version references; `modifiedMs` the archive
    * time. A version whose manifest cannot be parsed (crash debris that
    * was archived for safety) reports files = -1 and cannot be
    * restored. */
  final case class HistoryVersion(version: Long, files: Int, modifiedMs: Long)

  private def versionDirs(fs: FileSystem, path: String): Seq[(Long, Path, Long)] = {
    val h = historyDir(path)
    if (!fs.exists(h)) Nil
    else
      fs.listStatus(h).toSeq.flatMap { st =>
        st.getPath.getName match {
          case VersionRe(n) if st.isDirectory => Seq((n.toLong, st.getPath, st.getModificationTime))
          case _                              => Nil
        }
      }.sortBy(_._1)
  }

  private def versionEntries(
      spark: SparkSession, dir: Path): Option[Seq[SinkFileStatus]] =
    try Some(sinkLog(spark, dir.toString).allFiles().toSeq)
    catch { case _: Exception => None } // unreadable archived debris: protects nothing

  /** The `_PROTECTED` snapshot (r17): ONE file under `_graft_history`
    * listing every data-file path any archived version references, so a
    * vacuum sweep reads ONE file instead of re-opening every archived
    * FileStreamSinkLog (O(versions) log parses per sweep — measured in
    * SCALING.md r17 at 50 retained versions). Maintained at the rare
    * maintenance events (archive / expire), read at the frequent one
    * (vacuum). Crash ordering is conservative in both directions: the
    * snapshot writes BEFORE an archive's rename (a crash between leaves
    * it OVER-protecting — safe, heals at the next maintenance) and
    * AFTER an expiry's deletes (same direction). */
  private def protectedMarker(path: String) = new Path(historyDir(path), "_PROTECTED")

  /** First line of every valid snapshot. A reader that does not see it
    * (empty file, truncated debris, pre-r18 format) treats the snapshot
    * as ABSENT and falls back to the full manifest scan — a torn
    * snapshot can slow a sweep down, never under-protect it. */
  private val ProtectedHeader = "#graft-protected-v1"

  /** Temp-write + atomic rename(OVERWRITE) ([[EpochStore.writeAtomic]]):
    * an in-place `fs.create(overwrite)` leaves a window where a crash
    * mid-write — or a concurrent vacuum reading between create and
    * close — sees an empty/truncated set as authoritative and sweeps
    * files archived versions still reference, and a delete-then-rename
    * leaves a window with no snapshot at all. A reader only ever sees
    * the old complete snapshot or the new one. */
  private def writeProtected(spark: SparkSession, path: String, set: Set[String]): Unit =
    EpochStore.writeAtomic(spark, protectedMarker(path).toString,
      (ProtectedHeader +: set.toSeq.sorted).mkString("\n"))

  private def readProtected(spark: SparkSession, path: String): Option[Set[String]] = {
    val body =
      try EpochStore.readSmallFile(spark, protectedMarker(path).toString)
      catch {
        // unreadable snapshot (torn write, checksum mismatch, FS
        // hiccup): not authoritative — scan fallback, never a crash
        // and never an under-protecting partial read
        case _: java.io.IOException => None
      }
    body.flatMap { b =>
      val lines = b.split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq
      // header missing ⇒ empty or garbled or pre-header debris: not
      // authoritative, fall back to the ground-truth scan
      if (lines.headOption.contains(ProtectedHeader)) Some(lines.drop(1).toSet) else None
    }
  }

  /** The snapshot's ground truth, recomputed by opening every archived
    * manifest — the pre-r17 per-sweep cost, now paid only at
    * archive/expire time (and as the read fallback for tables whose
    * history predates the snapshot). */
  private def scanProtectedFiles(spark: SparkSession, path: String): Set[String] = {
    val fs = fsFor(spark, path)
    versionDirs(fs, path).flatMap { case (_, dir, _) =>
      versionEntries(spark, dir).getOrElse(Nil).map(e => normKey(e.path))
    }.toSet
  }

  /** STRICT recompute for snapshot persistence (r18): `None` if ANY
    * version's manifest is unreadable. The lenient scan is fine for a
    * single sweep's protection read (an FS hiccup under-protects one
    * sweep, the grace window absorbs it), but PERSISTING a set computed
    * while a manifest was transiently unreadable would bake the
    * under-protection into the durable `_PROTECTED`, where every later
    * sweep trusts it. */
  private def scanProtectedFilesStrict(
      spark: SparkSession, path: String): Option[Set[String]] = {
    val fs = fsFor(spark, path)
    val per = versionDirs(fs, path).map { case (_, dir, _) => versionEntries(spark, dir) }
    if (per.exists(_.isEmpty)) None
    else Some(per.flatten.flatten.map(e => normKey(e.path)).toSet)
  }

  /** Persist the recomputed snapshot, or — when a survivor's manifest is
    * transiently unreadable — DROP the snapshot so protection reads fall
    * back to scanning until the next maintenance event can rebuild it
    * cleanly (unreadability then costs one sweep, never bakes in). */
  private def rewriteOrDropProtected(
      spark: SparkSession, fs: FileSystem, path: String, extra: Set[String]): Unit =
    scanProtectedFilesStrict(spark, path) match {
      case Some(set) => writeProtected(spark, path, set ++ extra)
      case None      => fs.delete(protectedMarker(path), false): Unit
    }

  /** Every data file some archived history version still references —
    * the vacuum-protection set that keeps [[restoreTable]] possible.
    * One `_PROTECTED` read when the snapshot exists; the full
    * O(versions) manifest scan only for pre-snapshot tables. */
  private[streaming] def historyProtectedFiles(
      spark: SparkSession, path: String): Set[String] =
    readProtected(spark, path).getOrElse(scanProtectedFiles(spark, path))

  /** Monotonic version high-water marker: the largest version id EVER
    * issued, persisted so `GRAFT EXPIRE HISTORY KEEP 0` can never cause
    * id reuse — without it, numbering restarted at max(existing)+1 = v1
    * after a full expiry, and a stale `RESTORE TO VERSION n` aimed at an
    * expired generation could silently restore a DIFFERENT, newer
    * generation that inherited the number. Underscore-prefixed inside
    * `_graft_history` (the VersionRe lister skips it; expiry deletes
    * only version dirs, so the counter survives a KEEP 0). */
  private def vmaxMarker(path: String) = new Path(historyDir(path), "_vmax")

  /** Age-stamp epoch marker (r18): present ⇔ every version dir's mtime
    * was written by stamp-aware code (archive-instant stamps). Versions
    * archived by pre-r17 code kept the retired manifest dir's OLD mtime
    * through the rename, so the first age-based expiry after an upgrade
    * could instantly expire a version archived minutes earlier whose
    * manifest happened to be >retention old. One-time migration: on
    * first sight of an unstamped history, stamp every existing version
    * dir's mtime to NOW (the conservative direction — their retention
    * clock restarts), then drop the marker so later sweeps trust mtimes. */
  private def stampEpochMarker(path: String) = new Path(historyDir(path), "_stamp_epoch")

  /** Returns true if mtimes were already authoritative; false if this
    * call just performed the one-time migration (nothing should expire
    * on the migrating sweep — every stamp is seconds old). */
  private def ensureStamped(fs: FileSystem, path: String): Boolean = {
    val m = stampEpochMarker(path)
    if (fs.exists(m)) true
    else {
      val now = System.currentTimeMillis()
      versionDirs(fs, path).foreach { case (_, dir, _) =>
        try fs.setTimes(dir, now, -1)
        catch { case _: UnsupportedOperationException => () }
      }
      fs.mkdirs(historyDir(path))
      val out = fs.create(m, true); out.close()
      false
    }
  }

  private def readVmax(spark: SparkSession, path: String): Long =
    EpochStore.readSmallFile(spark, vmaxMarker(path).toString)
      .flatMap(_.trim.toLongOption).getOrElse(0L)

  /** Atomic, like every pointer ([[EpochStore.writeAtomic]]): a torn or
    * empty `_vmax` would read as 0, and after a KEEP 0 expiry ids would
    * be reused — exactly what the marker exists to prevent. */
  private def writeVmax(spark: SparkSession, path: String, v: Long): Unit =
    EpochStore.writeAtomic(spark, vmaxMarker(path).toString, v.toString)

  /** Archive a retired manifest dir as the next history version — one
    * rename, never a copy. Version ids come off the persisted high-water
    * counter (never reused across expiry epochs), with the live listing
    * as a floor for pre-counter tables. The `_PROTECTED` snapshot gains
    * the version's files BEFORE the rename (crash ⇒ over-protection,
    * never a sweepable restore target), and the archived dir's mtime is
    * stamped to the ARCHIVE instant so age-based retention measures from
    * the swap, not from the manifest's last batch write. */
  private def archiveToHistory(
      spark: SparkSession, fs: FileSystem, path: String, retired: Path): Long = {
    fs.mkdirs(historyDir(path))
    ensureStamped(fs, path): Unit
    val next = math.max(
      versionDirs(fs, path).lastOption.map(_._1).getOrElse(0L),
      readVmax(spark, path)) + 1
    val entries = versionEntries(spark, retired).getOrElse(Nil).map(e => normKey(e.path)).toSet
    readProtected(spark, path) match {
      case Some(cur) => writeProtected(spark, path, cur ++ entries)
      case None      => rewriteOrDropProtected(spark, fs, path, entries)
    }
    val dest = new Path(historyDir(path), s"v$next")
    require(fs.rename(retired, dest), s"archiveToHistory: rename $retired -> $dest failed")
    try fs.setTimes(dest, System.currentTimeMillis(), -1)
    catch { case _: UnsupportedOperationException => () } // best-effort on exotic FS
    writeVmax(spark, path, next)
    next
  }

  private def sinkLog(spark: SparkSession, logPath: String): FileStreamSinkLog =
    new FileStreamSinkLog(FileStreamSinkLog.VERSION, spark, logPath)

  /** The file's partition sub-path relative to the table root — "" for
    * root-level files, "k=v/k2=v2" for Hive-layout files. */
  private def partitionSubPath(fileUri: String, rootAbs: String): String = {
    val abs = Path.getPathWithoutSchemeAndAuthority(new Path(fileUri)).toString
    require(abs.startsWith(rootAbs + "/"), s"committed file $abs outside table root $rootAbs")
    val rel = abs.stripPrefix(rootAbs + "/")
    val cut = rel.lastIndexOf('/')
    if (cut < 0) "" else rel.substring(0, cut)
  }

  /** Scheme-normalized, URI-decoded comparison key for a file reference —
    * `SinkFileStatus.path` is URI-encoded while `_metadata.file_path`
    * and raw listings vary in scheme, so identity must compare decoded
    * absolute paths. */
  private def normKey(ref: String): String = {
    val p =
      try new Path(new java.net.URI(ref))
      catch { case _: Exception => new Path(ref) }
    Path.getPathWithoutSchemeAndAuthority(p).toString
  }

  /** The table's partition columns, read off the committed entries'
    * Hive-style dir names — metadata-scale string parsing. */
  private def tablePartCols(
      spark: SparkSession, path: String, all: Seq[SinkFileStatus]): Seq[String] = {
    val rootAbs = graft.sources.FileIO.tableRootAbs(spark, path)
    all.map(e => partitionSubPath(e.path, rootAbs)).filter(_.nonEmpty).headOption
      .map(_.split('/').toSeq.map(_.split("=", 2)(0)))
      .getOrElse(Nil)
  }

  /** Column names a (possibly unresolved) predicate references — via the
    * FULL node→catalyst conversion (the plain wrapper is an opaque leaf
    * catalyst traversals cannot see into). */
  private def refNames(c: Column): Set[String] = {
    val e = org.apache.spark.sql.graftbridge.PlanBridge.catalystExpression(c)
    (e.collect { case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
      u.nameParts.last } ++
      e.collect { case a: org.apache.spark.sql.catalyst.expressions.Attribute => a.name }).toSet
  }

  /** Column names a column-level-merge SET expression references ON THE
    * TABLE SIDE only: unqualified or `t.`-qualified attributes. A merge
    * SET expression addresses the table row as `t` and the source row as
    * `s` (the Delta updateExpr convention) — a SOURCE column that merely
    * SHARES a name with a partition column (`s.cap` on a table
    * partitioned by `cap`) never reads the partition value, so counting
    * it (as the bare nameParts.last compare did) was a loud false
    * positive blocking a legitimate merge. Any other qualifier is also
    * excluded: it cannot resolve to the bare rewrite frame's partition
    * column either. */
  private def tableSideRefNames(c: Column): Set[String] = {
    val e = org.apache.spark.sql.graftbridge.PlanBridge.catalystExpression(c)
    (e.collect {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if u.nameParts.size == 1 ||
            (u.nameParts.size == 2 && u.nameParts.head.equalsIgnoreCase("t")) =>
        u.nameParts.last
    } ++
      e.collect { case a: org.apache.spark.sql.catalyst.expressions.Attribute => a.name }).toSet
  }

  /** The documented data-columns-only rule, enforced loudly: a partition
    * column rides through the rewrite as a verbatim STRING, so a typed
    * predicate over it would silently mis-compare on the rewrite side
    * (e.g. double-vs-string coercion to null keeping every row). */
  private def requireDataColumnPredicate(
      op: String, predicate: Column, partCols: Seq[String]): Unit = {
    val overlap = refNames(predicate).intersect(partCols.toSet)
    require(overlap.isEmpty,
      s"$op: predicate references partition column(s) ${overlap.mkString(",")} — " +
        "partition-level surgery is directory pruning, not a row rewrite; data columns only")
  }

  /** PARTITION-SCOPED maintenance selection (r17, TYPED r18): the
    * partition sub-paths of the committed entries whose values satisfy
    * `pred`, evaluated against each PARTITION's values, decoded from the Hive dir names
    * and then CAST through the type the column's values infer — the
    * same lattice partition discovery applies (long → double → date →
    * string). r17 evaluated the raw strings, so `WHERE hour >= '10'`
    * on an int-valued partition compared LEXICALLY ("9" >= "10" —
    * hour=9 selected, wrong partitions rewritten, intended ones
    * skipped, no error); on a time-partitioned table with numeric hour/
    * day/shard values that is the FIRST range predicate an operator
    * writes. A value that fails a cast the predicate demands (e.g.
    * `hour >= 10` over a partition dir `hour=oops`) refuses loudly
    * instead of silently dropping the partition from the scope. The
    * REWRITE side is untouched: partition values still round-trip
    * through the rewrite as verbatim strings. Evaluation is
    * METADATA-scale:
    * one driver-local row per distinct partition, never a data scan. At
    * 100 TB this is what makes table maintenance schedulable — compact /
    * re-cluster yesterday's partition while the other 3 652 stay
    * byte-untouched, instead of whole-table-or-refuse.
    *
    * The predicate must reference partition columns ONLY (row-level
    * surgery is deleteWhere/updateWhere — the mirror image of their
    * data-columns-only rule), and the table must actually be
    * Hive-partitioned. */
  private def selectPartitionScope(
      spark: SparkSession,
      path: String,
      all: Seq[SinkFileStatus],
      partCols: Seq[String],
      pred: Column,
      op: String
  ): Set[String] = {
    require(partCols.nonEmpty,
      s"$op($path): WHERE partition scope needs a Hive-partitioned table — " +
        "this table has no partition dirs")
    val refs = refNames(pred)
    val bad = refs -- partCols.toSet
    require(refs.nonEmpty,
      s"$op: partition-scope predicate references no columns — " +
        s"name the partition column(s) ${partCols.mkString(",")}")
    require(bad.isEmpty,
      s"$op: partition-scope predicate references data column(s) ${bad.mkString(",")} — " +
        s"scope selects PARTITIONS (${partCols.mkString(",")}); row-level surgery is " +
        "deleteWhere/updateWhere")
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName
    val rootAbs = graft.sources.FileIO.tableRootAbs(spark, path)
    val subs = all.map(e => partitionSubPath(e.path, rootAbs)).distinct.sorted
    val rows: java.util.List[org.apache.spark.sql.Row] = new java.util.ArrayList()
    val colVals = partCols.map(c => c -> scala.collection.mutable.TreeSet.empty[String]).toMap
    subs.foreach { sub =>
      val vals = sub.split('/').toSeq.map { seg =>
        val kv = seg.split("=", 2)
        require(kv.length == 2, s"$op: non-Hive partition segment '$seg' under $path")
        unescapePathName(kv(0)) ->
          (if (kv(1) == "__HIVE_DEFAULT_PARTITION__") null else unescapePathName(kv(1)))
      }.toMap
      partCols.foreach(c => vals.get(c).flatMap(Option(_)).foreach(colVals(c) += _))
      rows.add(org.apache.spark.sql.Row.fromSeq(sub +: partCols.map(vals.getOrElse(_, null))))
    }
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField(
        "__graft_sub", org.apache.spark.sql.types.StringType) +:
        partCols.map(c =>
          org.apache.spark.sql.types.StructField(c, org.apache.spark.sql.types.StringType)))
    val colTypes: Map[String, org.apache.spark.sql.types.DataType] =
      partCols.map(c => c -> inferPartValueType(colVals(c).toSeq)).toMap
    val typed = spark.createDataFrame(rows, schema)
      .select(col("__graft_sub") +: partCols.map(c => col(c).cast(colTypes(c)).as(c)): _*)
    val filtered = typed.filter(pred)
    // a STRING-typed partition column the ANALYZED predicate casts to a
    // typed target (the user wrote `hour >= 10` over dirs holding a
    // non-numeric value) must refuse per-value, not silently null-drop
    // partitions (non-ANSI) or crash mid-filter (ANSI)
    val strCols = partCols.filter(c =>
      colTypes(c) == org.apache.spark.sql.types.StringType).toSet
    filtered.queryExecution.analyzed
      .collect { case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition }
      .flatMap(_.collect { case c: org.apache.spark.sql.catalyst.expressions.Cast => c })
      .foreach { c =>
        c.child match {
          case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
              if strCols.contains(a.name) &&
                c.dataType != org.apache.spark.sql.types.StringType =>
            val bad = colVals(a.name).toSeq.filter(v => castFails(v, c.dataType))
            require(bad.isEmpty,
              s"$op: scope predicate casts partition column ${a.name} to ${c.dataType.sql}, " +
                s"but partition value(s) ${bad.take(3).mkString("'", "', '", "'")} do not " +
                "cast — fix the predicate (compare as strings) or the partition layout")
          case _ => ()
        }
      }
    filtered
      .select(col("__graft_sub"))
      .collect()
      .map(_.getString(0))
      .toSet
  }

  /** Partition-value type inference (r18) — the discovery lattice over
    * the column's distinct dir-name strings: all-long → LONG, all-double
    * → DOUBLE, all-`yyyy-MM-dd` → DATE, else verbatim STRING. Inference
    * feeds SCOPE EVALUATION only; dir names and rewrites keep the
    * verbatim strings. */
  private def inferPartValueType(vals: Seq[String]): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    def all(p: String => Boolean) = vals.nonEmpty && vals.forall(v => scala.util.Try(p(v)).getOrElse(false))
    if (all(v => { v.toLong; true })) LongType
    else if (all(v => { v.toDouble; true })) DoubleType
    else if (all(v => { java.sql.Date.valueOf(v); true })) DateType
    else StringType
  }

  private def castFails(v: String, dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        scala.util.Try(v.trim.toLong).isFailure
      case FloatType | DoubleType           => scala.util.Try(v.trim.toDouble).isFailure
      case _: DecimalType                   => scala.util.Try(BigDecimal(v.trim)).isFailure
      case DateType                         => scala.util.Try(java.sql.Date.valueOf(v.trim)).isFailure
      case TimestampType | TimestampNTZType =>
        scala.util.Try(java.sql.Timestamp.valueOf(v.trim)).isFailure
      case BooleanType =>
        !Set("true", "false", "t", "f", "yes", "no", "y", "n", "0", "1")
          .contains(v.trim.toLowerCase)
      case _ => false
    }
  }

  /** One rewrite's hold on the table: its token (naming its stage dirs
    * `_graft_optimize_{data,stage_meta}_<token>` and its lock), the
    * live latest batch id at open, the committed entries read WITH THE
    * LOCK HELD, and the partition scope it claimed (None: the whole
    * table). */
  private final case class Held(
      fs: FileSystem, token: String, latestId: Long, all: Seq[SinkFileStatus],
      scope: Option[Set[String]])

  /** OPEN → ACQUIRE → `body` → RELEASE, the lifecycle every rewrite
    * runs. OPEN: stop-the-writer, the mid-swap refusal ([[liveLog]]),
    * the latest batch id. ACQUIRE: one lock claiming the whole table,
    * or the partition sub-paths `scope` selects off the entries as of
    * open; `body` then gets the entries as of NOW — a disjoint scoped
    * op that committed between open and acquire rides through. RELEASE:
    * the lock goes on success and on every in-JVM failure; so does an
    * uncommitted or never-swapped stage, while a swap that failed
    * between its renames (no live manifest) keeps its committed stage
    * for [[repairOptimize]] to roll forward. */
  private def maintain[R](
      spark: SparkSession, path: String, op: String,
      scope: Option[Seq[SinkFileStatus] => Set[String]] = None
  )(body: Held => R): R = {
    StreamSinks.requireNoActiveWriter(spark, path, op)
    val fs = fsFor(spark, path)
    val latestId = swapLock(path).synchronized(liveLog(spark, fs, path, op).getLatestBatchId())
      .getOrElse(throw new IllegalStateException(s"$op($path): no committed batches"))
    val claim = scope.map(_(liveEntries(spark, fs, path, op)))
    val token = acquire(spark, fs, path, claim, op)
    try body(Held(fs, token, latestId, liveEntries(spark, fs, path, op), claim))
    finally {
      if (fs.exists(metaDir(path))) fs.delete(stageMetaDir(path, token), true)
      fs.delete(scopeMarker(path, token), false): Unit
    }
  }

  /** The live sink log — refused, for every op, when a swap died
    * mid-way (no live `_spark_metadata`, or a leftover `.bak`). The
    * refusal runs BEFORE the log opens: opening a sink log creates a
    * missing `_spark_metadata`, which would hide the crashed swap from
    * [[repairOptimize]] and leave the table empty. Callers hold
    * [[swapLock]], so an in-JVM swap in progress is never mistaken for
    * a crashed one. */
  private def liveLog(
      spark: SparkSession, fs: FileSystem, path: String, op: String): FileStreamSinkLog = {
    if (!fs.exists(metaDir(path)) || fs.exists(bakDir(path)))
      throw new IllegalStateException(
        s"$op($path): no live _spark_metadata, or a leftover _spark_metadata.bak — a " +
          "maintenance swap died mid-way (run repairOptimize), or this is not a sink table")
    sinkLog(spark, metaDir(path).toString)
  }

  private def liveEntries(
      spark: SparkSession, fs: FileSystem, path: String, op: String): Seq[SinkFileStatus] =
    swapLock(path).synchronized(liveLog(spark, fs, path, op).allFiles().toSeq)

  /** Heal crashed maintenance before a foreachBatch sink touches the
    * manifest. It runs BEFORE any bootstrap-vs-append decision: a crash
    * between the swap's two renames leaves NO live manifest, and
    * deciding on its absence alone would re-bootstrap and silently
    * reset the table. The sink is the table's one writer and its table
    * is unpartitioned, so every maintenance dir or lock left at a batch
    * boundary belongs to a dead op (the sink's own compaction or merge):
    * one [[repairOptimize]] resolves the swap, then each remaining token
    * is released. One listing when there is nothing to heal. */
  private def healSwap(spark: SparkSession, fs: FileSystem, path: String): Unit = {
    def tokens(): Seq[String] =
      if (!fs.exists(new Path(path))) Nil
      else fs.listStatus(new Path(path)).toSeq.map(_.getPath.getName).flatMap(n =>
        if (n == bakDir(path).getName) Some("") else tokenOf(n)).distinct
    if (tokens().nonEmpty) {
      repairOptimize(spark, path): Unit
      tokens().filter(_.nonEmpty).foreach(repairOptimize(spark, path, _))
    }
  }

  /** Delete the table root's `<prefix>*` stage dirs — a crashed writer's
    * invisible debris (its moved-but-uncommitted files are orphans the
    * graced vacuum reclaims). Single-writer callers only: a live
    * writer's stage dir matches too. */
  private def sweepStageDirs(fs: FileSystem, path: String, prefix: String): Unit =
    if (fs.exists(new Path(path))) {
      fs.listStatus(new Path(path)).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
        .foreach(st => fs.delete(st.getPath, true))
    }

  private def newToken(): String = java.util.UUID.randomUUID().toString.take(8)

  /** LAND — the one staged-write path: `write` fills the `_`-prefixed
    * `stage` dir (invisible to readers, skipped by vacuum), then every
    * data file under it moves to `<prefix>-<uuid>-<i>.<format>` in its
    * partition sub-path under the table root. The stage dir is deleted
    * afterwards — and on failure, so an in-JVM error never leaves debris
    * that blocks the next op behind a repair (files already moved are
    * unreferenced orphans for the graced vacuum). The returned entries
    * are still invisible: only a manifest commit naming them publishes
    * them. */
  private def land(
      fs: FileSystem,
      path: String,
      stage: Path,
      format: String,
      prefix: String,
      uuid: String = newToken()
  )(write: String => Unit): Seq[SinkFileStatus] =
    try {
      write(stage.toString)
      val stageRoot = fs.makeQualified(stage).toString
      StreamSinks.dataFiles(fs, stage).zipWithIndex.map { case (st, i) =>
        val rel = st.getPath.toString.stripPrefix(stageRoot).stripPrefix("/")
        val cut = rel.lastIndexOf('/')
        val destDir = if (cut < 0) new Path(path) else new Path(path, rel.substring(0, cut))
        fs.mkdirs(destDir)
        val dest = new Path(destDir, s"$prefix-$uuid-$i.$format")
        require(fs.rename(st.getPath, dest), s"land: rename ${st.getPath} -> $dest failed")
        SinkFileStatus(fs.getFileStatus(dest))
      }
    } finally fs.delete(stage, true): Unit

  /** HIT FILES: split the committed entries into (hit, untouched) by the
    * file paths the `files` scans project (one string column each, one
    * collect each), refusing loudly when scan and manifest disagree. */
  private def hitFiles(
      op: String, path: String, all: Seq[SinkFileStatus], files: DataFrame*
  ): (Seq[SinkFileStatus], Seq[SinkFileStatus]) = {
    val hitKeys = files.flatMap(_.distinct().collect().map(r => normKey(r.getString(0)))).toSet
    val (hit, untouched) = all.partition(e => hitKeys.contains(normKey(e.path)))
    require(hit.size == hitKeys.size,
      s"$op($path): ${hitKeys.size} matched files but ${hit.size} manifest entries — " +
        "scan and manifest disagree; refusing to rewrite")
    (hit, untouched)
  }

  /** The copy-on-write output layout: `nOut` files for an unpartitioned
    * table, or `nOut` hash-split across the partition dirs. */
  private[graft] def cowLayout(df: DataFrame, partCols: Seq[String], nOut: Int): DataFrameWriter[Row] =
    if (partCols.isEmpty) df.coalesce(nOut).write
    else df.repartition(nOut, partCols.map(col): _*).write.partitionBy(partCols: _*)

  private def outFiles(src: Seq[SinkFileStatus], targetFileBytes: Long): Int =
    math.max(1L, (src.map(_.size).sum + targetFileBytes - 1) / targetFileBytes).toInt

  /** REWRITE: read the `src` entries back, lay them out with `layout`
    * (which receives the frame and the detected partition columns) and
    * [[land]] the result under `stage` — written files return, still
    * unreferenced. Partition values round-trip VERBATIM: the read
    * declares the partition columns STRING in a user-specified schema,
    * so Spark keeps the raw dir value instead of inferring a type
    * (SPARK-26188) and no session conf is touched — concurrent scoped
    * ops share the session. The data schema comes off ONE source file,
    * the path-sorted first — the footer Parquet's inferring read samples.
    * After an `evolveSchema` merge that is an evolved `graft-*` file
    * wherever one shares a dir with legacy `part-*` files, so the rewrite
    * keeps the new columns (legacy rows read them as NULL); the manifest
    * lists untouched, i.e. legacy, files first. */
  private def stageRewrite(
      spark: SparkSession,
      fs: FileSystem,
      path: String,
      format: String,
      src: Seq[SinkFileStatus],
      namePrefix: String,
      stage: Path
  )(layout: (DataFrame, Seq[String]) => DataFrameWriter[Row]): Seq[SinkFileStatus] = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val srcPaths = src.map(_.sparkPath.toPath.toString)
    val rootAbs = graft.sources.FileIO.tableRootAbs(spark, path)
    val partCols: Seq[String] = srcPaths
      .map(p => partitionSubPath(p, rootAbs))
      .filter(_.nonEmpty)
      .headOption
      .map(_.split('/').toSeq.map(_.split("=", 2)(0)))
      .getOrElse(Nil)
    val dataSchema = spark.read.format(format).load(srcPaths.min).schema
    val schema = StructType(dataSchema.filterNot(f => partCols.contains(f.name)) ++
      partCols.map(StructField(_, StringType)))
    val df = spark.read.format(format).schema(schema).option("basePath", path).load(srcPaths: _*)
    val writer = layout(df, partCols)
    land(fs, path, stage, format, namePrefix)(
      writer.mode(org.apache.spark.sql.SaveMode.Overwrite).format(format).save(_))
  }

  /** The copy-on-write rewrite of `hit`: the row function's output in
    * [[cowLayout]], sized to `targetFileBytes`, staged under `stage`. */
  private def copyOnWrite(
      spark: SparkSession,
      fs: FileSystem,
      path: String,
      format: String,
      hit: Seq[SinkFileStatus],
      namePrefix: String,
      targetFileBytes: Long,
      stage: Path
  )(rows: (DataFrame, Seq[String]) => DataFrame): Seq[SinkFileStatus] = {
    val nOut = outFiles(hit, targetFileBytes)
    stageRewrite(spark, fs, path, format, hit, namePrefix, stage) {
      (df, partCols) => cowLayout(rows(df, partCols), partCols, nOut)
    }
  }

  /** SWAP, the one commit of every rewrite: under [[swapLock]], re-read
    * the LIVE manifest, refuse if a `replaced` entry vanished from it
    * (the locks guarantee it stays; its absence means a writer outside
    * the protocol touched the table — loud refusal, no swap), and stage
    * `live − replaced + added` at the token's stage dir with the live
    * latest batch id (O(compactInterval) writes — see the object
    * scaladoc). Then swap it live under the `_COMMITTED` marker and
    * archive the retired manifest. Entries outside `replaced` ride
    * through from whatever is committed NOW, so a disjoint scoped op
    * that landed meanwhile keeps its work; only this read-merge-rename
    * is serialized, the expensive stage writes ran concurrently. */
  private def swapManifest(
      spark: SparkSession,
      fs: FileSystem,
      path: String,
      token: String,
      replaced: Seq[SinkFileStatus],
      added: Seq[SinkFileStatus],
      op: String
  ): Unit = swapLock(path).synchronized {
    val log = liveLog(spark, fs, path, op)
    val latestId: Long = log.getLatestBatchId().getOrElse(
      throw new IllegalStateException(s"$op($path): no committed batches at swap time"))
    val live = log.allFiles().toSeq
    val replacedKeys = replaced.map(e => normKey(e.path)).toSet
    val vanished = replacedKeys -- live.map(e => normKey(e.path))
    require(vanished.isEmpty,
      s"$op($path): ${vanished.size} replaced file(s) vanished from the live manifest " +
        s"mid-operation (first: ${vanished.headOption.getOrElse("")}) — an external " +
        "writer touched the table; refusing the swap")
    val newEntries = (live.filterNot(e => replacedKeys.contains(normKey(e.path))) ++ added).toArray
    val stageMeta = stageMetaDir(path, token)
    val stageLog = sinkLog(spark, stageMeta.toString)
    val interval = spark.conf
      .getOption("spark.sql.streaming.fileSink.log.compactInterval").map(_.toInt).getOrElse(10)
    require(interval > 0, s"$op: bad fileSink.log.compactInterval $interval")
    val head = latestId - ((latestId + 1) % interval) // newest boundary ≤ latest, or negative
    if (head >= 0) {
      val out = fs.create(new Path(stageMeta, s"$head.compact"), true)
      try stageLog.serialize(newEntries, out) finally out.close()
      ((head + 1) to latestId).foreach { id =>
        require(stageLog.add(id, Array.empty[SinkFileStatus]),
          s"$op: staging manifest batch $id failed")
      }
    } else {
      (0L to latestId).foreach { id =>
        val content = if (id == latestId) newEntries else Array.empty[SinkFileStatus]
        require(stageLog.add(id, content), s"$op: staging manifest batch $id failed")
      }
    }
    val mk = fs.create(marker(stageMeta), true); mk.close()

    require(fs.rename(metaDir(path), bakDir(path)),
      s"$op: could not retire the live manifest at ${metaDir(path)}")
    require(fs.rename(stageMeta, metaDir(path)),
      s"$op: could not promote the staged manifest — run repairOptimize")
    fs.delete(marker(metaDir(path)), false)
    archiveToHistory(spark, fs, path, bakDir(path)): Unit
    touchMaintMarker(fs, path)
  }

  /** @param zOrderDims when set, the rewrite is a RE-CLUSTERING, not a
    *        small-file pass: ALL data files rewrite Z-ORDER clustered on
    *        the two dimensions ([[graft.sources.FileIO.zOrdered]]) —
    *        the small-file threshold is a compaction economy and would
    *        silently skip the requested re-clustering on an
    *        already-compacted (large-file) table. Unpartitioned tables
    *        only: a partitioned layout already carries its first
    *        dimension in the dirs.
    * @param zOrderDimsN the n-dimensional spelling of the same
    *        ([[graft.sources.FileIO.zOrderedN]], r16) — mutually
    *        exclusive with `zOrderDims`.
    * @param sortDims when set, ALL files rewrite RANGE-CLUSTERED +
    *        sorted on the given columns (the in-place twin of
    *        [[graft.sources.FileIO.writeSorted]], r16) — the layout
    *        maintenance the DML skew soak prescribes when a table is
    *        mutated and filtered by the SAME key: after it, a key-slice
    *        DELETE/UPDATE/MERGE touches O(slice-width) files instead of
    *        the whole table (SCALING.md r16). Mutually exclusive with
    *        the z-order spellings; unpartitioned tables only — UNLESS
    *        the rewrite is partition-scoped (below).
    * @param partitionWhere PARTITION SCOPE (r17 — `GRAFT OPTIMIZE ...
    *        WHERE <partition predicate>`): compaction/re-clustering
    *        applies ONLY to the partitions the predicate selects
    *        ([[selectPartitionScope]] — partition columns only, exact
    *        STRING comparison against the dir-name values); every other
    *        partition's manifest entries ride through the swap VERBATIM
    *        and its files are never read. This also LIFTS the
    *        partitioned-table re-clustering refusal: within the scope,
    *        SORT BY / ZORDER range-cluster on (partition cols, keys) and
    *        write back through `partitionBy`, so each selected partition
    *        dir gets its own tight key/curve ranges. The 100 TB shape:
    *        re-cluster yesterday's `dt=` partition after its late data
    *        settled — cost O(selected partitions), never O(table). */
  def optimizeSink(
      spark: SparkSession,
      path: String,
      format: String = "parquet",
      smallFileBytes: Long = 32L * 1024 * 1024,
      targetFileBytes: Long = 128L * 1024 * 1024,
      zOrderDims: Option[(String, String)] = None,
      zOrderDimsN: Seq[String] = Nil,
      sortDims: Seq[String] = Nil,
      partitionWhere: Option[Column] = None
  ): OptimizeReport = {
    require(zOrderDims.isEmpty || zOrderDimsN.isEmpty,
      "optimizeSink: pass zOrderDims OR zOrderDimsN, not both")
    val zDims: Seq[String] =
      if (zOrderDimsN.nonEmpty) zOrderDimsN
      else zOrderDims.map(t => Seq(t._1, t._2)).getOrElse(Nil)
    require(zDims.isEmpty || sortDims.isEmpty,
      "optimizeSink: ZORDER BY and SORT BY are mutually exclusive re-clusterings")
    val recluster = zDims.nonEmpty || sortDims.nonEmpty
    // partition scope: the lock claims the selected partitions;
    // out-of-scope entries ride through the swap verbatim, exactly like
    // a copy-on-write DML's untouched files
    val selectScope = partitionWhere.map(pred => (all0: Seq[SinkFileStatus]) =>
      selectPartitionScope(spark, path, all0, tablePartCols(spark, path, all0), pred,
        "optimizeSink"))
    maintain(spark, path, "optimizeSink", selectScope) { case Held(fs, token, latestId, all, scope) =>
      val tPartCols = tablePartCols(spark, path, all)
      (zDims ++ sortDims).foreach(d => require(!tPartCols.contains(d),
        s"optimizeSink: re-clustering key $d is a partition column — already a directory level"))
      require(!recluster || tPartCols.isEmpty || partitionWhere.nonEmpty,
        s"optimizeSink($path): whole-table re-clustering applies to unpartitioned tables " +
          s"(this table partitions on ${tPartCols.mkString(",")}) — scope it with a " +
          "partition predicate (GRAFT OPTIMIZE ... WHERE <partition predicate>)")
      val rootAbs = graft.sources.FileIO.tableRootAbs(spark, path)
      val inScope = scope.fold(all)(subs =>
        all.filter(e => subs.contains(partitionSubPath(e.path, rootAbs))))
      // a re-clustering (ZORDER/SORT BY) means "rewrite the scope": every
      // in-scope file participates; plain OPTIMIZE repacks only files
      // below the small-file threshold
      val small = if (recluster) inScope else inScope.filter(_.size < smallFileBytes)
      if (small.size < (if (recluster) 1 else 2)) OptimizeReport(0, 0, all.size, latestId, Nil)
      else {
        val nOut = outFiles(small, targetFileBytes)
        val landed = stageRewrite(spark, fs, path, format, small, "graft-compact",
          stageDataDir(path, token)) { (df, partCols) =>
          val clusterKeys = if (zDims.nonEmpty) zDims else sortDims
          if (recluster && partCols.isEmpty)
            (if (zDims.nonEmpty) graft.sources.FileIO.zOrderedN(df, zDims, nOut)
             else
               df.repartitionByRange(nOut, clusterKeys.map(col): _*)
                 .sortWithinPartitions(clusterKeys.map(col): _*)).write
          else if (recluster)
            // partition-scoped re-cluster: range-cluster on (partition
            // cols, keys) so tasks split along partition boundaries and
            // each partition dir's files cover tight key/curve ranges
            (if (zDims.nonEmpty)
               graft.sources.FileIO.zOrderedN(df, zDims, nOut, prefix = partCols)
             else
               df.repartitionByRange(nOut, (partCols ++ clusterKeys).map(col): _*)
                 .sortWithinPartitions((partCols ++ clusterKeys).map(col): _*))
              .write.partitionBy(partCols: _*)
          else cowLayout(df, partCols, nOut)
        }
        swapManifest(spark, fs, path, token, small, landed, "optimizeSink")
        OptimizeReport(small.size, landed.size, all.size - small.size, latestId,
          small.map(_.sparkPath.toPath.toString))
      }
    }
  }

  /** Row-level DELETE on a live manifest-committed table — COPY-ON-WRITE:
    * only the files that actually CONTAIN matching rows are rewritten
    * (found by one predicate-pushed scan projecting `_metadata.file_path`
    * — file-count-bounded, and the pushed predicate skips row groups on
    * the way); untouched files keep their manifest entries VERBATIM. The
    * rewritten copies hold the survivors (`NOT predicate`, with
    * three-valued logic handled: a NULL predicate row SURVIVES, matching
    * SQL DELETE semantics); a file whose every row matches simply
    * produces no copy. The swap, crash repair, writer-resume, and vacuum
    * story are identical to [[optimizeSink]] — one shared protocol.
    *
    * `predicate` must reference DATA columns only (partition values ride
    * through the rewrite as verbatim strings, so a typed partition
    * predicate would mis-compare; partition-level deletion is directory
    * surgery, a different tool). At 100 TB this is the takedown/GDPR
    * primitive: cost O(files containing matches), never O(table).
    */
  def deleteWhere(
      spark: SparkSession,
      path: String,
      predicate: Column,
      format: String = "parquet",
      targetFileBytes: Long = 128L * 1024 * 1024
  ): DeleteReport =
    rewriteWhere(spark, path, "deleteWhere", "graft-delete", predicate, Map.empty, format,
      targetFileBytes) { (df, _) =>
      // keep rows where the predicate is FALSE or NULL (SQL DELETE
      // removes only definite matches)
      df.filter(not(coalesce(predicate, lit(false))))
    }

  /** Row-level UPDATE on a live manifest-committed table — the same
    * copy-on-write shape as [[deleteWhere]]: one predicate-pushed scan
    * finds the match-bearing files, only those rewrite with `set`
    * expressions applied to matching rows (non-matching rows — including
    * NULL-predicate rows — pass through byte-identical), untouched files
    * keep their manifest entries verbatim, one staged-manifest swap
    * commits. `set` columns must be existing DATA columns (schema is
    * stable through the rewrite; partition columns live in dir names and
    * cannot be updated in place — that is a move, not an update). */
  def updateWhere(
      spark: SparkSession,
      path: String,
      predicate: Column,
      set: Map[String, Column],
      format: String = "parquet",
      targetFileBytes: Long = 128L * 1024 * 1024
  ): DeleteReport = {
    require(set.nonEmpty, "updateWhere: empty SET")
    rewriteWhere(spark, path, "updateWhere", "graft-update", predicate, set, format,
      targetFileBytes) { (df, partCols) =>
      set.keys.foreach { c =>
        require(df.columns.contains(c), s"updateWhere: SET column $c not in the table schema")
        require(!partCols.contains(c),
          s"updateWhere: $c is a partition column — updating it is a move, not an update")
      }
      // ONE projection, not chained withColumns: every SET expression
      // AND the predicate evaluate against the OLD row (standard SQL
      // UPDATE semantics — an assignment never sees a sibling's result)
      val matchedOnly = coalesce(predicate, lit(false))
      df.select(df.columns.toIndexedSeq.map { c =>
        set.get(c) match {
          case Some(e) =>
            org.apache.spark.sql.functions.when(matchedOnly, e).otherwise(col(c))
              .cast(df.schema(c).dataType).as(c)
          case None => col(c)
        }
      }: _*)
    }
  }

  /** The copy-on-write DML skeleton [[deleteWhere]] and [[updateWhere]]
    * share: open, refuse partition-column reads in the predicate and in
    * the `set` expressions, find the hit files by one predicate-pushed
    * scan, rewrite them through `rows`, swap. */
  private def rewriteWhere(
      spark: SparkSession,
      path: String,
      op: String,
      namePrefix: String,
      predicate: Column,
      set: Map[String, Column],
      format: String,
      targetFileBytes: Long
  )(rows: (DataFrame, Seq[String]) => DataFrame): DeleteReport = {
    maintain(spark, path, op) { case Held(fs, token, latestId, all, _) =>
      val partCols = tablePartCols(spark, path, all)
      requireDataColumnPredicate(op, predicate, partCols)
      // SET VALUE expressions read partition columns as verbatim STRINGS
      // during the rewrite — `SET v = part_col * 2` would silently
      // mis-evaluate, the exact hazard the predicate guard exists for
      set.foreach { case (c, e) =>
        val overlap = refNames(e).intersect(partCols.toSet)
        require(overlap.isEmpty,
          s"$op: SET $c = ... reads partition column(s) ${overlap.mkString(",")} — " +
            "partition values are verbatim strings during the rewrite; data columns only")
      }
      val (hit, untouched) = hitFiles(op, path, all,
        spark.read.format(format).load(path).filter(predicate).select(col("_metadata.file_path")))
      if (hit.isEmpty) DeleteReport(0, 0, all.size, latestId, Nil)
      else {
        val landed = copyOnWrite(spark, fs, path, format, hit, namePrefix, targetFileBytes,
          stageDataDir(path, token))(rows)
        swapManifest(spark, fs, path, token, hit, landed, op)
        DeleteReport(hit.size, landed.size, untouched.size, latestId,
          hit.map(_.sparkPath.toPath.toString))
      }
    }
  }

  /** MERGE (upsert) into a live manifest-committed table — copy-on-write:
    * the classic "when matched update, when not matched insert" in one
    * atomic manifest swap.
    *
    *  - MATCHED rows (table ∩ source on `keyCols`) live in some set of
    *    files; ONLY those files rewrite. By default each matched row is
    *    replaced by its source row (whole-row replacement — source must
    *    carry the table's full schema). With `matchedSet` the merge is
    *    COLUMN-LEVEL: only the named columns change, every other column
    *    passes through — the `WHEN MATCHED THEN UPDATE SET c = expr`
    *    clause of SQL MERGE. SET expressions reference the two sides by
    *    alias: `t` is the table row, `s` the source row (the Delta
    *    `updateExpr` convention), e.g. `expr("t.cents + s.delta")`. A
    *    column-level source need only carry `keyCols` plus whatever its
    *    SET expressions read.
    *  - NOT-MATCHED source rows land as NEW files (an append, no
    *    rewrite) — requires the source to carry the full table schema.
    *    `insertNotMatched = false` skips them (an update-only merge, the
    *    natural pairing for a partial-column source).
    *  - `evolveSchema = true` (r17) lets a source with NEW columns
    *    EVOLVE the table through a whole-row merge: the new columns
    *    (add-only — a shared column changing TYPE is refused loudly)
    *    append to the rewritten and inserted files, matched rows take
    *    their source values, non-matched rows in rewritten files carry
    *    typed NULLs, and UNTOUCHED files keep their old schema verbatim
    *    — read the evolved table with `mergeSchema` (the
    *    schema_evolution gate's machinery), exactly like a mid-stream
    *    producer upgrade. Cost is unchanged: evolution rides the same
    *    copy-on-write rewrite, never an O(table) backfill; a later
    *    OPTIMIZE homogenizes the schema as a side effect of compaction.
    *    Whole-row merges only (the Delta updateAll/insertAll rule) —
    *    a column-level `matchedSet` with evolution is refused.
    *  - `deleteNotMatchedBySource = true` adds the third MERGE clause
    *    (`WHEN NOT MATCHED BY SOURCE DELETE`, r17 — full-sync CDC): table
    *    rows whose keys are ABSENT from the source are deleted in the
    *    SAME one-swap commit. Hit-file discovery gains an anti-join leg
    *    (files holding only source-absent rows must rewrite too — to
    *    nothing, like a full-match deleteWhere file), so a full sync is
    *    honestly O(files holding any row), i.e. usually the whole table:
    *    the cost of "make the table equal the source" is the table, and
    *    the gate/spec pin that rather than hide it.
    *  - Untouched files keep their manifest entries verbatim; the swap,
    *    repair, writer-resume and vacuum story are [[optimizeSink]]'s.
    *
    * Duplicate keys in `source` are refused loudly (a multi-match makes
    * "replace the row" ambiguous — same rule as SQL MERGE's
    * cardinality violation).
    *
    * SCALE: the source joins the table twice (hit-file discovery, and
    * the matched-file rewrite). Both joins broadcast the source ONLY
    * when its materialized size is ≤ `maxBroadcastBytes` (measured off
    * the persisted plan's stats — the source is cached and counted for
    * the cardinality check anyway); a large backfill source falls back
    * to a plain shuffle join instead of shipping 100 GB to every
    * executor. Hit-file pruning is unaffected — cost stays O(files
    * containing matched keys) + O(inserted bytes), never O(table).
    */
  def mergeInto(
      spark: SparkSession,
      path: String,
      source: DataFrame,
      keyCols: Seq[String],
      format: String = "parquet",
      targetFileBytes: Long = 128L * 1024 * 1024,
      maxBroadcastBytes: Long = 64L * 1024 * 1024,
      matchedSet: Option[Map[String, Column]] = None,
      insertNotMatched: Boolean = true,
      deleteNotMatchedBySource: Boolean = false,
      evolveSchema: Boolean = false
  ): DeleteReport = {
    require(keyCols.nonEmpty, "mergeInto: empty key column list")
    maintain(spark, path, "mergeInto") { case Held(fs, token, latestId, all, _) =>
      val partCols0 = tablePartCols(spark, path, all)
      require(!partCols0.exists(keyCols.contains),
        s"mergeInto: key columns overlap partition columns ${partCols0.mkString(",")} — " +
          "partition surgery is a move, not a merge")
      val table = spark.read.format(format).load(path)
      require(keyCols.forall(source.columns.contains) && keyCols.forall(table.columns.contains),
        s"mergeInto: key columns ${keyCols.mkString(",")} must exist on both sides")
      // add-only schema evolution: new source columns append; shared
      // columns must keep their types (a type CHANGE silently corrupting
      // old files' reads is the hazard evolution must refuse)
      val newCols: Seq[String] =
        if (evolveSchema) source.columns.toSeq.filterNot(table.columns.contains) else Nil
      matchedSet match {
        case None if evolveSchema =>
          require(table.columns.forall(source.columns.contains),
            s"mergeInto: schema evolution is ADD-ONLY — the source must still carry every " +
              s"existing column (missing: " +
              s"${table.columns.filterNot(source.columns.contains).mkString(",")})")
          table.columns.foreach { c =>
            val tt = table.schema(c).dataType
            val st = source.schema(c).dataType
            require(tt == st,
              s"mergeInto: schema evolution is ADD-ONLY — column $c changes type $tt -> $st; " +
                "evolve by adding columns, never by retyping (old files would misread)")
          }
        case None =>
          require(table.columns.sorted.sameElements(source.columns.sorted),
            s"mergeInto: source schema ${source.columns.sorted.mkString(",")} must match the " +
              s"table's ${table.columns.sorted.mkString(",")} (whole-row replacement; pass " +
              "evolveSchema = true to ADD the new columns)")
        case Some(set) =>
          require(!evolveSchema,
            "mergeInto: schema evolution applies to WHOLE-ROW merges (the updateAll/insertAll " +
              "shape) — drop matchedSet or drop evolveSchema")
          require(set.nonEmpty, "mergeInto: empty WHEN MATCHED UPDATE SET")
          set.keys.foreach { c =>
            require(table.columns.contains(c),
              s"mergeInto: SET column $c not in the table schema")
            require(!partCols0.contains(c),
              s"mergeInto: $c is a partition column — updating it is a move, not a merge")
            require(!keyCols.contains(c),
              s"mergeInto: SET column $c is a merge key — updating keys is ambiguous")
          }
          // same hazard as updateWhere's guard: partition values are
          // verbatim strings during the rewrite. TABLE-SIDE references
          // only — `s.<name>` reads the SOURCE and is always legitimate
          // even when the table partitions on the same name
          set.foreach { case (c, e) =>
            val overlap = tableSideRefNames(e).intersect(partCols0.toSet)
            require(overlap.isEmpty,
              s"mergeInto: SET $c = ... reads partition column(s) ${overlap.mkString(",")} — " +
                "partition values are verbatim strings during the rewrite; data columns only")
          }
          if (insertNotMatched) {
            require(table.columns.sorted.sameElements(source.columns.sorted),
              "mergeInto: WHEN NOT MATCHED inserts need the full table schema on the source " +
                s"(got ${source.columns.sorted.mkString(",")}); pass insertNotMatched = false " +
                "for an update-only merge over a partial-column source")
          }
      }
      val cols = (table.columns.toSeq ++ newCols).toIndexedSeq
      source.persist()
      // not-matched inserts append as new files — no rewrite, pure add
      val inserts =
        if (!insertNotMatched) spark.emptyDataFrame
        else source.join(table.select(keyCols.map(col): _*).distinct(), keyCols, "left_anti")
      val nIns = inserts.persist()
      val (hit, untouched, rewritten, inserted) = try {
        val dupKeys = source.groupBy(keyCols.map(col): _*)
          .count().filter(col("count") > 1).limit(1).collect()
        require(dupKeys.isEmpty,
          s"mergeInto: duplicate key in source (${dupKeys.headOption}) — ambiguous MERGE")

        import org.apache.spark.sql.functions.broadcast
        // the cardinality check above materialized the persisted source, so
        // its plan stats carry the real cached size — the broadcast gate
        // (a fresh QueryExecution picks up the cache substitution)
        val srcBytes = spark.sessionState
          .executePlan(source.queryExecution.logical).optimizedPlan.stats.sizeInBytes
        val useBroadcast = srcBytes <= BigInt(maxBroadcastBytes)
        def gated(df: DataFrame): DataFrame = if (useBroadcast) broadcast(df) else df

        val srcKeys = source.select(keyCols.map(col): _*)
        // the _metadata column must be projected BEFORE the join — it exists
        // only directly on the file-source relation
        val fileKeyed = table
          .select(col("_metadata.file_path").as("__graft_file") +: keyCols.map(col): _*)
        // NOT MATCHED BY SOURCE: files holding any source-ABSENT row must
        // rewrite too (their copies simply omit those rows) — the anti-join
        // leg of hit-file discovery
        val (hit, untouched) = hitFiles("mergeInto", path, all,
          fileKeyed.join(gated(srcKeys), keyCols).select(col("__graft_file")) +:
            Option.when(deleteNotMatchedBySource)(
              fileKeyed.join(gated(srcKeys), keyCols, "left_anti").select(col("__graft_file"))
            ).toSeq: _*)

        val inserted =
          if (!insertNotMatched || nIns.isEmpty) Nil
          else {
            // a PARTITIONED table's inserts must land inside their partition
            // dirs (a flat root file would corrupt partition discovery for
            // every reader), so the staging write partitions and the land
            // preserves the sub-path. Data columns cast to the table's types
            // like the rewritten rows below — a differently-typed source
            // would otherwise leave files whose schemas disagree, and the
            // column's type would depend on which file a reader samples;
            // partition values stay verbatim (they become dir names)
            val base = nIns.select(cols.map { c =>
              if (partCols0.contains(c) || !table.columns.contains(c)) col(c)
              else col(c).cast(table.schema(c).dataType).as(c)
            }: _*).coalesce(math.max(1, spark.sparkContext.defaultParallelism / 4))
            land(fs, path, stageDataDir(path, token), format, "graft-merge-ins") { stage =>
              val w =
                if (partCols0.isEmpty) base.write
                else base.write.partitionBy(partCols0: _*)
              w.mode(org.apache.spark.sql.SaveMode.Overwrite).format(format).save(stage)
            }
          }

        // matched files rewrite with source rows replacing their key-matches
        val rewritten =
          if (hit.isEmpty) Nil
          else copyOnWrite(spark, fs, path, format, hit, "graft-merge", targetFileBytes,
            stageDataDir(path, token)) {
            (df, _) =>
              // NOT MATCHED BY SOURCE DELETE keeps only matched rows of a
              // rewritten file (the survivors filter rides the SAME match
              // flag the replacement keys on)
              matchedSet match {
                case None =>
                  // schema evolution: the OLD files' frame gains the new
                  // columns as typed NULLs, so non-matched rows in a
                  // rewritten file read as legacy (null) exactly like rows
                  // in untouched files do under mergeSchema. Missing
                  // columns are computed against the ACTUAL hit-file frame
                  // (not the table's sampled schema): a later merge may
                  // rewrite legacy files of an already-evolved table, and
                  // a replayed merge reads already-evolved hit files —
                  // both land on the same result.
                  val dfE = cols.filterNot(df.columns.contains).foldLeft(df)((d, c) =>
                    d.withColumn(c, lit(null).cast(source.schema(c).dataType)))
                  val srcPrefixed = gated(
                    source.select(cols.map(c => col(c).as(s"__src_$c")) :+
                      lit(true).as("__src_matched"): _*))
                  val joinCond = keyCols
                    .map(k => dfE(k) === srcPrefixed(s"__src_$k"))
                    .reduce(_ && _)
                  // replacement keys on the MATCH FLAG, not value coalesce —
                  // a legitimately-NULL source value must land as NULL, not
                  // fall back to the old value
                  val joined = dfE.join(srcPrefixed, joinCond, "left")
                  val survivors =
                    if (deleteNotMatchedBySource) joined.filter(col("__src_matched").isNotNull)
                    else joined
                  survivors.select(cols.map { c =>
                    org.apache.spark.sql.functions
                      .when(col("__src_matched").isNotNull, col(s"__src_$c"))
                      .otherwise(col(c))
                      .cast(dfE.schema(c).dataType).as(c)
                  }: _*)
                case Some(set) =>
                  // column-level WHEN MATCHED UPDATE SET: the join exposes
                  // the table row as `t` and the source row as `s`; every
                  // SET expression (and the match test) evaluates against
                  // the OLD t-row — standard SQL UPDATE semantics
                  val srcS = gated(source.withColumn("__graft_matched", lit(true))).alias("s")
                  val joinCond = keyCols
                    .map(k => col(s"t.$k") === col(s"s.$k"))
                    .reduce(_ && _)
                  val joined = df.alias("t").join(srcS, joinCond, "left")
                  val survivors =
                    if (deleteNotMatchedBySource)
                      joined.filter(col("s.__graft_matched").isNotNull)
                    else joined
                  survivors.select(cols.map { c =>
                    set.get(c) match {
                      case Some(e) =>
                        org.apache.spark.sql.functions
                          .when(col("s.__graft_matched").isNotNull, e)
                          .otherwise(col(s"t.$c"))
                          .cast(df.schema(c).dataType).as(c)
                      case None => col(s"t.$c").as(c)
                    }
                  }: _*)
              }
          }
        (hit, untouched, rewritten, inserted)
      } finally {
        nIns.unpersist()
        source.unpersist(): Unit
      }

      swapManifest(spark, fs, path, token, hit, rewritten ++ inserted, "mergeInto")
      DeleteReport(hit.size, rewritten.size + inserted.size, untouched.size, latestId,
        hit.map(_.sparkPath.toPath.toString))
    }
  }

  /** Streaming UPSERT sink — CDC apply: every micro-batch MERGEs into the
    * live manifest table ([[mergeInto]]), so the table holds one row per
    * key with last-write-wins semantics, continuously.
    *
    * Exactly-once WITHOUT a ledger: Structured Streaming WALs offsets
    * before execution, so a replayed batch carries the SAME rows; and
    * re-merging an identical source is IDEMPOTENT by construction —
    * its former updates re-apply the same values, its former inserts now
    * match as updates to identical rows. A crash mid-merge leaves the
    * swap's stage/backup dirs; the next batch runs [[repairOptimize]]
    * first (deterministic roll forward/back) and then re-merges.
    *
    * The FIRST batch bootstraps the table: data files + a fresh sink log
    * listing them as batch 0 (manifest-atomic — readers see nothing
    * until the log exists).
    *
    * Each batch must be key-unique ([[mergeInto]]'s cardinality rule,
    * enforced from batch 0); CDC feeds with multiple changes per key per
    * batch should pre-collapse to the latest change (one window over the
    * batch — micro-batch-sized, not table-sized).
    *
    * LIMITATION: inside foreachBatch the stop-the-writer guard sees the
    * CLONED micro-batch session, whose query manager is empty — it
    * cannot detect another streaming sink in the OUTER session writing
    * this path. Like cross-session writers, that hazard is on the
    * operator: run at most one writer per table path.
    */
  def upsertSink(
      df: DataFrame,
      path: String,
      keyCols: Seq[String],
      checkpoint: String,
      format: String = "parquet",
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow()
  ): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val fs = fsFor(spark, path)
        healSwap(spark, fs, path)
        if (!fs.exists(metaDir(path))) {
          val dup = batch.groupBy(keyCols.map(col): _*)
            .count().filter(col("count") > 1).limit(1).collect()
          require(dup.isEmpty,
            s"upsertSink bootstrap: duplicate key in first batch (${dup.headOption}) — " +
              "the one-row-per-key invariant must hold from batch 0")
          // bootstrap: the first batch's files commit as the log's batch
          // 0 — the log's creation IS the publish point
          appendBatch(batch, path, 0L, format, "_graft_upsert_boot_", "graft-upsert",
            "upsertSink bootstrap"): Unit
        } else {
          mergeInto(spark, path, batch, keyCols, format): Unit
        }
      }
      .start()

  /** The one APPEND step of the foreachBatch sinks (the upsert
    * bootstrap, the compacting sink's batches): heal crashed maintenance
    * ([[healSwap]]), then — unless `batchId` is already committed (a
    * checkpoint replay: the exactly-once skip) — sweep this sink's own
    * crashed `<stagePrefix>*` dirs (invisible debris nothing else
    * sweeps), [[land]] the batch and commit it by `log.add`. Returns the
    * live log. */
  private[streaming] def appendBatch(
      batch: DataFrame,
      path: String,
      batchId: Long,
      format: String,
      stagePrefix: String,
      namePrefix: String,
      who: String
  ): FileStreamSinkLog = {
    val spark = batch.sparkSession
    val fs = fsFor(spark, path)
    healSwap(spark, fs, path)
    val log = sinkLog(spark, metaDir(path).toString)
    if (!log.getLatestBatchId().exists(_ >= batchId)) {
      sweepStageDirs(fs, path, stagePrefix)
      val uuid = newToken()
      val landed = land(fs, path, new Path(path, s"$stagePrefix$uuid"), format, namePrefix, uuid)(
        batch.write.mode(org.apache.spark.sql.SaveMode.Overwrite).format(format).save(_))
      require(log.add(batchId, landed.toArray), s"$who: manifest commit for batch $batchId failed")
    }
    log
  }

  /** Resolve interrupted maintenance — the one repair body, under
    * [[swapLock]]. With NO live manifest (a crash between a swap's two
    * renames): the stage carrying `_COMMITTED` — tokened or legacy
    * untokened; the newest marker if a dead op left an older one —
    * rolls FORWARD, its op's data dir and lock are released and the
    * backup archives; without a committed stage the backup is restored.
    * With a live manifest, the manifest wins: the legacy untokened
    * stage dirs and merge-insert stages are swept, a leftover backup
    * (crash between promotion and archive) archives into history.
    * Touches no other token's stage or lock. Returns what it did. */
  def repairOptimize(spark: SparkSession, path: String): String = repair(spark, path, None)

  /** TOKEN-targeted repair (r18): the same body, plus release of ONE
    * crashed op's stage dirs and lock — without touching any other
    * scoped op's, so compacting yesterday's partition dying never forces
    * a repair that destroys the re-cluster of last week's still in
    * flight. Call only after confirming the token's op is dead — a LIVE
    * op's token heals out from under it otherwise. */
  def repairOptimize(spark: SparkSession, path: String, token: String): String =
    repair(spark, path, Some(token))

  private def repair(
      spark: SparkSession, path: String, token: Option[String]): String =
    swapLock(path).synchronized {
      val fs = fsFor(spark, path)
      val who = s"repairOptimize($path${token.fold("")(t => s", $t")})"
      if (!fs.exists(new Path(path)))
        throw new IllegalStateException(s"$who: path does not exist — not a sink table")
      // the stage dirs this repair owns: the legacy untokened pair, and
      // the named token's
      val owned = "" +: token.toSeq
      token.foreach(t => require(
        Seq(stageMetaDir(path, t), stageDataDir(path, t), scopeMarker(path, t)).exists(fs.exists),
        s"$who: no stage dirs or scope lock for this token"))
      owned.foreach(t => fs.delete(stageDataDir(path, t), true))
      sweepStageDirs(fs, path, "_graft_merge_ins_")
      val stale = owned.map(stageMetaDir(path, _)).filter(fs.exists)
      val meta = metaDir(path)
      val bak = bakDir(path)
      val did =
        if (fs.exists(meta)) {
          // the live manifest wins: the owned stages are debris
          val archived = if (fs.exists(bak)) Some(archiveToHistory(spark, fs, path, bak)) else None
          fs.delete(marker(meta), false)
          if (archived.isDefined) touchMaintMarker(fs, path)
          val swept = stale.map(p => s", swept $p").mkString
          archived match {
            case Some(v)                 => s"rolled-back: archived backup as v$v$swept"
            case None if stale.nonEmpty  => s"rolled-back: ${swept.drop(2)}"
            case None if token.isDefined => "rolled-back: released scope lock"
            case None                    => "clean"
          }
        } else {
          val committed = fs.listStatus(new Path(path)).toSeq.map(_.getPath)
            .filter(p => p.getName.startsWith(StageMetaPrefix) && fs.exists(marker(p)))
          if (committed.nonEmpty) {
            val stage = committed.maxBy(p => fs.getFileStatus(marker(p)).getModificationTime)
            require(fs.rename(stage, meta), s"repairOptimize: promote $stage failed")
            fs.delete(marker(meta), false)
            if (fs.exists(bak)) archiveToHistory(spark, fs, path, bak): Unit
            touchMaintMarker(fs, path)
            // the promoted stage's op is over: release it
            tokenOf(stage.getName).filter(_.nonEmpty).foreach { t =>
              fs.delete(stageDataDir(path, t), true)
              fs.delete(scopeMarker(path, t), false)
            }
            "rolled-forward"
          } else if (fs.exists(bak)) {
            require(fs.rename(bak, meta), s"repairOptimize: restore $bak failed")
            "restored-backup"
          } else {
            throw new IllegalStateException(
              s"$who: no manifest, no committed stage, no backup — not a sink table")
          }
        }
      stale.foreach(fs.delete(_, true))
      token.foreach(t => fs.delete(scopeMarker(path, t), false))
      did
    }

  /** The table's archived manifest generations, oldest first — one entry
    * per swap ([[optimizeSink]]/[[deleteWhere]]/[[updateWhere]]/
    * [[mergeInto]]/[[restoreTable]] each push exactly one). */
  def listVersions(spark: SparkSession, path: String): Seq[HistoryVersion] = {
    val fs = fsFor(spark, path)
    versionDirs(fs, path).map { case (v, dir, mtime) =>
      HistoryVersion(v, versionEntries(spark, dir).map(_.size).getOrElse(-1), mtime)
    }
  }

  /** TIMESTAMP AS OF → version id (r18): the latest version whose
    * ARCHIVE instant (the mtime [[archiveToHistory]] stamps at the
    * swap) is at or before `tsMillis` — the spelling every lakehouse
    * user reaches for first ("the table as of yesterday 9am"), mapped
    * onto the version-id machinery RESTORE and the TVF already serve.
    * Refusals are loud in both failure directions: a timestamp before
    * the first archive has no answer, and NON-MONOTONIC archive
    * instants (clock skew across maintenance runs — wall clocks, not a
    * logical sequence, stamp the dirs) make "as of" ambiguous, so the
    * mapping refuses and points at explicit version ids rather than
    * guessing. */
  def versionAsOf(spark: SparkSession, path: String, tsMillis: Long): Long = {
    val fs = fsFor(spark, path)
    val vs = versionDirs(fs, path)
    require(vs.nonEmpty, s"versionAsOf($path): no archived history versions")
    val skew = vs.sliding(2).collectFirst {
      case Seq((v1, _, t1), (v2, _, t2)) if t2 < t1 => (v1, v2)
    }
    require(skew.isEmpty,
      s"versionAsOf($path): archive instants are non-monotonic (v${skew.map(_._2).getOrElse(0L)} " +
        s"stamped before v${skew.map(_._1).getOrElse(0L)}) — clock skew across maintenance " +
        "runs makes AS OF ambiguous; travel by explicit version id (GRAFT HISTORY lists them)")
    val hit = vs.filter(_._3 <= tsMillis)
    require(hit.nonEmpty,
      s"versionAsOf($path): no version archived at or before " +
        s"${new java.sql.Timestamp(tsMillis)} — earliest is v${vs.head._1} at " +
        s"${new java.sql.Timestamp(vs.head._3)}")
    hit.last._1
  }

  /** TIME-TRAVEL read of an archived version: the historical manifest's
    * file list, loaded directly (no swap, no mutation). Works only while
    * the version's files survive — i.e. until [[expireHistory]] releases
    * them to vacuum. */
  def readVersion(
      spark: SparkSession, path: String, version: Long, format: String = "parquet"
  ): DataFrame = {
    val fs = fsFor(spark, path)
    val dir = versionDirs(fs, path).collectFirst { case (v, d, _) if v == version => d }
      .getOrElse(throw new IllegalArgumentException(
        s"readVersion($path): no history version $version — see listVersions"))
    val entries = versionEntries(spark, dir).getOrElse(throw new IllegalStateException(
      s"readVersion($path): v$version is unreadable archived debris, not a manifest"))
    val paths = entries.map(_.sparkPath.toPath.toString)
    val missing = paths.filterNot(p => fs.exists(new Path(p)))
    require(missing.isEmpty,
      s"readVersion($path): v$version references ${missing.size} vacuumed file(s) " +
        s"(first: ${missing.headOption.getOrElse("")}) — the version is no longer readable")
    spark.read.format(format).option("basePath", path).load(paths: _*)
  }

  /** CHANGE FEED between two committed states (r18 — CDC *out*): the
    * rows inserted and deleted between version `vFrom` and `vTo` (an
    * archived version id, or the LIVE table when `None`), served from
    * the manifest diff that is already on disk. An update under
    * copy-on-write appears as delete(old image) + insert(new image);
    * rows a rewrite merely COPIED (survivors riding a COW file swap)
    * cancel in the row reconciliation and are never reported.
    *
    * Scale shape: the file-set diff is METADATA (driver, manifest
    * entries only); the row work reads ONLY the changed files and
    * reconciles with one `exceptAll` shuffle over them — O(churn),
    * never O(table). This is what lets a downstream consumer follow a
    * 100 TB table incrementally instead of re-snapshotting it.
    *
    * Refusals: unknown/expired `vFrom`/`vTo` (the diff needs both
    * manifests), and changed files already released by vacuum (the
    * span is no longer reconstructable). Add-only schema evolution
    * between the versions is aligned by name — columns missing on the
    * older side read as NULL on its images. */
  def tableChanges(
      spark: SparkSession,
      path: String,
      vFrom: Long,
      vTo: Option[Long] = None,
      format: String = "parquet"
  ): DataFrame = {
    val fs = fsFor(spark, path)
    vTo.foreach(t => require(vFrom <= t, s"tableChanges($path): v_from $vFrom > v_to $t"))
    def archPaths(v: Long): Set[String] = {
      val dir = versionDirs(fs, path).collectFirst { case (vv, d, _) if vv == v => d }
        .getOrElse(throw new IllegalArgumentException(
          s"tableChanges($path): no history version $v (archived: " +
            s"${versionDirs(fs, path).map(_._1).mkString(",")}) — an expired version " +
            "cannot serve a change feed"))
      versionEntries(spark, dir)
        .getOrElse(throw new IllegalStateException(
          s"tableChanges($path): v$v is unreadable archived debris, not a manifest"))
        .map(_.sparkPath.toPath.toString).toSet
    }
    val fromPaths = archPaths(vFrom)
    val toPaths = vTo match {
      case Some(t) => archPaths(t)
      case None =>
        sinkLog(spark, metaDir(path).toString).allFiles().toSeq
          .map(_.sparkPath.toPath.toString).toSet
    }
    val removed = (fromPaths -- toPaths).toSeq.sorted
    val added = (toPaths -- fromPaths).toSeq.sorted
    val missing = (removed ++ added).filterNot(p => fs.exists(new Path(p)))
    require(missing.isEmpty,
      s"tableChanges($path): ${missing.size} changed file(s) already vacuumed " +
        s"(first: ${missing.headOption.getOrElse("")}) — the span is no longer " +
        "reconstructable; expire less history or consume the feed sooner")
    def side(paths: Seq[String]): Option[DataFrame] =
      if (paths.isEmpty) None
      else Some(spark.read.format(format).option("basePath", path).load(paths: _*))
    val delOpt = side(removed)
    val insOpt = side(added)
    // align by NAME to the newer side's schema plus any older-only
    // columns (add-only evolution: the newer side is the superset; the
    // general spelling also tolerates a column dropped in between)
    val target: org.apache.spark.sql.types.StructType = (delOpt, insOpt) match {
      case (Some(d), Some(i)) =>
        org.apache.spark.sql.types.StructType(
          i.schema.fields ++ d.schema.fields.filterNot(f => i.columns.contains(f.name)))
      case (Some(d), None) => d.schema
      case (None, Some(i)) => i.schema
      case (None, None)    => spark.read.format(format).load(path).schema
    }
    def aligned(o: Option[DataFrame]): DataFrame = o match {
      case Some(df) => df.select(target.fields.toSeq.map(f =>
        if (df.columns.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)): _*)
      case None =>
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), target)
    }
    val del = aligned(delOpt)
    val ins = aligned(insOpt)
    ins.exceptAll(del).withColumn("_change_type", lit("insert"))
      .unionByName(del.exceptAll(ins).withColumn("_change_type", lit("delete")))
  }

  final case class RestoreReport(
      restoredVersion: Long,
      restoredFiles: Int,
      archivedCurrentAs: Long,
      latestBatchId: Long)

  /** RESTORE the table to an archived version — `GRAFT RESTORE ... TO
    * VERSION n`. The historical manifest's entries swap in under the
    * same staged-manifest protocol as every other mutation (crash repair
    * included), with the writer's CURRENT latest batch id preserved, so
    * a checkpointed writer resumes exactly-once over the restored state.
    * The outgoing (pre-restore) manifest archives as a NEW version —
    * restore is itself undoable, never destructive.
    *
    * Requires every file the target version references to still exist:
    * vacuum protects history-referenced files by construction, so a
    * restore can only be refused after [[expireHistory]] released the
    * version's files — and then it refuses LOUDLY, file named. */
  def restoreTable(
      spark: SparkSession, path: String, version: Long, format: String = "parquet"
  ): RestoreReport = {
    maintain(spark, path, "restoreTable") { case Held(fs, token, latestId, all, _) =>
      val dir = versionDirs(fs, path).collectFirst { case (v, d, _) if v == version => d }
        .getOrElse(throw new IllegalArgumentException(
          s"restoreTable($path): no history version $version — see listVersions"))
      val entries = versionEntries(spark, dir).getOrElse(throw new IllegalStateException(
        s"restoreTable($path): v$version is unreadable archived debris, not a manifest"))
      val missing = entries
        .map(_.sparkPath.toPath.toString)
        .filterNot(p => fs.exists(new Path(p)))
      require(missing.isEmpty,
        s"restoreTable($path): v$version references ${missing.size} vacuumed file(s) " +
          s"(first: ${missing.headOption.getOrElse("")}) — expireHistory released them; " +
          "the version is unrestorable")
      swapManifest(spark, fs, path, token, all, entries, "restoreTable")
      RestoreReport(version, entries.size, versionDirs(fs, path).last._1, latestId)
    }
  }

  /** Drop all but the newest `keep` history versions, releasing the
    * files ONLY they referenced to the graced vacuum. This is the
    * storage-reclaim half of the history contract: swaps are O(1)
    * renames and history manifests are metadata-scale, but the RETIRED
    * DATA FILES history protects are table-scale — an unexpired history
    * pins every generation's bytes forever. Run it on the vacuum
    * cadence once the restore window (e.g. "1 day of generations") has
    * passed. Touches the maintenance marker, so released files get the
    * full vacuum grace from the EXPIRY instant, not their write time.
    * Returns the expired version numbers. */
  def expireHistory(spark: SparkSession, path: String, keep: Int): Seq[Long] = {
    require(keep >= 0, s"expireHistory: keep=$keep")
    val fs = fsFor(spark, path)
    val vs = versionDirs(fs, path)
    expireVersions(spark, fs, path, if (keep == 0) vs else vs.dropRight(keep))
  }

  /** AGE-based history expiry — the default retention policy
    * [[StreamSinks.vacuum]] applies each sweep (r17, conf
    * `spark.graft.history.retainMs`, default 7 days): without it, a
    * frequently mutated table pins every retired generation's data
    * bytes FOREVER unless an operator remembers `GRAFT EXPIRE HISTORY`
    * — table-scale unbounded growth as a silent default. Age is the
    * version dir's mtime, stamped at ARCHIVE time. */
  def expireHistoryOlderThan(spark: SparkSession, path: String, maxAgeMs: Long): Seq[Long] = {
    require(maxAgeMs >= 0, s"expireHistoryOlderThan: maxAgeMs=$maxAgeMs")
    val fs = fsFor(spark, path)
    if (versionDirs(fs, path).isEmpty) return Nil
    // pre-r17 archives kept the retired manifest's old mtime — migrate
    // before trusting ages, and expire nothing on the migrating sweep
    if (!ensureStamped(fs, path)) return Nil
    val cutoff = System.currentTimeMillis() - maxAgeMs
    expireVersions(spark, fs, path, versionDirs(fs, path).filter(_._3 <= cutoff))
  }

  /** Read-only twin of [[expireHistoryOlderThan]] for dry-run sweeps
    * (r18): reports which versions a real sweep WOULD expire, deleting
    * nothing, rewriting no snapshot, touching no marker. An unstamped
    * (pre-migration) history reports none — the real sweep's first act
    * would be the mtime migration, after which nothing is past any
    * window. */
  def historyVersionsOlderThan(
      spark: SparkSession, path: String, maxAgeMs: Long): Seq[Long] = {
    require(maxAgeMs >= 0, s"historyVersionsOlderThan: maxAgeMs=$maxAgeMs")
    val fs = fsFor(spark, path)
    val vs = versionDirs(fs, path)
    if (vs.isEmpty || !fs.exists(stampEpochMarker(path))) Nil
    else {
      val cutoff = System.currentTimeMillis() - maxAgeMs
      vs.filter(_._3 <= cutoff).map(_._1)
    }
  }

  private def expireVersions(
      spark: SparkSession, fs: FileSystem, path: String,
      expire: Seq[(Long, Path, Long)]): Seq[Long] = {
    expire.foreach { case (_, dir, _) => fs.delete(dir, true) }
    if (expire.nonEmpty) {
      // recompute the protection snapshot from the SURVIVING versions
      // (after the deletes: a crash between leaves the snapshot
      // over-protecting, the safe direction); a transiently unreadable
      // survivor drops the snapshot instead of persisting a partial set
      rewriteOrDropProtected(spark, fs, path, Set.empty)
      touchMaintMarker(fs, path)
    }
    expire.map(_._1)
  }

  /** What history currently PINS (r17 — the growth-visibility half of
    * the retention contract): how many versions are retained, and how
    * many files/bytes they protect beyond the live committed set —
    * i.e. storage reclaimable only through expiry. */
  final case class HistoryPinReport(versions: Int, pinnedFiles: Int, pinnedBytes: Long)

  def historyPinReport(spark: SparkSession, path: String, format: String = "parquet")
  : HistoryPinReport = {
    val fs = fsFor(spark, path)
    val live = StreamSinks.committedFiles(spark, path, format)
      .map(u => Path.getPathWithoutSchemeAndAuthority(new Path(u)).toString)
      .toSet
    val pinned = (historyProtectedFiles(spark, path) -- live).toSeq
    val bytes = pinned.map { p =>
      val hp = new Path(p)
      if (fs.exists(hp)) fs.getFileStatus(hp).getLen else 0L
    }.sum
    HistoryPinReport(versionDirs(fs, path).size, pinned.size, bytes)
  }
}
