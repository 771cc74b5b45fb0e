package graft.streaming

import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.DedupClusters

/** The epoch-partitioned maintenance stores and the one loop that drives
  * them ([[CorpusMaintenance]]'s docs/hashes/shingles,
  * [[SemanticMaintenance]]'s vecs/keys). [[Loop]] is everything the two
  * loops share — the epoch commit ([[Loop.commitEpoch]]: stage →
  * re-fence → pointer re-check → promote → `_CURRENT_MAP` flip), the
  * pointer-consistent snapshot, time travel, views, compaction,
  * retention and the foreachBatch sink with its [[maybeCompact]]
  * policy; each loop supplies only its stores, `_PARAMS`, admission
  * step, stage writers and pair generator. Below it: pointer files, the
  * committed read view, persisted index parameters, the writer fence,
  * and EPOCH COMPACTION — the fold that keeps a long-running
  * loop's committed listing at O(1) directories instead of one `epoch=N`
  * dir per ingest forever (the engine's answer to the reference's
  * file-per-checkpoint growth, `RowOrcBucketingSink.java:157-164`, where
  * every checkpoint closes a new file per bucket with nothing ever folding
  * them back together).
  *
  * Layout under `stateDir` (all plain parquet):
  *   <store>/epoch=N/       rows landed by ingest epoch N (Hive layout)
  *   <store>_base_v<B>/     compacted base GENERATION: the union of all
  *                          rows of epochs 1..B, written blue/green — a
  *                          later compaction writes `_base_v<B'>` beside
  *                          it and the old generation is retired by the
  *                          same mtime-graced sweep as cluster maps
  *   <store>_minor_<a>_<b>/ MINOR generation (tiered compaction): the
  *                          fold of loose epochs a..b only — O(tail)
  *                          cost, see [[minorFold]]
  *   _CURRENT_MAP           live ingest epoch / cluster-map version
  *   _BASE_EPOCH            compacted-through pointer B (absent = 0)
  *   _MINOR_FOLDS           committed minor ranges, "a-b" per line
  *   _PARAMS                index parameters pinned at bootstrap
  *   _WRITER_LEASE          writer fence: holder id + heartbeat mtime
  *                          (see [[fence]])
  *
  * Committed view of a store = `<store>_base_v<B>` ∪ live minor
  * generations ∪ loose `epoch=N` for B < N ≤ pointer not covered by a
  * minor. All pointers flip through the same temp-file + atomic-rename
  * protocol, so both compaction tiers inherit the loops' crash contract
  * verbatim: staged `_base_v<B>` / `_minor_a_b` directories are
  * invisible until their single pointer flip (`_BASE_EPOCH` resp. the
  * `_MINOR_FOLDS` rewrite); a crash anywhere before it leaves the old
  * listing live and the staged generations inert (a rerun overwrites
  * them); after it, the superseded `epoch=N` dirs, covered epochs,
  * dead minors, and older base generations are reclaimed by
  * [[retireCompacted]] behind the usual mtime grace window.
  *
  * Single-writer: compaction, like ingest itself, assumes one maintainer
  * per state dir (run it from the same loop, between batches) — and the
  * assumption is ENFORCED, not just documented: every mutator passes
  * [[fence]] first, so a second concurrent maintainer rejects loudly and
  * a crashed writer's lease is taken over after a grace window. Readers
  * are never blocked — they resolve both pointers at scan planning and
  * read only committed directories.
  */
object EpochStore {

  private[streaming] def epochDir(base: String, v: Int) = s"$base/epoch=$v"
  private[streaming] def baseGenDir(stateDir: String, store: String, b: Int) =
    s"$stateDir/${store}_base_v$b"
  private[graft] def minorGenDir(stateDir: String, store: String, a: Int, b: Int) =
    s"$stateDir/${store}_minor_${a}_$b"
  private[streaming] def mainPointerPath(stateDir: String) = s"$stateDir/_CURRENT_MAP"
  private[streaming] def basePointerPath(stateDir: String) = s"$stateDir/_BASE_EPOCH"
  private[graft] def minorFoldsPath(stateDir: String) = s"$stateDir/_MINOR_FOLDS"
  private def paramsPath(stateDir: String) = s"$stateDir/_PARAMS"
  private[streaming] def leasePath(stateDir: String) = s"$stateDir/_WRITER_LEASE"

  /** How long a writer's lease outlives its last heartbeat before another
    * maintainer may take the state dir over (a crashed writer leaves its
    * lease behind forever; a live loop refreshes it on every mutation). */
  val DefaultLeaseGraceMs: Long = 10 * 60 * 1000L

  /** Thrown by [[committed]] when the requested epoch ceiling is below
    * the compacted base / a live minor fold. For a HEALTHY store this is
    * the signature of a stale pointer resolve racing a compaction —
    * which `snapshot` retries with a fresh pointer — whereas every other
    * failure of the committed view (bootstrap absent, an epoch dir
    * externally deleted) is real corruption that must surface
    * immediately, not be retried five times. Subclasses
    * IllegalArgumentException so callers treating it as a plain require
    * failure are unaffected. */
  final class StaleViewException(msg: String) extends IllegalArgumentException(msg)

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Read a one-line int pointer file; 0 if absent. */
  private[streaming] def readIntPointer(spark: SparkSession, path: String): Int =
    readSmallFile(spark, path).fold(0)(_.trim.toInt)

  /** Temp file + rename(OVERWRITE) through FileContext: atomic on local
    * and HDFS, never observable half-written. The temp name is
    * per-call-unique so two writers racing the same pointer (possible
    * only during a fence takeover race, where exactly one will win the
    * CAS) can never rename each other's temp out from underneath — the
    * loser's leftover `<name>.tmp.*` is inert (underscore/pointer-named,
    * ignored by every reader). */
  private[graft] def writeAtomic(spark: SparkSession, path: String, body: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = new Path(path)
    val tmp = new Path(path + ".tmp." + java.util.UUID.randomUUID().toString.take(8))
    val fs = dst.getFileSystem(conf)
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    FileContext.getFileContext(dst.toUri, conf).rename(tmp, dst, Options.Rename.OVERWRITE)
  }

  /** The body of a small state file (pointer, lease, params), None when
    * absent. */
  private[graft] def readSmallFile(spark: SparkSession, path: String): Option[String] = {
    val p = new Path(path)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString) finally in.close()
    }
  }

  private def deleteIfExists(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = fsOf(spark, p)
    if (fs.exists(p)) fs.delete(p, false)
    ()
  }

  /** Parse a lease body into (holderId, generation). A pre-generation
    * lease file (single line, written by an older build) parses as
    * generation 0 — the first takeover bumps it to 1. */
  private def parseLease(body: String): (String, Long) = {
    val lines = body.split("\n").map(_.trim).filter(_.nonEmpty)
    (lines.headOption.getOrElse(""), if (lines.length > 1) lines(1).toLong else 0L)
  }

  /** Current lease generation, 0 when no lease file exists. Mutators that
    * cannot call [[fence]] at their own entry (their caller already did)
    * observe this at entry and hand it to the commit-point [[refence]]. */
  private[streaming] def leaseGen(spark: SparkSession, stateDir: String): Long =
    readSmallFile(spark, leasePath(stateDir)).fold(0L)(parseLease(_)._2)

  /** WRITER FENCING for a maintenance state dir: assert this writer may
    * mutate it, then write/refresh the lease (`_WRITER_LEASE` — writer id
    * on line 1, lease GENERATION on line 2, last heartbeat as mtime;
    * every mutation of a live loop re-acquires, so the heartbeat rides
    * the ingest cadence for free). Returns the generation now held — the
    * token the commit-point [[refence]] must match.
    *
    * A DIFFERENT writer holding a lease younger than `graceMs` means two
    * maintainers are pointed at one state dir — the second REJECTS loudly
    * here instead of interleaving pointer flips and corrupting the store
    * (the reference gets this isolation for free from Flink's
    * subtask-indexed filenames, RowOrcBucketingSink.java:125; a
    * shared-state-dir loop does not). A lease older than the grace window
    * is a crashed writer's: takeover proceeds through [[casTakeover]] —
    * an atomic `create(overwrite=false)` on a generation-numbered claim
    * file, so two acquirers racing for the same takeover deterministically
    * get ONE winner (the loser throws), and the lease generation bumps so
    * any still-running mutation of the previous holder fails its
    * commit-point [[refence]] even if this winner later crashes too.
    *
    * Lease age compares this writer's clock against the FILESYSTEM's
    * mtime (HDFS: namenode clock), so cross-machine writer clock skew
    * should be budgeted into `graceMs` — the 10-minute default dwarfs
    * NTP-managed skew. */
  private[streaming] def fence(
      spark: SparkSession,
      stateDir: String,
      writerId: Option[String] = None,
      graceMs: Long = DefaultLeaseGraceMs
  ): Long = {
    val id = writerId.getOrElse(spark.sparkContext.applicationId)
    val p = new Path(leasePath(stateDir))
    readSmallFile(spark, leasePath(stateDir)).map(parseLease) match {
      case Some((held, gen)) if held == id =>
        // heartbeat refresh — same holder keeps its generation
        writeAtomic(spark, leasePath(stateDir), s"$id\n$gen")
        gen
      case Some((held, gen)) =>
        val age = System.currentTimeMillis() - fsOf(spark, p).getFileStatus(p).getModificationTime
        if (age <= graceMs)
          throw new IllegalStateException(
            s"maintenance state at $stateDir is leased to writer '$held' " +
              s"(heartbeat ${age / 1000}s ago, grace ${graceMs / 1000}s): a second concurrent " +
              s"maintainer '$id' would interleave pointer flips and corrupt the store — " +
              "stop the other loop, or wait out the grace window for a crashed writer")
        casTakeover(spark, stateDir, id, expectedGen = gen, graceMs)
      case None => casTakeover(spark, stateDir, id, expectedGen = 0L, graceMs)
    }
  }

  /** Compare-and-swap lease takeover. The acquire itself is made atomic
    * by `FileSystem.create(overwrite = false)` on a claim file numbered
    * with the TARGET generation (atomic on HDFS and local FS): of two
    * writers racing to take over the same observed generation, exactly
    * one creates the claim — the other throws. The winner then re-reads
    * the lease before advancing it (a racer that already won AND released
    * its claim shows up as an advanced generation, not a live claim) and
    * finally drops the claim.
    *
    * A crashed claimant's claim — created but the lease never advanced —
    * is never DELETED for reclamation (delete-then-create is its own
    * TOCTOU: two acquirers both observe the aged claim, one deletes it
    * and creates afresh, the other's delete removes the FRESH claim and
    * its own create succeeds — two winners). Instead the generation is
    * SKIPPED: the acquirer probes upward past every stale claim to the
    * first unclaimed generation, so the atomic exclusive create stays
    * the single serialization point and stale claims are inert debris
    * (GC'd by the eventual winner AFTER its lease write, when any racer
    * that could still create a lower-numbered claim is already doomed
    * by the post-create lease re-verify). Generations stay strictly
    * monotone — skipping numbers is harmless; [[refence]] matches on
    * equality, never arithmetic. A LIVE claim (younger than grace)
    * still rejects loudly; a live claimant advances the lease within
    * one round trip, never minutes. */
  private def casTakeover(
      spark: SparkSession,
      stateDir: String,
      id: String,
      expectedGen: Long,
      graceMs: Long
  ): Long = {
    val fs = fsOf(spark, new Path(leasePath(stateDir)))
    // Probe upward past stale claims to the first unclaimed generation.
    // Bounded: claims only accumulate one per crashed takeover.
    var newGen = expectedGen + 1
    var probing = true
    while (probing) {
      val c = new Path(s"${leasePath(stateDir)}.claim.$newGen")
      if (!fs.exists(c)) probing = false
      else {
        val age = System.currentTimeMillis() - fs.getFileStatus(c).getModificationTime
        if (graceMs > 0 && age <= graceMs)
          throw new IllegalStateException(
            s"maintenance state at $stateDir: takeover of lease generation $expectedGen is " +
              s"already claimed by a racing writer ($c is ${age / 1000}s old) — writer '$id' " +
              "loses the race deterministically; retry after the winner's heartbeat or its " +
              "claim ages out")
        newGen += 1 // stale claim: crashed claimant — skip its generation
      }
    }
    val claim = new Path(s"${leasePath(stateDir)}.claim.$newGen")
    // The exclusive create must be ATOMIC, or two racers both pass: on
    // HDFS `create(overwrite=false)` is a single namenode op, but the
    // Hadoop LOCAL filesystem implements it as exists()-then-open — a
    // TOCTOU window a real thread race walks straight through (this
    // spec-discovered race is pinned in CasLeaseSpec). For file:// the
    // O_CREAT|O_EXCL guarantee comes from java.nio Files.createFile.
    val created =
      try {
        if (fs.getScheme == "file") {
          val f = new java.io.File(claim.toUri.getPath)
          Option(f.getParentFile).foreach(_.mkdirs())
          java.nio.file.Files.createFile(f.toPath)
          java.nio.file.Files.write(f.toPath, id.getBytes("UTF-8"))
          true
        } else {
          val out = fs.create(claim, false)
          try out.write(id.getBytes("UTF-8")) finally out.close()
          true
        }
      } catch { case _: java.io.IOException => false }
    if (!created)
      throw new IllegalStateException(
        s"maintenance state at $stateDir: takeover of lease generation $expectedGen is " +
          s"already claimed by a racing writer ($claim exists) — writer '$id' loses the race " +
          "deterministically; retry after the winner's heartbeat or its claim ages out")
    try {
      readSmallFile(spark, leasePath(stateDir)).map(parseLease).foreach {
        case (heldNow, genNow) =>
          if (genNow != expectedGen)
            throw new IllegalStateException(
              s"maintenance state at $stateDir: lease advanced to generation $genNow " +
                s"(holder '$heldNow') while writer '$id' raced to claim ${newGen} — takeover lost")
      }
      writeAtomic(spark, leasePath(stateDir), s"$id\n$newGen")
      // Post-win GC of skipped stale claims: safe only NOW — any racer
      // that could still create one of these lower-numbered claims read
      // the lease at expectedGen and its post-create re-verify (above)
      // will see the advanced generation and abort.
      ((expectedGen + 1) until newGen).foreach { g =>
        fs.delete(new Path(s"${leasePath(stateDir)}.claim.$g"), false)
      }
      newGen
    } finally { fs.delete(claim, false); () }
  }

  /** Commit-point RE-FENCE: assert this writer STILL holds the lease at
    * the very generation it entered with, then refresh the heartbeat.
    * Unlike [[fence]], this NEVER takes over — a stale foreign lease here
    * means this writer lost the store mid-mutation to a successor that
    * may have committed epochs, and "the successor has since crashed or
    * gone idle" does not make committing entry-time values safe: the
    * promote would delete the successor's committed generations and the
    * pointer writes would move `_CURRENT_MAP`/`_BASE_EPOCH` BACKWARDS
    * past its commits — exactly the regression the fence exists to
    * prevent. The generation match additionally rejects the same-id ABA
    * (this writer's own restart re-acquired the store while an old stuck
    * mutation was still in flight). */
  private[streaming] def refence(
      spark: SparkSession,
      stateDir: String,
      writerId: Option[String],
      entryGen: Long
  ): Unit = {
    val id = writerId.getOrElse(spark.sparkContext.applicationId)
    val (held, gen) = parseLease(readSmallFile(spark, leasePath(stateDir)).getOrElse(
      throw new IllegalStateException(
        s"maintenance state at $stateDir: lease vanished before the commit point — writer " +
          s"'$id' cannot prove it still owns the store; aborting with its staging left inert")))
    if (held != id)
      throw new IllegalStateException(
        s"maintenance state at $stateDir is leased to writer '$held' but '$id' reached its " +
          "commit point — the store was taken over mid-mutation, and the commit-point " +
          "re-fence never takes over (committing entry-time pointers would regress past " +
          "the successor's commits); this writer's staging stays inert")
    if (gen != entryGen)
      throw new IllegalStateException(
        s"maintenance state at $stateDir: writer '$id' entered at lease generation $entryGen " +
          s"but the lease is now at generation $gen — the store was taken over (and " +
          "re-acquired) mid-mutation; committing entry-time pointers would regress past the " +
          "intervening commits, so this mutation aborts with its staging inert")
    writeAtomic(spark, leasePath(stateDir), s"$id\n$gen")
  }

  /** Writer-unique staging path for a final directory: mutators write
    * their output HERE, and only [[promoteStaged]] — which runs strictly
    * AFTER the commit-point re-[[fence]] — moves it into place. Writing
    * directly to the final path would let a writer that lost its lease
    * mid-batch clobber the successor's committed data with its Overwrite
    * staging writes long before any pointer check runs (both writers
    * compute the same `next` from the same pointer). Staging lives in a
    * hidden `.staging_<writer>` dir at the state root — NEVER inside a
    * store dir, where a non-numeric `epoch=N…` sibling would corrupt the
    * Hive partition discovery the pre-compaction read path uses (leading
    * dot also keeps every Spark file index ignoring it). */
  private[streaming] def stagePath(stateDir: String, finalPath: String, writerId: String): String = {
    val rel = finalPath.stripPrefix(stateDir).stripPrefix("/").replaceAll("[/=]", "_")
    s"$stateDir/.staging_${writerId.replaceAll("[^A-Za-z0-9_-]", "_")}/$rel"
  }

  /** THE commit sequence every mutation of a state dir ends with (epoch
    * ingest/bootstrap, major and minor folds): `stage` fills
    * writer-unique staging paths for `finals` (in order); then, at the
    * commit point, the generation-matched [[refence]] (never takes over:
    * a batch or fold slow enough to outlive the lease grace may have been
    * legitimately taken over, and must fail here with its staging inert
    * rather than overwrite the successor's identically-numbered
    * commits — even if that successor has since crashed), `recheck`
    * (the pointers are still as read at entry: the one hole the lease
    * cannot see, a concurrent SAME-ID mutation sharing this generation),
    * [[promoteStaged]], and `flip`, the single pointer write that makes
    * the promoted dirs visible. Returns what `stage` returns. */
  private def stagedCommit[A](spark: SparkSession, stateDir: String, writerId: Option[String],
      entryGen: Long, finals: Seq[String], recheck: () => Unit, flip: () => Unit)(
      stage: Seq[String] => A): A = {
    val wid = writerId.getOrElse(spark.sparkContext.applicationId)
    val pairs = finals.map(dst => stagePath(stateDir, dst, wid) -> dst)
    val out = stage(pairs.map(_._1))
    refence(spark, stateDir, writerId, entryGen)
    recheck()
    promoteStaged(spark, pairs)
    flip()
    out
  }

  /** Move writer-unique staged dirs into their final paths. The caller
    * must have passed [[fence]] immediately before: once the fence says
    * this writer still owns the store, any pre-existing final dir is a
    * prior crashed attempt's debris (nothing above the committed
    * pointers is referenced), so delete + rename is safe — and a writer
    * that lost the store throws at the fence with its staging left
    * inert. A crash between renames leaves a mix of staged and final
    * dirs, all invisible until the pointer flip; replay re-stages and
    * re-promotes over both. */
  private[streaming] def promoteStaged(
      spark: SparkSession, pairs: Seq[(String, String)]): Unit =
    pairs.foreach { case (tmp, dst) =>
      val t = new Path(tmp)
      val d = new Path(dst)
      val fs = fsOf(spark, t)
      require(fs.exists(t), s"staged dir $tmp missing at promote — staging did not run?")
      if (fs.exists(d)) fs.delete(d, true)
      require(fs.rename(t, d), s"promote rename $tmp -> $dst failed")
    }

  /** Drop this writer's lease (clean shutdown of a maintenance loop).
    * No-op when absent or held by someone else — releasing must never
    * fence-break a successor that already took over. */
  def releaseLease(spark: SparkSession, stateDir: String, writerId: Option[String] = None): Unit = {
    val id = writerId.getOrElse(spark.sparkContext.applicationId)
    if (readSmallFile(spark, leasePath(stateDir)).exists(parseLease(_)._1 == id))
      deleteIfExists(spark, leasePath(stateDir))
  }

  /** Compacted-through epoch B; 0 if this state was never compacted.
    * The `_BASE_EPOCH` body is `"<B> <commitTimeMs>"` — the timestamp is
    * what [[retireCompacted]] gates base-superseded victims on (see the
    * starvation note there); a pre-timestamp file (bare int) parses fine
    * and falls back to file mtime for the commit time. */
  def baseEpoch(spark: SparkSession, stateDir: String): Int =
    readSmallFile(spark, basePointerPath(stateDir)).fold(0)(_.trim.split("\\s+")(0).toInt)

  /** When the live base generation committed (its `_BASE_EPOCH` flip);
    * 0 when never compacted. Falls back to the pointer file's mtime for
    * pre-timestamp files. */
  private[streaming] def baseCommitTime(spark: SparkSession, stateDir: String): Long = {
    val p = new Path(basePointerPath(stateDir))
    readSmallFile(spark, p.toString).fold(0L) { body =>
      val toks = body.trim.split("\\s+")
      if (toks.length > 1) toks(1).toLong else fsOf(spark, p).getFileStatus(p).getModificationTime
    }
  }

  /** Remove the base + minor-fold pointers — called by the loops'
    * `bootstrap` so re-bootstrapping a previously-compacted state dir
    * restarts from scratch (pre-compaction semantics: stale epochs > 1
    * are staged-invisible debris; a stale base/minor pointer would
    * instead make every committed read resolve through dead
    * generations). Old `<store>_base_v*` / `<store>_minor_*` dirs become
    * inert debris the next fold overwrites or supersedes. */
  private[streaming] def clearBasePointer(spark: SparkSession, stateDir: String): Unit =
    Seq(basePointerPath(stateDir), minorFoldsPath(stateDir)).foreach(deleteIfExists(spark, _))

  /** Committed minor folds LIVE above the base epoch `b`: parsed from
    * `_MINOR_FOLDS` ("a-b ts" per line, ts = that range's commit time —
    * what [[retireCompacted]] gates its covered-epoch victims on),
    * entries fully covered by the base generation filtered out (a major
    * fold supersedes them; the file is pruned cosmetically by
    * [[retireCompacted]], but the read path never depends on that).
    * Ranges are disjoint and ascending by construction — [[minorFold]]
    * always folds from the first uncovered epoch. Pre-timestamp lines
    * (bare "a-b") fall back to the file's mtime. */
  private[graft] def minorFolds(spark: SparkSession, stateDir: String): Seq[(Int, Int)] =
    minorFoldsWithTs(spark, stateDir).map { case (a, b, _) => (a, b) }

  private[streaming] def minorFoldsWithTs(
      spark: SparkSession, stateDir: String): Seq[(Int, Int, Long)] = {
    val p = new Path(minorFoldsPath(stateDir))
    readSmallFile(spark, p.toString).fold(Seq.empty[(Int, Int, Long)]) { body =>
      val mtime = fsOf(spark, p).getFileStatus(p).getModificationTime
      val b = baseEpoch(spark, stateDir)
      body.split("\n").toSeq
        .map(_.trim).filter(_.nonEmpty)
        .map { line =>
          val toks = line.split("\\s+")
          val i = toks(0).indexOf('-')
          val ts = if (toks.length > 1) toks(1).toLong else mtime
          (toks(0).substring(0, i).toInt, toks(0).substring(i + 1).toInt, ts)
        }
        .filter { case (a, bb, _) => require(a <= bb, s"corrupt minor range $a-$bb"); bb > b }
        .sortBy { case (a, bb, _) => (a, bb) }
    }
  }

  private def writeMinorFolds(
      spark: SparkSession, stateDir: String, ranges: Seq[(Int, Int, Long)]): Unit =
    writeAtomic(spark, minorFoldsPath(stateDir),
      ranges.map { case (a, b, ts) => s"$a-$b $ts" }.mkString("\n"))

  /** MINOR fold (tiered compaction, L0→L1): fold the loose committed
    * epoch tail `from..upTo` of each store into one
    * `<store>_minor_<from>_<upTo>` generation — cost O(tail), NOT
    * O(corpus) like the major [[compact]], so a long-running loop can
    * keep its committed listing bounded without re-writing the whole
    * base every few batches. The committed view is identical before and
    * after. Crash contract inherited verbatim: the staged minor dirs are
    * invisible until the single `_MINOR_FOLDS` rewrite (atomic rename);
    * a crash before it leaves the loose epochs live and the staged dirs
    * inert debris a rerun overwrites.
    *
    * Amortized ingest cost with the two-level policy
    * ([[maybeCompact]]'s `majorEvery`): minor folds
    * every K batches cost O(K·batch); the major fold runs once per G
    * minors, so its O(corpus) rewrite amortizes to corpus/(K·G) per
    * ingest instead of corpus/K — at 100 TB the difference between
    * re-writing the corpus every 8 batches and every 64. Listing stays
    * bounded at O(K + G) directories per store. */
  private[graft] def minorFold(
      spark: SparkSession,
      stateDir: String,
      stores: Seq[String],
      from: Int,
      upTo: Int,
      writerId: Option[String] = None,
      leaseGraceMs: Long = DefaultLeaseGraceMs
  ): Unit = {
    val entryGen = leaseGen(spark, stateDir)
    val live = readIntPointer(spark, mainPointerPath(stateDir))
    val b = baseEpoch(spark, stateDir)
    val existing = minorFoldsWithTs(spark, stateDir)
    val covered = math.max(b, existing.lastOption.map(_._2).getOrElse(0))
    require(upTo <= live, s"minorFold upTo=$upTo beyond the committed pointer $live")
    require(from == covered + 1,
      s"minorFold must start at the first uncovered epoch ${covered + 1}, got $from " +
        "(gaps or overlaps would corrupt the committed view)")
    require(upTo >= from, s"minorFold empty range $from..$upTo")
    stagedCommit(spark, stateDir, writerId, entryGen,
      stores.map(minorGenDir(stateDir, _, from, upTo)),
      recheck = () =>
        require(baseEpoch(spark, stateDir) == b && minorFoldsWithTs(spark, stateDir) == existing,
          s"minorFold at $stateDir: fold metadata changed between entry and commit — a " +
            "concurrent same-writer mutation is running against this store (the single-writer " +
            "contract requires serializing mutations within one writer id too)"),
      flip = () =>
        writeMinorFolds(spark, stateDir, existing :+ ((from, upTo, System.currentTimeMillis())))
    ) { staged =>
      stores.zip(staged).foreach { case (store, tmp) =>
        spark.read.parquet((from to upTo).map(epochDir(s"$stateDir/$store", _)): _*)
          .write.mode(SaveMode.Overwrite).parquet(tmp)
      }
    }
  }

  /** Committed view of a store: epochs ≤ `upTo` only, with everything at
    * or below the compacted base epoch read from the ONE base-generation
    * directory instead of its (possibly already retired) epoch dirs.
    * Staged or crashed-orphan epochs are invisible either way. The
    * per-store directory listing is metadata-scale — post-compaction it
    * is O(1) entries, which is the point.
    *
    * The epoch tail is derived from the POINTERS, not a directory
    * listing: every committed epoch in (B, upTo] must exist on disk
    * (each pointer flip to N follows a successful epoch-N stage, and
    * [[retireCompacted]] only deletes epochs ≤ B), so a missing dir is
    * external deletion or a partial copy — the view FAILS LOUDLY instead
    * of silently shrinking and breaking the maintained ≡ rebuild
    * contract. */
  def committed(spark: SparkSession, stateDir: String, store: String, upTo: Int): DataFrame = {
    val base = s"$stateDir/$store"
    val b = baseEpoch(spark, stateDir)
    val minors = minorFolds(spark, stateDir)
    if (b == 0 && minors.isEmpty) {
      spark.read.parquet(base).filter(col("epoch") <= upTo).drop("epoch")
    } else {
      // StaleViewException (not a plain require): on a healthy store this
      // is what a pointer resolve racing a compaction looks like, and the
      // snapshot() callers retry exactly this — nothing else.
      if (upTo < b)
        throw new StaleViewException(
          s"committed($store) asked for epochs <= $upTo below the compacted base epoch $b: " +
            "compaction only folds COMMITTED epochs and the pointer never moves backwards " +
            "past it, so this indicates a stale pointer resolve racing a compaction, " +
            "pointer/state corruption, or a gate-style pointer reset into a compacted " +
            "store (unsupported)")
      minors.foreach { case (_, mb) =>
        if (mb > upTo)
          throw new StaleViewException(
            s"committed($store) asked for epochs <= $upTo below a live minor fold ending at $mb " +
              "— minor folds only cover COMMITTED epochs (a stale pointer resolve racing a " +
              "fold, or a gate-style pointer reset into a tiered store, which is unsupported)")
      }
      val fs = fsOf(spark, new Path(base))
      val minorCovered = minors.flatMap { case (a, mb) => a to mb }.toSet
      val loose = (b + 1 to upTo).filterNot(minorCovered).map { n =>
        val d = epochDir(base, n)
        require(fs.exists(new Path(d)),
          s"committed($store): epoch dir $d is missing but the pointers commit epochs " +
            s"($b, $upTo] — the store was externally deleted or partially copied; " +
            "refusing to serve a silently-shrunken view")
        d
      }
      val paths =
        (if (b > 0) Seq(baseGenDir(stateDir, store, b)) else Seq.empty) ++
          minors.map { case (a, mb) => minorGenDir(stateDir, store, a, mb) } ++
          loose
      spark.read.parquet(paths: _*)
    }
  }

  /** Fold committed epochs 1..`upTo` of each store into one base
    * generation. Blue/green: the staged `<store>_base_v<upTo>` dirs are
    * invisible until the single `_BASE_EPOCH` flip; a crash mid-compact
    * leaves the old listing live and a rerun overwrites the debris.
    * Superseded epoch dirs and older base generations stay on disk until
    * [[retireCompacted]] sweeps them. */
  def compact(
      spark: SparkSession,
      stateDir: String,
      stores: Seq[String],
      upTo: Int,
      writerId: Option[String] = None,
      leaseGraceMs: Long = DefaultLeaseGraceMs
  ): Unit = {
    val entryGen = leaseGen(spark, stateDir)
    val live = readIntPointer(spark, mainPointerPath(stateDir))
    val b0 = baseEpoch(spark, stateDir)
    require(upTo <= live, s"compact upTo=$upTo beyond the committed pointer $live")
    require(upTo > b0, s"compact upTo=$upTo does not advance the base epoch $b0")
    // the fold can outlive the lease grace window: the commit-point
    // re-fence in stagedCommit is what keeps it from regressing
    // `_BASE_EPOCH` past a successor's commits
    stagedCommit(spark, stateDir, writerId, entryGen, stores.map(baseGenDir(stateDir, _, upTo)),
      recheck = () =>
        require(baseEpoch(spark, stateDir) == b0 &&
            readIntPointer(spark, mainPointerPath(stateDir)) == live,
          s"compact at $stateDir: pointers moved between entry and commit (base " +
            s"${baseEpoch(spark, stateDir)} vs $b0, live " +
            s"${readIntPointer(spark, mainPointerPath(stateDir))} vs $live) — a concurrent " +
            "same-writer mutation is running against this store"),
      flip = () =>
        writeAtomic(spark, basePointerPath(stateDir), s"$upTo ${System.currentTimeMillis()}")
    ) { staged =>
      stores.zip(staged).foreach { case (store, tmp) =>
        committed(spark, stateDir, store, upTo).write.mode(SaveMode.Overwrite).parquet(tmp)
      }
    }
    // Drop the minor-folds file the new base supersedes. GC-only
    // cosmetics AFTER the one atomic commit above: the read path already
    // ignores minors ending ≤ the base epoch, so a crash between the
    // flip and this delete loses nothing. (Every live minor necessarily
    // ended ≤ upTo — the staging read's committed() view required it —
    // so post-flip there are no survivors to rewrite.)
    deleteIfExists(spark, minorFoldsPath(stateDir))
  }

  /** GC after compaction: delete each store's `epoch=N` dirs with
    * N ≤ the committed base epoch, base generations older than the
    * live one, AND superseded/covered minor-fold dirs — epoch dirs a
    * LIVE minor fold covers (folded by [[minorFold]]) and minor dirs a
    * major fold made dead (end ≤ the base epoch). All behind the usual
    * mtime grace window (a reader that resolved the pointers just
    * before a flip finishes on what it started with). Returns the
    * deleted paths. */
  def retireCompacted(
      spark: SparkSession,
      stateDir: String,
      stores: Seq[String],
      graceMs: Long = 10 * 60 * 1000L
  ): Seq[String] = {
    val b = baseEpoch(spark, stateDir)
    val liveTs = minorFoldsWithTs(spark, stateDir)
    val liveDirs = stores.flatMap(store =>
      liveTs.map { case (a, mb, _) => minorGenDir(stateDir, store, a, mb) }).toSet
    val cutoff = System.currentTimeMillis() - graceMs
    // Grace is measured from EACH VICTIM'S OWN superseding commit — the
    // per-range timestamp recorded in `_MINOR_FOLDS` (resp. the commit
    // time inside `_BASE_EPOCH`) — NOT the shared pointer file's mtime:
    // every later fold rewrites that file and refreshes its mtime, so a
    // loop folding more often than the grace window would never reclaim
    // anything and disk would grow despite compaction (GC starvation).
    // An epoch written hours ago is superseded only at the instant ITS
    // fold's commit lands, and a reader that resolved committed()
    // seconds before that commit still holds the loose-epoch paths in
    // its plan — the per-victim commit age keeps those readers alive for
    // the full window; the victim-mtime check still guards anything
    // mid-write.
    val baseTs = baseCommitTime(spark, stateDir)
    val baseCommitAged = graceMs <= 0 || baseTs == 0L || baseTs < cutoff
    // one listing of the state root serves both root-level sweeps
    val root = new Path(stateDir)
    val rootFs = fsOf(spark, root)
    val agedRootDirs =
      if (!rootFs.exists(root)) Seq.empty
      else
        rootFs.listStatus(root).toSeq
          .filter(st => st.isDirectory && st.getModificationTime < cutoff)
    def sweep(victims: Seq[FileStatus]): Seq[String] =
      victims.map { st => rootFs.delete(st.getPath, true); st.getPath.toString }
    val minorSweep = stores.flatMap { store =>
      // epoch dirs covered by a live minor fold (they read from the
      // minor generation now; justified by THAT range's commit time) ...
      liveTs.flatMap { case (a, mb, ts) =>
        if (graceMs > 0 && ts >= cutoff) Seq.empty
        else
          (a to mb).flatMap { n =>
            val p = new Path(epochDir(s"$stateDir/$store", n))
            val fs = fsOf(spark, p)
            if (fs.exists(p) && fs.getFileStatus(p).getModificationTime < cutoff) {
              fs.delete(p, true); Some(p.toString)
            } else None
          }
      } ++ {
        // ... and minor dirs no live fold references (superseded by a
        // major — justified by the _BASE_EPOCH commit — or debris of a
        // crashed fold attempt)
        if (!baseCommitAged) Seq.empty
        else
          sweep(agedRootDirs.filter { st =>
            val n = st.getPath.getName
            n.startsWith(s"${store}_minor_") && !liveDirs.contains(s"$stateDir/$n")
          })
      }
    }
    // crashed writers' staging debris: never referenced by any reader,
    // so the victim's own age is the right clock here
    val stagingSweep = sweep(agedRootDirs.filter(_.getPath.getName.startsWith(".staging_")))
    val baseSweep =
      if (b == 0 || !baseCommitAged) Seq.empty
      else
        stores.flatMap { store =>
          Retention.retainEpochs(spark, s"$stateDir/$store", cut = b, graceMs = graceMs) ++
            Retention.retainVersioned(
              spark, stateDir, s"${store}_base_v", live = b, keep = 1, graceMs = graceMs)
        }
    minorSweep ++ stagingSweep ++ baseSweep
  }

  /** Pin the loop's index parameters at bootstrap. The stored epochs are
    * only mutually consistent under ONE parameter set (band keys under
    * one (bitsPerBand, bands), shingles under one k), so ingests must
    * never mix: [[requireParams]] rejects a mismatched caller instead of
    * silently corrupting candidate generation. */
  private[streaming] def writeParams(
      spark: SparkSession, stateDir: String, params: Seq[(String, Any)]): Unit =
    writeAtomic(spark, paramsPath(stateDir),
      params.map { case (k, v) => s"$k=$v" }.mkString("\n"))

  /** Assert a caller's parameters against the pinned `_PARAMS`. A state
    * dir without the file (written by a pre-metadata version) is
    * accepted as-is — the caller owns consistency there, as before. */
  private[streaming] def requireParams(
      spark: SparkSession, stateDir: String, params: Seq[(String, Any)]): Unit = {
    readSmallFile(spark, paramsPath(stateDir)).foreach { body =>
      val stored = body.split("\n").toSeq
        .map(_.trim).filter(_.nonEmpty)
        .map { line =>
          val i = line.indexOf('=')
          line.substring(0, i) -> line.substring(i + 1)
        }
        .toMap
      params.foreach { case (k, v) =>
        stored.get(k).foreach { s =>
          require(s == v.toString,
            s"maintenance state at $stateDir was bootstrapped with $k=$s but this ingest " +
              s"passed $k=$v — mixing parameters corrupts the persisted index; pass the " +
              "bootstrap values (or bootstrap a fresh state dir)")
        }
      }
    }
  }

  /** Fold + sweep when the committed epoch tail reached `every` — the
    * self-compaction step of every loop's sink.
    *
    * Without `majorEvery` (the default), every fold is a MAJOR compact:
    * the whole committed history rewrites into one base generation —
    * O(corpus) every `every` batches, amortized corpus/every per ingest.
    * With `majorEvery = Some(g)`, compaction is TIERED: the loose epoch
    * tail folds into a MINOR generation (cost O(tail) — see
    * [[minorFold]]) and only every g-th fold escalates to the major
    * rewrite, so the O(corpus) cost amortizes to corpus/(every·g) per
    * ingest while the committed listing stays bounded at O(every + g)
    * dirs per store — the policy a loop whose corpus dwarfs its batches
    * should run. */
  private[streaming] def maybeCompact(spark: SparkSession, stateDir: String,
      stores: Seq[String], every: Int, graceMs: Long, majorEvery: Option[Int]): Unit = {
    require(every >= 1, s"compactEvery must be >= 1, got $every")
    majorEvery.foreach(g => require(g >= 1, s"majorEvery must be >= 1, got $g"))
    val live = readIntPointer(spark, mainPointerPath(stateDir))
    val base = baseEpoch(spark, stateDir)
    // a tiered policy's tail starts past the last minor fold too
    val covered = majorEvery.fold(base)(_ =>
      math.max(base, minorFolds(spark, stateDir).lastOption.map(_._2).getOrElse(0)))
    if (live - covered >= every) {
      majorEvery match {
        case None => compact(spark, stateDir, stores, live)
        case Some(g) =>
          minorFold(spark, stateDir, stores, covered + 1, live)
          if (minorFolds(spark, stateDir).size >= g) compact(spark, stateDir, stores, live)
      }
      retireCompacted(spark, stateDir, stores, graceMs): Unit
    }
  }

  /** Where a loop mutation stands after [[Loop.begin]]: the lease
    * generation the commit-point re-fence must match, and the committed
    * epoch the mutation derives from. */
  private[streaming] final case class Entry(gen: Long, version: Int)

  /** One continuous-maintenance loop over this layout: one ingest = one
    * epoch N = one cluster-map version N, every store's `epoch=N` and
    * `cluster_map_v<N>` staged under the writer's staging dir, promoted
    * after the commit-point re-fence, and made visible by the single
    * `_CURRENT_MAP` flip. Every reader — the next ingest's own admission
    * store included — filters to epochs ≤ the pointer, so a crash before
    * the flip leaves the old epoch live and the staging inert, and
    * at-least-once redelivery recomputes the SAME epoch from committed
    * state (after the flip it admits nothing: a no-op).
    *
    * A loop is its `Stores` (in staging order), the store holding its
    * corpus rows, and that corpus's public name (`corpus`/`vectors`: the
    * `<name>At` time-travel read and the `<prefix>_<name>` view). The
    * loop objects add their `_PARAMS`, admission step, stage writers and
    * pair generator through [[bootstrapEpoch]], [[begin]] and
    * [[commitEpoch]]. */
  abstract class Loop(
      private[graft] val Stores: Seq[String],
      rowsStore: String,
      rowsName: String) {

    private[graft] def mapPath(stateDir: String, v: Int) = s"$stateDir/cluster_map_v$v"

    /** Current live epoch / cluster-map version, 0 if none committed. */
    def currentMapVersion(spark: SparkSession, stateDir: String): Int =
      readIntPointer(spark, mainPointerPath(stateDir))

    /** Atomic pointer flip — THE commit point of an epoch (temp file +
      * atomic rename, see [[writeAtomic]]). */
    private[graft] def commitPointer(spark: SparkSession, stateDir: String, v: Int): Unit =
      writeAtomic(spark, mainPointerPath(stateDir), v.toString)

    /** The committed corpus rows — epochs ≤ the pointer only, see
      * [[EpochStore.committed]]. */
    def corpus(spark: SparkSession, stateDir: String): DataFrame =
      committed(spark, stateDir, rowsStore, currentMapVersion(spark, stateDir))

    /** The live cluster map (doc_id, rep); empty if no version yet. */
    def currentMap(spark: SparkSession, stateDir: String): DataFrame =
      mapAt(spark, stateDir, currentMapVersion(spark, stateDir))

    private def mapAt(spark: SparkSession, stateDir: String, v: Int): DataFrame =
      if (v == 0)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL("doc_id LONG, rep LONG"))
      else spark.read.parquet(mapPath(stateDir, v))

    /** The POINTER-CONSISTENT (version, rows, map) behind each loop's
      * `snapshot`: the live epoch is resolved ONCE and both surfaces serve
      * from it. The pointer and the base/minor metadata are separate
      * reads, so a compaction committing between them can make
      * committed() reject the just-read version as below the new base — a
      * healthy store, stale resolve. Retry with a fresh pointer (bounded:
      * each retry requires ANOTHER racing fold; persistent failure is real
      * corruption and the last throw surfaces). ONLY that race retries —
      * committed() types it as StaleViewException; bootstrap-missing and
      * externally-deleted-epoch failures throw immediately. */
    protected def resolve(spark: SparkSession, stateDir: String): (Int, DataFrame, DataFrame) = {
      var attempt = 0
      while (true) {
        val v = currentMapVersion(spark, stateDir)
        require(v >= 1, s"no committed epoch at $stateDir — bootstrap first")
        try return (v, committed(spark, stateDir, rowsStore, v), mapAt(spark, stateDir, v))
        catch {
          case _: StaleViewException if attempt < 5 =>
            attempt += 1
        }
      }
      throw new IllegalStateException("unreachable")
    }

    /** TIME-TRAVEL read: the corpus rows exactly as committed at
      * `version`. The horizon is bounded by COMPACTION, exactly like
      * table-format time travel is bounded by VACUUM: epochs folded into
      * the base generation (or covered by a minor fold ending past `v`)
      * can no longer be separated, and [[EpochStore.committed]] rejects
      * such a version loudly (StaleViewException) instead of serving an
      * approximation. */
    protected def rowsAt(spark: SparkSession, stateDir: String, version: Int): DataFrame = {
      val live = currentMapVersion(spark, stateDir)
      require(version >= 1 && version <= live,
        s"${rowsName}At($version): committed versions are 1..$live")
      committed(spark, stateDir, rowsStore, version)
    }

    /** Register the loop's state as POINTER-CONSISTENT temp views
      * (`<prefix>_<corpus name>`, `<prefix>_clusters`) so SQL users query
      * the maintained state by NAME — both views resolve from ONE
      * snapshot, so a SQL join between them can never straddle a commit.
      * Re-run after ingests to advance; returns the version served. */
    def registerViews(spark: SparkSession, stateDir: String, prefix: String): Int = {
      val (v, rows, map) = resolve(spark, stateDir)
      rows.createOrReplaceTempView(s"${prefix}_$rowsName")
      map.createOrReplaceTempView(s"${prefix}_clusters")
      v
    }

    /** Entry of an ingest: pass the writer [[fence]] (a second live
      * maintainer rejects; a crashed writer's lease is taken over after
      * `leaseGraceMs`; `writerId` defaults to the Spark applicationId, so
      * one application's replays are self-compatible), then CHECK the
      * loop's `_PARAMS` against the bootstrap's. */
    protected def begin(spark: SparkSession, stateDir: String, params: Seq[(String, Any)],
        writerId: Option[String], leaseGraceMs: Long): Entry = {
      val gen = fence(spark, stateDir, writerId, leaseGraceMs)
      requireParams(spark, stateDir, params)
      Entry(gen, currentMapVersion(spark, stateDir))
    }

    /** Bootstrap = epoch 1 of a fresh state: pass the writer fence, drop
      * stale base/minor pointers (re-bootstrapping a compacted dir
      * restarts from scratch), PIN the loop's `_PARAMS`, then
      * [[commitEpoch]] — staging promoted only after the commit-point
      * re-fence, so a takeover during the full-corpus pass (the longest
      * mutation of all) leaves the successor's store untouched. */
    protected def bootstrapEpoch(spark: SparkSession, stateDir: String,
        params: Seq[(String, Any)], writerId: Option[String], leaseGraceMs: Long)(
        stage: Seq[String] => Unit): Unit = {
      val gen = fence(spark, stateDir, writerId, leaseGraceMs)
      clearBasePointer(spark, stateDir)
      writeParams(spark, stateDir, params)
      commitEpoch(spark, stateDir, writerId, Entry(gen, currentMapVersion(spark, stateDir)), 1)(
        stage)
    }

    /** THE epoch commit: `stage` writes epoch `next` of every store and
      * its cluster map into the staged paths it is handed (`Stores` order,
      * map last) and may read them back; then the commit-point re-fence,
      * a check that the pointer still names `entry`'s epoch (a concurrent
      * same-writer mutation moved it otherwise), promotion, and the
      * `_CURRENT_MAP` flip to `next` — see [[stagedCommit]]. Returns what
      * `stage` returns. */
    protected def commitEpoch[A](spark: SparkSession, stateDir: String,
        writerId: Option[String], entry: Entry, next: Int)(stage: Seq[String] => A): A =
      stagedCommit(spark, stateDir, writerId, entry.gen,
        Stores.map(s => epochDir(s"$stateDir/$s", next)) :+ mapPath(stateDir, next),
        recheck = () => {
          val now = currentMapVersion(spark, stateDir)
          require(now == entry.version,
            s"ingest at $stateDir: the committed pointer moved from ${entry.version} to $now " +
              "between entry and commit — a concurrent same-writer ingest is running " +
              "(serialize mutations within one writer id)")
        },
        flip = () => commitPointer(spark, stateDir, next))(stage)

    /** Fold an ingest's verified pairs into the map of epoch `v`:
      * full connected components on the first ingest into an empty
      * store, [[DedupClusters.augment]] (affected components only)
      * after. */
    protected def foldPairs(
        spark: SparkSession, stateDir: String, v: Int, pairs: DataFrame): DataFrame =
      if (v == 0) DedupClusters.connectedComponents(pairs)
      else DedupClusters.augment(currentMap(spark, stateDir), pairs)

    /** Fold committed epochs 1..`upTo` of every store into one base
      * generation each ([[EpochStore.compact]] — blue/green, single
      * `_BASE_EPOCH` flip, crash-safe). Without it the committed view of
      * a long-running loop is a one-dir-per-ingest listing — the
      * metadata/small-file bottleneck the reference's file-per-checkpoint
      * layout foreshadows (`RowOrcBucketingSink.java:157-164`). Readers
      * (the next ingest included) are unaffected: the committed view is
      * identical before and after, which EpochCompactionSpec pins and the
      * corpus_maintain/semantic_maintain oracles re-prove at fixture
      * scale. */
    def compactEpochs(
        spark: SparkSession,
        stateDir: String,
        upTo: Int,
        writerId: Option[String] = None,
        leaseGraceMs: Long = DefaultLeaseGraceMs
    ): Unit = {
      fence(spark, stateDir, writerId, leaseGraceMs)
      compact(spark, stateDir, Stores, upTo, writerId, leaseGraceMs)
    }

    /** GC for epoch dirs superseded by [[compactEpochs]] (and older base
      * generations): see [[EpochStore.retireCompacted]]. Returns deleted
      * paths. */
    def retireCompactedEpochs(
        spark: SparkSession,
        stateDir: String,
        graceMs: Long = 10 * 60 * 1000L
    ): Seq[String] =
      retireCompacted(spark, stateDir, Stores, graceMs)

    /** GC for superseded cluster-map versions: keep the live map plus
      * `keep - 1` predecessors, delete older ones past the mtime grace
      * window. Never touches store EPOCHS ≤ the pointer that are not yet
      * compacted (they ARE the corpus — [[compactEpochs]] +
      * [[retireCompactedEpochs]] reclaim those), the pointers, or the live
      * map — see [[Retention.retainVersioned]]. Returns the deleted
      * paths. */
    def retain(
        spark: SparkSession,
        stateDir: String,
        keep: Int,
        graceMs: Long = 10 * 60 * 1000L
    ): Seq[String] =
      Retention.retainVersioned(
        spark, stateDir, "cluster_map_v",
        live = currentMapVersion(spark, stateDir), keep = keep, graceMs = graceMs)

    /** The foreachBatch body of every loop's `sink`: each micro-batch runs
      * one `ingest` step (at-least-once delivery; the epoch commit makes
      * any redelivery — mid-batch crash included — converge to
      * exactly-once state), then [[retain]] when `retainVersions` is set
      * and [[maybeCompact]] when `compactEvery` is set, so a long-running
      * loop GCs and compacts itself. Safe BECAUSE foreachBatch
      * serializes them with ingest: the single-writer assumption holds by
      * construction. */
    protected def sinkVia(stream: DataFrame, stateDir: String, checkpoint: String,
        trigger: Trigger, retainVersions: Option[Int], retainGraceMs: Long,
        compactEvery: Option[Int], majorEvery: Option[Int])(
        ingest: DataFrame => Unit): StreamingQuery =
      stream.writeStream
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(trigger)
        .foreachBatch { (b: DataFrame, _: Long) =>
          ingest(b)
          retainVersions.foreach(n => retain(b.sparkSession, stateDir, n, retainGraceMs))
          compactEvery.foreach { every =>
            maybeCompact(b.sparkSession, stateDir, Stores, every, retainGraceMs, majorEvery)
          }
        }
        .start()
  }
}
