package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Versioned table-sidecar commit protocol — ONE atomic pointer carries
  * BOTH the live version and the source-table fingerprint, so there is
  * no ordering window at all between "data swapped" and "staleness gate
  * updated" (the r13 bloom sidecar's delete-then-rename + fingerprint-
  * written-last recipe had a crash window where the sidecar was gone
  * and the next lookup failed loudly; here a mid-swap crash leaves the
  * OLD version serving, consistently gated, and the staged dir inert).
  *
  * Layout under a sidecar root (itself underscore-prefixed inside the
  * table dir, so scans never see it — the `_spark_metadata` convention):
  *
  *   <root>/v=N/…              — version N's data files (parquet)
  *   <root>/_CURRENT           — line 1: N (the live version);
  *                               remaining lines: the source table's
  *                               data-file identities at build time
  *                               (the staleness fingerprint)
  *
  * Writer protocol (single maintainer, same as EpochStore):
  *   1. write the new version's data into v=<current+1> — invisible,
  *      readers only dereference what _CURRENT names;
  *   2. flip _CURRENT via temp-file + atomic rename(OVERWRITE) — THE
  *      commit: version and fingerprint become visible together;
  *   3. GC superseded version dirs behind a _DEAD-marker grace window
  *      (the AggView recipe: mark at supersede time, sweep once the
  *      marker ages past the grace — in-flight readers that already
  *      dereferenced the old pointer keep their files until then).
  *
  * A crash before step 2 leaves the old pointer live and the staged dir
  * debris the next commit's GC marks and sweeps; a crash after step 2 is
  * a completed commit (GC re-runs on the next one). Reference behavior
  * re-derived from hiliuxg/flink-orc-sink's stage-then-promote commit
  * (RowOrcBucketingSink.java:190,209 — in-process → in-pending → final
  * renames at checkpoint) — the same invisible-until-promoted
  * discipline, applied to index sidecars with a pointer as the single
  * commit point.
  */
private[graft] object Sidecar {

  /** The committed state: the commit's version id, its data dir, the
    * fingerprint, and the LIVE version set (== Seq(version) for
    * single-dir sidecars like the bloom index; a DELTA sidecar — the
    * postings index — keeps earlier versions live and reads their
    * union). `dataDir` is the newest live dir; `liveDirs` lists all of
    * them, newest first. */
  final case class Current(
      version: Int,
      dataDir: String,
      fingerprint: Set[String],
      liveVersions: Seq[Int]) {
    def liveDirs(root: String): Seq[String] = liveVersions.map(v => s"$root/v=$v")
  }

  private def pointerPath(root: String) = s"$root/_CURRENT"
  private def versionDir(root: String, v: Int) = s"$root/v=$v"

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The committed sidecar state, None before the first commit. The
    * pointer's first line is the live version list (newest first —
    * a single id for single-dir sidecars); the rest is the fingerprint. */
  def current(spark: SparkSession, root: String): Option[Current] =
    graft.streaming.EpochStore.readSmallFile(spark, pointerPath(root)).map { body =>
      val lines = body.split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq
      require(lines.nonEmpty, s"malformed sidecar pointer at $root: empty")
      val live = lines.head.split("\\s+").map(_.toInt).toSeq
      val v = live.head
      Current(v, versionDir(root, v), lines.tail.toSet, live)
    }

  /** Where the NEXT version's data goes — invisible until [[commit]].
    * Crash debris at the same path is overwritten by the writer
    * (single-maintainer contract, the EpochStore promoteStaged rule). */
  def nextStage(spark: SparkSession, root: String): (Int, String) = {
    val v = current(spark, root).map(_.version).getOrElse(0) + 1
    (v, versionDir(root, v))
  }

  /** THE commit: one atomic pointer flip makes version `v`, its
    * fingerprint, and the live set visible together, then every
    * version dir OUTSIDE the live set (superseded versions AND crash
    * debris above the pointer) is GC'd behind the grace window.
    * `extraLive` keeps earlier versions readable — the DELTA layout: a
    * refresh commits only its new rows' dir and lists the older dirs it
    * still reads; compaction later collapses the set back to one. */
  def commit(
      spark: SparkSession,
      root: String,
      v: Int,
      fingerprint: Set[String],
      gcGraceMs: Long = graft.streaming.EpochStore.DefaultLeaseGraceMs,
      extraLive: Seq[Int] = Nil): Unit = {
    val live = v +: extraLive.filterNot(_ == v)
    val body = (live.mkString(" ") +: fingerprint.toSeq.sorted).mkString("\n")
    graft.streaming.EpochStore.writeAtomic(spark, pointerPath(root), body)
    gcDeadVersions(spark, root, live.toSet, gcGraceMs)
  }

  /** Post-commit GC of every `v=N` dir under `root` outside `live`
    * (superseded versions AND crash debris above the pointer), in ONE
    * listing: each gets a `_DEAD` marker the first time it is seen dead
    * (the supersede instant) and is deleted once that marker is older
    * than `gcGraceMs` — in-flight readers that dereferenced the old
    * pointer keep their files until then. Shared by every `v=N`-layout
    * writer (these sidecars, the bucketed AggView). */
  private[graft] def gcDeadVersions(
      spark: SparkSession, root: String, live: Set[Int], gcGraceMs: Long): Unit = {
    val liveNames = live.map(x => s"v=$x")
    val rootP = new Path(root)
    val fs = fsOf(spark, rootP)
    if (fs.exists(rootP)) {
      val now = System.currentTimeMillis()
      fs.listStatus(rootP).foreach { s =>
        val n = s.getPath.getName
        if (s.isDirectory && n.startsWith("v=") && !liveNames.contains(n)) {
          val marker = new Path(s"${s.getPath}/_DEAD")
          if (!fs.exists(marker)) { val o = fs.create(marker, true); o.close() }
          if (gcGraceMs <= 0 ||
              now - fs.getFileStatus(marker).getModificationTime > gcGraceMs)
            fs.delete(s.getPath, true)
        }
      }
    }
  }
}
