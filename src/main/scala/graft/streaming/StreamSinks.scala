package graft.streaming

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import scala.collection.concurrent.TrieMap

/** Exactly-once file sinks for streams (reference parity R5, R7-R12).
  *
  * The reference's core contribution is a two-phase-commit ORC sink:
  * in-process file → (checkpoint) rename to in-pending → (checkpoint
  * complete) rename to final, so Hive readers only ever see fully
  * committed files (reference RowOrcBucketingSink.java:153-213,
  * README.md:7-17). Uncommitted files from a crash are simply never
  * renamed and readers ignore them (README.md:19-22).
  *
  * Spark's FileStreamSink gives the same guarantee with a different
  * mechanism: each micro-batch's task files land under the output dir,
  * and the batch commits by appending their names to the `_spark_metadata`
  * manifest — atomically, once, keyed by batchId. A manifest-aware reader
  * (`spark.read` on the dir) lists files through the manifest, so
  * uncommitted/orphan files are invisible, and batch replay after a crash
  * is idempotent (same batchId → manifest append skipped). Source offsets
  * are WAL'd in `checkpointLocation` before execution — together this is
  * the reference's exactly-once contract, rename-free.
  * OrcStreamingSinkSpec pins the contract (orphan invisibility,
  * crash-restart no-dup/no-loss).
  *
  * Scale posture: one file per task per partition dir per batch — file
  * count is bounded by (cores × partitions × batches), and the manifest
  * avoids the O(files) directory listings that kill object-store readers
  * at 100 TB. Compact manifests every 10 batches are built in.
  */
object StreamSinks {

  /** Partitioned ORC streaming sink with exactly-once manifest commit —
    * the Spark-native equivalent of the reference's RowOrcBucketingSink
    * (bucket dirs = `partitionBy` dirs, reference
    * RowOrcBucketingSink.java:280-283).
    */
  def orcSink(
      df: DataFrame,
      path: String,
      checkpoint: String,
      partitionCols: Seq[String] = Nil,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery =
    fileSink(df, "orc", path, checkpoint, partitionCols, trigger)

  /** Parquet streaming sink (SURVEY §2.2 "Parquet streaming sink"). */
  def parquetSink(
      df: DataFrame,
      path: String,
      checkpoint: String,
      partitionCols: Seq[String] = Nil,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery =
    fileSink(df, "parquet", path, checkpoint, partitionCols, trigger)

  private def fileSink(
      df: DataFrame,
      format: String,
      path: String,
      checkpoint: String,
      partitionCols: Seq[String],
      trigger: Trigger
  ): StreamingQuery = {
    val w = df.writeStream
      .format(format)
      .outputMode("append")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).start()
  }

  /** Time-bucketed layout columns (the reference's pluggable
    * `Bucketer<Row>`/DateTimeBucketer generalized, reference
    * RowOrcBucketingSink.java:251-254): derive `dt`/`hr` partition
    * columns from an event-time column so `partitionBy("dt","hr")`
    * reproduces the date-bucketed warehouse directory layout readers
    * prune on.
    */
  def withTimeBuckets(df: DataFrame, tsCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    df.withColumn("dt", date_format(col(tsCol), "yyyy-MM-dd"))
      .withColumn("hr", date_format(col(tsCol), "HH"))
  }

  /** Full `Bucketer<Row>` parity (reference
    * RowOrcBucketingSink.java:41,111,251-254): the reference routes each
    * row to an arbitrary bucket directory via
    * `bucketer.getBucketPath(clock, basePath, row)` — any function of the
    * row. The Spark-native shape of "any row → bucket path" is a derived
    * partition COLUMN from an arbitrary `Column` expression: the
    * expression runs in codegen, the sink lays rows out as Hive-style
    * `name=value/` dirs, and readers prune on the same expression. This
    * is strictly stronger than the reference's interface at scale —
    * bucket routing stays declarative (Catalyst sees it) instead of an
    * opaque callback, so partition pruning on re-read is free.
    *
    * `withTimeBuckets` above is the `DateTimeBucketer` instance of this;
    * no-expression (`partitionBy()` absent) is `BasePathBucketer`.
    */
  def withBucket(df: DataFrame, name: String, bucketExpr: org.apache.spark.sql.Column): DataFrame =
    df.withColumn(name, bucketExpr)

  /** Streaming ORC sink with a pluggable bucket expression — one call
    * for the reference's `setBucketer(...)` + sink pattern
    * (OrcSinkTest.java:32-40), exactly-once via the manifest commit.
    */
  def orcBucketedSink(
      df: DataFrame,
      path: String,
      checkpoint: String,
      bucketExpr: org.apache.spark.sql.Column,
      bucketName: String = "bucket",
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery =
    orcSink(withBucket(df, bucketName, bucketExpr), path, checkpoint, Seq(bucketName), trigger)

  /** Streaming DQ-ENFORCEMENT sink — the dead-letter routing Flink
    * spells as a side output, spelled Spark-first as ONE partitioned
    * exactly-once sink: every row is tagged with the rules it violates
    * ([[graft.operators.Profiling.withViolations]], the same codegen'd
    * per-row map the batch `dq_quarantine` gate uses), the machine-
    * readable reasons collapse into a `violation_reasons` string, and
    * `is_quarantined` becomes a PARTITION column — so the clean table
    * and the dead-letter table are the two partitions of one
    * manifest-committed sink. Compared to a foreachBatch dual write,
    * this keeps exactly-once for free (the native file sink's manifest
    * covers both sides in one commit — no cross-sink atomicity gap) and
    * makes "read only clean rows" a pruned scan
    * (`is_quarantined=false/`), not a filter.
    *
    * Extra partition columns (time buckets etc.) compose by passing
    * them in `partitionCols`; `is_quarantined` is always the last
    * partition level so reason-carrying rows stay co-located per
    * bucket. */
  def quarantineSink(
      df: DataFrame,
      rules: Seq[(String, org.apache.spark.sql.Column)],
      path: String,
      checkpoint: String,
      format: String = "parquet",
      partitionCols: Seq[String] = Nil,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery = {
    import org.apache.spark.sql.functions._
    val tagged = graft.operators.Profiling
      .withViolations(df, rules)
      .withColumn("violation_reasons", concat_ws("+", col("violations")))
      .withColumn("is_quarantined", size(col("violations")) > 0)
      .drop("violations")
    fileSink(tagged, format, path, checkpoint, partitionCols :+ "is_quarantined", trigger)
  }

  /** The files a committed-only reader actually sees — resolved through
    * the `_spark_metadata` manifest, NOT a raw directory listing. This is
    * the observable half of the exactly-once contract (the reference's
    * "Hive only sees final part files", README.md:9-13).
    */
  def committedFiles(spark: SparkSession, path: String, format: String = "orc"): Seq[String] =
    spark.read.format(format).load(path).inputFiles.toSeq

  /** Orphan-file VACUUM for the manifest-committed sinks — the table-
    * maintenance half of the exactly-once contract. A crashed or
    * speculatively-duplicated task leaves its data file in the output
    * directory WITHOUT a manifest entry; readers never see it
    * (OrcStreamingSinkSpec pins that), but the bytes still bill and the
    * file count still degrades object-store listings. The reference has
    * the same residue: files that never reach the rename-to-final step
    * linger as in-process/in-pending until an operator sweeps them
    * (reference README.md:19-22). This sweep is safe BECAUSE commits are
    * manifest-atomic: any data file not named by the manifest can never
    * become visible later.
    *
    * Returns the orphan paths; deletes them unless `dryRun`. Never
    * touches `_spark_metadata` itself. In-flight task files of an
    * UNCOMMITTED batch look exactly like crash debris, so two guards
    * enforce the stop-the-writer precondition instead of documenting it:
    * the sweep REFUSES to run while any active streaming query in this
    * session sinks to `path`, and files younger than `graceMs` are
    * skipped — a batch whose manifest commit lands after the sweep
    * started keeps its data (writers from OTHER sessions are invisible
    * to the first guard; the grace window is what protects them).
    *
    * Two more protections for files retired by the DML/OPTIMIZE swaps
    * ([[graft.streaming.Optimize]]):
    *  - any file an archived HISTORY version still references is never
    *    swept (so `restoreTable`/`readVersion` stay possible until the
    *    version expires). Unbounded pinning is NOT the default (r17):
    *    each sweep first expires versions older than
    *    `spark.graft.history.retainMs` (default 7 days — the Delta
    *    VACUUM retention convention; set it higher for longer restore
    *    windows, or Long.MaxValue to pin forever), and whatever remains
    *    pinned is REPORTED on stdout (version/file/byte counts) so the
    *    growth is never silent;
    *  - a file's age is measured from max(its mtime, the table's last
    *    maintenance event): a retired file keeps its original write-time
    *    mtime, so an mtime-only grace would sweep it the INSTANT its
    *    history version expired — under any cross-session reader
    *    mid-scan. The `_graft_last_maintenance` marker (touched by every
    *    swap and expiry) restarts the grace clock at the event that
    *    actually orphaned the file.
    */
  def vacuum(
      spark: SparkSession,
      path: String,
      format: String = "orc",
      dryRun: Boolean = false,
      graceMs: Long = 10 * 60 * 1000L
  ): Seq[String] =
    // default retention: age out archived generations past the window so
    // history never pins retired bytes forever by silent default
    vacuumRetaining(spark, path, format, dryRun, graceMs,
      retainMs = spark.conf
        .getOption("spark.graft.history.retainMs").map(_.toLong)
        .getOrElse(7L * 24 * 3600 * 1000))

  /** [[vacuum]] with an explicit history retention window instead of the
    * session's `spark.graft.history.retainMs` — the form a sink with its
    * own window calls, so it never rewrites session conf. */
  private[streaming] def vacuumRetaining(
      spark: SparkSession,
      path: String,
      format: String,
      dryRun: Boolean,
      graceMs: Long,
      retainMs: Long
  ): Seq[String] = {
    val root = new Path(path)
    requireNoActiveWriter(spark, path, "vacuum")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = committedFiles(spark, path, format)
      .map(u => Path.getPathWithoutSchemeAndAuthority(new Path(u)).toString)
      .toSet
    // dryRun is a PREVIEW: report which versions a real sweep would
    // expire, but delete no history, rewrite no snapshot, reset no
    // grace clock (r18 — the r17 sweep expired history even on dryRun,
    // so a preview destroyed restore targets)
    val expired =
      if (dryRun) graft.streaming.Optimize.historyVersionsOlderThan(spark, path, retainMs)
      else graft.streaming.Optimize.expireHistoryOlderThan(spark, path, retainMs)
    val historyProtected = graft.streaming.Optimize.historyProtectedFiles(spark, path)
    // growth visibility: whatever history still pins is reported, never
    // silent (reuses this sweep's committed set + protection read —
    // operators get the same numbers on demand via historyPinReport)
    val pinned = (historyProtected -- committed).toSeq
    if (expired.nonEmpty || pinned.nonEmpty) {
      val pinnedBytes = pinned.map { p =>
        val hp = new Path(p)
        if (fs.exists(hp)) fs.getFileStatus(hp).getLen else 0L
      }.sum
      println(s"vacuum($path): ${if (dryRun) "would expire" else "expired"} " +
        s"${expired.size} history version(s) past " +
        s"${retainMs / 1000}s retention; history still pins ${pinned.size} file(s) / " +
        s"$pinnedBytes bytes (GRAFT EXPIRE HISTORY or spark.graft.history.retainMs " +
        "to release)")
    }
    val lastMaint = {
      val m = graft.streaming.Optimize.maintMarker(path)
      if (fs.exists(m)) fs.getFileStatus(m).getModificationTime else 0L
    }
    val cutoff = System.currentTimeMillis() - graceMs
    val orphans = dataFiles(fs, root).filter { st =>
      val key = Path.getPathWithoutSchemeAndAuthority(st.getPath).toString
      math.max(st.getModificationTime, lastMaint) <= cutoff &&
        !committed.contains(key) && !historyProtected.contains(key)
    }
    if (!dryRun) orphans.foreach(st => fs.delete(st.getPath, false))
    orphans.map(_.getPath.toString)
  }

  /** Every data file under `root`, recursively — the one lister the
    * sweeps and the staged-write path share. The underscore/dot filter
    * comes BEFORE the directory recursion: `_`-prefixed DIRS (sidecar
    * indexes `_bloom_*`, `_graft_optimize_*` staging, `_spark_metadata`)
    * are invisible to Spark readers, so their contents are never
    * manifest-listed — recursing into them would sweep a live sidecar as
    * orphans. */
  private[graft] def dataFiles(fs: FileSystem, root: Path): Seq[FileStatus] =
    fs.listStatus(root).toSeq.flatMap { st =>
      val name = st.getPath.getName
      if (name.startsWith("_") || name.startsWith(".")) Nil
      else if (st.isDirectory) dataFiles(fs, st.getPath)
      else Seq(st)
    }

  /** The stop-the-writer precondition every destructive maintenance op
    * (vacuum, promote, optimize) shares: refuse while any active
    * streaming query in THIS session sinks to `path`. A just-started
    * query has lastProgress == null until its first progress event, so
    * its sink is unknowable — treat it as a potential writer and refuse
    * rather than race its in-flight task files. (Writers from OTHER
    * sessions are invisible here; callers protect against them with
    * grace windows.) */
  private[streaming] def requireNoActiveWriter(
      spark: SparkSession, path: String, op: String): Unit = {
    val target = Path.getPathWithoutSchemeAndAuthority(new Path(path)).toString
    val (unknown, known) = spark.streams.active.partition(q => q.lastProgress == null)
    val writers = known.filter(q => q.lastProgress.sink.description.contains(target))
    require(
      writers.isEmpty,
      s"$op($path): active streaming quer${if (writers.length == 1) "y" else "ies"} " +
        s"${writers.map(_.id).mkString(", ")} still writing here — stop the writer first")
    require(
      unknown.isEmpty,
      s"$op($path): active streaming quer${if (unknown.length == 1) "y has" else "ies have"} " +
        s"no progress yet (${unknown.map(_.id).mkString(", ")}) — sink unknown, could be " +
        "writing here; wait for a first progress event or stop the writer")
  }

  /** Result of [[promote]]: how many files the committed set holds and
    * which orphans were swept to reach plain-listing visibility. */
  final case class PromoteReport(committedFiles: Int, sweptOrphans: Seq[String])

  /** Promote a manifest-committed sink directory to PLAIN-LISTING
    * visibility — the reference's strongest guarantee, which the
    * manifest mechanism alone does not give: the reference's rename-
    * based 2PC leaves the directory containing EXACTLY the committed
    * files, so a reader that just lists `*.orc` (Hive external table,
    * Trino, DuckDB glob) sees the committed rows and nothing else
    * (reference README.md:13,17; RowOrcBucketingSink.java:172-200).
    * Spark's FileStreamSink gets exactly-once only for manifest-aware
    * readers; uncommitted task files linger for everyone else.
    *
    * Committed files already sit at their final names/paths — what
    * breaks plain listing is orphan debris. Promotion is therefore a
    * stop-the-writer-guarded zero-grace sweep plus a VERIFIED
    * post-condition: after the sweep, the recursive data-file listing
    * must equal the manifest's committed set exactly (checked, not
    * assumed — a concurrent foreign writer or a manifest referencing a
    * missing file fails loudly here instead of silently diverging).
    * After a green promote, dropping `_spark_metadata` (or pointing any
    * non-Spark engine at the directory glob) yields exactly the
    * committed rows; `OrcStreamingSinkSpec` pins that, including across
    * a crash-restart cycle. Run it at the same point the reference's
    * operators run their manual sweep: writer stopped, batch boundary.
    *
    * Lifecycle handoff: after a green promote the directory is a valid
    * PLAIN table — deleting `_spark_metadata` converts it to a
    * batch-managed table on which the maintenance operators (compact,
    * writeSorted/writeZOrdered rewrites) apply; the spec pins rows
    * surviving that conversion + compaction.
    */
  def promote(spark: SparkSession, path: String, format: String = "orc"): PromoteReport = {
    val swept = vacuum(spark, path, format, dryRun = false, graceMs = 0L)
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listed = dataFiles(fs, root)
      .map(st => Path.getPathWithoutSchemeAndAuthority(st.getPath).toString)
      .toSet
    val committed = committedFiles(spark, path, format)
      .map(u => Path.getPathWithoutSchemeAndAuthority(new Path(u)).toString)
      .toSet
    require(
      listed == committed,
      s"promote($path): directory and manifest disagree after sweep — " +
        s"unlisted committed files: ${(committed -- listed).take(3).mkString(", ")}; " +
        s"extra files: ${(listed -- committed).take(3).mkString(", ")}" +
        " (retired generations pinned by _graft_history block promotion: run " +
        "Optimize.expireHistory(spark, path, keep = 0) first if the extras are graft-* files)")
    PromoteReport(committed.size, swept)
  }

  /** Register a promoted sink directory as a partitioned EXTERNAL table
    * in `spark_catalog` — the LAST MILE of the reference's contract: its
    * whole point is that committed files become a Hive-queryable
    * warehouse table users address BY NAME with partition pruning
    * (reference README.md:13,17 "hive can read them"; the demo sinks
    * under a warehouse table path, OrcSinkTest.java:23). [[promote]]
    * proves plain-listing visibility of the FILES; this registers the
    * directory so a SQL user writes `SELECT ... FROM name WHERE
    * <partition col> = ...` and the catalog prunes partition directories
    * at planning time — no path, no manifest awareness needed.
    *
    * Mechanics: external `CREATE TABLE ... USING <format> PARTITIONED BY
    * ... LOCATION` from the directory's inferred schema, then partition
    * RECOVERY (`recoverPartitions`, i.e. MSCK REPAIR) to load the
    * Hive-layout `col=value/` dirs into the catalog. Re-registering an
    * existing name replaces the registration, never the data (external:
    * DROP leaves the files).
    *
    * Call it AFTER a green [[promote]]: catalog readers list the
    * directory through the catalog file index, NOT the streaming
    * manifest, so the promote postcondition (listing ≡ committed set) is
    * exactly what makes the registered table serve committed rows only.
    * After more batches commit, re-run promote + `recoverPartitions` (or
    * re-register) to surface the new files — the same "operator sweeps at
    * a batch boundary" cadence as the reference's manual protocol.
    * Returns the registered partition count (0 for an unpartitioned
    * sink). */
  def registerTable(
      spark: SparkSession,
      name: String,
      path: String,
      format: String = "orc",
      partitionCols: Seq[String] = Nil
  ): Int = {
    val schema = spark.read.format(format).load(path).schema
    partitionCols.foreach(c => require(schema.fieldNames.contains(c),
      s"registerTable($name): partition column '$c' not in the sink schema " +
        schema.fieldNames.mkString("[", ", ", "]")))
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    // Register through the Catalog API with NO user-specified schema:
    // for an external datasource table Spark then infers schema AND
    // partition columns from the Hive-layout location at creation
    // (passing an explicit schema instead registers the table
    // unpartitioned and re-infers at runtime — the "overlapped data and
    // partition columns" trap; the SQL form without a column list
    // rejects PARTITIONED BY outright).
    spark.catalog.createTable(name, format, Map("path" -> path))
    val registered = spark.catalog.listColumns(name)
      .collect().filter(_.isPartition).map(_.name).toSet
    require(registered == partitionCols.toSet,
      s"registerTable($name): location inferred partition columns $registered, " +
        s"caller declared ${partitionCols.toSet} — layout and declaration disagree")
    if (partitionCols.nonEmpty) {
      spark.catalog.recoverPartitions(name)
      spark.sql(s"SHOW PARTITIONS `$name`").count().toInt
    } else 0
  }

  /** Watermark gauge (reference parity R12): the reference exports the
    * last committed watermark as a metrics gauge, minus a hardcoded -8h
    * timezone shift (RowOrcBucketingSink.java:86,196-198). Here the same
    * signal comes from StreamingQueryProgress.eventTime — in session TZ,
    * no hack — via a listener any metrics backend can subscribe to.
    */
  /** INDEX-MAINTAINED streaming table sink (r15): every committed
    * micro-batch keeps the table's sidecar indexes fresh, so readers
    * lookup/search WITHOUT a rebuild instead of hitting the loud
    * staleness refusal after every append.
    *
    * Data path — exactly-once by IDEMPOTENT PLACEMENT (the AggView
    * ledger idea applied to files): each batch lands wholesale in a
    * deterministic `graft_batch=<id>/` Hive-style subdir written with
    * Overwrite, so a checkpoint replay of the same batch rewrites the
    * same directory instead of appending duplicates (Structured
    * Streaming logs offsets before execution: a given batchId always
    * carries the same rows). Plain `spark.read` over the table root
    * works with no manifest awareness — partition discovery surfaces
    * the batch id as a `graft_batch` audit column — at the cost of a
    * replay/crash window where one batch dir may be mid-rewrite;
    * strict readers that cannot tolerate it should use [[parquetSink]]
    * (manifest-gated) and run the refreshers on the maintenance
    * cadence instead.
    *
    * Maintenance path — after the batch's data write, each registered
    * index refreshes via its build-or-update spelling
    * (FileIO.refreshBloomIndex / TextIndex.refreshPostingsIndex):
    * O(new files) per batch, committed by the Sidecar's atomic pointer
    * flip. A crash BETWEEN data write and refresh leaves the index
    * loudly stale (never silently wrong); the replayed batch repairs it
    * — the refreshers are pure listing-vs-fingerprint diffs, so
    * re-running them is a no-op. MaintainedSinkSpec pins freshness,
    * O(new files) refresh, and checkpoint-restart behavior.
    *
    * @param bloomKeys     long-castable key columns to maintain bloom
    *                      file-skipping sidecars for
    * @param postingsCols  optional (idCol, textCol) to maintain a
    *                      positional postings index for, rooted at
    *                      [[graft.operators.TextIndex.defaultIndexDir]]
    */
  def maintainedParquetSink(
      df: DataFrame,
      path: String,
      checkpoint: String,
      bloomKeys: Seq[String] = Nil,
      postingsCols: Option[(String, String)] = None,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        require(!batch.columns.contains("graft_batch"),
          "maintainedParquetSink reserves the 'graft_batch' partition column for batch placement")
        batch.write
          .mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$path/graft_batch=$batchId")
        refreshIndexes(batch.sparkSession, path, bloomKeys, postingsCols)
      }
      .start()

  /** SELF-COMPACTING manifest sink (r17) — closes the reference's known
    * flaw at the SINK level: a file-per-checkpoint writer grows its file
    * count without bound between manual maintenance runs (reference
    * RowOrcBucketingSink.java:157-164 — one ORC file per checkpoint,
    * swept only by hand). This sink appends each micro-batch to the
    * `_spark_metadata` manifest exactly-once and, whenever the COMMITTED
    * small-file count crosses `maxSmallFiles`, runs the in-place
    * [[Optimize.optimizeSink]] under the same staged-manifest swap — so
    * a long soak's file count SAW-TOOTHS around the threshold instead of
    * growing O(batches). Unpartitioned tables (the partitioned layout's
    * maintenance is the partition-scoped OPTIMIZE, run on the operator
    * cadence).
    *
    * Exactly-once: batch data lands at fresh UUID names, INVISIBLE until
    * `log.add(batchId, …)` commits them; a replayed batch finds its id
    * already committed and skips (its moved-but-uncommitted files from a
    * crash are orphans the graced vacuum reclaims); a crash mid-compact
    * leaves swap debris the NEXT batch heals via [[Optimize
    * .repairOptimize]] before appending. The writer's latest batch id
    * survives each compaction, so checkpoint restarts resume seamlessly.
    *
    * `reclaimOnCompact` (default true): after each auto-compaction the
    * retired generation expires and zero-grace vacuums — the policy's
    * POINT is bounded storage, and full reclaim is also what keeps the
    * raw-listing index sidecars (`bloomKeys`/`postingsCols`, refreshed
    * after every batch) CORRECT: retired files left on disk would
    * re-enter the sidecars and serve duplicate rows silently. The trade
    * (documented, spec-pinned): no time travel for this table and a
    * cross-session reader mid-scan of a just-retired file loses it —
    * single-writer-single-reader-session tables only, or pass
    * `reclaimOnCompact = false` WITHOUT index hooks and run graced
    * vacuum + expiry on the operator cadence.
    *
    * `retainMs` (r18) is the middle road: `reclaimOnCompact = false`
    * plus a retention WINDOW — auto-compaction expires and sweeps only
    * history older than the window, so the table stays time-travelable
    * (RESTORE, `graft_table_version`, `graft_table_changes`) across the
    * window while storage stays bounded at live + window-churn. Index
    * hooks still refuse (retained retired files would re-enter the
    * raw-listing sidecars as duplicate rows); serve search from the
    * manifest-masked paths instead.
    *
    * LIMITATION (shared with [[Optimize.upsertSink]]): inside
    * foreachBatch the stop-the-writer guard sees the cloned micro-batch
    * session — run at most one writer per table path. */
  def compactingParquetSink(
      df: DataFrame,
      path: String,
      checkpoint: String,
      maxSmallFiles: Int = 16,
      smallFileBytes: Long = 32L * 1024 * 1024,
      targetFileBytes: Long = 128L * 1024 * 1024,
      reclaimOnCompact: Boolean = true,
      bloomKeys: Seq[String] = Nil,
      postingsCols: Option[(String, String)] = None,
      trigger: Trigger = Trigger.AvailableNow(),
      retainMs: Option[Long] = None
  ): StreamingQuery = {
    require(maxSmallFiles >= 1, s"compactingParquetSink: maxSmallFiles=$maxSmallFiles")
    // RETENTION-WINDOW mode (r18): instead of reclaim's all-or-nothing
    // trade, keep history INSIDE retainMs time-travelable (RESTORE /
    // graft_table_version / graft_table_changes all serve) while
    // auto-compaction expires + sweeps everything beyond it — storage
    // stays bounded at live + window-churn instead of growing forever
    // or being reclaimed to zero history.
    require(retainMs.isEmpty || !reclaimOnCompact,
      "compactingParquetSink: pass retainMs (bounded time-travel window) OR the default " +
        "reclaimOnCompact=true (full reclaim), not both")
    require(retainMs.forall(_ > 0), s"compactingParquetSink: retainMs=${retainMs.get}")
    require((reclaimOnCompact && retainMs.isEmpty) || (bloomKeys.isEmpty && postingsCols.isEmpty),
      "compactingParquetSink: index hooks need full reclaimOnCompact — retired files " +
        "retained inside a time-travel window (or left on disk) would re-enter the " +
        "raw-listing sidecars and serve duplicate rows silently")
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // heals a crashed compaction BEFORE touching the manifest; a
        // checkpoint replay of a committed batch is skipped
        val log = Optimize.appendBatch(batch, path, batchId, "parquet", "_graft_appendsink_",
          s"graft-append-$batchId", "compactingParquetSink")
        // the small-file policy, measured on COMMITTED files only
        val small = log.allFiles().count(_.size < smallFileBytes)
        if (small > maxSmallFiles) {
          Optimize.optimizeSink(spark, path, "parquet", smallFileBytes, targetFileBytes): Unit
          if (reclaimOnCompact) {
            Optimize.expireHistory(spark, path, keep = 0): Unit
            vacuum(spark, path, "parquet", dryRun = false, graceMs = 0L): Unit
          } else retainMs.foreach { w =>
            // the window rides the existing default-retention machinery:
            // vacuum's auto-expiry with the sink's window as the policy
            // (versions younger than w stay restore targets, older ones
            // expire and their unique files sweep)
            vacuumRetaining(spark, path, "parquet", dryRun = false, graceMs = 0L,
              retainMs = w): Unit
          }
        }
        refreshIndexes(spark, path, bloomKeys, postingsCols)
      }
      .start()
  }

  /** The maintenance step of [[maintainedParquetSink]], callable on its
    * own for tables written by other paths (the vacuum/promote cadence). */
  def refreshIndexes(
      spark: SparkSession,
      path: String,
      bloomKeys: Seq[String],
      postingsCols: Option[(String, String)]): Unit = {
    bloomKeys.foreach { k =>
      graft.sources.FileIO.refreshBloomIndex(spark, path, k): Unit
    }
    postingsCols.foreach { case (idCol, textCol) =>
      graft.operators.TextIndex.refreshPostingsIndex(
        spark, path, idCol, textCol,
        graft.operators.TextIndex.defaultIndexDir(path, idCol, textCol)): Unit
    }
  }

  final class WatermarkListener extends StreamingQueryListener {
    private val marks = TrieMap.empty[java.util.UUID, String]
    def watermark(queryId: java.util.UUID): Option[String] = marks.get(queryId)
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val wm = e.progress.eventTime.get("watermark")
      if (wm != null) marks.put(e.progress.id, wm)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}
