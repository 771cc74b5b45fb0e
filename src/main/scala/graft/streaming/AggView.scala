package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** INCREMENTAL MATERIALIZED AGGREGATE VIEW — the classic warehouse IVM:
  * a per-key totals table (`SELECT keys, SUM(x)…, COUNT(*) GROUP BY
  * keys`) maintained batch by batch, so the aggregate answer costs a
  * totals-table read instead of a full-corpus scan. The reference's
  * users build exactly this downstream of the ORC sink (hourly Hive
  * rollups over the committed files); here the rollup is maintained
  * inside the engine with a commit protocol instead of re-scanned.
  *
  * Merge algebra: every maintained column must be MERGEABLE — SUM and
  * COUNT merge by addition (this implementation), MIN/MAX would merge
  * by min/max (same shape, add when needed); AVG is derived at read
  * time as sum/count. Non-mergeable aggregates (exact median) need the
  * corpus and are out of scope by construction.
  *
  * Exactly-once under at-least-once redelivery: ADDITIVE merges are not
  * idempotent (re-applying a batch adds twice — unlike the key-REPLACE
  * upsert sink, which is naturally replay-safe), so the commit protocol
  * makes replay a structural no-op:
  *  - totals live in immutable `v=N/` version dirs; the `_CURRENT`
  *    pointer is the shared [[graft.sources.Sidecar]] protocol (r15 —
  *    one implementation of the atomic flip, not a bespoke twin): the
  *    live version and the `applied=<batchId>` replay ledger become
  *    visible together in ONE atomic temp+rename;
  *  - [[applyBatch]] first reads the pointer: `batchId <=
  *    lastAppliedBatchId` returns without touching anything, so a
  *    foreachBatch redelivery after a post-commit crash re-applies a
  *    no-op;
  *  - a crash BEFORE the flip leaves orphan `v=N+1` debris the next
  *    apply overwrites (blue/green) — the committed view never sees it.
  *  Batch ids must be monotone (Structured Streaming's foreachBatch
  *  contract); [[sink]] wires exactly that.
  *
  * Scale posture: an aggregate view is small by construction (one row
  * per key), so each apply rewrites the totals table — one narrow
  * groupBy of the BATCH (not the corpus), one full-outer merge join
  * against the current totals, one metadata-scale write. At a key
  * cardinality where the rewrite itself hurts, use the BUCKETED mode
  * ([[applyBatchBucketed]]/[[readBucketed]]/[[sinkBucketed]]): totals
  * partitioned by a key-hash bucket, an apply reads and rewrites only
  * the buckets the batch touches — same single-pointer commit protocol,
  * per-apply cost tracking touched-bucket count instead of key
  * cardinality (AggViewSpec pins equivalence; SCALING.md measures it).
  */
object AggView {

  private def pointerPath(dir: String) = s"$dir/_CURRENT"
  private def versionDir(dir: String, v: Int) = s"$dir/v=$v"

  /** Grace before a superseded version dir is deleted: a reader that
    * resolved the pointer just before rapid successive applies must be
    * able to finish its scan (the EpochStore.retireCompacted posture). */
  val DefaultGcGraceMs: Long = EpochStore.DefaultLeaseGraceMs

  /** (version, lastAppliedBatchId) — (0, -1) before bootstrap.
    *
    * r15: the FLAT view's pointer is the shared [[graft.sources
    * .Sidecar]] protocol, not a bespoke implementation — one live
    * version on the pointer's first line, the replay ledger riding the
    * fingerprint slot (a single `applied=<batchId>` entry: the view's
    * "source snapshot" IS the last applied batch). One atomic-flip
    * implementation to keep correct instead of two; versions GC through
    * Sidecar's _DEAD-marker grace window. The BUCKETED pointer below
    * stays map-valued (bucket → version does not fit a single live set)
    * — the remaining bespoke surface, shared-discipline but its own
    * parser. */
  def pointer(spark: SparkSession, dir: String): (Int, Long) = {
    import graft.sources.Sidecar
    // pre-r15 views committed a one-line "<version> <batchId>" pointer;
    // the Sidecar format is one version int on line 1 + an applied=
    // line, so a 2-token single line is unambiguously LEGACY — honor it
    // (the next applyBatch rewrites in the new format: migration on
    // first write, accumulated totals preserved)
    legacyPointer(spark, dir).getOrElse {
      Sidecar.current(spark, dir) match {
        case None => (0, -1L)
        case Some(cur) =>
          val ledger = cur.fingerprint.collect {
            case s if s.startsWith("applied=") => s.stripPrefix("applied=").toLong
          }
          require(ledger.size == 1,
            s"malformed AggView ledger at $dir: expected one applied=<batchId> entry, " +
              s"got ${cur.fingerprint}")
          (cur.version, ledger.head)
      }
    }
  }

  private def legacyPointer(spark: SparkSession, dir: String): Option[(Int, Long)] =
    EpochStore.readSmallFile(spark, pointerPath(dir)).flatMap { body =>
      val lines = body.trim.split("\n").map(_.trim).filter(_.nonEmpty)
      val toks = if (lines.length == 1) lines.head.split("\\s+") else Array.empty[String]
      if (toks.length == 2) Some((toks(0).toInt, toks(1).toLong)) else None
    }

  /** Per-batch partials: one row per key — `n` plus `sum_<c>` per
    * maintained column (LONG-exact: callers pass integral columns, e.g.
    * prices pre-scaled to cents). */
  private def partials(batch: DataFrame, keyCols: Seq[String], sumCols: Seq[String]): DataFrame =
    batch
      .groupBy(keyCols.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        sumCols.map(c => sum(col(c).cast("long")).as(s"sum_$c")): _*)

  /** Apply one batch of raw rows. Returns false (and touches nothing)
    * when `batchId` was already applied — the replay no-op. */
  def applyBatch(
      spark: SparkSession,
      dir: String,
      batchId: Long,
      batch: DataFrame,
      keyCols: Seq[String],
      sumCols: Seq[String],
      gcGraceMs: Long = DefaultGcGraceMs
  ): Boolean = {
    val (v, last) = pointer(spark, dir)
    if (batchId <= last) return false
    val delta = partials(batch, keyCols, sumCols)
    val aggNames = "n" +: sumCols.map(c => s"sum_$c")
    val merged =
      if (v == 0) delta
      else {
        val cur = spark.read.parquet(versionDir(dir, v))
        // full-outer merge: batch-new keys enter, untouched keys carry over
        cur
          .select((keyCols.map(col) ++ aggNames.map(c => col(c).as(s"__cur_$c"))): _*)
          .join(delta, keyCols, "full_outer")
          .select(
            (keyCols.map(col) ++ aggNames.map(c =>
              (coalesce(col(s"__cur_$c"), lit(0L)) + coalesce(col(c), lit(0L))).as(c))): _*)
      }
    merged.write.mode(SaveMode.Overwrite).parquet(versionDir(dir, v + 1))
    // THE commit + superseded-version GC, both Sidecar's: version and
    // ledger flip in one atomic rename; dead versions get a _DEAD marker
    // at supersede time and sweep once aged past the grace window. The
    // JUST-superseded version rides extraLive for one more apply — the
    // pre-r15 reader cushion: even at gcGraceMs = 0 a reader that
    // resolved the pointer right before THIS commit keeps its files
    // until the NEXT one (readers only ever dereference the newest dir,
    // so the extra live entry changes GC timing, nothing else).
    graft.sources.Sidecar.commit(
      spark, dir, v + 1, Set(s"applied=$batchId"), gcGraceMs = gcGraceMs,
      extraLive = if (v >= 1) Seq(v) else Nil)
    true
  }

  /** The committed totals: one row per key with `n` and `sum_<c>`
    * columns. Fails loudly before bootstrap. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val (v, _) = pointer(spark, dir)
    require(v >= 1, s"no committed AggView at $dir — apply a batch first")
    spark.read.parquet(versionDir(dir, v))
  }

  // ------------------------------------------------------------------
  // BUCKETED totals — the documented key-cardinality scale path: totals
  // partitioned by a key-hash bucket, an apply rewrites ONLY the buckets
  // its batch touches (the upsertByKey dynamic-partition-rewrite idea),
  // under the SAME single-pointer commit protocol. Layout:
  //   dir/v=N/b=K/part-*.parquet   — version N holds only the buckets
  //                                  the N-th apply touched
  //   dir/_CURRENT                 — "vMax batchId nBuckets" on line 1,
  //                                  then one "bucket version" line per
  //                                  live bucket: bucket K's current
  //                                  totals live at v=<version>/b=K.
  //                                  nBuckets is part of the COMMIT: a
  //                                  later apply (or sink restart) with a
  //                                  different modulus would re-bucket
  //                                  keys so old totals sit in buckets
  //                                  the merge never reads — the pointer
  //                                  pins it and every apply/read checks.
  // The pointer write is still the ONE atomic commit: a crash after the
  // data write but before the flip leaves v=N+1 as invisible debris the
  // next apply overwrites; replay (batchId <= ledger) is a no-op before
  // anything is read. Superseded versions (no bucket maps to them) get
  // a _DEAD marker at supersede time and are deleted once the marker
  // ages past the grace window — the same reader protection as the flat
  // GC, measured from the actual supersede instant.
  // ------------------------------------------------------------------

  /** Deterministic key-hash bucket: non-negative xxhash64 mod n. */
  private def bucketExpr(keyCols: Seq[String], nBuckets: Int) =
    pmod(xxhash64(keyCols.map(col): _*), lit(nBuckets.toLong)).cast("int")

  /** (vMax, lastAppliedBatchId, committedNBuckets, bucket -> version) —
    * (0, -1, -1, empty) before bootstrap. committedNBuckets is -1 only
    * for pre-r14 pointers written before the modulus was pinned; the
    * next apply records it. */
  def bucketedPointer(spark: SparkSession, dir: String): (Int, Long, Int, Map[Int, Int]) =
    EpochStore.readSmallFile(spark, pointerPath(dir)).fold((0, -1L, -1, Map.empty[Int, Int])) {
      body =>
        val lines = body.trim.split("\n").map(_.trim).filter(_.nonEmpty)
        val head = lines.head.split("\\s+")
        require(head.length == 2 || head.length == 3,
          s"malformed bucketed AggView pointer at $dir: '${lines.head}'")
        val m = lines.tail.map { l =>
          val Array(b, v) = l.split("\\s+")
          b.toInt -> v.toInt
        }.toMap
        (head(0).toInt, head(1).toLong, if (head.length == 3) head(2).toInt else -1, m)
    }

  private def requireSameModulus(dir: String, committed: Int, asked: Int): Unit =
    require(committed == -1 || committed == asked,
      s"bucketed AggView at $dir was committed with nBuckets=$committed but this call asked " +
        s"for nBuckets=$asked — a different modulus re-buckets keys so old totals sit in " +
        "buckets the merge never reads (silent duplicate keys). Use the committed modulus, " +
        "or rebuild the view from scratch to re-bucket")

  /** Bucketed [[applyBatch]]: identical merge algebra and replay ledger,
    * but the merge join reads — and the write rewrites — ONLY the
    * buckets the batch touches. Per-apply cost tracks the batch's
    * touched-bucket count, not the view's key cardinality. */
  def applyBatchBucketed(
      spark: SparkSession,
      dir: String,
      batchId: Long,
      batch: DataFrame,
      keyCols: Seq[String],
      sumCols: Seq[String],
      nBuckets: Int,
      gcGraceMs: Long = DefaultGcGraceMs
  ): Boolean = {
    require(nBuckets >= 1, "nBuckets must be >= 1")
    val (vMax, last, committedN, bmap) = bucketedPointer(spark, dir)
    requireSameModulus(dir, committedN, nBuckets)
    if (batchId <= last) return false
    val delta = partials(batch, keyCols, sumCols)
    val aggNames = "n" +: sumCols.map(c => s"sum_$c")
    val withB = delta.withColumn("__b", bucketExpr(keyCols, nBuckets))
    // touched buckets: metadata-scale by construction (≤ nBuckets)
    val touched = withB.select(col("__b")).distinct().collect().map(_.getInt(0)).sorted
    val curPaths = touched.flatMap(b => bmap.get(b).map(v => s"$dir/v=$v/b=$b"))
    val merged =
      if (curPaths.isEmpty) withB
      else {
        val cur = spark.read.parquet(curPaths.toIndexedSeq: _*)
        cur
          .select((keyCols.map(col) ++ aggNames.map(c => col(c).as(s"__cur_$c"))): _*)
          .join(delta, keyCols, "full_outer")
          .select(
            (keyCols.map(col) ++ aggNames.map(c =>
              (coalesce(col(s"__cur_$c"), lit(0L)) + coalesce(col(c), lit(0L))).as(c))): _*)
          .withColumn("__b", bucketExpr(keyCols, nBuckets))
      }
    val vNew = vMax + 1
    // one output file per touched bucket: totals are metadata-scale per
    // bucket by construction, and the NEXT apply re-reads whole buckets —
    // without this, every apply writes shuffle-partition-many small files
    // into each b= dir and read cost creeps with history
    merged
      .withColumnRenamed("__b", "b")
      .repartition(math.max(1, touched.length), col("b"))
      .write
      .mode(SaveMode.Overwrite)
      .partitionBy("b")
      .parquet(s"$dir/v=$vNew")
    val newMap = bmap ++ touched.map(_ -> vNew)
    val body = (s"$vNew $batchId $nBuckets" +: newMap.toSeq.sorted.map { case (b, v) => s"$b $v" })
      .mkString("\n")
    // atomic (temp + rename OVERWRITE): a delete-then-rename spelling has
    // a window with NO pointer, where a crash or racing reader sees
    // (0, -1) and the next apply rebuilds the view from one batch's delta
    EpochStore.writeAtomic(spark, pointerPath(dir), body)
    // post-commit GC: versions no bucket references anymore get a _DEAD
    // marker now (the supersede instant) and are swept once aged
    graft.sources.Sidecar.gcDeadVersions(spark, dir, newMap.values.toSet + vNew, gcGraceMs)
    true
  }

  /** The committed bucketed totals — the union of every live bucket's
    * current version dir. One row per key, same schema as [[read]].
    * Pass `expectedNBuckets` to assert the committed modulus (callers
    * that hard-code a modulus should — a mismatch means the view they
    * think they're reading isn't the one on disk). */
  def readBucketed(spark: SparkSession, dir: String, expectedNBuckets: Int = -1): DataFrame = {
    val (_, _, committedN, bmap) = bucketedPointer(spark, dir)
    if (expectedNBuckets >= 1) requireSameModulus(dir, committedN, expectedNBuckets)
    require(bmap.nonEmpty, s"no committed bucketed AggView at $dir — apply a batch first")
    val paths = bmap.toSeq.sorted.map { case (b, v) => s"$dir/v=$v/b=$b" }
    spark.read.parquet(paths: _*)
  }

  /** Bucketed twin of [[sink]]. */
  def sinkBucketed(
      df: DataFrame,
      dir: String,
      keyCols: Seq[String],
      sumCols: Seq[String],
      nBuckets: Int,
      checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      gcGraceMs: Long = DefaultGcGraceMs
  ): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatchBucketed(
          batch.sparkSession, dir, batchId, batch, keyCols, sumCols, nBuckets, gcGraceMs)
        ()
      }
      .start()

  /** Structured Streaming maintenance: foreachBatch feeds each
    * micro-batch through [[applyBatch]] keyed by Spark's monotone
    * batchId, so checkpoint replay after any crash position re-applies
    * a no-op and the view stays exactly-once. */
  def sink(
      df: DataFrame,
      dir: String,
      keyCols: Seq[String],
      sumCols: Seq[String],
      checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      gcGraceMs: Long = DefaultGcGraceMs
  ): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch.sparkSession, dir, batchId, batch, keyCols, sumCols, gcGraceMs)
        ()
      }
      .start()
}
