package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** File source/sink surface (SURVEY §2.2 "Sources / sinks / scans").
  *
  * The reference's entire purpose is landing rows into partitioned,
  * Hive-queryable ORC files (reference RowOrcBucketingSink.java:26,111;
  * README.md:13,17). Here the batch half of that capability is Spark's
  * `write.partitionBy(...).orc(path)` — the bucket directory layout of the
  * reference's `Bucketer` (RowOrcBucketingSink.java:251-254) maps to
  * Hive-style `col=value/` partition dirs, and the columnar
  * `VectorizedRowBatch` staging (RowOrcWriter.java:38,65-119) is built
  * into Spark's OrcFileFormat. The streaming, exactly-once half lives in
  * graft.streaming (FileStreamSink + checkpoint manifest commit) and is
  * exercised by OrcStreamingSinkSpec. The oracle gates over
  * this surface live in [[graft.gates.TableGates]].
  *
  * Scale posture: `partitionBy` on a low-cardinality column (returnflag:
  * 3 values) keeps file counts = partitions × tasks, bounded; the re-read
  * filter on the partition column prunes directories at planning time
  * (visible as PartitionFilters in explain), which at 100 TB is the
  * difference between scanning one partition and the whole table.
  */
object FileIO {
  /** Range-clustered sorted write — the data-SKIPPING layout for scan-
    * heavy range predicates (the single-column little sibling of
    * Z-ordering): `repartitionByRange` gives each output FILE a disjoint
    * value range of `sortCols`, and the within-partition sort gives each
    * ROW GROUP a tight min/max — so a later range filter prunes whole
    * files via parquet/ORC statistics instead of decoding them. At
    * 100 TB this turns "scan the table" into "scan the few files whose
    * stats overlap the predicate"; `files` sizes the layout (one range
    * per file). The write itself costs one range-exchange of the data —
    * amortized over every subsequent selective scan.
    *
    * Sort-key type matters (measured, SortedLayoutSpec): DATE and
    * integral keys skip row groups via stats; TIMESTAMP keys do not
    * (the session's default INT96 encoding carries no usable stats, and
    * even INT64-micros timestamp predicates were not converted to
    * parquet filters in this Spark build) — cast event-time keys to
    * date (the natural clustering grain anyway) before sorting. */
  def writeSorted(
      df: DataFrame,
      path: String,
      sortCols: Seq[String],
      files: Int,
      format: String = "parquet"
  ): Unit =
    df.repartitionByRange(files, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write
      .mode(SaveMode.Overwrite)
      .format(format)
      .save(path)

  /** Morton (Z-order) interleave of two 16-bit bucket columns → one
    * 32-bit curve position. Pure builtin bitwise Column arithmetic (the
    * classic mask-cascade bit spread), so the whole computation stays
    * inside whole-stage codegen — no UDF, no custom expression needed.
    * Inputs must already be in [0, 65535]. */
  private[graft] def mortonCode(bx: org.apache.spark.sql.Column, by: org.apache.spark.sql.Column) = {
    def spread(v: org.apache.spark.sql.Column) = {
      // 16 bits → even bit positions of 32: abcd → a_b_c_d
      val s1 = v.bitwiseOR(shiftleft(v, 8)).bitwiseAND(lit(0x00FF00FFL))
      val s2 = s1.bitwiseOR(shiftleft(s1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
      val s3 = s2.bitwiseOR(shiftleft(s2, 2)).bitwiseAND(lit(0x33333333L))
      s3.bitwiseOR(shiftleft(s3, 1)).bitwiseAND(lit(0x55555555L))
    }
    spread(bx.cast("long")).bitwiseOR(shiftleft(spread(by.cast("long")), 1))
  }

  /** N-dimensional Morton interleave (r16): bit i of dimension d lands
    * at curve position i·n + d — the 2-D mask cascade's general form,
    * spelled as builtin shift/mask/or Column arithmetic (bits·n terms,
    * all inside whole-stage codegen; no UDF). `bits` per dimension, so
    * the curve fits a signed long for bits·n ≤ 63. Dimension 0 owns the
    * LOWEST bit of each group, matching [[mortonCode]] exactly at
    * n = 2, bits = 16 (spec-pinned). */
  private[graft] def mortonCodeN(
      buckets: Seq[org.apache.spark.sql.Column], bits: Int): org.apache.spark.sql.Column = {
    val n = buckets.size
    require(n >= 2, s"mortonCodeN needs >= 2 dimensions, got $n")
    require(bits * n <= 63, s"mortonCodeN: $bits bits x $n dims overflows a signed long")
    buckets.zipWithIndex
      .flatMap { case (v, d) =>
        val vl = v.cast("long")
        (0 until bits).map { i =>
          shiftleft(shiftright(vl, i).bitwiseAND(lit(1L)), i * n + d)
        }
      }
      .reduce(_ bitwiseOR _)
  }

  /** Z-ORDER clustered write — the TWO-dimensional data-skipping layout:
    * each numeric dimension is min/max-scaled to a 16-bit bucket, the
    * buckets interleave into a Morton curve position, and the data is
    * range-partitioned + sorted along the curve. Because the curve
    * preserves locality in BOTH dimensions, every output file covers a
    * small tile of the (dimA, dimB) plane — so a selective range filter
    * on EITHER dimension alone prunes most files via row-group min/max
    * stats, where a single-column sort prunes only its own dimension and
    * scatters the other across every file. The classic lakehouse layout
    * for "filter by either of two keys" tables (e.g. time × tenant) at
    * 100 TB.
    *
    * The per-dimension bounds come from one tiny min/max aggregate
    * (4 scalars — metadata-scale, same class as IVF's centroid collect);
    * degenerate dimensions (min = max) bucket to 0. The curve column is
    * dropped before the write — it exists only to drive the exchange and
    * the sort. */
  def writeZOrdered(
      df: DataFrame,
      path: String,
      dimA: String,
      dimB: String,
      files: Int,
      format: String = "parquet"
  ): Unit =
    zOrdered(df, dimA, dimB, files).write
      .mode(SaveMode.Overwrite)
      .format(format)
      .save(path)

  /** The clustered FRAME behind [[writeZOrdered]] — range-partitioned +
    * sorted along the Morton curve, helper column dropped (the sort
    * survives projection). Exposed so other writers (the in-place
    * streaming-table OPTIMIZE) can land the same layout through their
    * own commit protocol. */
  private[graft] def zOrdered(
      df: DataFrame,
      dimA: String,
      dimB: String,
      files: Int
  ): DataFrame = zOrderedN(df, Seq(dimA, dimB), files)

  /** N-dimensional Z-order write (r16): partition-prune-hostile tables
    * often filter on 3–4 independent keys (tenant × time × entity);
    * two 16-bit dims were a curve-width limit, not a semantic one. Bits
    * per dimension shrink to keep the curve in a signed long
    * (min(16, 63/n)), so pruning resolution per dim degrades gracefully
    * as dims grow — the standard lakehouse trade (4 dims ≈ 15 bits
    * each). Same one metadata-scale min/max collect, same
    * range-partition + sort along the curve, same builtin-only
    * arithmetic. */
  def writeZOrderedN(
      df: DataFrame,
      path: String,
      dims: Seq[String],
      files: Int,
      format: String = "parquet"
  ): Unit =
    zOrderedN(df, dims, files).write
      .mode(SaveMode.Overwrite)
      .format(format)
      .save(path)

  /** @param prefix partition columns to cluster AHEAD of the curve —
    *        the partition-scoped OPTIMIZE shape (r17): range-partitioning
    *        on (prefix..., __z) keeps each Hive partition's rows together
    *        so the `partitionBy` write splits tasks along partition
    *        boundaries and every partition dir's files still cover tight
    *        curve tiles. Empty (the default) is the plain table-wide
    *        curve. */
  private[graft] def zOrderedN(
      df: DataFrame,
      dims: Seq[String],
      files: Int,
      prefix: Seq[String] = Nil
  ): DataFrame = {
    require(dims.size >= 2, s"z-order needs >= 2 dimensions, got ${dims.mkString(",")}")
    val bits = math.min(16, 63 / dims.size)
    val maxBucket = (1L << bits) - 1
    val aggs = dims.flatMap(d => Seq(
      min(col(d)).cast("double").as(s"${d}_min"),
      max(col(d)).cast("double").as(s"${d}_max")))
    val Array(b) = df.agg(aggs.head, aggs.tail: _*).collect()
    def bucket(c: org.apache.spark.sql.Column, lo: Double, hi: Double) =
      if (hi <= lo) lit(0L)
      else least(lit(maxBucket),
        floor((c.cast("double") - lit(lo)) * lit(maxBucket / (hi - lo))).cast("long"))
    val buckets = dims.zipWithIndex.map { case (d, i) =>
      bucket(col(d), b.getDouble(2 * i), b.getDouble(2 * i + 1))
    }
    val z =
      if (dims.size == 2) mortonCode(buckets(0), buckets(1)) // the 2-D mask-cascade fast path
      else mortonCodeN(buckets, bits)
    val keys = prefix.map(col) :+ col("__z")
    df.withColumn("__z", z)
      .repartitionByRange(files, keys: _*)
      .sortWithinPartitions(keys: _*)
      .drop("__z")
  }

  /** Small-file COMPACTION — the table-maintenance pass every streaming
    * or incremental sink needs: micro-batch commits leave thousands of
    * KB-sized files whose per-file open/footer cost dominates scans at
    * 100 TB. Reads the current layout, sizes the output file count from
    * the ACTUAL on-disk bytes (⌈total/targetFileBytes⌉, over the
    * recursive data-file listing), and rewrites it in the copy-on-write
    * layout [[graft.streaming.Optimize]] uses: an unpartitioned dir
    * repacks with `coalesce` — a shuffle-FREE narrow repack (tasks just
    * concatenate input splits; no exchange appears in the plan); a
    * Hive-partitioned dir is hash-split across its partition dirs, whose
    * values round-trip verbatim (read as strings, never re-typed).
    * Returns (input file count, output file count).
    *
    * Row-order note: coalesce preserves per-input-split order but not a
    * global order — compaction is for append-style tables; re-run
    * writeSorted/writeZOrdered instead when a clustered layout must
    * survive. */
  def compact(
      spark: SparkSession,
      inPath: String,
      outPath: String,
      targetFileBytes: Long,
      format: String = "parquet"
  ): (Int, Int) = {
    val lens = dataFileLenByPath(spark, inPath)
    val nOut = math.max(1L, (lens.values.sum + targetFileBytes - 1) / targetFileBytes).toInt
    val rootAbs = tableRootAbs(spark, inPath)
    val partCols = lens.keys.iterator
      .map(_.stripPrefix(rootAbs + "/").split('/').init.map(_.split("=", 2)(0)).toSeq)
      .find(_.nonEmpty).getOrElse(Nil)
    val inferred = spark.read.format(format).load(inPath)
    val rows =
      if (partCols.isEmpty) inferred
      else spark.read.format(format)
        .schema(org.apache.spark.sql.types.StructType(inferred.schema.map(f =>
          if (partCols.contains(f.name)) f.copy(dataType = org.apache.spark.sql.types.StringType)
          else f)))
        .load(inPath)
    graft.streaming.Optimize.cowLayout(rows, partCols, nOut)
      .mode(SaveMode.Overwrite)
      .format(format)
      .save(outPath)
    (lens.size, nOut)
  }

  /** The table root's absolute filesystem path (scheme-normalized): the
    * base every file identity below is RELATIVE to. */
  private[graft] def tableRootAbs(spark: SparkSession, path: String): String = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.makeQualified(root).toUri.getPath
  }

  /** A file's identity relative to its table root ("part=a/part-....
    * parquet"). Basenames alone are NOT unique in a partitioned table —
    * one write job reuses the same `part-0000N-<jobUUID>` name in EVERY
    * partition directory it writes — so the partition-dir prefix is part
    * of the identity. For RAW filesystem paths (listings): Hadoop
    * Path(String) treats its input as unencoded, so the name comes back
    * verbatim. */
  private def relPath(fileRef: String, rootAbs: String): String =
    new org.apache.hadoop.fs.Path(fileRef).toUri.getPath.stripPrefix(rootAbs + "/")

  /** Same identity, but for `input_file_name()` output — which is a
    * URL-ENCODED URI (Hive-escaped partition dirs double-encode: on-disk
    * `part=t%3Acolon` arrives as `part=t%253Acolon`). One URI decode
    * brings it back to the on-disk name so scan-sourced and
    * listing-sourced identities compare in ONE space. */
  private[graft] def relPathFromScan(fileRef: String, rootAbs: String): String =
    new java.net.URI(fileRef).getPath.stripPrefix(rootAbs + "/")

  /** Spark's `basePath` option must name a DIRECTORY: the table root for
    * a dir-shaped table, its parent for a single-file table. */
  private[graft] def basePathOf(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val q = fs.makeQualified(p)
    if (fs.getFileStatus(q).isDirectory) q.toString else q.getParent.toString
  }

  /** `input_file_name()` URI → a path string Spark's readers resolve to
    * the on-disk file (Path(String) is unencoded, so feed it the DECODED
    * form — the encoded URI would look for a literally-%XX-named file). */
  private def decodeScanPath(fileRef: String): String =
    new org.apache.hadoop.fs.Path(new java.net.URI(fileRef)).toString

  /** Recursive data-file identities (root-relative paths) under a table,
    * skipping underscore/dot-prefixed metadata (sidecars, _SUCCESS,
    * .crc). The staleness fingerprint [[bloomPointLookup]] validates
    * against. */
  private[graft] def dataFileNames(spark: SparkSession, path: String): Set[String] =
    dataFilePaths(spark, path).keySet

  /** The GENERATION identity set of a table's current data files — what
    * staleness fingerprints compare against (see [[DataFileId]]). */
  private[graft] def dataFileIdentitySet(spark: SparkSession, path: String): Set[String] =
    dataFileIds(spark, path).map(_.identity).toSet

  /** The bloom sidecar's [[Sidecar]] root: version dirs + the single
    * `_CURRENT` pointer carrying the live version AND the build-time
    * table fingerprint (every data-file identity present when the index
    * was built, INCLUDING files whose keys were all null and so carry no
    * bloom row). [[bloomPointLookup]] refuses to prune against a listing
    * that no longer matches the committed fingerprint — a rewritten
    * table would otherwise be pruned against vanished file names with no
    * error (stale-sidecar hazard). Version + fingerprint commit in ONE
    * atomic pointer flip, so a crash mid-(re)build leaves the OLD index
    * serving consistently — never a fingerprint-less or half-swapped
    * sidecar. */
  private def bloomRoot(path: String, keyCol: String) = s"$path/_bloom_$keyCol"

  private def bloomCurrent(spark: SparkSession, path: String, keyCol: String): Sidecar.Current =
    Sidecar.current(spark, bloomRoot(path, keyCol)).getOrElse(
      throw new IllegalArgumentException(
        s"no committed bloom sidecar at ${bloomRoot(path, keyCol)} — build the index " +
          "(buildBloomIndex) before point lookups"))

  /** The committed sidecar rows (file, bloom) — the CURRENT version only
    * (older versions may linger inside the GC grace window). */
  def readBloomSidecar(spark: SparkSession, path: String, keyCol: String): DataFrame =
    spark.read.parquet(bloomCurrent(spark, path, keyCol).dataDir)

  /** One data file's three identities: the root-relative path (the
    * within-listing key — unique at any instant), the full path (what a
    * scan reads), and the GENERATION identity `rel#mtime#len` (what
    * staleness fingerprints store — a file REWRITTEN or deleted-then-
    * recreated at the same path gets a new generation, so carried-over
    * index rows for the old bytes can never silently serve: the
    * fingerprint compare flags it as gone+fresh instead).
    *
    * Granularity caveat: mtime resolution is filesystem-dependent (1 s
    * on many local filesystems and object stores), so a SAME-LENGTH
    * in-place rewrite landing within one mtime tick of the original
    * keeps the old generation and stale index rows would serve for the
    * new bytes. This engine's own writers never hit the window — every
    * rewrite path (upsertByKey, Sidecar versions, the streaming sinks)
    * writes job-UUID-fresh file NAMES, which changes `rel` and so the
    * generation unconditionally. The caveat exists for FOREIGN writers
    * that mutate parquet bytes in place at the same path+length within
    * one tick; if that is a real workload, strengthen the identity with
    * a content token (e.g. the parquet footer checksum) at listing time
    * — a deliberate listing-cost trade this build does not pay. */
  private[graft] final case class DataFileId(rel: String, full: String, identity: String)

  /** Every data file under `path`, recursively, skipping
    * underscore/dot-prefixed metadata (sidecars, _SUCCESS, .crc) — the
    * one walk [[graft.streaming.StreamSinks.dataFiles]]. */
  private def dataFileStatuses(
      spark: SparkSession, path: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val root = new org.apache.hadoop.fs.Path(path)
    graft.streaming.StreamSinks.dataFiles(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  /** Recursive data-file listing with all three identities. */
  private[graft] def dataFileIds(spark: SparkSession, path: String): Seq[DataFileId] = {
    val rootAbs = tableRootAbs(spark, path)
    dataFileStatuses(spark, path).map { s =>
      val rel = relPath(s.getPath.toString, rootAbs)
      DataFileId(rel, s.getPath.toString, s"$rel#${s.getModificationTime}#${s.getLen}")
    }
  }

  /** Recursive data-file FULL paths keyed by root-relative identity,
    * same hidden-skip rule as [[dataFileNames]]. */
  private[graft] def dataFilePaths(spark: SparkSession, path: String): Map[String, String] =
    dataFileIds(spark, path).map(id => id.rel -> id.full).toMap

  /** URI path → byte length of every data file under `path` in ONE
    * recursive listing — replaces per-file driver getFileStatus loops
    * (r19: one listing call per directory instead of one RPC per FILE;
    * on an object store the per-file form is O(files) round trips).
    * Callers sum over their OWN file set (e.g. a read's `inputFiles`,
    * which a _spark_metadata manifest may restrict below the listing),
    * so the sized byte total is unchanged vs the per-file form. Same
    * hidden-skip rule as [[dataFileIds]]. */
  private[graft] def dataFileLenByPath(spark: SparkSession, path: String): Map[String, Long] =
    dataFileStatuses(spark, path).map(s => s.getPath.toUri.getPath -> s.getLen).toMap

  /** Total bytes of `df.inputFiles` restricted to `within`, via one
    * recursive listing (see [[dataFileLenByPath]]). `filter` applies to
    * the URI-decoded path — the raw on-disk form, so Hive-escaped
    * partition segments compare in one space. */
  private[graft] def inputFileBytes(
      spark: SparkSession,
      df: DataFrame,
      within: String,
      filter: String => Boolean = _ => true): Long = {
    val lens = dataFileLenByPath(spark, within)
    df.inputFiles.iterator
      .map(f => new java.net.URI(f).getPath)
      .filter(filter)
      .map(p => lens.getOrElse(p,
        new org.apache.hadoop.fs.Path(within).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
          .getFileStatus(new org.apache.hadoop.fs.Path(p)).getLen))
      .sum
  }

  /** INCREMENTAL sidecar maintenance — O(changed files), not O(table):
    * files that vanished since the last (re)build drop out of the
    * sidecar, files that APPEARED are scanned and sketched, and every
    * other file's bloom bytes carry over untouched — after an append (or
    * a partition-scoped [[upsertByKey]], which rewrites only touched
    * partitions' files) the refresh costs one scan of the NEW files
    * instead of the table. The refreshed rows land in a NEW [[Sidecar]]
    * version dir and become visible — together with the new fingerprint
    * — in one atomic pointer flip, so a crash anywhere mid-update leaves
    * the OLD sidecar serving (lookups correct for the old listing,
    * loudly STALE for the new one) — never a half-swapped sidecar or a
    * silently wrong prune.
    *
    * @return (filesAdded, filesRemoved) */
  def updateBloomIndex(
      spark: SparkSession,
      path: String,
      keyCol: String,
      fpp: Double = 0.01,
      format: String = "parquet"
  ): (Int, Int) = {
    import org.apache.spark.util.sketch.BloomFilter
    val cur = bloomCurrent(spark, path, keyCol) // loud when absent
    val indexed = cur.fingerprint
    val ids = dataFileIds(spark, path)
    // GENERATION identities (rel#mtime#len): a file rewritten or
    // deleted-then-recreated at the SAME path shows up as gone+fresh, so
    // its old bloom rows are dropped and the new bytes rescanned — the
    // path-only compare would have silently kept stale rows
    val gone = indexed -- ids.map(_.identity)
    val fresh = ids.filterNot(id => indexed.contains(id.identity)).sortBy(_.rel)
    if (gone.isEmpty && fresh.isEmpty) return (0, 0)
    val rootAbs = tableRootAbs(spark, path)
    val relUdf = udf((f: String) => relPathFromScan(f, rootAbs))
    // carried-over rows = files whose GENERATION is still indexed: drop
    // vanished identities AND rescanned rels (an unchanged file's rel
    // maps to exactly one live generation)
    val keepRels = ids.filter(id => indexed.contains(id.identity)).map(_.rel)
    val keep = spark.read.parquet(cur.dataDir)
      .filter(relUdf(col("file")).isin(keepRels: _*))
    val freshRows =
      if (fresh.isEmpty) keep.limit(0)
      else {
        val rows = spark.read
          .format(format)
          .option("basePath", basePathOf(spark, path))
          .load(fresh.map(_.full): _*)
          .select(input_file_name().as("f"), col(keyCol).cast("long").as("k"))
          .filter(col("k").isNotNull)
        val Array(stats) = rows.groupBy(col("f")).count().agg(max("count")).collect()
        if (stats.isNullAt(0)) keep.limit(0) // all-null keys: fingerprint-only
        else {
          val perFileCap = math.max(64L, stats.getLong(0) * 2)
          spark
            .createDataFrame(rows.rdd
              .map(r => (r.getString(0), r.getLong(1)))
              .aggregateByKey(BloomFilter.create(perFileCap, fpp))(
                (bf, k) => { bf.putLong(k); bf },
                (a, b) => { a.mergeInPlace(b); a })
              .map { case (f, bf) =>
                val bos = new java.io.ByteArrayOutputStream()
                bf.writeTo(bos)
                (f, bos.toByteArray)
              })
            .toDF("file", "bloom")
        }
      }
    val (vNew, stageDir) = Sidecar.nextStage(spark, bloomRoot(path, keyCol))
    keep.unionByName(freshRows).write.mode(SaveMode.Overwrite).parquet(stageDir)
    Sidecar.commit(spark, bloomRoot(path, keyCol), vNew, ids.map(_.identity).toSet)
    (fresh.size, gone.size)
  }

  /** Build-or-refresh in one call — the idempotent spelling streaming
    * maintenance hooks need ([[graft.streaming.StreamSinks
    * .maintainedParquetSink]]): first batch bootstraps the sidecar,
    * every later batch pays O(changed files). Safe to call redundantly
    * (an unchanged listing returns (0, 0) without touching anything).
    * @return (filesAdded, filesRemoved) — the full build reports
    *         (snapshotSize, 0) */
  def refreshBloomIndex(
      spark: SparkSession,
      path: String,
      keyCol: String,
      fpp: Double = 0.01,
      format: String = "parquet"
  ): (Int, Int) =
    if (Sidecar.current(spark, bloomRoot(path, keyCol)).isEmpty)
      (buildBloomIndex(spark, path, keyCol, fpp, format), 0)
    else updateBloomIndex(spark, path, keyCol, fpp, format)

  /** BLOOM-FILTER FILE-SKIPPING INDEX (table maintenance — the
    * Delta/Iceberg bloom sidecar): point lookups on a NON-clustering
    * key normally open every file (min/max row-group stats are useless
    * when the key is scattered); a per-file Bloom filter lets the
    * planner drop files that definitely lack the key — false positives
    * cost one wasted file read, false negatives are impossible.
    *
    * Index build: one pass over the table keyed by `input_file_name`,
    * per-file sketches merged with `aggregateByKey` — sketch-merge is
    * genuine per-partition imperative logic (the RDD-last-resort
    * carve-out): the shuffle carries one PARTIAL BLOOM per (partition,
    * file), never data rows. The sidecar lands under
    * `_bloom_<key>/` — an underscore-prefixed dir Spark's readers
    * already hide from table scans (the `_spark_metadata` convention).
    *
    * Scale posture: the sidecar is one row per data file. The lookup
    * below collects it (justified: metadata-scale by construction, the
    * same class as the manifest read). At millions of files,
    * partition the sidecar by the table's partition columns and prune
    * it before the collect — or join the candidate file list instead
    * of collecting — same layout, no interface change.
    *
    * @return number of files indexed
    *
    * (Full rebuild is O(table); after appends prefer [[updateBloomIndex]]
    * — O(new files).) */
  def buildBloomIndex(
      spark: SparkSession,
      path: String,
      keyCol: String,
      fpp: Double = 0.01,
      format: String = "parquet"
  ): Int = {
    import org.apache.spark.util.sketch.BloomFilter
    // ONE listing is the snapshot for BOTH the sketch scan and the
    // fingerprint — the scan reads these explicit files (basePath keeps
    // partition columns inferred) and the fingerprint records exactly
    // them, so a file appended concurrently can never be fingerprinted
    // without a bloom row (it shows up as a LOUD staleness mismatch at
    // lookup time instead)
    val snapshot = dataFileIds(spark, path)
    val snapIds = snapshot.map(_.identity).toSet
    val (vNew, stageDir) = Sidecar.nextStage(spark, bloomRoot(path, keyCol))
    // empty table, or all keys null after the long cast: an empty
    // sidecar is the correct index — every file definitely lacks every
    // key. (Null keys are EXCLUDED from the sketches generally: a bloom
    // cannot carry null, point lookups take a concrete Long, and
    // dropping nulls cannot false-negative any non-null probe.)
    def commitEmpty(): Int = {
      spark
        .createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("file", org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("bloom", org.apache.spark.sql.types.BinaryType))))
        .write
        .mode(SaveMode.Overwrite)
        .parquet(stageDir)
      Sidecar.commit(spark, bloomRoot(path, keyCol), vNew, snapIds)
      0
    }
    if (snapshot.isEmpty) return commitEmpty()
    val rows = spark.read
      .format(format)
      .option("basePath", basePathOf(spark, path))
      .load(snapshot.map(_.full).sorted: _*)
      .select(input_file_name().as("f"), col(keyCol).cast("long").as("k"))
      .filter(col("k").isNotNull)
    // expected items per file: one metadata-scale count (2× headroom
    // keeps fpp honest on skewed file sizes)
    val stats = rows.groupBy(col("f")).count().agg(max("count"), count(lit(1))).collect().head
    if (stats.isNullAt(0)) return commitEmpty()
    val perFileCap = math.max(64L, stats.getLong(0) * 2)
    val nFiles = stats.getLong(1).toInt
    val sidecar = rows.rdd
      .map(r => (r.getString(0), r.getLong(1)))
      .aggregateByKey(BloomFilter.create(perFileCap, fpp))(
        (bf, k) => { bf.putLong(k); bf },
        (a, b) => { a.mergeInPlace(b); a })
      .map { case (f, bf) =>
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        (f, bos.toByteArray)
      }
    spark
      .createDataFrame(sidecar)
      .toDF("file", "bloom")
      .write
      .mode(SaveMode.Overwrite)
      .parquet(stageDir)
    Sidecar.commit(spark, bloomRoot(path, keyCol), vNew, snapIds)
    nFiles
  }

  /** Point lookup through the bloom sidecar: returns (matching rows,
    * candidate file count, total file count) — the caller's pruning
    * telemetry. Results are EXACTLY the full-scan filter's (a bloom
    * has no false negatives); only the file set read differs.
    *
    * Staleness gate: the committed fingerprint (data-file identities at
    * build time, carried IN the sidecar's atomic `_CURRENT` pointer) must
    * equal the CURRENT listing — a table rewritten after indexing would
    * otherwise be pruned against vanished file names with no error.
    * Mismatch fails loudly: rebuild the index.
    *
    * `collectSidecar = true` (default) deserializes the blooms on the
    * driver — metadata-scale when files number in the thousands. At
    * MILLIONS of files the blooms themselves dwarf driver memory: set it
    * false and the probe runs as a distributed filter over the sidecar
    * (each executor deserializes only its partition's blooms); only the
    * MATCHING file names — bounded by the true candidate count — come
    * back to the driver to plan the scan. Identical results either way
    * (BloomIndexSpec pins it). */
  def bloomPointLookup(
      spark: SparkSession,
      path: String,
      keyCol: String,
      key: Long,
      format: String = "parquet",
      collectSidecar: Boolean = true
  ): (DataFrame, Int, Int) = {
    import org.apache.spark.util.sketch.BloomFilter
    val current = dataFileIdentitySet(spark, path)
    val cur = bloomCurrent(spark, path, keyCol)
    val indexed = cur.fingerprint
    if (current != indexed) {
      val gone = indexed -- current
      val fresh = current -- indexed
      throw new IllegalStateException(
        s"bloom sidecar at $path/_bloom_$keyCol is STALE: the table changed after indexing " +
          s"(${gone.size} indexed file(s) vanished, ${fresh.size} unindexed file(s) appeared" +
          (gone.take(3) ++ fresh.take(3)).mkString(": ", ", ", "") +
          ") — pruning against it would be silently wrong; rebuild with buildBloomIndex")
    }
    val sidecarDf = spark.read.parquet(cur.dataDir)
    val (candidates, total) =
      if (collectSidecar) {
        val entries = sidecarDf.collect()
        (entries.filter { r =>
          BloomFilter
            .readFrom(new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("bloom")))
            .mightContainLong(key)
        }.map(_.getAs[String]("file")),
          entries.length)
      } else {
        // distributed spelling: blooms stay on executors; the driver sees
        // only matching file names + one count
        val probe = udf { (b: Array[Byte]) =>
          BloomFilter.readFrom(new java.io.ByteArrayInputStream(b)).mightContainLong(key)
        }
        (sidecarDf.filter(probe(col("bloom"))).select("file").collect().map(_.getString(0)),
          sidecarDf.count().toInt)
      }
    val result =
      if (candidates.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          spark.read.format(format).load(path).schema)
      else
        spark.read
          .format(format)
          .load(candidates.map(decodeScanPath).toIndexedSeq: _*)
          .filter(col(keyCol).cast("long") === key)
    (result, candidates.length, total)
  }

  /** BUCKETED TABLE write — the canonical shuffle-ELIMINATION layout
    * for repeated big-big joins at 100 TB: both sides hash-bucketed
    * into the same bucket count on the join key (`bucketBy`) and
    * sorted within buckets (`sortBy`), so a sort-merge join reads
    * bucket i against bucket i directly — NO Exchange, NO per-query
    * Sort, on EVERY subsequent join against the table. One write-time
    * shuffle amortized over every downstream join, vs `repartition`
    * which pays it per query. Bucketing requires a catalog table
    * (the bucket spec lives in table metadata — a bare parquet path
    * cannot carry it), which is also the reference's end state:
    * committed files queryable by NAME. */
  def writeBucketedTable(
      df: DataFrame,
      table: String,
      keyCol: String,
      buckets: Int,
      format: String = "parquet"
  ): Unit = {
    val spark = df.sparkSession
    // Overwrite replaces a REGISTERED table, but an orphan managed-table
    // directory left by a previous SESSION (in-memory catalog gone, dir
    // still on disk) hard-fails creation — drop both, idempotently.
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val warehouse = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = warehouse.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(warehouse)) fs.delete(warehouse, true)
    df.write
      .mode(SaveMode.Overwrite)
      .format(format)
      .bucketBy(buckets, keyCol)
      .sortBy(keyCol)
      .saveAsTable(table)
  }

  /** What [[upsertByKey]] rewrote. */
  final case class UpsertReport(partitionsRewritten: Int, nUpserts: Long)

  /** Partition-scoped MERGE/upsert into a Hive-partitioned table — the
    * lakehouse mutation primitive, without a table format: update rows
    * REPLACE base rows sharing their key, new keys append, and ONLY the
    * partitions the updates touch are rewritten. At 100 TB this is the
    * difference between rewriting a few date partitions and the table.
    *
    * Mechanics: the updates' distinct partition values (METADATA-scale —
    * an upsert batch touches few partitions; same driver-side class as
    * IVF's probed-cluster ids) become a planning-time partition filter
    * on the base scan; affected base rows anti-join the update keys
    * (broadcast when small) and union the updates; the write-back uses
    * DYNAMIC partition overwrite, which replaces exactly the partitions
    * present in the merged frame — untouched partitions' files are never
    * read or written (spec-pinned byte-identical).
    *
    * Contract: `updates` must be unique per key (enforced), must carry
    * the partition column, and the partition value of a key must be
    * STABLE (a key never moves partitions) — the usual warehouse layout
    * (partition derived from immutable attributes: creation date, id
    * hash). A moving key would strand its old row in an untouched
    * partition. `moveGuardKey` DETECTS that: name a bloom-indexed key
    * column ([[buildBloomIndex]]) and every update key is probed against
    * the blooms of the files OUTSIDE the touched partitions before
    * anything is written — a hit fails loudly (a bloom has no false
    * negatives, so silence proves no key moved; a false positive aborts
    * a valid upsert ~fpp of the time, the safe direction). The guard
    * requires a FRESH sidecar (the fingerprint gate) and the upsert's
    * own rewrite staleness it — rebuild the index after a guarded
    * upsert, or the next guard refuses loudly rather than probing
    * vanished files.
    */
  def upsertByKey(
      spark: SparkSession,
      basePath: String,
      updates: DataFrame,
      keyCols: Seq[String],
      partitionCol: String,
      format: String = "parquet",
      moveGuardKey: Option[String] = None
  ): UpsertReport = {
    require(keyCols.nonEmpty, "upsertByKey needs at least one key column")
    require(updates.columns.contains(partitionCol),
      s"updates must carry the partition column '$partitionCol'")
    // Row count + per-key uniqueness in ONE pass (r19 — was count() plus
    // distinct().count(), two full evaluations of the updates subtree):
    // group by key, then a metadata-scale rollup gives the total (sum)
    // and the duplicate flag (max > 1). groupBy groups NULL keys exactly
    // like distinct() did, so the check's semantics are unchanged.
    val sizeRow = updates
      .groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__c"))
      .agg(sum(col("__c")).as("n"), max(col("__c")).as("mx"))
      .collect()(0)
    val nUpd = if (sizeRow.isNullAt(0)) 0L else sizeRow.getLong(0)
    require(sizeRow.isNullAt(1) || sizeRow.getLong(1) <= 1L,
      "updates must be unique per key — collapse them (e.g. keep-latest) before the upsert")
    val partVals = updates.select(col(partitionCol)).distinct().collect().map(_.get(0))
    moveGuardKey.foreach { kc =>
      require(keyCols.contains(kc),
        s"moveGuardKey '$kc' must be one of the upsert's key columns ${keyCols.mkString(",")}")
      // fingerprint gate: probing a stale sidecar would be silently wrong
      val current = dataFileIdentitySet(spark, basePath)
      val sidecarCur = bloomCurrent(spark, basePath, kc)
      require(current == sidecarCur.fingerprint,
        s"move guard needs a FRESH bloom sidecar at $basePath/_bloom_$kc — the table changed " +
          "after indexing; rebuild with buildBloomIndex before the guarded upsert")
      // untouched files = sidecar entries whose path lies outside every
      // touched partition directory. Partition values are rendered with
      // Spark's OWN Hive path escaping (space, ':', '%', … become %XX on
      // disk) — a raw toString would fail to match the escaped dir name,
      // probe the touched partition's own files, and spuriously abort a
      // valid upsert
      import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
      val touchedSegs = partVals.map { v =>
        val render =
          if (v == null) "__HIVE_DEFAULT_PARTITION__" else escapePathName(v.toString)
        s"/${escapePathName(partitionCol)}=$render/"
      }
      val keys = updates.select(col(kc).cast("long")).na.drop().distinct()
        .collect().map(_.getLong(0))
      import org.apache.spark.util.sketch.BloomFilter
      // executors deserialize each untouched bloom ONCE and probe the full
      // (closure-captured, uniqueness-bounded) key batch against it
      val probe = udf { (b: Array[Byte]) =>
        val bf = BloomFilter.readFrom(new java.io.ByteArrayInputStream(b))
        keys.filter(bf.mightContainLong).toSeq
      }
      // sidecar paths come from input_file_name = URI-encoded ('%'→'%25');
      // decode to the raw on-disk path so the escaped segments compare in
      // ONE space (the relPathFromScan discipline)
      val decodePath = udf((f: String) => new java.net.URI(f).getPath)
      val moved = spark.read.parquet(sidecarCur.dataDir)
        .filter(!touchedSegs.map(seg => decodePath(col("file")).contains(seg))
          .reduceOption(_ || _)
          .getOrElse(lit(false)))
        .select(col("file"), explode(probe(col("bloom"))).as("key"))
        .limit(10)
        .collect()
      if (moved.nonEmpty)
        throw new IllegalStateException(
          s"upsertByKey move guard: update key(s) ${moved.map(_.getLong(1)).distinct.mkString(",")} " +
            s"probably already live OUTSIDE the touched $partitionCol partitions (bloom hits in " +
            s"e.g. ${moved.head.getString(0)}) — applying this upsert would strand their old " +
            "rows. Fix the updates' partition values (keys must not move partitions), or " +
            "delete-and-reinsert explicitly")
    }
    val base = spark.read.format(format).load(basePath)
    val affectedBase = base.filter(col(partitionCol).isin(partVals: _*))
    // size-gated broadcast on the MEASURED row count (already paid by the
    // uniqueness check): typical upsert batches broadcast; a bulk
    // backfill falls back to the shuffle anti-join
    val keyDf = updates.select(keyCols.map(col): _*)
    val keySide = if (nUpd <= 1000000L) broadcast(keyDf) else keyDf
    val survivors = affectedBase.join(keySide, keyCols, "left_anti")
    survivors
      .unionByName(updates.select(base.columns.map(col): _*))
      .write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .format(format)
      .partitionBy(partitionCol)
      .save(basePath)
    UpsertReport(partVals.length, nUpd)
  }
}
