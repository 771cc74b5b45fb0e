package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.streaming.{Optimize, StreamSinks}

/** Pins Optimize.optimizeSink — in-place small-file compaction of a LIVE
  * manifest-committed streaming table:
  *
  * 1. rows identical through the swap, file count reduced, retired files
  *    invisible to manifest readers (then vacuum-sweepable);
  * 2. the writer's latest batch id survives, so a checkpointed writer
  *    restarted AFTER the optimize appends the next batch exactly-once;
  * 3. an interrupted swap repairs deterministically: a `_COMMITTED`
  *    stage rolls forward, an uncommitted stage rolls back.
  */
class OptimizeSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = GraftSession
    .builder(master = "local[4]", shufflePartitions = 4)
    .getOrCreate()

  private def freshDir(name: String): String = {
    val p = Files.createTempDirectory(s"graft_$name")
    p.toFile.deleteOnExit()
    p.toString
  }

  case class Ev(id: Long, ts: Timestamp, etype: String, value: Double)
  private def ev(id: Long, etype: String): Ev =
    Ev(id, new Timestamp(1704067200000L + id * 60000L), etype, id * 1.5)

  /** Run one micro-batch of `rows` through the parquet manifest sink. */
  private def runBatch(
      stream: MemoryStream[Ev], out: String, ckpt: String, rows: Seq[Ev]): Unit = {
    stream.addData(rows: _*)
    val q = StreamSinks.parquetSink(stream.toDF(), out, ckpt, Seq("etype"))
    q.processAllAvailable()
    q.stop()
  }

  private def dataFileCount(out: String): Int = {
    def walk(p: java.io.File): Seq[java.io.File] =
      Option(p.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
        if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
        else if (f.isDirectory) walk(f)
        else Seq(f)
      }
    walk(new java.io.File(out)).count(_.getName.endsWith(".parquet"))
  }

  test("optimize: rows identical, files reduced, retired invisible then vacuumable, writer resumes") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val out = freshDir("opt_out")
    val ckpt = freshDir("opt_ckpt")
    val stream = MemoryStream[Ev]

    // three committed batches × 2 partitions × up to 4 tasks → many tiny files
    runBatch(stream, out, ckpt, (1L to 8L).map(i => ev(i, if (i % 2 == 0) "click" else "view")))
    runBatch(stream, out, ckpt, (9L to 16L).map(i => ev(i, if (i % 2 == 0) "click" else "view")))
    runBatch(stream, out, ckpt, (17L to 24L).map(i => ev(i, if (i % 2 == 0) "click" else "view")))

    val before = spark.read.parquet(out).select("id", "etype", "value").collect().toSet
    val filesBefore = StreamSinks.committedFiles(spark, out, "parquet").size
    assert(filesBefore >= 6, s"harness: expected many small files, got $filesBefore")

    val rep = Optimize.optimizeSink(
      spark, out, "parquet",
      smallFileBytes = 1024 * 1024, targetFileBytes = 64L * 1024 * 1024)
    assert(rep.compactedFiles == filesBefore, "every small file should compact")
    assert(rep.keptFiles == 0)
    assert(rep.latestBatchId == 2, s"latest batch id must survive, got ${rep.latestBatchId}")

    // rows identical through the swap; manifest now lists ONLY compacted files
    val after = spark.read.parquet(out).select("id", "etype", "value").collect().toSet
    assert(after == before, "optimize changed the table's rows")
    val filesAfter = StreamSinks.committedFiles(spark, out, "parquet")
    assert(filesAfter.size == rep.outputFiles && filesAfter.size < filesBefore,
      s"expected ${rep.outputFiles} compacted files, manifest lists ${filesAfter.size}")
    assert(filesAfter.forall(_.contains("graft-compact-")), s"stale manifest entries: $filesAfter")

    // retired files still on disk (in-flight readers), but orphans now.
    // The swap archived the outgoing manifest as history v1, and vacuum
    // PROTECTS history-referenced files (restoreTable stays possible)
    assert(dataFileCount(out) > filesAfter.size, "retired files should linger until vacuum")
    val sweptProtected = StreamSinks.vacuum(spark, out, "parquet", dryRun = false, graceMs = 0L)
    assert(!sweptProtected.exists(p => rep.retired.map(q =>
      Paths.get(q).getFileName.toString).contains(Paths.get(p).getFileName.toString)),
      "vacuum swept a history-protected retired file")
    assert(Optimize.listVersions(spark, out).map(_.version) == Seq(1L),
      "the swap should have archived exactly one history version")
    // after the operator expires history, the retired generation sweeps
    assert(Optimize.expireHistory(spark, out, keep = 0) == Seq(1L))
    val swept = StreamSinks.vacuum(spark, out, "parquet", dryRun = false, graceMs = 0L)
    assert(rep.retired.map(p => Paths.get(p).getFileName.toString).toSet
      .subsetOf(swept.map(p => Paths.get(p).getFileName.toString).toSet),
      "vacuum missed retired files")
    assert(spark.read.parquet(out).count() == 24, "vacuum after optimize lost rows")

    // a restarted checkpointed writer appends batch 3 exactly-once
    runBatch(stream, out, ckpt, (25L to 28L).map(i => ev(i, "click")))
    val resumed = spark.read.parquet(out)
    assert(resumed.count() == 28, s"writer restart after optimize: ${resumed.count()} rows")
    assert(resumed.select("id").distinct().count() == 28, "duplicate ids after resume")
  }

  test("optimize composes with sidecar indexes: loud staleness, then vacuum + refresh serve") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val out = freshDir("opt_idx_out")
    val ckpt = freshDir("opt_idx_ckpt")
    val stream = MemoryStream[Ev]
    runBatch(stream, out, ckpt, (1L to 8L).map(i => ev(i, if (i % 2 == 0) "click" else "view")))
    runBatch(stream, out, ckpt, (9L to 16L).map(i => ev(i, if (i % 2 == 0) "click" else "view")))

    // a clean sink run's listing equals its manifest, so the
    // listing-fingerprinted bloom sidecar builds and serves
    graft.sources.FileIO.buildBloomIndex(spark, out, "id")
    val (rows0, cand0, total0) = graft.sources.FileIO.bloomPointLookup(spark, out, "id", 5L)
    assert(rows0.count() == 1 && cand0 < total0)

    // optimize changes the file generation set → the sidecar must refuse
    // LOUDLY (pruning against it would be silently wrong), never serve
    Optimize.optimizeSink(spark, out, "parquet", smallFileBytes = 1024 * 1024)
    val ex = intercept[IllegalStateException] {
      graft.sources.FileIO.bloomPointLookup(spark, out, "id", 5L)
    }
    assert(ex.getMessage.contains("STALE"))

    // the maintenance recipe: expire the restore history, vacuum the old
    // generation out of the LISTING (the identity the sidecar
    // fingerprints), then refresh re-indexes — O(changed files)
    Optimize.expireHistory(spark, out, keep = 0)
    StreamSinks.vacuum(spark, out, "parquet", dryRun = false, graceMs = 0L)
    // regression pin (r15 bug): vacuum's lister must NOT recurse into
    // `_`-prefixed sidecar dirs — if it had swept the sidecar, refresh
    // would fall back to a full rebuild, reporting removed == 0
    val (added, removed) = graft.sources.FileIO.refreshBloomIndex(spark, out, "id")
    assert(removed > 0,
      s"refresh reported ($added, $removed): a full rebuild, so vacuum deleted the live sidecar")
    val (rows1, cand1, total1) = graft.sources.FileIO.bloomPointLookup(spark, out, "id", 5L)
    assert(rows1.count() == 1, "lookup after optimize+vacuum+refresh lost the row")
    assert(rows1.select("id").collect()(0).getLong(0) == 5L)
    assert(cand1 <= total1)
  }

  test("optimize with zOrderDims compacts AND restores 2-D file skipping") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val out = freshDir("opt_z_out")
    val ckpt = freshDir("opt_z_ckpt")
    val stream = MemoryStream[(Long, Long, Double)]
    // batches arrive id-clustered (the natural ingest order) with k
    // scattered — so no pre-optimize file can prune a k predicate
    def batch(lo: Long): Unit = {
      stream.addData((lo until lo + 2000L).map(i => (i, i % 50, i * 0.5)))
      val q = StreamSinks.parquetSink(stream.toDF().toDF("id", "k", "v"), out, ckpt)
      q.processAllAvailable(); q.stop()
    }
    Seq(0L, 2000L, 4000L, 6000L).foreach(batch)
    val before = spark.read.parquet(out).select("id", "k").collect().toSet

    val rep = Optimize.optimizeSink(
      spark, out, "parquet",
      smallFileBytes = 1024 * 1024, targetFileBytes = 16 * 1024,
      zOrderDims = Some(("id", "k")))
    assert(rep.outputFiles >= 4, s"wanted a multi-file clustered layout, got ${rep.outputFiles}")
    assert(spark.read.parquet(out).select("id", "k").collect().toSet == before,
      "z-ordered optimize changed the rows")

    // per-file bounding boxes (what a manifest would hold): BOTH a k-box
    // and an id-box must prune below the file count
    import org.apache.spark.sql.functions.{col, count => fcount, lit, max => fmax, min => fmin, sum => fsum, when}
    val boxes = spark.read.parquet(out)
      .select(col("_metadata.file_path").as("f"), col("id"), col("k"))
      .groupBy("f")
      .agg(fmin("id").as("idmin"), fmax("id").as("idmax"),
        fmin("k").as("kmin"), fmax("k").as("kmax"))
    def candidates(hit: org.apache.spark.sql.Column): (Long, Long) = {
      val r = boxes.agg(fsum(when(hit, 1L).otherwise(0L)), fcount(lit(1))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val (kCand, total) = candidates(col("kmax") >= 0L && col("kmin") <= 5L)
    val (idCand, _) = candidates(col("idmax") >= 0L && col("idmin") <= 800L)
    assert(kCand < total, s"k-box read $kCand/$total files — z-order lost the scattered dim")
    assert(idCand < total, s"id-box read $idCand/$total files — z-order lost the clustered dim")

    // partitioned tables refuse the z-order spelling loudly
    val out2 = freshDir("opt_z_part_out")
    val ckpt2 = freshDir("opt_z_part_ckpt")
    val stream2 = MemoryStream[Ev]
    stream2.addData((1L to 8L).map(i => ev(i, if (i % 2 == 0) "click" else "view")): _*)
    val q2 = StreamSinks.parquetSink(stream2.toDF(), out2, ckpt2, Seq("etype"))
    q2.processAllAvailable(); q2.stop()
    stream2.addData((9L to 16L).map(i => ev(i, "click")): _*)
    val q3 = StreamSinks.parquetSink(stream2.toDF(), out2, ckpt2, Seq("etype"))
    q3.processAllAvailable(); q3.stop()
    val ex = intercept[IllegalArgumentException] {
      Optimize.optimizeSink(spark, out2, "parquet",
        smallFileBytes = 1024 * 1024, zOrderDims = Some(("id", "value")))
    }
    assert(ex.getMessage.contains("unpartitioned"))
  }

  test("optimize with sortDims: in-place sorted re-cluster restores key-slice locality") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val out = freshDir("opt_sort_out")
    val ckpt = freshDir("opt_sort_ckpt")
    val stream = MemoryStream[(Long, Double)]
    // SCATTERED ingest: each batch carries ids ≡ b (mod 8) — every file
    // spans the full id range, the DML-skew shape
    def batch(b: Long): Unit = {
      stream.addData((0L until 1000L).map(i => (i * 8 + b, i * 1.0)))
      val q = StreamSinks.parquetSink(stream.toDF().toDF("id", "v"), out, ckpt)
      q.processAllAvailable(); q.stop()
    }
    (0L until 8L).foreach(batch)
    val before = spark.read.parquet(out).select("id", "v").collect().toSet

    def sliceFiles(): (Long, Long) = {
      val boxes = spark.read.parquet(out)
        .select(org.apache.spark.sql.functions.col("_metadata.file_path").as("f"), col("id"))
        .groupBy("f")
        .agg(org.apache.spark.sql.functions.min("id").as("kmin"),
          org.apache.spark.sql.functions.max("id").as("kmax"))
      val st = boxes.agg(
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.when(
            col("kmax") >= 900L && col("kmin") <= 1100L, 1L).otherwise(0L)),
        org.apache.spark.sql.functions.count(lit(1))).collect()(0)
      (st.getLong(0), st.getLong(1))
    }
    val (hitBefore, totalBefore) = sliceFiles()
    assert(hitBefore == totalBefore, "fixture failed: scattered ingest should hit every file")

    val rep = Optimize.optimizeSink(
      spark, out, "parquet", targetFileBytes = 16 * 1024, sortDims = Seq("id"))
    assert(rep.keptFiles == 0, "SORT BY must rewrite every file")
    assert(rep.outputFiles >= 4, s"wanted a multi-file sorted layout, got ${rep.outputFiles}")
    assert(spark.read.parquet(out).select("id", "v").collect().toSet == before,
      "sorted re-cluster changed the rows")
    val (hitAfter, totalAfter) = sliceFiles()
    assert(hitAfter < totalAfter,
      s"sorted layout did not localize the key slice: $hitAfter/$totalAfter")

    // mutual exclusion + partitioned refusal
    intercept[IllegalArgumentException] {
      Optimize.optimizeSink(spark, out, "parquet",
        sortDims = Seq("id"), zOrderDims = Some(("id", "v")))
    }
    val out2 = freshDir("opt_sortp_out")
    val ckpt2 = freshDir("opt_sortp_ckpt")
    val stream2 = MemoryStream[Ev]
    stream2.addData((1L to 8L).map(i => ev(i, if (i % 2 == 0) "click" else "view")): _*)
    val q2 = StreamSinks.parquetSink(stream2.toDF(), out2, ckpt2, Seq("etype"))
    q2.processAllAvailable(); q2.stop()
    stream2.addData((9L to 16L).map(i => ev(i, "click")): _*)
    val q3 = StreamSinks.parquetSink(stream2.toDF(), out2, ckpt2, Seq("etype"))
    q3.processAllAvailable(); q3.stop()
    val ex = intercept[IllegalArgumentException] {
      Optimize.optimizeSink(spark, out2, "parquet", sortDims = Seq("id"))
    }
    assert(ex.getMessage.contains("unpartitioned"))
  }

  test("optimize: fewer than two small files is a no-op") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val out = freshDir("opt_noop_out")
    val ckpt = freshDir("opt_noop_ckpt")
    val stream = MemoryStream[Ev]
    runBatch(stream, out, ckpt, Seq(ev(1L, "click")))

    val before = StreamSinks.committedFiles(spark, out, "parquet").toSet
    val rep = Optimize.optimizeSink(spark, out, "parquet", smallFileBytes = 1024 * 1024)
    assert(rep.compactedFiles == 0 && rep.outputFiles == 0)
    assert(StreamSinks.committedFiles(spark, out, "parquet").toSet == before,
      "no-op optimize must leave the manifest untouched")
  }

  test("optimize stages O(interval) manifest writes; the resumed writer compacts over them") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val out = freshDir("opt_win_out")
    val ckpt = freshDir("opt_win_ckpt")
    val stream = MemoryStream[(Long, Double)]
    def batch(b: Long): Unit = {
      stream.addData((0L until 4L).map(i => (b * 4 + i, i * 1.0)))
      val q = StreamSinks.parquetSink(stream.toDF().toDF("id", "v"), out, ckpt)
      q.processAllAvailable(); q.stop()
    }
    (0L until 12L).foreach(batch) // latest batch id = 11; conf interval 10 → boundary 9

    val rep = Optimize.optimizeSink(spark, out, "parquet", smallFileBytes = 1024 * 1024)
    assert(rep.latestBatchId == 11)

    // the swapped-in manifest is EXACTLY the reader window: the snapshot
    // at the 9.compact boundary plus empty batches 10, 11 — not 0..11
    val logFiles = new java.io.File(out, "_spark_metadata")
      .listFiles().map(_.getName).filterNot(_.startsWith(".")).toSet
    assert(logFiles == Set("9.compact", "10", "11"),
      s"staged manifest should hold the O(interval) window, got $logFiles")
    assert(spark.read.parquet(out).count() == 48)

    // the resumed writer crosses ITS next compaction boundary (19) —
    // Spark's own log maintenance must compact over the staged window
    (12L until 21L).foreach(batch)
    val after = spark.read.parquet(out)
    assert(after.count() == 84, s"expected 84 rows, got ${after.count()}")
    assert(after.select("id").distinct().count() == 84, "duplicates after boundary crossing")
    val logAfter = new java.io.File(out, "_spark_metadata")
      .listFiles().map(_.getName).toSet
    assert(logAfter.contains("19.compact"),
      s"writer's own compaction at 19 missing from $logAfter")
  }

  test("deleteWhere is copy-on-write: only match-bearing files rewrite, others verbatim") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val out = freshDir("del_out")
    val ckpt = freshDir("del_ckpt")
    val stream = MemoryStream[(Long, Double)]
    def batch(lo: Long): Unit = {
      stream.addData((lo until lo + 100L).map(i => (i, i * 1.0)))
      val q = StreamSinks.parquetSink(stream.toDF().toDF("id", "v"), out, ckpt)
      q.processAllAvailable(); q.stop()
    }
    Seq(0L, 100L, 200L, 300L).foreach(batch) // ids 0..399 across 4 batches

    val filesBefore = StreamSinks.committedFiles(spark, out, "parquet")
    // targets live in exactly the batch-1 id range → only its file(s) rewrite
    val rep = Optimize.deleteWhere(spark, out, col("id") >= 120L && col("id") < 180L)
    assert(rep.rewrittenFiles >= 1 && rep.rewrittenFiles < filesBefore.size,
      s"copy-on-write should touch a strict subset: ${rep.rewrittenFiles}/${filesBefore.size}")
    assert(rep.latestBatchId == 3)

    val after = spark.read.parquet(out)
    assert(after.count() == 340, s"expected 340 survivors, got ${after.count()}")
    assert(after.filter(col("id") >= 120L && col("id") < 180L).count() == 0, "matches survived")

    // untouched files keep their manifest entries VERBATIM
    def norm(p: String): String = p.replaceFirst("^file:/+", "/")
    val filesAfter = StreamSinks.committedFiles(spark, out, "parquet").map(norm).toSet
    val untouchedBefore = filesBefore.map(norm).toSet -- rep.retired.map(norm).toSet
    assert(untouchedBefore.subsetOf(filesAfter), "an untouched file lost its manifest entry")
    assert(filesAfter.exists(_.contains("graft-delete-")), "no rewritten copy in the manifest")

    // delete-nothing is a no-op that never touches the manifest
    val rep2 = Optimize.deleteWhere(spark, out, col("id") === -1L)
    assert(rep2.rewrittenFiles == 0 && rep2.outputFiles == 0)
    assert(StreamSinks.committedFiles(spark, out, "parquet").map(norm).toSet == filesAfter)

    // NULL-predicate rows SURVIVE (SQL DELETE removes definite matches only)
    val rep3 = Optimize.deleteWhere(spark, out,
      org.apache.spark.sql.functions.when(col("id") < 50L, lit(true)))
    assert(rep3.rewrittenFiles >= 1)
    assert(spark.read.parquet(out).count() == 290,
      "NULL-predicate rows must survive a delete")

    // a file whose EVERY row matches yields no copy — just retirement
    val total = spark.read.parquet(out).count()
    val rep4 = Optimize.deleteWhere(spark, out, col("id") >= 300L) // batch 3 entirely
    assert(spark.read.parquet(out).count() == total - 100)

    // the writer resumes exactly-once after all that surgery
    batch(400L)
    assert(spark.read.parquet(out).count() == total, "resume after deletes lost or duped rows")
    // and retired generations vacuum away without touching survivors
    StreamSinks.vacuum(spark, out, "parquet", dryRun = false, graceMs = 0L)
    assert(spark.read.parquet(out).count() == total)
  }

  test("updateWhere applies SET to matches only; non-matching files stay verbatim") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val out = freshDir("upd_out")
    val ckpt = freshDir("upd_ckpt")
    val stream = MemoryStream[(Long, Double)]
    def batch(lo: Long): Unit = {
      stream.addData((lo until lo + 100L).map(i => (i, i * 1.0)))
      val q = StreamSinks.parquetSink(stream.toDF().toDF("id", "v"), out, ckpt)
      q.processAllAvailable(); q.stop()
    }
    Seq(0L, 100L, 200L).foreach(batch)
    val filesBefore = StreamSinks.committedFiles(spark, out, "parquet")

    val rep = Optimize.updateWhere(
      spark, out, col("id").between(110L, 130L), Map("v" -> (col("v") * -1.0)))
    assert(rep.rewrittenFiles >= 1 && rep.rewrittenFiles < filesBefore.size,
      s"copy-on-write should touch a strict subset: ${rep.rewrittenFiles}/${filesBefore.size}")

    val after = spark.read.parquet(out)
    assert(after.count() == 300, "update changed the row count")
    assert(after.filter(col("id").between(110L, 130L) && col("v") >= 0).count() == 0,
      "a matching row kept its old value")
    assert(after.filter(!col("id").between(110L, 130L) && col("v") < 0).count() == 0,
      "a non-matching row was updated")

    // schema must be stable through the rewrite (cast back to the
    // original column type) and guards must refuse unknown/partition cols
    assert(after.schema("v").dataType == org.apache.spark.sql.types.DoubleType)
    intercept[IllegalArgumentException] {
      Optimize.updateWhere(spark, out, col("id") === 0L, Map("nope" -> lit(1)))
    }
  }

  test("mergeInto upserts copy-on-write: matched files rewrite, inserts append, NULLs land") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val out = freshDir("mrg_out")
    val ckpt = freshDir("mrg_ckpt")
    val stream = MemoryStream[(Long, Double)]
    def batch(lo: Long): Unit = {
      stream.addData((lo until lo + 100L).map(i => (i, i * 1.0)))
      val q = StreamSinks.parquetSink(stream.toDF().toDF("id", "v"), out, ckpt)
      q.processAllAvailable(); q.stop()
    }
    Seq(0L, 100L, 200L).foreach(batch)
    val filesBefore = StreamSinks.committedFiles(spark, out, "parquet").size

    // matches in batch-1's id range only; one source v is NULL on purpose
    val source = Seq(
      (150L, Option(-150.0)), (155L, Option.empty[Double]),
      (1000L, Option(1.0)), (1001L, Option(2.0))
    ).toDF("id", "v")
    val rep = Optimize.mergeInto(spark, out, source, Seq("id"))
    assert(rep.rewrittenFiles >= 1 && rep.rewrittenFiles < filesBefore,
      s"matched rewrite should touch a strict subset: ${rep.rewrittenFiles}/$filesBefore")

    val t = spark.read.parquet(out)
    assert(t.count() == 302, "2 inserts expected on top of 300")
    assert(t.filter("id = 150 AND v = -150.0").count() == 1, "matched row not replaced")
    // whole-row replacement: a legitimately-NULL source value must LAND,
    // not fall back to the old value
    assert(t.filter("id = 155 AND v IS NULL").count() == 1, "NULL source value lost")
    assert(t.filter("id >= 1000").count() == 2, "inserts missing")
    assert(t.filter("id = 149 AND v = 149.0").count() == 1, "a non-matched row changed")

    // duplicate source keys make replacement ambiguous — refuse loudly
    intercept[IllegalArgumentException] {
      Optimize.mergeInto(spark, out,
        Seq((1L, Option(0.0)), (1L, Option(9.9))).toDF("id", "v"), Seq("id"))
    }
    // schema mismatch refused
    intercept[IllegalArgumentException] {
      Optimize.mergeInto(spark, out, Seq((1L, 1.0, "x")).toDF("id", "v", "extra"), Seq("id"))
    }

    // writer resumes exactly-once after the merge
    batch(300L)
    assert(spark.read.parquet(out).count() == 402, "resume after merge lost or duped rows")
  }

  test("upsertSink: last-write-wins per key, replay-idempotent, heals crashed swaps") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val out = freshDir("ups_out")
    val ckpt = freshDir("ups_ckpt")
    val stream = MemoryStream[(Long, Double)]
    def drive(rows: Seq[(Long, Double)]): Unit = {
      stream.addData(rows: _*)
      val q = Optimize.upsertSink(stream.toDF().toDF("id", "v"), out, Seq("id"), ckpt)
      q.processAllAvailable(); q.stop()
    }

    drive((1L to 10L).map(i => (i, 1.0)))          // bootstrap
    drive((5L to 15L).map(i => (i, 2.0)))          // 5..10 update, 11..15 insert
    drive((1L to 3L).map(i => (i, 3.0)))           // 1..3 update

    val t = spark.read.parquet(out)
    assert(t.count() == 15, s"15 distinct keys expected, got ${t.count()}")
    assert(t.filter("id <= 3 AND v = 3.0").count() == 3)
    assert(t.filter("id = 4 AND v = 1.0").count() == 1)
    assert(t.filter("id >= 5 AND id <= 15 AND v = 2.0").count() == 11)

    // a crashed swap (uncommitted stage debris) heals on the next batch
    val stage = Paths.get(out, "_graft_optimize_stage_meta")
    Files.createDirectory(stage)
    Files.writeString(stage.resolve("0"), "garbage-uncommitted")
    drive(Seq((100L, 9.0)))
    assert(!Files.exists(stage), "the sink did not heal the crashed swap")
    val t2 = spark.read.parquet(out)
    assert(t2.count() == 16 && t2.filter("id = 100 AND v = 9.0").count() == 1)

    // retired generations vacuum away; survivors intact
    StreamSinks.vacuum(spark, out, "parquet", dryRun = false, graceMs = 0L)
    assert(spark.read.parquet(out).count() == 16)
  }

  test("mergeInto on a PARTITIONED table: inserts land inside partition dirs, table stays readable") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val out = freshDir("mrgp_out")
    val ckpt = freshDir("mrgp_ckpt")
    val stream = MemoryStream[Ev]
    stream.addData((1L to 8L).map(i => ev(i, if (i % 2 == 0) "click" else "view")): _*)
    val q = StreamSinks.parquetSink(stream.toDF(), out, ckpt, Seq("etype"))
    q.processAllAvailable(); q.stop()

    // tuples, not the inner Ev case class (no encoder scope in toDF here)
    val source = Seq(
      (2L, ev(2L, "click").ts, "click", -1.0), // update in etype=click
      (99L, ev(99L, "view").ts, "view", 99 * 1.5) // insert into etype=view
    ).toDF("id", "ts", "etype", "value")
    Optimize.mergeInto(spark, out, source, Seq("id"))

    val t = spark.read.parquet(out)
    assert(t.count() == 9, "insert missing on the partitioned table")
    assert(t.filter("id = 2 AND value = -1.0").count() == 1, "matched row not replaced")
    // the insert's file must sit INSIDE its partition dir — a flat root
    // file would corrupt partition discovery for every reader
    assert(t.filter("id = 99 AND etype = 'view'").count() == 1,
      "insert lost its partition value")
    val viewDir = new java.io.File(out, "etype=view")
    assert(viewDir.listFiles().exists(_.getName.contains("graft-merge-ins-")),
      "insert file not placed in its partition dir")
    // key-overlapping-partition refusal
    intercept[IllegalArgumentException] {
      Optimize.mergeInto(spark, out, source, Seq("etype"))
    }
  }

  test("deleteWhere/updateWhere refuse partition-column predicates loudly") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val out = freshDir("delp_out")
    val ckpt = freshDir("delp_ckpt")
    val stream = MemoryStream[Ev]
    stream.addData((1L to 8L).map(i => ev(i, if (i % 2 == 0) "click" else "view")): _*)
    val q = StreamSinks.parquetSink(stream.toDF(), out, ckpt, Seq("etype"))
    q.processAllAvailable(); q.stop()
    val ex = intercept[IllegalArgumentException] {
      Optimize.deleteWhere(spark, out, col("etype") === "click")
    }
    assert(ex.getMessage.contains("partition column"))
    intercept[IllegalArgumentException] {
      Optimize.updateWhere(spark, out, col("etype") === "click", Map("value" -> lit(0.0)))
    }
    // data rows untouched by the refused attempts
    assert(spark.read.parquet(out).count() == 8)
  }

  test("upsertSink never re-bootstraps over a crashed swap (heals first)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val out = freshDir("upsc_out")
    val ckpt = freshDir("upsc_ckpt")
    val stream = MemoryStream[(Long, Double)]
    def drive(rows: Seq[(Long, Double)]): Unit = {
      stream.addData(rows: _*)
      val q = Optimize.upsertSink(stream.toDF().toDF("id", "v"), out, Seq("id"), ckpt)
      q.processAllAvailable(); q.stop()
    }
    drive((1L to 20L).map(i => (i, 1.0)))

    // simulate a crash BETWEEN the swap's two renames during a merge:
    // no live manifest, a fully-committed stage, a backup
    val meta = Paths.get(out, "_spark_metadata")
    val stage = Paths.get(out, "_graft_optimize_stage_meta")
    val bak = Paths.get(out, "_spark_metadata.bak")
    Files.move(meta, stage)
    Files.writeString(stage.resolve("_COMMITTED"), "")
    Files.createDirectory(bak)
    Files.writeString(bak.resolve("junk"), "previous generation")

    // the next batch must roll the swap FORWARD and merge — a naive
    // metaDir-existence bootstrap would reset the table to one batch
    drive(Seq((21L, 2.0)))
    val t = spark.read.parquet(out)
    assert(t.count() == 21, s"table was reset by a re-bootstrap: ${t.count()} rows")
    assert(t.filter("id = 5 AND v = 1.0").count() == 1, "pre-crash row lost")
    assert(t.filter("id = 21 AND v = 2.0").count() == 1, "post-heal merge missing")

    // bootstrap enforces the one-row-per-key invariant from batch 0
    val out2 = freshDir("upsd_out")
    val ckpt2 = freshDir("upsd_ckpt")
    val stream2 = MemoryStream[(Long, Double)]
    stream2.addData(Seq((1L, 1.0), (1L, 2.0)): _*)
    val q2 = Optimize.upsertSink(stream2.toDF().toDF("id", "v"), out2, Seq("id"), ckpt2)
    val exc = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    assert(exc.getMessage.contains("duplicate key") ||
      Option(exc.getCause).exists(_.getMessage.contains("duplicate key")))
  }

  test("repair: a _COMMITTED stage rolls forward; an uncommitted stage rolls back") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val out = freshDir("opt_repair_out")
    val ckpt = freshDir("opt_repair_ckpt")
    val stream = MemoryStream[Ev]
    runBatch(stream, out, ckpt, (1L to 8L).map(i => ev(i, if (i % 2 == 0) "click" else "view")))
    runBatch(stream, out, ckpt, (9L to 16L).map(i => ev(i, if (i % 2 == 0) "click" else "view")))
    val rows = spark.read.parquet(out).select("id").collect().toSet

    // ROLL BACK: an uncommitted stage next to a live manifest is debris
    val meta = Paths.get(out, "_spark_metadata")
    val stage = Paths.get(out, "_graft_optimize_stage_meta")
    Files.createDirectory(stage)
    Files.writeString(stage.resolve("0"), "garbage-uncommitted")
    assert(Optimize.repairOptimize(spark, out).startsWith("rolled-back"))
    assert(!Files.exists(stage) && Files.exists(meta))
    assert(spark.read.parquet(out).select("id").collect().toSet == rows)

    // ROLL FORWARD: simulate a crash BETWEEN the two swap renames —
    // manifest renamed away to .bak, fully-committed stage not yet
    // promoted. Build the state from the real manifest so the promoted
    // log is valid.
    val bak = Paths.get(out, "_spark_metadata.bak")
    Files.move(meta, stage)
    Files.writeString(stage.resolve("_COMMITTED"), "")
    Files.createDirectory(bak)
    Files.writeString(bak.resolve("junk"), "old manifest generation")
    // mid-crash: with the manifest renamed away, Spark READERS FALL BACK
    // to plain directory listing — they see every data file (retired +
    // compacted generations together). The crash window is therefore
    // read-UNSAFE until repair runs; roll-forward restores the exact
    // committed view. (Pinned here so the hazard stays documented.)
    assert(spark.read.parquet(out).select("id").collect().toSet == rows,
      "plain-listing fallback should still cover the committed rows")
    assert(Optimize.repairOptimize(spark, out) == "rolled-forward")
    assert(Files.exists(meta) && !Files.exists(stage) && !Files.exists(bak))
    assert(spark.read.parquet(out).select("id").collect().toSet == rows,
      "rolled-forward manifest must serve the committed rows")

    // idempotent: a second repair on a clean table reports clean
    assert(Optimize.repairOptimize(spark, out) == "clean")
  }

  private def buildIdTable(name: String, batches: Seq[Long]): (String, String) = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val out = freshDir(s"${name}_out")
    val ckpt = freshDir(s"${name}_ckpt")
    val stream = MemoryStream[(Long, Double)]
    batches.foreach { lo =>
      stream.addData((lo until lo + 100L).map(i => (i, i * 1.0)))
      val q = StreamSinks.parquetSink(stream.toDF().toDF("id", "v"), out, ckpt)
      q.processAllAvailable(); q.stop()
    }
    (out, ckpt)
  }

  test("history + restore: every swap archives a version; restore rolls back and is itself undoable") {
    val (out, _) = buildIdTable("hist", Seq(0L, 100L, 200L))
    val before = spark.read.parquet(out).select("id", "v").collect().toSet

    // two mutations → two archived versions, oldest first
    Optimize.deleteWhere(spark, out, col("id") < 50L)
    Optimize.updateWhere(spark, out, col("id") === 60L, Map("v" -> lit(-60.0)))
    val afterMutations = spark.read.parquet(out).select("id", "v").collect().toSet
    val versions = Optimize.listVersions(spark, out)
    assert(versions.map(_.version) == Seq(1L, 2L), s"unexpected history: $versions")
    assert(versions.forall(_.files > 0), "archived manifests should parse and list files")

    // time-travel read of v1 — the pre-delete generation, no mutation
    assert(Optimize.readVersion(spark, out, 1L).select("id", "v").collect().toSet == before,
      "readVersion(v1) must serve the pre-delete rows")
    assert(spark.read.parquet(out).select("id", "v").collect().toSet == afterMutations,
      "readVersion must not mutate the live table")

    // restore to v1: full pre-delete state; the pre-restore manifest
    // archives as v3 — restore is undoable
    val rep = Optimize.restoreTable(spark, out, 1L)
    assert(rep.restoredVersion == 1L && rep.archivedCurrentAs == 3L)
    assert(spark.read.parquet(out).select("id", "v").collect().toSet == before,
      "restore(v1) did not reproduce the pre-delete table")
    // undo the restore: back to the post-mutation state
    Optimize.restoreTable(spark, out, 3L): Unit
    assert(spark.read.parquet(out).select("id", "v").collect().toSet == afterMutations,
      "restoring the archived pre-restore version must undo the restore")

    // unknown version refused loudly
    intercept[IllegalArgumentException] { Optimize.restoreTable(spark, out, 99L) }
  }

  test("restore refuses loudly once expireHistory + vacuum released the version's files") {
    val (out, _) = buildIdTable("histexp", Seq(0L, 100L))
    Optimize.deleteWhere(spark, out, col("id") < 150L) // retires every file of v1
    assert(Optimize.listVersions(spark, out).map(_.version) == Seq(1L))

    // protected: vacuum cannot touch v1's files, restore still works
    StreamSinks.vacuum(spark, out, "parquet", dryRun = false, graceMs = 0L)
    Optimize.restoreTable(spark, out, 1L): Unit
    assert(spark.read.parquet(out).count() == 200, "protected restore lost rows")

    // release: expire ALL history, vacuum, and the (now re-retired)
    // generation really is gone — restore refuses, file named
    Optimize.deleteWhere(spark, out, col("id") < 150L)
    val vPre = Optimize.listVersions(spark, out).map(_.version).max
    Optimize.expireHistory(spark, out, keep = 0)
    assert(Optimize.listVersions(spark, out).isEmpty)
    StreamSinks.vacuum(spark, out, "parquet", dryRun = false, graceMs = 0L)
    intercept[IllegalArgumentException] { Optimize.restoreTable(spark, out, vPre) }

    // keep = n retains the NEWEST n versions
    Optimize.updateWhere(spark, out, col("id") === 199L, Map("v" -> lit(0.0)))
    Optimize.updateWhere(spark, out, col("id") === 198L, Map("v" -> lit(0.0)))
    val vs = Optimize.listVersions(spark, out).map(_.version)
    assert(vs.size == 2)
    Optimize.expireHistory(spark, out, keep = 1)
    assert(Optimize.listVersions(spark, out).map(_.version) == Seq(vs.max))
  }

  test("vacuum ages orphans from the last maintenance event, not the file mtime") {
    val (out, _) = buildIdTable("vacage", Seq(0L, 100L))
    val rep = Optimize.optimizeSink(spark, out, "parquet", smallFileBytes = 1024 * 1024)
    assert(rep.compactedFiles >= 2)
    Optimize.expireHistory(spark, out, keep = 0) // release the retired files

    // BACKDATE the retired files: on disk they look hours old (a swap
    // retires files without rewriting them, so they keep their original
    // write-time mtimes — the r15 hazard)
    val old = System.currentTimeMillis() - 3600 * 1000L
    rep.retired.foreach { p =>
      assert(new java.io.File(new java.net.URI(
        if (p.startsWith("file:")) p else s"file:$p")).setLastModified(old))
    }
    // a graced vacuum must NOT sweep them: the maintenance marker is
    // fresh, so their effective age is the expiry instant, not the mtime
    val sweptEarly = StreamSinks.vacuum(spark, out, "parquet", dryRun = true, graceMs = 60000L)
    assert(sweptEarly.isEmpty,
      s"graced vacuum swept just-released files on stale mtimes: $sweptEarly")

    // once the marker itself is old, the grace has genuinely expired
    val marker = new java.io.File(out, "_graft_last_maintenance")
    assert(marker.exists() && marker.setLastModified(old))
    val swept = StreamSinks.vacuum(spark, out, "parquet", dryRun = false, graceMs = 60000L)
    assert(rep.retired.map(p => Paths.get(p).getFileName.toString).toSet
      .subsetOf(swept.map(p => Paths.get(p).getFileName.toString).toSet),
      "expired-grace vacuum missed the retired files")
    assert(spark.read.parquet(out).count() == 200)
  }

  test("mergeInto WHEN MATCHED UPDATE SET: column-level merge over a partial-column source") {
    val s = spark
    import s.implicits._
    val (out, _) = buildIdTable("mrgcols", Seq(0L, 100L, 200L))
    val filesBefore = StreamSinks.committedFiles(spark, out, "parquet").size

    // source carries keys + a delta column only — NOT the table schema
    val source = Seq((110L, 5.0), (120L, 7.0)).toDF("id", "delta")
    val rep = Optimize.mergeInto(
      spark, out, source, Seq("id"),
      matchedSet = Some(Map("v" -> org.apache.spark.sql.functions.expr("t.v + s.delta"))),
      insertNotMatched = false)
    assert(rep.rewrittenFiles >= 1 && rep.rewrittenFiles < filesBefore,
      "column-level merge should rewrite only match-bearing files")

    val t = spark.read.parquet(out)
    assert(t.count() == 300, "update-only merge must not insert")
    assert(t.filter("id = 110 AND v = 115.0").count() == 1, "SET expression not applied")
    assert(t.filter("id = 120 AND v = 127.0").count() == 1, "SET expression not applied")
    assert(t.filter("id = 111 AND v = 111.0").count() == 1, "a non-matched row changed")

    // a partial-column source with inserts enabled is refused loudly
    val ex = intercept[IllegalArgumentException] {
      Optimize.mergeInto(spark, out, source, Seq("id"),
        matchedSet = Some(Map("v" -> org.apache.spark.sql.functions.expr("s.delta"))))
    }
    assert(ex.getMessage.contains("insertNotMatched"))
    // updating a merge key is ambiguous — refused
    intercept[IllegalArgumentException] {
      Optimize.mergeInto(spark, out, source, Seq("id"),
        matchedSet = Some(Map("id" -> lit(0L))), insertNotMatched = false)
    }

    // full-schema source: column-level SET + not-matched INSERTS compose
    val source2 = Seq((130L, 1000.0), (900L, 9.0)).toDF("id", "v")
    Optimize.mergeInto(spark, out, source2, Seq("id"),
      matchedSet = Some(Map("v" -> org.apache.spark.sql.functions.expr("s.v + t.v")))): Unit
    val t2 = spark.read.parquet(out)
    assert(t2.count() == 301, "insert missing")
    assert(t2.filter("id = 130 AND v = 1130.0").count() == 1)
    assert(t2.filter("id = 900 AND v = 9.0").count() == 1)
  }

  test("mergeInto WHEN NOT MATCHED BY SOURCE DELETE: full sync in one swap; guards intact") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.expr
    val (out, _) = buildIdTable("mrgsync", Seq(0L, 100L, 200L)) // ids 0..299
    val keeps = (0L until 150L).map(i => (i, if (i < 50) -1.0 * i else i * 1.0))
    val source = (keeps :+ ((900L, 9.0))).toDF("id", "v")
    Optimize.mergeInto(spark, out, source, Seq("id"), deleteNotMatchedBySource = true): Unit
    val t = spark.read.parquet(out)
    assert(t.count() == 151, "full sync must land exactly the source's row count")
    assert(t.filter("id >= 150 AND id < 900").count() == 0, "source-absent rows survived")
    assert(t.filter("id = 900 AND v = 9.0").count() == 1, "insert missing")
    assert(t.filter("id = 10 AND v = -10.0").count() == 1, "update not applied")
    assert(t.filter("id = 100 AND v = 100.0").count() == 1, "an untouched keep row changed")

    // replay-idempotent: every table row is now in the source
    Optimize.mergeInto(spark, out, source, Seq("id"), deleteNotMatchedBySource = true): Unit
    assert(spark.read.parquet(out).count() == 151)

    // the cardinality guard and the whole-row schema rule hold under sync
    intercept[IllegalArgumentException] {
      Optimize.mergeInto(spark, out, Seq((1L, 1.0), (1L, 2.0)).toDF("id", "v"), Seq("id"),
        deleteNotMatchedBySource = true)
    }
    intercept[IllegalArgumentException] {
      Optimize.mergeInto(spark, out, Seq((1L, 5.0)).toDF("id", "delta"), Seq("id"),
        deleteNotMatchedBySource = true)
    }

    // column-level SET + sync over a partial-column source: matched rows
    // take the SET, source-absent rows delete, nothing inserts
    val colSrc = (0L until 100L).map(i => (i, 1.0)).toDF("id", "delta")
    Optimize.mergeInto(spark, out, colSrc, Seq("id"),
      matchedSet = Some(Map("v" -> expr("t.v + s.delta"))), insertNotMatched = false,
      deleteNotMatchedBySource = true): Unit
    val t2 = spark.read.parquet(out)
    assert(t2.count() == 100, "sync delete under a column-level merge missed rows")
    assert(t2.filter("id = 10 AND v = -9.0").count() == 1, "SET not applied on the old value")
    assert(t2.filter("id = 60 AND v = 61.0").count() == 1)
  }

  test("mergeInto evolveSchema: add-only evolution, loud refusals, sidecars refresh after") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.expr
    val (out, _) = buildIdTable("mrgevo", Seq(0L, 100L)) // ids 0..199, cols (id, v)
    graft.sources.FileIO.buildBloomIndex(spark, out, "id"): Unit

    val srcNew = Seq((10L, 99.0, "gold"), (900L, 9.0, "new")).toDF("id", "v", "tag")
    // a new column WITHOUT the flag is refused toward it
    val exNo = intercept[IllegalArgumentException] {
      Optimize.mergeInto(spark, out, srcNew, Seq("id"))
    }
    assert(exNo.getMessage.contains("evolveSchema"), exNo.getMessage)
    // a shared column changing TYPE is refused even with the flag
    val exTy = intercept[IllegalArgumentException] {
      Optimize.mergeInto(spark, out,
        Seq((10L, "oops", "x")).toDF("id", "v", "tag"), Seq("id"), evolveSchema = true)
    }
    assert(exTy.getMessage.contains("ADD-ONLY"), exTy.getMessage)
    // dropping an existing column is refused (add-only, both directions)
    intercept[IllegalArgumentException] {
      Optimize.mergeInto(spark, out,
        Seq((10L, "x")).toDF("id", "tag"), Seq("id"), evolveSchema = true)
    }
    // evolution is whole-row only (the updateAll/insertAll rule)
    intercept[IllegalArgumentException] {
      Optimize.mergeInto(spark, out, srcNew, Seq("id"),
        matchedSet = Some(Map("v" -> expr("s.v"))), evolveSchema = true)
    }

    val rep = Optimize.mergeInto(spark, out, srcNew, Seq("id"), evolveSchema = true)
    assert(rep.rewrittenFiles >= 1)
    val t = spark.read.option("mergeSchema", "true").parquet(out)
    assert(t.count() == 201)
    assert(t.filter("id = 10 AND v = 99.0 AND tag = 'gold'").count() == 1)
    assert(t.filter("id = 900 AND v = 9.0 AND tag = 'new'").count() == 1)
    assert(t.filter("tag IS NULL").count() == 199, "legacy rows must read as typed NULLs")

    // copy-on-write, not a backfill: at least one committed file still
    // carries the OLD schema
    val files = StreamSinks.committedFiles(spark, out, "parquet")
    assert(files.exists(f => !spark.read.parquet(f).columns.contains("tag")),
      "every file rewrote — evolution became an O(table) backfill")

    // the staled sidecar refreshes O(changed files) and serves the
    // evolved table, new rows included — after the standard maintenance
    // cadence (expire + vacuum) reclaims the retired generation, since
    // the raw-listing sidecar would otherwise index retired files too
    Optimize.expireHistory(spark, out, keep = 0): Unit
    StreamSinks.vacuum(spark, out, "parquet", dryRun = false, graceMs = 0L): Unit
    val (added, removed) = graft.sources.FileIO.refreshBloomIndex(spark, out, "id")
    assert(added >= 1 && removed >= 1, s"expected a delta refresh, got ($added, $removed)")
    val (rows, _, _) = graft.sources.FileIO.bloomPointLookup(spark, out, "id", 900L)
    assert(rows.count() == 1, "evolved table lost the inserted key through the sidecar")
    val (updRows, _, _) = graft.sources.FileIO.bloomPointLookup(spark, out, "id", 10L)
    assert(updRows.filter("v = 99.0").count() == 1 && updRows.count() == 1)

    // a replayed merge lands the identical state on already-evolved files
    Optimize.mergeInto(spark, out, srcNew, Seq("id"), evolveSchema = true): Unit
    val t2 = spark.read.option("mergeSchema", "true").parquet(out)
    assert(t2.count() == 201 && t2.filter("tag IS NULL").count() == 199)
  }

  test("rewrites over legacy and evolved files together keep the evolved columns") {
    val s = spark
    import s.implicits._
    val (out, _) = buildIdTable("mrgevo_mixed", Seq(0L, 100L)) // ids 0..199, cols (id, v)
    val srcNew = Seq((10L, 99.0, "gold"), (900L, 9.0, "new"), (901L, 9.5, "new"))
      .toDF("id", "v", "tag")
    Optimize.mergeInto(spark, out, srcNew, Seq("id"), evolveSchema = true): Unit
    def fileOf(id: Long): String = spark.read.option("mergeSchema", "true").parquet(out)
      .filter(col("id") === id).select("_metadata.file_path").as[String].head()
    assert(fileOf(150L).contains("/part-") && fileOf(901L).contains("/graft-merge-ins-"))

    // the hit set spans a legacy file (listed first in the manifest) and
    // an evolved one: the evolved rows must keep `tag`
    val rep = Optimize.deleteWhere(spark, out, col("id").isin(150L, 901L))
    assert(rep.rewrittenFiles == 2, s"expected a legacy and an evolved hit file: $rep")
    val t = spark.read.option("mergeSchema", "true").parquet(out)
    assert(t.count() == 200)
    assert(t.filter("id = 900 AND tag = 'new'").count() == 1, "the evolved column was dropped")
    assert(t.filter("id = 10 AND tag = 'gold'").count() == 1)
    assert(t.filter("tag IS NULL").count() == 198)

    // a later OPTIMIZE homogenizes the schema without losing a value
    assert(Optimize.optimizeSink(spark, out, "parquet", smallFileBytes = 1024 * 1024)
      .compactedFiles >= 2)
    val files = StreamSinks.committedFiles(spark, out, "parquet")
    assert(files.forall(f => spark.read.parquet(f).columns.contains("tag")),
      "a compacted file lost the evolved column")
    val t2 = spark.read.option("mergeSchema", "true").parquet(out)
    assert(t2.count() == 200 && t2.filter("tag IS NULL").count() == 198)
    assert(t2.filter("(id = 900 AND tag = 'new') OR (id = 10 AND tag = 'gold')").count() == 2)
  }

  test("mergeInto SET guards refuse partition-column reads and writes") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val out = freshDir("mrgg_out")
    val ckpt = freshDir("mrgg_ckpt")
    val stream = MemoryStream[Ev]
    stream.addData((1L to 8L).map(i => ev(i, if (i % 2 == 0) "click" else "view")): _*)
    val q = StreamSinks.parquetSink(stream.toDF(), out, ckpt, Seq("etype"))
    q.processAllAvailable(); q.stop()

    val src = Seq((2L, 1.0)).toDF("id", "delta")
    // writing a partition column
    intercept[IllegalArgumentException] {
      Optimize.mergeInto(spark, out, src, Seq("id"),
        matchedSet = Some(Map("etype" -> lit("x"))), insertNotMatched = false)
    }
    // reading a partition column in a SET value (verbatim string during
    // the rewrite — the updateWhere guard, applied to merge)
    val ex = intercept[IllegalArgumentException] {
      Optimize.mergeInto(spark, out, src, Seq("id"),
        matchedSet = Some(Map("value" ->
          org.apache.spark.sql.functions.expr("length(t.etype) * 1.0"))),
        insertNotMatched = false)
    }
    assert(ex.getMessage.contains("partition column"))
    // updateWhere enforces the same rule on ITS SET values
    val ex2 = intercept[IllegalArgumentException] {
      Optimize.updateWhere(spark, out, col("id") === 2L,
        Map("value" -> org.apache.spark.sql.functions.expr("length(etype) * 1.0")))
    }
    assert(ex2.getMessage.contains("partition column"))

    // a SOURCE column that merely SHARES the partition column's name is
    // legitimate: `s.etype` reads the source row, never the verbatim
    // partition string — the bare-name guard used to refuse this loudly
    val srcSameName = Seq((2L, 99.5)).toDF("id", "etype")
    Optimize.mergeInto(spark, out, srcSameName, Seq("id"),
      matchedSet = Some(Map("value" -> org.apache.spark.sql.functions.expr("s.etype"))),
      insertNotMatched = false): Unit
    val merged = spark.read.parquet(out)
    assert(merged.filter("id = 2 AND value = 99.5").count() == 1,
      "s-qualified SET over a partition-name-sharing source column did not apply")
    assert(merged.filter("id = 2 AND etype = 'click'").count() == 1,
      "the partition value itself must ride through the rewrite verbatim")
  }

  test("partition-scoped OPTIMIZE rewrites only the selected partitions; refusals are loud") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val out = freshDir("opt_scope_out")
    val ckpt = freshDir("opt_scope_ckpt")
    val stream = MemoryStream[Ev]
    runBatch(stream, out, ckpt, (1L to 8L).map(i => ev(i, if (i % 2 == 0) "click" else "view")))
    runBatch(stream, out, ckpt, (9L to 16L).map(i => ev(i, if (i % 2 == 0) "click" else "view")))
    runBatch(stream, out, ckpt, (17L to 24L).map(i => ev(i, if (i % 2 == 0) "click" else "view")))
    val before = spark.read.parquet(out).select("id", "etype", "value").collect().toSet
    def entries(part: String): Set[String] =
      StreamSinks.committedFiles(spark, out, "parquet").filter(_.contains(s"etype=$part")).toSet
    val viewBefore = entries("view")
    val clickBefore = entries("click")
    assert(clickBefore.size >= 3 && viewBefore.size >= 3, "harness: want small files per partition")

    // scoped COMPACTION: only click's small files repack; view's
    // manifest entries ride through the swap verbatim
    val rep = Optimize.optimizeSink(
      spark, out, "parquet", smallFileBytes = 1024 * 1024,
      partitionWhere = Some(col("etype") === "click"))
    assert(rep.compactedFiles == clickBefore.size, "scope must cover exactly click's files")
    assert(rep.keptFiles == viewBefore.size, "out-of-scope files must be kept verbatim")
    assert(entries("view") == viewBefore, "untouched partition's manifest entries changed")
    assert(entries("click").forall(_.contains("graft-compact-")), "click did not rewrite")
    assert(spark.read.parquet(out).select("id", "etype", "value").collect().toSet == before)

    // scoped SORT BY on the PARTITIONED table (the lifted refusal):
    // view re-clusters key-sorted, click's compacted files stay put
    val clickAfter = entries("click")
    val rep2 = Optimize.optimizeSink(
      spark, out, "parquet", targetFileBytes = 2048,
      sortDims = Seq("id"), partitionWhere = Some(col("etype") === "view"))
    assert(rep2.compactedFiles == viewBefore.size && rep2.keptFiles == clickAfter.size)
    assert(entries("click") == clickAfter, "scoped re-cluster touched the other partition")
    assert(spark.read.parquet(out).select("id", "etype", "value").collect().toSet == before)
    // the re-clustered partition's files carry disjoint-ish key ranges
    val boxes = spark.read.parquet(out)
      .filter(col("etype") === "view")
      .select(col("_metadata.file_path").as("f"), col("id"))
      .groupBy("f")
      .agg(org.apache.spark.sql.functions.min("id").as("lo"),
        org.apache.spark.sql.functions.max("id").as("hi"))
      .collect()
    if (boxes.length >= 2) {
      val hit = boxes.count(r => r.getAs[Long]("hi") >= 1L && r.getAs[Long]("lo") <= 5L)
      assert(hit < boxes.length, "scoped sort restored no key locality")
    }

    // refusals: a DATA-column scope predicate; a no-column predicate;
    // a re-clustering key that IS a partition column; WHERE on an
    // unpartitioned table; unscoped recluster on a partitioned table
    val exData = intercept[IllegalArgumentException] {
      Optimize.optimizeSink(spark, out, "parquet",
        partitionWhere = Some(col("value") > 0.0))
    }
    assert(exData.getMessage.contains("data column"), exData.getMessage)
    intercept[IllegalArgumentException] {
      Optimize.optimizeSink(spark, out, "parquet", partitionWhere = Some(lit(true)))
    }
    intercept[IllegalArgumentException] {
      Optimize.optimizeSink(spark, out, "parquet",
        sortDims = Seq("etype"), partitionWhere = Some(col("etype") === "view"))
    }
    val (flat, _) = buildIdTable("scopeflat", Seq(0L))
    val exFlat = intercept[IllegalArgumentException] {
      Optimize.optimizeSink(spark, flat, "parquet", partitionWhere = Some(col("id") > 0L))
    }
    assert(exFlat.getMessage.contains("Hive-partitioned"), exFlat.getMessage)
    val exUnscoped = intercept[IllegalArgumentException] {
      Optimize.optimizeSink(spark, out, "parquet", sortDims = Seq("id"))
    }
    assert(exUnscoped.getMessage.contains("partition predicate"), exUnscoped.getMessage)

    // CRASH REPAIR across a scoped swap: manufacture the mid-swap state
    // from the live (scoped-optimized) manifest — committed stage, no
    // live manifest, junk backup — and roll forward; rows AND the
    // untouched partition's entries survive
    val meta = Paths.get(out, "_spark_metadata")
    val stage = Paths.get(out, "_graft_optimize_stage_meta")
    val bak = Paths.get(out, "_spark_metadata.bak")
    val clickStable = entries("click")
    Files.move(meta, stage)
    Files.writeString(stage.resolve("_COMMITTED"), "")
    Files.createDirectory(bak)
    Files.writeString(bak.resolve("junk"), "old generation")
    assert(Optimize.repairOptimize(spark, out) == "rolled-forward")
    assert(spark.read.parquet(out).select("id", "etype", "value").collect().toSet == before)
    assert(entries("click") == clickStable, "repair lost the untouched partition's entries")
  }

  test("disjoint-scope maintenance runs concurrently; overlap refuses; token repair is surgical") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val out = freshDir("opt_scope_conc_out")
    val ckpt = freshDir("opt_scope_conc_ckpt")
    val stream = MemoryStream[Ev]
    for (round <- 0 to 1; part <- Seq("a", "b", "c")) {
      val base = round * 100 + part(0).toInt * 4
      runBatch(stream, out, ckpt, (base.toLong to base + 3L).map(i => ev(i, part)))
    }
    val before = spark.read.parquet(out).select("id", "etype", "value").collect().toSet
    def entries(part: String): Set[String] =
      StreamSinks.committedFiles(spark, out, "parquet").filter(_.contains(s"etype=$part")).toSet
    val cBefore = entries("c")
    val vBefore = Optimize.listVersions(spark, out).size

    // 1. CONCURRENT DISJOINT scopes: two scoped compactions racing on
    // different partitions must BOTH commit (per-op stage dirs; the
    // merged swap keeps the first committer's work when the second
    // lands) — r17's global stage dirs made the second refuse
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(Optimize.optimizeSink(spark, out, "parquet",
      smallFileBytes = 1024 * 1024, partitionWhere = Some(col("etype") === "a")))
    val fb = Future(Optimize.optimizeSink(spark, out, "parquet",
      smallFileBytes = 1024 * 1024, partitionWhere = Some(col("etype") === "b")))
    val (ra, rb) = (Await.result(fa, 120.seconds), Await.result(fb, 120.seconds))
    assert(ra.compactedFiles >= 2 && rb.compactedFiles >= 2,
      s"both scoped compactions must do real work ($ra / $rb)")
    assert(entries("a").forall(_.contains("graft-compact-")) &&
      entries("b").forall(_.contains("graft-compact-")),
      "a concurrently-committed scope lost its rewrite in the other's swap")
    assert(entries("c") == cBefore, "an untouched partition changed under concurrent scopes")
    assert(spark.read.parquet(out).select("id", "etype", "value").collect().toSet == before)
    assert(Optimize.listVersions(spark, out).size == vBefore + 2,
      "each scoped swap must archive its own version")

    // 2. OVERLAP refusal against an in-flight/dead scope lock
    val deadLock = Paths.get(out, "_graft_scope_deadbeef")
    Files.writeString(deadLock, "etype=c")
    val exOverlap = intercept[IllegalArgumentException] {
      Optimize.optimizeSink(spark, out, "parquet", smallFileBytes = 1024 * 1024,
        partitionWhere = Some(col("etype") === "c"))
    }
    assert(exOverlap.getMessage.contains("overlaps"), exOverlap.getMessage)
    // a DISJOINT scope proceeds right past the foreign lock
    val rd = Optimize.optimizeSink(spark, out, "parquet", targetFileBytes = 2048,
      sortDims = Seq("id"), partitionWhere = Some(col("etype") === "a"))
    assert(rd.compactedFiles > 0, "disjoint scope refused because of an unrelated lock")
    // whole-table maintenance refuses while scoped debris/locks exist
    val exWhole = intercept[IllegalArgumentException] {
      Optimize.deleteWhere(spark, out, col("value") < 0.0)
    }
    assert(exWhole.getMessage.contains("maintenance dirs/locks"), exWhole.getMessage)

    // 3. TOKEN repair heals ONE crashed op without touching another's
    // stage: deadbeef left its lock + uncommitted stage dirs; cafe0001
    // (still alive, mid-stage) has a data dir
    Files.createDirectory(Paths.get(out, "_graft_optimize_stage_meta_deadbeef"))
    Files.createDirectory(Paths.get(out, "_graft_optimize_data_deadbeef"))
    val aliveData = Paths.get(out, "_graft_optimize_data_cafe0001")
    Files.createDirectory(aliveData)
    Files.writeString(aliveData.resolve("live-stage.parquet"), "in-flight bytes")
    val healed = Optimize.repairOptimize(spark, out, "deadbeef")
    assert(healed.startsWith("rolled-back"), healed)
    assert(!Files.exists(deadLock) &&
      !Files.exists(Paths.get(out, "_graft_optimize_stage_meta_deadbeef")) &&
      !Files.exists(Paths.get(out, "_graft_optimize_data_deadbeef")),
      "token repair left the dead op's debris")
    assert(Files.exists(aliveData.resolve("live-stage.parquet")),
      "token repair touched ANOTHER op's in-flight stage")
    // with the dead lock healed, the c scope now optimizes
    val rc = Optimize.optimizeSink(spark, out, "parquet", smallFileBytes = 1024 * 1024,
      partitionWhere = Some(col("etype") === "c"))
    assert(rc.compactedFiles == cBefore.size)
    Optimize.repairOptimize(spark, out, "cafe0001"): Unit // release the simulated live op
    assert(spark.read.parquet(out).select("id", "etype", "value").collect().toSet == before)
  }

  test("partition scope predicates evaluate TYPED: '9' is not >= '10', un-castable values refuse") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val out = freshDir("opt_scope_typed_out")
    val ckpt = freshDir("opt_scope_typed_ckpt")
    val stream = MemoryStream[Ev]
    // int-valued partition dirs (etype=9 / 10 / 23) — the
    // time-partitioned-warehouse shape where hour/day/shard values are
    // numeric strings in the dir names; two batches per partition so
    // compaction has small files everywhere
    for (round <- 0 to 1; hour <- Seq("9", "10", "23")) {
      val base = round * 100 + hour.toLong * 4
      runBatch(stream, out, ckpt, (base to base + 3).map(i => ev(i, hour)))
    }
    val before = spark.read.parquet(out).select("id", "etype", "value").collect().toSet
    def entries(part: String): Set[String] =
      StreamSinks.committedFiles(spark, out, "parquet").filter(_.contains(s"etype=$part")).toSet
    val nineBefore = entries("9")
    val inScopeBefore = entries("10").size + entries("23").size

    // the r17 lexical trap, pinned: a STRING-literal range scope over
    // int-valued partitions compared dir strings lexically ("9" >=
    // "10"), so hour=9 rewrote and the boundary partition semantics
    // were garbage. Typed inference (all values parse as longs) makes
    // this a numeric comparison: 9 stays out, 10 and 23 are in.
    val rep = Optimize.optimizeSink(
      spark, out, "parquet", smallFileBytes = 1024 * 1024,
      partitionWhere = Some(col("etype") >= "10"))
    assert(rep.compactedFiles == inScopeBefore,
      s"typed scope must cover exactly partitions 10 and 23 (${rep.compactedFiles} of $inScopeBefore)")
    assert(entries("9") == nineBefore,
      "partition 9 was rewritten by a >= '10' scope — lexical string comparison")
    assert(entries("10").forall(_.contains("graft-compact-")) &&
      entries("23").forall(_.contains("graft-compact-")),
      "an in-scope partition did not rewrite")
    assert(spark.read.parquet(out).select("id", "etype", "value").collect().toSet == before)

    // the int-literal spelling selects the same typed scope (SORT BY to
    // force a full in-scope rewrite of the now-compacted files)
    val inScopeAfter = entries("10").size + entries("23").size
    val rep2 = Optimize.optimizeSink(
      spark, out, "parquet", targetFileBytes = 2048,
      sortDims = Seq("id"),
      partitionWhere = Some(org.apache.spark.sql.functions.expr("etype >= 10")))
    assert(rep2.compactedFiles == inScopeAfter)
    assert(entries("9") == nineBefore, "int-literal scope touched partition 9")
    assert(spark.read.parquet(out).select("id", "etype", "value").collect().toSet == before)

    // UN-CASTABLE refusal: add a non-numeric partition value; the
    // column now infers STRING, and a numeric scope predicate would
    // either null-drop partitions (non-ANSI) or crash mid-filter (ANSI)
    // — instead the offending value is named loudly
    runBatch(stream, out, ckpt, Seq(ev(990L, "oops")))
    val exCast = intercept[IllegalArgumentException] {
      Optimize.optimizeSink(spark, out, "parquet",
        partitionWhere = Some(org.apache.spark.sql.functions.expr("etype >= 10")))
    }
    assert(exCast.getMessage.contains("do not cast") && exCast.getMessage.contains("oops"),
      exCast.getMessage)
    // exact STRING predicates still work on the mixed-value table
    val rep3 = Optimize.optimizeSink(spark, out, "parquet", smallFileBytes = 1024 * 1024,
      partitionWhere = Some(col("etype") === "oops"))
    assert(rep3.compactedFiles == 0 || rep3.keptFiles > 0) // single file: nothing to repack
    assert(entries("9") == nineBefore)
  }

  test("_PROTECTED snapshot serves vacuum protection in ONE read; retention auto-expires") {
    val (out, _) = buildIdTable("prot", Seq(0L, 100L))
    Optimize.deleteWhere(spark, out, col("id") < 10L) // archives v1
    Optimize.updateWhere(spark, out, col("id") === 20L, Map("v" -> lit(0.0))) // archives v2
    val snap = Paths.get(out, "_graft_history", "_PROTECTED")
    assert(Files.exists(snap), "archive did not write the protection snapshot")
    val pin0 = Optimize.historyPinReport(spark, out)
    assert(pin0.versions == 2 && pin0.pinnedFiles > 0 && pin0.pinnedBytes > 0)

    // CORRUPT every archived manifest: re-opening the logs would now
    // yield an EMPTY protection set, so if the pinned set is unchanged
    // and vacuum still refuses to sweep, the protection came from the
    // single `_PROTECTED` read — the per-sweep O(versions) log parses
    // are gone
    Seq("v1", "v2").foreach { v =>
      val d = Paths.get(out, "_graft_history", v)
      java.nio.file.Files.list(d).forEach(f => Files.writeString(f, "garbage"))
    }
    val pin1 = Optimize.historyPinReport(spark, out)
    assert(pin1.pinnedFiles == pin0.pinnedFiles,
      "protection changed after manifest corruption — vacuum re-opened the archived logs")
    val swept = StreamSinks.vacuum(spark, out, "parquet", dryRun = true, graceMs = 0L)
    assert(swept.isEmpty, s"vacuum swept snapshot-protected files: $swept")

    // default retention (7 d) expires nothing young; retainMs = 0
    // expires everything on the next REAL sweep, releasing the pinned
    // bytes — but a dryRun sweep is a PREVIEW: it reports the would-be
    // expiry and deletes nothing (r18; the r17 dryRun destroyed restore
    // targets)
    val key = "spark.graft.history.retainMs"
    spark.conf.set(key, "0")
    try {
      Thread.sleep(10)
      StreamSinks.vacuum(spark, out, "parquet", dryRun = true, graceMs = 60000L): Unit
      assert(Optimize.listVersions(spark, out).map(_.version) == Seq(1L, 2L),
        "a dryRun vacuum EXPIRED history — preview must be read-only")
      assert(Optimize.historyVersionsOlderThan(spark, out, 0L) == Seq(1L, 2L),
        "dryRun preview did not report the would-expire versions")
      StreamSinks.vacuum(spark, out, "parquet", dryRun = false, graceMs = 60000L): Unit
      assert(Optimize.listVersions(spark, out).isEmpty, "retention did not expire history")
      assert(Optimize.historyPinReport(spark, out).pinnedFiles == 0)
    } finally spark.conf.unset(key)

    // the high-water counter survived expiry through the snapshot path
    Optimize.deleteWhere(spark, out, col("id") === 30L)
    assert(Optimize.listVersions(spark, out).map(_.version) == Seq(3L))
  }

  test("tableChanges: deletes/updates/inserts as a row feed, copied rows cancel, expired spans refuse") {
    val (out, _) = buildIdTable("chfeed", Seq(0L, 100L)) // ids 0..199
    Optimize.deleteWhere(spark, out, col("id") < 10L) // v1 = full table
    Optimize.updateWhere(spark, out, col("id") === 50L, Map("v" -> lit(-1.0))) // v2 = post-delete
    Optimize.mergeInto(spark, out,
      spark.range(200, 210).selectExpr("id", "CAST(id AS DOUBLE) AS v"),
      Seq("id")): Unit // v3 = pre-merge

    def feed(vFrom: Long, vTo: Option[Long]): Map[(Long, String), Double] =
      Optimize.tableChanges(spark, out, vFrom, vTo)
        .select("id", "_change_type", "v").collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap

    // span v1→v2: exactly the 10 deleted rows — the survivors COW-copied
    // into rewritten files must cancel, never appear as churn
    val d = feed(1L, Some(2L))
    assert(d.size == 10 && d.keySet == (0L until 10L).map(i => (i, "delete")).toSet, d.toString)

    // span v2→v3: one update = delete(old image) + insert(new image)
    val u = feed(2L, Some(3L))
    assert(u == Map((50L, "delete") -> 50.0, (50L, "insert") -> -1.0), u.toString)

    // span v3→LIVE (vTo omitted): the merged-in inserts only
    val i = feed(3L, None)
    assert(i.size == 10 && i.keySet == (200L until 210L).map(k => (k, "insert")).toSet, i.toString)

    // full span v1→live composes all three mutations
    val full = feed(1L, None)
    assert(full((50L, "insert")) == -1.0 && full.contains((0L, "delete")) &&
      full.contains((205L, "insert")) && !full.contains((60L, "insert")),
      s"unexpected full-span feed: $full")

    // refusals: unknown/expired version; vacuumed span
    val exV = intercept[IllegalArgumentException] { Optimize.tableChanges(spark, out, 99L) }
    assert(exV.getMessage.contains("no history version"), exV.getMessage)
    Optimize.expireHistory(spark, out, keep = 2) // expires v1
    val exExp = intercept[IllegalArgumentException] { Optimize.tableChanges(spark, out, 1L) }
    assert(exExp.getMessage.contains("no history version"), exExp.getMessage)
    StreamSinks.vacuum(spark, out, "parquet", dryRun = false, graceMs = 0L): Unit
    // v2 survives expiry but its unique files were just released only if
    // unreferenced; force the vacuumed-span refusal by expiring the rest
    // and sweeping, then asking for a feed that needs the gone files
    Optimize.expireHistory(spark, out, keep = 0)
    StreamSinks.vacuum(spark, out, "parquet", dryRun = false, graceMs = 0L): Unit
    val exGone = intercept[Exception] { Optimize.tableChanges(spark, out, 2L) }
    assert(exGone.getMessage.contains("no history version") ||
      exGone.getMessage.contains("vacuumed"), exGone.getMessage)
  }

  test("TIMESTAMP AS OF maps to the latest version archived at or before; refusals are loud") {
    val (out, _) = buildIdTable("asof", Seq(0L, 100L))
    Optimize.deleteWhere(spark, out, col("id") < 10L) // archives v1
    Thread.sleep(30)
    val mid = System.currentTimeMillis()
    Thread.sleep(30)
    Optimize.updateWhere(spark, out, col("id") === 20L, Map("v" -> lit(0.0))) // archives v2
    assert(Optimize.versionAsOf(spark, out, System.currentTimeMillis() + 1000L) == 2L,
      "a future timestamp must map to the latest archived version")
    assert(Optimize.versionAsOf(spark, out, mid) == 1L,
      "a timestamp between the archives must map to the earlier version")

    // the TVF timestamp spelling reads the same manifest the id one does
    graft.functions.GraftExtensions.register(spark)
    val tsStr = new java.sql.Timestamp(mid).toString
    val viaTs = spark.sql(s"SELECT COUNT(*) AS n FROM graft_table_version('$out', '$tsStr')")
      .collect()(0).getLong(0)
    assert(viaTs == Optimize.readVersion(spark, out, 1L).count(),
      "TVF timestamp travel read a different version than the id spelling")

    // BEFORE-FIRST refusal: nothing was archived yet at that instant
    val earliest = Optimize.listVersions(spark, out).head.modifiedMs
    val exEarly = intercept[IllegalArgumentException] {
      Optimize.versionAsOf(spark, out, earliest - 60000L)
    }
    assert(exEarly.getMessage.contains("no version archived at or before"), exEarly.getMessage)

    // CLOCK-SKEW refusal: stamp v1's archive instant AFTER v2's — the
    // mapping is ambiguous and must refuse, not guess
    val v1 = Paths.get(out, "_graft_history", "v1")
    Files.setLastModifiedTime(v1, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() + 3600 * 1000L))
    val exSkew = intercept[IllegalArgumentException] {
      Optimize.versionAsOf(spark, out, System.currentTimeMillis())
    }
    assert(exSkew.getMessage.contains("non-monotonic"), exSkew.getMessage)
  }

  test("history version ids are never reused across expiry epochs") {
    val (out, _) = buildIdTable("vmax", Seq(0L, 100L))
    Optimize.deleteWhere(spark, out, col("id") === 0L)
    Optimize.updateWhere(spark, out, col("id") === 1L, Map("v" -> lit(0.0)))
    assert(Optimize.listVersions(spark, out).map(_.version) == Seq(1L, 2L))

    // full expiry, then another swap: the persisted high-water counter
    // keeps numbering monotonic — a stale `RESTORE TO VERSION 1` can
    // only fail loudly (unknown version), never silently hit a NEWER
    // generation that inherited the recycled id
    Optimize.expireHistory(spark, out, keep = 0)
    Optimize.deleteWhere(spark, out, col("id") === 2L)
    assert(Optimize.listVersions(spark, out).map(_.version) == Seq(3L),
      "version ids were reused after EXPIRE HISTORY KEEP 0")
    intercept[IllegalArgumentException] { Optimize.restoreTable(spark, out, 1L) }
  }

  test("garbled or empty _PROTECTED falls back to scanning — never under-protects") {
    val (out, _) = buildIdTable("protgarble", Seq(0L, 100L))
    Optimize.deleteWhere(spark, out, col("id") < 10L) // archives v1
    val snap = Paths.get(out, "_graft_history", "_PROTECTED")
    assert(Files.exists(snap))
    val pin0 = Optimize.historyPinReport(spark, out)
    assert(pin0.pinnedFiles > 0)
    // torn-write debris: an EMPTY snapshot must read as absent (scan
    // fallback), not as an authoritative empty protection set
    Files.writeString(snap, "")
    assert(Optimize.historyPinReport(spark, out).pinnedFiles == pin0.pinnedFiles,
      "an empty _PROTECTED was trusted as an empty protection set")
    // garbled (headerless) content: same fallback
    Files.writeString(snap, "not/a/real/path\njunk")
    assert(Optimize.historyPinReport(spark, out).pinnedFiles == pin0.pinnedFiles,
      "a headerless _PROTECTED was trusted verbatim")
    val swept = StreamSinks.vacuum(spark, out, "parquet", dryRun = true, graceMs = 0L)
    assert(swept.isEmpty, s"vacuum swept history-pinned files under a garbled snapshot: $swept")
  }

  test("expiry drops the snapshot instead of persisting one computed past an unreadable survivor") {
    val (out, _) = buildIdTable("protstrict", Seq(0L, 100L))
    Optimize.deleteWhere(spark, out, col("id") < 10L) // archives v1
    Optimize.updateWhere(spark, out, col("id") === 20L, Map("v" -> lit(0.0))) // archives v2
    // corrupt the SURVIVOR's manifest: the post-expiry recompute cannot
    // read it, so persisting the recomputed set would durably
    // under-protect v2's files
    val v2 = Paths.get(out, "_graft_history", "v2")
    Files.list(v2).forEach(f => Files.writeString(f, "garbage"))
    assert(Optimize.expireHistory(spark, out, keep = 1) == Seq(1L))
    val snap = Paths.get(out, "_graft_history", "_PROTECTED")
    assert(!Files.exists(snap),
      "a protection snapshot computed while a survivor's manifest was unreadable " +
        "was persisted — under-protection baked into the durable file")
  }

  test("pre-stamp history versions are mtime-migrated, never instantly expired") {
    val (out, _) = buildIdTable("protstamp", Seq(0L, 100L))
    Optimize.deleteWhere(spark, out, col("id") < 10L) // archives v1 (stamped)
    // simulate a pre-r18 upgrade: no stamp-epoch marker, and the version
    // dir's mtime is the retired manifest's OLD time (rename preserved it)
    val marker = Paths.get(out, "_graft_history", "_stamp_epoch")
    Files.delete(marker)
    val v1 = Paths.get(out, "_graft_history", "v1")
    Files.setLastModifiedTime(v1, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 30L * 24 * 3600 * 1000))
    val week = 7L * 24 * 3600 * 1000
    // preview over an unstamped history: nothing reportable-expirable
    assert(Optimize.historyVersionsOlderThan(spark, out, week).isEmpty)
    // first real sweep migrates (stamps every dir to now) and expires
    // NOTHING — without it, a version archived minutes ago whose
    // manifest mtime was 30 d old would be destroyed on sight
    assert(Optimize.expireHistoryOlderThan(spark, out, week).isEmpty,
      "the migrating sweep expired an unstamped version")
    assert(Files.exists(marker), "migration did not drop the stamp-epoch marker")
    assert(Optimize.listVersions(spark, out).map(_.version) == Seq(1L))
    // stamped now: a second windowed sweep retains it, a zero-window
    // sweep expires it through the normal path
    assert(Optimize.expireHistoryOlderThan(spark, out, week).isEmpty)
    Thread.sleep(10)
    assert(Optimize.expireHistoryOlderThan(spark, out, 0L) == Seq(1L))
  }

  test("mergeInto size-gates the source broadcast: large sources shuffle-join, small broadcast") {
    val s = spark
    import s.implicits._
    val plans = new scala.collection.mutable.ArrayBuffer[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(
          funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString: Unit }
      override def onFailure(
          funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    def drain(): Seq[String] = {
      // the listener bus is async: wait until the captured set is quiet
      var last = -1
      var cur = plans.synchronized(plans.size)
      val deadline = System.currentTimeMillis() + 15000
      while (cur != last && System.currentTimeMillis() < deadline) {
        last = cur; Thread.sleep(300); cur = plans.synchronized(plans.size)
      }
      plans.synchronized(plans.toSeq)
    }
    val autoKey = "spark.sql.autoBroadcastJoinThreshold"
    val aqeKey = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    val autoWas = spark.conf.getOption(autoKey)
    val aqeWas = spark.conf.getOption(aqeKey)
    spark.conf.set(autoKey, "-1") // isolate the gate: only OUR hint can broadcast
    spark.conf.set(aqeKey, "-1")
    spark.listenerManager.register(listener)
    try {
      // ABOVE the gate (threshold 0): both the discovery join and the
      // rewrite join must plan WITHOUT a broadcast exchange
      val (out1, _) = buildIdTable("mrgbig", Seq(0L, 100L))
      plans.synchronized(plans.clear())
      Optimize.mergeInto(spark, out1,
        Seq((50L, -1.0), (150L, -2.0)).toDF("id", "v"), Seq("id"),
        maxBroadcastBytes = 0L): Unit
      val bigPlans = drain()
      assert(bigPlans.nonEmpty, "listener captured no plans")
      assert(!bigPlans.exists(_.contains("BroadcastExchange")),
        "an above-threshold source was still broadcast")
      assert(spark.read.parquet(out1).count() == 200)

      // UNDER the gate (default threshold, tiny source): the hint fires
      val (out2, _) = buildIdTable("mrgsmall", Seq(0L, 100L))
      plans.synchronized(plans.clear())
      Optimize.mergeInto(spark, out2,
        Seq((50L, -1.0), (150L, -2.0)).toDF("id", "v"), Seq("id")): Unit
      val smallPlans = drain()
      assert(smallPlans.exists(_.contains("BroadcastExchange")),
        "a below-threshold source was not broadcast")
    } finally {
      spark.listenerManager.unregister(listener)
      autoWas.fold(spark.conf.unset(autoKey))(v => spark.conf.set(autoKey, v))
      aqeWas.fold(spark.conf.unset(aqeKey))(v => spark.conf.set(aqeKey, v))
    }
  }

  test("mergeInto writes inserted rows with the table's column types") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val out = freshDir("mrg_types_out")
    val ckpt = freshDir("mrg_types_ckpt")
    val stream = MemoryStream[(Long, Long)]
    stream.addData((0L until 100L).map(i => (i, i * 10L)): _*)
    val q = StreamSinks.parquetSink(stream.toDF().toDF("id", "v"), out, ckpt)
    q.processAllAvailable(); q.stop()
    def fields(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => f.name -> f.dataType)
    val tableSchema = fields(spark.read.parquet(out))

    // an INT source column into a LONG table: one update, one insert
    val source = Seq((5L, -5), (1000L, 7)).toDF("id", "v")
    val rep = Optimize.mergeInto(spark, out, source, Seq("id"))
    assert(rep.outputFiles >= 2, s"expected a rewrite and an insert: $rep")
    StreamSinks.committedFiles(spark, out, "parquet").foreach { f =>
      assert(fields(spark.read.parquet(f)) == tableSchema,
        s"$f does not carry the table's schema: ${spark.read.parquet(f).schema.simpleString}")
    }
    val t = spark.read.parquet(out)
    assert(t.count() == 101)
    assert(t.filter("id = 5 AND v = -5").count() == 1 && t.filter("id = 1000 AND v = 7").count() == 1)
  }

  test("scoped rewrites keep partition values verbatim and never touch the session's conf") {
    val out = freshDir("opt_scope_verbatim_out")
    val ckpt = freshDir("opt_scope_verbatim_ckpt")
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val stream = MemoryStream[Ev]
    // zero-padded partition values an inferring read would turn into 7 / 10
    for (round <- 0 to 1; part <- Seq("007", "010")) {
      val base = round * 100L + part.toLong * 4
      runBatch(stream, out, ckpt, (base to base + 3).map(i => ev(i, part)))
    }
    val before = spark.read.parquet(out).select("id", "value").collect().toSet
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    spark.conf.set(key, "true")
    // watch the conf for the whole run: a rewrite that toggles it races
    // every other query on the session, not only a concurrent rewrite
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val watcher = new Thread(() =>
      while (!stop.get()) { seen.add(spark.conf.get(key, "<unset>")); Thread.sleep(1) })
    watcher.start()
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val runs = Seq(7L, 10L).map(v => Future(Optimize.optimizeSink(spark, out, "parquet",
        smallFileBytes = 1024 * 1024, partitionWhere = Some(col("etype") === v))))
      runs.foreach(f => assert(Await.result(f, 120.seconds).compactedFiles >= 2))
    } finally {
      stop.set(true); watcher.join()
    }
    try {
      assert(seen.asScala.toSet == Set("true"), s"the session conf changed mid-run: $seen")
      assert(spark.conf.get(key) == "true", "the session conf was not left as the caller set it")
      val files = StreamSinks.committedFiles(spark, out, "parquet")
      assert(files.size == 2 && files.forall(_.contains("graft-compact-")), files.mkString(", "))
      assert(files.count(_.contains("/etype=007/")) == 1 && files.count(_.contains("/etype=010/")) == 1,
        s"partition values did not round-trip verbatim: ${files.mkString(", ")}")
      assert(spark.read.parquet(out).select("id", "value").collect().toSet == before)
    } finally spark.conf.unset(key)
  }

  test("a whole-table op that fails while staging leaves nothing behind") {
    val s = spark
    import s.implicits._
    val (out, _) = buildIdTable("mrg_fail", Seq(0L, 100L))
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val source = Seq((5L, 1.0), (1000L, 2.0)).toDF("id", "v")
    intercept[Exception] {
      Optimize.mergeInto(spark, out, source, Seq("id"),
        matchedSet = Some(Map("v" -> org.apache.spark.sql.functions.raise_error(lit("boom")))))
    }
    assert(!Files.exists(Paths.get(out, "_graft_optimize_data")), "the stage dir survived")
    assert(!new java.io.File(out).list().exists(_.startsWith("_graft_merge_ins_")),
      "the insert stage dir survived")
    assert(source.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "the source stayed cached")
    assert(spark.sparkContext.getPersistentRDDs.keySet == rddsBefore,
      "the failed merge left cached data behind")
    // the next whole-table op runs with no repair
    val rep = Optimize.deleteWhere(spark, out, col("id") < 3L)
    assert(rep.rewrittenFiles >= 1)
    val t = spark.read.parquet(out)
    assert(t.count() == 197 && t.filter("id = 5 AND v = 5.0").count() == 1 &&
      t.filter("id = 1000").count() == 0, "the failed merge changed the table")
  }

  /** A partitioned table of 24 rows over three committed batches. */
  private def buildEtypeTable(name: String): String = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val out = freshDir(s"${name}_out")
    val ckpt = freshDir(s"${name}_ckpt")
    val stream = MemoryStream[Ev]
    for (lo <- Seq(1L, 9L, 17L))
      runBatch(stream, out, ckpt,
        (lo until lo + 8).map(i => ev(i, if (i % 2 == 0) "click" else "view")))
    out
  }

  test("a scoped op after a mid-swap crash refuses before opening the log; repair rolls forward") {
    val out = buildEtypeTable("opt_midswap_scoped")
    val before = spark.read.parquet(out).select("id", "etype", "value").collect().toSet
    assert(before.size == 24)
    // a whole-table op died between its two renames: its committed stage
    // and lock, the retired manifest as the backup, no live manifest
    val meta = Paths.get(out, "_spark_metadata")
    val stage = Paths.get(out, "_graft_optimize_stage_meta_0a0a0a0a")
    val bak = Paths.get(out, "_spark_metadata.bak")
    Files.move(meta, stage)
    Files.writeString(stage.resolve("_COMMITTED"), "")
    Files.createDirectory(bak)
    Files.writeString(bak.resolve("junk"), "old generation")
    Files.writeString(Paths.get(out, "_graft_scope_0a0a0a0a"), "*")
    val ex = intercept[IllegalStateException] {
      Optimize.optimizeSink(spark, out, "parquet", smallFileBytes = 1024 * 1024,
        partitionWhere = Some(col("etype") === "view"))
    }
    assert(ex.getMessage.contains("repairOptimize"), ex.getMessage)
    assert(!Files.exists(meta), "the refused op created an empty live manifest")
    assert(Optimize.repairOptimize(spark, out) == "rolled-forward")
    assert(Files.exists(meta) && !Files.exists(stage) && !Files.exists(bak))
    assert(!Files.exists(Paths.get(out, "_graft_scope_0a0a0a0a")), "the dead op's lock survived")
    assert(spark.read.parquet(out).select("id", "etype", "value").collect().toSet == before,
      "the rolled-forward table lost rows")
  }

  test("untokened repair rolls a committed tokened stage forward and releases its lock") {
    val out = buildEtypeTable("opt_midswap_token")
    val before = spark.read.parquet(out).select("id", "etype", "value").collect().toSet
    // a scoped op died between its two renames: the live manifest moved
    // to the backup, its committed stage (here: the same entries) not yet
    // promoted, its lock still present
    val meta = Paths.get(out, "_spark_metadata")
    val stage = Paths.get(out, "_graft_optimize_stage_meta_1b1b1b1b")
    val bak = Paths.get(out, "_spark_metadata.bak")
    Files.createDirectory(stage)
    Files.list(meta).iterator().asScala.foreach(f => Files.copy(f, stage.resolve(f.getFileName)))
    Files.writeString(stage.resolve("_COMMITTED"), "")
    Files.move(meta, bak)
    val lock = Paths.get(out, "_graft_scope_1b1b1b1b")
    Files.writeString(lock, "etype=view")
    val vBefore = Optimize.listVersions(spark, out).size
    assert(Optimize.repairOptimize(spark, out) == "rolled-forward")
    assert(Files.exists(meta) && !Files.exists(stage) && !Files.exists(bak) && !Files.exists(lock),
      "repair left the crashed op's stage, backup or lock behind")
    assert(Optimize.listVersions(spark, out).size == vBefore + 1,
      "the retired manifest must archive as a history version")
    assert(spark.read.parquet(out).select("id", "etype", "value").collect().toSet == before)
    // the next whole-table op runs with no further repair
    val rep = Optimize.deleteWhere(spark, out, col("id") <= 2L)
    assert(rep.rewrittenFiles >= 1)
    assert(spark.read.parquet(out).count() == 22)
  }

  test("a whole-table lock makes a scoped optimizeSink refuse until it is released") {
    val out = buildEtypeTable("opt_whole_lock")
    val before = spark.read.parquet(out).select("id", "etype", "value").collect().toSet
    val lock = Paths.get(out, "_graft_scope_2c2c2c2c")
    Files.writeString(lock, "*")
    val ex = intercept[IllegalArgumentException] {
      Optimize.optimizeSink(spark, out, "parquet", smallFileBytes = 1024 * 1024,
        partitionWhere = Some(col("etype") === "click"))
    }
    assert(ex.getMessage.contains("overlaps"), ex.getMessage)
    assert(new java.io.File(out).list().count(_.startsWith("_graft_scope_")) == 1,
      "the refused op left its own lock behind")
    assert(Optimize.repairOptimize(spark, out, "2c2c2c2c").startsWith("rolled-back"))
    assert(!Files.exists(lock))
    val rep = Optimize.optimizeSink(spark, out, "parquet", smallFileBytes = 1024 * 1024,
      partitionWhere = Some(col("etype") === "click"))
    assert(rep.compactedFiles >= 2)
    assert(spark.read.parquet(out).select("id", "etype", "value").collect().toSet == before)
  }
}
