package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{Optimize, StreamSinks}

/** The self-compacting manifest sink (StreamSinks.compactingParquetSink,
  * r17): a long soak's committed file count saw-tooths around the
  * small-file threshold instead of growing O(batches) — the reference's
  * file-per-checkpoint growth flaw closed at the sink; exactly-once
  * holds across checkpoint restarts AND across auto-compactions; crash
  * debris from an interrupted compaction heals before the next append;
  * index sidecars stay fresh and correct through the reclaim. */
class CompactingSinkSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = GraftSession
    .builder(master = "local[4]", shufflePartitions = 4)
    .getOrCreate()

  private def freshDir(name: String): String = {
    val p = Files.createTempDirectory(s"graft_$name")
    p.toFile.deleteOnExit()
    p.toString
  }

  private def diskDataFiles(out: String): Int = {
    def walk(p: java.io.File): Seq[java.io.File] =
      Option(p.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
        if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
        else if (f.isDirectory) walk(f)
        else Seq(f)
      }
    walk(new java.io.File(out)).count(_.getName.endsWith(".parquet"))
  }

  test("soak: committed AND on-disk file counts saw-tooth; exactly-once across restarts; " +
    "sidecars stay correct") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val out = freshDir("csink_out")
    val ckpt = freshDir("csink_ckpt")
    val stream = MemoryStream[(Long, Double)]

    def drive(rows: Seq[(Long, Double)]): Unit = {
      stream.addData(rows: _*)
      val q = StreamSinks.compactingParquetSink(
        stream.toDF().toDF("id", "v"), out, ckpt,
        maxSmallFiles = 4, smallFileBytes = 1024 * 1024,
        targetFileBytes = 64L * 1024 * 1024, bloomKeys = Seq("id"))
      q.processAllAvailable(); q.stop() // every batch is also a checkpoint restart
    }

    var maxCommitted = 0
    var sawCompacted = false
    (0 until 12).foreach { b =>
      drive((b * 10L until b * 10L + 10).map(i => (i, i * 1.0)))
      val files = StreamSinks.committedFiles(spark, out, "parquet")
      maxCommitted = math.max(maxCommitted, files.size)
      if (files.exists(_.contains("graft-compact-"))) sawCompacted = true
      assert(files.size <= 10,
        s"batch $b: committed file count ${files.size} escaped the policy bound")
    }
    assert(sawCompacted, "no auto-compaction fired in 12 batches of tiny files")
    assert(maxCommitted <= 10 && maxCommitted >= 4,
      s"saw-tooth ceiling $maxCommitted out of the expected band")
    // 12 batches x up to 4 task files would be ~48 without the policy
    val t = spark.read.parquet(out)
    assert(t.count() == 120, "soak lost or duplicated rows")
    assert(t.select("id").distinct().count() == 120, "duplicate ids after restarts")
    // reclaim-on-compact keeps the DISK bounded too (retirees + orphans gone)
    assert(diskDataFiles(out) <= 12,
      s"on-disk file count ${diskDataFiles(out)} grew past the reclaim bound")
    // reclaim traded history away — by design for this sink
    assert(Optimize.listVersions(spark, out).forall(_ => true)) // no crash listing
    // the per-batch-refreshed bloom sidecar serves EXACT results through
    // compactions: one row per key, never a retired duplicate
    val (rows55, cand, total) = graft.sources.FileIO.bloomPointLookup(spark, out, "id", 55L)
    assert(rows55.count() == 1, "sidecar lookup lost or duplicated a row through compaction")
    assert(cand <= total)

    // crash debris from an interrupted compaction heals before the next
    // append (rolled back; the live manifest stays authoritative)
    val stage = Paths.get(out, "_graft_optimize_stage_meta")
    Files.createDirectory(stage)
    Files.writeString(stage.resolve("0"), "garbage-uncommitted")
    drive(Seq((1000L, 1.0)))
    assert(!Files.exists(stage), "debris survived the healing append")
    assert(spark.read.parquet(out).count() == 121)

    // index hooks without reclaim are refused loudly (silent-duplicate hazard)
    intercept[IllegalArgumentException] {
      StreamSinks.compactingParquetSink(
        stream.toDF().toDF("id", "v"), out, ckpt,
        reclaimOnCompact = false, bloomKeys = Seq("id"))
    }
  }

  test("retention-window sink: time-travelable inside the window, bounded beyond it") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val out = freshDir("csink_win_out")
    val ckpt = freshDir("csink_win_ckpt")
    val stream = MemoryStream[(Long, Double)]
    val window = 2000L

    def drive(rows: Seq[(Long, Double)]): Unit = {
      stream.addData(rows: _*)
      val q = StreamSinks.compactingParquetSink(
        stream.toDF().toDF("id", "v"), out, ckpt,
        maxSmallFiles = 3, smallFileBytes = 1024 * 1024,
        targetFileBytes = 64L * 1024 * 1024,
        reclaimOnCompact = false, retainMs = Some(window))
      q.processAllAvailable(); q.stop()
    }

    (0 until 6).foreach(b => drive((b * 10L until b * 10L + 10).map(i => (i, i * 1.0))))
    // compactions archived versions and the window RETAINED them — the
    // reclaim sink's documented no-time-travel trade is gone
    val vs = Optimize.listVersions(spark, out)
    assert(vs.nonEmpty, "window sink retained no history after compactions")

    // RESTORE MID-SOAK: roll back to the newest archived generation —
    // batches appended after that compaction roll back with it (that is
    // what RESTORE is for), and the checkpointed writer resumes
    // exactly-once on top of the restored manifest
    val vLast = vs.last.version
    val verRows = Optimize.readVersion(spark, out, vLast).select("id", "v")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    Optimize.restoreTable(spark, out, vLast): Unit
    assert(spark.read.parquet(out).select("id", "v")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet == verRows,
      "restore did not serve the archived generation byte-faithfully")
    (6 until 9).foreach(b => drive((b * 10L until b * 10L + 10).map(i => (i, i * 1.0))))
    val afterResume = spark.read.parquet(out)
    assert(afterResume.count() == verRows.size + 30 &&
      afterResume.select("id").distinct().count() == verRows.size + 30,
      "restore mid-soak broke exactly-once")

    // BOUNDED BEYOND THE WINDOW: let the window lapse, then drive
    // enough batches to trigger another compaction sweep — expired
    // versions release their files and the disk saw-tooths back down
    // instead of accumulating every generation forever
    Thread.sleep(window + 200)
    (9 until 12).foreach(b => drive((b * 10L until b * 10L + 10).map(i => (i, i * 1.0))))
    val committed = StreamSinks.committedFiles(spark, out, "parquet").size
    val disk = diskDataFiles(out)
    assert(spark.read.parquet(out).count() == verRows.size + 60,
      "window soak lost or duplicated rows")
    assert(disk <= committed + 14,
      s"on-disk files $disk vs $committed committed — beyond-window generations never swept")
    assert(disk < 30, s"on-disk file count $disk grew unbounded across 12 batches + restore")
    // ... while history INSIDE the window is still pinned and listable
    assert(Optimize.listVersions(spark, out)
      .forall(_.modifiedMs >= System.currentTimeMillis() - 4 * window),
      "a beyond-window version survived the sweep")

    // refusals: hooks with a retention window (retained retirees would
    // serve duplicate sidecar rows), and both reclaim modes at once
    val exHooks = intercept[IllegalArgumentException] {
      StreamSinks.compactingParquetSink(
        stream.toDF().toDF("id", "v"), out, ckpt,
        reclaimOnCompact = false, retainMs = Some(window), bloomKeys = Seq("id"))
    }
    assert(exHooks.getMessage.contains("duplicate"), exHooks.getMessage)
    intercept[IllegalArgumentException] {
      StreamSinks.compactingParquetSink(
        stream.toDF().toDF("id", "v"), out, ckpt, retainMs = Some(window))
    }
  }

  test("a crashed append's stage dir is swept by the next batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val out = freshDir("csink_stale_out")
    val ckpt = freshDir("csink_stale_ckpt")
    val stream = MemoryStream[(Long, Double)]
    def drive(rows: Seq[(Long, Double)]): Unit = {
      stream.addData(rows: _*)
      val q = StreamSinks.compactingParquetSink(stream.toDF().toDF("id", "v"), out, ckpt)
      q.processAllAvailable(); q.stop()
    }
    drive((0L until 10L).map(i => (i, i * 1.0)))
    // what a JVM killed mid-append leaves: a stage dir nothing references
    val stale = Paths.get(out, "_graft_appendsink_deadbeef")
    Files.createDirectory(stale)
    Files.writeString(stale.resolve("part-00000.parquet"), "torn write")
    drive((10L until 20L).map(i => (i, i * 1.0)))
    assert(!Files.exists(stale), "the crashed append's stage dir leaked")
    assert(spark.read.parquet(out).count() == 20)
  }
}
