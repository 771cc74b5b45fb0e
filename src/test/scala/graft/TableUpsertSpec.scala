package graft

import java.nio.file.Files
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.FileIO

/** Partition-scoped upsert (FileIO.upsertByKey): updates replace, new
  * keys append, and — the scale property — ONLY the touched partitions
  * are rewritten: untouched partitions' data files stay byte-identical
  * (same names, sizes, mtimes). Plus the contract guards (duplicate
  * update keys reject, partition column required).
  */
class TableUpsertSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = GraftSession
    .builder(master = "local[4]", shufflePartitions = 4)
    .getOrCreate()

  private def freshDir(): String = {
    val p = Files.createTempDirectory("graft_upsert")
    p.toFile.deleteOnExit()
    p.toString
  }

  private def base(n: Int) = {
    val s = spark
    import s.implicits._
    (0 until n)
      .map(i => (i.toLong, s"v$i", if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c"))
      .toDF("id", "payload", "part")
  }

  private def fileState(dir: String, part: String): Set[(String, Long, Long)] =
    Option(new java.io.File(s"$dir/part=$part").listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map(f => (f.getName, f.length, f.lastModified))
      .toSet

  test("updates replace, inserts append, untouched partitions byte-identical") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    base(30).write.mode(SaveMode.Overwrite).partitionBy("part").parquet(dir)
    val cBefore = fileState(dir, "c")
    assert(cBefore.nonEmpty, "fixture wrote no files for partition c")

    // touch partitions a and b only: update two existing keys, add one new
    val updates = Seq(
      (0L, "UPDATED0", "a"),
      (4L, "UPDATED4", "b"),
      (1000L, "NEW", "a")
    ).toDF("id", "payload", "part")
    val report = FileIO.upsertByKey(spark, dir, updates, Seq("id"), "part")
    assert(report.partitionsRewritten === 2 && report.nUpserts === 3)

    val after = spark.read.parquet(dir).select("id", "payload", "part")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(after.size === 31, "30 base rows + 1 insert")
    assert(after.contains((0L, "UPDATED0", "a")) && !after.exists(r => r._1 == 0L && r._2 == "v0"))
    assert(after.contains((4L, "UPDATED4", "b")))
    assert(after.contains((1000L, "NEW", "a")))
    assert(after.count(_._3 == "c") === 10, "partition c rows changed")
    assert(fileState(dir, "c") === cBefore,
      "untouched partition c was rewritten — the selective-rewrite contract broke")
  }

  test("move guard: a key moving partitions fails loudly; legit guarded upserts pass") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    base(30).write.mode(SaveMode.Overwrite).partitionBy("part").parquet(dir)
    FileIO.buildBloomIndex(spark, dir, "id")
    // id 2 lives in partition c (2 % 3 == 2); an update claiming part=a
    // would strand the c row — the guard must catch it BEFORE any write
    val cBefore = fileState(dir, "c")
    val moved = Seq((2L, "MOVED", "a")).toDF("id", "payload", "part")
    val ex = intercept[IllegalStateException] {
      FileIO.upsertByKey(spark, dir, moved, Seq("id"), "part", moveGuardKey = Some("id"))
    }
    assert(ex.getMessage.contains("move guard"), ex.getMessage)
    assert(fileState(dir, "c") === cBefore, "the guard must fire before anything is written")
    assert(spark.read.parquet(dir).filter(col("payload") === "MOVED").count() === 0)
    // a home-partition update and a brand-new key both pass the guard
    val legit = Seq((0L, "UPDATED0", "a"), (1000L, "NEW", "b")).toDF("id", "payload", "part")
    val report = FileIO.upsertByKey(spark, dir, legit, Seq("id"), "part",
      moveGuardKey = Some("id"))
    assert(report.nUpserts === 2)
    // the upsert's own rewrite staled the sidecar: the next guarded call
    // refuses loudly instead of probing vanished files
    val ex2 = intercept[IllegalArgumentException] {
      FileIO.upsertByKey(spark, dir, legit, Seq("id"), "part", moveGuardKey = Some("id"))
    }
    assert(ex2.getMessage.contains("FRESH"), ex2.getMessage)
    // rebuild restores guarded service
    FileIO.buildBloomIndex(spark, dir, "id")
    FileIO.upsertByKey(spark, dir, Seq((0L, "UPDATED0b", "a")).toDF("id", "payload", "part"),
      Seq("id"), "part", moveGuardKey = Some("id"))
    assert(spark.read.parquet(dir).filter(col("payload") === "UPDATED0b").count() === 1)
  }

  test("move guard: partition values needing Hive path escaping don't spuriously abort") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    // partition values with Hive-escaped characters (':' and '%'): on
    // disk they land as %XX-escaped dir names ("part=t%3Acolon"); the
    // guard must match the ESCAPED segment or it probes the touched
    // partition's own files and aborts a perfectly valid home-partition
    // update
    Seq(
      (0L, "v0", "t:colon"), (1L, "v1", "t:colon"),
      (2L, "v2", "p%pct"), (3L, "v3", "p%pct"))
      .toDF("id", "payload", "part")
      .write.mode(SaveMode.Overwrite).partitionBy("part").parquet(dir)
    assert(new java.io.File(s"$dir/part=t%3Acolon").isDirectory,
      "fixture assumption: Spark escapes the colon in the partition dir name")
    FileIO.buildBloomIndex(spark, dir, "id")
    // legit home-partition update: must pass (pre-fix it spuriously aborted)
    val legit = Seq((0L, "U0", "t:colon")).toDF("id", "payload", "part")
    val report = FileIO.upsertByKey(spark, dir, legit, Seq("id"), "part",
      moveGuardKey = Some("id"))
    assert(report.nUpserts === 1)
    assert(spark.read.parquet(dir).filter(col("payload") === "U0").count() === 1)
    // and a genuine move into an escaped partition is still caught
    FileIO.buildBloomIndex(spark, dir, "id")
    val ex = intercept[IllegalStateException] {
      FileIO.upsertByKey(spark, dir,
        Seq((2L, "MOVED", "t:colon")).toDF("id", "payload", "part"),
        Seq("id"), "part", moveGuardKey = Some("id"))
    }
    assert(ex.getMessage.contains("move guard"), ex.getMessage)
    // point lookup must read candidate files through the escaped dirs
    // (sidecar stores URL-encoded URIs; the read must decode them)
    val (rows3, cand3, tot3) = FileIO.bloomPointLookup(spark, dir, "id", 3L)
    assert(rows3.collect().map(_.getAs[String]("payload")).toSeq === Seq("v3"))
    assert(cand3 <= tot3 && tot3 > 0)
    // and incremental refresh must drop vanished escaped-path rows (the
    // keep-filter compares scan-sourced vs listing-sourced identities)
    FileIO.upsertByKey(spark, dir,
      Seq((3L, "U3", "p%pct")).toDF("id", "payload", "part"), Seq("id"), "part")
    val (added, removed) = FileIO.updateBloomIndex(spark, dir, "id")
    assert(added >= 1 && removed >= 1, s"expected an escaped-partition swap, got ($added, $removed)")
    val (rows3b, _, _) = FileIO.bloomPointLookup(spark, dir, "id", 3L)
    assert(rows3b.collect().map(_.getAs[String]("payload")).toSeq === Seq("U3"))
  }

  test("guarded-upsert lifecycle: guard -> upsert -> INCREMENTAL index refresh -> guard again") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    base(30).write.mode(SaveMode.Overwrite).partitionBy("part").parquet(dir)
    FileIO.buildBloomIndex(spark, dir, "id")
    // guarded upsert touches partition a only (update key 0 + insert 999)
    FileIO.upsertByKey(spark, dir,
      Seq((0L, "U0", "a"), (999L, "N", "a")).toDF("id", "payload", "part"),
      Seq("id"), "part", moveGuardKey = Some("id"))
    // the upsert rewrote partition a's files: refresh costs only the
    // rewritten files, not a table rebuild — gone = a's old files,
    // fresh = a's new files, b/c untouched
    val (added, removed) = FileIO.updateBloomIndex(spark, dir, "id")
    assert(added >= 1 && removed >= 1, s"expected a partition-a swap, got ($added, $removed)")
    // the refreshed index serves the guard again: a planted move is
    // still caught (key 2 lives in c), a legit upsert still passes
    val ex = intercept[IllegalStateException] {
      FileIO.upsertByKey(spark, dir,
        Seq((2L, "MOVED", "a")).toDF("id", "payload", "part"),
        Seq("id"), "part", moveGuardKey = Some("id"))
    }
    assert(ex.getMessage.contains("move guard"), ex.getMessage)
    FileIO.upsertByKey(spark, dir,
      Seq((999L, "N2", "a")).toDF("id", "payload", "part"),
      Seq("id"), "part", moveGuardKey = Some("id"))
    FileIO.updateBloomIndex(spark, dir, "id")
    // and the refreshed sidecar still prunes point lookups correctly
    val (rows, cand, tot) = FileIO.bloomPointLookup(spark, dir, "id", 999L)
    assert(rows.collect().map(_.getAs[String]("payload")).toSeq === Seq("N2"))
    assert(cand < tot, "bloom must still prune after two incremental refreshes")
  }

  test("contract guards: duplicate update keys and missing partition column reject") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    base(9).write.mode(SaveMode.Overwrite).partitionBy("part").parquet(dir)
    intercept[IllegalArgumentException] {
      FileIO.upsertByKey(spark, dir,
        Seq((1L, "x", "b"), (1L, "y", "b")).toDF("id", "payload", "part"),
        Seq("id"), "part")
    }
    intercept[IllegalArgumentException] {
      FileIO.upsertByKey(spark, dir,
        Seq((1L, "x")).toDF("id", "payload"), Seq("id"), "part")
    }
  }

  test("idempotence: re-applying the same upsert changes nothing") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    base(12).write.mode(SaveMode.Overwrite).partitionBy("part").parquet(dir)
    val updates = Seq((2L, "U2", "c"), (500L, "NEW", "b")).toDF("id", "payload", "part")
    FileIO.upsertByKey(spark, dir, updates, Seq("id"), "part")
    val once = spark.read.parquet(dir).collect().map(_.toString).sorted
    FileIO.upsertByKey(spark, dir, updates, Seq("id"), "part")
    val twice = spark.read.parquet(dir).collect().map(_.toString).sorted
    assert(once.toSeq === twice.toSeq, "upsert is not idempotent")
  }
}
