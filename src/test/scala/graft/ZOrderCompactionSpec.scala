package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** FileIO.writeZOrdered + FileIO.compact — layout operators, measured
  * like SortedLayoutSpec: pruning and file-count claims are read off
  * real scan metrics and directory listings, results compared for
  * equality, never asserted by vibes.
  */
class ZOrderCompactionSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = GraftSession
    .builder(master = "local[4]", shufflePartitions = 4)
    .getOrCreate()

  private val sf = "/root/testdata/sf0.01"

  private def scanOutputRows(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    graft.tools.PlanProbe
      .collectAll(df.queryExecution.executedPlan) { case f: FileSourceScanExec => f }
      .map(_.metrics("numOutputRows").value)
      .sum
  }

  private def dataFiles(path: String): Array[java.io.File] =
    new java.io.File(path).listFiles((_, n) => n.endsWith(".parquet"))

  test("mortonCode interleaves bits (known values)") {
    import spark.implicits._
    val got = Seq((0L, 0L), (65535L, 0L), (0L, 65535L), (3L, 5L))
      .toDF("a", "b")
      .select(sources.FileIO.mortonCode(col("a"), col("b")).as("z"))
      .collect()
      .map(_.getLong(0))
    // spread(x) occupies even bits, spread(y) odd bits
    assert(got(0) === 0L)
    assert(got(1) === 0x55555555L)
    assert(got(2) === 0xAAAAAAAAL)
    // a=3 → bits 0,2 ; b=5 (101) → bits 1,5 shifted → 0b100111 = 39
    assert(got(3) === ((1L << 0) | (1L << 2) | (1L << 1) | (1L << 5)))
  }

  test("mortonCodeN: n=2/bits=16 is bit-identical to mortonCode; 3-dim round-robin known values") {
    import spark.implicits._
    val pairs = Seq((0L, 0L), (65535L, 0L), (0L, 65535L), (3L, 5L), (12345L, 54321L))
    val both = pairs
      .toDF("a", "b")
      .select(
        sources.FileIO.mortonCode(col("a"), col("b")).as("z2"),
        sources.FileIO.mortonCodeN(Seq(col("a"), col("b")), 16).as("zn"))
      .collect()
    both.foreach(r => assert(r.getLong(0) === r.getLong(1),
      s"mortonCodeN(n=2) diverged from the mask cascade: $r"))
    // 3 dims: bit i of dim d → position 3i + d
    val z3 = Seq((1L, 1L, 1L), (2L, 0L, 4L))
      .toDF("a", "b", "c")
      .select(sources.FileIO.mortonCodeN(Seq(col("a"), col("b"), col("c")), 16).as("z"))
      .collect().map(_.getLong(0))
    assert(z3(0) === 7L)                      // bits 0,1,2
    assert(z3(1) === ((1L << 3) | (1L << 8))) // a bit1→pos3, c bit2→pos8
  }

  test("writeZOrderedN(3 dims): selective filters on EACH dimension prune; rows identical") {
    val li = Tables
      .lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_quantity"))
    val total = li.count()
    // 64 files → the top 6 curve bits hold 2 bits of EACH dimension (a
    // 4×4×4 tile grid); at 16 files a dim would own a single top bit and
    // file-level boxes could only halve the scan
    val zPath = "/root/repo/tmp/graft_io/zorder3_layout"
    sources.FileIO.writeZOrderedN(
      li, zPath, Seq("l_orderkey", "l_partkey", "l_suppkey"), files = 64)

    val Array(okMax, pkMax, skMax) = li
      .agg(max(col("l_orderkey")), max(col("l_partkey")), max(col("l_suppkey")))
      .collect().flatMap(r => Array(r.getLong(0), r.getLong(1), r.getLong(2)))
    // rows identical through the reorganization
    val exp = li.agg(count(lit(1)), sum(col("l_quantity"))).collect()(0)
    assert(spark.read.parquet(zPath).agg(count(lit(1)), sum(col("l_quantity"))).collect()(0)
      === exp, "3-dim z-ordered layout changed the relation")
    // ~1/16-wide box on each dim alone must prune meaningfully — the
    // third dimension is the one the 2-D curve cannot serve
    for ((c, mx) <- Seq(("l_orderkey", okMax), ("l_partkey", pkMax), ("l_suppkey", skMax))) {
      val read = scanOutputRows(spark.read.parquet(zPath).filter(col(c) <= mx / 16))
      assert(read * 2 < total, s"3-dim z-order did not prune on $c: read $read of $total")
    }
  }

  test("writeZOrdered: selective filters on EITHER dimension prune; one-dim sort does not") {
    val li = Tables
      .lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    val total = li.count()

    val zPath = "/root/repo/tmp/graft_io/zorder_layout"
    val aPath = "/root/repo/tmp/graft_io/asorted_layout"
    sources.FileIO.writeZOrdered(li, zPath, "l_orderkey", "l_partkey", files = 16)
    sources.FileIO.writeSorted(li, aPath, Seq("l_orderkey"), files = 16)

    val Array(okMax, pkMax) = li
      .agg(max(col("l_orderkey")), max(col("l_partkey")))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .flatMap(t => Array(t._1, t._2))
    // ~1/16-wide range predicates on each dimension
    def fA(path: String) = spark.read.parquet(path).filter(col("l_orderkey") <= okMax / 16)
    def fB(path: String) = spark.read.parquet(path).filter(col("l_partkey") <= pkMax / 16)

    // correctness: the z-ordered copy is the same relation
    val expB = li
      .filter(col("l_partkey") <= pkMax / 16)
      .agg(count(lit(1)), sum(col("l_quantity")))
      .collect()(0)
    val gotB = fB(zPath).agg(count(lit(1)), sum(col("l_quantity"))).collect()(0)
    assert(gotB === expB, "z-ordered layout changed query results")

    val zA = scanOutputRows(fA(zPath))
    val zB = scanOutputRows(fB(zPath))
    val aA = scanOutputRows(fA(aPath))
    val aB = scanOutputRows(fB(aPath))

    // the one-dim sort is perfect on its own dimension and blind on the
    // other; z-order must prune meaningfully on BOTH
    assert(aA <= zA, "sanity: dedicated sort can't lose on its own dim")
    assert(aB > total / 2, s"one-dim sort unexpectedly pruned the other dim: $aB of $total")
    assert(zA * 2 < total, s"z-order did not prune on dim A: $zA of $total")
    assert(zB * 2 < aB, s"z-order did not beat one-dim sort on dim B: $zB vs $aB")
  }

  test("compact: many small files repack to the targeted count, shuffle-free, data identical") {
    val li = Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_quantity"))
    val smallPath = "/root/repo/tmp/graft_io/small_files"
    val packedPath = "/root/repo/tmp/graft_io/compacted"
    li.repartition(64).write.mode("overwrite").parquet(smallPath)
    assert(dataFiles(smallPath).length === 64)

    val totalBytes = dataFiles(smallPath).map(_.length).sum
    val target = totalBytes / 4 + 1 // aim for ~4 output files
    val (nIn, nOut) = sources.FileIO.compact(spark, smallPath, packedPath, target)
    assert(nIn === 64)
    assert(nOut <= 5, s"expected ~4 output files, planned $nOut")
    assert(dataFiles(packedPath).length === nOut)

    // narrow repack: no exchange in the executed plan
    val repack = spark.read.parquet(smallPath).coalesce(nOut)
    assert(
      !repack.queryExecution.executedPlan.toString.contains("Exchange"),
      "compaction plan contains a shuffle")

    val before = li.agg(count(lit(1)), sum(col("l_quantity"))).collect()(0)
    val after = spark.read
      .parquet(packedPath)
      .agg(count(lit(1)), sum(col("l_quantity")))
      .collect()(0)
    assert(after === before, "compaction changed the data")
  }

  test("compact: a Hive-partitioned dir counts every file and keeps its partition dirs verbatim") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_compact_parts").toString
    val (smallPath, packedPath) = (s"$root/small", s"$root/packed")
    (0 until 400).map(i => (i.toLong, i * 3L, if (i % 2 == 0) "01" else "10"))
      .toDF("id", "v", "part")
      .repartition(6)
      .write.partitionBy("part").parquet(smallPath)
    def parquetFiles(dir: String): Seq[String] = {
      val base = java.nio.file.Paths.get(dir)
      java.nio.file.Files.walk(base).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).map(base.relativize(_).toString).toSeq
    }
    val k = parquetFiles(smallPath).size
    assert(k > 2, s"fixture should spread each partition over several files, got $k")

    val (nIn, nOut) = sources.FileIO.compact(spark, smallPath, packedPath, 1L << 30)
    assert(nIn === k)
    assert(nOut === 1)
    // the partition dirs survive with their raw values ("01" is not re-typed to "1")
    assert(parquetFiles(packedPath).map(_.takeWhile(_ != '/')).toSet === Set("part=01", "part=10"))
    def rows(p: String) = spark.read.parquet(p).collect().map(_.toString).sorted.toSeq
    assert(rows(packedPath) === rows(smallPath))
  }
}
