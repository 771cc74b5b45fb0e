package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Every declared query runs on sf0.001 and returns rows; keys line up
  * with oracleSql. Deeper per-operator assertions live in their own specs;
  * exact-value checking is the driver's DuckDB gate (tools/check.py
  * locally).
  */
class QueriesSmokeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession
    .builder(master = "local[4]", shufflePartitions = 4)
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  test("every oracle key has a query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracleSql keys without queries: $orphans")
  }

  test("every query has an oracle — no unchecked queries") {
    // Approximate operators are hash-checked through declared bounds
    // (constant-TRUE oracles: sim_ann_ivf's recall bound,
    // agg_approx_distinct's ±5% bound), so EVERY query must carry one;
    // a new query can't silently ship with only the rows-only check.
    val unchecked = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unchecked.isEmpty, s"queries with no oracle: $unchecked")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // The rerun contract of the stream-ingested table gates, which Bench's
  // warm-up pass relies on: a second call in the same app finds its
  // source written and its checkpoint drained, and its mutation matches
  // nothing — same rows, and the table stays as the first call left it.
  test("table_delete_cow rerun in one app: same rows, no new sink batch, no new version") {
    val gate = SparkEntry.queries("table_delete_cow")
    val tbl = Tables.gateScratchDir(spark, sf, "cow_delete") + "/table"
    def sinkBatches = new java.io.File(s"$tbl/_spark_metadata").list().filterNot(_.startsWith(".")).toSet
    def versions = streaming.Optimize.listVersions(spark, tbl).map(_.version)
    def files = sources.FileIO.dataFileIdentitySet(spark, tbl)

    val first = gate(spark, sf).collect().toSeq
    val (batches1, versions1, files1) = (sinkBatches, versions, files)
    assert(first.nonEmpty)
    assert(versions1.nonEmpty, "the first run's delete archived no version")

    val second = gate(spark, sf).collect().toSeq
    assert(second === first)
    assert(sinkBatches === batches1)
    assert(versions === versions1)
    assert(files === files1)
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs and returns rows on sf0.001") {
      val df = fn(spark, sf)
      assert(df.count() > 0, s"$name returned 0 rows")
    }
  }
}
