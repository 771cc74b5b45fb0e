package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SkewTools

/** The two remaining 100 TB join tools, proven at fixture scale:
  *
  * 1. BUCKETED co-located join: both sides written bucketed by the join
  *    key → the join plans with ZERO shuffle exchanges (each bucket pair
  *    joins locally). This is the pre-partitioning story for repeated
  *    fact⋈fact joins at scale.
  * 2. SALTED skew join: semantically identical to the plain join on data
  *    with a hot key, with the hot key fanned out over N tasks.
  */
class ScaleToolsSpec extends AnyFunSuite {
  private lazy val base: SparkSession = GraftSession
    .builder(master = "local[4]", shufflePartitions = 4)
    .getOrCreate()

  /** Cloned session: the base may be shared with other suites, and the
    * bucketed-join audit needs the STATIC planner's view (no AQE
    * re-planning, no broadcast fallback hiding the shuffle question). */
  private lazy val spark: SparkSession = {
    val s = base.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  test("bucketed tables co-locate the join: no shuffle exchange in the plan") {
    val sf = "/root/testdata/sf0.001"
    // unique names: the session (and its warehouse dir) may be shared
    // with other suites, and a stale managed-table location from a prior
    // JVM would fail saveAsTable with LOCATION_ALREADY_EXISTS
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val liT = s"li_bucketed_$tag"
    val ordT = s"ord_bucketed_$tag"
    Tables
      .lineitem(spark, sf)
      .select("l_orderkey", "l_extendedprice")
      .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable(liT)
    Tables
      .orders(spark, sf)
      .select("o_orderkey", "o_totalprice")
      .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable(ordT)

    val joined = spark
      .table(liT)
      .join(spark.table(ordT), col("l_orderkey") === col("o_orderkey"))
    val shuffles = joined.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty, s"bucketed join still shuffles: ${shuffles.size} exchanges")
    assert(joined.count() === Tables.lineitem(spark, sf).count())
  }

  test("bloom-pruned semi join ≡ plain semi join; the probe actually prunes") {
    val s = base
    import s.implicits._
    // 10k big rows, 100 dim keys, ~1% match fraction — the shape where
    // pruning matters
    val big = (0L until 10000L).map(i => (i, s"p$i")).toDF("k", "payload")
    val dim = (0L until 10000L by 100L).map(i => (i, "d")).toDF("dk", "tag").select(col("dk"))
    val got = SkewTools
      .bloomSemiJoin(big, "k", dim, "dk", expectedKeys = 100)
      .select(col("k"))
      .collect()
      .map(_.getLong(0))
      .toSet
    val expected = big
      .join(dim, col("k") === col("dk"), "left_semi")
      .select(col("k"))
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(got === expected, s"bloom semi join diverged: missing=${expected -- got} extra=${got -- expected}")
    assert(got.size === 100)
    // the Bloom probe alone (before the exact join) must reject the
    // overwhelming majority of non-matching rows: ≤ match + fpp slack
    val bloom = dim.stat.bloomFilter("dk", 100, 0.01)
    val kept = big.filter(
      org.apache.spark.sql.graftbridge.PlanBridge.column(
        graft.functions.BloomMightContain(
          org.apache.spark.sql.graftbridge.PlanBridge.expression(col("k")), bloom))).count()
    assert(kept < 400, s"bloom probe kept $kept of 10000 — no pruning")
    assert(kept >= 100, "bloom probe dropped true matches (false negatives are impossible)")
    // string keys go through the putString/mightContainBinary path
    val bigS = (0L until 1000L).map(i => s"key$i").toDF("k")
    val dimS = (0L until 1000L by 50L).map(i => s"key$i").toDF("dk")
    val gotS = SkewTools
      .bloomSemiJoin(bigS, "k", dimS, "dk", expectedKeys = 20)
      .collect()
      .map(_.getString(0))
      .toSet
    assert(gotS === (0L until 1000L by 50L).map(i => s"key$i").toSet)
  }

  test("rehearsal-shape skew join: salted ≡ plain, and AQE's skew split actually fires") {
    // The AQE-skew rehearsal's fixture shape (ScaleFixtures.genSkewed*:
    // 40% of the large side on ONE key) at CI scale, proving both halves
    // of the SCALING.md comparison: the salted join is semantically
    // identical to the plain one, and AQE's runtime skew split engages
    // on this shape once the split threshold is in range of the data.
    val s = base.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
    // at CI scale (4 shuffle partitions) the hot partition is ~2.7x the
    // median — under the default 5x factor; at rehearsal scale (32
    // partitions) the same shape is ~20x and fires with defaults
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    val large = graft.tools.ScaleFixtures.genSkewedLarge(s, 200000L, 2000L, hotPct = 40)
    val small = graft.tools.ScaleFixtures.genSkewedSmall(s, 2000L)
    // the checksum folds `id` in so the large side's unique column rides
    // the shuffle: a keys-only hot partition is constant zeros, which
    // lz4 squeezes under any realistic skew threshold — real payloads
    // don't compress away, and neither should the fixture's
    def totals(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum(col("payload") + pmod(col("id"), lit(1000000L))))
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val plainAgg = large.hint("merge").join(small, "k")
      .agg(count(lit(1)), sum(col("payload") + pmod(col("id"), lit(1000000L))))
    val pr = plainAgg.collect()(0)
    val plain = (pr.getLong(0), pr.getLong(1))
    val salted = totals(SkewTools.saltedJoin(large, small, "k", "id", buckets = 16))
    assert(plain === salted, s"salted join diverged at rehearsal shape: $plain vs $salted")
    assert(plain._1 === 200000L)
    // read the plan AFTER execution: AQE only marks the skew-split SMJ
    // (skew=true) in the final re-planned physical tree
    val finalPlan = plainAgg.queryExecution.executedPlan.toString
    assert(finalPlan.contains("skew=true"),
      "AQE skew split did not fire on a 40%-hot-key merge join with a 64 KB " +
        "split threshold — the rehearsal's 'AQE already handles it' claim needs re-measuring")
  }

  test("salted join ≡ plain join on skewed data") {
    val s = spark
    import s.implicits._
    // hot key: 90% of rows share key 1
    val large = (1L to 2000L).map(i => (if (i % 10 == 0) i else 1L, i)).toDF("k", "id")
    val small = Seq((1L, "hot"), (20L, "a"), (30L, "b")).toDF("k", "name")
    val plain = large.join(small, "k").groupBy("name").count()
    val salted = SkewTools
      .saltedJoin(large, small, "k", "id", buckets = 8)
      .groupBy("name")
      .agg(count(lit(1)).as("count"))
    val p = plain.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val q = salted.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(p === q, s"salted join diverges: plain=$p salted=$q")
    assert(p("hot") === 1800L)
  }
}
