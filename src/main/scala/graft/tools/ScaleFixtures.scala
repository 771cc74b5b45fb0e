package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DETERMINISTIC synthetic fixtures shaped like sf0.1 (same cardinality
  * ratios, word-vocab text with ~8% near-dup structure, 64-dim
  * near-uniform embeddings, hot-keyed join sides) at any row count —
  * every value a pure function of the row id, so a spec can scale a
  * fixture up without shipping data. The scale curves measured on them
  * are recorded in SCALING.md; the rehearsal CLI that produced them is
  * in git history. */
object ScaleFixtures {

  private val vocab: Seq[String] = Seq(
    "spark", "line", "column", "order", "small", "sort", "fast", "value",
    "scan", "hash", "slow", "group", "batch", "part", "query", "agg",
    "table", "vector", "stream", "filter", "big", "merge", "join", "key",
    "window", "customer", "the", "a", "data", "cache", "plan", "code",
    "row", "page", "disk", "node", "task", "stage", "shard", "index")

  /** documents twin: 92% base docs (30-70 words off a 40-word vocab,
    * all word choices pure functions of the doc seed) + 8% near-dups
    * (same word stream as their base doc with ONE position rewritten —
    * 3-gram Jaccard ≈ 0.9, well above the 0.5 pair threshold). */
  private[graft] def genDocs(spark: SparkSession, n: Long): DataFrame = {
    val vocabCol = array(vocab.map(lit): _*)
    val nBase = (n * 92) / 100
    spark.range(n).select(col("id").as("doc_id"),
      when(col("id") < nBase, col("id")).otherwise(col("id") - nBase).as("seed"),
      (col("id") >= nBase).as("dup"))
      .select(
        col("doc_id"),
        array_join(
          transform(
            sequence(lit(1), (pmod(xxhash64(col("seed")), lit(41)) + 30).cast("int")),
            i => {
              val base = element_at(vocabCol,
                (pmod(xxhash64(col("seed"), i), lit(vocab.size)) + 1).cast("int"))
              val alt = element_at(vocabCol,
                (pmod(xxhash64(col("seed"), i, lit(7)), lit(vocab.size)) + 1).cast("int"))
              val flipAt = (pmod(xxhash64(col("doc_id")), lit(25)) + 3).cast("int")
              when(col("dup") && i === flipAt, alt).otherwise(base)
            }),
          " ").as("text"))
  }

  /** embeddings with PLANTED near-dup structure — the production dedup
    * regime: 92% base near-uniform vectors, 8% perturbed copies of a
    * base vector (±1% per-coordinate noise → cos ≈ 0.999, far above a
    * 0.9 threshold, while unrelated uniform pairs sit near 0). */
  private[graft] def genEmbeddingsPlanted(spark: SparkSession, n: Long): DataFrame = {
    val nBase = (n * 92) / 100
    spark.range(n).select(
      col("id").as("vec_id"),
      when(col("id") < nBase, col("id")).otherwise(col("id") - nBase).as("seed"),
      (col("id") >= nBase).as("dup"))
      .select(
        col("vec_id"),
        transform(sequence(lit(0), lit(63)), j =>
          (pmod(xxhash64(col("seed"), j), lit(2001)) - 1000).cast("double") / 1000.0 +
            when(col("dup"),
              (pmod(xxhash64(col("vec_id"), j, lit(13)), lit(21)) - 10).cast("double") / 1000.0)
              .otherwise(lit(0.0))).as("v"))
  }

  /** Deliberately hot-keyed join fixture (the AQE-skew rehearsal):
    * `hotPct`% of the large side's rows share key 0, the rest spread
    * uniformly over `nKeys` — the one-mega-key shape AQE's skew-join
    * split and [[graft.operators.SkewTools.saltedJoin]] both target. */
  private[graft] def genSkewedLarge(
      spark: SparkSession, nRows: Long, nKeys: Long, hotPct: Int): DataFrame =
    spark.range(nRows).select(
      when(pmod(col("id"), lit(100)) < hotPct, 0L)
        .otherwise(pmod(xxhash64(col("id")), lit(nKeys - 1)) + 1)
        .as("k"),
      col("id"))

  private[graft] def genSkewedSmall(spark: SparkSession, nKeys: Long): DataFrame =
    // payload bounded so sum() over billions of joined rows stays inside
    // a long under ANSI arithmetic
    spark.range(nKeys).select(
      col("id").as("k"), pmod(xxhash64(col("id")), lit(1000000L)).as("payload"))
}
