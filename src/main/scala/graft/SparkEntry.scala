package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every operator module's declared queries; each key
  * with a matching `oracleSql` entry is hash-checked against DuckDB by the
  * driver at sf0.01. Keys without an oracle get the weaker rows-only check
  * (approximate operators, hash fingerprints).
  */
object SparkEntry {

  private val modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (Aggregates.queries, Aggregates.oracles),
      (Joins.queries, Joins.oracles),
      (Windows.queries, Windows.oracles),
      (SortSetOps.queries, SortSetOps.oracles),
      (graft.gates.TableGates.queries, graft.gates.TableGates.oracles),
      (TextOps.queries, TextOps.oracles),
      (ScalarFuncs.queries, ScalarFuncs.oracles),
      (TimeWindows.queries, TimeWindows.oracles),
      (Dedup.queries, Dedup.oracles),
      (Similarity.queries, Similarity.oracles),
      (GraphOps.queries, GraphOps.oracles),
      (Profiling.queries, Profiling.oracles),
      (Chunking.queries, Chunking.oracles),
      (TextIndex.queries, TextIndex.oracles),
      (Bpe.queries, Bpe.oracles)
    )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("agg_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** Merge module maps, refusing silent key shadowing: a duplicate query
    * name across modules would otherwise mask a query with no failure. */
  private def merged[V](maps: Seq[Map[String, V]]): Map[String, V] = {
    val combined = maps.reduce(_ ++ _)
    require(
      combined.size == maps.map(_.size).sum,
      s"duplicate query keys across modules: " +
        maps.flatMap(_.keys).groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }.mkString(", ")
    )
    combined
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    merged(modules.map(_._1))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    merged(modules.map(_._2))
}
