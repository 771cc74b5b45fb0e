package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver test tables (TESTDATA.md / FIXTURES.md §B).
  *
  * All loaders are plain parquet scans: schema comes from the footer, and
  * Catalyst pushes filters/column pruning into the scan (verified via
  * `.explain` — `PushedFilters`, `ReadSchema`). At 100 TB these would be
  * partitioned table roots; the API is identical.
  */
object Tables {
  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = t(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "lineitem")
  /** `events.ts` has shipped in two fixture vintages, so the loader
    * dispatches on the type the parquet footer yields:
    *  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it, so the
    *    session reads nanos as raw INT64
    *    (`spark.sql.legacy.parquet.nanosAsLong`, set in GraftSession) and
    *    this loader truncates to microseconds — the same truncation DuckDB
    *    applies. Integer `div`: the ns epoch (~1.7e18) exceeds double's
    *    2^53 exact range, so a float path would corrupt low digits.
    *  - TIMESTAMP_MICROS with isAdjustedToUTC=0: loads as timestamp_ntz;
    *    cast to timestamp (wall-clock identical under the UTC session,
    *    and what DuckDB surfaces natively).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val raw = t(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "embeddings")

  /** Root of every gate's scratch output, under the working directory
    * (the repo root for sbt runs). */
  private val ScratchRoot = "tmp/graft_io"

  /** Deterministic per-fixture scratch dir, for gates that rewrite their
    * output from scratch on every run. */
  private[graft] def scratchDir(sfDir: String, name: String): String =
    new java.io.File(ScratchRoot).getAbsolutePath +
      s"/${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}/$name"

  /** Scratch dir for gates that materialize an index/layout or keep
    * setup state before querying it — ONE definition of the
    * single-maintainer path discipline: keyed by fixture dir AND
    * applicationId so a concurrently running suite + bench on one
    * machine can never overwrite each other's layouts mid-scan. Every
    * dir handed out is deleted once, when its application ends. */
  private[graft] def gateScratchDir(spark: SparkSession, sfDir: String, name: String): String = {
    val app = spark.sparkContext.applicationId
    val dir = scratchDir(sfDir, s"${name}_${app.replaceAll("[^A-Za-z0-9]", "_")}")
    appScratch.computeIfAbsent(app, _ => {
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
          Option(appScratch.remove(app)).foreach(_.forEach(d =>
            org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(d)): Unit))
      })
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    }).add(dir)
    dir
  }

  private val appScratch =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.Set[String]]()
}
