package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.{Optimize, StreamSinks}

/** Writes beside reads on one table. Untimed, a pristine table is streamed
  * through `StreamSinks.parquetSink` in many small triggers (a small-file
  * state). Each timed cycle works on a fresh copy of it: `optimizeSink`,
  * then a key-slice `deleteWhere`, `updateWhere` and `mergeInto`, each
  * followed by a pruned read and a full-aggregate read. Every timed call,
  * mutating or read, is one operation sample.
  */
object Maintain {
  /** The pruned read: one partition, a key range. */
  private val PrunedKeys = 3000L
  /** The first measured cycle can still be up to 15% slower than the next
    * (JIT); the median of three skips it. */
  private val MinUnits = 3

  def run(ctx: Ctx): Map[String, Any] = {
    import ctx.spark
    val f0 = System.nanoTime()
    val pristine = Paths.get(s"${ctx.work}/maintain_pristine").toAbsolutePath.toString
    val feed = new Ingest.Feed(spark, df => StreamSinks.parquetSink(
      df, pristine, s"${ctx.work}/maintain_ckpt", Seq("l_returnflag"), Trigger.ProcessingTime(0)))
    Ingest.triggers(spark, s"${ctx.inputs}/maintain_rows.parquet").foreach(feed.offer)
    feed.query.stop()
    val p = param(s"${ctx.inputs}/maintain_params.json") _
    val upsert = spark.read.parquet(s"${ctx.inputs}/maintain_upsert.parquet")
    val deleteSlice = col("l_orderkey") >= p("delete_lo") && col("l_orderkey") < p("delete_hi")
    val updateSlice = col("l_orderkey") >= p("update_lo") && col("l_orderkey") < p("update_hi")
    // rows each DML call changes, for the write amplification
    val changed = Map(
      "optimize.delete" -> p("delete_rows"),
      "optimize.update" -> p("update_rows"),
      "optimize.merge" -> p("upsert_rows"))
    val bytesPerRow = tableBytes(pristine).toDouble / p("rows")

    val ops: Seq[(String, String => Int)] = Seq(
      "optimize.compact" -> (t => Optimize.optimizeSink(spark, t).compactedFiles),
      "optimize.delete" -> (t => Optimize.deleteWhere(spark, t, deleteSlice).rewrittenFiles),
      "optimize.update" -> (t => Optimize.updateWhere(spark, t, updateSlice,
        Map("l_quantity" -> (col("l_quantity") + lit(1.0)))).rewrittenFiles),
      "optimize.merge" -> (t => Optimize.mergeInto(spark, t, upsert,
        Seq("l_orderkey", "l_linenumber")).rewrittenFiles))
    val fixtureS = ctx.elapsed(f0)

    val reads = collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val probes = collection.mutable.ArrayBuffer.empty[(Int, Int)] // files rewritten, live after
    val tracedFiles = collection.mutable.ArrayBuffer.empty[Double]
    var attempted = 0
    var errors = 0
    var last = ""

    /** One cycle on a fresh copy; returns the seconds its calls took. */
    def cycle(c: Int): Double = {
      val t = Paths.get(s"${ctx.work}/maintain_cycle_$c").toAbsolutePath.toString
      copyTable(pristine, t)
      var secs = 0.0
      def call[T](tag: String, name: String, parent: String)(f: => T): (T, Double) = {
        val t0 = System.nanoTime()
        val r = ctx.trace.span(tag, name, parent)(f)
        val s = (System.nanoTime() - t0) / 1e9
        secs += s
        (r, s)
      }
      for (((name, op), k) <- ops.zipWithIndex) {
        val tag = s"w:$c:$k"
        attempted += 1
        try {
          val (files, s) = call(tag, name, s"cycle:$c")(op(t))
          ctx.op(s * 1e3)
          if (files == 0) errors += 1 // a no-op call times nothing
          if (ctx.trace.on) probes += ((files, spark.read.parquet(t).inputFiles.length))
        } catch { case e: Throwable => errors += 1; System.err.println(s"$name: $e") }
        for ((kind, q) <- Seq("pruned" -> pruned _, "full" -> full _)) {
          attempted += 1
          try {
            // timed from opening the table: the open reads the manifest
            // and lists the files
            val ((df, rows), s) = call(s"r:$c:$k:$kind", "sources.read", tag) {
              val df = q(spark.read.parquet(t))
              (df, df.collect())
            }
            ctx.op(s * 1e3)
            reads += Map("cycle" -> c, "step" -> k, "kind" -> kind,
              "rows" -> rows.map(_.toSeq.map(v => if (v == null) null else v.toString)))
            if (ctx.trace.on) tracedFiles += scanFiles(df.queryExecution.executedPlan).toDouble
          } catch { case e: Throwable => errors += 1; System.err.println(s"read $kind: $e") }
        }
      }
      if (last.nonEmpty) deleteTree(Paths.get(last))
      last = t
      secs
    }

    val w0 = System.nanoTime()
    cycle(0)
    val warmupS = ctx.elapsed(w0)
    ctx.resetHeapPeak()
    attempted = 0
    errors = 0
    reads.clear()

    val m0 = System.nanoTime()
    var u = 0
    while (ctx.more(m0, MinUnits)) {
      val c = u + 1
      ctx.unit(u)(ctx.trace.span(s"cycle:$c", "bench.cycle", "run")(cycle(c)))
      u += 1
    }
    val measuredS = ctx.elapsed(m0)
    ctx.trace.enable(spark, false)

    val layers: Map[String, Double] =
      if (!ctx.traced) Map.empty
      else {
        val writes = ctx.trace.calls(_.name.startsWith("optimize."))
        val readCalls = ctx.trace.calls(_.name == "sources.read")
        def opS(n: String) = Stats.median(writes.filter(_.span.name == n).map(_.span.ms / 1e3))
        val dml = writes.filter(w => changed.contains(w.span.name))
        val changedBytes = dml.map(w => changed(w.span.name) * bytesPerRow).sum
        Trace.common(writes) ++ Trace.selfTimes(ctx.trace.spans.toSeq, u / 2) ++ Map(
          "jvm.heap_peak_mb" -> ctx.heapPeakMb,
          "trace.overhead_frac" -> ctx.overhead,
          "optimize.compact_s" -> opS("optimize.compact"),
          "optimize.delete_s" -> opS("optimize.delete"),
          "optimize.update_s" -> opS("optimize.update"),
          "optimize.merge_s" -> opS("optimize.merge"),
          "optimize.files_rewritten" -> Stats.median(probes.map(_._1.toDouble).toSeq),
          "optimize.min_files_rewritten" -> probes.map(_._1.toDouble).minOption.getOrElse(0.0),
          "optimize.jobs_per_op" -> writes.map(_.jobs.toDouble).sum / math.max(1, writes.size),
          "optimize.min_jobs_per_op" -> writes.map(_.jobs.toDouble).minOption.getOrElse(0.0),
          "optimize.write_amp" -> dml.map(_.agg.output.toDouble).sum / math.max(1.0, changedBytes),
          "optimize.files_live_after" -> Stats.median(probes.map(_._2.toDouble).toSeq),
          "sources.read_s" -> Stats.median(readCalls.map(_.span.ms / 1e3)),
          "sources.read_scan_bytes" -> Stats.median(readCalls.map(_.agg.scanBytes.toDouble)),
          "sources.files_scanned" -> Stats.median(tracedFiles.toSeq)
        )
      }

    ctx.timings ++ Map(
      "fixture_s" -> fixtureS,
      "warmup_s" -> warmupS,
      "measured_s" -> measuredS,
      "attempted" -> attempted,
      "errors" -> errors,
      "reads" -> reads,
      "table" -> last,
      "pruned_keys" -> PrunedKeys,
      "layers" -> layers
    )
  }

  private def pruned(t: DataFrame): DataFrame =
    t.filter(col("l_returnflag") === "R" && col("l_orderkey") < PrunedKeys)
      .agg(cents.head, cents.tail: _*)

  private def full(t: DataFrame): DataFrame =
    t.groupBy(col("l_returnflag")).agg(cents.head, cents.tail: _*).orderBy(col("l_returnflag"))

  /** Exact aggregates: integer counts and sums of integer cents, so the
    * check compares them without floating-point order effects. */
  private def cents: Seq[Column] = Seq(
    count(lit(1)).as("n"),
    sum(round(col("l_quantity") * 100).cast("long")).as("qty_c"),
    sum(round(col("l_extendedprice") * 100).cast("long")).as("price_c"),
    sum(round(col("l_tax") * 100).cast("long")).as("tax_c"))

  private def scanFiles(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => scanFiles(a.executedPlan)
    case q: QueryStageExec => scanFiles(q.plan)
    case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case o => (o.children ++ o.subqueries).map(scanFiles).sum
  }

  private def param(file: String)(key: String): Long =
    s""""$key"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(Files.readString(Paths.get(file)))
      .map(_.group(1).toLong).getOrElse(throw new IllegalArgumentException(s"$key missing in $file"))

  private def tableBytes(dir: String): Long = {
    import scala.jdk.CollectionConverters._
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet")).map(Files.size).sum
  }

  /** A copy of a sink table under `dst`. The manifest names files by
    * absolute path, so its entries are rewritten to the copy's files;
    * the result is the table the sink would have left had it written to
    * `dst`. */
  private def copyTable(src: String, dst: String): Unit = {
    import scala.jdk.CollectionConverters._
    val s = Paths.get(src)
    Files.walk(s).iterator().asScala.toSeq.foreach { f =>
      val d = Paths.get(dst).resolve(s.relativize(f).toString)
      val inManifest = f.getParent.getFileName.toString == "_spark_metadata"
      if (Files.isDirectory(f)) Files.createDirectories(d)
      else if (inManifest && f.getFileName.toString.endsWith(".crc")) () // stale once rewritten
      else if (inManifest) Files.writeString(d, Files.readString(f).replace(src + "/", dst + "/"))
      else Files.copy(f, d)
    }
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }
}
