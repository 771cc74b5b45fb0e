package perfbench

import org.apache.spark.sql.{SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

final case class LineRow(
    l_orderkey: Long, l_partkey: Long, l_suppkey: Long, l_linenumber: Int,
    l_quantity: Double, l_extendedprice: Double, l_discount: Double, l_tax: Double,
    l_returnflag: String, l_linestatus: String, l_shipdate: java.sql.Timestamp)

/** The paper's own path: lineitem-shaped rows offered in fixed-size
  * triggers to `StreamSinks.orcBucketedSink`, bucketed on l_returnflag x
  * ship month. Closed loop: the next trigger is offered only once the
  * previous one has committed to the manifest.
  */
object Ingest {
  val Bucket = concat_ws("_", col("l_returnflag"), date_format(col("l_shipdate"), "yyyy-MM"))
  /** The sink compacts its manifest every 10th batch; a unit of 10
    * triggers always holds exactly one compaction. */
  val UnitTriggers = 10
  /** Per-trigger latency keeps falling over the first triggers of a fresh
    * JVM; warming up past them keeps the measured units flat. */
  private val WarmTriggers = 12
  private val MinUnits = 3

  /** Rows of a generated stream file, grouped by their `trigger` column. */
  def triggers(spark: SparkSession, file: String): IndexedSeq[Seq[LineRow]] = {
    import spark.implicits._
    val cols = classOf[LineRow].getDeclaredFields.map(_.getName).filter(!_.contains("$"))
    spark.read.parquet(file)
      .select(struct(cols.map(col).toIndexedSeq: _*).as("_1"), col("trigger").as("_2"))
      .as[(LineRow, Int)].collect().toSeq
      .groupBy(_._2).toSeq.sortBy(_._1).map(_._2.map(_._1)).toIndexedSeq
  }

  /** A MemoryStream feeding `sink`; `offer` adds one trigger and returns
    * once it has committed, in ms. */
  final class Feed(spark: SparkSession, sink: org.apache.spark.sql.DataFrame => StreamingQuery) {
    import spark.implicits._
    private implicit val sqlCtx: SQLContext = spark.sqlContext
    private val stream = MemoryStream[LineRow]
    val query: StreamingQuery = sink(stream.toDF())

    def offer(rows: Seq[LineRow]): Double = {
      val t0 = System.nanoTime()
      stream.addData(rows)
      query.processAllAvailable()
      (System.nanoTime() - t0) / 1e6
    }
  }

  def run(ctx: Ctx): Map[String, Any] = {
    import ctx.spark
    val f0 = System.nanoTime()
    val input = triggers(spark, s"${ctx.inputs}/ingest_stream.parquet")
    val table = s"${ctx.work}/ingest_table"
    val feed = new Feed(spark, df => graft.streaming.StreamSinks.orcBucketedSink(
      df, table, s"${ctx.work}/ingest_ckpt", Bucket, trigger = Trigger.ProcessingTime(0)))
    val fixtureS = ctx.elapsed(f0)

    val w0 = System.nanoTime()
    (0 until WarmTriggers).foreach(i => feed.offer(input(i)))
    val warmupS = ctx.elapsed(w0)
    ctx.resetHeapPeak()

    // batch ids must follow trigger numbers one to one: a trigger that
    // committed no batch, or several, is a failed operation
    var errors = 0
    var next = WarmTriggers
    val m0 = System.nanoTime()
    var u = 0
    while (ctx.more(m0, MinUnits) && next + UnitTriggers <= input.size) {
      val unit = u
      ctx.unit(unit)(ctx.timed(ctx.trace.span(s"unit:$unit", "bench.unit", "run") {
        for (_ <- 0 until UnitTriggers) {
          val i = next
          val ms = ctx.trace.span(s"batch:$i", "sink.trigger", s"unit:$unit")(feed.offer(input(i)))
          if (Option(feed.query.lastProgress).forall(_.batchId != i)) errors += 1
          ctx.op(ms)
          next += 1
        }
      }))
      u += 1
    }
    val measuredS = ctx.elapsed(m0)
    ctx.trace.enable(spark, false)
    feed.query.stop()

    val layers: Map[String, Double] =
      if (!ctx.traced) Map.empty
      else {
        val calls = ctx.trace.calls(_.name == "sink.trigger")
        val phases = calls.flatMap(c => ctx.trace.batchPhases.get(c.span.tag.stripPrefix("batch:").toLong))
        def phase(k: String) = Stats.median(phases.flatMap(_.get(k)).map(_.toDouble))
        Trace.common(calls) ++ Trace.selfTimes(ctx.trace.spans.toSeq, u / 2) ++ Map(
          "jvm.heap_peak_mb" -> ctx.heapPeakMb,
          "trace.overhead_frac" -> ctx.overhead,
          "sink.add_batch_ms" -> phase("addBatch"),
          "sink.wal_commit_ms" -> phase("walCommit"),
          "sink.commit_offsets_ms" -> phase("commitOffsets"),
          "sink.query_planning_ms" -> phase("queryPlanning"),
          "sink.latest_offset_ms" -> phase("latestOffset"),
          "sink.get_batch_ms" -> phase("getBatch"),
          "sink.compact_trigger_ms" -> Stats.median(calls
            .filter(c => (c.span.tag.stripPrefix("batch:").toLong + 1) % UnitTriggers == 0)
            .map(_.span.ms.toDouble))
        )
      }

    ctx.timings ++ Map(
      "fixture_s" -> fixtureS,
      "warmup_s" -> warmupS,
      "measured_s" -> measuredS,
      "attempted" -> (next - WarmTriggers),
      "errors" -> errors,
      "triggers_committed" -> next,
      "table" -> table,
      "layers" -> layers
    )
  }
}
