package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** Spans and counts for the traced run.
  *
  * A span is one call the benchmark makes into a layer: its tag, name,
  * parent and wall interval. Spark jobs are tied to the span through the
  * `perfbench.span` local property set around the call; micro-batch jobs
  * run on the stream thread, so they are tied through the batch id Spark
  * itself stamps on them (`streaming.sql.batchId`). Everything is kept in
  * memory and reduced to per-layer numbers when the run ends.
  */
final class Trace(sc: SparkContext) extends SparkListener {
  import Trace._

  val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stageTag = mutable.Map.empty[Int, String]
  private val agg = mutable.Map.empty[String, Agg]
  private val taskTimes = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val batchPhases = mutable.Map.empty[Long, Map[String, Long]]
  private var enabled = false
  private var fenceSeen = false

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      import scala.jdk.CollectionConverters._
      val p = e.progress
      Trace.this.synchronized {
        batchPhases(p.batchId) = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      }
    }
  }

  def on: Boolean = enabled

  /** Attach or detach the listeners; detached units measure the untraced
    * cost that the tracing overhead is taken against. */
  def enable(spark: org.apache.spark.sql.SparkSession, b: Boolean): Unit = if (b != enabled) {
    if (b) { sc.addSparkListener(this); spark.streams.addListener(streamListener) }
    else { fence(); sc.removeSparkListener(this); spark.streams.removeListener(streamListener) }
    enabled = b
  }

  /** Run `f` as span `tag`; its Spark jobs carry the tag. */
  def span[T](tag: String, name: String, parent: String)(f: => T): T = {
    val t0 = System.currentTimeMillis()
    val outer = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, tag)
    try f
    finally {
      sc.setLocalProperty(SpanKey, outer)
      if (enabled) spans += Span(tag, name, parent, t0, System.currentTimeMillis())
    }
  }

  /** Block until the listener has seen every event posted so far: events
    * arrive in order, so seeing a marker job's end is enough. */
  def fence(): Unit = if (enabled) {
    synchronized { fenceSeen = false }
    sc.setLocalProperty(SpanKey, FenceTag)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(SpanKey, null)
    val deadline = System.currentTimeMillis() + 20000
    while (!synchronized(fenceSeen) && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  private def tagOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))
      .orElse(Option(p.getProperty("streaming.sql.batchId")).map("batch:" + _)))
      .getOrElse("untagged")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = tagOf(e.properties)
    jobs(e.jobId) = JobRec(tag, e.time, e.time, e.stageIds.size)
    e.stageIds.foreach(s => stageTag(s) = tag)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      jobs(e.jobId) = j.copy(end = e.time)
      if (j.tag == FenceTag) fenceSeen = true
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val tag = stageTag.getOrElse(e.stageId, "untagged")
    val a = agg.getOrElseUpdate(tag, new Agg)
    a.tasks += 1
    taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    a.stages += e.stageId
    Option(e.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.scanBytes += m.inputMetrics.bytesRead
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.output += m.outputMetrics.bytesWritten
    }
  }

  /** Per-call numbers for every span whose tag passes `keep`. */
  def calls(keep: Span => Boolean): Seq[Call] = synchronized {
    spans.toSeq.filter(keep).map { s =>
      val js = jobs.values.filter(_.tag == s.tag).toSeq
      val a = agg.getOrElse(s.tag, new Agg)
      // skew of the slowest stage: max over median task time
      val skew = a.stages.toSeq.map(st => taskTimes.getOrElse(st, mutable.ArrayBuffer.empty[Long]))
        .filter(_.nonEmpty).sortBy(-_.sum).headOption
        .map { ts => val v = ts.sorted; v.last.toDouble / math.max(1L, v(v.size / 2)) }
        .getOrElse(1.0)
      Call(s, js.size, js.map(_.stages).sum, a, union(js.map(j => (j.start, j.end)), s.start, s.end), skew)
    }
  }
}

object Trace {
  val SpanKey = "perfbench.span"
  private val FenceTag = "fence"

  final case class Span(tag: String, name: String, parent: String, start: Long, end: Long) {
    def ms: Long = end - start
  }
  final case class JobRec(tag: String, start: Long, end: Long, stages: Int)
  final class Agg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var scanBytes = 0L; var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var output = 0L
    val stages = mutable.Set.empty[Int]
  }
  final case class Call(span: Span, jobs: Int, stages: Int, agg: Agg, jobMs: Long, skew: Double) {
    def outsideMs: Long = math.max(0L, span.ms - jobMs)
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def union(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(p => p._2 > p._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Layers a span can belong to; a span named `sink.trigger` is in `sink`. */
  val Layers = Seq("bench", "plans", "operators", "sink", "optimize", "sources")

  /** Self time per layer, per traced unit: each span's duration minus the
    * part of it that its child spans cover. */
  def selfTimes(spans: Seq[Span], units: Int): Map[String, Double] = {
    val byParent = spans.groupBy(_.parent)
    val self = spans.map { s =>
      val kids = byParent.getOrElse(s.tag, Nil).filter(_ ne s).map(k => (k.start, k.end))
      s.name.takeWhile(_ != '.') -> (s.ms - union(kids, s.start, s.end)) / 1e3
    }.groupMapReduce(_._1)(_._2)(_ + _)
    Layers.map(l => s"self.${l}_s" -> self.getOrElse(l, 0.0) / math.max(1, units)).toMap
  }

  /** Per-layer numbers shared by every workload, over its traced calls. */
  def common(calls: Seq[Call]): Map[String, Double] = {
    def mean(f: Call => Double) = if (calls.isEmpty) 0.0 else calls.map(f).sum / calls.size
    Map(
      "driver.outside_jobs_s" -> Stats.median(calls.map(_.outsideMs / 1e3)),
      "driver.jobs" -> mean(_.jobs.toDouble),
      "driver.stages" -> mean(_.stages.toDouble),
      "driver.tasks" -> mean(_.agg.tasks.toDouble),
      "exec.run_s" -> mean(_.agg.runMs / 1e3),
      "exec.cpu_s" -> mean(_.agg.cpuNs / 1e9),
      "exec.gc_s" -> mean(_.agg.gcMs / 1e3),
      "exec.task_skew" -> Stats.median(calls.map(_.skew)),
      "exec.scan_bytes" -> mean(_.agg.scanBytes.toDouble),
      "exec.shuffle_read_bytes" -> mean(_.agg.shuffleRead.toDouble),
      "exec.shuffle_write_bytes" -> mean(_.agg.shuffleWrite.toDouble),
      "exec.spill_bytes" -> mean(_.agg.spill.toDouble),
      "exec.output_bytes" -> mean(_.agg.output.toDouble)
    )
  }
}
