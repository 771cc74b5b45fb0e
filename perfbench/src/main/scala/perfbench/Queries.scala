package perfbench

import org.apache.spark.sql.SaveMode

/** The query workload: a fixed mix of `SparkEntry` queries, cycled in
  * passes over the seeded inputs. Every timed result is fully materialised
  * with the `noop` sink; `.count()` would let Catalyst drop projected and
  * aggregated work. An untimed pass before the measured ones (the warm-up)
  * and one after them write each result to parquet instead, for the DuckDB
  * oracle check in run.py; the second shows that repeated execution still
  * gives the right results.
  */
object Queries {
  /** One mix for the query surface. The relational TPC-H-shaped queries
    * are many short queries where driver-side fixed cost (planning, AQE
    * re-planning, job scheduling) dominates; the LLM-data operators are
    * executor-CPU-bound per-row work in `graft.operators` and
    * `graft.functions`. Their per-query split is the `op.*` layer. The
    * count is odd so that the median latency falls on one query's samples
    * rather than between two queries of very different cost. */
  val Mix: Seq[String] =
    Seq("analytics_q3", "analytics_q6", "analytics_q18", "dedup_span_fp", "sim_topk_cosine")

  /** Ten passes take longer than --seconds 6, so every run measures the
    * same number of passes and its median falls on the same ones. The
    * passes still get faster as the JIT compiles more of the engine; a
    * median of ten is steadier against that curve, and against short slow
    * spells of the host, than a median of fewer. */
  private val MinUnits = 10

  def run(ctx: Ctx): Map[String, Any] = {
    import ctx.spark
    val queries = Mix.map(n => n -> graft.SparkEntry.queries(n)).toMap
    var failed = Map.empty[String, String]

    def once(name: String, tag: String, parent: String, dump: String = ""): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        ctx.trace.span(tag, s"operators.$name", parent) {
          val df = ctx.trace.span(tag, "plans.build", tag)(queries(name)(spark, ctx.inputs))
          if (dump.nonEmpty) df.write.mode(SaveMode.Overwrite).parquet(s"${ctx.work}/$dump/$name")
          else df.write.format("noop").mode(SaveMode.Overwrite).save()
        }
        Some((System.nanoTime() - t0) / 1e6)
      } catch {
        case e: Throwable =>
          synchronized { failed += name -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
          None
      }
    }

    /** One untimed pass with the five queries at once, one thread each,
      * each result written to parquet under `dump` for the oracle check. */
    def checkedPass(stage: String, dump: String): Unit = {
      val threads = Mix.map(n => new Thread(() => once(n, s"$stage:$n", stage, dump = dump)))
      threads.foreach(_.start())
      threads.foreach(_.join())
    }

    // Warm-up: pass times keep falling over the first passes of a fresh
    // JVM (class loading, code generation, JIT). The cold first pass is
    // mostly single-threaded class loading and code generation, so its
    // queries run at once; a sequential pass follows.
    val w0 = System.nanoTime()
    checkedPass("warmup", "results_warm")
    for (n <- Mix) once(n, s"warm1:$n", "warmup")
    val warmupS = ctx.elapsed(w0)
    ctx.resetHeapPeak()

    val m0 = System.nanoTime()
    var pass = 0
    var attempted = 0
    var errors = 0
    while (ctx.more(m0, MinUnits)) {
      val p = pass
      ctx.unit(p)(ctx.timed(ctx.trace.span(s"pass:$p", "bench.pass", "run") {
        for (n <- Mix) {
          attempted += 1
          once(n, s"op:$p:$n", s"pass:$p") match {
            case Some(ms) => ctx.op(ms)
            case None => errors += 1
          }
        }
      }))
      pass += 1
    }
    val measuredS = ctx.elapsed(m0)
    ctx.trace.enable(spark, false)
    checkedPass("post", "results_post")

    val oracle = Mix.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap

    val layers: Map[String, Double] =
      if (!ctx.traced) Map.empty
      else {
        val calls = ctx.trace.calls(s => s.tag.startsWith("op:") && s.name != "plans.build")
        val builds = ctx.trace.calls(_.name == "plans.build")
        Trace.common(calls) ++ Map(
          "plans.build_s" -> Stats.median(builds.map(_.span.ms / 1e3)),
          "jvm.heap_peak_mb" -> ctx.heapPeakMb,
          "trace.overhead_frac" -> ctx.overhead
        ) ++ Trace.selfTimes(ctx.trace.spans.toSeq, pass / 2) ++ Mix.map { n =>
          s"op.${n}_s" -> Stats.median(calls.filter(_.span.name == s"operators.$n").map(_.span.ms / 1e3))
        }
      }

    ctx.timings ++ Map(
      "warmup_s" -> warmupS,
      "fixture_s" -> 0.0,
      "measured_s" -> measuredS,
      "attempted" -> attempted,
      "errors" -> errors,
      "failed_queries" -> failed,
      "mix" -> Mix,
      "result_dirs" -> Seq("results_warm", "results_post"),
      "oracle" -> oracle,
      "layers" -> layers
    )
  }
}
