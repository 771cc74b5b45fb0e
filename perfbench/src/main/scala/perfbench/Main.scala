package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Engine side of the benchmark: one workload, one process, one closed-loop
  * client on Spark `local[N]`. `run.py` generates the inputs, starts this
  * main, checks the outputs it leaves behind and prints the metrics.
  *
  * Arguments: --workload W --seconds S --trace 0|1 --inputs DIR --work DIR
  * --out FILE. The result file holds the raw timings, the data the output
  * checks need, and (traced runs) the per-layer numbers.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val work = opt("work")
    val spark = graft.GraftSession
      .builder(master = s"local[$cores]", appName = "perfbench", shufflePartitions = cores)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val readyMs = System.currentTimeMillis()
    val ctx = Ctx(spark, opt("inputs"), work, opt("seconds").toDouble, opt("trace") == "1",
      new Trace(spark.sparkContext))
    val result = opt("workload") match {
      case "ingest" => Ingest.run(ctx)
      case "maintain" => Maintain.run(ctx)
      case "queries" => Queries.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.writeString(Paths.get(opt("out")), Json(result + ("ready_ms" -> readyMs)))
    spark.stop()
  }
}

final case class Ctx(spark: SparkSession, inputs: String, work: String, seconds: Double,
    traced: Boolean, trace: Trace) {
  import Ctx._
  private var units = Vector.empty[UnitRec]
  private var pending = Vector.empty[Double]
  private var need = 0

  /** Run one repeating unit (pass, cycle, trigger block); `f` returns the
    * seconds it measured. In a traced run units alternate between detached
    * and attached listeners, so the tracing overhead is measured in the
    * same process. */
  def unit(i: Int)(f: => Double): Unit = {
    val on = traced && i % 2 == 1
    trace.enable(spark, on)
    pending = Vector.empty
    val c0 = cpuJiffies()
    val s = f
    val c1 = cpuJiffies()
    units :+= UnitRec(s, on, (c1._1 - c0._1).toDouble / math.max(1L, c1._2 - c0._2), pending)
  }

  /** Latency of one operation of the current unit, in ms. */
  def op(ms: Double): Unit = pending :+= ms

  /** Whether to measure another unit. An untraced run measures for at
    * least --seconds and until it holds `min` clean units, but waits for
    * them at most `MaxExtraUnits` units longer. A traced run needs three
    * units (untraced, traced, untraced), so that the overhead compares the
    * traced unit with its neighbours and a warm-up drift cancels. */
  def more(m0: Long, min: Int): Boolean = {
    need = min
    if (traced) units.size < math.max(3, min) || elapsed(m0) < seconds
    else (clean.size < min && units.size < min + MaxExtraUnits) || elapsed(m0) < seconds
  }

  /** Untraced units the host stole little CPU from. */
  def clean: Vector[UnitRec] = units.filter(u => !u.traced && u.steal <= MaxSteal)

  /** The units the end-to-end numbers come from: the clean ones or, when
    * the host stole CPU for longer than a run may wait, the `need`
    * untraced units it stole least from. */
  def used: Vector[UnitRec] =
    if (clean.size >= need) clean
    else units.filter(!_.traced).sortBy(_.steal).take(need)

  def timed(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    elapsed(t0)
  }

  /** The raw timings every workload reports to run.py. */
  def timings: Map[String, Any] = Map(
    "units_s" -> used.map(_.s),
    "op_ms" -> used.flatMap(_.ops),
    "units" -> units.map(u => Map("s" -> u.s, "traced" -> u.traced, "steal" -> u.steal)),
    "clean" -> clean.size,
    "max_steal" -> MaxSteal)

  def overhead: Double = {
    val (on, off) = units.partition(_.traced)
    if (on.isEmpty || off.isEmpty) 0.0
    else Stats.median(on.map(_.s)) / Stats.median(off.map(_.s)) - 1.0
  }

  def heapPeakMb: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  def resetHeapPeak(): Unit = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
  }

  def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

object Ctx {
  /** Largest share of the CPU time this VM was busy for that the host may
    * steal during a unit before the unit is set aside. A shared host
    * steals CPU in spells that last minutes and slow every step alike;
    * units measured in such a spell would say nothing about the code. */
  val MaxSteal = 0.1
  /** Units a run measures beyond its minimum while it waits for clean
    * ones; more would stretch runs in a busy spell past the time budget. */
  val MaxExtraUnits = 2

  final case class UnitRec(s: Double, traced: Boolean, steal: Double, ops: Vector[Double])

  /** (steal, busy incl. steal) jiffies of the whole machine, from
    * /proc/stat; (0, 0) where it is missing. */
  def cpuJiffies(): (Long, Long) =
    try {
      val c = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      val steal = if (c.length > 7) c(7) else 0L
      (steal, c(0) + c(1) + c(2) + c(5) + c(6) + steal)
    } catch { case _: Exception => (0L, 0L) }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val v = xs.sorted
      val pos = q * (v.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, v.size - 1)
      v(lo) + (v(hi) - v(lo)) * (pos - lo)
    }
}

/** Minimal JSON writer for the result file (maps, sequences, numbers,
  * strings, booleans). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case o => quote(o.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
