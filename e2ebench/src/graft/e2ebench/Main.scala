package graft.e2ebench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.util.control.NonFatal

/** One benchmark run of one workload:
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --out <dir>
  * }}}
  * Set-up runs (and is timed) before the closed loop of ops; the loop runs
  * ops back to back until `--seconds` have passed, and always at least one.
  * Spark runs on `local[min(4, cores)]`. The last stdout line is the result
  * object; the line before it names the Spark thread count for the run's
  * receipt. With `--trace 1` every op is traced and the per-layer numbers
  * are averaged per op; the tracing overhead is the time the tracer itself
  * spent (span bookkeeping on the caller thread, event handling on the
  * listener thread) as a share of the ops' wall time. */
object Main {
  /** Set-up runs this many times; `setup_s` reports the median. */
  val SetupRuns = 3
  val Workloads: Map[String, Ctx => Workload] = Map(
    "quant-backfill" -> (new QuantBackfill(_)),
    "curation" -> (new Curation(_)))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val name = opts("workload")
    require(Workloads.contains(name), s"unknown workload $name")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val work = opts("work")

    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val tracer = new Tracer(spark.sparkContext, cores)
    val checks = new Checks
    val w = Workloads(name)(new Ctx(spark, tracer, s"$work/state", seed, checks))

    val setupTimes = (0 until SetupRuns).map { _ =>
      val t = System.nanoTime()
      w.setup()
      val s = (System.nanoTime() - t) / 1e9
      System.err.println(f"[e2ebench] setup: $s%.2f s")
      s
    }

    val walls = mutable.ArrayBuffer.empty[Double]
    val cpus = mutable.ArrayBuffer.empty[Double]
    val taskCpus = mutable.ArrayBuffer.empty[Double]
    val opSpans = mutable.ArrayBuffer.empty[Span]
    tracer.on = traced
    val t0 = System.nanoTime()
    var failedOps = 0
    while (failedOps == 0 && (walls.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds)) {
      val i = walls.length
      val c = cpuS()
      val tc = tracer.taskCpuS()
      val t = System.nanoTime()
      try {
        tracer.span("op")(w.op(i))
        walls += (System.nanoTime() - t) / 1e9
        cpus += cpuS() - c
        taskCpus += tracer.taskCpuS() - tc
        if (traced) opSpans += tracer.root.children.last
        System.err.println(f"[e2ebench] op $i: ${walls.last}%.2f s wall, " +
          f"${cpus.last}%.2f s cpu, ${taskCpus.last}%.2f s task cpu")
      } catch {
        case NonFatal(e) =>
          failedOps += 1
          System.err.println(s"[e2ebench] op $i of $name failed:")
          e.printStackTrace()
      }
    }
    tracer.on = false
    if (failedOps == 0) {
      try w.finish()
      catch {
        case NonFatal(e) =>
          checks("finish", ok = false, e.toString)
          e.printStackTrace()
      }
    }
    val counters =
      if (!traced) Map.empty[String, Double]
      else try w.counters catch { case NonFatal(_) => Map.empty[String, Double] }
    tracer.drain()

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", sessionS + median(setupTimes), "s"),
        ("cpu_s", median(cpus.toSeq), "s"),
        ("task_cpu_s", median(taskCpus.toSeq), "s"),
        ("op_p50_s", median(walls.toSeq), "s"))
      else {
        val overhead = tracer.selfS / walls.sum
        Layers.metrics(tracer, opSpans.toSeq, w, counters, overhead) :+
          (("process.peak_rss_mb", peakRssMb(), "MB"))
      }
    if (traced) Layers.writeTree(s"${opts("out")}/trace-$name.json", tracer, opSpans.toSeq)

    val failed = failedOps + checks.failed
    val attempted = walls.length + failedOps + checks.attempted
    val ok = failed == 0 && walls.nonEmpty
    System.err.println(f"[e2ebench] checks done at ${(System.nanoTime() - t0) / 1e9}%.2f s " +
      "after the timed phase began")
    val fields = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${Json.num(v)}, "unit": "$u"}""" }
    System.err.println(f"[e2ebench] $name: ${walls.length} ops, setup runs " +
      setupTimes.map(s => f"$s%.2f").mkString(",") + f", session $sessionS%.2f s")
    spark.stop()
    println(s"""{"spark_local_threads": $cores}""")
    println(s"""{"correct": $ok, "attempted": ${math.max(attempted, 1)}, """ +
      s""""failed": $failed, "metrics": {${fields.mkString(", ")}}}""")
    sys.exit(if (ok) 0 else 1)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  private def cpuS(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Peak resident set of this process (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
