package graft.tools

import graft.lake.{Catalog, Lake}
import graft.obs.Trace
import graft.pipelines.Orchestrator
import org.apache.spark.sql.functions._

/** The quant DAG's same-data check on the e2ebench panel: one traced
  * `runAll` on a fresh lake (wall, process cpu, jobs, per-flow spans and
  * the lake-read job count to `<out>.info`), then every `Catalog` table's
  * rows, sorted, doubles as raw bits, to `<out>.backfill`; then one
  * `runAllDaily` for the panel's last day and the rows again to
  * `<out>.daily`. Run it on two checkouts and `cmp` the files.
  *
  * Compile it with the Spark jars' `scala.tools.nsc.Main` against a
  * checkout's benchmark build (`python3 e2ebench/build.py`; classpath
  * `.bench_build/e2ebench/bench-classes`, `…/engine-classes` and the Spark
  * jars), then run `graft.tools.LakeDump <seed> <out> <lakeParent>
  * [trace]` with e2ebench/run.py's JVM flags (SKILL.md of the verify
  * skill has the commands). `trace` stops after the `.info` file. */
object LakeDump {
  private def rows(lake: Lake): Seq[String] =
    Catalog.all.filter(t => lake.exists(t.name)).flatMap { t =>
      val df = lake.table(t)
      df.select(df.columns.sorted.map(col): _*).collect().toSeq.map(_.toSeq.map {
        case d: Double => java.lang.Double.doubleToRawLongBits(d).toHexString
        case v => String.valueOf(v)
      }.mkString(t.name + "|", "|", "")).sorted
    }

  private def write(path: String, lines: Seq[String]): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))

  def main(args: Array[String]): Unit = {
    val Array(seed, out, lakeParent) = args.take(3)
    val spark = graft.GraftSession.builder("local[4]", 4)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val start = java.time.LocalDate.of(2021, 1, 4)
    val panel = graft.e2ebench.Gen.panel(spark, seed.toLong, 100, start,
      start.plusMonths(25).minusDays(1))
    val in = Seq(panel.calendarDf(spark), panel.currentDf(spark), panel.changesDf(spark),
      panel.stockBarsDf(spark), panel.etfBarsDf(spark))
    val lake = new Lake(spark, java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(lakeParent), "lake").toString)
    val orch = new Orchestrator(spark, lake, panel.factors, window = 252)
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val (c0, t0) = (os.getProcessCpuTime, System.nanoTime())
    val (_, root) = Trace.record(spark)(orch.runAll(in(0), in(1), in(2), in(3), in(4)))
    val (wall, cpu) = ((System.nanoTime() - t0) / 1e9, (os.getProcessCpuTime - c0) / 1e9)
    val reads = root.walk.filter(_.name == "lake.read").toSeq
    val head = f"runAll wall $wall%.2f s, process cpu $cpu%.2f s, " +
      f"task cpu ${root.total.cpuSec}%.2f s, jobs ${root.total.jobs}, " +
      s"lake.read spans ${reads.size} running ${reads.map(_.total.jobs).sum} jobs"
    write(out + ".info", head +: root.render())
    if (!args.lift(3).contains("trace")) {
      write(out + ".backfill", rows(lake))
      val last = lake.table(Catalog.calendar).agg(max(col("date"))).collect().head.getDate(0)
      require(orch.runAllDaily(last, in(0), in(1), in(2), in(3), in(4)))
      write(out + ".daily", rows(lake))
    }
    spark.stop()
  }
}
