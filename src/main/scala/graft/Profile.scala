package graft

import org.apache.spark.sql.SparkSession
import graft.obs.Trace

/** Span-tree receipts for contract queries: run each named query under
  * [[Trace.record]], print one receipt line per query, then its span
  * tree — wall, jobs, stages, tasks, task-cpu, spill, GC and shuffle per
  * span, each inclusive of its children. The spans are the engine's real
  * boundaries: every lake operation, each `GateArms` arm, each lifecycle
  * operation of a persisted store, and the query's final collect. This
  * is the FIRST step of any "this gate is expensive" investigation
  * (round-13 lesson: count jobs before theorizing; the usual disease is
  * one plan evaluated N times under AQE, visible as a job count far
  * above the operator's logical step count).
  *
  * Usage: runMain graft.Profile <sfDir> <queryName> [<queryName> ...]
  *
  * `GRAFT_PROFILE_CPUS` (default 32) sizes the local master and shuffle
  * partitions, `GRAFT_PROFILE_AQE` (default true) sets adaptive
  * execution, and `GRAFT_PROFILE_VERBOSE` prints one line per job.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.Profile <sfDir> <queryName> [<queryName> ...]")
    val sfDir = args.head
    val profCpus = sys.env.getOrElse("GRAFT_PROFILE_CPUS", "32").toInt
    val spark = SparkSession.builder()
      .master(s"local[$profCpus]")
      .appName("graft-profile")
      .config("spark.sql.shuffle.partitions", profCpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", "16g")
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("GRAFT_PROFILE_AQE", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val qs = SparkEntry.queries
    args.tail.foreach { name =>
      require(qs.contains(name), s"unknown query: $name")
      spark.catalog.clearCache()
      val (n, root) = Trace.record(spark, name) {
        val df = qs(name)(spark, sfDir)
        Trace.span(spark, "collect")(df.collect().length)
      }
      println(f"[profile] $name rows=$n wall=${root.wallS}%.2fs $root")
      root.render().foreach(line => println(s"[trace] $line"))
    }
    spark.stop()
  }
}
