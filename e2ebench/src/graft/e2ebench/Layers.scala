package graft.e2ebench

/** Per-layer metrics from the traced ops' span trees. Every value is per
  * traced op unless it is a share, a ratio or a count of files on disk. */
object Layers {

  /** Pipeline flows by the tables their writes are tagged with: because
    * Spark is lazy, a flow's compute runs inside the write of its table. */
  val Flows: Seq[(String, Set[String])] = Seq(
    "pipelines.ingest" -> Set("calendar", "universe", "stock_prices", "etf_prices"),
    "pipelines.returns" -> Set("stock_returns", "etf_returns"),
    "pipelines.factor_model" -> Set("factor_loadings", "idio_vol"),
    "pipelines.factor_covariances" -> Set("factor_covariances"),
    "pipelines.reversal" -> Set("signals", "scores", "alphas"),
    "pipelines.benchmark" -> Set("benchmark_weights", "benchmark_returns"),
    "pipelines.betas" -> Set("betas"),
    "opt.portfolio" -> Set("portfolio_weights", "portfolio_metrics"))

  /** Spans named by the workloads themselves, reported like flows. */
  val Named: Seq[String] = Seq("functions.trim", "sampling.dsir",
    "functions.chunk", "sampling.pack", "dedup.minhash", "similarity.search")

  val LakeKinds: Seq[String] = Seq("append", "optimize", "replace", "read")
  private val LakeWrites = Set("lake.create", "lake.append", "lake.optimize",
    "lake.upsert", "lake.replace")

  private def isLake(s: Span) = s.name.startsWith("lake.")
  private def underLake(s: Span): Boolean =
    Iterator.iterate(s.parent)(_.parent).takeWhile(_ != null).exists(isLake)

  def metrics(tr: Tracer, ops: Seq[Span], w: Workload,
      counters: Map[String, Double], overhead: Double): Seq[(String, Double, String)] = {
    val n = math.max(ops.length, 1).toDouble
    val all = ops.flatMap(_.walk)
    val out = Seq.newBuilder[(String, Double, String)]

    def group(prefix: String, spans: Seq[Span]): Unit = {
      val t = spans.map(_.subtree).foldLeft(Totals.zero)(_ + _)
      val wall = spans.map(_.wallS).sum
      out += ((s"$prefix.s", wall / n, "s"))
      out += ((s"$prefix.task_cpu_s", t.taskCpuNs / 1e9 / n, "s"))
      out += ((s"$prefix.jobs", t.jobs / n, "count"))
      out += ((s"$prefix.driver_s", spans.map(tr.driverS).sum / n, "s"))
      out += ((s"$prefix.par_eff",
        if (wall > 0) t.taskMs / 1000.0 / (wall * tr.cores) else 0.0, "ratio"))
    }

    val outerWrites = all.filter(s => LakeWrites(s.name) && !underLake(s))
    Flows.foreach { case (flow, tables) =>
      group(flow, outerWrites.filter(s => tables(s.table)))
    }
    out += (("pipelines.orchestrator.self_s",
      all.filter(_.name == "pipelines.orchestrator").map(_.selfS).sum / n, "s"))
    out += (("opt.dates_solved", counters.getOrElse("opt.dates_solved", 0.0), "count"))
    out += (("opt.converged_share", counters.getOrElse("opt.converged_share", 0.0), "ratio"))

    LakeKinds.foreach { k =>
      val ss = all.filter(_.name == s"lake.$k")
      out += ((s"lake.$k.calls", ss.length / n, "count"))
      out += ((s"lake.$k.s", ss.map(_.wallS).sum / n, "s"))
      out += ((s"lake.$k.driver_s", ss.map(tr.driverS).sum / n, "s"))
    }
    def written(names: Set[String]) =
      all.filter(s => names(s.name)).map(_.outputBytes).sum.toDouble
    val appended = written(Set("lake.append", "lake.create"))
    val rewritten = written(Set("lake.optimize", "lake.replace"))
    out += (("lake.write_amp", if (appended > 0) rewritten / appended else 0.0, "ratio"))
    out += (("lake.files", w.lake.map(l => lakeFiles(l.path(""))).getOrElse(0).toDouble, "count"))
    out += (("lake.output_mb", (appended + rewritten) / 1e6 / n, "MB"))

    Named.foreach(nm => group(nm, all.filter(_.name == nm)))
    out += (("dedup.twins_found_share", counters.getOrElse("dedup.twins_found_share", 0.0), "ratio"))
    out += (("similarity.recall_at_k", counters.getOrElse("similarity.recall_at_k", 0.0), "ratio"))

    val t = ops.map(_.subtree).foldLeft(Totals.zero)(_ + _)
    val wall = ops.map(_.wallS).sum
    out += (("spark.jobs", t.jobs / n, "count"))
    out += (("spark.stages", t.stages / n, "count"))
    out += (("spark.tasks", t.tasks / n, "count"))
    out += (("spark.task_cpu_s", t.taskCpuNs / 1e9 / n, "s"))
    out += (("spark.gc_s", t.gcMs / 1000.0 / n, "s"))
    out += (("spark.shuffle_write_mb", t.shuffleWriteBytes / 1e6 / n, "MB"))
    out += (("spark.spill_mb", t.spillBytes / 1e6 / n, "MB"))
    out += (("spark.driver_s", ops.map(tr.driverS).sum / n, "s"))
    out += (("spark.par_eff", if (wall > 0) t.taskMs / 1000.0 / (wall * tr.cores) else 0.0, "ratio"))
    out += (("spark.trace_overhead_share", overhead, "ratio"))
    out.result()
  }

  private def lakeFiles(root: String): Int = {
    val dir = new java.io.File(root)
    if (!dir.exists()) 0
    else java.nio.file.Files.walk(dir.toPath).filter(p =>
      p.toString.endsWith(".parquet")).count().toInt
  }

  /** The traced ops' span trees, with self and driver time per span. */
  def writeTree(file: String, tr: Tracer, ops: Seq[Span]): Unit = {
    def node(s: Span, ind: String): String = {
      val t = s.subtree
      val kids = s.children.map(node(_, ind + "  "))
      s"""$ind{"name": ${Json.str(s.name)}, "table": ${Json.str(s.table)}, """ +
        s""""s": ${Json.num(s.wallS)}, "self_s": ${Json.num(s.selfS)}, """ +
        s""""driver_s": ${Json.num(tr.driverS(s))}, "jobs": ${t.jobs}, """ +
        s""""stages": ${t.stages}, "tasks": ${t.tasks}, """ +
        s""""task_cpu_s": ${Json.num(t.taskCpuNs / 1e9)}, "gc_s": ${Json.num(t.gcMs / 1e3)}, """ +
        s""""shuffle_write_mb": ${Json.num(t.shuffleWriteBytes / 1e6)}, """ +
        s""""spill_mb": ${Json.num(t.spillBytes / 1e6)}, """ +
        s""""output_mb": ${Json.num(t.outputBytes / 1e6)}, "children": [""" +
        (if (kids.isEmpty) "]}" else "\n" + kids.mkString(",\n") + s"\n$ind]}")
    }
    val f = new java.io.File(file)
    f.getParentFile.mkdirs()
    val pw = new java.io.PrintWriter(f, "UTF-8")
    try pw.println("[\n" + ops.map(node(_, "  ")).mkString(",\n") + "\n]")
    finally pw.close()
  }
}
