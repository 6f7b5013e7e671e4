package graft.e2ebench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.lake.{Lake, TableDef}

/** One timed region of the (single) caller thread, plus the engine work
  * submitted while it was the innermost open span. Counters are written
  * by the listener thread and read only after [[Tracer.drain]]. */
final class Span(val id: Int, val name: String, val table: String,
    val parent: Span) {
  var startNs = 0L
  var endNs = 0L
  var startMs = 0L
  var endMs = 0L
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskCpuNs = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  val children: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty

  def wallS: Double = (endNs - startNs) / 1e9
  def selfS: Double = wallS - children.map(_.wallS).sum

  /** This span's counters plus every descendant's. */
  def subtree: Totals = children.foldLeft(Totals(jobs, stages, tasks,
    taskCpuNs, taskMs, gcMs, shuffleWriteBytes, spillBytes, outputBytes))(
    (acc, c) => acc + c.subtree)

  def walk: Iterator[Span] = Iterator(this) ++ children.iterator.flatMap(_.walk)
}

final case class Totals(jobs: Int, stages: Int, tasks: Int, taskCpuNs: Long,
    taskMs: Long, gcMs: Long, shuffleWriteBytes: Long, spillBytes: Long,
    outputBytes: Long) {
  def +(o: Totals): Totals = Totals(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, taskCpuNs + o.taskCpuNs, taskMs + o.taskMs,
    gcMs + o.gcMs, shuffleWriteBytes + o.shuffleWriteBytes,
    spillBytes + o.spillBytes, outputBytes + o.outputBytes)
}

object Totals {
  val zero: Totals = Totals(0, 0, 0, 0L, 0L, 0L, 0L, 0L, 0L)
}

/** Span stack on a Spark local property, and the one listener that groups
  * job, stage and task metrics by the span that submitted them. Local
  * properties travel with every job the caller thread submits, so a lazy
  * plan's compute lands in the span of the action (usually a lake write)
  * that forced it. With `on` false, [[span]] is a plain call. */
final class Tracer(sc: SparkContext, val cores: Int) {
  @volatile var on = false
  val root = new Span(0, "root", "", null)
  private var current = root
  private var nextId = 1
  private val byId = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  byId.put(0, root)
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  // written by the caller thread (spans) and the listener thread (events)
  private val selfNs = new java.util.concurrent.atomic.AtomicLong()
  /** Seconds the tracer spent in its own bookkeeping and event handling. */
  def selfS: Double = selfNs.get / 1e9
  private def timed[T](body: => T): T = {
    val t = System.nanoTime()
    try body finally selfNs.addAndGet(System.nanoTime() - t)
  }

  def span[T](name: String, table: String = "")(body: => T): T =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      val s = new Span(nextId, name, table, current)
      nextId += 1
      byId.put(s.id, s)
      current.children += s
      val prev = current
      current = s
      sc.setLocalProperty(Tracer.Key, s.id.toString)
      s.startMs = System.currentTimeMillis()
      s.startNs = System.nanoTime()
      selfNs.addAndGet(s.startNs - t0)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        current = prev
        sc.setLocalProperty(Tracer.Key,
          if (prev eq root) null else prev.id.toString)
        selfNs.addAndGet(System.nanoTime() - s.endNs)
      }
    }

  private val listener = new SparkListener {
    private def spanOf(props: java.util.Properties): Span =
      Option(props).flatMap(p => Option(p.getProperty(Tracer.Key)))
        .map(id => byId.getOrDefault(id.toInt, root)).getOrElse(root)

    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val s = spanOf(e.properties)
      s.synchronized(s.jobs += 1)
      e.stageIds.foreach(st => stageSpan.put(st, s))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(s =>
        s.synchronized(s.stages += 1))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val s = Option(stageSpan.get(e.stageId)).getOrElse(root)
      val info = e.taskInfo
      intervals.synchronized(intervals += ((info.launchTime, info.finishTime)))
      s.synchronized {
        s.tasks += 1
        s.taskMs += info.finishTime - info.launchTime
        val m = e.taskMetrics
        if (m != null) {
          allTaskCpuNs += m.executorCpuTime
          s.taskCpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }
  sc.addSparkListener(listener)

  @volatile private var allTaskCpuNs = 0L
  /** Executor cpu of every task that has ended so far, drained first. */
  def taskCpuS(): Double = { drain(); allTaskCpuNs / 1e9 }

  /** Wait until every posted event has reached the listener. */
  def drain(): Unit = org.apache.spark.E2eBenchBus.drain(sc)

  /** Union of task run intervals (epoch ms), sorted and merged; rebuilt
    * only when new tasks have ended since the last call. */
  private var busyCache: (Int, Array[(Long, Long)]) = (-1, Array.empty)
  private def busy: Array[(Long, Long)] = {
    val all = intervals.synchronized(intervals.toArray)
    if (busyCache._1 != all.length) {
      val out = mutable.ArrayBuffer.empty[(Long, Long)]
      all.sortBy(_._1).foreach { case (a, b) =>
        if (out.nonEmpty && a <= out.last._2)
          out(out.length - 1) = (out.last._1, math.max(out.last._2, b))
        else out += ((a, b))
      }
      busyCache = (all.length, out.toArray)
    }
    busyCache._2
  }

  /** Seconds of `s` during which no task of any job was running: the
    * driver-side (planning, listing, collect, scheduling) share. Exact for
    * a single caller thread, which is how every workload runs. */
  def driverS(s: Span): Double = {
    val covered = busy.iterator.map { case (a, b) =>
      math.max(0L, math.min(b, s.endMs) - math.max(a, s.startMs))
    }.sum
    math.max(0.0, (s.endMs - s.startMs - covered) / 1000.0)
  }
}

object Tracer {
  val Key = "e2ebench.span"
}

/** The lake the workloads hand to the programs under test: every public
  * table operation becomes a span tagged with its table. Counts reads of
  * tables that do not exist, which [[Lake.table]] silently answers with an
  * empty frame. `create(t, replace = true)` is a whole-table rewrite and
  * is traced as a replace. */
final class TracedLake(spark: SparkSession, root: String, tr: Tracer)
    extends Lake(spark, root) {
  @volatile var missingReads = 0

  private def read[T](name: String, t: TableDef)(body: => T): T = {
    if (!exists(t.name)) missingReads += 1
    tr.span(name, t.name)(body)
  }

  override def create(t: TableDef, replace: Boolean): Boolean =
    tr.span(if (replace) "lake.replace" else "lake.create", t.name)(
      super.create(t, replace))
  override def append(t: TableDef, df: DataFrame, version: Long): Unit =
    tr.span("lake.append", t.name)(super.append(t, df, version))
  override def optimize(t: TableDef, partitions: Seq[String]): Unit =
    tr.span("lake.optimize", t.name)(super.optimize(t, partitions))
  override def upsert(t: TableDef, df: DataFrame, version: Long): Unit =
    tr.span("lake.upsert", t.name)(super.upsert(t, df, version))
  override def replace(t: TableDef, df: DataFrame, version: Long): Unit =
    tr.span("lake.replace", t.name)(super.replace(t, df, version))
  override def table(t: TableDef, keepVersion: Boolean): DataFrame =
    read("lake.read", t)(super.table(t, keepVersion))
  override def tableSlice(t: TableDef, partitions: Seq[String],
      keepVersion: Boolean): DataFrame =
    tr.span("lake.read", t.name)(super.tableSlice(t, partitions, keepVersion))
  override def latest(t: TableDef): DataFrame =
    read("lake.read", t)(super.latest(t))
}
