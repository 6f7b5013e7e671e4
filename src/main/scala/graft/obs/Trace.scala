package graft.obs

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Engine counters of one span or subtree: jobs counted at job start,
  * stages and their `numTasks` at stage completion, and the completed
  * stages' executor cpu, shuffle-write bytes, memory spill and GC.
  * `toString` is the receipt format ScaleBench prints. */
final case class Stats(jobs: Int, stages: Int, tasks: Long, cpuNs: Long,
    shuffleBytes: Long, spillBytes: Long, gcMs: Long) {
  def cpuSec: Double = cpuNs / 1e9
  def shuffleMb: Long = shuffleBytes / (1024L * 1024L)
  def spillMb: Long = spillBytes / (1024L * 1024L)
  def gcSec: Double = gcMs / 1e3

  def +(o: Stats): Stats = Stats(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, cpuNs + o.cpuNs, shuffleBytes + o.shuffleBytes,
    spillBytes + o.spillBytes, gcMs + o.gcMs)

  override def toString: String =
    f"jobs=$jobs stages=$stages tasks=$tasks cpu=$cpuSec%.2fs " +
      f"spill=${spillMb}MB gc=$gcSec%.1fs"
}

/** One timed region of one thread, plus the engine work submitted while
  * it was that thread's innermost open span. Counters are written only by
  * the recording's listener and read after [[Trace.record]] returns. */
final class Span private[obs] (val id: Long, val name: String,
    val tag: String) {
  @volatile private[obs] var startNs = 0L
  @volatile private[obs] var endNs = 0L
  @volatile private[obs] var own = Stats(0, 0, 0L, 0L, 0L, 0L, 0L)
  private val kids = mutable.ArrayBuffer.empty[Span]

  private[obs] def child(name: String, tag: String): Span = {
    val s = new Span(Trace.nextId(), name, tag)
    kids.synchronized(kids += s)
    s
  }

  /** Child spans in the order they opened. */
  def children: Seq[Span] = kids.synchronized(kids.toList)
  def wallS: Double = (endNs - startNs) / 1e9
  /** Work submitted directly under this span, outside every child. */
  def self: Stats = own
  /** This span's work plus every descendant's. */
  def total: Stats = children.foldLeft(own)(_ + _.total)
  def walk: Iterator[Span] = Iterator(this) ++ children.iterator.flatMap(_.walk)

  /** The subtree, one line per span: wall, then the inclusive counters. */
  def render(depth: Int = 0): Seq[String] = {
    val t = total
    val label = "  " * depth + name + (if (tag.isEmpty) "" else s"[$tag]")
    f"$label%-44s wall=$wallS%7.2fs $t shuffle=${t.shuffleMb}MB" +:
      children.flatMap(_.render(depth + 1))
  }

  /** The receipt line: this span's inclusive counters. */
  override def toString: String = total.toString
}

/** The engine's span tracer. A span is a named region of the calling
  * thread; the thread's innermost open span is the id in the `graft.span`
  * Spark local property, so every job the thread submits carries it, and
  * threads created under a span (each [[graft.dag.GateArms]] arm's
  * pool thread) inherit a copy and attribute to their own arm.
  *
  * Recording is on exactly inside [[record]], which opens the root span
  * and adds one listener for the body's duration; everywhere else
  * [[span]] is a plain call after one local-property read. A stage is
  * attributed to the span of the job that submitted it. Spark is lazy:
  * a returned frame's compute lands in the span of the action that
  * forces it (a lake write, a collect), not of the call that built it.
  *
  * A `record` inside another `record` is counted by the inner one only. */
object Trace {
  private val Key = "graft.span"
  private val SentinelGroup = "__trace_sentinel"
  private val ids = new AtomicLong(0L)
  private[obs] def nextId(): Long = ids.incrementAndGet()

  /** Open spans of every running recording, by id. */
  private val open = new ConcurrentHashMap[Long, (Span, Recording)]()

  /** Run `body` as a child of the calling thread's current span. */
  def span[T](spark: SparkSession, name: String, tag: String = "")(
      body: => T): T = {
    val sc = spark.sparkContext
    val cur = sc.getLocalProperty(Key)
    val parent = if (cur == null) null else open.get(cur.toLong)
    if (parent == null) body
    else within(spark, parent._1.child(name, tag), parent._2, cur)(body)
  }

  /** Run `body` under a new root span named `name` and return it with
    * the root, after every listener event of the body has been counted:
    * a sentinel job in its own group must end at the listener, or the
    * receipt is refused after 30 s. The sentinel job is not counted; its
    * stages are, in the root's last child `trace.drain` (the receipts
    * have always carried them: 2 stages, 1 + defaultParallelism tasks).
    * With `GRAFT_PROFILE_VERBOSE` set, prints one line per counted job. */
  def record[T](spark: SparkSession, name: String = "record")(body: => T)
      : (T, Span) = {
    val sc = spark.sparkContext
    val root = new Span(nextId(), name, "")
    val rec = new Recording(root.id, sys.env.contains("GRAFT_PROFILE_VERBOSE"))
    sc.addSparkListener(rec)
    try {
      val r = within(spark, root, rec, sc.getLocalProperty(Key)) {
        val r = body
        within(spark, root.child("trace.drain", ""), rec, root.id.toString) {
          sc.setJobGroup(rec.group, "trace drain", false)
          try spark.range(1).count()
          finally sc.clearJobGroup()
        }
        r
      }
      val deadline = System.nanoTime() + 30000000000L
      while (!rec.drained && System.nanoTime() < deadline) Thread.sleep(10)
      if (!rec.drained) throw new IllegalStateException(
        "listener bus did not deliver the trace sentinel within 30 s — " +
          "refusing to emit a possibly-truncated job-count receipt")
      (r, root)
    } finally {
      sc.removeSparkListener(rec)
      root.walk.foreach(s => open.remove(s.id))
    }
  }

  private def within[T](spark: SparkSession, s: Span, rec: Recording,
      restore: String)(body: => T): T = {
    val sc = spark.sparkContext
    open.put(s.id, (s, rec))
    sc.setLocalProperty(Key, s.id.toString)
    s.startNs = System.nanoTime()
    try body
    finally {
      s.endNs = System.nanoTime()
      sc.setLocalProperty(Key, restore)
    }
  }

  /** One recording's listener: counts the jobs whose span it opened and
    * the stages of those jobs, and waits out its own drain sentinel. */
  private final class Recording(rootId: Long, verbose: Boolean)
      extends SparkListener {
    val group = s"$SentinelGroup$rootId"
    @volatile private var sentinelJob = -1
    @volatile var drained = false
    private val stageSpan = new ConcurrentHashMap[Int, Span]()

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val props = Option(j.properties)
      val sentinel = props.exists(p =>
        p.getProperty("spark.jobGroup.id") == group)
      if (sentinel) sentinelJob = j.jobId
      props.flatMap(p => Option(p.getProperty(Key)))
        .flatMap(id => Option(open.get(id.toLong))).filter(_._2 eq this)
        .foreach { case (s, _) =>
          j.stageIds.foreach(stageSpan.put(_, s))
          if (!sentinel) {
            s.own = s.own.copy(jobs = s.own.jobs + 1)
            if (verbose) {
              val site = j.stageInfos.lastOption.map(_.name).getOrElse("?")
              println(s"[job] ${j.jobId} $site " +
                s"(${j.stageInfos.map(_.numTasks).sum} tasks)")
            }
          }
        }
    }

    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      if (j.jobId == sentinelJob) drained = true

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
        val m = Option(e.stageInfo.taskMetrics)
        s.own = s.own + Stats(0, 1, e.stageInfo.numTasks.toLong,
          m.fold(0L)(_.executorCpuTime),
          m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
          m.fold(0L)(_.memoryBytesSpilled), m.fold(0L)(_.jvmGCTime))
      }
  }
}
