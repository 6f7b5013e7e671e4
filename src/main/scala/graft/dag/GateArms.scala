package graft.dag

import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService,
  Executors, Future, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicLong
import scala.concurrent.duration._
import org.apache.spark.sql.SparkSession
import graft.obs.Trace

/** Concurrent arms: independent lifecycles (separate temp lakes,
  * read-only arms over shared persisted relations, the flows of a DAG)
  * run as concurrent Spark job groups, one driver thread per running arm,
  * so the caller pays its critical path instead of the sum.
  *
  * An arm may name prerequisite arms (`after`): it starts once every one
  * of them has finished. Arms without prerequisites start at once. The
  * pool has as many threads as arms can ever run at once: every arm when
  * none waits, else the widest set of arms no two of which are ordered.
  *
  * Failure is prompt and named: the FIRST arm to fail is rethrown at once
  * as [[ArmFailed]] (its name, its own exception as the cause) without
  * waiting on arms still running, and no arm waiting on it ever starts. A
  * run in which no arm finishes for [[Timeout]] fails with the running
  * arms' names instead of hanging. Either way the running arms' Spark
  * jobs are cancelled and `shutdownNow` interrupts their threads.
  *
  * Each arm runs as a [[Trace.span]] under its name: the pool's threads
  * are created on the calling thread inside [[run]], so they inherit the
  * caller's local properties (its current span among them) and each
  * arm's jobs attribute to its own span. */
private[graft] object GateArms {

  /** Generous on purpose: arms take seconds at the contract scale
    * factors; this only bounds a wedged arm. */
  val Timeout: FiniteDuration = 30.minutes

  /** The first failed arm of a [[run]]; the cause is the arm's own error. */
  final class ArmFailed(val arm: String, cause: Throwable)
      extends RuntimeException(s"gate arm '$arm' failed: $cause", cause)

  private val runs = new AtomicLong(0L)

  /** Run `arms` concurrently and return their results in arm order. An
    * arm named in `after` starts once every arm it maps to has finished.
    * `meanwhile` runs on the calling thread after the arms without
    * prerequisites have started (x39 materializes its shared truth
    * relation there). */
  def run[A](arms: Seq[(String, () => A)], meanwhile: => Unit = (),
      after: Map[String, Set[String]] = Map.empty): Seq[A] = {
    val names = arms.map(_._1).toIndexedSeq
    val index = names.zipWithIndex.toMap
    require(after.isEmpty || index.size == names.size,
      s"arm names must be unique to name prerequisites: ${names.mkString(", ")}")
    after.foreach { case (a, ps) => (ps + a).foreach(n => require(index.contains(n),
      s"unknown arm '$n' in the prerequisites of '$a'")) }
    val pre = names.map(n => after.getOrElse(n, Set.empty[String]).map(index))
    val n = names.length
    val spark = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val tag = s"graft-arms-${runs.incrementAndGet()}"
    val pool = Executors.newFixedThreadPool(width(pre))
    val futs = new Array[Future[A]](n)
    val finished = new Array[Boolean](n)
    try {
      val done = new ExecutorCompletionService[A](pool)
      def launch(): Unit =
        for (i <- 0 until n if futs(i) == null && pre(i).forall(finished))
          futs(i) = done.submit(new Callable[A] {
            def call(): A = spark.fold(arms(i)._2()) { s =>
              s.sparkContext.addJobTag(tag)
              try Trace.span(s, names(i))(arms(i)._2())
              finally s.sparkContext.removeJobTag(tag)
            }
          })
      launch()
      meanwhile
      for (_ <- 0 until n) {
        val f = done.poll(Timeout.toNanos, TimeUnit.NANOSECONDS)
        if (f == null)
          throw new TimeoutException(s"gate arms still running after $Timeout: " +
            (0 until n).filter(i => futs(i) != null && !futs(i).isDone)
              .map(names).mkString(", "))
        val i = futs.indexWhere(_ eq f)
        try f.get()
        catch { case e: ExecutionException => throw new ArmFailed(names(i), e.getCause) }
        finished(i) = true
        launch()
      }
      futs.toSeq.map(_.get())
    } catch {
      case e: Throwable =>
        spark.foreach(_.sparkContext.cancelJobsWithTag(tag))
        throw e
    } finally pool.shutdownNow()
  }

  /** The most arms that can run at once: the widest set of arms no two of
    * which are ordered by the prerequisites `pre` (Dilworth: the arm
    * count less a maximum matching of the transitive "finishes before"
    * relation). */
  private def width(pre: IndexedSeq[Set[Int]]): Int = {
    val n = pre.length
    val before = Array.fill(n)(Set.empty[Int])
    def reach(i: Int, path: Set[Int]): Set[Int] = {
      require(!path(i), s"prerequisite cycle through arm $i")
      pre(i).flatMap(p => reach(p, path + i) + p)
    }
    (0 until n).foreach(i => before(i) = reach(i, Set.empty))
    val owner = Array.fill(n)(-1) // owner(j): the arm matched to finish before j
    def augment(i: Int, seen: Array[Boolean]): Boolean = (0 until n).exists { j =>
      before(j)(i) && !seen(j) && {
        seen(j) = true
        (owner(j) < 0 || augment(owner(j), seen)) && { owner(j) = i; true }
      }
    }
    n - (0 until n).count(i => augment(i, new Array[Boolean](n)))
  }
}
