package graft.queries

import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService,
  Executors, TimeUnit, TimeoutException}
import scala.concurrent.duration._
import org.apache.spark.sql.SparkSession
import graft.obs.Trace

/** Concurrent gate arms: independent lifecycles (separate temp lakes, or
  * read-only arms over shared persisted relations) run as concurrent
  * Spark job groups, one driver thread per arm, so a gate pays its
  * slowest arm's wall instead of the sum.
  *
  * Failure is prompt and named: the FIRST arm to fail is rethrown with
  * its name at once — without waiting on arms still running — and a
  * wedged arm fails the gate after [[Timeout]] with the pending arms'
  * names instead of hanging it. Either way `shutdownNow` interrupts
  * whatever is still running.
  *
  * Each arm runs as a [[Trace.span]] under its name: the pool's threads
  * are created inside [[run]], so they inherit the caller's current span
  * and each arm's jobs attribute to its own span. */
private[graft] object GateArms {

  /** Generous on purpose: gate arms take seconds at the contract scale
    * factors; this only bounds a wedged arm. */
  val Timeout: FiniteDuration = 30.minutes

  /** Run `arms` concurrently and return their results in arm order.
    * `meanwhile` runs on the calling thread after every arm has started
    * (x39 materializes its shared truth relation there). */
  def run[A](arms: Seq[(String, () => A)], meanwhile: => Unit = ()): Seq[A] = {
    val spark = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val pool = Executors.newFixedThreadPool(arms.length)
    try {
      val done = new ExecutorCompletionService[A](pool)
      val futs = arms.map { case (name, arm) =>
        name -> done.submit(new Callable[A] {
          def call(): A = spark.fold(arm())(Trace.span(_, name)(arm()))
        })
      }
      meanwhile
      val deadline = System.nanoTime() + Timeout.toNanos
      futs.foreach { _ =>
        val f = done.poll(deadline - System.nanoTime(), TimeUnit.NANOSECONDS)
        if (f == null)
          throw new TimeoutException(s"gate arms still running after $Timeout: " +
            futs.filterNot(_._2.isDone).map(_._1).mkString(", "))
        try f.get()
        catch {
          case e: ExecutionException =>
            val name = futs.find(_._2 eq f).get._1
            throw new RuntimeException(
              s"gate arm '$name' failed: ${e.getCause}", e.getCause)
        }
      }
      futs.map(_._2.get())
    } finally pool.shutdownNow()
  }
}
