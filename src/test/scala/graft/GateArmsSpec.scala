package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.scalatest.funsuite.AnyFunSuite
import graft.dag.GateArms

/** Concurrent gate arms: results in arm order, and a failing arm is
  * surfaced by name at once even while another arm is still blocked —
  * where in-order awaits would hang on the blocked arm forever. */
class GateArmsSpec extends AnyFunSuite {

  test("results come back in arm order, whatever order the arms finish in") {
    val got = GateArms.run(Seq(
      "slow" -> (() => { Thread.sleep(300); "a" }),
      "fast" -> (() => "b"),
      "mid" -> (() => { Thread.sleep(100); "c" })))
    assert(got == Seq("a", "b", "c"))
  }

  test("a failing arm surfaces by name within seconds while another arm " +
      "blocks, and the blocked arm is interrupted") {
    val never = new CountDownLatch(1)
    val interrupted = new CountDownLatch(1)
    val t0 = System.nanoTime()
    try {
      val e = intercept[RuntimeException] {
        GateArms.run(Seq(
          "blocked" -> (() => {
            try never.await()
            catch { case _: InterruptedException => interrupted.countDown() }
            0
          }),
          "boom" -> (() => throw new IllegalStateException("planted failure"))))
      }
      val secs = (System.nanoTime() - t0) / 1e9
      assert(secs < 10.0, s"failure took $secs s to surface")
      assert(e.getMessage.contains("'boom'"), e.getMessage)
      assert(e.getCause.isInstanceOf[IllegalStateException])
      assert(e.getCause.getMessage == "planted failure")
      assert(interrupted.await(10, TimeUnit.SECONDS),
        "the still-running arm was not interrupted (shutdownNow)")
    } finally never.countDown()
  }

  test("an arm starts after its prerequisites, a failed arm's dependents " +
      "never start, and the pool is as wide as the widest unordered set") {
    val log = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def arm(name: String, ms: Long) = name -> (() => {
      threads.add(Thread.currentThread.getName)
      log.add(s"+$name"); Thread.sleep(ms); log.add(s"-$name"); name
    })
    // a → b → c beside d: two arms at most ever run at once
    val got = GateArms.run(Seq(arm("c", 10), arm("b", 50), arm("a", 100),
      arm("d", 300)), after = Map("b" -> Set("a"), "c" -> Set("b")))
    assert(got == Seq("c", "b", "a", "d"))
    val order = log.toArray.toSeq.map(_.toString)
    assert(order.indexOf("-a") < order.indexOf("+b") &&
      order.indexOf("-b") < order.indexOf("+c"), order.mkString(" "))
    assert(order.indexOf("+d") < order.indexOf("-a"), order.mkString(" "))
    assert(threads.size <= 2, threads.toString)

    log.clear()
    val e = intercept[GateArms.ArmFailed] {
      GateArms.run(Seq(
        "boom" -> (() => throw new IllegalStateException("planted failure")),
        arm("after-boom", 0)),
        after = Map("after-boom" -> Set("boom")))
    }
    assert(e.arm == "boom" && e.getCause.getMessage == "planted failure")
    assert(log.isEmpty, log.toString)
    intercept[IllegalArgumentException] {
      GateArms.run(Seq(arm("x", 0), arm("y", 0)),
        after = Map("x" -> Set("y"), "y" -> Set("x")))
    }
  }
}
