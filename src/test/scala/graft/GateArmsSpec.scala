package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.GateArms

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
}
