package yamonbench

import java.util.concurrent.atomic.AtomicLong
import org.scalatest.funsuite.AnyFunSuite

class OpenLoopSpec extends AnyFunSuite {

  private val ms = 1000000L

  test("latency is measured from the due time, not the send time") {
    // one sender, items due every 10 ms, each send taking 100 ms: the
    // sender falls further behind with every item
    val now = new AtomicLong(0L)
    val loop = new OpenLoop((0 until 5).map(_ * 10 * ms), threads = 1,
      clock = () => now.get, sleepTo = t => now.accumulateAndGet(t, (a, b) => math.max(a, b)): Unit,
      send = _ => { now.addAndGet(100 * ms); true })
    val sent = loop.run(start = 0L)
    sent.zipWithIndex.foreach { case (s, k) =>
      assert(s.dueNs == k * 10 * ms)
      assert(s.serviceNs == 100 * ms)
      assert(s.latencyNs == (k + 1) * 100 * ms - k * 10 * ms)
      assert(s.lateNs == k * 90 * ms)
    }
    assert(sent.last.latencyNs > sent.last.serviceNs)
  }

  test("an idle sender waits for the due time before sending") {
    val now = new AtomicLong(0L)
    val loop = new OpenLoop(Vector(50 * ms, 80 * ms), threads = 1,
      clock = () => now.get, sleepTo = t => now.accumulateAndGet(t, (a, b) => math.max(a, b)): Unit,
      send = _ => { now.addAndGet(5 * ms); true })
    val sent = loop.run(start = 1000 * ms)
    assert(sent.map(_.sentNs) == Seq(1050 * ms, 1080 * ms))
    assert(sent.forall(_.latencyNs == 5 * ms))
  }

  test("a failing send fails the run") {
    val loop = new OpenLoop(Vector(0L), threads = 1, clock = () => 0L, sleepTo = _ => (),
      send = _ => throw new IllegalStateException("boom"))
    intercept[IllegalStateException](loop.run(0L))
  }
}
