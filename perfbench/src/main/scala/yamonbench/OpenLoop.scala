package yamonbench

import java.util.concurrent.atomic.AtomicInteger

/** Open-loop load: every item has a due time fixed in advance, and its
  * latency is measured from that due time, not from when a sender got
  * round to it. A sender pool that falls behind therefore shows up as
  * latency (and as [[Sent.lateNs]]) instead of silently lowering the
  * offered rate — the coordinated-omission trap of closed-loop timing.
  *
  * @param due      item due times in ns after `start`, ascending
  * @param threads  sender threads multiplexing the schedule
  * @param clock    monotonic ns clock
  * @param sleepTo  blocks until the clock reads at least its argument
  * @param send     delivers item `i`; true when the receiver accepted it
  */
final class OpenLoop(due: IndexedSeq[Long], threads: Int, clock: () => Long,
    sleepTo: Long => Unit, send: Int => Boolean) {
  require(threads >= 1, "at least one sender thread")

  /** Runs the schedule from `start` (clock ns) and returns one record per
    * item, in item order.
    */
  def run(start: Long): IndexedSeq[OpenLoop.Sent] = {
    val out = new Array[OpenLoop.Sent](due.size)
    val next = new AtomicInteger()
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val workers = (0 until threads).map { w =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < due.size && failure.get == null) {
          val dueAt = start + due(i)
          sleepTo(dueAt)
          val sent = clock()
          val ok = try send(i) catch {
            case e: Throwable => failure.compareAndSet(null, e); false
          }
          out(i) = OpenLoop.Sent(i, dueAt, sent, clock(), ok)
          i = next.getAndIncrement()
        }
      }, s"open-loop-sender-$w")
      t.setDaemon(true)
      t.start()
      t
    }
    workers.foreach(_.join())
    Option(failure.get).foreach(e => throw e)
    out.toIndexedSeq
  }
}

object OpenLoop {

  /** One delivery: due, send-start and completion instants (clock ns). */
  final case class Sent(index: Int, dueNs: Long, sentNs: Long, doneNs: Long,
      accepted: Boolean) {
    /** Latency as the user sees it: from due time to completion. */
    def latencyNs: Long = doneNs - dueNs
    /** How late the generator started the send. */
    def lateNs: Long = sentNs - dueNs
    /** Receiver service time alone. */
    def serviceNs: Long = doneNs - sentNs
  }

  val systemClock: () => Long = () => System.nanoTime()

  val systemSleep: Long => Unit = until => {
    var left = until - System.nanoTime()
    while (left > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos(left)
      left = until - System.nanoTime()
    }
  }
}
