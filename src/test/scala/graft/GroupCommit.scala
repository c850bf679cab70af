package graft

import scala.util.Try

import graft.sources.EventLog

/** Drives one [[EventLog.appendRows]] group commit from a test. */
object GroupCommit {

  /** Run `n` callers on their own threads while holding `log`'s monitor, so
    * no flush can start; release it once all `n` are queued, so they commit
    * as one group. Returns each caller's outcome, in thread order.
    */
  def asOneGroup[T](log: EventLog, n: Int)(call: Int => T): Seq[Try[T]] = {
    val results = new Array[Try[T]](n)
    val threads = (0 until n).map(i => new Thread(() => results(i) = Try(call(i))))
    log.synchronized {
      threads.foreach(_.start())
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (log.queuedAppends < n && System.nanoTime() < deadline) Thread.sleep(5)
      assert(log.queuedAppends == n, "every caller queued behind the held monitor")
    }
    threads.foreach(_.join())
    results.toSeq
  }
}
