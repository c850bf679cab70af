package graft.broker

import java.util.concurrent.{Executors, ScheduledExecutorService, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

/** Periodic retention sweep — the reference's per-topic 60-second timer
  * (reference: src/topic.ts:40-42, 156-163) as ONE scheduled maintenance
  * job over the whole broker instead of a timer per topic.
  *
  * The reference arms `setInterval(cleanupExpiredEvents, 60_000)` inside
  * every Topic constructor; at a million event-sourcing topics
  * (`aggregate.<type>.<id>`) that is a million timers each issuing its own
  * delete. Here a single daemon thread walks the topic catalog and calls
  * `Topic.applyRetentionPolicy()` — each sweep is a handful of partition-
  * pruned delete jobs, and the schedule amortizes across every topic that
  * shares the log. `applyRetentionPolicy` stays public, so a deployment
  * that wants retention as an EXTERNAL cron/Airflow job (the right call at
  * 100 TB, where maintenance windows matter) simply never starts the
  * scheduler; this class is the in-process convenience the reference
  * defaults to.
  *
  * Sweeps run serially on one thread. Each topic's delete is an
  * `EventLog` rewrite that holds the log's monitor, as the reference's
  * sweep holds its single event loop (src/persistence.ts:74-93): no
  * publish commits while a topic's partition is rewritten (publishes to
  * that log wait), and no two rewrites overlap. A sweep that throws is
  * logged-and-dropped — the next tick retries; a retention failure must
  * not kill the timer, matching the reference's fire-and-forget
  * `setInterval` callback.
  */
final class RetentionScheduler(
    broker: EventBroker,
    periodMillis: Long = 60000L) extends AutoCloseable {
  require(periodMillis > 0, "periodMillis must be positive")

  private val deleted = new AtomicLong(0L)
  private val sweeps = new AtomicLong(0L)
  @volatile private var exec: Option[ScheduledExecutorService] = None

  /** One pass over every topic; returns rows deleted. Public so tests and
    * external schedulers drive it directly.
    */
  def sweepOnce(): Long = {
    val n = broker.topicNames.sorted.map { name =>
      broker.getTopic(name).fold(0L) { t =>
        try t.applyRetentionPolicy()
        catch { case e: Exception =>
          org.slf4j.LoggerFactory.getLogger(getClass)
            .warn(s"retention sweep failed for topic $name", e)
          0L
        }
      }
    }.sum
    deleted.addAndGet(n)
    sweeps.incrementAndGet()
    n
  }

  /** Arm the timer (idempotent). First sweep fires after one full period —
    * the reference's `setInterval` phase. A start() that races a close()
    * whose sweep is still draining WAITS for that sweep (bounded, outside
    * the monitor — the close() discipline) and then arms: sweeps stay
    * serial, and the caller always ends up armed unless the old sweep
    * outlives the 120 s wait (logged; a later start() recovers once it
    * terminates). The drain-check/await/arm sequence LOOPS (r13 advisor):
    * a close() that lands between the drain check and the arming block
    * leaves a freshly shut-down executor behind — the retry waits for
    * THAT one too instead of silently returning unarmed, so concurrent
    * close()+start() converges to armed (only a sweep that outruns its
    * own 120 s wait leaves start() disarmed, and that is logged).
    */
  def start(): this.type = {
    var waitedOn: Option[ScheduledExecutorService] = None
    while (true) {
      val draining = synchronized { exec.filter(_.isShutdown) }
      draining.foreach { e =>
        try e.awaitTermination(120, TimeUnit.SECONDS)
        catch { case _: InterruptedException => Thread.currentThread().interrupt() }
      }
      waitedOn = draining.orElse(waitedOn)
      synchronized {
        exec match {
          case Some(e) if e.isShutdown && e.isTerminated =>
            exec = None // the closed scheduler's sweep has fully drained
            armLocked()
            return this
          case Some(e) if e.isShutdown =>
            if (waitedOn.contains(e)) {
              // the SAME executor we already awaited is still running:
              // its sweep outlived the bounded wait — give up (logged),
              // a later start() recovers once it terminates
              org.slf4j.LoggerFactory.getLogger(getClass)
                .warn("not re-arming: a closed scheduler's sweep is still " +
                  "running after 120s; call start() again once it finishes")
              return this
            }
          // a close() raced in after our drain check — loop and await it
          case _ =>
            armLocked()
            return this
        }
      }
    }
    this
  }

  /** Arm if disarmed; callers hold the monitor. */
  private def armLocked(): Unit = {
    if (exec.isEmpty) {
      val e = Executors.newSingleThreadScheduledExecutor { r =>
        val t = new Thread(r, "graft-retention-sweep")
        t.setDaemon(true)
        t
      }
      // scheduleAtFixedRate silently cancels the task if the runnable ever
      // throws — swallow EVERYTHING here (incl. Errors: an OOM-killed sweep
      // must not permanently stop retention on a broker that thinks it's
      // still sweeping); sweepOnce's own per-topic catch handles logging.
      e.scheduleAtFixedRate(() =>
        try sweepOnce()
        catch { case t: Throwable =>
          try org.slf4j.LoggerFactory.getLogger(getClass).warn("retention sweep aborted", t)
          catch { case _: Throwable => () }
        },
        periodMillis, periodMillis, TimeUnit.MILLISECONDS)
      exec = Some(e)
    }
  }

  /** Armed and ticking — false once close() has disarmed it, even while a
    * timed-out sweep is still draining (that residue is observable as
    * start() refusing to re-arm, not as "running").
    */
  def isRunning: Boolean = exec.exists(!_.isShutdown)

  /** Lifetime rows deleted / sweeps completed (monitoring hooks). */
  def totalDeleted: Long = deleted.get()
  def totalSweeps: Long = sweeps.get()

  /** Publish this scheduler's health gauges on a [[graft.operators
    * .BatchMetrics]] ledger (r14 verdict #6): `retention.draining_sweeps`
    * is the alarm line — nonzero means a disarmed scheduler's final sweep
    * outlived close()'s bounded wait and still holds the log's rewrite
    * window — and the lifetime counters ride along so a dashboard reads
    * retention progress and residue from one snapshot instead of
    * scraping warn logs.
    */
  def registerGauges(metrics: graft.operators.BatchMetrics): this.type = {
    metrics.gauge("retention.draining_sweeps")(() => drainingSweeps.toLong)
    metrics.gauge("retention.total_sweeps")(() => totalSweeps)
    metrics.gauge("retention.total_deleted")(() => totalDeleted)
    this
  }

  /** Number of DISARMED schedulers whose final sweep is still draining
    * (0 or 1 — sweeps are serial on one executor). Nonzero means a sweep
    * outlived close()'s 120 s wait and still holds the log's rewrite
    * window: a deployment should alarm on this instead of grepping for
    * the close() warning (r13 verdict #6 — the recovery itself is
    * automatic, start() waits for the residue before re-arming).
    */
  def drainingSweeps: Int =
    synchronized { if (exec.exists(e => e.isShutdown && !e.isTerminated)) 1 else 0 }

  /** Disarm and AWAIT the in-flight sweep (it holds log locks and may be
    * mid-partition-rewrite): a caller that touches the log right after
    * close() — a maintenance runbook swapping retention for compaction,
    * or the q254 gate reading survivor counts — must never race a
    * backlogged tick's rewrite window. Bounded wait; a sweep that
    * somehow exceeds it is logged and the executor stays recorded, so a
    * later `start()` waits for it (and only arms once it has drained) —
    * two schedulers sweeping one log concurrently would violate the
    * serial-sweeps invariant above. The
    * wait itself happens OUTSIDE the monitor: holding it for up to 120 s
    * would block every concurrent `start()`/`close()`/`isRunning`
    * caller for the full wait.
    */
  override def close(): Unit = {
    val toStop = synchronized { exec.foreach(_.shutdown()); exec }
    toStop.foreach { e =>
      val finished =
        try e.awaitTermination(120, TimeUnit.SECONDS)
        catch { case _: InterruptedException =>
          Thread.currentThread().interrupt()
          false
        }
      synchronized {
        if (finished) { if (exec.contains(e)) exec = None }
        else org.slf4j.LoggerFactory.getLogger(getClass)
          .warn("retention sweep still running 120s after close(); " +
            "scheduler stays disarmed-but-recorded until it finishes")
      }
    }
  }
}
