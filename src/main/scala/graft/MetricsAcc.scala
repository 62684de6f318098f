package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd, SparkListenerTaskStart}

/** Task-metrics listener behind Bench's `SPARK_GRAFT_METRICS=1` rows:
  * shuffle read and write bytes, and disk and memory spill tracked
  * SEPARATELY. memoryBytesSpilled is the deserialized in-memory size at
  * spill time, routinely several × the bytes that reach disk (the r14
  * lesson — summing them overstated spill ~5×).
  *
  * Totals are process-wide per measured span: Bench runs its queries
  * serially with nothing else in flight, and `drain()`s straggler
  * task-end events before reading the counters. */
final class MetricsAcc extends SparkListener {
  val shufRead = new java.util.concurrent.atomic.AtomicLong
  val shufWrite = new java.util.concurrent.atomic.AtomicLong
  val diskSpill = new java.util.concurrent.atomic.AtomicLong
  val memSpill = new java.util.concurrent.atomic.AtomicLong
  // started-but-not-ended tasks as seen THROUGH THE LISTENER BUS —
  // the drain condition (ADVICE r16: a fixed sleep let a straggling
  // task from query N post its end event into query N+1's window).
  // Deliberately NOT zeroed by reset(): a zombie task from an aborted
  // stage keeps the counter positive so the next drain waits for its
  // end event instead of absorbing it. Decrements CLAMP at 0 (ADVICE
  // r17): an end without a matching start (listener attached
  // mid-flight, or the async bus dropping a start under pressure)
  // must not leave the counter negative forever — that would make
  // every later drain spin its full timeout.
  val outstanding = new java.util.concurrent.atomic.AtomicLong

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    outstanding.incrementAndGet(); ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      diskSpill.addAndGet(m.diskBytesSpilled)
      memSpill.addAndGet(m.memoryBytesSpilled)
    }
    outstanding.updateAndGet(v => if (v > 0) v - 1 else 0L); ()
  }

  /** Spin until every started task has posted its task-end event,
    * observed stable twice 20 ms apart (start/end events ride the
    * same ordered bus queue, but a pair not yet DELIVERED leaves the
    * counter at zero — the second observation closes most of that
    * window), or until the timeout. Returns whether the drain
    * completed; a false return means counters may undercount. On
    * timeout the counter is RE-ZEROED (ADVICE r17): a lost task-end
    * event would otherwise pin it positive and make every later
    * query's drain spin the full timeout — one tagged-as-dirty
    * measurement window beats poisoning the rest of the run. */
  def drain(timeoutMs: Long = 5000): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var stable = 0
    while (stable < 2 && System.nanoTime() < deadline) {
      if (outstanding.get() == 0) { stable += 1; Thread.sleep(20) }
      else { stable = 0; Thread.sleep(5) }
    }
    if (stable < 2) outstanding.set(0)
    stable >= 2
  }

  def reset(): Unit = {
    shufRead.set(0); shufWrite.set(0); diskSpill.set(0); memSpill.set(0)
  }
}
