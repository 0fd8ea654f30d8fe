package graft.metrics

import java.util.concurrent.atomic.AtomicLong

/** Aggregated task-side scan nanos from the FastOrcSum native path.
  *
  * FastOrcSum runs as an RDD job before its scalar ever becomes a
  * DataFrame, so no SQL metric sees its scan. The native tasks report
  * their measured scan time here. Its only reader is perfbench's traced
  * run, which drains the register around each native op and reports
  * the time as `scan.native_task_s`.
  */
object NativeScanTime {
  private val nanos = new AtomicLong(0L)

  def addNanos(n: Long): Unit = nanos.addAndGet(n)

  /** Read and reset. */
  def drain(): Long = nanos.getAndSet(0L)
}
