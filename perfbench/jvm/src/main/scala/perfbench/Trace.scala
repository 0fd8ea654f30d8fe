package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into an engine layer. `op` is the
  * op the span belongs to (0 = set-up); `parent` is the enclosing span
  * (0 = none).
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)

/** Spans kept in memory and written out when the run ends. With tracing
  * off, [[span]] only runs its body. The client is single-threaded, so
  * the parent stack needs no locking. Times are epoch nanoseconds, so
  * Spark's job times (epoch ms) can be added as child spans.
  */
final class Tracer(var enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  private val epochOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  var op: Int = 0

  private def now: Long = System.nanoTime() + epochOffset

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = now
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, op, name, t0, now)
      }
    }

  /** Record Spark jobs (epoch ms) of the current op as `exec.job` spans,
    * each under the op's span that was open when the job started.
    */
  def addJobs(jobs: Seq[(Long, Long)]): Unit = {
    val mine = spans.filter(s => s.op == op && s.name.startsWith("op."))
    for ((s, e) <- jobs) {
      val (lo, hi) = (s * 1000000L, e * 1000000L)
      // job times are whole milliseconds: allow one of slack at the start
      val parent = mine.find(p => p.startNs - 1000000L <= lo && lo <= p.endNs)
        .map(_.id).getOrElse(0)
      spans += Span(nextId, parent, op, "exec.job", lo, hi)
      nextId += 1
    }
  }

  def all: Seq[Span] = spans.toSeq
}

/** Counters from Spark's own listener interfaces, registered only in a
  * traced run. Events are summed until [[take]] hands them to the op
  * that caused them.
  */
final class LayerListeners(spark: SparkSession) {
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobStarts = mutable.Map.empty[Int, Long]
  private val jobs = mutable.ArrayBuffer.empty[(Long, Long)]

  private def add(k: String, v: Double): Unit = sums.synchronized { sums(k) += v }

  private val jobsAndTasks = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = sums.synchronized {
      sums("exec.jobs") += 1
      jobStarts(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = sums.synchronized {
      jobStarts.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("exec.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) sums.synchronized {
        sums("exec.tasks") += 1
        val gettingResult =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        val delay = (info.finishTime - info.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult
        sums("exec.sched_delay_s") += math.max(0L, delay) / 1e3
        sums("exec.task_cpu_s") += m.executorCpuTime / 1e9
        sums("exec.gc_s") += m.jvmGCTime / 1e3
        sums("exchange.shuffle_write_mb") += m.shuffleWriteMetrics.bytesWritten / 1e6
        sums("exchange.shuffle_read_mb") += m.shuffleReadMetrics.totalBytesRead / 1e6
        sums("exchange.fetch_wait_s") += m.shuffleReadMetrics.fetchWaitTime / 1e3
        sums("exchange.spill_mb") += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6
      }
    }
  }

  private val planning = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit =
      for ((phase, metric) <- Seq("analysis" -> "plan.analysis_s",
          "optimization" -> "plan.optimization_s", "planning" -> "plan.planning_s"))
        qe.tracker.phases.get(phase).foreach(p => add(metric, p.durationMs / 1e3))
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(jobsAndTasks)
    spark.listenerManager.register(planning)
  }

  def unregister(): Unit = {
    take((0L, 0L))
    spark.sparkContext.removeSparkListener(jobsAndTasks)
    spark.listenerManager.unregister(planning)
  }

  /** Counters and finished jobs (epoch ms start, end) since the last
    * call. Jobs submitted inside `build` (the entry call) are the op's
    * pre-action jobs.
    */
  def take(build: (Long, Long)): (Map[String, Double], Seq[(Long, Long)]) = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    sums.synchronized {
      val pre = jobs.filter { case (s, _) => s >= build._1 && s <= build._2 }
      val out = sums.toMap ++ Map(
        "exec.pre_action_jobs" -> pre.size.toDouble,
        "exec.pre_action_s" -> pre.map { case (s, e) => (e - s) / 1e3 }.sum)
      val done = jobs.toSeq
      sums.clear()
      jobs.clear()
      (out, done)
    }
  }
}

/** Every micro-batch's progress, from Spark's `StreamingQueryListener`,
  * until [[take]] hands it to the stream entry that ran it.
  */
final class StreamProgress extends StreamingQueryListener {
  import StreamingQueryListener._
  private val batches = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    batches.synchronized { batches += e.progress }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  def take(): Seq[StreamingQueryProgress] = batches.synchronized {
    val out = batches.toSeq
    batches.clear()
    out
  }
}
