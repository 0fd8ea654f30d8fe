package graft.tools

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Optimization-round diagnostic: run a named query under a
  * SparkListener and print per-job wall clock, stage/task counts, and
  * shuffle volumes — the local-mode stand-in for the Spark UI's Jobs
  * page (guide §1.1/§7.1). Usage:
  *   runMain graft.tools.JobProfile <query> <sfDir> [reps]
  * Not part of any gate.
  */
object JobProfile {
  final case class StageRec(
      var name: String = "",
      var tasks: Int = 0,
      var runMs: Long = 0L,
      var shufReadB: Long = 0L,
      var shufWriteB: Long = 0L,
      var inputB: Long = 0L)

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = graft.EngineSession.local("jobprofile")

    val jobStart = mutable.LinkedHashMap.empty[Int, Long]
    val jobEnd = mutable.LinkedHashMap.empty[Int, Long]
    val jobStages = mutable.LinkedHashMap.empty[Int, Seq[Int]]
    val jobDesc = mutable.LinkedHashMap.empty[Int, String]
    val stages = mutable.LinkedHashMap.empty[Int, StageRec]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobStart(e.jobId) = e.time
        jobStages(e.jobId) = e.stageIds
        jobDesc(e.jobId) =
          Option(e.properties.getProperty("spark.job.description")).getOrElse("")
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobEnd(e.jobId) = e.time
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val r = stages.getOrElseUpdate(si.stageId, StageRec())
        r.name = si.name
        r.tasks += si.numTasks
        r.runMs += si.taskMetrics.executorRunTime
        r.shufReadB += si.taskMetrics.shuffleReadMetrics.totalBytesRead
        r.shufWriteB += si.taskMetrics.shuffleWriteMetrics.bytesWritten
        r.inputB += si.taskMetrics.inputMetrics.bytesRead
      }
    })

    val e = graft.SparkEntry.allEntries.find(_.name == name).get
    (1 to reps).foreach { i =>
      // Bench.measure's hygiene, then the dead streaming providers
      graft.Reuse.isolating(spark) {
        jobStart.clear(); jobEnd.clear(); jobStages.clear(); jobDesc.clear(); stages.clear()
        if (graft.Bench.isStreaming(name))
          org.apache.spark.sql.graft.StateStoreHygiene.unloadAll()
        val t0 = System.nanoTime()
        e.run(spark, dir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(400) // let the listener bus drain (no public waitUntilEmpty)
        println(f"== $name rep$i wall=$wall%.3f s, jobs=${jobStart.size}")
        var covered = 0L
        jobStart.keys.toSeq.sorted.foreach { j =>
          val dur = jobEnd.getOrElse(j, 0L) - jobStart(j)
          covered += dur
          val st = jobStages.getOrElse(j, Seq.empty)
          val tk = st.flatMap(stages.get).map(_.tasks).sum
          println(f"  job $j%3d ${dur}%5d ms tasks=$tk%4d  ${jobDesc(j).take(60)}")
        }
        println(f"  sum(job walls)=${covered}ms  gap=${wall * 1000 - covered}%.0f ms (driver/planning)")
        if (i == reps) {
          println("  -- stages (by executorRunTime):")
          stages.toSeq.sortBy(-_._2.runMs).take(14).foreach { case (id, r) =>
            println(f"  stage $id%3d run=${r.runMs}%6d ms tasks=${r.tasks}%4d " +
              f"in=${r.inputB / 1024}%6d KiB sr=${r.shufReadB / 1024}%5d KiB " +
              f"sw=${r.shufWriteB / 1024}%5d KiB  ${r.name.take(50)}")
          }
        }
      }
      org.apache.spark.sql.graft.StateStoreHygiene.unloadAll()
    }
    spark.stop()
  }
}
