package perfbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{EngineSession, GraftEngine, SparkEntry, Tables}
import Json.NodeOps

/** Runs one workload plan as a single closed-loop client: each op is
  * issued only after the previous one has returned and been checked.
  *
  * Phases: the orc_io reference sums; the session set-up (session
  * start, tuning, table loads); the warm-up passes; the timed passes; in
  * a traced run, the codec ladder (orc_io) or the stream section (when
  * the plan names stream entries).
  * Every op's output is checked; a failed check or an exception marks
  * the op failed and the loop goes on.
  */
final class Runner(plan: JsonNode, out: Out) {
  private val workload = plan.str("workload")
  private val sfDir = plan.str("sf_dir")
  private val workDir = plan.str("work_dir")
  private val cpus = plan.int("cpus")
  private val tracer = new Tracer(plan.bool("trace"))
  private val fingerprints: Map[String, (Long, String)] = {
    import scala.jdk.CollectionConverters._
    Option(plan.get("fingerprints")).toSeq.flatMap(_.properties().asScala)
      .map(e => e.getKey -> (e.getValue.long("rows"), e.getValue.str("md5"))).toMap
  }

  private var spark: SparkSession = _
  private var engine: GraftEngine = _
  private var listeners: Option[LayerListeners] = None
  private lazy val entries = SparkEntry.queries

  // orc_io inputs: the blowup files, their reference sums, their size
  private lazy val orcDir = plan.str("data_dir")
  private lazy val orcFiles = Orc.orcFiles(orcDir)
  private lazy val orcBytes = Orc.fileBytes(orcFiles)
  private lazy val copyK = plan.long("copy_k")
  private var reference: Orc.Reference = _

  private var opSeq = 0

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def run(): Unit = {
    if (workload == "orc_io") {
      val t0 = System.nanoTime()
      val ranges = plan.items("ranges").map(r => (r.get(0).asLong, r.get(1).asLong))
      reference = Orc.reference(orcFiles, copyK, ranges)
      out("reference", "seconds" -> secs(t0), "rows" -> reference.rows,
        "files" -> orcFiles.size, "bytes" -> orcBytes)
    }
    setup()
    val t1 = System.nanoTime()
    plan.items("warmup").foreach(op => runOp(op, -1))
    out("warmup", "seconds" -> secs(t1))
    listeners.foreach(_.take((0L, 0L)))
    measure()

    if (tracer.enabled && workload == "orc_io") ladder()
    if (tracer.enabled) streams()
    tracer.all.foreach { s =>
      out("span", "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)
    }
    spark.stop()
  }

  private var window = "main"

  /** The plan's timed passes, in order; no op starts after a window
    * has run `max_seconds`. A traced run runs every pass twice, untraced
    * ("baseline") and traced ("main"), alternating which goes first so
    * JIT warming favours neither. Host steal is sampled around them.
    */
  private def measure(): Unit = {
    val traced = tracer.enabled
    val elapsed = scala.collection.mutable.Map("main" -> 0.0, "baseline" -> 0.0)
    val ops = scala.collection.mutable.Map("main" -> 0, "baseline" -> 0)
    val cpu0 = graft.Bench.readCpu()
    val startMs = System.currentTimeMillis()
    for ((pass, i) <- plan.items("passes").zipWithIndex) {
      val windows = if (!traced) Seq("main") else if (i % 2 == 0) Seq("baseline", "main")
        else Seq("main", "baseline")
      for (w <- windows) {
        if (traced) tracing(w == "main")
        window = w
        val t = System.nanoTime()
        pass.elements().forEachRemaining { op =>
          if (elapsed(w) + secs(t) < plan.dbl("max_seconds")) { runOp(op, i); ops(w) += 1 }
        }
        elapsed(w) += secs(t)
      }
    }
    if (traced) tracing(true)
    val steal = for ((_, s0, a0) <- cpu0; (_, s1, a1) <- graft.Bench.readCpu() if a1 > a0)
      yield (s1 - s0).toDouble / (a1 - a0)
    for (w <- elapsed.keys.toSeq.sorted if ops(w) > 0)
      out("measure", "window" -> w, "start_ms" -> startMs, "elapsed_s" -> elapsed(w),
        "ops" -> ops(w), "passes" -> plan.items("passes").size,
        "steal_avg" -> steal.getOrElse(0.0),
        "host_loaded" -> (steal.getOrElse(0.0) >= graft.Bench.LoadedStealAvg),
        "nproc" -> Runtime.getRuntime.availableProcessors, "cpus" -> cpus,
        "peak_rss_mb" -> peakRssMb())
  }

  private def tracing(on: Boolean): Unit = if (tracer.enabled != on) {
    tracer.enabled = on
    listeners.foreach(l => if (on) l.register() else l.unregister())
  }

  private def setup(): Unit = {
    tracer.op = -1
    val t0 = System.nanoTime()
    spark = tracer.span("session.start")(EngineSession.local("perfbench", cpus.toString))
    listeners = if (tracer.enabled) Some(new LayerListeners(spark)) else None
    listeners.foreach(_.register())
    val startS = secs(t0)
    val t1 = System.nanoTime()
    engine = tracer.span("session.tune")(new GraftEngine(spark))
    val tuneS = secs(t1)
    val tables = Tables(spark, sfDir)
    val loads = plan.items("tables").map(_.asText).map { t =>
      val t2 = System.nanoTime()
      tracer.span("tables.load")(table(tables, t))
      t -> secs(t2)
    }
    if (workload != "orc_io") entries // building the entry map is set-up too
    out("setup", "start_s" -> startS, "tune_s" -> tuneS,
      "tables_s" -> loads.map(_._2).sum, "total_s" -> secs(t0))
  }

  private def table(t: Tables, name: String): DataFrame = name match {
    case "region" => t.region
    case "nation" => t.nation
    case "customer" => t.customer
    case "supplier" => t.supplier
    case "part" => t.part
    case "orders" => t.orders
    case "lineitem" => t.lineitem
    case "events" => t.events
    case "documents" => t.documents
    case "embeddings" => t.embeddings
    case other => sys.error(s"unknown table $other")
  }

  /** One op in flight: its timings, outcome and extra facts. */
  private final class Op(val id: Int) {
    var buildS = 0.0
    var actionS = 0.0
    var buildWindow = (0L, 0L)
    var ok = true
    var error: String = null
    val extra = scala.collection.mutable.LinkedHashMap.empty[String, Any]

    def check(cond: Boolean, msg: => String): Unit =
      if (!cond && ok) { ok = false; error = msg }

    /** Time `body` as the op's build (the entry call) or action. */
    def timed[T](phase: String)(body: => T): T = {
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try tracer.span(s"op.$phase")(body)
      finally {
        val s = secs(t0)
        if (phase == "build") { buildS = s; buildWindow = (w0, System.currentTimeMillis()) }
        else actionS = s
      }
    }
  }

  private def runOp(spec: JsonNode, pass: Int): Unit = {
    opSeq += 1
    val op = new Op(opSeq)
    tracer.op = op.id
    val kind = spec.str("kind")
    try tracer.span("op") {
      if (kind == "entry") entryOp(spec.str("name"), op) else orcOp(spec, op)
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) || e.isInstanceOf[LinkageError] =>
        op.ok = false
        op.error = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
    }
    if (kind == "entry") engine.releaseTransientCaches()
    listeners.filter(_ => tracer.enabled).foreach { l =>
      // a write op's build is the write itself, not work before an action
      val (counters, jobs) = l.take(if (kind == "entry") op.buildWindow else (0L, 0L))
      op.extra("counters") = counters
      tracer.addJobs(jobs)
      val sc = spark.sparkContext
      op.extra("reuse") = Map(
        "persisted_rdds" -> sc.getPersistentRDDs.size,
        "cached_mb" -> sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6)
    }
    out("op", (Seq("id" -> op.id, "window" -> window, "pass" -> pass, "kind" -> kind,
      "name" -> (if (kind == "entry") spec.str("name") else kind),
      "build_s" -> op.buildS, "action_s" -> op.actionS, "latency_s" -> (op.buildS + op.actionS),
      "ok" -> op.ok, "error" -> op.error) ++ op.extra.toSeq): _*)
  }

  private def entryOp(name: String, op: Op): Unit = {
    val df = op.timed("build")(entries(name)(spark, sfDir))
    val rows = op.timed("action")(df.collect())
    val got = Canon.fingerprint(df.columns.toSeq, rows)
    fingerprints.get(name) match {
      case None => op.check(false, s"no committed fingerprint for $name")
      case Some(want) => op.check(got == want, s"fingerprint $got != committed $want")
    }
    op.extra("rows") = rows.length
  }

  private def orcOp(spec: JsonNode, op: Op): Unit = spec.str("kind") match {
    case "native" =>
      val s = op.timed("action")(engine.sumFirstColumnFast(orcDir))
      op.check(s == reference.sum, s"native sum $s != reference ${reference.sum}")
      op.extra("rows_scanned") = reference.rows
      op.extra("bytes") = orcBytes
      if (tracer.enabled) op.extra("native_task_s") = graft.metrics.NativeScanTime.drain() / 1e9
    case "dataframe" =>
      val s = op.timed("action")(engine.sumFirstColumn(orcDir))
      op.check(s == reference.sum, s"dataframe sum $s != reference ${reference.sum}")
      op.extra("rows_scanned") = reference.rows
      op.extra("bytes") = orcBytes
    case "sarg" =>
      val (lo, hi) = (spec.long("lo"), spec.long("hi"))
      val (s, scanned) = op.timed("action")(
        graft.sources.FastOrcSum.sumFirstLongColumnFiltered(spark, orcDir, Some((lo, hi))))
      val want = reference.ranges((lo, hi))
      op.check(s == want, s"sarg [$lo,$hi] sum $s != reference $want")
      op.extra("rows_scanned") = scanned
      op.extra("table_rows") = reference.rows
      if (tracer.enabled) op.extra("native_task_s") = graft.metrics.NativeScanTime.drain() / 1e9
    case "write" =>
      import org.apache.spark.sql.functions.{col, count, lit, sum}
      val copy = spec.int("copy")
      val dest = s"$workDir/write_${op.id}"
      val slice = Tables(spark, sfDir).lineitem
        .withColumn("l_orderkey", col("l_orderkey") + lit(copy * copyK))
      op.timed("build")(slice.write.mode("overwrite").orc(dest))
      val back = op.timed("action")(
        spark.read.orc(dest).agg(count(lit(1)), sum("l_orderkey")).head())
      val want = reference.files(copy)
      val got = (back.getLong(0), back.getLong(1))
      op.check(got == want, s"write copy $copy read back $got != reference $want")
      val path = new org.apache.hadoop.fs.Path(dest)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      op.extra("write_rows") = got._1
      op.extra("write_bytes") = fs.listStatus(path).map(_.getPath)
        .filter(_.getName.endsWith(".orc")).map(p => fs.getFileStatus(p).getLen).sum
      fs.delete(path, true)
    case other => sys.error(s"unknown op kind $other")
  }

  /** The stream section of a traced run: the plan's stream entries, each
    * run to completion through [[runOp]] twice (the first round warms
    * them up), with a `StreamingQueryListener` that records every
    * micro-batch's progress. Not part of the timed passes.
    */
  private def streams(): Unit = {
    val specs = plan.items("stream")
    if (specs.isEmpty) return
    val progress = new StreamProgress
    spark.streams.addListener(progress)
    try for (round <- Seq("stream_warmup", "stream"); spec <- specs) {
      window = round
      runOp(spec, -1)
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      for (p <- progress.take()) {
        val ms = (k: String) => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        val state = Option(p.stateOperators).toSeq.flatten
        out("batch", "window" -> round, "name" -> spec.str("name"), "batch_id" -> p.batchId,
          "trigger_ms" -> ms("triggerExecution"), "add_batch_ms" -> ms("addBatch"),
          "wal_commit_ms" -> ms("walCommit"), "commit_ms" -> state.map(_.commitTimeMs).sum,
          "state_rows" -> state.map(_.numRowsTotal).sum, "input_rows" -> p.numInputRows)
      }
    } finally spark.streams.removeListener(progress)
  }

  /** The scan ladder: `nextBatch` alone over every column of small
    * lineitem copies in three codecs; over the blowup, raw reads, the
    * first column's `nextBatch` and the engine's stripe loop. Medians
    * of `ladder_reps` rounds.
    */
  private def ladder(): Unit = {
    val dir = plan.str("ladder_dir")
    val reps = plan.int("ladder_reps")
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    def files(codec: String) = Orc.orcFiles(s"$dir/$codec")
    val codecs = Seq("none", "snappy", "zstd")
    for (c <- codecs if !new java.io.File(s"$dir/$c/_DONE").exists)
      Orc.writeCopies(spark, sfDir, s"$dir/$c", plan.int("ladder_copies"), c, cpus)
    val all = codecs.map(c => c -> med(Seq.fill(reps)(Orc.nextBatchSeconds(files(c), true)))).toMap
    // the sum loop is cheap next to decoding: time it over the whole blowup
    val firstCol = med(Seq.fill(reps)(Orc.nextBatchSeconds(orcFiles, false)))
    val stripeLoop = med(Seq.fill(reps)(Orc.sumStripesSeconds(spark, orcFiles)._1))
    val io = med(Seq.fill(reps)(Orc.rawReadMbS(orcFiles)))
    out("ladder", "io_mb_s" -> io, "next_batch_s" -> all, "first_col_next_batch_s" -> firstCol,
      "sum_stripes_s" -> stripeLoop)
  }

  private def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    } catch { case scala.util.control.NonFatal(_) => 0.0 }
}
