package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Mirrors the reference's fixed runtime choices in Spark-native form
  * (reference: UBC-ECE-Sasha/PIM-ORC `orc-parser/reader.cc`):
  *  - vectorized, batched ORC decode with batch size = the reference's
  *    row-index stride of 10,000 rows (`reader.cc:43-44`);
  *  - snappy as the write codec (the reference's only codec,
  *    `orc-parser/Makefile:19-28`);
  *  - filter + aggregate pushdown so row-group skipping / footer-stats
  *    answers subsume the reference's seek-by-row-index and linked-but-
  *    unused sargs surface (`reader.cc:47`, `Makefile:37`);
  *  - AQE on: runtime re-planning (coalesce/skew-join) is the 100 TB
  *    analogue of the reference's fixed rows-per-thread sweep
  *    (`scripts/readerThreads.bash:3-7`).
  */
object EngineSession {

  /** Runtime-settable confs, applicable to an existing session too. */
  val runtimeConf: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.orc.impl" -> "native",
    "spark.sql.orc.enableVectorizedReader" -> "true",
    "spark.sql.orc.filterPushdown" -> "true",
    "spark.sql.orc.aggregatePushdown" -> "true",
    "spark.sql.orc.columnarReaderBatchSize" -> "10000",
    "spark.sql.orc.compression.codec" -> "snappy",
    "spark.sql.parquet.filterPushdown" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    // parallelism-first (the Spark default) spreads even KB-scale
    // shuffles across the full core count; the docs recommend false +
    // an explicit advisory size for production.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // 128 MiB splits: at 100 TB this yields ~800k scan tasks — the same
    // "morsel" granularity the reference derives from stripes
    // (`reader.cc:104-144`); local tests just see fewer, larger splits.
    "spark.sql.files.maxPartitionBytes" -> "134217728",
    // The events fixture carries parquet TIMESTAMP(NANOS) which Spark's
    // reader rejects; read as raw nanos and convert in Tables.events.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
  )

  /** Build a tuned local session. `cpus` drives both parallelism and the
    * shuffle partition count (contract: 32 on the driver box, never 200).
    */
  def local(appName: String = "graft", cpus: String = defaultCpus): SparkSession = {
    val b = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      // ContextCleaner frees broadcast/shuffle blocks only after a
      // driver GC enqueues their weak references; the 30min default
      // means a long-running driver accumulates every query's broadcast
      // blocks in block-manager memory meanwhile (measured: the
      // broadcast-join-heavy q45/q56/q57 ran 1.3-2.2x slower at the
      // tail of a 97-query sequence than isolated). 30s bounds the
      // accumulation window. Context-start-only conf, so set here and
      // not in runtimeConf.
      .config("spark.cleaner.periodicGC.interval", "30s")
    runtimeConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    quietStreamingLogs()
    tune(spark)
    spark
  }

  /** Silence the per-query streaming boilerplate WARNs (temp-checkpoint
    * creation, AQE-disabled notices, micro-batch scheduling). A full
    * bench runs 17 streaming entries several times each and the driver
    * records only the final ~2,000 chars of combined output — in r13
    * that tail was 100% these WARNs, which pushed the bench's summary
    * JSON line out of the captured record. They carry no signal here:
    * every streaming entry intentionally uses a fresh temp checkpoint
    * (re-runs must re-pay the ingest) and stateful-stream AQE is
    * always off by design.
    */
  def quietStreamingLogs(): Unit =
    try {
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.streaming",
        org.apache.logging.log4j.Level.ERROR)
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.streaming",
        org.apache.logging.log4j.Level.ERROR)
    } catch {
      // NoClassDefFoundError (a LinkageError, outside NonFatal) is the
      // expected miss here: an embedding app without log4j-core must
      // skip the quieting, not crash every session entrypoint
      case _: LinkageError => ()
      case scala.util.control.NonFatal(_) => ()
    }

  def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** Apply runtime confs + register graft SQL functions on an existing
    * session (e.g. one built by the driver harness). Idempotent and
    * memoized per session: the driver wrapper calls this before every
    * query, and re-setting ~15 confs plus re-registering every SQL
    * function was a measurable slice of the old fixed per-query
    * overhead.
    */
  def tune(spark: SparkSession): SparkSession = {
    // memo is set only AFTER tuning completes, under the lock — a
    // concurrent caller must never run a query against a half-tuned
    // session (functions not yet registered). The memo is guarded by a
    // cheap sentinel probe: if the harness (or a test) mutated runtime
    // confs since we tuned, re-assert the full set instead of letting
    // the drift silently skew later queries.
    if (!tuned.contains(spark) || sentinelDrifted(spark)) tuned.synchronized {
      if (!tuned.contains(spark) || sentinelDrifted(spark)) {
        runtimeConf.foreach { case (k, v) => spark.conf.set(k, v) }
        functions.GraftFunctions.registerAll(spark)
        val rule = org.apache.spark.sql.graft.RewriteHofDotProduct
        val em = spark.experimental
        if (!em.extraOptimizations.contains(rule))
          em.extraOptimizations = em.extraOptimizations :+ rule
        tuned.add(spark)
      }
    }
    spark
  }

  /** One-conf drift probe (a full ~15-conf re-assert per query was a
    * measurable slice of per-query overhead; one get is not). Uses the
    * conf most likely to be touched by a generic harness reset and
    * least likely to coincide with our value by default (10000 vs
    * Spark's 4096 default).
    */
  private val sentinel = ("spark.sql.orc.columnarReaderBatchSize", "10000")
  private def sentinelDrifted(spark: SparkSession): Boolean =
    !spark.conf.getOption(sentinel._1).contains(sentinel._2)

  /** Sessions already tuned (weak keys — a stopped session can be
    * collected; synchronized — WeakHashMap is not thread-safe and
    * parallel test suites tune concurrently).
    */
  private val tuned = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))
}
