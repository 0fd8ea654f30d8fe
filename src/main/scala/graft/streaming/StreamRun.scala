package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** The one run-to-completion path of every streaming runner: scope the
  * shuffle partitions (and, for the RocksDB twins, the state-store
  * provider), start the query with `Trigger.AvailableNow`, wait for it,
  * check that RocksDB engaged, and record the run's progress.
  *
  * The confs are session-global for the length of a run, so runners in
  * one session must execute one at a time (bench, verify and the specs
  * do). Results are partition-count-invariant: state is key-partitioned
  * and every runner's output carries a total ORDER BY.
  */
object StreamRun {

  /** State partitions of the stateful runners. Partition count tracks
    * state volume, not cores: the fixture's state is KB-scale and each
    * partition's store commit fsyncs once per batch (~100 ms), the
    * dominant per-batch term. 8 → 4 took the 22-entry family 73.3 →
    * 66.7 s (sf0.1, local[32]); 32 cost a 5-batch stream-stream join
    * ≈20 s of commits against ≈6 s at 8. A 100 TB deployment sizes this
    * up with its state.
    */
  val StatePartitions = 4

  /** Partitions of the stateless foreachBatch ingest runners (q188,
    * q196, q257): they commit no state, their batch bodies run real
    * jobs, and the 8 → 4 A/B that sped the stateful runners moved these
    * 0.98–1.17×.
    */
  val IngestPartitions = 8

  /** Partitions of the stream-stream joins (q212, q326): a join commits
    * four stores per partition per batch where other runners commit
    * one, so a quarter of the family count holds the per-batch commit
    * count level with it. Floor 2 keeps the state multi-partition; 1
    * measured no better. At sf0.1, local[32]: q212 8.56 → 5.83 s, q326
    * 8.41 → 5.97 s.
    */
  val JoinStatePartitions: Int = math.max(2, StatePartitions / 4)

  /** Last completed run's progress summary per tag: batch count, input
    * rows and state rows — the streaming analogue of a physical-plan
    * dump. Read by `tools/DumpPlans` for PLANS.md.
    */
  val lastProgress = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val runs = new java.util.concurrent.atomic.AtomicLong(0L)

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  // Changelog checkpointing rides along with the provider: with the
  // snapshot default every commit fsyncs a full snapshot zip per
  // partition per batch (q341 at sf0.1: walls climbing 22 → 84 → 126 s);
  // changelog mode appends O(delta) and is the production RocksDB setup.
  private val ChangelogKey =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** A parquet directory as a file stream, one file per micro-batch: a
    * 4-file feed runs four batches, a single-file source one.
    */
  def feed(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(spark.read.parquet(path).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(path)

  /** Run `stream` to completion into the sink `sink` configures, with
    * `spark.sql.shuffle.partitions` = `partitions` and, if `rocksDb`,
    * the RocksDB provider with changelog checkpointing. `stream` is
    * built inside that scope, so batch jobs it runs see the same
    * partition count. The confs are restored even on throw. Fails loud
    * if RocksDB was asked for and did not back the state stores.
    */
  def toCompletion(spark: SparkSession, tag: String, stream: => DataFrame,
      partitions: Int, rocksDb: Boolean = false,
      checkpoint: Option[String] = None)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): StreamingQuery = {
    val confs = ("spark.sql.shuffle.partitions" -> partitions.toString) +:
      (if (rocksDb) Seq(ProviderKey -> RocksDbProvider, ChangelogKey -> "true")
       else Nil)
    val q = withConfs(spark, confs) {
      val w = sink(stream.writeStream).trigger(Trigger.AvailableNow())
      val q0 = checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
      q0.awaitTermination()
      q0
    }
    if (rocksDb)
      require(Option(q.lastProgress).exists(_.json.contains("rocksdb")),
        "RocksDB state store did not engage — the run would certify the " +
          "default HDFS-backed provider instead")
    record(tag, q)
    q
  }

  /** [[toCompletion]] into a memory sink under a fresh name, returning
    * `result` of the sink's table. The temp view is dropped once the
    * result frame is analyzed, so repeated runs leave nothing behind in
    * the session; the frame keeps the sink's rows reachable.
    */
  def toMemory(spark: SparkSession, tag: String, stream: => DataFrame,
      partitions: Int, outputMode: String, rocksDb: Boolean = false,
      checkpoint: Option[String] = None)(
      result: DataFrame => DataFrame): DataFrame = {
    val name = s"graft_${tag}_${runs.incrementAndGet()}"
    toCompletion(spark, tag, stream, partitions, rocksDb, checkpoint)(
      _.format("memory").queryName(name).outputMode(outputMode))
    try result(spark.table(name))
    finally spark.catalog.dropTempView(name)
  }

  /** A foreachBatch sink that hands each micro-batch to `body`. */
  def eachBatch(body: DataFrame => Unit)(
      w: DataStreamWriter[Row]): DataStreamWriter[Row] =
    w.foreachBatch((batch: Dataset[Row], _: Long) => body(batch.toDF()))

  private def record(tag: String, q: StreamingQuery): Unit = {
    val ps = q.recentProgress.toSeq
    val batches = ps.count(_.numInputRows >= 0)
    val rows = ps.map(_.numInputRows).sum
    val stateRows = ps.reverseIterator
      .flatMap(p => Option(p.stateOperators).toSeq.flatten)
      .map(_.numRowsTotal).toSeq.headOption
    lastProgress.put(tag,
      s"batches=$batches input_rows=$rows" +
        stateRows.map(r => s" state_rows_total=$r").getOrElse(""))
  }

  private def withConfs[T](spark: SparkSession,
      confs: Seq[(String, String)])(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
