package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver fixture tables (`TESTDATA.md` / `FIXTURES.md`).
  *
  * The reference reads its one table straight from file metadata with no
  * declared schema (`reader.cc:34-44`); we keep the same
  * schema-from-footer stance: plain `spark.read.parquet`, no explicit
  * schemas anywhere.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame = Tables.load(spark, dir, name)

  def region: DataFrame = t("region")
  def nation: DataFrame = t("nation")
  def customer: DataFrame = t("customer")
  def supplier: DataFrame = t("supplier")
  def part: DataFrame = t("part")
  def orders: DataFrame = t("orders")
  def lineitem: DataFrame = t("lineitem")
  /** `ts` normalized to session TimestampType whatever the fixture's
    * parquet encoding is this round — see [[Tables.withEventsTs]].
    */
  def events: DataFrame = Tables.withEventsTs(t("events"))
  def documents: DataFrame = t("documents")

  /** documents rebalanced for per-row-heavy expressions (regex
    * tokenization, md5, shingling) — the local fixture is one parquet
    * split, which would serialize that work onto one core.
    *
    * The fan-out is SIZE-derived (guide §2.2), not the raw session
    * parallelism: ~32 KiB of source parquet per task
    * ([[Tables.RebalanceTargetBytes]]), capped at the session's
    * shuffle partitions. A KB-scale fixture spread 32 ways measured
    * SLOWER than 8 ways at the same 32 cores (r14 scaling block, r15
    * q19 profile: the same md5+regex stage reported ~12 s of task CPU
    * at 32 concurrent string tasks vs ~2 s at 8 — allocation/bandwidth
    * contention, not compute; the 11-query text band swept 9.64 s at
    * 32-way / 8.56 s at ~9-way / 6.84 s at ~18-way), while at 100 TB
    * the derivation saturates the cap and this one linear shuffle is
    * noise next to the per-row work it parallelizes.
    */
  def documentsRebalanced: DataFrame = {
    val p = spark.sessionState.conf.numShufflePartitions
    val bytes = documents.queryExecution.optimizedPlan.stats.sizeInBytes
    val n = (bytes / Tables.RebalanceTargetBytes).min(BigInt(p)).max(BigInt(1)).toInt
    documents.repartition(n, org.apache.spark.sql.functions.col("doc_id"))
  }
  def embeddings: DataFrame = t("embeddings")
}

object Tables {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, expr}
  import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

  /** The one shared `ts` decode for the events timeline — batch
    * (`Tables.events`) and streaming (`StreamingEvents`) must use the
    * identical expression or their equivalence breaks. The driver
    * regenerates the fixtures between rounds and has shipped `ts` as
    * both parquet TIMESTAMP(NANOS) (a raw long under
    * `spark.sql.legacy.parquet.nanosAsLong`) and plain `timestamp[us]`
    * (read as TIMESTAMP_NTZ), so the decode branches on the arriving
    * type instead of hard-coding either era:
    *
    *  - `LongType` (epoch nanos): integer `div` (not `/`) — nanosecond
    *    epochs exceed 2^53 and double division would corrupt them;
    *    truncation to micros matches DuckDB's TIMESTAMP_NS → TIMESTAMP
    *    cast, keeping oracle parity.
    *  - `TimestampNTZType`: cast to TimestampType — value-preserving
    *    because the session timezone is pinned UTC
    *    (`EngineSession`), and keeps every downstream consumer
    *    (windows, watermarks, `unix_micros`) on the one type they were
    *    written against. Scan pruning survives the cast: a time-range
    *    filter on the decoded column reaches the parquet scan as
    *    `PushedFilters: [GreaterThanOrEqual(ts, …)]` (verified on this
    *    build — Catalyst unwraps the NTZ↔LTZ cast under the UTC
    *    session), so timeline queries keep row-group skipping at
    *    100 TB.
    *  - `TimestampType`: already the target type.
    */
  def eventsTs(dt: DataType): Column = dt match {
    case LongType         => expr("timestamp_micros(ts div 1000)")
    case TimestampNTZType => col("ts").cast(TimestampType)
    case TimestampType    => col("ts")
    case other => throw new IllegalArgumentException(
      s"events.ts arrived as $other; expected nanos long, timestamp_ntz, or timestamp")
  }

  /** [[eventsTs]] applied: `ts` replaced with its TimestampType form. */
  def withEventsTs(df: DataFrame): DataFrame =
    df.withColumn("ts", eventsTs(df.schema("ts").dataType))

  /** Epoch-micros form of `ts`, for consumers that fold on raw micro
    * longs (streaming SCD2/EWMA) — derived from the same decode so the
    * batch/stream equivalence rests on one expression.
    */
  def eventsTsMicros(dt: DataType): Column = dt match {
    case LongType => expr("ts div 1000")
    case _        => org.apache.spark.sql.functions.unix_micros(eventsTs(dt))
  }

  /** Source parquet bytes per task in [[Tables.documentsRebalanced]]. */
  val RebalanceTargetBytes = 32768L

  /** Source frame per (session, dir, table). `spark.read.parquet` pays
    * file listing + footer schema inference on every call — a fixed
    * per-query tax that dominated small benchmark queries (≈0.15 s × 46
    * queries in round 1). A DataFrame is an immutable plan over the
    * listing snapshot, so reuse within a session is sound.
    */
  private[graft] def load(spark: SparkSession, dir: String, name: String): DataFrame =
    Reuse.memo(spark, ("tables", dir, name))(spark.read.parquet(s"$dir/$name.parquet"))
}
