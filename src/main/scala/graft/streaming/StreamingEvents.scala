package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Structured Streaming slice (SURVEY §7.2 M4): the q24 tumbling-window
  * aggregation as a watermarked streaming query.
  *
  * The reference has no streaming (SURVEY §2.3); this is the declared
  * Tier C extension: event-time tumbling windows with a watermark bound
  * on state, which scales because state is partitioned by (window,
  * event_type) and expired by the watermark — no unbounded driver
  * state.
  */
object StreamingEvents {

  final case class UserAgg(user_id: Long, cnt: Long, sum_value: Double)

  /** The streaming form of q24_events_hourly. `ts` arrives as raw
    * nanosecond longs (see Tables.events) and is converted before the
    * watermark is applied.
    */
  def hourlyCounts(spark: SparkSession, dir: String): DataFrame = {
    // The file streaming source requires a directory; the fixture is a
    // single parquet file — stage a copy under scratch once.
    val events = StreamRun.feed(spark, stagedStreamSource(spark, dir))
    events
      .withColumn("ts", graft.Tables.eventsTs(events.schema("ts").dataType))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        date_format(col("win.start"), "yyyy-MM-dd HH:mm").as("w"),
        col("event_type"), col("cnt"),
      )
  }

  /** Custom-state surface (`mapGroupsWithState`): per-user running
    * aggregates maintained as explicit state. Over the bounded fixture
    * with AvailableNow the final state per user must equal the batch
    * groupBy — the deterministic equivalence StreamingSpec asserts.
    * State is partitioned by user and bounded by the key domain;
    * production use would add a timeout policy for key expiry.
    */
  def statefulUserCounts(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import spark.implicits._
    val events = StreamRun.feed(spark, stagedStreamSource(spark, dir))
      .select(col("user_id"), col("value"))
      .as[(Long, Double)]
    val counts = events
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[(Long, Double)]) =>
          val (pc, ps) = state.getOption.getOrElse((0L, 0.0))
          var c = pc
          var s = ps
          rows.foreach { r => c += 1; s += r._2 }
          state.update((c, s))
          UserAgg(user, c, s)
      }
    // Update-mode emits one row per key per batch; latest wins.
    StreamRun.toMemory(spark, "stream_user_counts", counts.toDF(),
        StreamRun.StatePartitions, "update")(
      _.groupBy("user_id")
        .agg(org.apache.spark.sql.functions.max(struct(col("cnt"), col("sum_value"))).as("m"))
        .select(col("user_id"), col("m.cnt").as("cnt"),
          org.apache.spark.sql.functions.round(col("m.sum_value"), 6).as("sum_value"))
        .orderBy("user_id"))
  }

  /** Streaming sessionization: the q49 semantics as a watermarked
    * `session_window` streaming aggregation — Spark merges events into
    * sessions while the gap stays under 30 minutes, state is
    * partitioned by (user, session window) and expired by the
    * watermark. Over the bounded fixture with AvailableNow the result
    * must equal the batch `session_window` groupBy — asserted in
    * StreamingSpec.
    */
  def sessionCounts(spark: SparkSession, dir: String): DataFrame = {
    val events = StreamRun.feed(spark, stagedStreamSource(spark, dir))
    events
      .withColumn("ts", graft.Tables.eventsTs(events.schema("ts").dataType))
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("win"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("win.start"), "yyyy-MM-dd HH:mm:ss").as("w"),
        col("n_events"))
  }

  /** Run [[sessionCounts]] to completion over the bounded fixture. */
  def runSessionsToCompletion(spark: SparkSession, dir: String): DataFrame =
    StreamRun.toMemory(spark, "stream_sessions", sessionCounts(spark, dir),
      StreamRun.StatePartitions, "complete")(_.orderBy("user_id", "w"))

  /** Stream-stream interval join: the q50 semantics with BOTH sides
    * streaming — probe events (event_id % 10 = 0) joined to same-user
    * follower events within the next hour. Watermarks on both sides
    * plus the time-range join condition let Spark bound the buffered
    * state (each side keeps ≤ watermark + 1h of events per user);
    * this is the canonical stream-stream join the Structured
    * Streaming surface must cover. StreamingSpec asserts the
    * AvailableNow run equals the batch interval join.
    */
  def streamStreamIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val src = stagedStreamSource(spark, dir)
    def stream() = {
      val events = StreamRun.feed(spark, src)
      events.withColumn("ts", graft.Tables.eventsTs(events.schema("ts").dataType))
    }
    val probes = stream()
      .filter(col("event_id") % 10 === 0)
      .select(col("user_id").as("pu"), col("event_id").as("pid"),
        col("ts").as("pt"))
      .withWatermark("pt", "2 hours")
    val followers = stream()
      .select(col("user_id").as("fu"), col("event_id").as("fid"),
        col("ts").as("ft"))
      .withWatermark("ft", "2 hours")
    probes.join(followers,
      col("pu") === col("fu") &&
        col("ft") > col("pt") &&
        col("ft") <= col("pt") + expr("INTERVAL 1 HOUR"))
      .select(col("pu").as("user_id"), col("pid"), col("fid"))
  }

  /** Run [[streamStreamIntervalJoin]] to completion over the bounded
    * fixture.
    */
  def runStreamJoinToCompletion(spark: SparkSession, dir: String): DataFrame =
    StreamRun.toMemory(spark, "stream_interval_join",
      streamStreamIntervalJoin(spark, dir), StreamRun.JoinStatePartitions,
      "append")(_.orderBy("user_id", "pid", "fid"))

  /** Stream-STREAM interval join under the differential gate (q212):
    * q181/q184/q207 proved stream-static joins and three aggregation
    * state shapes; this is the fourth state family — BOTH sides are
    * streams, and the join buffers each side's rows until the other
    * side's watermark passes the range bound. Over the 4-file
    * time-quartile feed a probe near a quartile's end must meet
    * followers that arrive only in the NEXT micro-batch, so the
    * cross-batch buffered state is exercised by construction; because
    * the feed is time-ordered, watermark eviction (25 h delay vs the
    * 24 h join window) provably never drops a pending match — an inner
    * stream-stream join emits eagerly and the oracle recomputes every
    * pair from scratch, so lost buffer state or premature eviction
    * breaks the hash.
    */
  def streamStreamFeedJoin(spark: SparkSession, dir: String): DataFrame = {
    // 24 h window (vs q50's 1 h): wide enough that time-quartile
    // boundaries split real pairs - 6 cross-batch pairs at sf0.001,
    // 106 at sf0.01 - so the buffered-state path is provably exercised.
    // ONE source feeds both join sides (r15 optimization round): the
    // two sides consume the same feed, and two file-stream relations
    // over it doubled the per-micro-batch source machinery
    // (latestOffset/getBatch/offset-log entries) for identical data.
    // One relation referenced twice keeps batch composition identical
    // (same file per trigger on both sides) and the result set is
    // unchanged — the oracle recomputes every pair from scratch.
    val raw = StreamRun.feed(spark, stagedTimeOrderedFeed(spark, dir))
    val events = raw
      .withColumn("ts", graft.Tables.eventsTs(raw.schema("ts").dataType))
    val probes = events
      .filter(col("user_id") < 50 && col("event_id") % 10 === 0)
      .select(col("user_id").as("pu"), col("event_id").as("pid"),
        col("ts").as("pt"))
      .withWatermark("pt", "25 hours")
    val followers = events
      .filter(col("user_id") < 50) // join state is per-key: bound it
      .select(col("user_id").as("fu"), col("event_id").as("fid"),
        col("ts").as("ft"))
      .withWatermark("ft", "25 hours")
    probes.join(followers,
      col("pu") === col("fu") &&
        col("ft") > col("pt") &&
        col("ft") <= col("pt") + expr("INTERVAL 24 HOURS"))
      .select(col("pu").as("user_id"), col("pid"), col("fid"))
  }

  /** Run [[streamStreamFeedJoin]] to completion (append — inner
    * stream-stream joins emit matches eagerly). Fresh sink name per
    * invocation: oracled entry, re-run by bench.
    */
  def runStreamFeedJoinToCompletion(spark: SparkSession, dir: String,
      rocksDb: Boolean = false): DataFrame =
    // four state stores per partition per batch: see
    // [[StreamRun.JoinStatePartitions]]
    StreamRun.toMemory(spark,
        if (rocksDb) "q326_stream_join_rocksdb" else "q212_stream_stream_join",
        streamStreamFeedJoin(spark, dir), StreamRun.JoinStatePartitions, "append",
        rocksDb)(_.orderBy("user_id", "pid", "fid"))

  final case class UserAggExact(user_id: Long, cnt: Long, sum_micros: Long)

  /** `mapGroupsWithState` under the differential gate (q215) — the
    * fifth streaming state family to execute inside the oracle, and
    * the first EXPLICIT-state one (q181/q184/q207/q212 all use
    * built-in state): per-user running (count, scaled sum) maintained
    * by user code across the 4-file feed's micro-batches. The state
    * carries the value sum as MICROS-SCALED LONGS (half-away-from-zero
    * per row, matching both engines' ROUND), so the fold is exact and
    * order-free — a double accumulator would make the result depend on
    * batch arrival order and be unoracleable. Update-mode emissions
    * are reduced to the final state per key (monotone count ⇒ struct
    * max); the oracle recomputes from scratch, so lost or re-applied
    * state at any batch boundary breaks the hash.
    */
  def exactUserState(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import spark.implicits._
    val events = StreamRun.feed(spark, stagedTimeOrderedFeed(spark, dir))
      .select(col("user_id"), col("value"))
      .as[(Long, Double)]
    events.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)],
            state: GroupState[(Long, Long)]) =>
          var (c, s) = state.getOption.getOrElse((0L, 0L))
          rows.foreach { r =>
            c += 1
            s += StreamingEvents.halfAwayMicros(r._2)
          }
          state.update((c, s))
          UserAggExact(user, c, s)
      }.toDF()
  }

  /** Half-away-from-zero micro-scaling — the SQL ROUND(x·1e6, 0)
    * semantic both engines implement (math.rint would be half-even).
    */
  def halfAwayMicros(v: Double): Long = {
    val x = v * 1000000.0
    (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toLong
  }

  /** Run [[exactUserState]] to completion (update mode; latest state
    * per key wins via monotone-count struct max).
    */
  def runExactUserStateToCompletion(spark: SparkSession, dir: String,
      rocksDb: Boolean = false): DataFrame =
    StreamRun.toMemory(spark,
        if (rocksDb) "q327_stream_user_state_rocksdb" else "q215_stream_user_state",
        exactUserState(spark, dir), StreamRun.StatePartitions, "update", rocksDb)(
      _.groupBy("user_id")
        .agg(max(struct(col("cnt"), col("sum_micros"))).as("m"))
        .select(col("user_id"), col("m.cnt").as("cnt"),
          (round(col("m.sum_micros").cast("double") / lit(1000000.0), 6)
            + lit(0.0)).as("sum_v"))
        .orderBy("user_id"))

  final case class TwsProfile(user_id: Long, cnt: Long, sum_micros: Long,
      n_types: Long, top_type: String, top_cnt: Long)

  /** `transformWithState` processor (q341) — Spark 4's arbitrary-state
    * API executed under the differential gate: the NINTH streaming
    * state family, and the first with MULTIPLE named state variables
    * per key. Per user it maintains
    *   - a `ValueState[(Long, Long)]` "agg": exact (count,
    *     micros-scaled sum) — q215's integer fold, so the two APIs'
    *     results are directly comparable, and
    *   - a `MapState[String, Long]` "types": per-event-type counts,
    *     read back each batch to derive the distinct-type count and
    *     the arg-max type (ties broken lexicographically — a total
    *     order, so batch arrival order can't change the answer).
    * Each state variable is a separate RocksDB column family — the
    * engine surface none of q181–q328 touch. State reads/writes cross
    * the encoder + column-family round-trip every micro-batch; the
    * from-scratch oracle recomputes all five outputs per user, so a
    * value lost, re-applied, or read from the wrong family breaks the
    * hash.
    */
  private[streaming] class UserProfileProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Double, String), TwsProfile] {
    import org.apache.spark.sql.streaming.{MapState, TTLConfig, TimeMode,
      TimerValues, ValueState}
    import org.apache.spark.sql.{Encoders, streaming => st}
    @transient private var agg: ValueState[(Long, Long)] = _
    @transient private var types: MapState[String, Long] = _
    override def init(outputMode: st.OutputMode, timeMode: TimeMode): Unit = {
      agg = getHandle.getValueState[(Long, Long)](
        "agg", Encoders.product[(Long, Long)], TTLConfig.NONE)
      types = getHandle.getMapState[String, Long](
        "types", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(user: Long,
        rows: Iterator[(Long, Double, String)],
        timers: TimerValues): Iterator[TwsProfile] = {
      var (c, s) = if (agg.exists()) agg.get() else (0L, 0L)
      rows.foreach { r =>
        c += 1
        s += StreamingEvents.halfAwayMicros(r._2)
        val prev = if (types.containsKey(r._3)) types.getValue(r._3) else 0L
        types.updateValue(r._3, prev + 1L)
      }
      agg.update((c, s))
      // re-read the map THROUGH the state store (not a shadow copy):
      // the point is certifying the column-family round-trip
      var n = 0L
      var topT: String = null
      var topC = 0L
      types.iterator().foreach { case (t, tc) =>
        n += 1
        if (tc > topC || (tc == topC && (topT == null || t < topT))) {
          topT = t; topC = tc
        }
      }
      Iterator.single(TwsProfile(user, c, s, n, topT, topC))
    }
  }

  /** Run the q341 `transformWithState` profile to completion over the
    * 4-file time-ordered feed. `transformWithState` REQUIRES the
    * RocksDB provider (named state variables map to RocksDB column
    * families; the HDFS-backed provider has no multi-family support),
    * so this query certifies RocksDB by construction — fail-loud
    * engage check kept anyway. Update-mode emissions are one row per
    * touched key per batch with a strictly increasing `cnt`; the final
    * state per key is recovered with a struct max on `cnt` (the q215
    * reduction), and only then scaled back to the 6-dp decimal the
    * oracle prints.
    */
  def runTwsProfileToCompletion(spark: SparkSession, dir: String,
      ckpt: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import spark.implicits._
    val path = stagedTimeOrderedFeed(spark, dir)
    def profiles = StreamRun.feed(spark, path)
      .select(col("user_id"), col("value"), col("event_type"))
      .as[(Long, Double, String)]
      .groupByKey(_._1)
      .transformWithState(new UserProfileProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF()
    StreamRun.toMemory(spark, "q341_stream_tws_profile", profiles,
        StreamRun.StatePartitions, "update", rocksDb = true, checkpoint = ckpt)(
      _.groupBy("user_id")
        .agg(max(struct(col("cnt"), col("sum_micros"), col("n_types"),
          col("top_type"), col("top_cnt"))).as("m"))
        .select(col("user_id"), col("m.cnt").as("cnt"),
          (round(col("m.sum_micros").cast("double") / lit(1000000.0), 6)
            + lit(0.0)).as("sum_v"),
          col("m.n_types").as("n_types"), col("m.top_type").as("top_type"),
          col("m.top_cnt").as("top_cnt"))
        .orderBy("user_id"))
  }

  final case class TwsSession(user_id: Long, start_us: Long, end_us: Long,
      n_events: Long)

  /** `transformWithState` EVENT-TIME TIMERS (q342) — the remaining
    * arbitrary-state API surface q341 doesn't touch: `registerTimer` /
    * `deleteTimer` / `handleExpiredTimer` under `TimeMode.EventTime`.
    * Per user it runs exact gap-sessionization (q49's 30-minute gap):
    * batch rows are sorted and folded against the open session carried
    * in a `ValueState`; a session closed by a later-than-gap event is
    * emitted from `handleInputRows`, and the open session's close
    * timer is re-armed at (end + gap) — so a session whose user goes
    * quiet is closed by the WATERMARK, emitted from
    * `handleExpiredTimer` when the event-time timer fires.
    *
    * Determinism argument (why this is oracle-able): the 4-file feed
    * is globally time-ordered ACROSS batches (quartile files), so (a)
    * no row is ever below the watermark, and (b) a timer eligible to
    * fire in batch k and a same-user row arriving in batch k cannot
    * both be within the gap — `ts > wm > end + gap` — so
    * rows-then-timers vs timers-then-rows processing orders emit the
    * SAME session set. Every non-final session is emitted exactly once
    * (event-close or timer-close, identical content either way); the
    * final session of a user is emitted iff its timer fired, i.e.
    * (end_ms + gap_ms) < final watermark. The oracle replays exactly
    * that: full gap-sessionization, all sessions but the last per
    * user, plus the last when the strict-< timer condition holds
    * against the ms-floored final watermark.
    */
  private[streaming] class SessionTimerProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, java.sql.Timestamp, Long), TwsSession] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TTLConfig,
      TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.{Encoders, streaming => st}
    import StreamingEvents.{SessionGapUs, SessionGapMs}
    @transient private var open: ValueState[(Long, Long, Long)] = _
    override def init(outputMode: st.OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[(Long, Long, Long)](
        "open", Encoders.product[(Long, Long, Long)], TTLConfig.NONE)
    override def handleInputRows(user: Long,
        rows: Iterator[(Long, java.sql.Timestamp, Long)],
        timers: TimerValues): Iterator[TwsSession] = {
      val ts = rows.map(_._3).toArray
      java.util.Arrays.sort(ts)
      val closed = scala.collection.mutable.ArrayBuffer.empty[TwsSession]
      var cur = if (open.exists()) Some(open.get()) else None
      val hadTimer = cur.map(c => c._2 / 1000L + SessionGapMs)
      ts.foreach { t =>
        cur match {
          case Some((s0, e0, n0)) if t - e0 <= SessionGapUs =>
            cur = Some((s0, math.max(e0, t), n0 + 1))
          case Some((s0, e0, n0)) =>
            closed += TwsSession(user, s0, e0, n0)
            cur = Some((t, t, 1L))
          case None =>
            cur = Some((t, t, 1L))
        }
      }
      cur.foreach { case (s0, e0, n0) =>
        open.update((s0, e0, n0))
        val newTimer = e0 / 1000L + SessionGapMs
        hadTimer.filter(_ != newTimer).foreach(getHandle.deleteTimer)
        if (hadTimer.forall(_ != newTimer)) getHandle.registerTimer(newTimer)
      }
      closed.iterator
    }
    override def handleExpiredTimer(user: Long, timers: TimerValues,
        info: ExpiredTimerInfo): Iterator[TwsSession] = {
      // The re-arm path deletes stale timers, but the engine may have
      // collected this batch's expired set BEFORE handleInputRows ran
      // (rows-then-timers with a pre-scan) — so a timer this batch's
      // rows superseded can still fire here. Only a timer that matches
      // the OPEN session's close time closes it; anything else is
      // stale and ignored.
      if (!open.exists()) Iterator.empty
      else {
        val (s0, e0, n0) = open.get()
        if (info.getExpiryTimeInMs() != e0 / 1000L + SessionGapMs)
          Iterator.empty
        else {
          open.clear()
          Iterator.single(TwsSession(user, s0, e0, n0))
        }
      }
    }
  }

  /** 30-minute session gap (q49's constant), µs and ms forms. */
  val SessionGapUs: Long = 1800000000L
  val SessionGapMs: Long = 1800000L

  /** Run the q342 timer-closed sessionization to completion. Event-time
    * timers require `TimeMode.EventTime`, which requires a watermark —
    * the `ts` column rides along in the tuple solely to carry the
    * watermark attribute to the operator; the fold itself uses exact
    * integer µs. Emissions are sessions (not state snapshots), each
    * exactly once, so the sink needs no reduction.
    */
  def runTwsSessionsToCompletion(spark: SparkSession, dir: String,
      ckpt: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import spark.implicits._
    val path = stagedTimeOrderedFeed(spark, dir)
    def sessions = {
      val raw = StreamRun.feed(spark, path)
      raw.withColumn("ts", graft.Tables.eventsTs(raw.schema("ts").dataType))
        .withWatermark("ts", "90 minutes")
        .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("tu"))
        .as[(Long, java.sql.Timestamp, Long)]
        .groupByKey(_._1)
        .transformWithState(new SessionTimerProcessor,
          TimeMode.EventTime(), OutputMode.Append())
        .toDF()
    }
    StreamRun.toMemory(spark, "q342_stream_tws_timers", sessions,
        StreamRun.StatePartitions, "append", rocksDb = true, checkpoint = ckpt)(
      _.orderBy("user_id", "start_us"))
  }

  /** Offline inspection of a `transformWithState` MAP state variable
    * (q344): re-run the q341 profile against a RETAINED checkpoint,
    * then read the "types" MapState back through the `statestore`
    * batch source (`stateVarName` selects the RocksDB column family;
    * `flattenCollectionTypes` default flattens one row per map entry).
    * The per-(user, event_type) counts read FROM THE STORE must equal
    * the from-scratch oracle — this certifies that what the processor
    * left behind in each column family is exactly the data, reachable
    * without replaying the stream (the 100 TB debugging path).
    */
  def runTwsMapStateRead(spark: SparkSession, dir: String): DataFrame = {
    val root = s"${graft.sources.Staging.stagingRoot()}/graft_twsread/" +
      s"run_${java.util.UUID.randomUUID().toString.take(8)}"
    graft.sources.Staging.deleteOnExit(root)
    runTwsProfileToCompletion(spark, dir, Some(s"$root/ckpt"))
    spark.read.format("statestore")
      .option("path", s"$root/ckpt")
      .option("stateVarName", "types").load()
      .select(col("key.value").as("user_id"),
        col("user_map_key.value").as("event_type"),
        col("user_map_value.value").as("c"))
      .orderBy("user_id", "event_type")
  }

  /** Offline inspection of REGISTERED TIMERS (q345): re-run the q342
    * timer sessionization against a retained checkpoint, then read the
    * surviving event-time timers back (`readRegisteredTimers`). A
    * timer survives the run iff its user's final session was NOT
    * watermark-closed — so the timer table must be EXACTLY the q342
    * suppressed set, with each expiry at (final event ms + 30 min).
    * Fired timers are consumed by the engine; a stale or lost timer
    * row breaks the hash in either direction.
    */
  def runTwsTimerStateRead(spark: SparkSession, dir: String): DataFrame = {
    val root = s"${graft.sources.Staging.stagingRoot()}/graft_twstimerread/" +
      s"run_${java.util.UUID.randomUUID().toString.take(8)}"
    graft.sources.Staging.deleteOnExit(root)
    runTwsSessionsToCompletion(spark, dir, Some(s"$root/ckpt"))
    spark.read.format("statestore")
      .option("path", s"$root/ckpt")
      .option("readRegisteredTimers", "true").load()
      .select(col("key.value").as("user_id"),
        col("expiration_timestamp_ms").as("expiry_ms"))
      .orderBy("user_id")
  }

  /** Offline STATE-STORE INSPECTION (q343) — Spark 4's `statestore`
    * batch data source: run a complete-mode streaming aggregation over
    * the 4-file feed with a RETAINED checkpoint, then read the
    * operator's state back as a batch DataFrame — `format("statestore")
    * .option("path", ckpt)` — and certify the STATE, not the sink,
    * against the from-scratch oracle. This is the operational surface
    * a production team debugging a 100 TB stateful job needs (what is
    * actually IN the store after batch k?), and it is distributed by
    * construction: the source plans one task per state partition, so
    * inspection scales with the store, never through the driver.
    * Column names inside the state value struct are engine-internal —
    * the projection goes by POSITION (the agg buffer layout mirrors
    * the aggregate list), then re-names; a drift in that layout breaks
    * the hash loudly rather than silently.
    */
  /** Run the q343/q346 per-user profile aggregation to completion
    * against a fresh retained checkpoint; returns the checkpoint path.
    * The checkpoint must OUTLIVE the (lazy) state-read DataFrames — the
    * state files are their scan input — so scratch is reclaimed at JVM
    * exit, not here.
    */
  private def runAggToRetainedCheckpoint(spark: SparkSession, dir: String,
      tag: String): String = {
    val events = StreamRun.feed(spark, stagedTimeOrderedFeed(spark, dir))
    val root = s"${graft.sources.Staging.stagingRoot()}/graft_stateread/" +
      s"run_${java.util.UUID.randomUUID().toString.take(8)}"
    graft.sources.Staging.deleteOnExit(root)
    val counts = events
      .withColumn("tu", graft.Tables.eventsTsMicros(events.schema("ts").dataType))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("cnt"),
        sum(round(col("value") * lit(1000000.0), 0).cast("long"))
          .as("sum_micros"),
        min(col("tu")).as("min_tu"), max(col("tu")).as("max_tu"))
    StreamRun.toMemory(spark, tag, counts, StreamRun.StatePartitions, "complete",
      checkpoint = Some(s"$root/ckpt"))(identity)
    s"$root/ckpt"
  }

  /** Flatten a statestore read of the profile aggregation: positional
    * agg-buffer projection (see [[runStateReadToCompletion]]), then the
    * 6-dp decimal readout the oracle prints.
    */
  private def profileStateFrame(state: DataFrame): DataFrame =
    state.select(col("key.*"), col("value.*"))
      .toDF("user_id", "cnt", "sum_micros", "min_tu", "max_tu")
      .select(col("user_id"), col("cnt"),
        (round(col("sum_micros").cast("double") / 1000000.0, 6) + lit(0.0))
          .as("sum_v"),
        col("min_tu"), col("max_tu"))
      .orderBy("user_id")

  def runStateReadToCompletion(spark: SparkSession, dir: String): DataFrame = {
    val ckpt = runAggToRetainedCheckpoint(spark, dir, "q343_stream_state_read")
    profileStateFrame(
      spark.read.format("statestore").option("path", ckpt).load())
  }

  /** State TIME TRAVEL (q346): the same retained checkpoint read at
    * `batchId = 1` — the store's content AFTER THE SECOND of the four
    * quartile micro-batches, i.e. the aggregation over exactly the
    * first two time-quartiles of the feed. The quartile boundaries are
    * integer arithmetic on the global (min, max) event micros
    * (`stagedTimeOrderedFeed`), so the oracle replays the batch-1
    * frontier from scratch: `tu < mn + (span*2)/4`. This is the
    * production post-mortem question — "what did the state look like
    * at batch k?" — answered without replaying the stream, from
    * retained snapshots alone (HDFS-backed provider,
    * `minBatchesToRetain` default keeps all four versions).
    */
  def runStateTimeTravelRead(spark: SparkSession, dir: String): DataFrame = {
    val ckpt = runAggToRetainedCheckpoint(spark, dir, "q346_stream_state_travel")
    profileStateFrame(
      spark.read.format("statestore").option("path", ckpt)
        .option("batchId", "1").load())
  }

  /** Checkpoint RESTART under the differential gate (q227) — the
    * operational property every production stream depends on and none
    * of q181–q215 exercise: a stream is run to completion over the
    * first half of the feed, STOPPED, and a SECOND stream (new query,
    * same checkpoint) resumes after more files arrive. The file
    * source's checkpoint must replay nothing and skip nothing — a
    * re-processed file doubles counts, a missed one drops them, and
    * either breaks the hash against the from-scratch batch oracle.
    * Sink appends happen inside foreachBatch (the q188 pattern);
    * per-run UUID root so bench re-runs never resume a finished
    * checkpoint.
    */
  def runRestartIngestToCompletion(spark: SparkSession, dir: String): DataFrame = {
    val src = stagedTimeOrderedFeed(spark, dir)
    val root = s"${graft.sources.Staging.stagingRoot()}/graft_restart/" +
      s"run_${java.util.UUID.randomUUID().toString.take(8)}"
    // per-run scratch is fully consumed within this JVM — reclaim at
    // exit so repeated bench/verify runs don't grow without bound
    // (the fingerprint-keyed staged dirs, by contrast, are reused).
    graft.sources.Staging.deleteOnExit(root)
    val input = s"$root/feed"
    val sink = s"$root/sink"
    def copyIn(k: Int): Unit =
      graft.sources.Staging.copyInto(f"$src/quartile_$k%02d.parquet", input,
        f"quartile_$k%02d.parquet")
    copyIn(0); copyIn(1)
    // one source frame for both lives: each start lists the directory anew
    val stream = StreamRun.feed(spark, input)
    def phase(): Unit =
      StreamRun.toCompletion(spark, "q227_stream_restart", stream,
          StreamRun.StatePartitions, checkpoint = Some(s"$root/ckpt"))(
        StreamRun.eachBatch(_.select(col("event_id"), col("event_type"), col("value"))
          .write.mode("append").parquet(sink)))
    phase() // first life of the pipeline: two quartiles
    copyIn(2); copyIn(3)
    phase() // restart: the checkpoint must admit exactly the new files
    spark.read.parquet(sink)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        (round(sum(round(col("value") * lit(1000000.0), 0).cast("long"))
          .cast("double") / lit(1000000.0), 6) + lit(0.0)).as("sum_v"))
      .orderBy("event_type")
  }

  /** flatMapGroupsWithState: the q78 threshold-crossing alert emitter
    * as explicit streaming state emitting 0..n rows per group per
    * batch — the variable-output sibling of mapGroupsWithState. State
    * = the running per-user total; rows are folded in event_id order
    * inside each batch so the cumulative doubles match the batch
    * window fold bit-for-bit (single AvailableNow batch over the
    * bounded fixture).
    */
  def thresholdAlerts(spark: SparkSession, dir: String,
      step: Double = 100.0): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    // integer-cents fold, mirroring the batch q78 exactly (the q14
    // DECIMAL(18,2) money cast, then a Long state) — a double state
    // would desync from the batch's exact windowed sum at a floor
    // boundary (the sf1 divergence that forced the integer form)
    val stepCents = math.round(step * 100)
    val events = StreamRun.feed(spark, stagedStreamSource(spark, dir))
      .select(col("user_id"), col("event_id"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))
          * lit(100)).cast(org.apache.spark.sql.types.LongType).as("c"))
      .as[(Long, Long, Long)]
    val alerts = events
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long)],
            state: GroupState[Long]) =>
          var cum = state.getOption.getOrElse(0L)
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
          rows.toSeq.sortBy(_._2).foreach { case (_, eventId, cents) =>
            val before = cum / stepCents
            cum += cents
            val after = cum / stepCents
            if (after > before) out += ((user, eventId, after))
          }
          state.update(cum)
          out.iterator
      }
    StreamRun.toMemory(spark, "stream_threshold_alerts",
        alerts.toDF("user_id", "event_id", "level"), StreamRun.StatePartitions, "append")(
      _.orderBy("user_id", "event_id"))
  }

  /** Streaming SCD2 (the q108 semantics as streaming CDC): explicit
    * per-user state = the OPEN interval (current value, valid_from);
    * a state-changing event emits the now-CLOSED interval and rolls
    * the state — closed history flows to the sink, the open interval
    * lives in the state store, which is exactly the streaming-CDC
    * contract (the open row cannot be emitted in append mode because
    * its valid_to is still unknown). Events fold in (ts, event_id)
    * order inside the batch (single AvailableNow batch over the
    * bounded fixture, like [[thresholdAlerts]]). Batch ≡ stream: the
    * emitted set must equal batch q108's closed rows — asserted in
    * `StreamingSpec`.
    */
  def scd2ClosedIntervals(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val raw = StreamRun.feed(spark, stagedStreamSource(spark, dir))
    val events = raw
      .select(col("user_id"),
        graft.Tables.eventsTsMicros(raw.schema("ts").dataType).as("tus"),
        col("event_id"), floor(col("value")).cast("long").as("v"))
      .as[(Long, Long, Long, Long)]
    val closed = events
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long, Long)],
            state: GroupState[(Long, Long)]) => // (v, valid_from_us)
          var cur = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, tus, _, v) =>
            cur match {
              case None => cur = Some((v, tus))
              case Some((pv, pf)) if v != pv =>
                out += ((user, pf, tus, pv))
                cur = Some((v, tus))
              case _ => () // no-change event: interval stays open
            }
          }
          cur.foreach(state.update)
          out.iterator
      }
    closed.toDF("user_id", "valid_from", "valid_to", "v")
  }

  /** Run [[scd2ClosedIntervals]] to completion over the bounded fixture. */
  def runScd2ToCompletion(spark: SparkSession, dir: String): DataFrame =
    StreamRun.toMemory(spark, "stream_scd2", scd2ClosedIntervals(spark, dir),
      StreamRun.StatePartitions, "append")(_.orderBy("user_id", "valid_from"))

  /** Streaming EWMA twin: q114's per-user smoothing as the literal
    * recurrence sᵢ = α·vᵢ + (1-α)·sᵢ₋₁ over (ewma, n) keyed state —
    * the stateful form whose algebraic closure IS the batch closed
    * form (one weighted window sum), so their agreement certifies
    * both: the stream that the recurrence is implemented right, the
    * batch that the closed form is the right closure. State is two
    * numbers per user — constant, never watermark-dependent.
    */
  def ewmaStates(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import spark.implicits._
    val alpha = graft.operators.Ewma.Alpha
    val events = StreamRun.feed(spark, stagedStreamSource(spark, dir))
    events
      .select(col("user_id"),
        graft.Tables.eventsTsMicros(events.schema("ts").dataType).as("tus"),
        col("event_id"), col("value"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long, Double)],
            state: org.apache.spark.sql.streaming.GroupState[(Double, Long)]) =>
          var (s, n) = state.getOption.getOrElse((0.0, 0L))
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, _, _, v) =>
            s = if (n == 0L) v else alpha * v + (1 - alpha) * s
            n += 1
          }
          state.update((s, n))
          (user, n, s)
      }
      .toDF("user_id", "n_events", "ewma")
  }

  /** Run [[ewmaStates]] to completion; in update mode each trigger
    * re-emits touched users, so the final state per user is the row
    * with the largest n_events (n is monotone in events consumed).
    */
  def runEwmaToCompletion(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_events").desc)
    StreamRun.toMemory(spark, "stream_ewma", ewmaStates(spark, dir),
        StreamRun.StatePartitions, "update")(
      _.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select("user_id", "n_events", "ewma").orderBy("user_id"))
  }

  /** Streaming exactly-once dedup: the q71 semantics with the doubled
    * (at-least-once) feed streaming through
    * `dropDuplicatesWithinWatermark` — state holds one row per
    * event_id and is expired by the watermark, which is what bounds
    * dedup state on an unbounded stream. Emitted in append mode; the
    * equivalence spec aggregates the deduplicated rows and compares
    * against batch q71.
    */
  def dedupedStream(spark: SparkSession, dir: String): DataFrame = {
    val src = stagedStreamSource(spark, dir)
    def stream() = {
      val events = StreamRun.feed(spark, src)
      events.withColumn("ts", graft.Tables.eventsTs(events.schema("ts").dataType))
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    }
    stream().unionAll(stream())
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
  }

  /** Run [[dedupedStream]] to completion over the bounded fixture. */
  def runDedupToCompletion(spark: SparkSession, dir: String): DataFrame =
    StreamRun.toMemory(spark, "stream_dedup", dedupedStream(spark, dir),
      StreamRun.StatePartitions, "append")(identity)

  /** Streaming IVM twin: q129's delta-merge as a stateful foreachBatch
    * sink — the production form of incremental view maintenance, where
    * the CDC feed arrives in micro-batches and each batch's
    * group-sized delta merges into the maintained rollup WITHOUT
    * rescanning the base table.
    *
    * Mechanics: the signed change feed ([[graft.operators.Ivm.changeRows]])
    * is staged as a 4-file directory and streamed with
    * `maxFilesPerTrigger = 1`, so AvailableNow really exercises
    * MULTIPLE incremental merges (a single batch would degenerate to
    * batch q129). Each batch aggregates its own delta in Spark
    * (map-side combined, group-sized output) and foreachBatch merges
    * it into the maintained view; the view is held group-sized on the
    * driver — the stand-in for what production writes with MERGE INTO
    * a transactional sink table, same state class as the rollup
    * itself. Zero-count groups vanish on merge exactly as in batch
    * [[graft.operators.Ivm.maintain]].
    *
    * Batch ≡ stream (StreamingSpec): after all batches the maintained
    * view equals batch q129 — which the correctness gate already
    * proves equal to a from-scratch recompute, closing the chain
    * stream ≡ batch-IVM ≡ recompute.
    */
  def ivmMaintainedRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = graft.Tables(spark, dir).orders
    val feedDir = graft.sources.Staging.fingerprintPath(
      "graft_ivm_feed", dir, "orders.parquet", "changes4")
    graft.sources.Staging.ensureStaged(feedDir) {
      graft.operators.Ivm.changeRows(orders,
          graft.operators.TableDiff.driftedOrders(orders))
        .repartition(4)
        .write.mode("overwrite").parquet(feedDir)
    }
    // the materialized base view, held group-sized: month -> (cnt, total)
    val state = scala.collection.mutable.Map.empty[String, (Long, java.math.BigDecimal)]
    graft.operators.Ivm.orderRollup(orders)
      .select(col("month"), col("cnt"), col("total"))
      // model-sized: ≤n_months rows — the grouped base view
      .as[(String, Long, java.math.BigDecimal)].collect()
      .foreach { case (m, c, t) => state(m) = (c, t) }

    // keeps the session's partition count: no state-sized scope
    StreamRun.toCompletion(spark, "stream_ivm_rollup", StreamRun.feed(spark, feedDir),
        spark.sessionState.conf.numShufflePartitions)(StreamRun.eachBatch { batch =>
        // the batch-local delta is a Spark aggregate (map-side
        // combined); only the group-sized result reaches the driver
        val delta = batch.groupBy("month")
          .agg(sum("dc").as("dc"), sum("dv").as("dv"))
          .select(col("month"), col("dc"), col("dv"))
          // model-sized: ≤n_months rows — the per-batch grouped delta
          .collect()
        delta.foreach { r =>
          val m = r.getString(0)
          val dc = r.getLong(1)
          val dv = Option(r.getDecimal(2)).getOrElse(java.math.BigDecimal.ZERO)
          val (c0, t0) = state.getOrElse(m, (0L, new java.math.BigDecimal("0.00")))
          val c1 = c0 + dc
          if (c1 > 0) state(m) = (c1, t0.add(dv)) else state.remove(m)
        }
      })
    state.toSeq.map { case (m, (c, t)) => (m, c, t.doubleValue()) }
      .toDF("month", "cnt", "total")
      .orderBy("month")
  }

  /** Session windows under the differential gate (q207) — the third
    * stateful streaming shape to execute inside the oracle, after
    * q181's append-mode dedup state and q184's complete-mode grouped
    * sums: SESSION state, which (unlike both) MERGES entries across
    * micro-batches — a user's session opened in batch 1 must absorb
    * its batch-3 events and extend its window. Events arrive as a
    * bounded 4-file, TIME-QUARTILE feed (maxFilesPerTrigger=1): the
    * quartile files are staged with ascending mtimes, and the file
    * source processes oldest-first, so the watermark only advances and
    * never drops a later file's rows — but any session-merge bug at a
    * micro-batch boundary (a quartile boundary splits sessions mid-
    * gap by construction) breaks the hash against the from-scratch
    * gaps-and-islands oracle.
    */
  def sessionFeedCounts(spark: SparkSession, dir: String): DataFrame = {
    val events = StreamRun.feed(spark, stagedTimeOrderedFeed(spark, dir))
    events
      .withColumn("ts", graft.Tables.eventsTs(events.schema("ts").dataType))
      .filter(col("user_id") < 20)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("win"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("win.start")).as("w_start"),
        round(((unix_micros(col("win.end")) - unix_micros(col("win.start"))
          - lit(1800000000L)).cast("double") / lit(1000000.0)), 6).as("dur_sec"),
        col("n_events"))
  }

  /** Run [[sessionFeedCounts]] to completion (complete mode — session
    * state never evicted over the bounded feed). Fresh memory-sink
    * name per invocation: this is an ORACLED entry, re-run by bench.
    */
  def runSessionFeedToCompletion(spark: SparkSession, dir: String): DataFrame =
    StreamRun.toMemory(spark, "q207_stream_sessions", sessionFeedCounts(spark, dir),
      StreamRun.StatePartitions, "complete")(_.orderBy("user_id", "w_start"))

  /** q301 — [[sessionFeedCounts]] executed under the ROCKSDB state
    * store (q207's config twin): the provider a 100 TB stream actually
    * runs, where keyed state outgrows executor heaps and lives in
    * embedded RocksDB instances checkpointed per batch. Same 4-file
    * time-quartile feed, same session merges across micro-batch
    * boundaries, same from-scratch oracle — the hash certifies that
    * state round-tripped through RocksDB (serialize → SST → merge →
    * read-back) losslessly. Fails loud if the provider did not engage:
    * a fallback to the default HDFSBackedStateStore would silently
    * certify the wrong backend.
    */
  def runSessionFeedRocksDb(spark: SparkSession, dir: String): DataFrame =
    StreamRun.toMemory(spark, "q301_stream_sessions_rocksdb",
      sessionFeedCounts(spark, dir), StreamRun.StatePartitions, "complete",
      rocksDb = true)(_.orderBy("user_id", "w_start"))

  /** q311's feed: ONE row per (user, time-quartile) — user_id, the
    * user's MIN event time in the quartile, and the event count —
    * staged as 4 mtime-ordered files. The single-row-per-key-per-batch
    * shape is what makes `dropDuplicatesWithinWatermark` fully
    * deterministic under the oracle: with multiple same-key rows in
    * one micro-batch, WHICH row wins the state slot depends on
    * partition processing order (racy row content + racy expiry), and
    * no exact replay exists. Quartile boundaries use the same integer
    * arithmetic as [[stagedTimeOrderedFeed]] (mn + span·k/4), which
    * the oracle replays verbatim.
    */
  private[graft] def dedupFeedStaged(spark: SparkSession, dir: String): String = {
    val feedDir = graft.sources.Staging.fingerprintPath(
      "graft_events_feed", dir, "events.parquet", "dedupwm5")
    graft.sources.Staging.ensureStaged(feedDir) {
      val e = graft.Tables(spark, dir).events
        .withColumn("tu", unix_micros(col("ts")))
      // model-sized: 1 row — global (min, max) timestamp aggregate
      val Array(mn, mx) = e.agg(min(col("tu")), max(col("tu")))
        .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
      val span = mx - mn + 1
      // exact integer floor division (div, not /): Spark Column `/` is
      // double division, and above ~2^51 µs spans the double quotient
      // can round across an integer boundary and misassign a row's
      // quartile relative to the oracle's `//` (tu ≥ mn, so floor =
      // truncation and both engines agree bit-for-bit at any span)
      val rows = e.groupBy(col("user_id"),
          expr(s"least(3L, ((tu - ${mn}L) * 4) div ${span}L)").cast("int").as("q"))
        .agg(min("tu").as("tu"), count(lit(1)).as("n"))
      val scratch = s"$feedDir.build"
      val mtimeBase = System.currentTimeMillis()
      (0 until 4).foreach { k =>
        val part = s"$scratch/q$k"
        rows.filter(col("q") === k)
          .select(col("user_id"), timestamp_micros(col("tu")).as("ts"),
            col("n"))
          .coalesce(1).write.mode("overwrite").parquet(part)
        val partPath = new org.apache.hadoop.fs.Path(part)
        val fs = partPath.getFileSystem(graft.sources.Staging.hadoopConf())
        val file = fs.globStatus(new org.apache.hadoop.fs.Path(part, "part-*.parquet"))
          .head.getPath
        graft.sources.Staging.copyInto(file.toString, feedDir,
          f"quartile_$k%02d.parquet")
        graft.sources.Staging.setMtime(feedDir,
          f"quartile_$k%02d.parquet", mtimeBase + k * 2000L)
      }
      graft.sources.Staging.touch(feedDir)
      val scratchPath = new org.apache.hadoop.fs.Path(scratch)
      scratchPath.getFileSystem(graft.sources.Staging.hadoopConf())
        .delete(scratchPath, true)
    }
    feedDir
  }

  /** q311 — `dropDuplicatesWithinWatermark` under the differential
    * gate: the eighth streaming state family (dedup state WITH
    * watermark-driven expiry — q181's dropDuplicates holds keys
    * forever; this is the bounded-state form a 100 TB stream actually
    * runs). A key re-emits once its stored entry expires (event time
    * + 60 h falls below the advancing watermark), so the output
    * interleaves drops AND re-emits across the 4 quartile batches;
    * the oracle replays the batch-by-batch state machine from
    * scratch.
    */
  def runDedupWithinWatermark(spark: SparkSession, dir: String,
      rocksDb: Boolean = false): DataFrame = {
    val path = dedupFeedStaged(spark, dir)
    StreamRun.toMemory(spark,
        if (rocksDb) "q328_stream_dedup_expiry_rocksdb"
        else "q311_stream_dedup_expiry",
        StreamRun.feed(spark, path)
          .withWatermark("ts", "60 hours")
          .dropDuplicatesWithinWatermark("user_id"),
        StreamRun.StatePartitions, "append", rocksDb)(
      _.select(col("user_id"), unix_micros(col("ts")).as("tu"), col("n"))
        .orderBy("user_id", "tu"))
  }

  /** 4-file TIME-QUARTILE events feed with ascending file mtimes —
    * the multi-batch feed for event-time streaming entries, where
    * batch order must follow event time so the watermark never drops
    * a later batch (the docs4 feed has no event time and can split
    * arbitrarily; this one cannot). Files land via copyInto (temp +
    * atomic rename) and the marker is written LAST.
    */
  private[graft] def stagedTimeOrderedFeed(spark: SparkSession, dir: String): String = {
    val feedDir = graft.sources.Staging.fingerprintPath(
      "graft_events_feed", dir, "events.parquet", "events4t")
    graft.sources.Staging.ensureStaged(feedDir) {
      val e = graft.Tables(spark, dir).events
        .withColumn("tu", unix_micros(col("ts")))
      // model-sized: 1 row — global (min, max) timestamp aggregate
      val Array(mn, mx) = e.agg(min(col("tu")), max(col("tu")))
        .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
      val span = mx - mn + 1
      val scratch = s"$feedDir.build"
      val mtimeBase = System.currentTimeMillis()
      (0 until 4).foreach { k =>
        val lo = mn + span * k / 4
        val hi = mn + span * (k + 1) / 4
        val part = s"$scratch/q$k"
        e.filter(col("tu") >= lo && col("tu") < hi).drop("tu")
          .coalesce(1).write.mode("overwrite").parquet(part)
        // locate the one part file through the Hadoop FS API (the
        // staging layer is storage-agnostic — no java.io here)
        val partPath = new org.apache.hadoop.fs.Path(part)
        val fs = partPath.getFileSystem(graft.sources.Staging.hadoopConf())
        val file = fs.globStatus(new org.apache.hadoop.fs.Path(part, "part-*.parquet"))
          .head.getPath
        graft.sources.Staging.copyInto(file.toString, feedDir,
          f"quartile_$k%02d.parquet")
        // explicit strictly-increasing mtimes (oldest-first = time
        // order): the file source processes in mtime order, and a
        // sleep-based spacing can tie on coarse-granularity (>=1 s)
        // filesystems — the object-store targets of the configurable
        // staging root.
        graft.sources.Staging.setMtime(feedDir,
          f"quartile_$k%02d.parquet", mtimeBase + k * 2000L)
      }
      graft.sources.Staging.touch(feedDir)
      val scratchPath = new org.apache.hadoop.fs.Path(scratch)
      scratchPath.getFileSystem(graft.sources.Staging.hadoopConf())
        .delete(scratchPath, true)
    }
    feedDir
  }

  /** 5-file feed for the late-data entry (q245): the 4 time-quartiles
    * in mtime order PLUS a LATE file — a verbatim replay of quartile 0
    * staged with the NEWEST mtime, so it arrives after the watermark
    * has advanced ~3 weeks past its event times. Every replayed row
    * must be dropped by the watermark; a single leaked row inflates a
    * count and breaks the oracle hash.
    */
  private[graft] def stagedLateFeed(spark: SparkSession, dir: String): String = {
    val feedDir = graft.sources.Staging.fingerprintPath(
      "graft_events_feed", dir, "events.parquet", "events5late")
    graft.sources.Staging.ensureStaged(feedDir) {
      val ordered = stagedTimeOrderedFeed(spark, dir)
      val mtimeBase = System.currentTimeMillis()
      (0 until 4).foreach { k =>
        graft.sources.Staging.copyInto(
          f"$ordered/quartile_$k%02d.parquet", feedDir, f"quartile_$k%02d.parquet")
        // explicit mtimes (see stagedTimeOrderedFeed): the late file
        // below must sort strictly NEWEST or replayed rows leak past
        // the watermark gate and flake the q245 hash.
        graft.sources.Staging.setMtime(feedDir,
          f"quartile_$k%02d.parquet", mtimeBase + k * 2000L)
      }
      graft.sources.Staging.copyInto(
        f"$ordered/quartile_00.parquet", feedDir, "late_replay.parquet")
      graft.sources.Staging.setMtime(feedDir, "late_replay.parquet",
        mtimeBase + 8 * 2000L)
      graft.sources.Staging.touch(feedDir)
    }
    feedDir
  }

  /** Append-mode hourly counts over the late feed (q245): 90-minute
    * watermark; the replayed quartile-0 rows arrive last and their
    * windows sit far below the watermark — real Spark late-data DROP
    * semantics, executed and then hash-checked. Append mode also
    * gates EMISSION: windows ending inside the final 90 minutes never
    * finalize, and the oracle must exclude exactly those.
    */
  def lateDataCounts(spark: SparkSession, dir: String): DataFrame = {
    val events = StreamRun.feed(spark, stagedLateFeed(spark, dir))
    events
      .withColumn("ts", graft.Tables.eventsTs(events.schema("ts").dataType))
      .withWatermark("ts", "90 minutes")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(date_format(col("win.start"), "yyyy-MM-dd HH:mm").as("w"),
        col("event_type"), col("cnt"))
  }

  /** Run [[lateDataCounts]] to completion in APPEND mode (the mode
    * where watermark drop/emission semantics actually bind).
    */
  def runLateDataToCompletion(spark: SparkSession, dir: String): DataFrame =
    StreamRun.toMemory(spark, "q245_stream_late_data", lateDataCounts(spark, dir),
      StreamRun.StatePartitions, "append")(_.orderBy("w", "event_type"))

  /** The file streaming source requires a directory; the fixture is a
    * single parquet file — stage a copy under scratch, fingerprint-
    * keyed and write-once via [[graft.sources.Staging]].
    */
  private def stagedStreamSource(spark: SparkSession, dir: String): String = {
    val streamDir = graft.sources.Staging.fingerprintPath(
      "graft_stream_src", dir, "events.parquet", "events")
    graft.sources.Staging.ensureStaged(streamDir,
        marker = "events.parquet") {
      // copy-then-atomic-rename (Staging.copyInto): the marker is the
      // data file itself, so a crashed copy must never leave a
      // truncated file that a later JVM accepts as staged
      graft.sources.Staging.copyInto(
        s"$dir/events.parquet", streamDir, "events.parquet")
    }
    streamDir
  }

  /** Run to completion over the (bounded) fixture with AvailableNow and
    * return the complete result — used by the batch-equivalence spec.
    */
  def runToCompletion(spark: SparkSession, dir: String): DataFrame =
    StreamRun.toMemory(spark, "stream_hourly_counts", hourlyCounts(spark, dir),
      StreamRun.StatePartitions, "complete")(_.orderBy("w", "event_type"))

  /** Streaming twin of q136 (grouped Misra–Gries heavy hitters): the
    * `freq_sketch` TypedImperativeAggregate under a streaming
    * `groupBy().agg()` in complete mode — the state store carries the
    * SERIALIZED k-bounded buffer per group across triggers, so the
    * same bounded-state property that holds per map task in batch
    * holds per group across an unbounded stream. The feed is the
    * events fixture split into 4 files with maxFilesPerTrigger=1,
    * forcing real cross-batch buffer restore+merge (a single-batch run
    * would never exercise deserialize).
    */
  def streamingHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val feedDir = graft.sources.Staging.fingerprintPath(
      "graft_hh_feed", dir, "events.parquet", "events4")
    graft.sources.Staging.ensureStaged(feedDir) {
      spark.read.parquet(s"$dir/events.parquet")
        .repartition(4)
        .write.mode("overwrite").parquet(feedDir)
    }
    // keeps the session's partition count: no state-sized scope
    StreamRun.toMemory(spark, "stream_heavy_hitters",
        StreamRun.feed(spark, feedDir)
          .withColumn("grp", pmod(col("user_id"), lit(16)).cast("long"))
          .groupBy("grp")
          .agg(graft.functions.GraftFunctions.freqSketch(col("event_type"), 8).as("sketch")),
        spark.sessionState.conf.numShufflePartitions, "complete")(
      _.select(col("grp"), explode(col("sketch")).as(Seq("item", "est_n")))
        .orderBy("grp", "item"))
  }
}
