package graft

import graft.streaming.StreamingEvents

/** M4: the watermarked streaming window aggregation must equal its
  * batch form (q24) over the bounded fixture.
  */
class StreamingSpec extends SparkSpec {

  test("streaming hourly counts ≡ batch q24 (Trigger.AvailableNow)") {
    val streamed = StreamingEvents.runToCompletion(spark, sf)
      .collect().map(_.toSeq).toSet
    val batch = run("q24_events_hourly")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("streaming decontamination guard ≡ batch ngramContaminated (q181)") {
    import org.apache.spark.sql.functions._
    val streamed = graft.streaming.StreamingDocs
      .runDecontaminateToCompletion(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val docs = Tables(spark, sf).documents
    val batch = graft.operators.Winnow.ngramContaminated(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0), n = 5)
      .collect().map(_.getLong(0)).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty, "fixture must plant at least one contaminated doc")
  }

  test("streaming ingest-dedup ≡ batch incremental probe (q188 ≡ q185)") {
    val streamed = graft.streaming.StreamingDocs
      .runIngestDedupToCompletion(spark, sf)
      .collect().map(_.toSeq).toSet
    val batch = graft.operators.Dedup.incrementalNearDups(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty, "fixture must plant at least one cross-half near-dup")
  }

  test("streaming ANN ingest ≡ batch incremental ANN probe (q196 ≡ q191)") {
    val streamed = graft.streaming.StreamingDocs
      .runAnnIngestToCompletion(spark, sf)
      .collect().map(_.toSeq).toSet
    val batch = graft.operators.Ivf.incrementalAnnNearDups(spark, sf, threshold = 0.45)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty, "fixture must plant cross-split embed near-dups")
  }

  test("streaming complete-mode token counts ≡ batch q16 (q184)") {
    val streamed = graft.streaming.StreamingDocs
      .runTokenCountsToCompletion(spark, sf)
      .collect().map(_.toSeq).toSet
    val batch = run("q16_token_counts").collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("streaming session_window sessions ≡ batch session_window") {
    import org.apache.spark.sql.functions._
    val streamed = StreamingEvents.runSessionsToCompletion(spark, sf)
      .collect().map(_.toSeq).toSet
    val batch = Tables(spark, sf).events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("win"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("win.start"), "yyyy-MM-dd HH:mm:ss").as("w"),
        col("n_events"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("stream-stream interval join ≡ batch interval join (watermarked, AvailableNow)") {
    import org.apache.spark.sql.functions._
    // multiset compare: duplicate emissions are the classic
    // stream-stream join failure mode, and a Set would hide them
    val streamed = StreamingEvents.runStreamJoinToCompletion(spark, sf)
      .collect().map(_.toSeq.toString).sorted.toSeq
    val e = Tables(spark, sf).events
      .select(col("user_id"), col("event_id"), col("ts"))
    val probes = e.filter(col("event_id") % 10 === 0)
      .select(col("user_id").as("pu"), col("event_id").as("pid"), col("ts").as("pt"))
    val batch = probes.join(e,
        col("pu") === col("user_id") && col("ts") > col("pt") &&
          col("ts") <= col("pt") + expr("INTERVAL 1 HOUR"))
      .select(col("pu").as("user_id"), col("pid"), col("event_id").as("fid"))
      .collect().map(_.toSeq.toString).sorted.toSeq
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("streaming dropDuplicatesWithinWatermark ≡ batch dedup (q71)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val streamed = StreamingEvents.runDedupToCompletion(spark, sf)
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("sum_value"))
      .collect().map(_.toSeq).toSet
    val batch = run("q71_stream_dedup").collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("flatMapGroupsWithState threshold alerts ≡ batch q78") {
    val streamed = StreamingEvents.thresholdAlerts(spark, sf)
      .collect().map(_.toSeq).toSet
    val batch = run("q78_threshold_crossings").collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("mapGroupsWithState per-user aggregates ≡ batch groupBy") {
    import org.apache.spark.sql.functions._
    val stateful = StreamingEvents.statefulUserCounts(spark, sf)
      .collect().map(_.toSeq).toSet
    val batch = Tables(spark, sf).events
      .groupBy("user_id")
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 6).as("sum_value"))
      .collect().map(_.toSeq).toSet
    assert(stateful == batch)
    assert(batch.nonEmpty)
  }

  test("streaming SCD2 closed intervals ≡ batch q108 closed rows") {
    import org.apache.spark.sql.functions._
    val streamed = StreamingEvents.runScd2ToCompletion(spark, sf)
      .collect().map(_.toSeq).toSet
    val batch = run("q108_scd2_history")
      .filter(col("valid_to").isNotNull)
      .select("user_id", "valid_from", "valid_to", "v")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("streaming IVM foreachBatch merge ≡ batch q129 maintained view") {
    val streamed = StreamingEvents.ivmMaintainedRollup(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = run("q129_incremental_view")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("streaming freq_sketch heavy hitters ≡ batch q136 (exact regime)") {
    val streamed = StreamingEvents.streamingHeavyHitters(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = run("q136_heavy_hitters")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("q207 multi-batch session feed: 4 micro-batches, merges, re-run safe") {
    import org.apache.spark.sql.functions._
    val first = StreamingEvents.runSessionFeedToCompletion(spark, sf).collect()
    // the feed must actually execute multiple micro-batches — one per
    // time-quartile file — or the session-MERGE state is never crossed
    val progress = graft.streaming.StreamingDocs.lastProgress
      .getOrDefault("q207_stream_sessions", "")
    assert(progress.contains("batches=4") || progress.contains("batches=5"),
      s"expected a 4-file multi-batch run, got: $progress")
    // sessions must equal the batch session_window groupBy (merge
    // correctness: same function, no stream in the loop)
    val events = Tables(spark, sf).events.filter(col("user_id") < 20)
    val batch = events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("win"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_micros(col("win.start")).as("w_start"),
        col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val streamed = first.map(r =>
      (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("n_events")).toMap
    assert(streamed === batch)
    // at least one session must span multiple events (the merge path
    // is exercised, not vacuous)
    assert(first.exists(_.getAs[Long]("n_events") > 1L))
    // oracled entries are re-run by bench inside one JVM: a second run
    // must not collide with the first's memory sink
    val second = StreamingEvents.runSessionFeedToCompletion(spark, sf).collect()
    assert(second.length === first.length)
  }

  test("q212 stream-stream join: multi-batch, cross-quartile pairs survive") {
    import org.apache.spark.sql.functions._
    val rows = StreamingEvents.runStreamFeedJoinToCompletion(spark, sf).collect()
    val progress = graft.streaming.StreamingDocs.lastProgress
      .getOrDefault("q212_stream_stream_join", "")
    assert(progress.contains("batches="), s"no progress recorded: $progress")
    // batch recompute of the same 24h interval join
    val e = Tables(spark, sf).events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t"))
    val a = e.filter(col("event_id") % 10 === 0)
      .select(col("user_id").as("pu"), col("event_id").as("pid"), col("t").as("pt"))
    val batch = a.join(e, col("pu") === col("user_id") &&
        col("t") > col("pt") && col("t") <= col("pt") + lit(86400000000L))
      .select(col("pu"), col("pid"), col("event_id").as("fid"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)
    // the time-quartile boundaries must split at least one pair — the
    // cross-batch buffered state is exercised, not vacuous
    val Array(mn, mx) = e.agg(min(col("t")), max(col("t"))).collect()(0)
      .toSeq.map(_.asInstanceOf[Long]).toArray
    val span = mx - mn + 1
    def quart(t: Long): Long = (t - mn) * 4 / span
    val ts = e.collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    val crossing = streamed.count { case (_, pid, fid) =>
      quart(ts(pid)) != quart(ts(fid))
    }
    assert(crossing > 0, "no pair spans a micro-batch boundary")
  }

  test("stream-join partitions: commit count leveled with the family, floor 2") {
    // a stream-stream join commits 4 state stores per partition per
    // batch; the derived count must (a) stay multi-partition and
    // (b) never exceed the family's per-batch commit budget
    val fam = StreamingEvents.streamStatePartitions.toInt
    val join = StreamingEvents.streamJoinStatePartitions.toInt
    assert(join >= 2, "join state must stay multi-partition")
    assert(join <= math.max(2, fam),
      "join partitions must not exceed the family count")
    assert(join == math.max(2, fam / 4), s"commit leveling: join=$join fam=$fam")
    // the conf scoping restores the session value even on throw
    val pkey = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(pkey)
    intercept[RuntimeException] {
      StreamingEvents.withStreamShuffle(spark, "3") {
        assert(spark.conf.get(pkey) === "3")
        throw new RuntimeException("boom")
      }
    }
    assert(spark.conf.get(pkey) === before)
  }

  test("q215 explicit state: multi-batch fold equals batch scaled sums") {
    import org.apache.spark.sql.functions._
    val rows = StreamingEvents.runExactUserStateToCompletion(spark, sf).collect()
    val progress = graft.streaming.StreamingDocs.lastProgress
      .getOrDefault("q215_stream_user_state", "")
    assert(progress.contains("batches=4") || progress.contains("batches=5"),
      s"expected a multi-batch run, got: $progress")
    import spark.implicits._
    val batch = Tables(spark, sf).events
      .select(col("user_id"), col("value")).as[(Long, Double)].collect()
      .groupBy(_._1).map { case (u, vs) =>
        u -> (vs.length.toLong,
          vs.map(v => StreamingEvents.halfAwayMicros(v._2)).sum)
      }
    val streamed = rows.map(r =>
      r.getLong(0) -> (r.getAs[Long]("cnt"), r.getAs[Double]("sum_v"))).toMap
    assert(streamed.keySet === batch.keySet)
    batch.foreach { case (u, (c, micros)) =>
      val (sc, sv) = streamed(u)
      assert(sc === c, s"user $u count")
      val expect = BigDecimal(micros.toDouble / 1000000.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(sv - expect) < 1e-9, s"user $u: $sv vs $expect")
    }
  }

  test("q227 restart: second life admits exactly the new files, nothing twice") {
    import org.apache.spark.sql.functions._
    val rows = StreamingEvents.runRestartIngestToCompletion(spark, sf).collect()
    // lastProgress holds the SECOND life's record: 2 new quartiles
    val progress = graft.streaming.StreamingDocs.lastProgress
      .getOrDefault("q227_stream_restart", "")
    assert(progress.contains("batches=2"),
      s"restart should process exactly the 2 new files: $progress")
    val batch = Tables(spark, sf).events
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val streamed = rows.map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
    assert(streamed === batch, "replayed or skipped files change counts")
  }

  test("streaming EWMA recurrence ≡ batch q114 closed form (6 dp)") {
    val streamed = StreamingEvents.runEwmaToCompletion(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val batch = run("q114_ewma")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(streamed.keySet == batch.keySet)
    assert(batch.nonEmpty)
    for ((u, (bn, bv)) <- batch) {
      val (sn, sv) = streamed(u)
      assert(sn == bn, s"user $u event count: stream $sn vs batch $bn")
      assert(math.abs(sv - bv) < 1e-6, s"user $u: stream $sv vs batch $bv")
    }
  }
}
