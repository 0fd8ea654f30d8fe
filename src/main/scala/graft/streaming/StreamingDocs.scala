package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming twins over the DOCUMENTS table — the ingest-time form of
  * the corpus-curation operators, where a training-data pipeline
  * filters documents as they arrive rather than in a nightly batch.
  */
object StreamingDocs {

  /** Streaming n-gram decontamination guard (q81/q178's ingest twin):
    * documents arrive as a bounded 4-file stream (maxFilesPerTrigger=1
    * forces real multi-batch execution), each row's word 5-grams are
    * derived STATELESSLY ([[graft.operators.Winnow.wordGramHashes]] is
    * per-row, so the same expression runs on the stream unchanged),
    * and a stream-static inner join against the batch-derived eval
    * gram frame flags contaminated docs at ingest. The only streaming
    * state is `dropDuplicates("doc_id")` AFTER the join — one row per
    * FLAGGED doc, so state is contamination-bounded, not
    * corpus-bounded: exactly what an unbounded ingest guard needs.
    * Eval grams are small by nature (the q81 broadcast argument) and
    * static per deployment.
    */
  def decontaminateStream(spark: SparkSession, dir: String): DataFrame = {
    val feed = stagedDocsFeed(spark, dir)
    val schema = spark.read.parquet(feed).schema
    // the static side of a stream-static join is re-evaluated EVERY
    // micro-batch unless pinned — persist the (small, per-deployment
    // static) eval gram frame once (measured 5.1→1.7 s over 4 batches)
    val evalGrams = graft.operators.Winnow
      .wordGramHashes(
        graft.Tables(spark, dir).documents.filter(col("doc_id") % 97 === 0),
        n = 5)
      .select("gh").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.TransientCaches.register(evalGrams)
    evalGrams.count()
    val train = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(feed)
      .filter(col("doc_id") % 97 =!= 0)
    graft.operators.Winnow.wordGramHashes(train, n = 5)
      .join(evalGrams, Seq("gh")) // stream-static inner join: stateless
      .select("doc_id")
      .dropDuplicates("doc_id")
  }

  /** Run [[decontaminateStream]] to completion over the bounded
    * fixture (AvailableNow, memory sink) — the batch-equivalence and
    * oracle surface.
    */
  private val runSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Last completed run's progress summary per entry — the streaming
    * analogue of a physical-plan dump (round-9 VERDICT item 4: a
    * streaming query cannot `explain` its executed micro-batches, but
    * its progress metrics — batch count, input rows, state rows — are
    * the honest execution record). Read by `tools/DumpPlans` for
    * PLANS.md.
    */
  val lastProgress =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Public: StreamingEvents' oracled entries record here too. */
  def noteProgress(tag: String,
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
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

  def runDecontaminateToCompletion(spark: SparkSession, dir: String): DataFrame = {
    // unique sink name per invocation: this helper is an ORACLED entry
    // (q181), so bench/verify re-runs in one session must never reuse
    // a memory-sink table
    val name = s"graft_decon_${runSeq.incrementAndGet()}"
    StreamingEvents.withStreamShuffle(spark) {
      val q = decontaminateStream(spark, dir).writeStream
        .format("memory").queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      noteProgress("q181_stream_decontaminate", q)
    }
    spark.table(name).orderBy("doc_id")
  }

  /** Streaming per-language token counts (q16's ingest twin, and the
    * COMPLETE-mode counterpart of q181's append-mode guard): the
    * grouped aggregation state carries per-lang partial sums across
    * micro-batches — lang-bounded state, the streaming shape of a
    * map-side-combined batch aggregate.
    */
  def tokenCountsStream(spark: SparkSession, dir: String): DataFrame = {
    val feed = stagedDocsFeed(spark, dir)
    val schema = spark.read.parquet(feed).schema
    val docs = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(feed)
    docs.groupBy("lang")
      .agg(
        sum(size(graft.operators.TextAnalysis.tokens(col("text"))))
          .as("sum_tokens"),
        sum(size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))).as("sum_subtokens"),
        count(lit(1)).as("cnt"))
  }

  /** Run [[tokenCountsStream]] to completion (complete mode). */
  def runTokenCountsToCompletion(spark: SparkSession, dir: String,
      rocksDb: Boolean = false): DataFrame = {
    val name = s"graft_tokc_${runSeq.incrementAndGet()}"
    val q = StreamingEvents.withStreamShuffle(spark) {
      StreamingEvents.withRocksDbProvider(spark, rocksDb) {
        val q0 = tokenCountsStream(spark, dir).writeStream
          .format("memory").queryName(name)
          .outputMode("complete")
          .trigger(Trigger.AvailableNow())
          .start()
        q0.awaitTermination()
        q0
      }
    }
    if (rocksDb) StreamingEvents.requireRocksDbEngaged(q)
    noteProgress(
      if (rocksDb) "q325_stream_token_counts_rocksdb"
      else "q184_stream_token_counts", q)
    spark.table(name).orderBy("lang")
  }

  /** Streaming ingest-time near-dup filtering — q185's ingest twin
    * (round-9 VERDICT item 7), the form a production pipeline actually
    * runs: the corpus arrives as a bounded 4-file stream
    * (maxFilesPerTrigger=1 forces real multi-batch execution), each
    * micro-batch keeps only new-batch docs (doc_id % 5 == 0), probes
    * the SAME staged historical band/shingle index q185 probes
    * ([[graft.operators.Dedup.probeDocsAgainstIndex]] — identical
    * probe code path), and appends its verified pairs to a parquet
    * sink inside foreachBatch. The accumulated sink must hash-match
    * the from-scratch batch computation (q185's oracle): new docs are
    * matched against static history only, never against each other, so
    * micro-batch boundaries cannot change the result — but a lost or
    * re-processed batch, a stale index read, or a sink append bug all
    * break the hash.
    */
  def runIngestDedupToCompletion(spark: SparkSession, dir: String): DataFrame = {
    val feed = stagedDocsFeed(spark, dir)
    val schema = spark.read.parquet(feed).schema
    val idx = graft.operators.Dedup.ensureHistoricalIndex(spark, dir)
    // per-invocation sink + checkpoint (the memory-sink uniqueness rule
    // applied to a file sink): bench/verify re-runs must re-pay the
    // full ingest, never resume a finished checkpoint. UUID, not the
    // in-JVM counter: a SECOND JVM's run_1 would collide with the
    // first's on-disk checkpoint and resume a stream pinned to the
    // other fixture's feed (observed as a Wrong basePath failure).
    val outDir = s"${graft.sources.Staging.stagingRoot()}/graft_ingest_dedup/" +
      s"run_${java.util.UUID.randomUUID().toString.take(8)}"
    // per-run scratch (sink + .ckpt) is fully consumed within this
    // JVM — reclaim at exit so repeated runs don't accumulate.
    graft.sources.Staging.deleteOnExit(outDir)
    graft.sources.Staging.deleteOnExit(s"$outDir.ckpt")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(feed)
      .filter(col("doc_id") % 5 === 0)
    StreamingEvents.withStreamShuffle(spark,
        StreamingEvents.streamIngestPartitions) {
      val q = stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          graft.operators.Dedup.probeDocsAgainstIndex(batch.toDF(), idx)
            .write.mode("append").parquet(outDir)
          ()
        }
        .option("checkpointLocation", s"$outDir.ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      noteProgress("q188_stream_ingest_dedup", q)
    }
    spark.read.parquet(outDir).orderBy("new_doc", "hist_doc")
  }

  /** Streaming ANN ingest (q191's ingest twin — the dense-modality
    * q188): new vectors (vec_id % 5 == 0) arrive as a bounded 4-file
    * stream; the history-fitted quantizer and inverted lists are
    * built ONCE before the stream starts (an ingest pipeline loads
    * its index at startup, not per batch; the lists frame is pinned
    * for the run), and each micro-batch multi-assigns its vectors and
    * exact-scores only the visited lists inside foreachBatch,
    * appending flagged pairs to a parquet sink. Same oracle as q191:
    * probes are against static history only, so micro-batch
    * boundaries cannot change the result — lost batches, stale lists,
    * or sink bugs break the hash.
    */
  def runAnnIngestToCompletion(spark: SparkSession, dir: String): DataFrame = {
    val feed = stagedVecsFeed(spark, dir)
    val schema = spark.read.parquet(feed).schema
    val (cents, lists0) = graft.operators.Ivf.historyAnnIndex(spark, dir)
    val lists = lists0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.TransientCaches.register(lists)
    lists.count()
    val outDir = s"${graft.sources.Staging.stagingRoot()}/graft_ingest_ann/" +
      s"run_${java.util.UUID.randomUUID().toString.take(8)}"
    graft.sources.Staging.deleteOnExit(outDir)
    graft.sources.Staging.deleteOnExit(s"$outDir.ckpt")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(feed)
      .filter(col("vec_id") % 5 === 0)
    StreamingEvents.withStreamShuffle(spark,
        StreamingEvents.streamIngestPartitions) {
      val q = stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          graft.operators.Ivf
            .probeAnnLists(batch.toDF(), cents, lists, threshold = 0.45, nAssign = 4)
            .write.mode("append").parquet(outDir)
          ()
        }
        .option("checkpointLocation", s"$outDir.ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      noteProgress("q196_stream_ann_ingest", q)
    }
    spark.read.parquet(outDir).orderBy("new_vec", "hist_vec")
  }

  /** Streaming quality-filter ingest (q257): the q250 logistic filter
    * is fitted ONCE before the stream starts (the q196 "load the model
    * at startup" shape — the weights are 4 frozen doubles, not
    * per-batch state); each micro-batch derives the MIXED-quality feed
    * (its docs plus their whitespace-stripped twins — the fixture has
    * no dirty docs, so the drop path is exercised via the same planted
    * corruption the model trained on, per-batch-derivable so batching
    * can't move a twin), scores it under the frozen model, and appends
    * keepers (s6 >= 500000) to a parquet sink inside foreachBatch.
    * Static model + per-row derivation ⇒ micro-batch boundaries cannot
    * change the result; lost/re-processed batches, weight drift, or a
    * never-firing drop gate all break the hash vs the from-scratch
    * oracle.
    */
  def runQualityFilterToCompletion(spark: SparkSession, dir: String): DataFrame = {
    val feed = stagedDocsFeed(spark, dir)
    val schema = spark.read.parquet(feed).schema
    val w = graft.operators.Classify.fittedWeights(spark, dir)
    val outDir = s"${graft.sources.Staging.stagingRoot()}/graft_ingest_quality/" +
      s"run_${java.util.UUID.randomUUID().toString.take(8)}"
    graft.sources.Staging.deleteOnExit(outDir)
    graft.sources.Staging.deleteOnExit(s"$outDir.ckpt")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(feed)
    StreamingEvents.withStreamShuffle(spark,
        StreamingEvents.streamIngestPartitions) {
      val q = stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          graft.operators.Classify
            .scoreDocs(graft.operators.Classify
              .corpusWithCorruptions(batch.toDF()).drop("y"), w)
            .filter(col("s6") >= 500000L)
            .write.mode("append").parquet(outDir)
          ()
        }
        .option("checkpointLocation", s"$outDir.ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      noteProgress("q257_stream_quality_filter", q)
    }
    spark.read.parquet(outDir).orderBy("doc_id")
  }

  /** 4-file embeddings feed staged under scratch (the docs4 pattern
    * for the vectors table). */
  private def stagedVecsFeed(spark: SparkSession, dir: String): String = {
    val feedDir = graft.sources.Staging.fingerprintPath(
      "graft_vecs_feed", dir, "embeddings.parquet", "vecs4")
    graft.sources.Staging.ensureStaged(feedDir) {
      graft.Tables(spark, dir).embeddings
        .repartition(4)
        .write.mode("overwrite").parquet(feedDir)
    }
    feedDir
  }

  /** 4-file docs feed staged under scratch (the events
    * stagedStreamSource pattern, but repartitioned so AvailableNow +
    * maxFilesPerTrigger=1 exercises multiple micro-batches).
    */
  private def stagedDocsFeed(spark: SparkSession, dir: String): String = {
    val feedDir = graft.sources.Staging.fingerprintPath(
      "graft_docs_feed", dir, "documents.parquet", "docs4")
    graft.sources.Staging.ensureStaged(feedDir) {
      graft.Tables(spark, dir).documents
        .repartition(4)
        .write.mode("overwrite").parquet(feedDir)
    }
    feedDir
  }
}
