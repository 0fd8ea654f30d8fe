package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.hive.ql.exec.vector.{LongColumnVector, TimestampColumnVector}
import org.apache.orc.{OrcFile, TypeDescription}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.QueryEntry

/** ORC `timestamp with local time zone` (TIMESTAMP_INSTANT) — the one
  * ORC type from the spec surface the reference links
  * (`orc-parser/reader.cc:1` pulls the full `orc/OrcFile.hh` type
  * system) that Spark 4.1.2 cannot touch AT ALL: the built-in reader
  * feeds the ORC type string through the SQL data-type parser, which
  * throws `PARSE_SYNTAX_ERROR` on `timestamp with local time zone` —
  * schema inference and explicit-schema reads both fail (verified
  * empirically on this build; OrcInstantSpec pins the failure so a
  * Spark upgrade that fixes it is noticed).
  *
  * So both directions go through the public ORC core library that
  * ships with Spark, with the same distributed decomposition as the
  * rest of the native path ([[FastOrcSum]]):
  *  - write: one ORC core writer per Spark partition (`mapPartitions`,
  *    the documented last-resort seam — no Catalyst expression can
  *    emit a type Spark's own writer cannot represent);
  *  - read: the tasks [[FastOrcSum.scanTasks]] plans, as Spark's own
  *    file scans would, decoding the TimestampColumnVector to epoch
  *    micros.
  *
  * INSTANT semantics make the round-trip timezone-independent by
  * construction: the column vector carries epoch millis + nanos, and
  * TIMESTAMP_INSTANT is defined as a fixed point in time (no writer/
  * reader timezone re-interpretation, unlike plain ORC TIMESTAMP), so
  * what a 100 TB cluster's heterogeneous executors write is what any
  * reader gets back.
  *
  * Scale: writers are per-partition and writer-local (no driver
  * funnel); reads are split by byte range like every other ORC scan
  * here.
  * The q162 gate aggregates to a scalar row, so the oracle comparison
  * is order-insensitive.
  */
object TimestampInstantOrc {

  private val InstantSchema =
    "struct<event_id:bigint,ts:timestamp with local time zone>"

  /** events (event_id, ts) staged as a multi-file TIMESTAMP_INSTANT
    * ORC directory — fingerprint-keyed and write-once like every other
    * derived fixture copy. 4 partitions so the range-parallel read
    * path genuinely fans out on the fixture.
    */
  def stagedInstantCopy(spark: SparkSession, dir: String): String = {
    val dest = Staging.fingerprintPath(
      "graft_orc_instant", dir, "events.parquet", "events_instant")
    Staging.ensureStaged(dest) {
      import spark.implicits._
      Staging.mkdirs(dest)
      val hconf = org.apache.spark.sql.graft.Shims.broadcastHadoopConf(spark)
      val written = graft.Tables(spark, dir).events
        .select(col("event_id"), unix_micros(col("ts")).as("tus"))
        .as[(Long, Long)]
        .repartition(4, col("event_id"))
        .mapPartitions { rows =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val conf: Configuration = hconf.conf
          val schema = TypeDescription.fromString(InstantSchema)
          // overwrite(true): a retried task replaces its own file
          // rather than failing on exists; production would commit via
          // a task-attempt temp dir + rename, same as FileOutputCommitter
          val w = OrcFile.createWriter(
            new Path(f"$dest/part-$pid%05d.orc"),
            OrcFile.writerOptions(conf).setSchema(schema).overwrite(true))
          var n = 0L
          try {
            val batch = schema.createRowBatch(10000)
            val idv = batch.cols(0).asInstanceOf[LongColumnVector]
            val tsv = batch.cols(1).asInstanceOf[TimestampColumnVector]
            val scratch = new java.sql.Timestamp(0L)
            rows.foreach { case (id, us) =>
              val i = batch.size
              idv.vector(i) = id
              // epoch micros -> (millis, nanos-of-second); floorDiv/
              // floorMod so pre-1970 instants round toward -inf, not 0
              scratch.setTime(Math.floorDiv(us, 1000000L) * 1000L)
              scratch.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
              tsv.set(i, scratch)
              batch.size += 1
              n += 1
              if (batch.size == batch.getMaxSize) { w.addRowBatch(batch); batch.reset() }
            }
            if (batch.size > 0) w.addRowBatch(batch)
          } finally w.close()
          Iterator.single(n)
        }
        .reduce(_ + _)
      require(written > 0, s"instant staging wrote no rows to $dest")
      Staging.touch(dest)
    }
    dest
  }

  /** Read a TIMESTAMP_INSTANT ORC directory back as (event_id, tus
    * epoch-micros) — tasks as [[FastOrcSum.scanTasks]] plans them, one
    * ORC core reader per range.
    */
  def readInstantMicros(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val tasks = FastOrcSum.scanTasks(spark, path)
    require(tasks.nonEmpty, s"no ORC files under $path")
    FastOrcSum.readRanges(spark, tasks) { (reader, r) =>
      val schema = reader.getSchema
      require(schema.toString == InstantSchema,
        s"unexpected instant-file schema: $schema")
      val rowsIt = reader.rows(reader.options().range(r.offset, r.length))
      val batch = schema.createRowBatch(10000)
      val idv = batch.cols(0).asInstanceOf[LongColumnVector]
      val tsv = batch.cols(1).asInstanceOf[TimestampColumnVector]
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      try {
        while (rowsIt.nextBatch(batch)) {
          // decode guards (mirror of OrcUnionType.readUnion): a
          // foreign schema-matching file with nulls or run-length
          // batches would be silently misdecoded by this dense loop
          require(idv.noNulls && !idv.isRepeating && tsv.noNulls && !tsv.isRepeating,
            s"${r.file}: nulls or repeating batches in instant file — unsupported")
          var i = 0
          while (i < batch.size) {
            // millis + nanos-of-second -> micros (nanos INCLUDES the
            // sub-second part of time(), so derive seconds first)
            val us = Math.floorDiv(tsv.time(i), 1000L) * 1000000L + tsv.nanos(i) / 1000L
            out += ((idv.vector(i), us))
            i += 1
          }
        }
      } finally rowsIt.close()
      out
    }.toDF("event_id", "tus")
  }

  /** Footer-only preflight: the ORC type categories in `path`'s schema
    * that Spark's built-in reader cannot read on this build (UNION and
    * TIMESTAMP_INSTANT) — the formal rejection surface for the two
    * out-of-builtin-scope types, so a caller gets a named answer
    * BEFORE a scan fails mid-job. Empty result = the built-in
    * `spark.read.orc` path is safe.
    */
  def builtinUnreadableCategories(spark: SparkSession, path: String): Seq[String] = {
    import TypeDescription.Category
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val f =
      if (fs.getFileStatus(root).isDirectory)
        fs.listStatus(root).map(_.getPath).filter(_.getName.endsWith(".orc"))
          .minBy(_.toString)
      else root
    val reader = OrcFile.createReader(f, OrcFile.readerOptions(conf))
    try {
      def walk(t: TypeDescription): Seq[Category] = {
        val kids = Option(t.getChildren)
          .map(c => { import scala.jdk.CollectionConverters._; c.asScala.toSeq })
          .getOrElse(Seq.empty)
        t.getCategory +: kids.flatMap(walk)
      }
      walk(reader.getSchema)
        .filter(c => c == Category.UNION || c == Category.TIMESTAMP_INSTANT)
        .map(_.getName).distinct
    } finally reader.close()
  }

  val entries: Seq[QueryEntry] = Seq(
    // Parquet events -> TIMESTAMP_INSTANT ORC (core writer, per
    // partition) -> range-parallel core read -> scalar aggregates over
    // the decoded epoch micros. The oracle recomputes from the parquet
    // source, so a match proves the INSTANT encode/decode is
    // value-preserving down to the microsecond (sum_frac_us isolates
    // the sub-second part — a seconds-only round-trip would pass
    // min/max but fail it).
    QueryEntry.sql(
      "q162_orc_timestamp_instant",
      """SELECT COUNT(*) AS cnt,
        |       CAST(MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS min_us,
        |       CAST(MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS max_us,
        |       CAST(SUM(epoch_us(CAST(ts AS TIMESTAMP)) % 1000000) AS BIGINT) AS sum_frac_us
        |FROM events""".stripMargin,
    ) { (s, dir) =>
      readInstantMicros(s, stagedInstantCopy(s, dir))
        .agg(
          count(lit(1)).as("cnt"),
          min("tus").as("min_us"),
          max("tus").as("max_us"),
          sum(col("tus") % 1000000L).as("sum_frac_us"),
        )
    },
  )
}
