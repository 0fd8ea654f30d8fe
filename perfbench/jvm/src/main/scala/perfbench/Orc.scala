package perfbench

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.hive.ql.exec.vector.LongColumnVector
import org.apache.orc.{OrcFile, TypeDescription}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, max}

/** Inputs and independent checks for the `orc_io` workload.
  *
  * The blowup is N copies of the fixture `lineitem`, one snappy ORC
  * file per copy; copy i adds i·K to `l_orderkey` (K = max key + 1), so
  * each file owns its own key band and a range predicate can skip whole
  * stripes, as it would on date-partitioned data.
  */
object Orc {
  private val conf = new Configuration()
  private def fs: FileSystem = FileSystem.getLocal(conf)

  def orcFiles(dir: String): Seq[String] =
    fs.listStatus(new Path(dir)).map(_.getPath)
      .filter(_.getName.endsWith(".orc")).map(_.toString).sorted.toSeq

  def fileBytes(files: Seq[String]): Long = files.map(f => fs.getFileStatus(new Path(f)).getLen).sum

  /** Write `copies` shifted copies of lineitem into `dest`, `threads` at a
    * time; returns K. The `_DONE` marker makes a half-written set visible.
    */
  def writeCopies(spark: SparkSession, sfDir: String, dest: String, copies: Int,
      codec: String, threads: Int, columns: Seq[String] = Nil): Long = {
    val li0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val li = if (columns.isEmpty) li0 else li0.select(columns.map(col): _*)
    val k = li.agg(max("l_orderkey")).head().getLong(0) + 1
    fs.delete(new Path(dest), true)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val jobs = (0 until copies).map { i =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val tmp = s"$dest/_tmp/r$i"
            li.withColumn("l_orderkey", col("l_orderkey") + lit(i * k))
              .coalesce(1).write.mode("overwrite").option("compression", codec).orc(tmp)
            val part = fs.listStatus(new Path(tmp)).map(_.getPath)
              .filter(_.getName.endsWith(".orc")).head
            fs.rename(part, new Path(f"$dest/r$i%04d.orc"))
          }
        })
      }
      jobs.foreach(_.get())
    } finally pool.shutdown()
    fs.delete(new Path(s"$dest/_tmp"), true)
    fs.listStatus(new Path(dest)).map(_.getPath).filter(_.getName.endsWith(".crc"))
      .foreach(fs.delete(_, false))
    fs.create(new Path(s"$dest/_DONE")).close()
    k
  }

  /** Sums computed with the ORC library directly (not through the
    * engine's FastOrcSum): the whole first column, each file, and each
    * [lo, hi] range the plan uses.
    */
  final case class Reference(rows: Long, sum: Long, files: Map[Int, (Long, Long)],
      ranges: Map[(Long, Long), Long])

  def reference(files: Seq[String], k: Long, ranges: Seq[(Long, Long)]): Reference = {
    val los = ranges.map(_._1).toArray
    val his = ranges.map(_._2).toArray
    val rangeSums = new Array[Long](ranges.size)
    var rows = 0L
    var total = 0L
    val perFile = files.map { f =>
      val reader = OrcFile.createReader(new Path(f), OrcFile.readerOptions(conf))
      val schema = reader.getSchema
      val it = reader.rows(reader.options().include(firstColumn(schema)))
      val batch = schema.createRowBatch(10000)
      val v = batch.cols(0).asInstanceOf[LongColumnVector]
      var fRows = 0L
      var fSum = 0L
      var fMin = Long.MaxValue
      try while (it.nextBatch(batch)) {
        var i = 0
        while (i < batch.size) {
          val j = if (v.isRepeating) 0 else i
          if (v.noNulls || !v.isNull(j)) {
            val x = v.vector(j)
            fRows += 1
            fSum += x
            if (x < fMin) fMin = x
            var r = 0
            while (r < los.length) {
              if (x >= los(r) && x <= his(r)) rangeSums(r) += x
              r += 1
            }
          }
          i += 1
        }
      } finally { it.close(); reader.close() }
      rows += fRows
      total += fSum
      (fMin / k).toInt -> (fRows, fSum)
    }.toMap
    Reference(rows, total, perFile, ranges.zip(rangeSums).toMap)
  }

  /** Reader projection: the root struct and its first column. */
  private def firstColumn(schema: TypeDescription): Array[Boolean] = {
    val include = new Array[Boolean](schema.getMaximumId + 1)
    include(0) = true
    include(schema.getChildren.get(0).getId) = true
    include
  }

  /** Raw file-system read throughput over `files`, MB/s. */
  def rawReadMbS(files: Seq[String]): Double = {
    val buf = new Array[Byte](1 << 20)
    val t0 = System.nanoTime()
    var bytes = 0L
    files.foreach { f =>
      val in = fs.open(new Path(f))
      try {
        var n = in.read(buf)
        while (n > 0) { bytes += n; n = in.read(buf) }
      } finally in.close()
    }
    bytes / 1e6 / ((System.nanoTime() - t0) / 1e9)
  }

  /** Seconds spent in `nextBatch` alone over `files`, read sequentially:
    * every column, or just the first.
    */
  def nextBatchSeconds(files: Seq[String], allColumns: Boolean): Double = {
    val t0 = System.nanoTime()
    files.foreach { f =>
      val reader = OrcFile.createReader(new Path(f), OrcFile.readerOptions(conf))
      val schema = reader.getSchema
      val opts = reader.options()
      if (!allColumns) opts.include(firstColumn(schema))
      val it = reader.rows(opts)
      val batch = schema.createRowBatch(10000)
      try while (it.nextBatch(batch)) () finally { it.close(); reader.close() }
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Seconds for the engine's per-task loop, `FastOrcSum.sumLongStripes`,
    * over every stripe of `files`, run sequentially in this thread.
    */
  def sumStripesSeconds(spark: SparkSession, files: Seq[String]): (Double, Long) = {
    val splits = files.flatMap(f => graft.sources.FastOrcSum.stripeSplits(spark, f))
    val t0 = System.nanoTime()
    val s = graft.sources.FastOrcSum.sumLongStripes(conf, splits)
    ((System.nanoTime() - t0) / 1e9, s)
  }
}
