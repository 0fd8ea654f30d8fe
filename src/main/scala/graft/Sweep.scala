package graft

import org.apache.spark.sql.functions._

/** Parameter sweep (BASELINE.md §2), mirroring the reference's
  * NR_TASKLETS / rows-per-thread experiments
  * (`scripts/readerThreads.bash:3-7`): the scan microbenchmark — Q1
  * (SUM of first column) over snappy/zstd/none ORC lineitem — swept
  * over the vectorized reader batch size {1024, 4096, 10000}; the
  * reference's `-t` knob is the batch granularity, its codec is pinned
  * snappy — here both vary.
  *
  * Prints one JSON line per (codec, batch) cell:
  * {"sweep":"scan","codec":...,"batch":...,"sec":...,"mb":...,"rows":N}
  */
object Sweep {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = EngineSession.local("graft-sweep")

    val src = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val rows = src.count()

    val tag = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    for (codec <- Seq("snappy", "zstd", "none")) {
      val dest = s"${sources.Staging.stagingRoot()}/graft_sweep/$tag/${codec}_lineitem"
      // marker check + size listing through the Hadoop FS API, like the
      // rest of the staging layer: with a remote staging root
      // (hdfs:/s3a:) a java.io.File marker check is always false
      // (restage every run) and listFiles() NPEs.
      sources.Staging.ensureStaged(dest) {
        src.write.mode("overwrite").option("compression", codec).orc(dest)
      }
      val destPath = new org.apache.hadoop.fs.Path(dest)
      val bytes = destPath.getFileSystem(sources.Staging.hadoopConf())
        .listStatus(destPath)
        .filter(_.getPath.getName.endsWith(".orc")).map(_.getLen).sum
      for (batch <- Seq(1024, 4096, 10000)) {
        spark.conf.set("spark.sql.orc.columnarReaderBatchSize", batch.toString)
        def once(): Unit =
          // model-sized: 1 row — global sum, timed for the sweep
          spark.read.orc(dest).agg(sum("l_orderkey")).collect()
        once() // warm
        val times = Seq.fill(5) {
          val t0 = System.nanoTime(); once(); (System.nanoTime() - t0) / 1e9
        }
        val med = times.sorted.apply(times.size / 2)
        println(s"""{"sweep":"scan","codec":"$codec","batch":$batch,"sec":$med,"mb":${bytes / 1e6},"rows":$rows}""")
      }
    }
    // Reader-parallelism sweep — the literal shape of the reference's
    // readerThreads.bash experiment (threads = 1..N over a fixed ORC
    // table), here as FastOrcSum task parallelism: stripes are grouped
    // into `p` contiguous ranges, one sequential reader per task, like
    // the reference's per-thread row ranges; the per-task loop IS
    // FastOrcSum.sumLongStripes, so the sweep measures the operator's
    // own code. A 1 MiB stripe size gives the file enough stripes
    // (~16 at sf0.1) for grouping to matter. The copy is
    // fingerprint-staged like every other derived fixture.
    import graft.sources.{FastOrcSum, Staging}
    val dest = Staging.fingerprintPath("graft_sweep", sfDir, "lineitem.parquet",
      "snappy_smallstripe")
    Staging.ensureStaged(dest) {
      src.coalesce(1).write.mode("overwrite")
        .option("compression", "snappy").option("orc.stripe.size", "1048576")
        .orc(dest)
    }
    val splits = FastOrcSum.stripeSplits(spark, dest)
    val hconf = org.apache.spark.sql.graft.Shims.broadcastHadoopConf(spark)
    for (p <- Seq(1, 2, 4, 8, 16, 32)) {
      val groups = splits.grouped(math.max(1, (splits.size + p - 1) / p)).toSeq
      def once(): Long =
        spark.sparkContext.parallelize(groups, groups.size)
          .map(g => FastOrcSum.sumLongStripes(hconf.conf, g))
          .reduce(_ + _)
      once() // warm
      val times = Seq.fill(5) {
        val t0 = System.nanoTime(); once(); (System.nanoTime() - t0) / 1e9
      }
      val med = times.sorted.apply(times.size / 2)
      // report the ACTUAL task count — above the stripe count the
      // decomposition can't grow, and the row must say so
      println(s"""{"sweep":"reader_tasks","requested":$p,"tasks":${groups.size},"sec":$med,"rows":$rows}""")
    }
    spark.stop()
  }
}
