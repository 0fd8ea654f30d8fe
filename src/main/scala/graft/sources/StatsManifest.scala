package graft.sources

import graft.{QueryEntry, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** File-level min/max statistics manifest — the Iceberg/Delta data-
  * skipping pattern: keep one row of column bounds per data FILE, and
  * answer a range predicate by consulting the manifest FIRST, handing
  * the scan only the files whose bounds intersect. Where q48 prunes
  * partition DIRECTORIES by path value and q92/q95 skip ROW GROUPS
  * inside files the reader already opened, the manifest prunes at the
  * planning layer: non-matching files are never listed, opened, or
  * scheduled — at 100 TB the difference between a 7-year table scan
  * and touching the one year the query asks for.
  *
  * Scale shape: the manifest is one row per file (bounded by file
  * count, not rows) built by ONE distributed pass over the staged
  * copy and memoized; planning collects only that model-sized frame —
  * the same driver-state class as Catalyst's own file listing, which
  * is the layer this operator stands in for. The data read after
  * pruning still carries the row-level predicate, so correctness
  * never depends on the manifest (it can only skip files the
  * predicate would reject wholesale).
  */
object StatsManifest {

  /** Shipdate-range-clustered files: the clustered write that makes
    * file-level bounds selective (unclustered writes give every file
    * the full min/max range and the manifest prunes nothing — same
    * story as z-order, one dimension). Partition count is EXPLICIT so
    * AQE cannot coalesce the small fixture into one file — the layout,
    * not the optimizer, owns the file boundaries.
    */
  val Slices = 8

  def stagedPath(dir: String): String =
    Staging.fingerprintPath("graft_manifest", dir, "lineitem.parquet",
      s"lineitem_ranged$Slices")

  def stagedLineitem(spark: SparkSession, dir: String): String = {
    val dest = stagedPath(dir)
    Staging.ensureStaged(dest) {
      Tables.load(spark, dir, "lineitem")
        .repartitionByRange(Slices, col("l_shipdate"))
        .write.mode("overwrite").parquet(dest)
    }
    dest
  }

  /** (file, lo, hi) per data file under `staged` — memoized per
    * (session, staged path); model-sized (row count = file count).
    * Bounds are carried as `yyyy-MM-dd HH:mm:ss` strings (lexicographic order ≡ time order
    * in that format), sidestepping the external type of TIMESTAMP_NTZ
    * (the fixture's parquet `timestamp[ms]` with no UTC adjustment).
    */
  def manifest(spark: SparkSession, staged: String): Array[(String, String, String)] =
    graft.Reuse.memo(spark, ("manifest", staged)) {
      spark.read.parquet(staged)
        .groupBy(input_file_name().as("file"))
        .agg(
          date_format(min("l_shipdate"), "yyyy-MM-dd HH:mm:ss").as("lo"),
          date_format(max("l_shipdate"), "yyyy-MM-dd HH:mm:ss").as("hi"))
        // model-sized: ≤n_files rows — one (lo, hi) bound per data file
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    }

  /** The staged files whose [lo, hi] bounds intersect [from, to). */
  def prunedFiles(spark: SparkSession, staged: String,
      from: String, to: String): (Array[String], Int) = {
    val all = manifest(spark, staged)
    (all.collect { case (p, lo, hi) if hi >= from && lo < to => p },
      all.length)
  }

  /** Range-predicate scan through the manifest: plan on file bounds,
    * then apply the exact row predicate to the surviving files only.
    */
  def prunedScan(spark: SparkSession, dir: String,
      from: String, to: String): DataFrame = {
    val staged = stagedLineitem(spark, dir)
    val (files, _) = prunedFiles(spark, staged, from, to)
    // Zero surviving files: keep the schema by scanning the staged
    // root under an always-false predicate (planned away to an empty
    // relation — no file is read).
    val src =
      if (files.isEmpty) spark.read.parquet(staged).filter(lit(false))
      else spark.read.parquet(files.toIndexedSeq: _*)
    src.filter(col("l_shipdate") >= lit(from).cast(TimestampType) &&
      col("l_shipdate") < lit(to).cast(TimestampType))
  }

  val entries: Seq[QueryEntry] = Seq(
    // 1995 revenue answered through the manifest-pruned file set; the
    // oracle computes the same aggregate over the FULL original table,
    // so a hash match proves the pruning lost no qualifying row (and
    // ManifestSpec proves it actually skipped files).
    QueryEntry.sql(
      "q113_stats_manifest",
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |               * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |         AS revenue,
        |       COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'""".stripMargin,
    ) { (s, dir) =>
      prunedScan(s, dir, "1995-01-01 00:00:00", "1996-01-01 00:00:00")
        .agg(
          sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1) - col("l_discount").cast(DecimalType(18, 2))))
            .cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_rows"),
        )
    },
  )
}
