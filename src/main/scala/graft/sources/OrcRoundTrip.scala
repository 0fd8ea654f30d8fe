package graft.sources

import graft.{QueryEntry, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's actual I/O path: snappy-compressed ORC scan
  * (`orc-parser/reader.cc:34-58`, `Makefile:19-28`). The engine writes
  * each fixture to ORC(snappy) and reads it back through the native
  * vectorized reader (batch size pinned to the reference's 10k-row
  * stride by EngineSession), so the t1 round-trip invariant of
  * SURVEY §2.5 is a first-class query: ORC-sourced answers must equal
  * the Parquet-sourced oracle's.
  */
object OrcRoundTrip {

  /** Scratch location of the ORC copy for (fixture dir, table) —
    * fingerprint-keyed, see [[Staging]].
    */
  def orcPath(dir: String, name: String): String =
    Staging.fingerprintPath("graft_orc", dir, s"$name.parquet", name)

  /** Write `name` to ORC(snappy) under the engine scratch dir (once per
    * (sfDir, name, source fingerprint) — subsequent calls reuse it) and
    * return the ORC-backed frame.
    */
  def orcCopy(spark: SparkSession, dir: String, name: String): DataFrame = {
    val dest = orcPath(dir, name)
    Staging.ensureStaged(dest) {
      spark.read.parquet(s"$dir/$name.parquet")
        .write.mode("overwrite").option("compression", "snappy").orc(dest)
    }
    memoRead(spark, dest)(spark.read.orc(dest))
  }

  /** Staged frame per (session, staged path): the path embeds the
    * source fingerprint, so reuse is staleness-safe; avoids re-listing
    * + schema inference on every benchmark run (the `Tables.load`
    * rationale applied to staged copies).
    */
  private[sources] def memoRead(spark: SparkSession, dest: String)(
      read: => DataFrame): DataFrame =
    graft.Reuse.memo(spark, ("staged", dest))(read)

  /** JSON-Lines copy of a fixture table — staged once per source
    * fingerprint; read back with the parquet source's schema so the
    * scan needs no inference pass (the 100 TB contract for schemaful
    * text formats).
    */
  def jsonlCopy(spark: SparkSession, dir: String, name: String): DataFrame = {
    val dest = Staging.fingerprintPath("graft_jsonl", dir, s"$name.parquet", name)
    Staging.ensureStaged(dest) {
      Tables.load(spark, dir, name).write.mode("overwrite").json(dest)
    }
    memoRead(spark, dest)(
      spark.read.schema(Tables.load(spark, dir, name).schema).json(dest))
  }

  /** CSV copy of a fixture table — quoted/escaped with a header,
    * staged once per source fingerprint, read back with the parquet
    * source's schema (no inference pass, no schema drift: at 100 TB an
    * inference scan would read the corpus twice and could still guess
    * wrong).
    */
  def csvCopy(spark: SparkSession, dir: String, name: String): DataFrame = {
    val dest = Staging.fingerprintPath("graft_csv", dir, s"$name.parquet", name)
    Staging.ensureStaged(dest) {
      Tables.load(spark, dir, name).write.mode("overwrite")
        .option("header", "true")
        .csv(dest)
    }
    memoRead(spark, dest)(
      spark.read
        .schema(Tables.load(spark, dir, name).schema)
        .option("header", "true")
        .csv(dest))
  }

  /** One staging policy for every derived-from-lineitem ORC copy:
    * fingerprint path keyed on the real source file, write-once via
    * [[Staging]], destination returned for callers that need the path
    * itself (the native scan).
    */
  private def stagedDerivedOrc(spark: SparkSession, dir: String, label: String)(
      write: (DataFrame, String) => Unit): String = {
    val dest = Staging.fingerprintPath("graft_orc", dir, "lineitem.parquet", label)
    Staging.ensureStaged(dest) {
      write(spark.read.parquet(s"$dir/lineitem.parquet"), dest)
    }
    dest
  }

  /** The full ORC type surface the reference links (`reader.cc:1`
    * includes orc/OrcFile.hh — struct/list/map/decimal/date among the
    * column kinds; SURVEY §1.3): lineitem re-shaped so one table
    * carries STRUCT, ARRAY, MAP, DECIMAL(12,2)/(18,2) and DATE columns.
    */
  def nestedProjection(li: DataFrame): DataFrame =
    li.select(
      col("l_orderkey"),
      struct(col("l_partkey").as("pk"), col("l_quantity").as("qty")).as("pq"),
      array(
        col("l_extendedprice").cast(DecimalType(18, 2)),
        col("l_discount").cast(DecimalType(18, 2)),
      ).as("prices"),
      map(col("l_returnflag"), col("l_quantity")).as("flag_qty"),
      col("l_extendedprice").cast(DecimalType(12, 2)).as("price_dec"),
      col("l_shipdate").cast(DateType).as("ship_date"),
    )

  /** ORC(snappy) copy of the nested-typed lineitem projection — staged
    * once per source fingerprint like [[orcCopy]] (fingerprint on the
    * real source file, not the synthetic table name).
    */
  def nestedOrcCopy(spark: SparkSession, dir: String): DataFrame = {
    val dest = stagedDerivedOrc(spark, dir, "lineitem_nested") { (df, d) =>
      nestedProjection(df)
        .write.mode("overwrite").option("compression", "snappy").orc(d)
    }
    memoRead(spark, dest)(spark.read.orc(dest))
  }

  /** Twin ORC copies for the file-level bloom-filter index surface
    * (SURVEY §2.2 sargs row: the reference builds the full sargs
    * machinery incl. bloom evaluation — `orc-parser/Makefile:37` adds
    * `../orc/c++/src/sargs`). Identical layout — single file, natural
    * row order, 1k-row index stride — differing ONLY in
    * `orc.bloom.filter.columns=l_partkey`. l_partkey is scattered, so
    * every row group's min/max spans nearly the whole key range and a
    * POINT predicate prunes nothing through min/max indexes alone;
    * with the bloom index the reader skips every row group whose
    * filter rejects the probe value. OrcSpec measures exactly that
    * differential (scan output rows bloom ≪ no-bloom).
    */
  def bloomOrcPath(spark: SparkSession, dir: String, withBloom: Boolean): String =
    stagedDerivedOrc(spark, dir,
      if (withBloom) "lineitem_bloom" else "lineitem_nobloom") { (df, d) =>
      val w = df.select("l_orderkey", "l_partkey", "l_quantity")
        .coalesce(1)
        .write.mode("overwrite").option("compression", "snappy")
        .option("orc.row.index.stride", "1000")
      (if (withBloom)
        w.option("orc.bloom.filter.columns", "l_partkey")
          .option("orc.bloom.filter.fpp", "0.05")
      else w).orc(d)
    }

  /** ORC frame over the bloom-indexed lineitem copy. */
  def bloomOrcCopy(spark: SparkSession, dir: String): DataFrame = {
    val dest = bloomOrcPath(spark, dir, withBloom = true)
    memoRead(spark, dest)(spark.read.orc(dest))
  }

  /** Hive-partitioned, multi-part ORC(snappy) copy of lineitem —
    * `l_returnflag=<v>/part-*.orc`, several part files per partition:
    * the multi-part directory layout the reference's scripts consume
    * (`scripts/readerThreads.bash:6`,
    * `tpcds-data-orc32/store_sales/part-00000-...`). Partition values
    * become directory keys, so an equality predicate prunes whole
    * directories before any ORC footer is read (spec-asserted via
    * PartitionFilters + the scan's file-count metric).
    */
  def partitionedOrcCopy(spark: SparkSession, dir: String): DataFrame = {
    val dest = stagedDerivedOrc(spark, dir, "lineitem_byflag") { (df, d) =>
      df.repartition(4) // several part files per partition directory
        .write.mode("overwrite").option("compression", "snappy")
        .partitionBy("l_returnflag").orc(d)
    }
    memoRead(spark, dest)(spark.read.orc(dest))
  }

  val entries: Seq[QueryEntry] = Seq(
    // Parquet → ORC(snappy) → scan → grouped agg; oracle runs on the
    // Parquet source, so a match proves the ORC write/read path is
    // value-preserving (types, nulls, timestamps).
    QueryEntry.sql(
      "q27_orc_roundtrip",
      """SELECT l_returnflag, l_linestatus,
        |       SUM(l_quantity) AS sum_qty,
        |       CAST(SUM(l_orderkey) AS BIGINT) AS sum_ok,
        |       COUNT(*) AS cnt
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    ) { (s, dir) =>
      orcCopy(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          sum("l_orderkey").as("sum_ok"),
          count(lit(1)).as("cnt"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    },

    // The reference program itself — SUM of the first column of an ORC
    // table (`reader.cc:161`) — over the ORC copy, behind a sarg-able
    // range predicate: `l_partkey BETWEEN` reaches the ORC reader as
    // PushedFilters (unlike a modulo, which Spark evaluates post-scan),
    // so row-group skipping genuinely participates in this query.
    // OrcSpec asserts the pushdown plan string; the metrics-based
    // skipping proof (output rows ≪ table rows on a multi-stripe sorted
    // copy) lives in OrcSpec's stride-skip test.
    QueryEntry.sql(
      "q28_orc_sum_filtered",
      """SELECT CAST(SUM(l_orderkey) AS BIGINT) AS sum_ok, COUNT(*) AS cnt
        |FROM lineitem WHERE l_partkey BETWEEN 100 AND 400""".stripMargin,
    ) { (s, dir) =>
      orcCopy(s, dir, "lineitem")
        .filter(col("l_partkey").between(100, 400))
        .agg(sum("l_orderkey").as("sum_ok"), count(lit(1)).as("cnt"))
    },
    // Nested / decimal / date ORC round-trip: parquet → nested-typed
    // projection (struct/array/map/decimal/date) → ORC(snappy) → scan →
    // aggregates over fields INSIDE the nested types. The oracle
    // recomputes everything from the flat parquet source, so a match
    // proves the ORC writer+reader preserve the full type surface.
    QueryEntry.sql(
      "q46_orc_nested_types",
      """SELECT CAST(SUM(l_partkey) AS BIGINT) AS sum_pk,
        |       SUM(l_quantity) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price12,
        |       SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS sum_qty_r,
        |       strftime(MIN(CAST(l_shipdate AS DATE)), '%Y-%m-%d') AS min_ship,
        |       strftime(MAX(CAST(l_shipdate AS DATE)), '%Y-%m-%d') AS max_ship,
        |       COUNT(*) AS cnt
        |FROM lineitem""".stripMargin,
    ) { (s, dir) =>
      nestedOrcCopy(s, dir).agg(
        sum(col("pq.pk")).as("sum_pk"),
        sum(col("pq.qty")).as("sum_qty"),
        sum(element_at(col("prices"), 1)).cast(DoubleType).as("sum_price"),
        sum(element_at(col("prices"), 2)).cast(DoubleType).as("sum_disc"),
        sum(col("price_dec")).cast(DoubleType).as("sum_price12"),
        sum(element_at(col("flag_qty"), lit("R"))).as("sum_qty_r"),
        date_format(min(col("ship_date")), "yyyy-MM-dd").as("min_ship"),
        date_format(max(col("ship_date")), "yyyy-MM-dd").as("max_ship"),
        count(lit(1)).as("cnt"),
      )
    },

    // Partitioned multi-file ORC layout under the gate: the engine
    // reads the Hive-partitioned copy with a partition-key predicate
    // (pruned to one directory subtree before any footer I/O); the
    // oracle computes the same rollup from the flat parquet source, so
    // a match proves partitioned write+read is value-preserving —
    // including the partition column's round-trip through directory
    // keys.
    QueryEntry.sql(
      "q48_orc_partitioned",
      """SELECT l_linestatus, CAST(SUM(l_orderkey) AS BIGINT) AS sum_ok,
        |       COUNT(*) AS cnt
        |FROM lineitem WHERE l_returnflag = 'R'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    ) { (s, dir) =>
      partitionedOrcCopy(s, dir)
        .filter(col("l_returnflag") === "R")
        .groupBy("l_linestatus")
        .agg(sum("l_orderkey").as("sum_ok"), count(lit(1)).as("cnt"))
        .orderBy("l_linestatus")
    },

    // The native path's double-column branch under the gate: an ORC
    // copy with l_quantity leading, summed by the range-parallel
    // DoubleColumnVector loop. l_quantity is integral-valued, so the
    // double partial sums are exact and order-free — the oracle's SUM
    // matches bit-for-bit (the same reasoning as q01's long path).
    QueryEntry.sql(
      "q60_fast_orc_double",
      "SELECT SUM(l_quantity) AS sum_qty FROM lineitem",
    ) { (s, dir) =>
      import s.implicits._
      val dest = stagedDerivedOrc(s, dir, "lineitem_qtyfirst") { (df, d) =>
        df.select(col("l_quantity"), col("l_orderkey"))
          .write.mode("overwrite").option("compression", "snappy").orc(d)
      }
      Seq(FastOrcSum.sumFirstDoubleColumn(s, dest)).toDF("sum_qty")
    },

    // Source-format breadth beyond ORC/parquet: documents staged as
    // JSON Lines (the interchange format most text corpora arrive in),
    // read back through the JSON source with an explicit schema (no
    // inference pass at scale), aggregated under the parquet oracle —
    // a match proves the JSONL write+read path value-preserving,
    // including multi-byte text.
    QueryEntry.sql(
      "q59_jsonl_roundtrip",
      """SELECT lang, COUNT(*) AS cnt, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(MIN(doc_id) AS BIGINT) AS min_id
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    ) { (s, dir) =>
      jsonlCopy(s, dir, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("cnt"), sum("n_chars").as("sum_chars"),
          min("doc_id").as("min_id"))
        .orderBy("lang")
    },

    // CSV source round-trip: orders through a quoted, headered CSV
    // copy and back under the supplied parquet schema; the oracle runs
    // on the parquet source, so a hash match proves the text format
    // preserved longs, doubles, timestamps and strings exactly —
    // including the comma-bearing priority strings the quoting must
    // survive.
    QueryEntry.sql(
      "q73_csv_roundtrip",
      """SELECT o_orderpriority, COUNT(*) AS cnt,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |       strftime(MIN(CAST(o_orderdate AS TIMESTAMP)), '%Y-%m-%d') AS first_day
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    ) { (s, dir) =>
      csvCopy(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("total"),
          date_format(min(col("o_orderdate")), "yyyy-MM-dd").as("first_day"),
        )
        .orderBy("o_orderpriority")
    },

    // Point lookup through the bloom-indexed ORC copy: the equality
    // sarg reaches the reader (PushedFilters), the bloom index does
    // the row-group skipping min/max can't (OrcSpec proves the
    // skipping differentially), and the oracle recomputes the
    // aggregate from the parquet source — value-preservation and
    // index-correctness (no matching row lost to a bloom) in one gate.
    QueryEntry.sql(
      "q95_orc_bloom_lookup",
      """SELECT CAST(SUM(l_orderkey) AS BIGINT) AS sum_ok,
        |       SUM(l_quantity) AS sum_qty, COUNT(*) AS cnt
        |FROM lineitem WHERE l_partkey = 100""".stripMargin,
    ) { (s, dir) =>
      bloomOrcCopy(s, dir)
        .filter(col("l_partkey") === 100)
        .agg(sum("l_orderkey").as("sum_ok"),
          sum("l_quantity").as("sum_qty"), count(lit(1)).as("cnt"))
    },

    // The reference program through the hot path: range-parallel
    // native column-vector scan (FastOrcSum) over the ORC copy — the
    // custom operator itself sits under the DuckDB gate (oracle runs
    // the same sum on the parquet source).
    QueryEntry.sql(
      "q40_fast_orc_sum",
      "SELECT CAST(SUM(l_orderkey) AS BIGINT) AS sum_ok FROM lineitem",
    ) { (s, dir) =>
      import s.implicits._
      orcCopy(s, dir, "lineitem") // ensure the ORC copy exists
      Seq(FastOrcSum.sumFirstLongColumn(s, orcPath(dir, "lineitem")))
        .toDF("sum_ok")
    },
  )
}
