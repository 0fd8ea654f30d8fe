package graft

import graft.sources.OrcRoundTrip
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** The reference's I/O path: ORC + snappy.
  *
  * Includes the reference-fixture smoke from SURVEY §5.2: the engine
  * must reproduce the reference program's exact output
  * (`Sum first col:`, `reader.cc:161`) on the committed ORC file.
  */
class OrcSpec extends SparkSpec {
  import spark.implicits._

  test("reference ORC fixture: SUM(ss_sold_date_sk) = 2451897 (reader.cc:161)") {
    val df = spark.read.orc(
      "/root/reference/testfiles/store_sales-scale0-parts1.snappy.orc")
    val sumFirst = df.agg(sum(col(df.columns.head))).head.getLong(0)
    assert(sumFirst == 2451897L) // pinned via pyarrow over the same file
    assert(df.count() == 1L)
  }

  test("ORC round-trip is value-preserving incl. nulls and timestamps") {
    val rows = Seq(
      (1L, Some(3.14), Some("x"), Some(Timestamp.valueOf("2024-01-01 10:30:00"))),
      (2L, None, None, None),
      (3L, Some(-0.0), Some(""), Some(Timestamp.valueOf("1995-06-15 00:00:00"))),
    ).toDF("k", "d", "s", "t")
    val dest = s"${sys.props("java.io.tmpdir")}/graft_orc_spec"
    rows.write.mode("overwrite").option("compression", "snappy").orc(dest)
    val back = spark.read.orc(dest)
    assert(back.collect().toSet == rows.collect().toSet)
    // ORC reads every column nullable; names and types must round-trip.
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      rows.schema.map(f => (f.name, f.dataType)))
  }

  test("ORC-sourced aggregates equal parquet-sourced (t1 invariant)") {
    val orc = OrcRoundTrip.orcCopy(spark, sf, "lineitem")
      .agg(sum("l_orderkey"), count(lit(1))).head
    val pq = spark.read.parquet(s"$sf/lineitem.parquet")
      .agg(sum("l_orderkey"), count(lit(1))).head
    assert(orc == pq)
  }

  test("every fixture table round-trips through ORC(snappy) (t1 invariant)") {
    val names = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    for (n <- names) {
      val pq = spark.read.parquet(s"$sf/$n.parquet")
      val orc = OrcRoundTrip.orcCopy(spark, sf, n)
      assert(orc.count() == pq.count(), n)
      // value-level checksum over a stable per-row hash of all columns
      def checksum(df: org.apache.spark.sql.DataFrame) =
        // XOR-fold: order-independent and overflow-free (ANSI mode
        // rejects a long SUM of hashes)
        df.select(xxhash64(to_json(struct(df.columns.map(col): _*))).as("h"))
          .agg(expr("bit_xor(h)")).head.getLong(0)
      assert(checksum(orc) == checksum(pq), s"$n checksum")
    }
  }

  test("nested/decimal/date types round-trip through ORC(snappy) (SURVEY §1.3 type surface)") {
    val nested = OrcRoundTrip.nestedProjection(
      spark.read.parquet(s"$sf/lineitem.parquet").limit(500))
    val dest = s"${sys.props("java.io.tmpdir")}/graft_orc_nested_spec"
    nested.write.mode("overwrite").option("compression", "snappy").orc(dest)
    val back = spark.read.orc(dest)
    // schema (struct/array/map/decimal/date) and every value round-trip
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      nested.schema.map(f => (f.name, f.dataType)))
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.orderBy("l_orderkey", "pq.pk", "ship_date")
        .select(to_json(struct(df.columns.map(col): _*))).collect().map(_.getString(0))
    assert(key(back).sameElements(key(nested)))
  }

  test("row-group skipping is measured, not just asserted: selective scan emits ≪ table rows") {
    // The reference's stride-seek trick (`reader.cc:47`): a sorted
    // multi-row-group ORC file plus a sarg-able range predicate must
    // let the reader skip whole row groups — visible as the scan
    // node's output-rows metric, not merely a PushedFilters string.
    val dest = s"${sys.props("java.io.tmpdir")}/graft_orc_stride_spec"
    spark.read.parquet(s"$sf/lineitem.parquet")
      .coalesce(1).sortWithinPartitions("l_orderkey")
      .write.mode("overwrite")
      .option("compression", "snappy")
      .option("orc.row.index.stride", "1000")
      .orc(dest)
    val total = spark.read.orc(dest).count()
    val q = spark.read.orc(dest)
      .filter(col("l_orderkey").between(1, 300)).select("l_orderkey")
    val matching = q.collect().length.toLong
    val scanRows = q.queryExecution.executedPlan.collectLeaves()
      .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics("numOutputRows").value }
      .sum
    assert(matching > 0 && total > 3000, s"fixture too small: total=$total matching=$matching")
    // skipped: the scan emitted only the row groups overlapping the
    // range (sarg granularity), far less than the full table
    assert(scanRows >= matching && scanRows < total / 2,
      s"scan=$scanRows matching=$matching total=$total")
  }

  test("bloom-filter index skips row groups a min/max index can't (measured)") {
    // identical twin copies — hash-scattered keys, 1k stride, 50 row
    // groups — one with orc.bloom.filter.columns=key. A point probe on
    // a value that occurs ONCE, in-range: every group's min/max spans
    // nearly the whole key space (no pruning without blooms); the
    // bloom index must skip all but the one group that truly contains
    // it (+fpp noise). The fixture table is too small for this (6 row
    // groups, every partkey in all of them), so the corpus is
    // synthesized at spec scale through the same writer/reader path.
    val rows = spark.range(50000)
      .select(col("id").as("rowid"),
        pmod(xxhash64(col("id")), lit(1000000)).as("key"))
    // a MID-RANGE unique key: an extreme one would sit outside most
    // groups' [min,max] and let the plain index prune it, masking the
    // bloom's contribution
    val probe = rows.groupBy("key").count()
      .filter(col("count") === 1 && col("key").between(400000, 600000))
      .orderBy("key").head.getLong(0)
    def write(dest: String, withBloom: Boolean): Unit = {
      val w = rows.coalesce(1)
        .write.mode("overwrite").option("compression", "snappy")
        .option("orc.row.index.stride", "1000")
      (if (withBloom)
        w.option("orc.bloom.filter.columns", "key")
          .option("orc.bloom.filter.fpp", "0.05")
      else w).orc(dest)
    }
    def scanRows(dest: String): (Long, Long) = {
      val q = spark.read.orc(dest).filter(col("key") === probe).select("rowid")
      val matching = q.collect().length.toLong
      val scanned = q.queryExecution.executedPlan.collectLeaves()
        .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value }
        .sum
      (matching, scanned)
    }
    val noDest = s"${sys.props("java.io.tmpdir")}/graft_orc_bloom_no"
    val yesDest = s"${sys.props("java.io.tmpdir")}/graft_orc_bloom_yes"
    write(noDest, withBloom = false)
    write(yesDest, withBloom = true)
    val (m1, noBloom) = scanRows(noDest)
    val (m2, bloom) = scanRows(yesDest)
    assert(m1 == 1 && m2 == 1, s"probe $probe matches: $m1 vs $m2")
    // without blooms the scattered key defeats min/max: most groups read
    assert(noBloom > 25000, s"no-bloom scan $noBloom of 50000 — min/max pruned?")
    // with blooms the reader must skip the overwhelming majority
    assert(bloom >= m1 && bloom < noBloom / 4,
      s"bloom scan $bloom vs no-bloom $noBloom (matching $m1)")
    // and the sarg really reached the reader
    val plan = spark.read.orc(yesDest)
      .filter(col("key") === probe).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("key"), plan.take(1500))
  }

  test("char/varchar ORC: true types in the footer, pad/truncate semantics round-trip") {
    import spark.implicits._
    // the STAGED copy carries real char(1)/varchar(n) ORC types — the
    // footer must say so (Spark's own writer would have erased them)
    sources.CharVarcharOrc.charVarcharCopy(spark, sf).count()
    val staged = graft.sources.Staging.fingerprintPath(
      "graft_orc", sf, "lineitem.parquet", "lineitem_charvarchar")
    val orcFile = new java.io.File(staged).listFiles()
      .filter(_.getName.endsWith(".orc")).head
    val footer = org.apache.orc.OrcFile.createReader(
      new org.apache.hadoop.fs.Path(orcFile.getAbsolutePath),
      org.apache.orc.OrcFile.readerOptions(
        new org.apache.hadoop.conf.Configuration())).getSchema.toString
    assert(footer.contains("char(1)") && footer.contains("varchar(1)") &&
      footer.contains("varchar(10)"), footer)
    // padding/truncation: char(3) pads short values, varchar(2) truncates
    val dest = s"${sys.props("java.io.tmpdir")}/graft_orc_cv_sem"
    val fs = new org.apache.hadoop.fs.Path(dest).getFileSystem(
      spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(dest), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dest))
    val rows = Seq(("a", "xyz", "longvalue", 1L), ("bbb", "q", "s", 2L))
      .toDF("flag", "status", "ship", "ok").coalesce(1)
    sources.CharVarcharOrc.writeTyped(rows, dest,
      "struct<flag:char(3),status:varchar(2),ship:varchar(4),ok:bigint>")
    val back = spark.read.orc(dest).orderBy("ok")
      .as[(String, String, String, Long)].collect().toSeq
    assert(back == Seq(
      ("a  ", "xy", "long", 1L), // char pads, varchar truncates
      ("bbb", "q", "s", 2L),
    ))
  }

  test("partitioned ORC layout: multi-part files, pruned scan (reference multi-part dirs)") {
    val df = OrcRoundTrip.partitionedOrcCopy(spark, sf)
    // multi-part layout: >1 data file under at least one partition dir
    val q = df.filter(col("l_returnflag") === "R").select("l_orderkey", "l_returnflag")
    val rows = q.collect().length
    assert(rows > 0)
    val scans = q.queryExecution.executedPlan.collectLeaves()
      .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.nonEmpty)
    // partition pruning is in the plan, not a post-scan filter
    val planStr = q.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters") && planStr.contains("l_returnflag"),
      planStr.take(1500))
    // and it actually pruned: files read < total files in the copy
    val allFiles = scans.head.relation.location.inputFiles.length
    val readFiles = scans.map(_.metrics("numFiles").value).sum
    assert(readFiles < allFiles, s"read $readFiles of $allFiles files — nothing pruned")
    // the partition column round-trips as a real column
    assert(df.filter(col("l_returnflag").isNull).count() == 0)
    assert(df.count() == spark.read.parquet(s"$sf/lineitem.parquet").count())
  }

  test("all ORC codecs round-trip (Tier B codec surface)") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet").limit(200)
    val expected = li.agg(sum("l_orderkey"), count(lit(1))).head
    for (codec <- Seq("snappy", "zstd", "zlib", "lz4", "none")) {
      val dest = s"${sys.props("java.io.tmpdir")}/graft_orc_codec_$codec"
      li.write.mode("overwrite").option("compression", codec).orc(dest)
      assert(spark.read.orc(dest).agg(sum("l_orderkey"), count(lit(1))).head
        == expected, s"codec $codec")
    }
  }

  test("MIN/MAX/COUNT answered from ORC footer statistics (Tier B aggregate pushdown)") {
    // Footer-stats aggregation (`spark.sql.orc.aggregatePushdown`) is a
    // v2-datasource capability; the engine default stays on v1, so the
    // v2 reader is scoped to this check.
    val key = "spark.sql.sources.useV1SourceList"
    val prev = spark.conf.get(key)
    OrcRoundTrip.orcCopy(spark, sf, "lineitem") // ensure staged
    try {
      spark.conf.set(key, prev.split(",").filterNot(_ == "orc").mkString(","))
      // read fresh (not the memoized frame): the v1/v2 choice is baked
      // into the plan at read time, and this test needs the v2 reader
      val orcDf = spark.read.orc(OrcRoundTrip.orcPath(sf, "lineitem"))
        .agg(min("l_orderkey"), max("l_orderkey"), count(lit(1)))
      val plan = orcDf.queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation: [MIN(l_orderkey), MAX(l_orderkey), COUNT(*)]"),
        plan.take(1500))
      val pq = spark.read.parquet(s"$sf/lineitem.parquet")
        .agg(min("l_orderkey"), max("l_orderkey"), count(lit(1)))
      assert(orcDf.head == pq.head)
    } finally spark.conf.set(key, prev)
  }

  test("FastOrcSum (stripe-parallel native path) equals the DataFrame path") {
    import graft.sources.FastOrcSum
    // reference fixture — the reference program's exact output
    assert(FastOrcSum.sumFirstLongColumn(spark,
      "/root/reference/testfiles/store_sales-scale0-parts1.snappy.orc") == 2451897L)
    // fixture table — must equal spark.read.orc(...).agg(sum(first))
    OrcRoundTrip.orcCopy(spark, sf, "lineitem") // ensure written
    val dest = OrcRoundTrip.orcPath(sf, "lineitem")
    val df = spark.read.orc(dest)
    val expected = df.agg(sum(col(df.columns.head))).head.getLong(0)
    assert(FastOrcSum.sumFirstLongColumn(spark, dest) == expected)
    // stripe split planning finds the stripes
    assert(FastOrcSum.stripeSplits(spark, dest).nonEmpty)
  }

  test("FastOrcSum type dispatch: double first columns sum, mismatches fail loudly") {
    import graft.sources.FastOrcSum
    val longDest = OrcRoundTrip.orcPath(sf, "lineitem")
    OrcRoundTrip.orcCopy(spark, sf, "lineitem") // ensure written
    val dblDest = s"${sys.props("java.io.tmpdir")}/graft_orc_double_spec"
    spark.read.parquet(s"$sf/lineitem.parquet").select("l_quantity", "l_orderkey")
      .write.mode("overwrite").option("compression", "snappy").orc(dblDest)
    val expected = spark.read.orc(dblDest).agg(sum("l_quantity")).head.getDouble(0)
    val got = FastOrcSum.sumFirstDoubleColumn(spark, dblDest)
    assert(math.abs(got - expected) / math.abs(expected) < 1e-9, s"$got vs $expected")
    // wrong-family calls fail with a clear message, not a deep CCE
    val e1 = intercept[IllegalArgumentException](FastOrcSum.sumFirstLongColumn(spark, dblDest))
    assert(e1.getMessage.contains("DOUBLE"))
    val e2 = intercept[IllegalArgumentException](FastOrcSum.sumFirstDoubleColumn(spark, longDest))
    assert(e2.getMessage.contains("LONG"))
  }

  test("FastOrcSum sarg pass-through skips row groups (rowsScanned ≪ total)") {
    import graft.sources.FastOrcSum
    val dest = s"${sys.props("java.io.tmpdir")}/graft_orc_sarg_spec"
    spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey").coalesce(1).sortWithinPartitions("l_orderkey")
      .write.mode("overwrite")
      .option("compression", "snappy").option("orc.row.index.stride", "1000")
      .orc(dest)
    val total = spark.read.orc(dest).count()
    val expected = spark.read.orc(dest)
      .filter(col("l_orderkey").between(1, 300))
      .agg(sum("l_orderkey")).head.getLong(0)
    val (got, rowsScanned) =
      FastOrcSum.sumFirstLongColumnFiltered(spark, dest, Some((1L, 300L)))
    assert(got == expected, s"$got vs $expected")
    // the sarg skipped most row groups: far fewer rows were delivered
    // than the table holds
    assert(rowsScanned < total / 2, s"scanned $rowsScanned of $total rows — no skipping")
  }

  test("FastOrcSum on empty input: no .orc file and a zero-row file both sum to 0") {
    import graft.sources.FastOrcSum
    import org.apache.hadoop.fs.Path
    import org.apache.orc.{OrcFile, TypeDescription}
    val root = new Path(s"${sys.props("java.io.tmpdir")}/graft_orc_empty_spec")
    val conf = spark.sessionState.newHadoopConf()
    val fs = root.getFileSystem(conf)
    fs.delete(root, true)
    val bare = new Path(root, "bare")
    fs.mkdirs(bare)
    fs.create(new Path(bare, "_SUCCESS")).close()
    assert(FastOrcSum.sumFirstLongColumn(spark, bare.toString) == 0L)
    assert(FastOrcSum.sumFirstLongColumnFiltered(spark, bare.toString, Some((1L, 9L))) == ((0L, 0L)))
    assert(FastOrcSum.sumFirstDoubleColumn(spark, bare.toString) == 0.0)
    for ((name, schema) <- Seq("long" -> "struct<k:bigint>", "double" -> "struct<d:double>")) {
      OrcFile.createWriter(new Path(root, s"$name/part-00000.orc"),
        OrcFile.writerOptions(conf).setSchema(TypeDescription.fromString(schema))).close()
    }
    assert(FastOrcSum.sumFirstLongColumnFiltered(spark, s"$root/long", None) == ((0L, 0L)))
    assert(FastOrcSum.sumFirstDoubleColumn(spark, s"$root/double") == 0.0)
  }

  test("FastOrcSum plans Spark's file-scan tasks: ranges tile the files, sums and sarg skips hold") {
    import graft.sources.FastOrcSum
    import org.apache.hadoop.fs.Path
    val dest = s"${sys.props("java.io.tmpdir")}/graft_orc_tiling_spec"
    // three sorted files of 20 small stripes each; the hex pad column
    // gives the stripes bytes for the ranges to cut through
    spark.range(0, 60000, 1, 3)
      .select(col("id").as("k"), sha2(col("id").cast("string"), 256).as("pad"))
      .write.mode("overwrite").option("compression", "snappy")
      .option("orc.stripe.row.count", "1000").option("orc.row.index.stride", "1000")
      .orc(dest)
    val keys = Seq("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    keys.zip(Seq("200000", "1024")).foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val tasks = FastOrcSum.scanTasks(spark, dest)
      val files = spark.read.orc(dest).inputFiles.map(f => new Path(f).toString).toSet
      assert(tasks.size == spark.read.orc(dest).rdd.getNumPartitions)
      // every file is cut into several contiguous ranges from byte 0 to its end
      val conf = spark.sessionState.newHadoopConf()
      val byFile = tasks.flatten.groupBy(_.file)
      assert(byFile.keySet == files)
      for ((f, rs) <- byFile) {
        val sorted = rs.sortBy(_.offset)
        assert(sorted.size > 1, s"$f was not cut")
        assert(sorted.head.offset == 0L)
        sorted.zip(sorted.tail).foreach { case (a, b) => assert(a.offset + a.length == b.offset) }
        val p = new Path(f)
        assert(sorted.last.offset + sorted.last.length == p.getFileSystem(conf).getFileStatus(p).getLen)
      }
      val df = spark.read.orc(dest)
      val (total, all) = df.agg(count(lit(1)), sum("k")).as[(Long, Long)].head
      assert(FastOrcSum.stripeSplits(spark, dest).size == 3 * 20)
      assert(FastOrcSum.sumFirstLongColumnFiltered(spark, dest, None) == ((all, total)))
      assert(FastOrcSum.sumFirstLongColumn(spark, dest) == all)
      val (lo, hi) = (25000L, 25500L)
      val want = df.filter(col("k").between(lo, hi)).agg(sum("k")).head.getLong(0)
      val (got, scanned) = FastOrcSum.sumFirstLongColumnFiltered(spark, dest, Some((lo, hi)))
      assert(got == want, s"$got vs $want")
      assert(scanned < total / 10, s"scanned $scanned of $total rows — no skipping")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("ORC scan prunes columns and pushes filters (Tier B sargs)") {
    val df = OrcRoundTrip.orcCopy(spark, sf, "lineitem")
      .filter(col("l_orderkey") > 1000)
      .select("l_orderkey")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_orderkey), GreaterThan(l_orderkey,1000)]"), plan.take(1500))
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint>"), plan.take(1500))
  }
}
