package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.hive.ql.exec.vector.{BytesColumnVector, LongColumnVector, UnionColumnVector}
import org.apache.orc.{OrcFile, TypeDescription}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.QueryEntry

/** ORC `uniontype` — the last ORC type with zero engine coverage
  * (SURVEY §1.3; the reference links the full `orc/OrcFile.hh` type
  * system at `orc-parser/reader.cc:1`). Spark's built-in reader
  * rejects union files outright ([[TimestampInstantOrc.builtinUnreadableCategories]]
  * names it; `OrcInstantSpec` pins the rejection), so support goes
  * through the ORC core library like [[TimestampInstantOrc]]:
  * per-partition core writers, reads planned like Spark's own file
  * scans ([[FastOrcSum.scanTasks]]), and the
  * union decoded to Spark's natural relational encoding — a `tag`
  * discriminator plus one nullable column per branch (exactly how
  * Hive's union_to_struct UDF and Trino expose it; a true sum type
  * does not exist in the relational model).
  *
  * The q168 gate writes a union column derived deterministically from
  * lineitem (even linenumber → int branch, odd → string branch),
  * reads it back, and aggregates per branch under a DuckDB oracle
  * that recomputes from the parquet source — so branch routing, both
  * branch encodings, and the tag discriminator are all value-checked.
  */
object OrcUnionType {

  private val UnionSchema =
    "struct<id:bigint,u:uniontype<int,string>>"

  /** lineitem staged as a union-typed ORC directory: id =
    * l_orderkey·10 + l_linenumber (unique), u = int(l_partkey mod
    * 1000) on even linenumbers, string(l_returnflag) on odd.
    */
  def stagedUnionCopy(spark: SparkSession, dir: String): String = {
    val dest = Staging.fingerprintPath(
      "graft_orc_union", dir, "lineitem.parquet", "lineitem_union")
    Staging.ensureStaged(dest) {
      import spark.implicits._
      Staging.mkdirs(dest)
      val hconf = org.apache.spark.sql.graft.Shims.broadcastHadoopConf(spark)
      val written = graft.Tables(spark, dir).lineitem
        .select(
          (col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
          (col("l_linenumber") % 2 === 0).as("isInt"),
          (col("l_partkey") % 1000).cast("int").as("iv"),
          col("l_returnflag").as("sv"))
        .as[(Long, Boolean, Int, String)]
        .repartition(4, col("id"))
        .mapPartitions { rows =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val conf: Configuration = hconf.conf
          val schema = TypeDescription.fromString(UnionSchema)
          val w = OrcFile.createWriter(
            new Path(f"$dest/part-$pid%05d.orc"),
            OrcFile.writerOptions(conf).setSchema(schema).overwrite(true))
          var n = 0L
          try {
            val batch = schema.createRowBatch(10000)
            val idv = batch.cols(0).asInstanceOf[LongColumnVector]
            val uv = batch.cols(1).asInstanceOf[UnionColumnVector]
            val ints = uv.fields(0).asInstanceOf[LongColumnVector]
            val strs = uv.fields(1).asInstanceOf[BytesColumnVector]
            rows.foreach { case (id, isInt, iv, sv) =>
              val i = batch.size
              idv.vector(i) = id
              if (isInt) { uv.tags(i) = 0; ints.vector(i) = iv.toLong }
              else {
                val b = sv.getBytes("UTF-8")
                uv.tags(i) = 1
                strs.setVal(i, b, 0, b.length)
              }
              batch.size += 1
              n += 1
              if (batch.size == batch.getMaxSize) { w.addRowBatch(batch); batch.reset() }
            }
            if (batch.size > 0) w.addRowBatch(batch)
          } finally w.close()
          Iterator.single(n)
        }
        .reduce(_ + _)
      require(written > 0, s"union staging wrote no rows to $dest")
      Staging.touch(dest)
    }
    dest
  }

  /** Read a union-typed ORC directory back as (id, tag, int_val,
    * str_val) — tag discriminates, the non-selected branch is null.
    * Tasks as [[FastOrcSum.scanTasks]] plans them, one reader per range.
    */
  def readUnion(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val tasks = FastOrcSum.scanTasks(spark, path)
    require(tasks.nonEmpty, s"no ORC files under $path")
    FastOrcSum.readRanges(spark, tasks) { (reader, r) =>
      val schema = reader.getSchema
      require(schema.toString == UnionSchema,
        s"unexpected union-file schema: $schema")
      val rowsIt = reader.rows(reader.options().range(r.offset, r.length))
      val batch = schema.createRowBatch(10000)
      val idv = batch.cols(0).asInstanceOf[LongColumnVector]
      val uv = batch.cols(1).asInstanceOf[UnionColumnVector]
      val ints = uv.fields(0).asInstanceOf[LongColumnVector]
      val strs = uv.fields(1).asInstanceOf[BytesColumnVector]
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Int, Option[Long], Option[String])]
      try {
        while (rowsIt.nextBatch(batch)) {
          // decode guards: the schema require() limits this reader to
          // the staged layout, but a foreign file matching the schema
          // could still carry nulls or run-length (isRepeating)
          // batches this dense decode would silently misread as
          // garbage tags/values — fail loudly instead
          require(idv.noNulls && !idv.isRepeating && uv.noNulls && !uv.isRepeating,
            s"${r.file}: nulls or repeating batches in union column — unsupported")
          require(!ints.isRepeating && !strs.isRepeating,
            s"${r.file}: repeating union branch vectors — unsupported")
          var i = 0
          while (i < batch.size) {
            val tag = uv.tags(i)
            require(
              if (tag == 0) ints.noNulls || !ints.isNull(i)
              else strs.noNulls || !strs.isNull(i),
              s"${r.file}: null in selected union branch at row $i — unsupported")
            out += ((idv.vector(i), tag,
              if (tag == 0) Some(ints.vector(i)) else None,
              if (tag == 1) Some(strs.toString(i)) else None))
            i += 1
          }
        }
      } finally rowsIt.close()
      out
    }.toDF("id", "tag", "int_val", "str_val")
  }

  val entries: Seq[QueryEntry] = Seq(
    // Parquet lineitem -> union ORC (core writer) -> range-parallel
    // core read -> per-branch aggregates; the oracle recomputes branch
    // routing and both encodings from the parquet source.
    QueryEntry.sql(
      "q168_orc_uniontype",
      """SELECT
        |  CAST(SUM(CASE WHEN l_linenumber % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_int,
        |  CAST(SUM(CASE WHEN l_linenumber % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_str,
        |  CAST(SUM(CASE WHEN l_linenumber % 2 = 0 THEN l_partkey % 1000 END) AS BIGINT) AS sum_int,
        |  MIN(CASE WHEN l_linenumber % 2 = 1 THEN l_returnflag END) AS min_str,
        |  MAX(CASE WHEN l_linenumber % 2 = 1 THEN l_returnflag END) AS max_str
        |FROM lineitem""".stripMargin,
    ) { (s, dir) =>
      readUnion(s, stagedUnionCopy(s, dir))
        .agg(
          sum(when(col("tag") === 0, 1L).otherwise(0L)).as("n_int"),
          sum(when(col("tag") === 1, 1L).otherwise(0L)).as("n_str"),
          sum(col("int_val")).as("sum_int"),
          min(col("str_val")).as("min_str"),
          max(col("str_val")).as("max_str"),
        )
    },
  )
}
