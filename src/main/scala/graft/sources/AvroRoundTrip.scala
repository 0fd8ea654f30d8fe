package graft.sources

import org.apache.avro.Schema
import org.apache.avro.file.{CodecFactory, DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.QueryEntry

/** Avro container-file round-trip — the interchange format training
  * pipelines meet at the Kafka/ingest boundary. This Spark build ships
  * the Avro CORE library (`avro-1.12.1.jar`) but not the `spark-avro`
  * connector, so the source goes through the core API with the same
  * distributed decomposition as the other native-format paths
  * ([[TimestampInstantOrc]], [[FastOrcSum]]):
  *
  *  - write: one `DataFileWriter` per Spark partition (`mapPartitions`
  *    — the documented last-resort seam; there is no Catalyst writer
  *    for a format Spark has no connector for), snappy-coded blocks;
  *  - read: one task per container file, `DataFileReader` decoding to
  *    rows. Avro files are block-splittable; at 100 TB the read side
  *    would cut files into byte ranges exactly like
  *    [[FastOrcSum.scanTasks]] does for ORC (per-file tasks
  *    are the fixture-scale simplification of the same shape, and the
  *    write side already yields one file per upstream partition, so
  *    file count scales with the cluster).
  *
  * The q167 gate aggregates the read-back against the DuckDB oracle on
  * the parquet source, so schema declaration, writer encode, and
  * reader decode are all value-checked (types: long, double, string).
  */
object AvroRoundTrip {

  private val SchemaJson =
    """{"type":"record","name":"LineitemSlim","fields":[
      |{"name":"l_orderkey","type":"long"},
      |{"name":"l_quantity","type":"double"},
      |{"name":"l_returnflag","type":"string"}]}""".stripMargin

  /** lineitem (orderkey, quantity, returnflag) staged as a multi-file
    * snappy Avro directory — fingerprint-keyed, write-once. 4
    * partitions so the per-file read path genuinely fans out.
    */
  def stagedAvroCopy(spark: SparkSession, dir: String): String = {
    val dest = Staging.fingerprintPath(
      "graft_avro", dir, "lineitem.parquet", "lineitem_slim")
    Staging.ensureStaged(dest) {
      import spark.implicits._
      Staging.mkdirs(dest)
      val written = graft.Tables(spark, dir).lineitem
        .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
        .as[(Long, Double, String)]
        .repartition(4, col("l_orderkey"))
        .mapPartitions { rows =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val schema = new Schema.Parser().parse(SchemaJson)
          val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
          w.setCodec(CodecFactory.snappyCodec())
          // overwrite semantics: a retried task replaces its own file
          val f = new java.io.File(dest, f"part-$pid%05d.avro")
          if (f.exists()) f.delete()
          w.create(schema, f)
          var n = 0L
          try {
            rows.foreach { case (k, q, r) =>
              val rec = new GenericData.Record(schema)
              rec.put("l_orderkey", k)
              rec.put("l_quantity", q)
              rec.put("l_returnflag", r)
              w.append(rec)
              n += 1
            }
          } finally w.close()
          Iterator.single(n)
        }
        .reduce(_ + _)
      require(written > 0, s"avro staging wrote no rows to $dest")
      Staging.touch(dest)
    }
    dest
  }

  /** Read a staged Avro directory back as a DataFrame — one task per
    * container file.
    */
  def readAvro(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val files = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".avro")).map(_.getAbsolutePath).sorted.toSeq
    require(files.nonEmpty, s"no .avro files under $path")
    spark.sparkContext
      .parallelize(files, files.size)
      .flatMap { f =>
        val reader = new DataFileReader(
          new java.io.File(f), new GenericDatumReader[GenericRecord]())
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, String)]
        try {
          // schema gate (mirror of the ORC readers' require): a
          // schema-evolved or foreign .avro file in the staging dir
          // would otherwise surface as an opaque ClassCastException
          // from the asInstanceOf casts below
          val expected = new Schema.Parser().parse(SchemaJson)
          require(reader.getSchema == expected,
            s"$f: schema drift — found ${reader.getSchema}, expected $expected")
          while (reader.hasNext) {
            val rec = reader.next()
            out += ((rec.get("l_orderkey").asInstanceOf[Long],
              rec.get("l_quantity").asInstanceOf[Double],
              rec.get("l_returnflag").toString))
          }
        } finally reader.close()
        out
      }
      .toDF("l_orderkey", "l_quantity", "l_returnflag")
  }

  val entries: Seq[QueryEntry] = Seq(
    // Parquet -> snappy Avro (core writer, per partition) -> per-file
    // core read -> grouped aggregates; oracle on the parquet source.
    QueryEntry.sql(
      "q167_avro_roundtrip",
      """SELECT l_returnflag, SUM(l_quantity) AS sum_qty,
        |       CAST(SUM(l_orderkey) AS BIGINT) AS sum_ok, COUNT(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    ) { (s, dir) =>
      readAvro(s, stagedAvroCopy(s, dir))
        .groupBy("l_returnflag")
        .agg(sum("l_quantity").as("sum_qty"),
          sum("l_orderkey").as("sum_ok"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag")
    },
  )
}
