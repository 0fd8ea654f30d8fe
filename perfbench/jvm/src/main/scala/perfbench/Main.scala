package perfbench

import graft.{EngineSession, SparkEntry}

/** Entry point of the benchmark's JVM side.
  *
  *  - `run <plan.json> <records.jsonl>`: run one workload plan.
  *  - `gen <sfDir> <copies> <dest> <manifest> <cpus>`: write the orc_io
  *    blowup and its manifest (copy count, key stride K, bytes).
  *  - `fingerprint <sfDir> <outDir> <cpus> <entry>...`: run entries once,
  *    write each result as parquet (for the DuckDB comparison), its
  *    fingerprint, and the entries' oracle SQL.
  */
object Main {
  def main(args: Array[String]): Unit = args.toList match {
    case "run" :: plan :: records :: Nil =>
      val out = new Out(records)
      try new Runner(Json.read(plan), out).run() finally out.close()
    case "gen" :: sfDir :: copies :: dest :: manifest :: cpus :: Nil =>
      val spark = EngineSession.local("perfbench-gen", cpus)
      val k = Orc.writeCopies(spark, sfDir, dest, copies.toInt, "snappy", cpus.toInt)
      val files = Orc.orcFiles(dest)
      val json = Json.write(Map("copies" -> copies.toInt, "copy_k" -> k,
        "files" -> files.size, "bytes" -> Orc.fileBytes(files)))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(manifest), json)
      spark.stop()
    case "fingerprint" :: sfDir :: outDir :: cpus :: names =>
      val spark = EngineSession.local("perfbench-fingerprint", cpus)
      val queries = SparkEntry.queries
      val fps = names.map { n =>
        val df = queries(n)(spark, sfDir)
        val (rows, md5) = Canon.fingerprint(df.columns.toSeq, df.collect())
        queries(n)(spark, sfDir).write.mode("overwrite").parquet(s"$outDir/$n")
        graft.TransientCaches.release()
        n -> Map("rows" -> rows, "md5" -> md5)
      }.toMap
      val oracles = (SparkEntry.oracleSql ++ SparkEntry.dynamicOracleSql(spark, sfDir))
        .filter { case (n, _) => names.contains(n) }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/engine.json"),
        Json.write(Map("fingerprints" -> fps, "oracle_sql" -> oracles)))
      spark.stop()
    case _ =>
      System.err.println("usage: run <plan> <records> | gen <sfDir> <copies> <dest> <manifest> <cpus> | " +
        "fingerprint <sfDir> <outDir> <cpus> <entry>...")
      sys.exit(2)
  }
}
