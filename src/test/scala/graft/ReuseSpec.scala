package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

class ReuseSpec extends SparkSpec {

  private def key(name: String) = (s"reuse-spec.$name", java.util.UUID.randomUUID())

  test("concurrent callers of one key share a single build") {
    val k = key("concurrent")
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val calls = Seq.fill(8)(Future {
        start.await()
        Reuse.memo(spark, k) {
          builds.incrementAndGet()
          Thread.sleep(200) // hold the build open while the others arrive
          new Object
        }
      })
      start.countDown()
      val values = Await.result(Future.sequence(calls), 30.seconds)
      assert(builds.get == 1)
      assert(values.forall(_ eq values.head))
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }
  }

  test("a stopped session's entries are evicted") {
    // a JVM holds one live SparkContext, and the suites share theirs:
    // stop and restart sessions in a child JVM on this classpath
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java") ++ jvmArgs ++
      Seq("-Xmx1g", "-cp", sys.props("java.class.path"),
        ReuseStoppedSession.getClass.getName.stripSuffix("$"))
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    assert(proc.waitFor() == 0, out)
    assert(out.contains("stopped session entries: 0"), out)
    assert(out.contains("builds: 2"), out)
  }

  test("invalidate unpersists index frames and keeps source memos") {
    val (ik, sk) = (key("index"), key("source"))
    val sourceBuilds = new AtomicInteger
    def source() = Reuse.memo(spark, sk) { sourceBuilds.incrementAndGet(); new Object }
    val index = Reuse.memo(spark, ik, Reuse.Index) {
      val df = spark.range(100).persist(StorageLevel.MEMORY_ONLY)
      df.count()
      df
    }
    val src = source()
    assert(index.storageLevel != StorageLevel.NONE)
    Reuse.invalidate(blocking = true)
    assert(index.storageLevel == StorageLevel.NONE)
    assert(source() eq src)
    assert(sourceBuilds.get == 1)
    val rebuilt = Reuse.memo(spark, ik, Reuse.Index)(spark.range(1))
    assert(rebuilt ne index, "an invalidated index key must rebuild")
  }

  test("the index cap drops another key, never the one being served") {
    Reuse.invalidate()
    val builds = new AtomicInteger
    val keys = (0 to Reuse.IndexCap).map(i => key(s"cap$i"))
    keys.foreach(k => Reuse.memo(spark, k, Reuse.Index)(builds.incrementAndGet()))
    assert(Reuse.held(spark, Reuse.Index) == Reuse.IndexCap)
    assert(Reuse.memo(spark, keys.last, Reuse.Index)(builds.incrementAndGet()) == keys.size)
    Reuse.invalidate()
    assert(Reuse.held(spark, Reuse.Index) == 0)
  }

  test("releasingNew leaves exactly the RDDs pinned before it") {
    val sc = spark.sparkContext
    val kept = sc.parallelize(1 to 10).persist()
    val before = sc.getPersistentRDDs.keySet
    val n = Reuse.releasingNew(spark, blocking = true) {
      sc.parallelize(1 to 10).persist().count()
      spark.range(100).localCheckpoint(eager = true).count()
    }
    assert(n == 100)
    assert(sc.getPersistentRDDs.keySet == before)
    intercept[IllegalStateException] {
      Reuse.releasingNew(spark, blocking = true) {
        sc.parallelize(1 to 10).persist().count()
        throw new IllegalStateException("body failed")
      }
    }
    assert(sc.getPersistentRDDs.keySet == before)
    kept.unpersist(blocking = true)
  }

  private def mainSources: Seq[(java.io.File, String)] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, root.getAbsolutePath)
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    files(root).filter(_.getName.endsWith(".scala")).map(f =>
      f -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
  }

  test("main code uses each guarded word only in the one file that owns it") {
    // cross-query state and pinned-RDD sweeps go through Reuse; every
    // streaming run starts and reads its source through StreamRun
    val owner = Map(
      "TrieMap" -> "Reuse.scala",
      "getPersistentRDDs" -> "Reuse.scala",
      "writeStream" -> "StreamRun.scala",
      "readStream" -> "StreamRun.scala")
    val offenders = for {
      (f, text) <- mainSources
      (word, file) <- owner if f.getName != file && text.contains(word)
    } yield s"${f.getPath}: $word (belongs in $file)"
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  test("main code reads exactly the six SPARK_GRAFT_* knobs") {
    // a new knob fails here until it is added to this list on purpose
    val knobs = Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_ONLY",
      "SPARK_GRAFT_FRESH", "SPARK_GRAFT_SCALE", "SPARK_GRAFT_REFERENCE_SEMANTICS")
    val found = mainSources.flatMap { case (_, text) =>
      "SPARK_GRAFT_[A-Z_]+".r.findAllIn(text)
    }.toSet
    assert(found === knobs)
  }
}

/** Child-JVM half of the stopped-session test: memoize under one
  * session, stop it, touch the store from a fresh session, and report.
  */
object ReuseStoppedSession {
  def main(args: Array[String]): Unit = {
    def session() = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val builds = new AtomicInteger
    val first = session()
    Reuse.memo(first, "source")(first.range(10))
    Reuse.memo(first, "index", Reuse.Index) {
      builds.incrementAndGet()
      val df = first.range(10).persist()
      df.count()
      df
    }
    first.stop()
    val second = session()
    Reuse.memo(second, "index", Reuse.Index)(builds.incrementAndGet())
    println("stopped session entries: " +
      (Reuse.held(first, Reuse.Source) + Reuse.held(first, Reuse.Index)))
    println(s"builds: ${builds.get}")
    second.stop()
  }
}
