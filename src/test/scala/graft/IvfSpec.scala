package graft

import graft.functions.GraftFunctions
import graft.operators.Ivf
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class IvfSpec extends SparkSpec {
  import spark.implicits._

  test("IVF recall@5 vs brute force is high at nprobe=3 of 16 k-means lists") {
    val emb = Tables(spark, sf).embeddings
    val probes = emb.filter(col("vec_id") < 10)
    val ivf = Ivf.annSearch(emb, probes, nprobe = 3, k = 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    val brute = probes.select(col("vec_id").as("q_id"), col("embedding").as("q"))
      .crossJoin(emb.select(col("vec_id"), col("embedding")))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(GraftFunctions.cosineF32(col("q"), col("embedding")), 6).as("score"))
      .withColumn("r", row_number().over(
        Window.partitionBy("q_id").orderBy(col("score").desc, col("vec_id"))))
      .filter(col("r") <= 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    val recalls = brute.map { case (q, want) =>
      ivf.getOrElse(q, Set.empty).intersect(want).size.toDouble / want.size
    }
    val mean = recalls.sum / recalls.size
    info(f"mean recall@5 = $mean%.2f")
    assert(mean >= 0.7, s"recall collapsed: $mean") // observed 0.86
    assert(ivf.size == 10 && ivf.values.forall(_.size == 5))
  }

  test("q170 ANN near-dup pairs: strict subset of q22's exact pairs, recall pinned") {
    val emb = Tables(spark, sf).embeddings
    val exact = operators.Similarity.exactCosinePairs(emb, threshold = 0.45)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val ann = Ivf.annNearDupPairs(emb, threshold = 0.45)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    // soundness: candidate generation can MISS pairs but never invent
    // one — every ANN pair passed the same exact-score filter
    assert(ann.subsetOf(exact), s"ANN pairs not in exact set: ${ann.diff(exact)}")
    val recall = if (exact.isEmpty) 1.0 else ann.size.toDouble / exact.size
    info(f"pair recall = $recall%.3f (${ann.size}/${exact.size})")
    assert(recall >= 0.8, s"pair recall collapsed: $recall") // observed 0.929 at sf0.01
  }

  test("index memo contract: rewrite detection via plan hash, invalidateIndex() for held plans") {
    // The memo keys the semantic hash of the READ PLAN, which includes
    // the file listing: a FRESH spark.read after a same-path rewrite
    // therefore misses the memo and refits from the new files
    // automatically. The stale hazard is holding the SAME DataFrame
    // across a rewrite — its plan (and hash) is unchanged, so the memo
    // keeps serving the materialized index; Reuse.invalidate() is the
    // REFRESH TABLE analogue that resets it.
    val p = s"${sys.props("java.io.tmpdir")}/graft_ivf_fresh_spec"
    def write(vs: Seq[(Long, Array[Float])]): Unit =
      vs.toDF("vec_id", "embedding").coalesce(1)
        .write.mode("overwrite").parquet(p)
    val probes = Seq((100L, Array(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    def top1(emb: org.apache.spark.sql.DataFrame): Long =
      Ivf.annSearch(emb, probes, nprobe = 2, k = 1, nClusters = 2, iters = 1)
        .select("vec_id").as[Long].head()
    Reuse.invalidate() // isolate from other tests' memo state
    write(Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(0f, 0f, 1f, 0f)), (3L, Array(0f, 0f, 0f, 1f))))
    val held = spark.read.parquet(p)
    assert(top1(held) == 0L) // vec 0 is the exact match
    val centsBefore = Ivf.fittedCentroids(held, 2, 1).map(_.toSeq)
    // rewrite under the SAME path: now vec 7 is the exact match, and
    // the natural clusters lie along different axes than before
    write(Seq(
      (5L, Array(0f, 1f, 0f, 0f)), (6L, Array(0f, 0f, 1f, 0f)),
      (7L, Array(1f, 0f, 0f, 0f)), (8L, Array(0f, 0f, 0f, 1f))))
    // a fresh read lists the new files -> new plan hash -> full refit
    assert(top1(spark.read.parquet(p)) == 7L,
      "fresh read after rewrite must refit the index")
    // the HELD plan's layers split: Spark's CacheManager refreshed the
    // persisted inverted lists on the same-session overwrite (so the
    // DATA is current), but the fitted quantizer memo-hits on the
    // unchanged plan hash and stays STALE — the reason the contract
    // says invalidate + re-read after a rewrite
    val centsHeld = Ivf.fittedCentroids(held, 2, 1).map(_.toSeq)
    assert(centsHeld == centsBefore,
      "held plan must memo-hit the (stale) fitted quantizer")
    Reuse.invalidate()
    val fresh = spark.read.parquet(p)
    assert(Ivf.fittedCentroids(fresh, 2, 1).map(_.toSeq) != centsBefore,
      "invalidation must refit the quantizer from the rewritten files")
    assert(top1(fresh) == 7L,
      "invalidation must rebuild from the rewritten files")
  }

  test("staged ANN index: reload equals refit, and the index is durable files") {
    import graft.operators.Pq
    val emb = Tables(spark, sf).embeddings
    val probes = emb.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Int)] =
      df.select("q_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSeq

    // session-scoped (memo) result is the ground truth the staged path
    // must reproduce
    val memoIvf = rows(Ivf.annSearch(emb, probes, nprobe = 3, k = 5))
    val memoPq = rows(Pq.annSearchPq(emb, probes, nprobe = 3, k = 5))

    // cold JVM state: every in-memory memo gone — what's left is files
    Reuse.invalidate()
    assert(rows(Ivf.annSearchStaged(spark, sf, probes, nprobe = 3, k = 5)) == memoIvf)
    assert(rows(Pq.annSearchPqStaged(spark, sf, probes, nprobe = 3, k = 5)) == memoPq)

    // the index IS durable files now
    def success(p: String) = new java.io.File(p, "_SUCCESS")
    val listFiles = Seq(
      success(Ivf.stagedCentroidsPath(sf, 16, 3)),
      success(Ivf.stagedListsPath(sf, 16, 3)),
      success(Pq.stagedBooksPath(sf, 3)),
      success(Pq.stagedEncodedPath(sf, 3)))
    assert(listFiles.forall(_.exists()), listFiles.map(_.getPath).mkString(", "))

    // second cold pass RELOADS (no refit-rewrite): file mtimes unchanged
    val mtimes = listFiles.map(_.lastModified())
    Reuse.invalidate()
    assert(rows(Ivf.annSearchStaged(spark, sf, probes, nprobe = 3, k = 5)) == memoIvf)
    assert(rows(Pq.annSearchPqStaged(spark, sf, probes, nprobe = 3, k = 5)) == memoPq)
    assert(listFiles.map(_.lastModified()) == mtimes,
      "staged index files were rewritten — reload path refit instead of reloading")
  }

  test("IVF-PQ: codes in range, 4-byte payload, recall@5 does not collapse") {
    import graft.operators.Pq
    val emb = Tables(spark, sf).embeddings
    val probes = emb.filter(col("vec_id") < 10)
    val books = Pq.fittedCodebooks(emb)
    assert(books.length == Pq.M && books.forall(_.length == Pq.K))
    val corpus = Pq.encoded(emb, Ivf.fittedCentroids(emb, 16, 3), books)
    val codes = corpus.select(explode(col("codes")).as("c"))
    assert(codes.filter(col("c") < 0 || col("c") >= Pq.K).count() == 0)

    val pq = Pq.annSearchPq(emb, probes, nprobe = 3, k = 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = probes.select(col("vec_id").as("q_id"), col("embedding").as("q"))
      .crossJoin(emb.select(col("vec_id"), col("embedding")))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(GraftFunctions.cosineF32(col("q"), col("embedding")), 6).as("score"))
      .withColumn("r", row_number().over(
        Window.partitionBy("q_id").orderBy(col("score").desc, col("vec_id"))))
      .filter(col("r") <= 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (q, want) =>
      pq.getOrElse(q, Set.empty).intersect(want).size.toDouble / want.size
    }
    val mean = recalls.sum / recalls.size
    info(f"PQ mean recall@5 = $mean%.2f")
    // compressed-domain ranking on random unit vectors: the bar is
    // "meaningfully above chance" (chance ≈ 5/500), not IVF parity
    assert(mean >= 0.2, s"PQ recall collapsed: $mean")
    assert(pq.size == 10 && pq.values.forall(_.size == 5))
  }

  test("q176 PQ distortion: zero when the codebook contains every vector; positive on the fixture") {
    import graft.operators.Pq
    // 16 vectors = the codebook init set exactly → every subspace has
    // each vector's own sub-vector as an entry → distortion must be 0
    val emb16 = Tables(spark, sf).embeddings.orderBy("vec_id").limit(16)
      .localCheckpoint(true)
    val zero = Pq.pqDistortion(emb16, Pq.fittedCodebooks(emb16)).collect()
    assert(zero.nonEmpty)
    zero.foreach(r => assert(r.getDouble(2) == 0.0,
      s"label ${r.get(0)} distortion ${r.getDouble(2)} != 0"))

    val emb = Tables(spark, sf).embeddings
    val full = Pq.pqDistortion(emb, Pq.fittedCodebooks(emb)).collect()
    val labels = emb.select("label").distinct().count()
    assert(full.length == labels, "one row per label")
    full.foreach { r =>
      assert(r.getDouble(2) > 0.0 && java.lang.Double.isFinite(r.getDouble(2)))
    }
  }

  test("q182 IVF imbalance: >= 1 by Cauchy-Schwarz, sizes account for every vector") {
    val emb = Tables(spark, sf).embeddings
    val r = operators.Ivf.ivfImbalance(emb).collect().head
    assert(r.getLong(1) == emb.count(), "every vector lands in exactly one list")
    assert(r.getLong(0) <= 16)
    assert(r.getLong(2) >= 1 && r.getLong(2) <= r.getLong(3))
    assert(r.getDouble(4) >= 1.0 - 1e-9, s"imbalance ${r.getDouble(4)} < 1")
  }

  test("centroid UDAF equals the posexplode/avg computation") {
    val emb = Tables(spark, sf).embeddings
    val udaf = run("q32_label_centroids").as[(Int, Int, Double)].collect().toSet
    val explode = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("label"), (col("pos") + 1).as("d"))
      .agg(round(avg(col("x").cast("double")), 6).as("v"))
      .select("label", "d", "v").as[(Int, Int, Double)].collect().toSet
    assert(udaf == explode)
  }
  test("folding incremental ANN pairs are true cross-batch near-dups (q193 ⊆ exact)") {
    // fold-in correctness is hash-certified by the q193 oracle at
    // sf0.01, where a batch-2-vs-batch-1 pair exists; here: every
    // emitted pair is a true pair and batches are well-formed
    val out = graft.operators.Ivf.foldingIncrementalAnn(spark, sf, threshold = 0.45)
      .collect().toSeq
    assert(out.nonEmpty)
    assert(out.map(_.getInt(0)).toSet.subsetOf(Set(1, 2)))
    val ann = out.map(r => (r.getLong(1), r.getLong(2))).toSet
    val exact = graft.operators.Similarity
      .exactCosinePairs(Tables(spark, sf).embeddings, threshold = 0.45)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet[(Long, Long)]
      .flatMap(p => Set(p, p.swap))
    assert(ann.subsetOf(exact), s"false positives: ${ann.diff(exact)}")
  }

  test("incremental ANN pairs are true cross-split near-dups (q191 ⊆ exact)") {
    import org.apache.spark.sql.functions._
    val ann = graft.operators.Ivf.incrementalAnnNearDups(spark, sf, threshold = 0.45)
      .select("new_vec", "hist_vec").as[(Long, Long)].collect().toSet
    val exact = graft.operators.Similarity
      .exactCosinePairs(Tables(spark, sf).embeddings, threshold = 0.45)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet[(Long, Long)]
      .flatMap(p => Set(p, p.swap))
      .filter(p => p._1 % 5 == 0 && p._2 % 5 != 0)
    assert(ann.nonEmpty, "fixture must plant cross-split embed near-dups")
    assert(ann.subsetOf(exact), s"false positives: ${ann.diff(exact)}")
  }
}