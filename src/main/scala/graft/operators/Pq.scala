package graft.operators

import graft.functions.CentroidAggregator
import graft.{QueryEntry, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** IVF-PQ: product-quantized ANN search — the memory-scale path past
  * plain IVF (Jégou/Douze/Schmid, "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011 — public method).
  *
  * The 64-dim embedding is split into M=8 contiguous 8-dim subspaces;
  * each subspace gets a K=16-entry codebook fitted by the same
  * deterministic Lloyd's recipe as the IVF coarse quantizer (init =
  * first K vec_ids, fixed iterations, ties to the lower code). A
  * vector is stored as 8 four-bit codes — 4 bytes instead of 256 — and
  * search ranks candidates by asymmetric distance (ADC): exact
  * probe-side sub-vectors against the candidate's codebook entries.
  *
  * Scale shape: fitting moves only M×K×(dim/M) floats through the
  * driver per iteration (one DataFrame job per iteration for ALL
  * subspaces); encoding is a per-row map; search = coarse-cluster
  * pruning (nprobe/k of the corpus, the IVF join) then per-candidate
  * ADC from the 4-byte codes — the corpus vectors themselves are never
  * touched at query time, which is the entire point at 100 TB.
  *
  * Cross-engine exactness: float→double casts and x·127-style products
  * are exact; every distance is the same left-associated chain in both
  * engines; cross-subspace accumulation is ROUND(·,12)→DECIMAL (order-
  * free); fitted codebooks are inlined into the oracle as exact double
  * literals, and DuckDB re-executes encoding + search end-to-end.
  */
object Pq {

  val M = 8 // subspaces
  val K = 16 // codes per subspace
  private val SubDim = 8 // 64 / M

  /** L2² between a sub-vector column (array<float>) and a codebook
    * entry, accumulated exactly like the oracle's chain.
    */
  private def l2(sub: Column, cent: Array[Double]): Column =
    aggregate(
      zip_with(transform(sub, x => x.cast(DoubleType)), typedlit(cent),
        (x, c) => (x - c) * (x - c)),
      lit(0.0), (acc, t) => acc + t)

  /** argmin code over one subspace's codebook (ties → lower code). */
  private def codeFor(sub: Column, book: IndexedSeq[Array[Double]]): Column =
    array_min(array(book.indices.map(k =>
      struct(l2(sub, book(k)).as("d"), lit(k).as("c"))): _*)).getField("c")

  /** Deterministic per-subspace Lloyd's — ONE DataFrame job per
    * iteration covers all M subspaces (posexplode of the M slices,
    * argmin against the m-th codebook via a literal 3-D lookup, then a
    * (m, code) grouped centroid). Empty cells keep their previous
    * entry.
    */
  def fitCodebooks(emb: DataFrame, iters: Int = 3): IndexedSeq[IndexedSeq[Array[Double]]] = {
    val spark = emb.sparkSession
    import spark.implicits._
    // model-sized: ≤K rows — codebook seeds
    val init = emb.orderBy("vec_id").limit(K)
      .select("embedding").as[Array[Float]].collect()
    var books: IndexedSeq[IndexedSeq[Array[Double]]] =
      (0 until M).map(m => init.toIndexedSeq.map(v =>
        v.slice(m * SubDim, (m + 1) * SubDim).map(_.toDouble)))
    val subsCol = array((0 until M).map(m =>
      slice(col("embedding"), m * SubDim + 1, SubDim)): _*)
    for (_ <- 1 to iters) {
      val litBooks = typedlit(books.map(_.toArray).toArray)
      val assigned = emb
        .select(posexplode(subsCol).as(Seq("m", "sub")))
        .withColumn("code",
          array_min(array((0 until K).map { k =>
            struct(
              aggregate(
                zip_with(transform(col("sub"), x => x.cast(DoubleType)),
                  element_at(element_at(litBooks, col("m") + 1), k + 1),
                  (x, c) => (x - c) * (x - c)),
                lit(0.0), (acc, t) => acc + t).as("d"),
              lit(k).as("c"))
          }: _*)).getField("c"))
        .groupBy("m", "code")
        .agg(CentroidAggregator.centroid(col("sub")).as("cent"))
        // model-sized: ≤M×K rows — one sub-centroid per (subspace, code)
        .as[(Int, Int, Array[Double])].collect()
        .map { case (m, c, cent) => (m, c) -> cent }.toMap
      books = (0 until M).map(m => (0 until K).map(k =>
        assigned.getOrElse((m, k), books(m)(k))))
    }
    books
  }

  /** Fitted-codebook memo (the q33 policy: an index is built once and
    * queried many times; see [[Ivf.fittedCentroids]]).
    */
  def fittedCodebooks(emb: DataFrame, iters: Int = 3): IndexedSeq[IndexedSeq[Array[Double]]] =
    graft.Reuse.memo(emb.sparkSession,
      ("pq.books", emb.queryExecution.analyzed.semanticHash(), iters),
      graft.Reuse.Index)(fitCodebooks(emb, iters))

  /** PQ-encode: (vec_id, cluster, codes array<int>) — the 4-byte-per-
    * vector index payload, coarse cluster included for IVF pruning.
    */
  def encoded(emb: DataFrame, coarse: IndexedSeq[Array[Float]],
      books: IndexedSeq[IndexedSeq[Array[Double]]]): DataFrame =
    Ivf.withCluster(emb, coarse)
      .select(col("vec_id"), col("cluster"),
        array((0 until M).map(m =>
          codeFor(slice(col("embedding"), m * SubDim + 1, SubDim), books(m))): _*)
          .as("codes"))

  /** The encoded corpus IS the PQ index — materialized once per
    * (session, plan, model) and searched many times, the IVF
    * inverted-lists policy (re-encoding on every search would
    * misrepresent the operator's query-time cost). See the note in
    * Ivf.annSearch: external RDD-level unpersists are undetectable
    * here; callers freeing pinned storage must call Reuse.invalidate()
    * (the bench loop does, between queries).
    */
  private def encodedCached(emb: DataFrame, coarse: IndexedSeq[Array[Float]],
      books: IndexedSeq[IndexedSeq[Array[Double]]], iters: Int): DataFrame =
    graft.Reuse.memo(emb.sparkSession,
        ("pq.encoded", emb.queryExecution.analyzed.semanticHash(), iters),
        graft.Reuse.Index) {
      val built = encoded(emb, coarse, books)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      built.count()
      built
    }

  /** The shared ADC query plan over an encoded corpus (vec_id, cluster,
    * codes) — memo-backed ([[annSearchPq]]) or parquet-backed
    * ([[annSearchPqStaged]]); the plan is identical either way.
    */
  private def adcSearch(corpus: DataFrame, coarse: IndexedSeq[Array[Float]],
      books: IndexedSeq[IndexedSeq[Array[Double]]],
      probes: DataFrame, nprobe: Int, k: Int): DataFrame = {
    val probeLists = Ivf.probeRanked(probes, coarse, nprobe)

    // ADC: per subspace, exact probe slice vs the candidate's codebook
    // entry. ROUND(·,7)→DECIMAL makes the cross-subspace sum order-free;
    // scale 7 (not 12): d_m is O(1), so its double has real mantissa
    // bits at the 12th decimal and the two engines can round a
    // near-tie differently — 1e-7 granularity is far above double
    // noise (~1e-16) and far below any rank-relevant distance gap.
    // Precision 18, NOT 38: adding two DECIMAL(38,7) overflows Spark's
    // 38-digit cap, and the precision-adjustment rule silently drops
    // the scale to 6 and rounds EVERY intermediate sum — (18,7) leaves
    // the 8-term reduce headroom to stay exact.
    val dm = (0 until M).map { m =>
      round(
        aggregate(
          zip_with(
            transform(slice(col("q_vec"), m * SubDim + 1, SubDim),
              x => x.cast(DoubleType)),
            element_at(typedlit(books(m).map(_.toArray).toArray),
              element_at(col("codes"), m + 1) + 1),
            (x, c) => (x - c) * (x - c)),
          lit(0.0), (acc, t) => acc + t),
        7).cast(DecimalType(18, 7))
    }
    // equi-join on the exploded (probe, cluster) pairs — see the
    // matching note in Ivf.annSearch
    broadcast(probeLists.withColumn("cluster", explode(col("pc"))).drop("pc"))
      .join(corpus, Seq("cluster"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adc", dm.reduce(_ + _).cast(DoubleType))
      .withColumn("rank",
        row_number().over(Window.partitionBy("q_id")
          .orderBy(col("adc").asc, col("vec_id"))))
      .filter(col("rank") <= k)
      .select("q_id", "vec_id", "rank", "adc")
      .orderBy("q_id", "rank")
  }

  /** IVF-PQ search: coarse-prune to nprobe lists, ADC-rank candidates
    * from their codes alone. Session-scoped index; the durable form is
    * [[annSearchPqStaged]].
    */
  def annSearchPq(emb: DataFrame, probes: DataFrame, nprobe: Int, k: Int,
      iters: Int = 3): DataFrame = {
    val coarse = Ivf.fittedCentroids(emb, 16, 3)
    val books = fittedCodebooks(emb, iters)
    adcSearch(encodedCached(emb, coarse, books, iters), coarse, books,
      probes, nprobe, k)
  }

  // ---- durable index (index-as-file; see Ivf's matching section) -----------

  def stagedBooksPath(dir: String, iters: Int): String =
    graft.sources.Staging.fingerprintPath("graft_pq", dir, "embeddings.parquet",
      s"books_${M}_${K}_$iters")

  def stagedEncodedPath(dir: String, iters: Int): String =
    graft.sources.Staging.fingerprintPath("graft_pq", dir, "embeddings.parquet",
      s"enc_${M}_${K}_$iters")

  /** Fit-once-load-forever codebooks: M×K rows of (m, code, cents). */
  def stagedCodebooks(spark: org.apache.spark.sql.SparkSession, dir: String,
      iters: Int = 3): IndexedSeq[IndexedSeq[Array[Double]]] = {
    import spark.implicits._
    val dest = stagedBooksPath(dir, iters)
    graft.Reuse.memo(spark, ("pq.stagedBooks", dest), graft.Reuse.Index) {
      graft.sources.Staging.ensureStaged(dest) {
        val books = fitCodebooks(Tables(spark, dir).embeddings, iters)
        (for (m <- 0 until M; c <- 0 until K) yield (m, c, books(m)(c)))
          .toDF("m", "code", "cents")
          .coalesce(1).write.mode("overwrite").parquet(dest)
      }
      // model-sized: ≤M×K rows — the staged codebook table
      val rows = spark.read.parquet(dest)
        .select("m", "code", "cents").as[(Int, Int, Array[Double])].collect()
        .map { case (m, c, cents) => (m, c) -> cents }.toMap
      (0 until M).map(m => (0 until K).map(c => rows((m, c))))
    }
  }

  /** The durable PQ payload: (vec_id, cluster, codes) parquet — 4 bytes
    * of quantized state per vector behind an ordinary columnar scan.
    */
  def stagedEncoded(spark: org.apache.spark.sql.SparkSession, dir: String,
      iters: Int = 3): DataFrame = {
    val dest = stagedEncodedPath(dir, iters)
    graft.sources.Staging.ensureStaged(dest) {
      encoded(Tables(spark, dir).embeddings,
          Ivf.stagedCentroids(spark, dir, 16, 3),
          stagedCodebooks(spark, dir, iters))
        .write.mode("overwrite").parquet(dest)
    }
    spark.read.parquet(dest)
  }

  /** IVF-PQ search against the DURABLE staged index — reload, never
    * refit (coarse quantizer, codebooks, and encoded corpus are all
    * fingerprint-keyed files; identical results to [[annSearchPq]],
    * spec-proved).
    */
  def annSearchPqStaged(spark: org.apache.spark.sql.SparkSession, dir: String,
      probes: DataFrame, nprobe: Int, k: Int, iters: Int = 3): DataFrame =
    adcSearch(stagedEncoded(spark, dir, iters),
      Ivf.stagedCentroids(spark, dir, 16, 3),
      stagedCodebooks(spark, dir, iters), probes, nprobe, k)

  // ---- DuckDB mirror -------------------------------------------------------

  private def d2s(d: Double): String = s"CAST('${d.toString}' AS DOUBLE)"

  /** codebook rows as a VALUES CTE: (m, code, [c1..c8]). */
  private def codebookValues(books: IndexedSeq[IndexedSeq[Array[Double]]]): String =
    (for (m <- 0 until M; k <- 0 until K) yield {
      val list = books(m)(k).map(d2s).mkString("[", ", ", "]")
      s"($m, $k, $list)"
    }).mkString(",\n    ")

  /** Σ_i (v[m·8+i] − c[i])² as the left-associated chain; `mRef` names
    * the (possibly qualified) subspace column, so one chain serves
    * every subspace.
    */
  private def l2Chain(vec: String, cents: String, mRef: String = "m"): String =
    (1 to SubDim).map(i =>
      s"(CAST($vec[CAST($mRef*$SubDim+$i AS BIGINT)] AS DOUBLE) - $cents[$i])" +
        s" * (CAST($vec[CAST($mRef*$SubDim+$i AS BIGINT)] AS DOUBLE) - $cents[$i])")
      .mkString(" + ")

  /** Generated DuckDB SQL: re-executes coarse assignment, PQ encoding,
    * probe ranking, and ADC top-k against the inlined fitted model.
    */
  def annSearchPqOracleSql(spark: org.apache.spark.sql.SparkSession, dir: String,
      nprobe: Int = 3, k: Int = 5): String = {
    val emb = Tables(spark, dir).embeddings
    val books = fittedCodebooks(emb)
    s"""WITH codebook(m, code, cents) AS (
       |  VALUES
       |    ${codebookValues(books)}
       |), ${Ivf.coarseCtes(spark, dir, nprobe)}, enc_d AS (
       |  SELECT co.vec_id, cb.m, cb.code,
       |         (${l2Chain("co.embedding", "cb.cents")}) AS d
       |  FROM corpus co, codebook cb
       |), enc AS (
       |  SELECT vec_id, m, code FROM (
       |    SELECT vec_id, m, code,
       |           row_number() OVER (PARTITION BY vec_id, m
       |                              ORDER BY d ASC, code ASC) AS rn
       |    FROM enc_d) WHERE rn = 1
       |), cand AS (
       |  SELECT p.q_id, co.vec_id, p.q_emb
       |  FROM probes p JOIN corpus co ON co.cluster = p.pcluster
       |  WHERE co.vec_id <> p.q_id
       |), adc AS (
       |  SELECT c.q_id, c.vec_id,
       |         CAST(SUM(CAST(ROUND((${l2Chain("c.q_emb", "cb.cents", "cb.m")}), 7)
       |                       AS DECIMAL(18,7))) AS DOUBLE) AS adc
       |  FROM cand c
       |  JOIN enc e ON e.vec_id = c.vec_id
       |  JOIN codebook cb ON cb.m = e.m AND cb.code = e.code
       |  GROUP BY c.q_id, c.vec_id
       |)
       |SELECT q_id, vec_id,
       |       CAST(row_number() OVER (PARTITION BY q_id
       |                               ORDER BY adc ASC, vec_id) AS INTEGER) AS rank,
       |       adc
       |FROM adc QUALIFY rank <= $k ORDER BY q_id, rank""".stripMargin
  }

  /** Per-label PQ reconstruction distortion: mean over vectors of
    * Σ_m min_k ‖sub_m − book_m[k]‖² — the compression-quality number
    * next to q169's search-quality recall (how much geometry the
    * 4-byte codes give up, and whether any label's region quantizes
    * worse). Exactness follows the ADC rule: each subspace's min
    * distance is the same left-associated chain in both engines,
    * rounded once to 7dp and carried as DECIMAL, so per-vector and
    * per-label sums are order-independent exact. Scale shape: one
    * per-row map over the corpus + a label-grouped sum — no joins, no
    * index needed; the model is M×K×8 doubles broadcast as literals.
    */
  def pqDistortion(emb: DataFrame,
      books: IndexedSeq[IndexedSeq[Array[Double]]]): DataFrame = {
    val err = (0 until M).map { m =>
      val sub = slice(col("embedding"), m * SubDim + 1, SubDim)
      // struct-min orders by (d, code) exactly like the oracle's
      // row_number; the d of the argmin IS the subspace error
      val d = array_min(array(books(m).indices.map(k =>
        struct(l2(sub, books(m)(k)).as("d"), lit(k).as("c"))): _*))
        .getField("d")
      round(d, 7).cast(DecimalType(18, 7))
    }.reduce(_ + _)
    emb.select(col("label"), err.as("e"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), sum("e").as("se"))
      .select(col("label"), col("n_vecs"),
        round(col("se").cast(DoubleType) / col("n_vecs"), 6).as("mse"))
      .orderBy("label")
  }

  /** Generated DuckDB SQL: re-encodes every vector against the inlined
    * codebooks and re-derives the per-label distortion means.
    */
  def pqDistortionOracleSql(spark: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val books = fittedCodebooks(Tables(spark, dir).embeddings)
    s"""WITH codebook(m, code, cents) AS (
       |  VALUES
       |    ${codebookValues(books)}
       |), enc_d AS (
       |  SELECT e.vec_id, e.label, cb.m, cb.code,
       |         (${l2Chain("e.embedding", "cb.cents")}) AS d
       |  FROM embeddings e, codebook cb
       |), enc AS (
       |  SELECT vec_id, label, m, d FROM (
       |    SELECT vec_id, label, m, d,
       |           row_number() OVER (PARTITION BY vec_id, m
       |                              ORDER BY d ASC, code ASC) AS rn
       |    FROM enc_d) WHERE rn = 1
       |), verr AS (
       |  SELECT vec_id, label,
       |         SUM(CAST(ROUND(d, 7) AS DECIMAL(18,7))) AS e
       |  FROM enc GROUP BY vec_id, label
       |)
       |SELECT label, COUNT(*) AS n_vecs,
       |       ROUND(CAST(SUM(e) AS DOUBLE) / COUNT(*), 6) AS mse
       |FROM verr GROUP BY label ORDER BY label""".stripMargin
  }

  val entries: Seq[QueryEntry] = Seq(
    // IVF-PQ search for the first 10 vec_ids. The fit is deterministic
    // end-to-end (coarse quantizer AND the 8 codebooks), so the whole
    // compressed-domain search sits under the differential gate; PQ
    // recall vs exact cosine top-k is additionally pinned in IvfSpec.
    QueryEntry.dynamicSql("q74_ann_ivfpq") { (s, dir) =>
      annSearchPqOracleSql(s, dir, nprobe = 3, k = 5)
    } { (s, dir) =>
      // durable-index path (see q33): staged coarse quantizer,
      // codebooks, and encoded corpus; the oracle refits
      // deterministically, so reload ≡ refit sits under the gate
      val emb = Tables(s, dir).embeddings
      annSearchPqStaged(s, dir, emb.filter(col("vec_id") < 10), nprobe = 3, k = 5)
    },

    // q176 — PQ reconstruction distortion per label (the q169-pattern
    // quality metric for the compression side: recall measures what
    // search loses, distortion measures what encoding loses). DuckDB
    // re-encodes the whole corpus against the inlined codebooks.
    QueryEntry.dynamicSql("q176_pq_distortion") { (s, dir) =>
      pqDistortionOracleSql(s, dir)
    } { (s, dir) =>
      val emb = Tables(s, dir).embeddings
      pqDistortion(emb, fittedCodebooks(emb))
    },
  )
}
