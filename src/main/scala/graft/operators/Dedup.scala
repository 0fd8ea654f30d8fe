package graft.operators

import graft.functions.GraftFunctions
import graft.{QueryEntry, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Tier C deduplication (SURVEY §2.4): exact, MinHash-LSH near-dup,
  * and SimHash signatures over the `documents` fixture.
  *
  * Scale design (the 100 TB rule, SURVEY §7.4): every path is a
  * shuffle-partitioned dataflow — exact dedup groups by the dedup key
  * (hash-partitioned), MinHash candidates come from a band-bucket
  * self-join (shuffle on band signature, never an all-pairs product),
  * and survivors use MIN(doc_id) as the deterministic tiebreak, the
  * distributed analogue of `row_number() = 1`.
  */
object Dedup {

  // ---- shingling ---------------------------------------------------------

  /** Word 3-gram shingles (distinct), 1-based window starts so the
    * DuckDB oracle can mirror it with `range`/list slicing exactly:
    * n_windows = max(1, n_tokens - 2); window i = tokens[i, i+2].
    */
  def shingles(text: Column): Column = {
    val toks = TextAnalysis.tokens(text)
    array_distinct(
      transform(
        sequence(lit(1), greatest(lit(1), size(toks) - 2)),
        i => concat_ws(" ", slice(toks, i, lit(3))),
      )
    )
  }

  /** DuckDB mirror of [[shingles]]. */
  val shinglesSql: String =
    """list_distinct(list_transform(
      |    range(1, greatest(2, len(toks) - 1)),
      |    i -> array_to_string(toks[i:i+2], ' ')))""".stripMargin

  /** The standard `sh(doc_id, shingles)` oracle CTE body over the
    * documents table — shared by every dedup oracle below.
    */
  val shCteSql: String =
    s"""sh AS (
       |  SELECT doc_id, $shinglesSql AS shingles
       |  FROM (SELECT doc_id,
       |               regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
       |        FROM documents) t
       |)""".stripMargin

  /** Oracle pair generation in INVERTED-INDEX form: candidates come
    * from a shingle-posting self-join + group-count (the per-pair
    * count over DISTINCT shingles IS the intersection size), then the
    * integer Jaccard threshold. EXACT — any pair at Jaccard ≥ num/den
    * shares at least one shingle (shingle lists are never empty: a
    * short doc still yields one window), so no qualifying pair can be
    * missed — and bounded by posting-list sizes instead of |docs|²:
    * the same oracle finishes in seconds at the ×10 blowup of sf0.1
    * where the all-pairs cross join exceeded the sf1 sweep's 1800 s
    * timeout (round-9 VERDICT item 5). Expects a prior CTE
    * `sh(doc_id, shingles)`; yields `pairs(doc_a, doc_b, inter, uni)`
    * already filtered to Jaccard ≥ num/den.
    */
  def invertedPairsSql(num: Int, den: Int): String =
    s"""ex AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
       |cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(COUNT(*) AS BIGINT) AS inter
       |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), ln AS (SELECT doc_id, len(shingles) AS n FROM sh),
       |pairs AS (
       |  SELECT doc_a, doc_b, inter,
       |         CAST(la.n + lb.n - inter AS BIGINT) AS uni
       |  FROM cand JOIN ln la ON la.doc_id = cand.doc_a
       |            JOIN ln lb ON lb.doc_id = cand.doc_b
       |  WHERE $den * inter >= $num * (la.n + lb.n - inter)
       |)""".stripMargin

  /** Shared q38/q180 oracle: connected components over the exact pair
    * set as a recursive reachability CTE — min-label fixpoint and
    * union-by-min roots are the same function of the edge set, so both
    * the driver union-find and the distributed propagation must land
    * on identical groups.
    */
  def ccOracleSql: String =
    s"""WITH RECURSIVE $shCteSql, ${invertedPairsSql(4, 5)},
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs
       |), reach(id, l) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.l FROM edges e JOIN reach r ON e.dst = r.id
       |)
       |SELECT id AS doc_id, CAST(MIN(l) AS BIGINT) AS group_id
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  // ---- MinHash -----------------------------------------------------------

  /** 32 permutations → 16 bands × 2 rows. At the planted-duplicate
    * similarity (Jaccard ≥ 0.8 declared, ≥ 0.97 in data) miss
    * probability is (1 - 0.8²)^16 ≈ 1e-7, so the LSH candidate set is
    * exhaustive w.r.t. the threshold and the exact-verify step makes
    * the output equal to the all-pairs oracle.
    */
  private val NumPerms = 32
  private val BandRows = 2
  private val NumBands = NumPerms / BandRows

  /** doc_id, shingles, and the 32-wide MinHash signature, via the
    * single-pass codegen `minhash_sig` expression (one traversal
    * updates all 32 minima; the compositional
    * `array_min(transform(...))` × 32 form it replaced is kept as the
    * semantic oracle in DedupSpec).
    */
  def minhashSignatures(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), shingles(col("text")).as("shingles"))
      .select(col("doc_id"), col("shingles"),
        GraftFunctions.minhashSig(col("shingles"), NumPerms).as("sig"))

  /** The compositional form of the signature — same hash scheme
    * (xxhash64 base then per-permutation seeded xxhash64), built only
    * from `transform`/`array_min`; DedupSpec asserts equality with the
    * codegen expression.
    */
  def minhashSignaturesCompositional(docs: DataFrame): DataFrame = {
    val sh = docs.select(col("doc_id"), shingles(col("text")).as("shingles"))
    val hashes = transform(col("shingles"), s => GraftFunctions.xxhash64Seeded(42L, s))
    val sig = array(
      (0 until NumPerms).map { i =>
        array_min(transform(hashes, h => GraftFunctions.xxhash64Seeded(i, h)))
      }: _*
    )
    sh.select(col("doc_id"), col("shingles"), sig.as("sig"))
  }

  /** (doc_id, band_sig): one row per (doc, band) — the LSH bucket key
    * shared by the self-join ([[nearDupPairs]]) and the cross-corpus
    * join ([[crossCorpusNearDup]]).
    */
  private def bandSignatures(sigs: DataFrame): DataFrame =
    sigs.select(
      col("doc_id"),
      explode(array((0 until NumBands).map { b =>
        xxhash64(lit(b), element_at(col("sig"), b * BandRows + 1),
          element_at(col("sig"), b * BandRows + 2)).as(s"b$b")
      }: _*)).as("band_sig"),
    )

  /** Near-dup pairs at Jaccard ≥ `num/den` (integer threshold — the
    * comparison `den*inter >= num*union` is exact in both engines):
    * LSH band-bucket join for candidates, then exact shingle-set
    * verification. Output: (doc_a, doc_b, inter, uni).
    */
  /** The planted-excerpt corpus for q218: every doc, plus — for
    * doc_id % 7 == 0 — its first-half-tokens excerpt at id `-doc_id-1`
    * (the quote/chunk-inclusion shape Jaccard dedup systematically
    * misses: an excerpt's Jaccard vs its source is ≈ 0.5, far under
    * any near-dup threshold, while its CONTAINMENT is ≈ 1). Planted
    * ids live in the NEGATIVE id space — disjoint from real ids at any
    * scale factor (an additive offset aliases real doc_ids once the
    * corpus outgrows it, and since the oracle mirrors the
    * construction, the differential gate could never see it).
    */
  def docsWithExcerpts(docs: DataFrame): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val kk = greatest(lit(2), (size(toks) / lit(2)).cast("int"))
    docs.select(col("doc_id"), col("text"))
      .union(docs.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select((-col("doc_id") - lit(1L)).as("doc_id"),
          concat_ws(" ", slice(toks, lit(1), kk)).as("text")))
  }

  /** Containment join (q218): pairs where the SMALLER shingle set is
    * ≥ num/den contained in the larger — the asymmetric complement of
    * the Jaccard join. Candidates come from the exact inverted shingle
    * index (shared-shingle self-join — banded MinHash estimates
    * JACCARD and would probabilistically miss high-containment/low-
    * Jaccard pairs, which are this operator's whole point), so recall
    * is exact by construction; cost is bounded by shingle posting
    * lists, the q20 oracle's own shape.
    */
  def containmentPairs(docs: DataFrame, num: Int = 4, den: Int = 5): DataFrame = {
    val par = docs.sparkSession.sessionState.conf.numShufflePartitions
    val sh = docsWithExcerpts(docs)
      .select(col("doc_id"), shingles(col("text")).as("shingles"))
      .repartition(par, col("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.TransientCaches.register(sh)
    val ex = sh.select(col("doc_id"), explode(col("shingles")).as("g"))
    val cand = ex.as("a")
      .join(ex.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"))
      .agg(count(lit(1)).as("inter"))
    val ln = sh.select(col("doc_id"), size(col("shingles")).as("n"))
    cand
      .join(ln.select(col("doc_id").as("ia"), col("n").as("na")), "ia")
      .join(ln.select(col("doc_id").as("ib"), col("n").as("nb")), "ib")
      .filter(col("inter") * den >= least(col("na"), col("nb")) * num)
      .select(
        when(col("na") <= col("nb"), col("ia")).otherwise(col("ib"))
          .as("contained"),
        when(col("na") <= col("nb"), col("ib")).otherwise(col("ia"))
          .as("container"),
        col("inter").cast(LongType).as("inter"),
        least(col("na"), col("nb")).cast(LongType).as("n_small"),
        greatest(col("na"), col("nb")).cast(LongType).as("n_big"))
      .orderBy("contained", "container")
  }

  /** Per-source modularity contribution over the near-dup graph
    * (q213): edges from [[nearDupPairs]], communities = `source`.
    * Exact integer intra-edge and degree rollups (|sources|-bounded),
    * one pinned double formula per source at the end — the whole
    * computation beyond pair generation is two grouped counts.
    */
  def sourceModularity(docs: DataFrame): DataFrame = {
    val srcs = docs.select(col("doc_id"), col("source"))
    val e = nearDupPairs(docs)
      .join(srcs.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(srcs.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(col("sa"), col("sb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    graft.TransientCaches.register(e)
    val m = e.agg(count(lit(1)).as("m"))
    val intra = e.filter(col("sa") === col("sb"))
      .groupBy(col("sa").as("source")).agg(count(lit(1)).as("ie"))
    val degs = e.select(col("sa").as("source"))
      .union(e.select(col("sb").as("source")))
      .groupBy("source").agg(count(lit(1)).as("degree_sum"))
    degs.join(intra, Seq("source"), "left_outer")
      .crossJoin(m)
      .select(col("source"),
        coalesce(col("ie"), lit(0L)).as("intra_edges"),
        col("degree_sum"),
        (round(coalesce(col("ie"), lit(0L)).cast("double") / col("m") -
          (col("degree_sum").cast("double") / (lit(2.0) * col("m"))) *
            (col("degree_sum").cast("double") / (lit(2.0) * col("m"))), 6)
          + lit(0.0)).as("contribution"))
      .orderBy("source")
  }

  def nearDupPairs(docs: DataFrame, num: Int = 4, den: Int = 5): DataFrame = {
    // Spread shingling/minhashing across the cluster regardless of the
    // source's split count (small fixture = 1 split = 1 core otherwise),
    // and cache: the signature frame feeds both the band join and the
    // exact-verify joins — without a cache the whole shingle+minhash
    // pipeline runs twice. At 100 TB this frame is (doc_id, shingles,
    // 32 longs) — far smaller than the corpus — and MEMORY_AND_DISK
    // spills per-partition rather than failing.
    val par = docs.sparkSession.sessionState.conf.numShufflePartitions
    val sigs = minhashSignatures(docs.repartition(par, col("doc_id")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = bandSignatures(sigs)
    val cand = bands.as("x")
      .join(bands.as("y"), col("x.band_sig") === col("y.band_sig") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val shA = sigs.select(col("doc_id").as("ida"), col("shingles").as("sa"))
    val shB = sigs.select(col("doc_id").as("idb"), col("shingles").as("sb"))
    val inter = size(array_intersect(col("sa"), col("sb")))
    val pre = cand
      .join(shA, col("doc_a") === col("ida"))
      .join(shB, col("doc_b") === col("idb"))
      .select(
        col("doc_a"), col("doc_b"),
        inter.cast(LongType).as("inter"),
        (size(col("sa")) + size(col("sb")) - inter).cast(LongType).as("uni"),
      )
      .filter(col("inter") * den >= col("uni") * num)
      .orderBy("doc_a", "doc_b")
    // Materialize (the verified pair set is tiny) so the cached
    // signature frame can be released before returning; note the
    // executed plan first so its metrics stay visible to the runtime
    // breakdown (the checkpoint-backed frame has none). MEMORY_ONLY
    // storage, not the default MEMORY_AND_DISK: the default routes
    // every partition through the local disk, and q20's
    // driver-recorded sequence time inflated 10x two rounds running
    // while iso/fresh always measured ~0.7 s with steal ~0 — the
    // signature of transient host IO, which a disk write in the timed
    // region is exposed to and a memory pin is not. The pair set is
    // KB-sized, so memory-only is safe at any corpus scale (it is the
    // VERIFIED pair set, already LSH-filtered). A persist-based
    // materialization was rejected: CacheManager would serve the
    // semantically-equal plan from cache on every later run, turning
    // repeated bench runs into cache hits; localCheckpoint makes a
    // fresh RDD per call, so each run pays the honest pipeline cost.
    val out = pre.localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    sigs.unpersist()
    out
  }

  // ---- incremental index-probe dedup (q185/q187/q188/q189) ---------------

  /** Three-way batch split for the incremental-dedup family, a
    * deterministic function of doc_id both engines mirror: history =
    * batch 0 (doc_id % 5 in 2..4), first increment = batch 1 (% 5 =
    * 1), second increment = batch 2 (% 5 = 0). q185/q188 use the
    * two-way collapse (batch != 0 vs 0); q187/q189 the full split.
    */
  private def batchNo(id: Column): Column =
    when(id % 5 === 1, lit(1)).when(id % 5 === 0, lit(2)).otherwise(lit(0))

  /** SQL mirror of [[batchNo]]. */
  private def batchNoSql(c: String): String =
    s"CASE $c % 5 WHEN 1 THEN 1 WHEN 0 THEN 2 ELSE 0 END"

  /** Partition count for an index-run write, derived from the run's
    * ROW volume (capped at the session parallelism): a 5k-row delta
    * written 32-ways produces 32 tiny files that cost more to write
    * and re-open than they parallelize (guide §2.2/§6 — the r15 fix
    * for the fold family's four per-increment run writes); a 100 TB
    * deployment's batches drive the same derivation UP with the data.
    */
  private def runWritePartitions(rows: Long, par: Int, perPart: Long): Int =
    math.min(par.toLong, math.max(1L, (rows + perPart - 1) / perPart)).toInt

  /** Write one sorted RUN of the band/shingle index under `runDir`:
    * bands range-partitioned and sorted by band_sig (a probe's band
    * join skips row groups via min/max stats), shingle sets keyed by
    * doc_id. The index is a COLLECTION of such runs — an LSM layout:
    * base + one delta per folded increment — so a fold-in writes only
    * the new batch's rows and per-increment cost stays flat as history
    * grows; merging runs is [[compactedIncrementalProbe]]'s job.
    * `sigs` is persisted by every caller, so the row count is a cheap
    * cache pass.
    */
  private def writeIndexRun(sigs: DataFrame, runDir: String, par: Int): Unit = {
    val nDocs = sigs.count()
    bandSignatures(sigs)
      .repartitionByRange(
        runWritePartitions(nDocs * NumBands, par, 100000L), col("band_sig"))
      .sortWithinPartitions("band_sig")
      .write.mode("overwrite").parquet(s"$runDir/bands.parquet")
    sigs.select("doc_id", "shingles")
      .coalesce(runWritePartitions(nDocs, par, 25000L))
      .write.mode("overwrite").parquet(s"$runDir/shingles.parquet")
  }

  /** Probe a batch's signatures against the index runs: band-bucket
    * join for candidates (each run is band_sig-sorted, so the scan
    * skips), then exact shingle verification at Jaccard >= num/den.
    * Cost is probe-side work + index lookups — never a recompute over
    * history. Output: (new_doc, hist_doc, inter, uni), unordered.
    */
  private def probeIndexRuns(spark: SparkSession, newSigs: DataFrame,
      runs: Seq[String], num: Int, den: Int): DataFrame = {
    val bands = spark.read.parquet(runs.map(r => s"$r/bands.parquet"): _*)
    val cand = bandSignatures(newSigs).as("x")
      .join(bands.as("y"), col("x.band_sig") === col("y.band_sig"))
      .select(col("x.doc_id").as("new_doc"), col("y.doc_id").as("hist_doc"))
      .distinct()
    val newSh = newSigs.select(col("doc_id").as("ida"), col("shingles").as("sa"))
    val histSh = spark.read.parquet(runs.map(r => s"$r/shingles.parquet"): _*)
      .select(col("doc_id").as("idb"), col("shingles").as("sb"))
    val inter = size(array_intersect(col("sa"), col("sb")))
    cand
      .join(newSh, col("new_doc") === col("ida"))
      .join(histSh, col("hist_doc") === col("idb"))
      .select(col("new_doc"), col("hist_doc"),
        inter.cast(LongType).as("inter"),
        (size(col("sa")) + size(col("sb")) - inter).cast(LongType).as("uni"))
      .filter(col("inter") * den >= col("uni") * num)
  }

  /** Signatures of the docs in one batch, spread across the cluster. */
  private def batchSignatures(docs: DataFrame, pred: Column,
      par: Int): DataFrame =
    minhashSignatures(docs.filter(pred).repartition(par, col("doc_id")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Incremental near-dup detection (q185): the INDEX-PROBE form of
    * q20 that a growing corpus actually runs — historical docs'
    * minhash bands and shingle sets are staged ONCE as a durable
    * parquet index (the q33/TokenizedCorpus pay-once pattern), and
    * each new batch only computes ITS OWN signatures and probes the
    * staged runs ([[probeIndexRuns]]). Split: new batch = doc_id % 5
    * == 0, history = the rest. The num/den threshold threads into the
    * oracle through [[incrementalOracleSql]], so engine and oracle
    * derive from the same constants at any threshold.
    */
  def incrementalNearDups(spark: org.apache.spark.sql.SparkSession,
      dir: String, num: Int = 4, den: Int = 5): DataFrame = {
    val docs = graft.Tables(spark, dir).documents
    val par = spark.sessionState.conf.numShufflePartitions
    val idx = ensureHistoricalIndex(spark, dir)
    val newSigs = batchSignatures(docs, col("doc_id") % 5 === 0, par)
    val pre = probeIndexRuns(spark, newSigs, Seq(idx), num, den)
      .orderBy("new_doc", "hist_doc")
    // localCheckpoint materialization, MEMORY_ONLY — see nearDupPairs
    val out = pre.localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    newSigs.unpersist()
    out
  }

  /** Stage (once per fixture fingerprint) and return the q185/q188
    * historical index dir: one sorted run holding the bands + shingles
    * of every history doc (doc_id % 5 != 0).
    */
  def ensureHistoricalIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val docs = graft.Tables(spark, dir).documents
    val par = spark.sessionState.conf.numShufflePartitions
    val idx = graft.sources.Staging.fingerprintPath(
      "graft_dedup_index", dir, "documents.parquet", "hist_mod5_v1")
    graft.sources.Staging.ensureStaged(idx) {
      val hist = batchSignatures(docs, col("doc_id") % 5 =!= 0, par)
      writeIndexRun(hist, idx, par)
      hist.unpersist()
      graft.sources.Staging.touch(idx)
    }
    idx
  }

  /** q188's per-micro-batch body: probe an ARRIVING docs frame
    * (doc_id, text) against the staged historical index — public so
    * the streaming ingest twin runs the same probe code path the batch
    * q185 certifies. No caching: a micro-batch is small and the caller
    * runs exactly one action over the result, so pinning state across
    * batches would only grow the streaming job's footprint.
    */
  def probeDocsAgainstIndex(docs: DataFrame, idx: String,
      num: Int = 4, den: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    val par = spark.sessionState.conf.numShufflePartitions
    val sigs = minhashSignatures(docs.repartition(par, col("doc_id")))
    probeIndexRuns(spark, sigs, Seq(idx), num, den)
  }

  /** q187 — the FOLD-IN that makes q185 actually incremental (round-9
    * VERDICT item 1): after each increment's probe, the batch's bands
    * and shingles are APPENDED to the index as a new sorted run
    * (band_sig range layout preserved per run), so the next increment
    * probes history + every previously folded batch. Two successive
    * increments run here: batch 1 probes the base index, is folded in,
    * then batch 2 probes base+delta1 — a missed or wrong fold-in
    * removes every batch-2-vs-batch-1 pair and breaks the oracle hash.
    * Fold-in cost is proportional to the BATCH (one delta write),
    * never to history — the flat per-increment cost a daily-growing
    * 100 TB corpus needs; run-merging is amortized maintenance
    * ([[compactedIncrementalProbe]]).
    */
  def foldingIncrementalNearDups(spark: org.apache.spark.sql.SparkSession,
      dir: String, num: Int = 4, den: Int = 5): DataFrame = {
    val docs = graft.Tables(spark, dir).documents
    val par = spark.sessionState.conf.numShufflePartitions
    val idx = graft.sources.Staging.fingerprintPath(
      "graft_dedup_index", dir, "documents.parquet", "fold_mod5_v1")
    graft.sources.Staging.ensureStaged(s"$idx/base") {
      val hist = batchSignatures(docs, batchNo(col("doc_id")) === 0, par)
      writeIndexRun(hist, s"$idx/base", par)
      hist.unpersist()
      graft.sources.Staging.touch(s"$idx/base")
    }
    val increments = (1 to 2).map { b =>
      val batch = batchSignatures(docs, batchNo(col("doc_id")) === b, par)
      val runs = s"$idx/base" +: (1 until b).map(i => s"$idx/delta$i")
      val pre = probeIndexRuns(spark, batch, runs, num, den)
        .select(lit(b).as("batch"), col("new_doc"), col("hist_doc"),
          col("inter"), col("uni"))
      // materialize THIS increment's pairs before the fold-in below
      // mutates the delta the next run of this query will overwrite
      val out = pre.localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      // the FOLD-IN: one delta run per increment, deterministic and
      // idempotent (overwrite), re-paid per call so bench cost stays
      // honest
      writeIndexRun(batch, s"$idx/delta$b", par)
      batch.unpersist()
      out
    }
    increments.reduce(_ unionAll _).orderBy("batch", "new_doc", "hist_doc")
  }

  /** q189 — index COMPACTION with probe-equivalence under the oracle:
    * base + delta1 are merged into a single band_sig-range-sorted run
    * (the LSM maintenance step that bounds the run count a probe must
    * touch), and batch 2 probes the COMPACTED run only. The result
    * must equal probing the uncompacted runs — a compaction that
    * loses, duplicates, or mis-sorts rows changes the pair set or its
    * multiplicity and breaks the hash. Compaction cost is O(index),
    * which is the nature of the operation — it is amortized
    * maintenance (run occasionally, e.g. when the delta count passes a
    * threshold), not per-increment cost.
    */
  def compactedIncrementalProbe(spark: org.apache.spark.sql.SparkSession,
      dir: String, num: Int = 4, den: Int = 5): DataFrame = {
    val docs = graft.Tables(spark, dir).documents
    val par = spark.sessionState.conf.numShufflePartitions
    val idx = graft.sources.Staging.fingerprintPath(
      "graft_dedup_index", dir, "documents.parquet", "fold_mod5_v1")
    graft.sources.Staging.ensureStaged(s"$idx/base") {
      val hist = batchSignatures(docs, batchNo(col("doc_id")) === 0, par)
      writeIndexRun(hist, s"$idx/base", par)
      hist.unpersist()
      graft.sources.Staging.touch(s"$idx/base")
    }
    // delta1 rewritten deterministically (idempotent) so this entry is
    // self-contained whether or not q187 ran first in this JVM
    val b1 = batchSignatures(docs, batchNo(col("doc_id")) === 1, par)
    writeIndexRun(b1, s"$idx/delta1", par)
    b1.unpersist()
    // COMPACT: merge the two runs into one, restoring the single
    // range-sorted layout (a full shuffle-sort of the INDEX, not the
    // corpus — bands+shingles are far smaller than the documents)
    val compacted = s"$idx/compact_b1"
    val runs = Seq(s"$idx/base", s"$idx/delta1")
    val bandsIn = spark.read.parquet(runs.map(r => s"$r/bands.parquet"): _*)
    // row counts are parquet-metadata reads (row-group stats) — cheap
    bandsIn
      .repartitionByRange(
        runWritePartitions(bandsIn.count(), par, 100000L), col("band_sig"))
      .sortWithinPartitions("band_sig")
      .write.mode("overwrite").parquet(s"$compacted/bands.parquet")
    val shIn = spark.read.parquet(runs.map(r => s"$r/shingles.parquet"): _*)
    shIn.coalesce(runWritePartitions(shIn.count(), par, 25000L))
      .write.mode("overwrite").parquet(s"$compacted/shingles.parquet")
    val b2 = batchSignatures(docs, batchNo(col("doc_id")) === 2, par)
    val pre = probeIndexRuns(spark, b2, Seq(compacted), num, den)
      .orderBy("new_doc", "hist_doc")
    val out = pre.localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    b2.unpersist()
    out
  }

  /** q270 — index RETRACTION under the oracle: the forget pass a
    * production index needs (takedowns, opt-outs, dedup survivors'
    * losers). A deterministic tombstone set — history docs with
    * doc_id % 7 == 0 — is written as its own run, then a PURGE
    * compaction rewrites the index minus tombstoned docs (restoring
    * the single band_sig-range-sorted layout), and the q185 batch
    * probes the PURGED run only. The result must equal a from-scratch
    * probe against history-minus-deleted — a purge that leaves a
    * tombstoned doc's bands behind resurfaces its pairs and breaks
    * the hash; one that drops too much loses pairs. The purge is
    * O(index) amortized maintenance (q189's class); the physical
    * removal itself is additionally guarded by an engine-side row
    * count (index rows after purge = before − tombstoned), so
    * probe-time filtering could not impersonate a purge.
    */
  def retractedIncrementalProbe(spark: org.apache.spark.sql.SparkSession,
      dir: String, num: Int = 4, den: Int = 5): DataFrame = {
    val docs = graft.Tables(spark, dir).documents
    val par = spark.sessionState.conf.numShufflePartitions
    val idx = ensureHistoricalIndex(spark, dir)
    val tdir = graft.sources.Staging.fingerprintPath(
      "graft_dedup_index", dir, "documents.parquet", "retract_mod7_v1")
    // tombstones: rewritten deterministically (idempotent) per call so
    // the entry is self-contained and the bench cost honest
    val tombs = docs
      .filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 7 === 0)
      .select("doc_id")
    tombs.write.mode("overwrite").parquet(s"$tdir/tombstones.parquet")
    val tomb = spark.read.parquet(s"$tdir/tombstones.parquet")
    // PURGE: rewrite both index files minus the tombstoned docs
    val bandsBefore = spark.read.parquet(s"$idx/bands.parquet")
    val nBefore = bandsBefore.count()
    bandsBefore.join(tomb, Seq("doc_id"), "left_anti")
      .repartitionByRange(
        runWritePartitions(nBefore, par, 100000L), col("band_sig"))
      .sortWithinPartitions("band_sig")
      .write.mode("overwrite").parquet(s"$tdir/purged/bands.parquet")
    val shBefore = spark.read.parquet(s"$idx/shingles.parquet")
    shBefore.join(tomb, Seq("doc_id"), "left_anti")
      .coalesce(runWritePartitions(shBefore.count(), par, 25000L))
      .write.mode("overwrite").parquet(s"$tdir/purged/shingles.parquet")
    // the purge must have physically removed EXACTLY the tombstoned
    // docs' band rows — probe-time filtering cannot impersonate this
    val nTombBandRows =
      bandsBefore.join(tomb, Seq("doc_id"), "left_semi").count()
    val nAfter = spark.read.parquet(s"$tdir/purged/bands.parquet").count()
    require(nTombBandRows > 0 && nAfter == nBefore - nTombBandRows,
      s"purge drift: $nBefore -> $nAfter, tombstoned rows $nTombBandRows")
    val newSigs = batchSignatures(docs, col("doc_id") % 5 === 0, par)
    val pre = probeIndexRuns(spark, newSigs, Seq(s"$tdir/purged"), num, den)
      .orderBy("new_doc", "hist_doc")
    val out = pre.localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    newSigs.unpersist()
    out
  }

  /** q270 oracle: q185's cross-split pairs with the tombstoned history
    * side removed. */
  def retractedOracleSql(num: Int, den: Int): String =
    s"""WITH $shCteSql, ${invertedPairsSql(num, den)}
       |SELECT CASE WHEN doc_a % 5 = 0 THEN doc_a ELSE doc_b END AS new_doc,
       |       CASE WHEN doc_a % 5 = 0 THEN doc_b ELSE doc_a END AS hist_doc,
       |       inter, uni
       |FROM pairs
       |WHERE (doc_a % 5 = 0) <> (doc_b % 5 = 0)
       |  AND (CASE WHEN doc_a % 5 = 0 THEN doc_b ELSE doc_a END) % 7 <> 0
       |ORDER BY new_doc, hist_doc""".stripMargin

  /** q185/q188 oracle (two-way split), threaded from the same num/den
    * the engine uses. */
  def incrementalOracleSql(num: Int, den: Int): String =
    s"""WITH $shCteSql, ${invertedPairsSql(num, den)}
       |SELECT CASE WHEN doc_a % 5 = 0 THEN doc_a ELSE doc_b END AS new_doc,
       |       CASE WHEN doc_a % 5 = 0 THEN doc_b ELSE doc_a END AS hist_doc,
       |       inter, uni
       |FROM pairs
       |WHERE (doc_a % 5 = 0) <> (doc_b % 5 = 0)
       |ORDER BY new_doc, hist_doc""".stripMargin

  /** q187 oracle: every pair whose endpoints sit in DIFFERENT batches,
    * attributed to the LATER endpoint's increment — exactly the union
    * of "increment b vs everything folded before it". */
  def foldingOracleSql(num: Int, den: Int): String =
    s"""WITH $shCteSql, ${invertedPairsSql(num, den)},
       |bp AS (
       |  SELECT ${batchNoSql("doc_a")} AS ba, ${batchNoSql("doc_b")} AS bb,
       |         doc_a, doc_b, inter, uni
       |  FROM pairs
       |)
       |SELECT CAST(CASE WHEN ba > bb THEN ba ELSE bb END AS INT) AS batch,
       |       CASE WHEN ba > bb THEN doc_a ELSE doc_b END AS new_doc,
       |       CASE WHEN ba > bb THEN doc_b ELSE doc_a END AS hist_doc,
       |       inter, uni
       |FROM bp WHERE ba <> bb
       |ORDER BY batch, new_doc, hist_doc""".stripMargin

  /** q189 oracle: the batch-2 increment only (one side batch 2, the
    * other earlier) — what the compacted-run probe must reproduce. */
  def compactedProbeOracleSql(num: Int, den: Int): String =
    s"""WITH $shCteSql, ${invertedPairsSql(num, den)},
       |bp AS (
       |  SELECT ${batchNoSql("doc_a")} AS ba, ${batchNoSql("doc_b")} AS bb,
       |         doc_a, doc_b, inter, uni
       |  FROM pairs
       |)
       |SELECT CASE WHEN ba = 2 THEN doc_a ELSE doc_b END AS new_doc,
       |       CASE WHEN ba = 2 THEN doc_b ELSE doc_a END AS hist_doc,
       |       inter, uni
       |FROM bp WHERE ba <> bb AND (ba = 2 OR bb = 2)
       |ORDER BY new_doc, hist_doc""".stripMargin

  /** Connected components over the verified near-dup pairs: each
    * involved doc labeled with the min doc_id of its component — the
    * survivor-per-cluster step real corpus dedup needs beyond pairs.
    *
    * Hybrid strategy, the shape production CC implementations use: the
    * edge set is LSH-filtered and exact-verified, i.e. orders of
    * magnitude smaller than the corpus, so when it fits comfortably on
    * the driver (≤ `smallGraphMax` edges) a local union-find answers
    * in one pass — collecting a model-sized result, like the IVF
    * centroids, not corpus data. Past the threshold the distributed
    * min-label propagation below takes over: labels live in a
    * DataFrame, each round joins labels across edges and takes the
    * min, O(component diameter) shuffle rounds on the edge set. The
    * default threshold (1M edges ≈ low hundreds of MB boxed on the
    * driver) stays well inside a default driver heap.
    */
  def nearDupGroups(docs: DataFrame, num: Int = 4, den: Int = 5,
      smallGraphMax: Long = 1000000L): DataFrame =
    groupsFromPairs(nearDupPairs(docs, num, den).select("doc_a", "doc_b"),
      smallGraphMax)

  /** Connected components over ANY (doc_a, doc_b) pair frame — the
    * q38 machinery factored out so other pair generators (SimHash
    * q138 for q223's agreement measure) reuse the identical size-gated
    * union-find / distributed min-label fixpoint.
    */
  def groupsFromPairs(pairsIn: DataFrame,
      smallGraphMax: Long = 1000000L): DataFrame = {
    val spark = pairsIn.sparkSession
    val pairs = pairsIn.select("doc_a", "doc_b")
    // strict <: smallGraphMax = 0 (q180's forced-distributed mode) must
    // route even an EMPTY edge set through the distributed fixpoint, or
    // a pair-free corpus would silently certify the driver union-find
    if (pairs.count() < smallGraphMax) {
      import spark.implicits._
      // model-sized: <smallGraphMax rows — size-gated above; the
      // distributed min-label fixpoint (q180-forced) is the else path
      val es = pairs.as[(Long, Long)].collect()
      // union-find, union-by-min + path compression: the root of every
      // set is its minimum label, matching the distributed fixpoint
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      return es.iterator.flatMap(e => Iterator(e._1, e._2)).toSeq.distinct.sorted
        .map(id => (id, find(id)))
        .toDF("doc_id", "group_id")
    }
    val edges = pairs
      .unionAll(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .toDF("src", "dst")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // `cached` is the frame actually pinned each round; `labels` is
    // its (id, label) view — unpersist must target the pinned plan
    var cached = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = cached
    cached.count() // materialize so each round reads the cache, not lineage
    var converged = false
    var rounds = 0
    val maxRounds = 64 // one round per hop of component diameter; near-dup clusters are shallow
    while (!converged && rounds < maxRounds) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst2"), col("dst") === col("dst2"))
        .groupBy(col("src").as("id"))
        .agg(min("label").as("nl"))
      // carry the previous label through the round so convergence is
      // read off the same materialized frame — one join per round
      val stepped = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val changed = stepped.filter(col("label") =!= col("old")).count() // materializes
      cached.unpersist()
      cached = stepped
      labels = stepped.select("id", "label")
      converged = changed == 0
      rounds += 1
    }
    // a silently-unconverged result would split components — fail loud
    if (!converged)
      throw new IllegalStateException(
        s"nearDupGroups did not converge in $maxRounds rounds")
    val pre = labels.select(col("id").as("doc_id"), col("label").as("group_id"))
      .orderBy("doc_id")
    // MEMORY_ONLY: clustered-docs-only frame (see nearDupPairs — same
    // keep-disk-out-of-the-timed-region rationale)
    val out = pre.localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    cached.unpersist()
    edges.unpersist()
    out
  }


  /** Clustering agreement between the two cheap near-dup methods
    * (q223): MinHash-Jaccard clusters (q38) vs SimHash-Hamming
    * clusters (q138 pairs through the same CC), compared as
    * partitions of the corpus by Rand / Adjusted-Rand index — the
    * "can we run only the cheaper method" decision number. Pair
    * counting runs on the CONTINGENCY TABLE (Σ C(n_ij,2) over
    * cluster-size cells), never on n² doc pairs; unclustered docs are
    * their own singleton cluster. All counts exact integers; the two
    * indices are pinned double formulas at the end.
    */
  def clusteringAgreement(t: Tables): DataFrame = {
    val dbl = "double"
    val docs = t.documents.select("doc_id")
    val g1 = nearDupGroups(t.documents).withColumnRenamed("group_id", "l1")
    val g2 = groupsFromPairs(
      simhashNearDup(docsWithSimhash(t), maxHamming = 3)
        .select("doc_a", "doc_b"))
      .withColumnRenamed("group_id", "l2")
    val lab = docs
      .join(g1, Seq("doc_id"), "left_outer")
      .join(g2, Seq("doc_id"), "left_outer")
      .select(coalesce(col("l1"), col("doc_id")).as("l1"),
        coalesce(col("l2"), col("doc_id")).as("l2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.TransientCaches.register(lab)
    def c2(c: Column): Column = ((c * (c - 1)) / 2).cast(LongType)
    val i2 = lab.groupBy("l1", "l2").agg(count(lit(1)).as("c"))
      .agg(sum(c2(col("c"))).as("pairs_both"))
    val a2 = lab.groupBy("l1").agg(count(lit(1)).as("c"))
      .agg(sum(c2(col("c"))).as("pairs_1"))
    val b2 = lab.groupBy("l2").agg(count(lit(1)).as("c"))
      .agg(sum(c2(col("c"))).as("pairs_2"))
    val n = lab.agg(count(lit(1)).as("n"))
    val nPairs = col("n").cast(dbl) * (col("n") - 1) / lit(2.0)
    val expI = col("pairs_1").cast(dbl) * col("pairs_2").cast(dbl) / nPairs
    n.crossJoin(i2).crossJoin(a2).crossJoin(b2)
      .select(col("n"), col("pairs_both"), col("pairs_1"), col("pairs_2"),
        round(lit(1.0) -
          (col("pairs_1") + col("pairs_2") - lit(2L) * col("pairs_both"))
            .cast(dbl) / nPairs, 6).as("rand_index"),
        round((col("pairs_both").cast(dbl) - expI) /
          ((col("pairs_1").cast(dbl) + col("pairs_2").cast(dbl)) / lit(2.0)
            - expI), 6).as("ari"))
  }

  /** q223's oracle: both clusterings re-derived from scratch — the
    * MinHash inverted-index pairs and the SimHash integer-SQL rebuild,
    * each through its own recursive min-label reachability — then the
    * contingency pair counts and both indices.
    */
  def agreementOracleSql: String =
    s"""WITH RECURSIVE $shCteSql, ${invertedPairsSql(4, 5)},
       |edges1 AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs
       |), reach1(id, l) AS (
       |  SELECT src, src FROM edges1
       |  UNION
       |  SELECT e.src, r.l FROM edges1 e JOIN reach1 r ON e.dst = r.id
       |), g1 AS (SELECT id, MIN(l) AS l FROM reach1 GROUP BY id),
       |tok AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
       |  FROM documents
       |), th AS (
       |  SELECT doc_id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h FROM tok
       |), thc AS MATERIALIZED (
       |  -- collapse repeated tokens BEFORE the 60-way bit expansion:
       |  -- the majority vote is linear in counts, and tokens x 60 rows
       |  -- (1.9e9 at the sf1 blowup) shrink to distinct(doc, hash) x 60
       |  SELECT doc_id, h, COUNT(*) AS c FROM th GROUP BY 1, 2
       |), bits AS (
       |  SELECT doc_id, b.b AS b,
       |         SUM(CASE WHEN ((h >> b.b) & 1) = 1 THEN c ELSE -c END) AS cnt
       |  FROM thc, (SELECT unnest(range(0, 60)) AS b) b
       |  GROUP BY doc_id, b.b
       |), sig AS MATERIALIZED (
       |  SELECT doc_id,
       |         CAST(SUM(CASE WHEN cnt > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT) AS sh
       |  FROM bits GROUP BY doc_id
       |), bkey AS MATERIALIZED (
       |  -- banded pigeonhole candidates (EXACT for hamming <= 3: four
       |  -- disjoint 15-bit bands, three differing bits touch at most
       |  -- three of them, so some band is identical): the all-pairs
       |  -- bit_count join was |docs|^2/2 — 1.25e9 pairs / 1638 s at the
       |  -- sf1 blowup; band-bucketed candidates replay in seconds
       |  SELECT doc_id, sh, bi, (sh >> (bi * 15)) & 32767 AS bv
       |  FROM sig, (SELECT unnest(range(0, 4)) AS bi) bands
       |), spairs AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT DISTINCT a.doc_id AS doc_a, a.sh AS sha,
       |           b.doc_id AS doc_b, b.sh AS shb
       |    FROM bkey a JOIN bkey b
       |      ON b.bi = a.bi AND b.bv = a.bv AND a.doc_id < b.doc_id) c
       |  WHERE bit_count(xor(sha, shb)) <= 3
       |), edges2 AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM spairs
       |  UNION ALL SELECT doc_b, doc_a FROM spairs
       |), reach2(id, l) AS (
       |  SELECT src, src FROM edges2
       |  UNION
       |  SELECT e.src, r.l FROM edges2 e JOIN reach2 r ON e.dst = r.id
       |), g2 AS (SELECT id, MIN(l) AS l FROM reach2 GROUP BY id),
       |lab AS (
       |  SELECT COALESCE(g1.l, d.doc_id) AS l1, COALESCE(g2.l, d.doc_id) AS l2
       |  FROM documents d
       |  LEFT JOIN g1 ON g1.id = d.doc_id
       |  LEFT JOIN g2 ON g2.id = d.doc_id
       |), st AS (
       |  SELECT (SELECT COUNT(*) FROM lab) AS n,
       |         (SELECT CAST(SUM(c * (c - 1) // 2) AS BIGINT)
       |          FROM (SELECT COUNT(*) AS c FROM lab GROUP BY l1, l2) x)
       |           AS pairs_both,
       |         (SELECT CAST(SUM(c * (c - 1) // 2) AS BIGINT)
       |          FROM (SELECT COUNT(*) AS c FROM lab GROUP BY l1) x) AS pairs_1,
       |         (SELECT CAST(SUM(c * (c - 1) // 2) AS BIGINT)
       |          FROM (SELECT COUNT(*) AS c FROM lab GROUP BY l2) x) AS pairs_2
       |)
       |SELECT n, pairs_both, pairs_1, pairs_2,
       |       ROUND(1.0 - CAST(pairs_1 + pairs_2 - 2 * pairs_both AS DOUBLE)
       |             / (CAST(n AS DOUBLE) * (n - 1) / 2.0), 6) AS rand_index,
       |       ROUND((CAST(pairs_both AS DOUBLE)
       |              - CAST(pairs_1 AS DOUBLE) * CAST(pairs_2 AS DOUBLE)
       |                / (CAST(n AS DOUBLE) * (n - 1) / 2.0)) /
       |             ((CAST(pairs_1 AS DOUBLE) + CAST(pairs_2 AS DOUBLE)) / 2.0
       |              - CAST(pairs_1 AS DOUBLE) * CAST(pairs_2 AS DOUBLE)
       |                / (CAST(n AS DOUBLE) * (n - 1) / 2.0)), 6) AS ari
       |FROM st""".stripMargin

  /** q192 — survivor SELECTION per near-dup cluster: production dedup
    * keeps the best member of each cluster, not an arbitrary one; here
    * "best" = longest text (n_chars), min doc_id as the deterministic
    * tiebreak. Distributed shape: cluster labels (q38) joined to the
    * doc metadata, then ONE grouped aggregation whose argmax is a
    * struct max — max(struct(n_chars, -doc_id)) compares
    * lexicographically, so no per-group window or secondary shuffle.
    */
  def clusterSurvivors(docs: DataFrame): DataFrame = {
    val labels = nearDupGroups(docs)
    labels.join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .groupBy("group_id")
      .agg(
        max(struct(col("n_chars").as("nc"), (-col("doc_id")).as("negid")))
          .as("best"),
        count(lit(1)).as("n_members"))
      .select(col("group_id"),
        (-col("best.negid")).as("survivor_id"),
        col("n_members"),
        col("best.nc").as("survivor_chars"))
      .orderBy("group_id")
  }

  /** q268 — MEDOID selection per near-dup cluster: q192 keeps the
    * longest member; this keeps the most CENTRAL one — the member
    * maximizing the sum of exact Jaccard similarities over the
    * verified pair set inside its cluster (equivalently: minimizing
    * total distance with absent pairs priced at 1, so no pair beyond
    * the already-verified τ-set is ever needed — the pair frame is
    * computed ONCE and feeds clustering and scoring). Per-pair J is
    * an exact integer ratio rounded ONCE at 7dp into DECIMAL sums
    * (order-free), and the argmax is a struct max — no per-group
    * window, one grouped aggregation.
    */
  def clusterMedoids(docs: DataFrame): DataFrame = {
    val pairs = nearDupPairs(docs) // checkpointed: CC + scores share it
    val labels = groupsFromPairs(pairs.select("doc_a", "doc_b"))
    val j7 = round(col("inter").cast("double") / col("uni").cast("double"), 7)
      .cast(org.apache.spark.sql.types.DecimalType(20, 7)).as("j7")
    val sided = pairs.select(col("doc_a").as("doc_id"), j7)
      .unionAll(pairs.select(col("doc_b").as("doc_id"), j7))
    val scores = sided.groupBy("doc_id").agg(sum(col("j7")).as("score"))
    labels.join(scores, Seq("doc_id"))
      .groupBy("group_id")
      .agg(
        max(struct(col("score").as("sc"), (-col("doc_id")).as("negid")))
          .as("best"),
        count(lit(1)).as("n_members"))
      .select(col("group_id"), col("n_members"),
        (-col("best.negid")).as("medoid"),
        col("best.sc").cast("double").as("medoid_score"))
      .orderBy("group_id")
  }

  /** q268 oracle: inverted-index pairs + reachability CC + the same
    * 7dp-DECIMAL score sums, argmax via a tiny per-cluster window. */
  def clusterMedoidsOracleSql: String =
    s"""WITH RECURSIVE $shCteSql, ${invertedPairsSql(4, 5)},
       |pj AS (
       |  SELECT doc_a, doc_b,
       |         CAST(ROUND(CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE), 7)
       |              AS DECIMAL(20,7)) AS j7
       |  FROM pairs
       |), edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs
       |), reach(id, l) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.l FROM edges e JOIN reach r ON e.dst = r.id
       |), lab AS (
       |  SELECT id AS doc_id, CAST(MIN(l) AS BIGINT) AS group_id
       |  FROM reach GROUP BY id
       |), sided AS (
       |  SELECT doc_a AS doc_id, j7 FROM pj
       |  UNION ALL SELECT doc_b, j7 FROM pj
       |), sc AS (SELECT doc_id, SUM(j7) AS score FROM sided GROUP BY 1),
       |m AS (
       |  SELECT lab.group_id, lab.doc_id, sc.score,
       |         ROW_NUMBER() OVER (PARTITION BY lab.group_id
       |                            ORDER BY sc.score DESC, lab.doc_id) AS rn,
       |         COUNT(*) OVER (PARTITION BY lab.group_id) AS n_members
       |  FROM lab JOIN sc USING (doc_id)
       |)
       |SELECT group_id, CAST(n_members AS BIGINT) AS n_members,
       |       doc_id AS medoid, CAST(score AS DOUBLE) AS medoid_score
       |FROM m WHERE rn = 1 ORDER BY group_id""".stripMargin

  /** q192 oracle: the q38 reachability CTE + a per-cluster argmax
    * (ROW_NUMBER over n_chars DESC, doc_id — the cluster count is
    * near-dup-bounded, so the oracle window is tiny). */
  def clusterSurvivorsOracleSql: String =
    s"""WITH RECURSIVE $shCteSql, ${invertedPairsSql(4, 5)},
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs
       |), reach(id, l) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.l FROM edges e JOIN reach r ON e.dst = r.id
       |), lab AS (
       |  SELECT id AS doc_id, CAST(MIN(l) AS BIGINT) AS group_id
       |  FROM reach GROUP BY id
       |), m AS (
       |  SELECT lab.group_id, d.doc_id, d.n_chars
       |  FROM lab JOIN documents d USING (doc_id)
       |), ranked AS (
       |  SELECT group_id, doc_id, n_chars,
       |         ROW_NUMBER() OVER (PARTITION BY group_id
       |                            ORDER BY n_chars DESC, doc_id) AS rn,
       |         COUNT(*) OVER (PARTITION BY group_id) AS n_members
       |  FROM m
       |)
       |SELECT group_id, doc_id AS survivor_id,
       |       CAST(n_members AS BIGINT) AS n_members,
       |       CAST(n_chars AS BIGINT) AS survivor_chars
       |FROM ranked WHERE rn = 1 ORDER BY group_id""".stripMargin


  /** q194 — per-source dedup scorecard: per source, how many docs, how
    * many sit in a near-dup cluster, how many survive cluster-level
    * dedup (survivor = the cluster's min doc_id, kept by the SOURCE it
    * belongs to; unclustered docs survive trivially), and the dup
    * rate. The per-source dup rate is the number a curation pipeline
    * watches to decide which feeds need upstream dedup. One clustering
    * pass + one left join + one grouped rollup — nothing beyond the
    * certified q38 parts.
    */
  def sourceDedupScorecard(docs: DataFrame): DataFrame = {
    val labels = nearDupGroups(docs) // (doc_id, group_id) — clustered docs only
    docs.select(col("doc_id"), col("source"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        col("group_id").isNotNull.as("clustered"),
        // survivor: unclustered, or the cluster's min-id representative
        (col("group_id").isNull || col("group_id") === col("doc_id"))
          .as("survives"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("clustered"), 1L).otherwise(0L)).as("n_clustered"),
        sum(when(col("survives"), 1L).otherwise(0L)).as("n_survivors"),
        round(sum(when(col("survives"), lit(0.0)).otherwise(lit(1.0)))
          / count(lit(1)), 6).as("dup_rate"))
      .orderBy("source")
  }

  /** q194 oracle: the q38 reachability CTE + label coalesce + the
    * same rollup. */
  def sourceDedupScorecardOracleSql: String =
    s"""WITH RECURSIVE $shCteSql, ${invertedPairsSql(4, 5)},
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs
       |), reach(id, l) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.l FROM edges e JOIN reach r ON e.dst = r.id
       |), lab AS (
       |  SELECT id AS doc_id, CAST(MIN(l) AS BIGINT) AS group_id
       |  FROM reach GROUP BY id
       |), j AS (
       |  SELECT d.doc_id, d.source,
       |         lab.group_id IS NOT NULL AS clustered,
       |         (lab.group_id IS NULL OR lab.group_id = d.doc_id) AS survives
       |  FROM documents d LEFT JOIN lab ON d.doc_id = lab.doc_id
       |)
       |SELECT source,
       |       CAST(COUNT(*) AS BIGINT) AS n_docs,
       |       CAST(SUM(CASE WHEN clustered THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_clustered,
       |       CAST(SUM(CASE WHEN survives THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_survivors,
       |       ROUND(SUM(CASE WHEN survives THEN 0.0 ELSE 1.0 END)
       |             / COUNT(*), 6) AS dup_rate
       |FROM j GROUP BY source ORDER BY source""".stripMargin


  /** q198 — dup-cluster SIZE DISTRIBUTION: how many clusters of each
    * size the near-dup graph contains — the shape report that tells a
    * curation team whether duplication is pairwise noise (sizes ~2) or
    * template/boilerplate mass (heavy tail). Two grouped counts over
    * the q38 labels; nothing wider than the clustered-doc set.
    */
  def clusterSizeHistogram(docs: DataFrame): DataFrame =
    nearDupGroups(docs)
      .groupBy("group_id").agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).as("n_clusters"))
      .orderBy("size")

  /** q198 oracle: the q38 reachability CTE + the same double rollup. */
  def clusterSizeHistogramOracleSql: String =
    s"""WITH RECURSIVE $shCteSql, ${invertedPairsSql(4, 5)},
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs
       |), reach(id, l) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.l FROM edges e JOIN reach r ON e.dst = r.id
       |), lab AS (
       |  SELECT id AS doc_id, CAST(MIN(l) AS BIGINT) AS group_id
       |  FROM reach GROUP BY id
       |), sizes AS (
       |  SELECT group_id, CAST(COUNT(*) AS BIGINT) AS size
       |  FROM lab GROUP BY group_id
       |)
       |SELECT size, CAST(COUNT(*) AS BIGINT) AS n_clusters
       |FROM sizes GROUP BY size ORDER BY size""".stripMargin

  /** Full-corpus reproducible shuffle: every row keyed by a
    * deterministic hash and globally sorted. Catalyst plans the total
    * order as a range-partitioned sort (sampled split points, one
    * shuffle, per-partition sorts) — the scalable shape for "write the
    * corpus in shuffled order"; no RNG state, so reruns are identical.
    */
  def deterministicShuffle(docs: DataFrame): DataFrame =
    docs
      .withColumn("shuffle_key",
        md5(concat(lit("shuf"), col("doc_id").cast(StringType)).cast(BinaryType)))
      .orderBy("shuffle_key", "doc_id")

  /** Graph metrics over an (a < b)-ordered edge frame: vertex count,
    * edge count, triangle count, max degree — the structural summary
    * of a near-dup graph (dense triangles ⇒ template/boilerplate
    * clusters that per-pair dedup under-counts). Triangles are counted
    * by the classic two-join expansion on ordered edges — each
    * triangle x<y<z matches exactly once as (x,y)+(y,z)+(x,z) — all
    * shuffle equi-joins on node keys; at scale this is the standard
    * distributed triangle count (edge set is LSH-filtered, orders of
    * magnitude below corpus size).
    */
  def graphMetrics(edges: DataFrame): DataFrame = {
    val e = edges.select(col("doc_a").as("a"), col("doc_b").as("b"))
    val verts = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
    val deg = verts.groupBy("v").agg(count(lit(1)).as("d"))
    val e1 = e.select(col("a").as("x"), col("b").as("y"))
    val e2 = e.select(col("a").as("y"), col("b").as("z"))
    val e3 = e.select(col("a").as("x"), col("b").as("z"))
    val tri = e1.join(e2, "y").join(e3, Seq("x", "z"))
      .agg(count(lit(1)).as("n_triangles"))
    deg.agg(count(lit(1)).as("n_nodes"), max("d").as("max_degree"))
      .crossJoin(e.agg(count(lit(1)).as("n_edges")))
      .crossJoin(tri)
      .select("n_nodes", "n_edges", "n_triangles", "max_degree")
  }

  // ---- entries -----------------------------------------------------------

  val entries: Seq[QueryEntry] = Seq(
    // Q11 — exact dedup cardinality.
    QueryEntry.sql(
      "q11_dedup_exact_count",
      "SELECT COUNT(*) AS n_unique FROM (SELECT DISTINCT text FROM documents) t",
    ) { (s, dir) =>
      Tables(s, dir).documents.select("text").distinct()
        .agg(count(lit(1)).as("n_unique"))
    },

    // Exact dedup with deterministic survivor per text group —
    // MIN(doc_id) is the shuffle-safe tiebreak (SURVEY §2.4 row 1).
    QueryEntry.sql(
      "q15_dedup_survivors",
      """SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keeper_id""".stripMargin,
    ) { (s, dir) =>
      Tables(s, dir).documents
        .groupBy("text")
        .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_copies"))
        .select("keeper_id", "n_copies")
        .orderBy("keeper_id")
    },

    // MinHash-LSH near-dup at Jaccard ≥ 4/5, exact-verified. The
    // oracle recomputes the exact pair set independently of the LSH
    // (inverted-index form, see invertedPairsSql — same result as the
    // all-pairs cross join it replaced, bounded cost at any sf).
    QueryEntry.sql(
      "q20_minhash_neardup",
      s"""WITH $shCteSql, ${invertedPairsSql(4, 5)}
         |SELECT doc_a, doc_b, inter, uni FROM pairs
         |ORDER BY doc_a, doc_b""".stripMargin,
    ) { (s, dir) => nearDupPairs(Tables(s, dir).documents) },

    // q317 — cross-source duplicate FLOW matrix: q213's modularity
    // says HOW MUCH duplication crosses feed boundaries; this says
    // WHICH feed pairs exchange it (the provenance question that
    // decides whose upstream gets fixed). Every q20 near-dup pair maps
    // to its unordered (source_lo, source_hi) cell with min/max
    // normalization so the matrix is one triangle in both engines;
    // per cell: pair count and the order-free mean Jaccard on the
    // 6dp-DECIMAL grid. Scale: the q20 banded pair generator + one
    // doc-keyed source join per side + a cell rollup (≤ sources²/2
    // rows out).
    QueryEntry.sql(
      "q317_dup_flow_matrix",
      s"""WITH $shCteSql, ${invertedPairsSql(4, 5)},
         |src AS MATERIALIZED (SELECT doc_id, source FROM documents),
         |cells AS (
         |  SELECT LEAST(sa.source, sb.source) AS source_lo,
         |         GREATEST(sa.source, sb.source) AS source_hi,
         |         CAST(ROUND(CAST(p.inter AS DOUBLE) / p.uni, 6)
         |              AS DECIMAL(18,6)) AS j
         |  FROM pairs p
         |  JOIN src sa ON sa.doc_id = p.doc_a
         |  JOIN src sb ON sb.doc_id = p.doc_b
         |)
         |SELECT source_lo, source_hi, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |       CAST(SUM(j) AS DOUBLE) / COUNT(*) AS mean_jaccard,
         |       source_lo = source_hi AS intra
         |FROM cells GROUP BY source_lo, source_hi
         |ORDER BY source_lo, source_hi""".stripMargin,
    ) { (s, dir) =>
      val docs = Tables(s, dir).documents
      val pairs = nearDupPairs(docs)
      val src = docs.select(col("doc_id"), col("source"))
      val D6 = org.apache.spark.sql.types.DecimalType(18, 6)
      pairs
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
          Seq("doc_a"))
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
          Seq("doc_b"))
        .select(least(col("sa"), col("sb")).as("source_lo"),
          greatest(col("sa"), col("sb")).as("source_hi"),
          round(col("inter").cast(DoubleType) / col("uni"), 6)
            .cast(D6).as("j"))
        .groupBy("source_lo", "source_hi")
        .agg(count(lit(1)).as("n_pairs"),
          (sum("j").cast(DoubleType) / count(lit(1))).as("mean_jaccard"))
        .select(col("source_lo"), col("source_hi"), col("n_pairs"),
          col("mean_jaccard"),
          (col("source_lo") === col("source_hi")).as("intra"))
        .orderBy("source_lo", "source_hi")
    },

    // q213 — modularity of the SOURCE partition over the near-dup
    // graph: are duplicates mostly intra-feed (fix upstream, one feed
    // at a time) or cross-feed (global dedup is load-bearing)? Q's
    // per-source contribution L_s/m − (d_s/2m)² from exact integer
    // edge/degree counts; the oracle re-derives the edge set in
    // inverted-index form (the q20 equivalence) plus both rollups.
    QueryEntry.sql(
      "q213_graph_modularity",
      s"""WITH $shCteSql, ${invertedPairsSql(4, 5)},
         |e AS (
         |  SELECT da.source AS sa, db.source AS sb
         |  FROM pairs p
         |  JOIN documents da ON da.doc_id = p.doc_a
         |  JOIN documents db ON db.doc_id = p.doc_b
         |), m AS (SELECT COUNT(*) AS m FROM e),
         |intra AS (
         |  SELECT sa AS source, COUNT(*) AS ie FROM e WHERE sa = sb GROUP BY 1
         |), degs AS (
         |  SELECT source, COUNT(*) AS degree_sum
         |  FROM (SELECT sa AS source FROM e
         |        UNION ALL SELECT sb AS source FROM e) u
         |  GROUP BY 1
         |)
         |SELECT d.source,
         |       CAST(COALESCE(i.ie, 0) AS BIGINT) AS intra_edges,
         |       d.degree_sum,
         |       ROUND(CAST(COALESCE(i.ie, 0) AS DOUBLE) / m.m
         |             - (CAST(d.degree_sum AS DOUBLE) / (2.0 * m.m))
         |               * (CAST(d.degree_sum AS DOUBLE) / (2.0 * m.m)), 6)
         |         + 0.0 AS contribution
         |FROM degs d LEFT JOIN intra i ON i.source = d.source, m
         |ORDER BY d.source""".stripMargin,
    ) { (s, dir) => sourceModularity(Tables(s, dir).documents) },

    // q218 — containment join over the planted-excerpt corpus: the
    // dedup pass that catches quote/chunk inclusion where Jaccard
    // (≈0.5 for a half-doc excerpt) never fires. Exact inverted-index
    // candidates on both sides; the oracle rebuilds the derived
    // corpus, the shingle sets, and the asymmetric threshold.
    QueryEntry.sql(
      "q218_containment_pairs",
      s"""WITH d2 AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT -doc_id - 1,
         |         array_to_string(toks[1:greatest(2, len(toks) // 2)], ' ')
         |  FROM (SELECT doc_id,
         |               regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
         |        FROM documents) t
         |  WHERE doc_id % 7 = 0
         |), sh AS (
         |  SELECT doc_id, $shinglesSql AS shingles
         |  FROM (SELECT doc_id,
         |               regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
         |        FROM d2) t
         |), ex AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
         |cand AS (
         |  SELECT a.doc_id AS ia, b.doc_id AS ib,
         |         CAST(COUNT(*) AS BIGINT) AS inter
         |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |), ln AS (SELECT doc_id, len(shingles) AS n FROM sh)
         |SELECT CASE WHEN la.n <= lb.n THEN c.ia ELSE c.ib END AS contained,
         |       CASE WHEN la.n <= lb.n THEN c.ib ELSE c.ia END AS container,
         |       c.inter,
         |       CAST(least(la.n, lb.n) AS BIGINT) AS n_small,
         |       CAST(greatest(la.n, lb.n) AS BIGINT) AS n_big
         |FROM cand c JOIN ln la ON la.doc_id = c.ia
         |            JOIN ln lb ON lb.doc_id = c.ib
         |WHERE c.inter * 5 >= least(la.n, lb.n) * 4
         |ORDER BY contained, container""".stripMargin,
    ) { (s, dir) => containmentPairs(Tables(s, dir).documents) },

    // Near-dup graph structure (q84): vertex/edge/triangle counts and
    // max degree over the verified pair set — the oracle re-derives
    // the edge set exactly (inverted-index form, the q20 equivalence)
    // and counts triangles by the same ordered two-join expansion.
    QueryEntry.sql(
      "q84_neardup_graph",
      s"""WITH $shCteSql, ${invertedPairsSql(4, 5)},
         |e AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs
         |), deg AS (
         |  SELECT v, COUNT(*) AS d
         |  FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) vv
         |  GROUP BY v
         |), tri AS (
         |  SELECT COUNT(*) AS n_triangles
         |  FROM e e1 JOIN e e2 ON e2.a = e1.b JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
         |)
         |SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
         |       (SELECT COUNT(*) FROM e) AS n_edges,
         |       (SELECT n_triangles FROM tri) AS n_triangles,
         |       (SELECT CAST(MAX(d) AS BIGINT) FROM deg) AS max_degree""".stripMargin,
    ) { (s, dir) =>
      graphMetrics(nearDupPairs(Tables(s, dir).documents))
    },

    // Standalone n-gram Jaccard similarity (the exact-verify primitive
    // of q20 surfaced as its own operator): full similarity matrix over
    // a fixed deterministic probe subset (doc_id < 20).
    QueryEntry.sql(
      "q29_ngram_jaccard_pairs",
      s"""WITH sh AS (
         |  SELECT doc_id, $shinglesSql AS shingles
         |  FROM (SELECT doc_id,
         |               regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
         |        FROM documents WHERE doc_id < 20) t
         |)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT) AS inter,
         |       CAST(len(a.shingles) + len(b.shingles)
         |            - len(list_intersect(a.shingles, b.shingles)) AS BIGINT) AS uni
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,
    ) { (s, dir) =>
      val sh = Tables(s, dir).documents.filter(col("doc_id") < 20)
        .select(col("doc_id"), shingles(col("text")).as("sh"))
      val a = sh.select(col("doc_id").as("doc_a"), col("sh").as("sa"))
      val b = sh.select(col("doc_id").as("doc_b"), col("sh").as("sb"))
      val inter = size(array_intersect(col("sa"), col("sb")))
      a.join(b, col("doc_a") < col("doc_b"))
        .select(
          col("doc_a"), col("doc_b"),
          inter.cast(LongType).as("inter"),
          (size(col("sa")) + size(col("sb")) - inter).cast(LongType).as("uni"),
        )
        .orderBy("doc_a", "doc_b")
    },

    // Near-dup clusters: min-label components over the q20 pair set —
    // oracle is a recursive CTE computing the same reachability.
    QueryEntry.sql(
      "q38_neardup_groups",
      ccOracleSql,
    ) { (s, dir) => nearDupGroups(Tables(s, dir).documents) },

    // q180 — the DISTRIBUTED connected-components regime certified
    // under the gate: q38's past-the-1M-gate min-label-propagation
    // fixpoint, forced (smallGraphMax = 0) so the oracle checks the
    // iterative distributed algorithm itself, not the driver
    // union-find that fronts it at fixture scale. Same recursive-CTE
    // oracle as q38: the min-label fixpoint and union-by-min roots are
    // the same function of the edge set, so both entries must land on
    // identical groups.
    QueryEntry.sql(
      "q180_cc_distributed",
      ccOracleSql,
    ) { (s, dir) =>
      nearDupGroups(Tables(s, dir).documents, smallGraphMax = 0L)
    },

    // q185 — incremental dedup (index-probe): new-batch docs
    // (doc_id % 5 = 0) near-dup-matched against the staged historical
    // index; the oracle brute-forces the cross-half pair space, so a
    // stale index, a missed band, or a wrong staged shingle all break
    // the hash.
    QueryEntry.sql(
      "q185_incremental_dedup",
      incrementalOracleSql(4, 5),
    ) { (s, dir) => incrementalNearDups(s, dir) },

    // q223 — do MinHash and SimHash dedup AGREE? Rand/ARI between the
    // two clusterings from contingency-table pair counts (never n²
    // doc pairs); the oracle re-derives BOTH clusterings from scratch
    // (inverted-index pairs + integer-SQL SimHash, two recursive
    // reachability fixpoints) and both indices.
    QueryEntry.sql(
      "q223_clustering_agreement",
      agreementOracleSql,
    ) { (s, dir) => clusteringAgreement(Tables(s, dir)) },

    // q192 — survivor selection per near-dup cluster (keep-longest,
    // min-id tiebreak): DuckDB replays clustering AND the argmax — a
    // wrong tiebreak or member count breaks the hash.
    QueryEntry.sql(
      "q192_cluster_survivors",
      clusterSurvivorsOracleSql,
    ) { (s, dir) => clusterSurvivors(Tables(s, dir).documents) },

    // q268 — medoid selection per near-dup cluster (keep the most
    // central member): DuckDB replays clustering, the 7dp-DECIMAL
    // centrality sums, and the argmax tiebreak.
    QueryEntry.sql(
      "q268_cluster_medoids",
      clusterMedoidsOracleSql,
    ) { (s, dir) => clusterMedoids(Tables(s, dir).documents) },

    // q270 — index retraction (tombstoned forget + purge): the
    // compacted-minus-deleted probe must equal the from-scratch
    // history-minus-deleted pair set; DuckDB derives that set
    // independently.
    QueryEntry.sql(
      "q270_index_retraction",
      retractedOracleSql(4, 5),
    ) { (s, dir) => retractedIncrementalProbe(s, dir) },

    // q198 — dup-cluster size histogram: DuckDB replays clustering
    // and both rollups.
    QueryEntry.sql(
      "q198_cluster_size_histogram",
      clusterSizeHistogramOracleSql,
    ) { (s, dir) => clusterSizeHistogram(Tables(s, dir).documents) },

    // q194 — per-source dedup scorecard: dup rate per feed after
    // cluster-level dedup; DuckDB replays clustering, the survivor
    // rule, and the rollup.
    QueryEntry.sql(
      "q194_source_dedup_rate",
      sourceDedupScorecardOracleSql,
    ) { (s, dir) => sourceDedupScorecard(Tables(s, dir).documents) },

    // q187 — fold-in incremental dedup (round-9 VERDICT item 1): two
    // successive increments, each probed against the index THEN folded
    // into it as a new sorted run, so increment 2's pairs include
    // batch-2-vs-batch-1 matches that exist only if the fold-in
    // happened. The oracle brute-forces the full cross-batch pair
    // space (inverted-index form) — a missed fold-in, a stale run, or
    // a wrong delta layout all break the hash.
    QueryEntry.sql(
      "q187_incremental_fold",
      foldingOracleSql(4, 5),
    ) { (s, dir) => foldingIncrementalNearDups(s, dir) },

    // q188 — streaming ingest-dedup twin (round-9 VERDICT item 7):
    // the q185 index-probe run as a real AvailableNow stream, each
    // micro-batch probing the staged historical index inside
    // foreachBatch and appending verified pairs to a parquet sink.
    // Same oracle as q185: the final sink content must hash-match the
    // from-scratch batch computation — lost/duplicated micro-batches
    // or stale index reads break the hash.
    QueryEntry.sql(
      "q188_stream_ingest_dedup",
      incrementalOracleSql(4, 5),
    ) { (s, dir) =>
      graft.streaming.StreamingDocs.runIngestDedupToCompletion(s, dir)
    },

    // q189 — index compaction under the oracle: base+delta1 merged
    // into one range-sorted run, batch 2 probed against the COMPACTED
    // run only; the result must equal the uncompacted probe (the
    // oracle recomputes it from scratch), so a compaction that loses
    // or duplicates index rows breaks the hash.
    QueryEntry.sql(
      "q189_dedup_index_compaction",
      compactedProbeOracleSql(4, 5),
    ) { (s, dir) => compactedIncrementalProbe(s, dir) },

    // q166 — cluster-level leakage-safe split: the production form of
    // q165. Exact-dup grouping misses near-duplicates, which leak
    // train→test just as hard; here every doc inherits the q38
    // near-dup cluster label (its own doc_id when unclustered) and the
    // whole CLUSTER routes through the q69 splitmix64 bucket rule —
    // near-dups cannot straddle train/test by construction. The oracle
    // replays the full chain independently: brute-force all-pairs
    // Jaccard, recursive-CTE connected components, label coalesce,
    // bucket split. Scale shape: the LSH cluster pass (q38) plus one
    // label join and a split-keyed aggregation — nothing new beyond
    // the parts already certified. Like q38, the ORACLE (not the
    // engine) is quadratic: brute-force all-pairs is feasible at the
    // t2 gate scale (500 docs) and by design infeasible past it — the
    // quadratic cost living in the differential check is exactly the
    // point of the LSH formulation.
    QueryEntry.sql(
      "q166_cluster_safe_split",
      s"""WITH RECURSIVE $shCteSql, ${invertedPairsSql(4, 5)},
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs
         |), reach(id, l) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.l FROM edges e JOIN reach r ON e.dst = r.id
         |), lab AS (
         |  SELECT id AS doc_id, CAST(MIN(l) AS BIGINT) AS label
         |  FROM reach GROUP BY id
         |), alldocs AS (
         |  SELECT d.doc_id, COALESCE(lab.label, d.doc_id) AS label
         |  FROM documents d LEFT JOIN lab ON d.doc_id = lab.doc_id
         |), s AS (
         |  SELECT CASE WHEN b < ${Winnow.SplitTrainLt} THEN 'train'
         |              WHEN b < ${Winnow.SplitValLt} THEN 'val'
         |              ELSE 'test' END AS split, label
         |  FROM (SELECT (${Hll.splitmixSqlFor("label")}) >> 54 AS b, label
         |        FROM alldocs)
         |)
         |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(COUNT(DISTINCT label) AS BIGINT) AS n_clusters
         |FROM s GROUP BY split ORDER BY split""".stripMargin,
    ) { (s, dir) =>
      val docs = Tables(s, dir).documents
      val labels = nearDupGroups(docs)
        .withColumnRenamed("group_id", "label")
      docs.select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("label"))
        .withColumn("split", Winnow.splitColumn(col("label")))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), countDistinct("label").as("n_clusters"))
        .orderBy("split")
    },

    // Decontamination: drop training docs whose normalized-text
    // fingerprint appears in the eval set (here: a deterministic
    // doc_id-slice standing in for a benchmark) — the train/test
    // overlap check every corpus pipeline runs. Anti-join on the
    // fingerprint = shuffle on the hash key; eval sets are small so
    // Catalyst broadcasts them.
    QueryEntry.sql(
      "q42_decontaminate",
      """WITH fp AS (
        |  SELECT doc_id, lang,
        |         md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |  FROM documents
        |), eval_set AS (
        |  SELECT DISTINCT fp FROM fp WHERE doc_id % 97 = 0
        |)
        |SELECT lang, COUNT(*) AS n_clean
        |FROM fp
        |WHERE fp NOT IN (SELECT fp FROM eval_set)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    ) { (s, dir) =>
      val fp = Tables(s, dir).documentsRebalanced.select(
        col("doc_id"), col("lang"),
        md5(regexp_replace(lower(col("text")), "\\s+", " ").cast(BinaryType)).as("fp"))
      val evalSet = fp.filter(col("doc_id") % 97 === 0).select("fp").distinct()
      fp.join(evalSet, Seq("fp"), "left_anti")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_clean"))
        .orderBy("lang")
    },

    // Deterministic training-order shuffle: a reproducible global
    // permutation via hash-ordering — what "shuffle the corpus" means
    // when the run must be replayable. The oracled entry samples the
    // head (LIMIT keeps the differential check cheap); the full-corpus
    // operator is [[deterministicShuffle]], whose plan IS the
    // range-partitioned sort (spec-asserted).
    QueryEntry.sql(
      "q43_deterministic_shuffle",
      """SELECT doc_id,
        |       md5('shuf' || CAST(doc_id AS VARCHAR)) AS shuffle_key
        |FROM documents
        |ORDER BY shuffle_key, doc_id
        |LIMIT 100""".stripMargin,
    ) { (s, dir) =>
      Tables(s, dir).documents
        .select(col("doc_id"),
          md5(concat(lit("shuf"), col("doc_id").cast(StringType)).cast(BinaryType))
            .as("shuffle_key"))
        .orderBy("shuffle_key", "doc_id")
        .limit(100)
    },

    // SimHash signatures from md5-derived 60-bit token hashes — the
    // hash is rebuilt in pure integer SQL on the DuckDB side, so even
    // this hash-based operator gets a value-exact oracle.
    QueryEntry.sql(
      "q21_simhash_signatures",
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
        |  FROM documents
        |), th AS (
        |  SELECT doc_id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h FROM tok
        |), bits AS (
        |  SELECT doc_id, b.b AS b,
        |         SUM(CASE WHEN ((h >> b.b) & 1) = 1 THEN 1 ELSE -1 END) AS cnt
        |  FROM th, (SELECT unnest(range(0, 60)) AS b) b
        |  GROUP BY doc_id, b.b
        |)
        |SELECT doc_id,
        |       CAST(SUM(CASE WHEN cnt > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT) AS sh
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    ) { (s, dir) =>
      val toks = TextAnalysis.tokens(col("text"))
      val hashes = transform(toks,
        t => GraftFunctions.md5Long(t.cast(BinaryType)))
      Tables(s, dir).documentsRebalanced
        .select(col("doc_id"), GraftFunctions.simhash64(hashes).as("sh"))
        .orderBy("doc_id")
    },

    // q138 — SimHash near-dup JOIN (q21's signatures made actionable):
    // Hamming-ball pairing at distance ≤ 3 via 4-band pigeonhole
    // blocking. The oracle brute-forces all signature pairs, so a
    // band-split bug that drops a qualifying pair fails the gate.
    QueryEntry.sql(
      "q138_simhash_neardup",
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
        |  FROM documents
        |), th AS (
        |  SELECT doc_id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h FROM tok
        |), bits AS (
        |  SELECT doc_id, b.b AS b,
        |         SUM(CASE WHEN ((h >> b.b) & 1) = 1 THEN 1 ELSE -1 END) AS cnt
        |  FROM th, (SELECT unnest(range(0, 60)) AS b) b
        |  GROUP BY doc_id, b.b
        |), sig AS (
        |  SELECT doc_id,
        |         CAST(SUM(CASE WHEN cnt > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT) AS sh
        |  FROM bits GROUP BY doc_id
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    ) { (s, dir) => simhashNearDup(docsWithSimhash(Tables(s, dir)), maxHamming = 3) },

    // q142 — cross-corpus NEAR-dup decontamination: the fuzzy
    // complement of q42 (exact-hash) and q81 (n-gram): eval docs
    // (doc_id % 50 = 0, standing in for a benchmark set) matched
    // against the whole corpus at shingle-Jaccard ≥ 0.8 — the pairs a
    // train-set owner must drop before training. Same banded-LSH +
    // exact-verify dataflow as q20, across two corpora instead of a
    // self-join; the brute-force oracle fails the gate if banding
    // drops a qualifying pair.
    QueryEntry.sql(
      "q142_neardup_decontaminate",
      s"""WITH sh AS (
         |  SELECT doc_id, $shinglesSql AS shingles
         |  FROM (SELECT doc_id,
         |               regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
         |        FROM documents) t
         |), ev AS (SELECT * FROM sh WHERE doc_id % 50 = 0)
         |SELECT e.doc_id AS eval_id, s.doc_id AS train_id,
         |       CAST(len(list_intersect(e.shingles, s.shingles)) AS BIGINT) AS inter,
         |       CAST(len(e.shingles) + len(s.shingles)
         |            - len(list_intersect(e.shingles, s.shingles)) AS BIGINT) AS uni
         |FROM ev e JOIN sh s ON s.doc_id <> e.doc_id
         |WHERE 5 * len(list_intersect(e.shingles, s.shingles))
         |      >= 4 * (len(e.shingles) + len(s.shingles)
         |              - len(list_intersect(e.shingles, s.shingles)))
         |ORDER BY eval_id, train_id""".stripMargin,
    ) { (s, dir) =>
      val docs = Tables(s, dir).documentsRebalanced
      crossCorpusNearDup(docs, docs.filter(col("doc_id") % 50 === 0))
    },
  )

  /** Cross-corpus near-dup join: every (eval doc, train doc) pair at
    * shingle-Jaccard ≥ num/den — near-dup DECONTAMINATION (eval-set
    * leakage has fuzzy copies, not just exact ones; Brown et al.
    * NeurIPS'20 appendix C motivates the n-gram form, LSH generalizes
    * it). Candidates come from matching the two corpora's MinHash band
    * buckets (shuffle equi-join on band signature — the probe side is
    * typically tiny but is NOT broadcast-assumed; AQE picks the
    * strategy), then exact shingle verification with the integer
    * threshold. A train doc that IS the eval doc (same id) is excluded;
    * everything else, including exact copies under different ids, is a
    * contamination hit.
    *
    * Output: (eval_id, train_id, inter, uni), ordered.
    */
  def crossCorpusNearDup(corpus: DataFrame, probes: DataFrame,
      num: Int = 4, den: Int = 5): DataFrame = {
    val par = corpus.sparkSession.sessionState.conf.numShufflePartitions
    val sigC = minhashSignatures(corpus.repartition(par, col("doc_id")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sigP = minhashSignatures(probes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = bandSignatures(sigP).as("p")
      .join(bandSignatures(sigC).as("c"),
        col("p.band_sig") === col("c.band_sig") &&
          col("p.doc_id") =!= col("c.doc_id"))
      .select(col("p.doc_id").as("eval_id"), col("c.doc_id").as("train_id"))
      .distinct()
    val inter = size(array_intersect(col("se"), col("st")))
    val pre = cand
      .join(sigP.select(col("doc_id").as("ide"), col("shingles").as("se")),
        col("eval_id") === col("ide"))
      .join(sigC.select(col("doc_id").as("idt"), col("shingles").as("st")),
        col("train_id") === col("idt"))
      .select(col("eval_id"), col("train_id"),
        inter.cast(LongType).as("inter"),
        (size(col("se")) + size(col("st")) - inter).cast(LongType).as("uni"))
      .filter(col("inter") * den >= col("uni") * num)
      .orderBy("eval_id", "train_id")
    // MEMORY_ONLY: verified cross-corpus pair set, LSH-filtered small
    // (see nearDupPairs — same disk-free-timed-region rationale)
    val out = pre.localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    sigC.unpersist()
    sigP.unpersist()
    out
  }

  // ---- SimHash near-dup join ---------------------------------------------

  /** (doc_id, sh): the q21 signature frame. */
  def docsWithSimhash(t: Tables): DataFrame = {
    val hashes = transform(TextAnalysis.tokens(col("text")),
      tk => GraftFunctions.md5Long(tk.cast(BinaryType)))
    t.documentsRebalanced
      .select(col("doc_id"), GraftFunctions.simhash64(hashes).as("sh"))
  }

  /** Hamming-distance ≤ `maxHamming` pairs over 60-bit SimHash
    * signatures, by pigeonhole banding: split the signature into
    * `maxHamming + 1` disjoint bit-bands — any pair within distance d
    * ≤ maxHamming differs in at most d bands, so at least one band
    * matches EXACTLY, and a hash equi-join on (band_id, band_bits)
    * recovers every qualifying pair without an all-pairs product (the
    * Manku WWW'07 rotation trick, expressed as a Spark shuffle join).
    * Candidates are distinct-ed (a pair can share several bands), then
    * verified with one codegen `bit_count(xor)`.
    *
    * Scale shape: |bands| × corpus rows shuffled on 15-bit band keys;
    * candidate volume is the sum over band-key groups of C(n,2) — at
    * 100 TB the band width is the knob (wider bands → fewer spurious
    * collisions), and heavy band-key skew (e.g. the all-zeros band of
    * near-empty docs) surfaces in [[Skew]]'s report before it hurts.
    */
  def simhashNearDup(sigs: DataFrame, maxHamming: Int): DataFrame = {
    val nBands = maxHamming + 1
    val width = 60 / nBands // 60-bit signatures (md5-derived hashes)
    val bandCols = (0 until nBands).map { b =>
      struct(lit(b).as("band"),
        (shiftrightunsigned(col("sh"), b * width)
          .bitwiseAND(lit((1L << width) - 1))).as("key"))
    }
    val banded = sigs.select(col("doc_id"), col("sh"),
      explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("sh"), col("bk.band").as("band"), col("bk.key").as("key"))
    val a = banded.select(col("band"), col("key"),
      col("doc_id").as("doc_a"), col("sh").as("sha"))
    val b = banded.select(col("band"), col("key"),
      col("doc_id").as("doc_b"), col("sh").as("shb"))
    a.join(b, Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sha").bitwiseXOR(col("shb"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }
}
