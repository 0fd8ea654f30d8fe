package graft.operators

import graft.{QueryEntry, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Source-level valuation operators — the two questions a mixture
  * designer asks about provenance before reweighting 100 TB: "which
  * sources WIN when their documents are compared head-to-head?"
  * (Bradley–Terry strengths fitted by the MM algorithm over pairwise
  * quality matches) and "what does the corpus LOSE if a source is
  * removed?" (exact leave-one-out deltas, computed algebraically from
  * global-minus-per-source sufficient statistics in ONE pass — never
  * by re-scanning the corpus once per source).
  *
  * Determinism: matches and LOO sums are exact integers/decimals; the
  * MM fixpoint carries strengths as DECIMAL(18,7) with one rounded
  * double division per (pair|source) per iteration (the q264 unrolled-
  * iteration oracle pattern), so both engines walk bit-identical
  * trajectories.
  *
  * Scale shape: q277 pairs documents by `doc_id div 2` — a keyed
  * self-join on the pair id, never all-pairs — and every MM frame is
  * |sources|²-bounded; q278 is two grouped passes (per-source quality
  * sums, per-(token, source) distinct) + model-sized joins.
  */
object Valuation {

  private val S = 1000000L
  private val D7 = DecimalType(18, 7)
  private val MmIters = 4

  private def scored(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      round(TextAnalysis.qualityScore(
        TextAnalysis.tokens(col("text")), col("n_chars")) * S, 0)
        .cast(LongType).as("si"),
      expr("doc_id div 2").as("pid"))

  private val scoredSql: String =
    s"""SELECT doc_id, source,
       |       CAST(ROUND((${TextAnalysis.qualityScoreSql}
       |         ) * ${S}.0, 0) AS BIGINT) AS si,
       |       doc_id // 2 AS pid
       |FROM (SELECT doc_id, source, n_chars,
       |             regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
       |      FROM documents) t""".stripMargin

  /** (i, j, n, wi) per unordered source pair: match counts and wins of
    * the lexicographically-smaller source. A match pairs doc 2k with
    * doc 2k+1 (when both exist and sources differ); the higher grid
    * quality score wins, ties to the higher doc_id.
    */
  def matches(docs: DataFrame): DataFrame = {
    val sc = scored(docs)
    val a = sc.select(col("pid"), col("doc_id").as("ida"),
      col("source").as("sa"), col("si").as("qa"))
    val b = sc.select(col("pid"), col("doc_id").as("idb"),
      col("source").as("sb"), col("si").as("qb"))
    a.join(b, Seq("pid"))
      .filter(col("ida") < col("idb") && col("sa") =!= col("sb"))
      .select(when(col("qa") > col("qb"), col("sa")).otherwise(col("sb")).as("w"),
        when(col("qa") > col("qb"), col("sb")).otherwise(col("sa")).as("l"))
      .select(least(col("w"), col("l")).as("i"),
        greatest(col("w"), col("l")).as("j"),
        when(col("w") < col("l"), 1L).otherwise(0L).as("win_i"))
      .groupBy("i", "j")
      .agg(count(lit(1)).as("n"), sum("win_i").as("wi"))
  }

  /** Bradley–Terry strengths via [[MmIters]] MM iterations (Hunter
    * 2004): p_i ← W_i / Σ_j n_ij/(p_i+p_j), renormalized to mean 1.
    */
  def bradleyTerry(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    graft.Reuse.releasingNew(spark) {
      val m = matches(docs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.TransientCaches.register(m)
      val wins = m.select(col("i").as("s"), col("wi").as("w"), col("n"))
        .union(m.select(col("j"), col("n") - col("wi"), col("n")))
        .groupBy("s")
        .agg(sum("w").cast(LongType).as("wins"),
          sum("n").cast(LongType).as("games"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.TransientCaches.register(wins)
      // each round references the previous p (and its own praw) more
      // than once — EAGER localCheckpoint per round keeps the plan flat
      // (the q261 3^r-growth lesson); frames are |sources|-sized.
      val p0 = wins.select(col("s"), lit(1.0).cast(D7).as("p"))
        .localCheckpoint(true)
      val pFinal = (1 to MmIters).foldLeft(p0) { (p, _) =>
        val pi = p.select(col("s").as("i"), col("p").as("pi"))
        val pj = p.select(col("s").as("j"), col("p").as("pj"))
        val t = m.join(pi, "i").join(pj, "j")
          .select(col("i"), col("j"),
            round(col("n").cast(DoubleType)
              / (col("pi") + col("pj")).cast(DoubleType), 7).cast(D7).as("term"))
        val den = t.select(col("i").as("s"), col("term"))
          .union(t.select(col("j"), col("term")))
          .groupBy("s").agg(sum("term").as("den"))
        val praw = wins.join(den, "s")
          .select(col("s"), round(col("wins").cast(DoubleType)
            / col("den").cast(DoubleType), 7).cast(D7).as("praw"))
          .localCheckpoint(true)
        val tot = praw.agg(sum("praw").as("tot"), count(lit(1)).as("kk"))
        praw.crossJoin(broadcast(tot))
          .select(col("s"),
            round(col("praw").cast(DoubleType) * col("kk")
              / col("tot").cast(DoubleType), 7).cast(D7).as("p"))
          .localCheckpoint(true)
      }
      // materialize the |sources|-row report, then free every block this
      // operator pinned (persists + eager checkpoints) — the q261/q269
      // leak lesson: lingering checkpoint blocks inflate later readings.
      val out = wins.join(pFinal, "s")
        .select(col("s").as("source"), col("games"), col("wins"),
          col("p").cast(DoubleType).as("strength"))
        .orderBy("source")
      // model-sized: ≤20 rows — one per source; the collect exists only to
      // cut lineage onto a checkpoint-free frame before freeing the pinned
      // RDDs. Never copy this pattern to a data-scale frame.
      val rows = out.collect().toSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), out.schema)
    }
  }

  private val btSql: String = {
    val base =
      s"""WITH sc AS ($scoredSql
         |), pairs AS (
         |  SELECT CASE WHEN a.si > b.si THEN a.source ELSE b.source END AS w,
         |         CASE WHEN a.si > b.si THEN b.source ELSE a.source END AS l
         |  FROM sc a JOIN sc b
         |    ON a.pid = b.pid AND a.doc_id < b.doc_id AND a.source <> b.source
         |), m AS MATERIALIZED (
         |  SELECT LEAST(w, l) AS i, GREATEST(w, l) AS j, COUNT(*) AS n,
         |         SUM(CASE WHEN w < l THEN 1 ELSE 0 END) AS wi
         |  FROM pairs GROUP BY 1, 2
         |), wins AS MATERIALIZED (
         |  SELECT s, CAST(SUM(w) AS BIGINT) AS wins, CAST(SUM(n) AS BIGINT) AS games
         |  FROM (SELECT i AS s, wi AS w, n FROM m
         |        UNION ALL SELECT j, n - wi, n FROM m)
         |  GROUP BY 1
         |), p0 AS MATERIALIZED (
         |  SELECT s, CAST(1.0 AS DECIMAL(18,7)) AS p FROM wins
         |)""".stripMargin
    val iters = (1 to MmIters).map { k =>
      val prev = if (k == 1) "p0" else s"p${k - 1}"
      s""", t$k AS (
         |  SELECT m.i, m.j,
         |         CAST(ROUND(CAST(n AS DOUBLE) / CAST(pi.p + pj.p AS DOUBLE), 7)
         |              AS DECIMAL(18,7)) AS term
         |  FROM m JOIN $prev pi ON pi.s = m.i JOIN $prev pj ON pj.s = m.j
         |), d$k AS (
         |  SELECT s, SUM(term) AS den
         |  FROM (SELECT i AS s, term FROM t$k UNION ALL SELECT j, term FROM t$k)
         |  GROUP BY 1
         |), r$k AS MATERIALIZED (
         |  SELECT wins.s,
         |         CAST(ROUND(CAST(wins AS DOUBLE) / CAST(den AS DOUBLE), 7)
         |              AS DECIMAL(18,7)) AS praw
         |  FROM wins JOIN d$k USING (s)
         |), p$k AS MATERIALIZED (
         |  SELECT s, CAST(ROUND(CAST(praw AS DOUBLE) * (SELECT COUNT(*) FROM r$k)
         |                       / CAST((SELECT SUM(praw) FROM r$k) AS DOUBLE), 7)
         |            AS DECIMAL(18,7)) AS p
         |  FROM r$k
         |)""".stripMargin
    }.mkString
    s"""$base$iters
       |SELECT s AS source, games, wins, CAST(p AS DOUBLE) AS strength
       |FROM wins JOIN p$MmIters USING (s)
       |ORDER BY source""".stripMargin
  }

  /** Exact leave-one-source-out report: for each source, the mean
    * quality and vocabulary the corpus would have WITHOUT it — global
    * sums minus per-source sums (quality) and total vocabulary minus
    * source-exclusive tokens (vocab), all from one pass each.
    */
  def looSourceValue(docs: DataFrame): DataFrame = {
    val q = docs.select(col("source"),
      round(TextAnalysis.qualityScore(
        TextAnalysis.tokens(col("text")), col("n_chars")), 7).cast(D7).as("q7"))
    val per = q.groupBy("source")
      .agg(count(lit(1)).as("n_s"), sum("q7").as("sq_s"))
    val g = per.agg(sum("n_s").cast(LongType).as("nn"), sum("sq_s").as("sq"))
    val ts = docs.select(col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      .distinct()
    val tk = ts.groupBy("token")
      .agg(count(lit(1)).as("nsrc"), max("source").as("only_src"))
    val vt = tk.agg(count(lit(1)).as("vtot"))
    val ex = tk.filter(col("nsrc") === 1)
      .groupBy(col("only_src").as("source"))
      .agg(count(lit(1)).as("n_excl"))
    val looMean = (col("sq") - col("sq_s")).cast(DoubleType) /
      (col("nn") - col("n_s"))
    per.join(ex, Seq("source"), "left")
      .crossJoin(broadcast(g)).crossJoin(broadcast(vt))
      .select(col("source"),
        (col("nn") - col("n_s")).cast(LongType).as("n_docs_other"),
        round(looMean, 6).as("loo_mean_quality"),
        round(looMean - col("sq").cast(DoubleType) / col("nn"), 6)
          .as("quality_delta"),
        (col("vtot") - coalesce(col("n_excl"), lit(0L))).cast(LongType)
          .as("loo_vocab"),
        coalesce(col("n_excl"), lit(0L)).cast(LongType).as("vocab_lost"))
      .orderBy("source")
  }

  private val looSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, source, n_chars,
       |         regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
       |  FROM documents
       |), q AS (
       |  SELECT source,
       |         CAST(ROUND(${TextAnalysis.qualityScoreSql.linesIterator
                  .mkString(" ")}, 7) AS DECIMAL(18,7)) AS q7
       |  FROM tok
       |), per AS (
       |  SELECT source, COUNT(*) AS n_s, SUM(q7) AS sq_s FROM q GROUP BY 1
       |), g AS (
       |  SELECT CAST(SUM(n_s) AS BIGINT) AS nn, SUM(sq_s) AS sq FROM per
       |), ts AS (
       |  SELECT DISTINCT source, tt AS token
       |  FROM (SELECT source, unnest(toks) AS tt FROM tok)
       |), tk AS (
       |  SELECT token, COUNT(*) AS nsrc, MAX(source) AS only_src
       |  FROM ts GROUP BY 1
       |), vt AS (SELECT CAST(COUNT(*) AS BIGINT) AS vtot FROM tk),
       |ex AS (
       |  SELECT only_src AS source, COUNT(*) AS n_excl
       |  FROM tk WHERE nsrc = 1 GROUP BY 1
       |)
       |SELECT source, nn - n_s AS n_docs_other,
       |       ROUND(CAST(sq - sq_s AS DOUBLE) / (nn - n_s), 6)
       |         AS loo_mean_quality,
       |       ROUND(CAST(sq - sq_s AS DOUBLE) / (nn - n_s)
       |             - CAST(sq AS DOUBLE) / nn, 6) AS quality_delta,
       |       vtot - COALESCE(n_excl, 0) AS loo_vocab,
       |       CAST(COALESCE(n_excl, 0) AS BIGINT) AS vocab_lost
       |FROM per LEFT JOIN ex USING (source), g, vt
       |ORDER BY source""".stripMargin

  val entries: Seq[QueryEntry] = Seq(
    // q277 — Bradley–Terry source strengths; DuckDB replays the
    // pairing, every match outcome, and all four MM iterations
    // (term/denominator/raw/normalized, each rounded to the same
    // DECIMAL grid) — a drifted iteration breaks the hash.
    QueryEntry.sql("q277_bradley_terry", btSql) { (s, dir) =>
      bradleyTerry(Tables(s, dir).documentsRebalanced)
    },

    // q278 — exact LOO source value from global-minus-source algebra;
    // DuckDB re-derives per-source quality sums, the token→source
    // exclusivity table, and every delta.
    QueryEntry.sql("q278_loo_source_value", looSql) { (s, dir) =>
      looSourceValue(Tables(s, dir).documentsRebalanced)
    },
  )
}
