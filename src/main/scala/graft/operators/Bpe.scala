package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.QueryEntry
import graft.sources.TokenizedCorpus

/** Byte-pair-encoding merge INDUCTION under the differential gate —
  * the trained-tokenizer step a training-data pipeline runs before
  * token counting/packing. q146 counts the pair statistics of ONE
  * step; this LEARNS the first `NumMerges` merge rules end-to-end:
  * each round counts adjacent-symbol pairs over the (term, freq)
  * vocabulary, picks the argmax pair under a total order
  * (count DESC, sym_a ASC, sym_b ASC), rewrites every vocab word with
  * the merged symbol, and recounts — the Sennrich (2016) word-level
  * BPE loop. The DuckDB oracle re-runs the ENTIRE induction as
  * unrolled MATERIALIZED levels (the q250 full-training-loop
  * standard), so a wrong pair count, tie-break, or merge application
  * in any round breaks the hash.
  *
  * Determinism contract: all counts are exact integers; symbols are
  * ascii-alnum (the vocab slice is `^[a-z0-9]+$`, 2–24 chars), so
  * string ordering is plain byte order in both engines. Merge
  * application is `ReplacePasses` iterations of non-overlapping
  * left-to-right replace of " a b " with " ab " over the
  * space-delimited symbol string — both engines' `replace` share
  * those semantics exactly, and the engine FAILS LOUD if one more
  * pass would still change any word (a ≤24-char word has ≤12 merge
  * sites, so the fixpoint is always reached; the guard makes that an
  * invariant, not an assumption).
  *
  * Scale shape: every round runs over the VOCABULARY (term, freq)
  * reduction — |distinct terms|, sublinear in the corpus — never the
  * corpus itself; the only driver-side data is one argmax ROW per
  * round (the IVF-centroid pattern). Rounds are model-sized (6), and
  * the tokenize-once staged token table (q134) feeds the vocab, so
  * the corpus is read zero extra times.
  */
object Bpe {

  val NumMerges = 6
  val ReplacePasses = 12
  val MaxTermLen = 24

  /** The mergeable vocabulary slice: ascii-alnum terms of 2..24 chars
    * with occurrence counts. The regex filter removes any unicode
    * char-splitting ambiguity between engines; the length cap bounds
    * the merge-fixpoint pass count at 12.
    */
  def vocab(tokens: DataFrame): DataFrame =
    tokens
      .filter(col("term").rlike("^[a-z0-9]+$") &&
        length(col("term")).between(2, MaxTermLen))
      .groupBy("term").agg(count(lit(1)).as("freq"))

  /** ' h e l l o ' — space-delimited symbols with sentinel spaces so
    * every symbol occurrence (including first/last) matches the
    * " a b " merge pattern.
    */
  private def symInit(term: Column): Column =
    concat(lit(" "), regexp_replace(term, "(.)", "$1 "))

  private def syms(s: Column): Column = split(trim(s), " ")

  private def adjPairs(ss: Column): Column =
    transform(sequence(lit(0), size(ss) - 2),
      i => struct(element_at(ss, i + 1).as("a"), element_at(ss, i + 2).as("b")))

  private def pat(a: String, b: String) = s" $a $b "
  private def rep(a: String, b: String) = s" $a$b "

  private def applyMerge(s: Column, a: String, b: String): Column =
    (1 to ReplacePasses).foldLeft(s)((c, _) =>
      replace(c, lit(pat(a, b)), lit(rep(a, b))))

  /** q269 — corpus-level effect of the learned merges: after the full
    * induction, what did the tokenizer buy? Occurrence-weighted
    * totals (terms, occurrences, chars, post-merge symbols), exact
    * ppm mean symbols-per-occurrence, and the ppm fraction of
    * occurrences fully merged to ≤ 2 symbols. All integers/ppm —
    * nothing floats near the gate.
    */
  def bpeCoverage(tokens: DataFrame, numMerges: Int): DataFrame = {
    val spark = tokens.sparkSession
    import spark.implicits._
    graft.Reuse.releasingNew(spark) {
      val fin = bpeLoop(tokens, numMerges)._2
      val r = fin.agg(
        count(lit(1)).as("terms"),
        sum(col("freq")).as("occ"),
        sum(col("freq") * length(col("term")).cast("long")).as("chars"),
        sum(col("freq") * size(syms(col("s"))).cast("long")).as("symsTot"),
        sum(when(size(syms(col("s"))) <= 2, col("freq")).otherwise(0L))
          .as("merged")).head()
      val (terms, occ, chars, symsTot, merged) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      Seq((terms, occ, chars, symsTot,
        symsTot * 1000000L / occ, merged * 1000000L / occ))
        .toDF("n_terms", "n_occurrences", "total_chars", "total_symbols",
          "syms_per_occ_ppm", "fully_merged_ppm")
    }
  }

  /** The induction loop: per-round (rank, a, b, count, total_symbols)
    * plus the final rewritten vocab frame (still persisted — callers
    * release it via Reuse.releasingNew).
    */
  private def bpeLoop(tokens: DataFrame, numMerges: Int)
      : (Seq[(Int, String, String, Long, Long)], DataFrame) = {
    val MemOnly = org.apache.spark.storage.StorageLevel.MEMORY_ONLY
    var v = vocab(tokens)
      .select(col("term"), col("freq"), symInit(col("term")).as("s"))
      .persist(MemOnly)
    val learned = (1 to numMerges).map { r =>
      val top = v.filter(size(syms(col("s"))) >= 2)
        .select(col("freq"), explode(adjPairs(syms(col("s")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(desc("cnt"), col("a"), col("b"))
        .limit(1).collect()(0) // ONE row per round — model-sized
      val (a, b, cnt) = (top.getString(0), top.getString(1), top.getLong(2))
      val next = v.withColumn("s", applyMerge(col("s"), a, b)).persist(MemOnly)
      val chk = next.agg(
        sum(when(replace(col("s"), lit(pat(a, b)), lit(rep(a, b))) =!= col("s"),
          1L).otherwise(0L)).as("unconverged"),
        sum(col("freq") * size(syms(col("s"))).cast("long")).as("total"))
        // model-sized: 1 row — global fixpoint-guard aggregate
        .collect()(0)
      require(chk.getLong(0) == 0L,
        s"BPE merge ($a, $b) did not reach its replace fixpoint in " +
          s"$ReplacePasses passes — raise ReplacePasses in BOTH engines")
      v.unpersist()
      v = next
      (r, a, b, cnt, chk.getLong(1))
    }
    (learned, v)
  }

  /** Learn `numMerges` merge rules; one output row per round:
    * (rank, sym_a, sym_b, pair_count, total_symbols-after-merge).
    * total_symbols = Σ freq·|symbols(term)| witnesses that the merge
    * was actually applied corpus-wide, not just chosen.
    */
  def bpeMerges(tokens: DataFrame, numMerges: Int): DataFrame = {
    val spark = tokens.sparkSession
    import spark.implicits._
    // driver-built output: free every block this call pinned
    graft.Reuse.releasingNew(spark) {
      bpeLoop(tokens, numMerges)._1
        .toDF("rank", "sym_a", "sym_b", "pair_count", "total_symbols")
        .orderBy("rank")
    }
  }

  /** The full induction, unrolled: level r = pair counts over v(r−1),
    * 1-row argmax m(r), rewritten vocab v(r). Every level MATERIALIZED
    * (each is referenced by the next level AND the output row — the
    * q228 exponential-inlining lesson).
    */
  private def chainSql(numMerges: Int): String = {
    def rep12(expr: String): String =
      (1 to ReplacePasses).foldLeft(expr)((e, _) =>
        s"replace($e, ' ' || m.a || ' ' || m.b || ' ', ' ' || m.a || m.b || ' ')")
    val levels = (1 to numMerges).map { r =>
      val prev = s"v${r - 1}"
      s"""p$r AS (
         |  SELECT ls, freq, unnest(generate_series(1, len(ls) - 1)) AS i
         |  FROM (SELECT regexp_split_to_array(trim(s), ' ') AS ls, freq
         |        FROM $prev WHERE contains(trim(s), ' ')) t
         |), m$r AS MATERIALIZED (
         |  SELECT ls[i] AS a, ls[i + 1] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM p$r GROUP BY 1, 2
         |  ORDER BY cnt DESC, a, b LIMIT 1
         |), v$r AS MATERIALIZED (
         |  SELECT term, freq, ${rep12(s"$prev.s")} AS s
         |  FROM $prev CROSS JOIN m$r AS m
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH tok AS MATERIALIZED (
       |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
       |  FROM documents
       |), vocab AS MATERIALIZED (
       |  SELECT term, COUNT(*) AS freq FROM tok
       |  WHERE regexp_matches(term, '^[a-z0-9]+$$') AND len(term) BETWEEN 2 AND $MaxTermLen
       |  GROUP BY term
       |), v0 AS MATERIALIZED (
       |  SELECT term, freq, ' ' || regexp_replace(term, '(.)', '\\1 ', 'g') AS s
       |  FROM vocab
       |),
       |$levels""".stripMargin
  }

  private def oracleSql(numMerges: Int): String = {
    val outs = (1 to numMerges).map { r =>
      s"""SELECT $r AS rank, m$r.a AS sym_a, m$r.b AS sym_b,
         |       m$r.cnt AS pair_count,
         |       (SELECT CAST(SUM(freq * len(regexp_split_to_array(trim(s), ' ')))
         |               AS BIGINT) FROM v$r) AS total_symbols
         |FROM m$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""${chainSql(numMerges)}
       |$outs
       |ORDER BY rank""".stripMargin
  }

  private def coverageOracleSql(numMerges: Int): String =
    s"""${chainSql(numMerges)},
       |fin AS MATERIALIZED (
       |  SELECT term, freq, len(regexp_split_to_array(trim(s), ' ')) AS ns
       |  FROM v$numMerges
       |)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
       |       CAST(SUM(freq) AS BIGINT) AS n_occurrences,
       |       CAST(SUM(freq * len(term)) AS BIGINT) AS total_chars,
       |       CAST(SUM(freq * ns) AS BIGINT) AS total_symbols,
       |       CAST(SUM(freq * ns) * 1000000 // SUM(freq) AS BIGINT)
       |         AS syms_per_occ_ppm,
       |       CAST(SUM(CASE WHEN ns <= 2 THEN freq ELSE 0 END) * 1000000
       |            // SUM(freq) AS BIGINT) AS fully_merged_ppm
       |FROM fin""".stripMargin

  val entries: Seq[QueryEntry] = Seq(
    // q262 — the first 6 BPE merges learned from the corpus, with the
    // post-merge weighted symbol total per round; the oracle re-runs
    // the whole induction (counts, argmax tie-breaks, and all 12
    // replace passes per round) from the raw documents table.
    QueryEntry.sql("q262_bpe_merges", oracleSql(NumMerges)) { (s, dir) =>
      bpeMerges(TokenizedCorpus.tokens(s, dir), NumMerges)
    },

    // q269 — tokenizer coverage after the learned merges: the
    // occurrence-weighted compression the 6 rules buy, and the ppm of
    // token occurrences fully merged to ≤ 2 symbols — the number a
    // vocab-budget decision reads. Oracle re-runs the whole induction
    // plus the final rollup; every output is an exact integer/ppm.
    QueryEntry.sql("q269_bpe_coverage", coverageOracleSql(NumMerges)) {
      (s, dir) => bpeCoverage(TokenizedCorpus.tokens(s, dir), NumMerges)
    },
  )
}
