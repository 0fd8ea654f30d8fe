package graft.operators

import graft.{QueryEntry, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Tier C text analysis (SURVEY §2.4): token counting, language-ID
  * heuristic, quality scoring, document fingerprinting — the text side
  * of a training-data pipeline, all as narrow per-row expressions that
  * stay inside whole-stage codegen and aggregate with plain shuffles
  * (no driver-side collection at any scale).
  *
  * Oracle parity rules used throughout: numeric literals are cast to
  * DOUBLE in the DuckDB SQL (DuckDB parses bare `0.4` as DECIMAL),
  * integer aggregates are cast to BIGINT, and every mixed-type division
  * multiplies by a double first so neither engine does integer division.
  */
object TextAnalysis {

  /** Whitespace tokenizer shared by all text operators. */
  def tokens(text: Column): Column = split(trim(lower(text)), "\\s+")

  private val stopEn = Seq("the", "a", "of", "and", "to", "is")
  private val stopEs = Seq("el", "la", "de", "y", "que", "en")
  private val stopDe = Seq("der", "die", "das", "und", "ist", "ein")
  private val stopFr = Seq("le", "la", "de", "et", "les", "un")
  private val stopZh = Seq("的", "是", "了", "在", "和", "有")

  // Char-class marker sets — disjoint across languages (the shared é
  // is deliberately excluded from both es and fr) so a marker hit is
  // unambiguous evidence; CJK is a codepoint range. Weighted 3× over
  // stopword hits: orthography outweighs shared function words.
  private val markerEs = "ñ¿¡áíóú"
  private val markerDe = "äöüß"
  private val markerFr = "èêëàâîïôûùçœ"
  private val markerZh = "一-鿿" // U+4E00..U+9FFF

  private def stopCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words: _*)))

  private def sqlStopCount(words: Seq[String]): String =
    s"len(list_filter(toks, t -> t IN (${words.map(w => s"'$w'").mkString(", ")})))"

  private def markerCount(text: Column, cls: String): Column =
    size(regexp_extract_all(lower(text), lit(s"[$cls]"), lit(0)))

  private def sqlMarkerCount(cls: String): String =
    s"len(regexp_extract_all(lower(text), '[$cls]'))"

  /** Language-ID: char-class frequency profile (orthographic markers +
    * CJK range) backed by stopword counts, argmax with the fixed
    * priority en > es > de > fr > zh on ties. Real multilingual text
    * scores decisively on markers (TextAnalysisSpec plants native
    * sentences and asserts a perfect diagonal); text with no
    * orthographic signal falls back to stopword evidence and finally
    * to the 'en' prior.
    */
  def langPredicted(text: Column): Column = {
    val toks = tokens(text)
    val sEn = stopCount(toks, stopEn)
    val sEs = markerCount(text, markerEs) * 3 + stopCount(toks, stopEs)
    val sDe = markerCount(text, markerDe) * 3 + stopCount(toks, stopDe)
    val sFr = markerCount(text, markerFr) * 3 + stopCount(toks, stopFr)
    val sZh = markerCount(text, markerZh) * 3 + stopCount(toks, stopZh)
    when(sEn >= sEs && sEn >= sDe && sEn >= sFr && sEn >= sZh, "en")
      .when(sEs >= sDe && sEs >= sFr && sEs >= sZh, "es")
      .when(sDe >= sFr && sDe >= sZh, "de")
      .when(sFr >= sZh, "fr")
      .otherwise("zh")
  }

  /** DuckDB mirror of [[langPredicted]] over columns `text`, `toks`. */
  val langPredictedSql: String =
    s"""CASE
       |  WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
       |  WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
       |  WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
       |  WHEN s_fr >= s_zh THEN 'fr'
       |  ELSE 'zh'
       |END""".stripMargin

  /** The per-language score columns for the SQL mirror (same term
    * order as [[langPredicted]] — integer math, so order is exact
    * anyway).
    */
  val langScoresSql: String =
    s"""${sqlStopCount(stopEn)} AS s_en,
       |         ${sqlMarkerCount(markerEs)} * 3 + ${sqlStopCount(stopEs)} AS s_es,
       |         ${sqlMarkerCount(markerDe)} * 3 + ${sqlStopCount(stopDe)} AS s_de,
       |         ${sqlMarkerCount(markerFr)} * 3 + ${sqlStopCount(stopFr)} AS s_fr,
       |         ${sqlMarkerCount(markerZh)} * 3 + ${sqlStopCount(stopZh)} AS s_zh""".stripMargin

  /** Stopword-evidence-only rater (q234's second annotator): the same
    * argmax cascade as [[langPredicted]] with the orthographic-marker
    * term dropped — what the classifier would say on ASCII-folded
    * text. Shares [[langPredicted]]'s tie priority.
    */
  def langPredictedStops(text: Column): Column = {
    val toks = tokens(text)
    val sEn = stopCount(toks, stopEn)
    val sEs = stopCount(toks, stopEs)
    val sDe = stopCount(toks, stopDe)
    val sFr = stopCount(toks, stopFr)
    val sZh = stopCount(toks, stopZh)
    when(sEn >= sEs && sEn >= sDe && sEn >= sFr && sEn >= sZh, "en")
      .when(sEs >= sDe && sEs >= sFr && sEs >= sZh, "es")
      .when(sDe >= sFr && sDe >= sZh, "de")
      .when(sFr >= sZh, "fr")
      .otherwise("zh")
  }

  /** Marker-evidence-only rater (q234's third annotator): orthography
    * alone, no stopword fallback — en has no marker class, so it wins
    * only through the tie priority when no marker fires at all.
    */
  def langPredictedMarkers(text: Column): Column = {
    val sEs = markerCount(text, markerEs)
    val sDe = markerCount(text, markerDe)
    val sFr = markerCount(text, markerFr)
    val sZh = markerCount(text, markerZh)
    val zero = lit(0)
    when(zero >= sEs && zero >= sDe && zero >= sFr && zero >= sZh, "en")
      .when(sEs >= sDe && sEs >= sFr && sEs >= sZh, "es")
      .when(sDe >= sFr && sDe >= sZh, "de")
      .when(sFr >= sZh, "fr")
      .otherwise("zh")
  }

  /** DuckDB mirror of [[langPredictedStops]] over columns `text`,
    * `toks` — a self-contained CASE (no aliased score columns needed).
    */
  val langStopsPredictedSql: String = {
    val en = sqlStopCount(stopEn); val es = sqlStopCount(stopEs)
    val de = sqlStopCount(stopDe); val fr = sqlStopCount(stopFr)
    val zh = sqlStopCount(stopZh)
    s"""CASE
       |  WHEN $en >= $es AND $en >= $de AND $en >= $fr AND $en >= $zh THEN 'en'
       |  WHEN $es >= $de AND $es >= $fr AND $es >= $zh THEN 'es'
       |  WHEN $de >= $fr AND $de >= $zh THEN 'de'
       |  WHEN $fr >= $zh THEN 'fr'
       |  ELSE 'zh'
       |END""".stripMargin
  }

  /** DuckDB mirror of [[langPredictedMarkers]] over column `text`. */
  val langMarkersPredictedSql: String = {
    val es = sqlMarkerCount(markerEs); val de = sqlMarkerCount(markerDe)
    val fr = sqlMarkerCount(markerFr); val zh = sqlMarkerCount(markerZh)
    s"""CASE
       |  WHEN 0 >= $es AND 0 >= $de AND 0 >= $fr AND 0 >= $zh THEN 'en'
       |  WHEN $es >= $de AND $es >= $fr AND $es >= $zh THEN 'es'
       |  WHEN $de >= $fr AND $de >= $zh THEN 'de'
       |  WHEN $fr >= $zh THEN 'fr'
       |  ELSE 'zh'
       |END""".stripMargin
  }

  /** Canonical text normalization — the cleanup pass that runs before
    * any dedup/fingerprint stage in a training pipeline: lowercase,
    * strip non-alphanumerics to spaces, collapse runs of spaces, trim.
    * Pure per-row expression (whole-stage codegen; no shuffle).
    */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))

  /** DuckDB mirror of [[normalizeText]] over a column expression. */
  def normalizeTextSql(c: String): String =
    s"trim(regexp_replace(regexp_replace(lower($c), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"

  /** Quality score, defined ONCE for both engines (q18 and the q39
    * pipeline reuse these; the Column and SQL forms must stay term-
    * for-term identical for oracle parity).
    */
  def qualityScore(toks: Column, nChars: Column): Column =
    lit(0.4) * least(size(toks), lit(100)) / lit(100.0) +
      lit(0.4) * stopCount(toks, stopEn) / size(toks) +
      when(nChars.between(100, 1000), lit(0.2)).otherwise(lit(0.0))

  /** DuckDB mirror of [[qualityScore]] over columns `toks`, `n_chars`. */
  val qualityScoreSql: String =
    s"""CAST(0.4 AS DOUBLE) * LEAST(len(toks), 100) / CAST(100.0 AS DOUBLE)
       |         + CAST(0.4 AS DOUBLE) * ${sqlStopCount(stopEn)} / len(toks)
       |         + CASE WHEN n_chars BETWEEN 100 AND 1000
       |                THEN CAST(0.2 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END""".stripMargin

  /** Native-orthography sentences for the planted-language q63 gate —
    * the synthetic corpus shares one vocabulary across lang labels, so
    * this inline table is where the classifier's real signal is
    * differential-tested (TextAnalysisSpec uses the same data).
    */
  val plantedSentences: Seq[(String, String)] = Seq(
    ("en", "the cat and the dog of a house is to be seen by the road"),
    ("en", "a game of chess is a test of patience and the mind"),
    ("es", "el niño y la niña que está en españa cada año señor"),
    ("es", "la señora compró pequeños regalos el último día del año"),
    ("de", "der hund und die katze ist ein tier auf der großen straße"),
    ("de", "die schöne stadt über dem fluß hat grüne gärten und häuser"),
    ("fr", "le chat et les chiens où est un peu de café être déjà là"),
    ("fr", "la fenêtre de l'hôtel s'ouvre sur la forêt française"),
    ("zh", "的是了在和有我不人这中大为上个国"),
    ("zh", "今天天气很好我们一起去公园散步吧"),
  )

  /** One native-orthography tail per language (both q63 planted
    * sentences joined) — the deterministic signal injection the
    * augmented-corpus entries (q251/q253) plant in BOTH engines.
    */
  val langTails: Seq[(String, String)] =
    plantedSentences.groupBy(_._1).toSeq
      .map { case (l, ss) => (l, ss.map(_._2).mkString(" ")) }
      .sortBy(_._1)

  /** The VALUES list the augmented-corpus oracles plant (quotes
    * escaped; margin-continuation formatted for the callers'
    * stripMargin blocks).
    */
  def tailValuesSql: String =
    langTails.map { case (l, t) => s"('$l', '${t.replace("'", "''")}')" }
      .mkString(",\n        |  ")

  /** Sequence packing: documents in deterministic shuffle order cut
    * into ≤`budget`-token packs via a two-phase distributed prefix
    * sum (see the q58 entry's comment for the shape). Returns one row
    * per doc with its pack id.
    *
    * EAGER (like `annSearch`'s model fit): phase 1 materializes the
    * keyed frame (cached, so phase 2 sees the identical data even for
    * non-deterministic inputs) and collects the 16-row bucket totals;
    * the returned frame is checkpointed so the cache can be released.
    */
  def sequencePack(docs: org.apache.spark.sql.DataFrame, budget: Int,
      materialize: Boolean = true): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val keyed = docs
      .select(col("doc_id"),
        md5(concat(lit("shuf"), col("doc_id").cast(StringType)).cast(BinaryType))
          .as("sk"),
        size(tokens(col("text"))).cast(LongType).as("n_tok"))
      .withColumn("bkt", substring(col("sk"), 1, 1))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // model-sized: ≤16 rows — one per hex-prefix bucket
    val totals = keyed.groupBy("bkt").agg(sum("n_tok").as("t"))
      .orderBy("bkt").collect().map(r => (r.getString(0), r.getLong(1)))
    var acc = 0L
    val offsets = totals.map { case (b, t) => val o = (b, acc); acc += t; o }
    val wIn = Window.partitionBy("bkt").orderBy("sk", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = keyed
      .join(broadcast(offsets.toSeq.toDF("bkt", "off")), Seq("bkt"))
      .withColumn("cum", sum("n_tok").over(wIn) + col("off"))
      .withColumn("pack_id", expr(s"(cum - n_tok) div $budget"))
      .select("doc_id", "n_tok", "pack_id")
    if (!materialize) return pre // plan-inspection path (spec); keyed stays cached
    val out = pre.localCheckpoint(true)
    keyed.unpersist()
    out
  }

  val entries: Seq[QueryEntry] = Seq(
    // Q12 — per-language stats straight off the labeled column.
    QueryEntry.sql(
      "q12_text_stats",
      """SELECT lang, COUNT(*) AS cnt, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    ) { (s, dir) =>
      Tables(s, dir).documentsRebalanced
        .groupBy("lang")
        .agg(count(lit(1)).as("cnt"), sum("n_chars").as("sum_chars"))
        .orderBy("lang")
    },

    // Token counting rolled up per language: whitespace tokenizer plus
    // a BPE-ish regex segmentation (letter runs / digit runs / single
    // other-symbols — the pre-tokenization pattern BPE vocabularies
    // are trained over).
    QueryEntry.sql(
      "q16_token_counts",
      """SELECT lang,
        |       CAST(SUM(len(regexp_split_to_array(trim(lower(text)), '\s+'))) AS BIGINT)
        |         AS sum_tokens,
        |       CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT)
        |         AS sum_subtokens,
        |       COUNT(*) AS cnt
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    ) { (s, dir) =>
      val d = Tables(s, dir).documentsRebalanced
      d.groupBy("lang")
        .agg(
          sum(size(tokens(col("text")))).as("sum_tokens"),
          sum(size(regexp_extract_all(lower(col("text")),
            lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))).as("sum_subtokens"),
          count(lit(1)).as("cnt"),
        )
        .orderBy("lang")
    },

    // Language-ID confusion rollup against the labeled `lang`, using
    // the char-class + stopword scorer. NOTE on the fixture: the
    // synthetic documents draw from ONE shared English-like vocabulary
    // for every lang label (verified round 2), so no classifier can
    // separate them — the rollup shows the honest all-'en' prediction
    // here, while TextAnalysisSpec plants native-orthography sentences
    // and asserts the scorer's perfect diagonal on real signal.
    QueryEntry.sql(
      "q17_lang_id",
      s"""WITH tok AS (
         |  SELECT lang, text,
         |         regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
         |  FROM documents
         |), scored AS (
         |  SELECT lang,
         |         $langScoresSql
         |  FROM tok
         |)
         |SELECT lang,
         |       $langPredictedSql AS predicted,
         |       COUNT(*) AS cnt
         |FROM scored GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin,
    ) { (s, dir) =>
      Tables(s, dir).documentsRebalanced
        .select(col("lang"), langPredicted(col("text")).as("predicted"))
        .groupBy("lang", "predicted")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("lang", "predicted")
    },

    // Language-ID on PLANTED native text under the driver gate: both
    // engines classify the same inline multilingual table (real
    // orthographic signal, unlike the shared-vocabulary fixture) and
    // must produce the identical per-(label, prediction) rollup — a
    // perfect diagonal, differential-tested rather than only
    // spec-pinned.
    QueryEntry.sql(
      "q63_lang_id_planted",
      s"""WITH planted(lang, text) AS (VALUES
         |  ${plantedSentences.map { case (l, t) =>
               s"('$l', '${t.replace("'", "''")}')"
             }.mkString(",\n  ")}
         |), tok AS (
         |  SELECT lang, text,
         |         regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
         |  FROM planted
         |), scored AS (
         |  SELECT lang,
         |         $langScoresSql
         |  FROM tok
         |)
         |SELECT lang,
         |       $langPredictedSql AS predicted,
         |       COUNT(*) AS cnt
         |FROM scored GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin,
    ) { (s, dir) =>
      import s.implicits._
      plantedSentences.toDF("lang", "text")
        .select(col("lang"), langPredicted(col("text")).as("predicted"))
        .groupBy("lang", "predicted")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("lang", "predicted")
    },

    // Quality scoring: length + stopword-ratio + char-range terms,
    // averaged per source. Term order is identical in both engines so
    // the double arithmetic is bit-reproducible pre-ROUND.
    QueryEntry.sql(
      "q18_quality_score",
      s"""WITH tok AS (
         |  SELECT source, n_chars,
         |         regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
         |  FROM documents
         |), scored AS (
         |  SELECT source,
         |         $qualityScoreSql
         |           AS score
         |  FROM tok
         |)
         |SELECT source, ROUND(AVG(score), 6) AS avg_quality, COUNT(*) AS cnt
         |FROM scored GROUP BY source ORDER BY source""".stripMargin,
    ) { (s, dir) =>
      val toks = tokens(col("text"))
      Tables(s, dir).documentsRebalanced
        .select(col("source"), qualityScore(toks, col("n_chars")).as("score"))
        .groupBy("source")
        .agg(round(avg("score"), 6).as("avg_quality"), count(lit(1)).as("cnt"))
        .orderBy("source")
    },

    // Document fingerprinting: md5 over whitespace-normalized text.
    // (The near-dup pipeline uses xxhash64 internally — hash-function
    // dependent, so the oracle-able fingerprint is the md5 one.)
    QueryEntry.sql(
      "q19_fingerprint_md5",
      """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    ) { (s, dir) =>
      Tables(s, dir).documentsRebalanced
        .select(
          col("doc_id"),
          md5(regexp_replace(lower(col("text")), "\\s+", " ").cast(BinaryType)).as("fp"),
        )
        .orderBy("doc_id")
    },

    // The operators composed as one pipeline — the actual shape of a
    // training-data preparation job: exact-dedup survivors → quality
    // gate → per-language token accounting. One declarative plan, so
    // Catalyst fuses the stages (dedup's shuffle is the only exchange
    // before the final rollup).
    QueryEntry.sql(
      "q39_training_pipeline",
      s"""WITH survivors AS (
         |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text
         |), d AS (
         |  SELECT doc.lang, doc.n_chars, doc.text
         |  FROM documents doc JOIN survivors s ON doc.doc_id = s.doc_id
         |), tok AS (
         |  SELECT lang, n_chars,
         |         regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
         |  FROM d
         |), scored AS (
         |  SELECT lang, len(toks) AS n_tok,
         |         $qualityScoreSql
         |           AS score
         |  FROM tok
         |)
         |SELECT lang, COUNT(*) AS cnt, CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
         |FROM scored WHERE score >= CAST(0.5 AS DOUBLE)
         |GROUP BY lang ORDER BY lang""".stripMargin,
    ) { (s, dir) =>
      val docs = Tables(s, dir).documentsRebalanced
      val survivors = docs.groupBy("text")
        .agg(min("doc_id").as("sdoc_id"))
        .select("sdoc_id")
      val d = docs.join(survivors, col("doc_id") === col("sdoc_id"))
      val toks = tokens(col("text"))
      d.select(col("lang"), size(toks).as("n_tok"),
          qualityScore(toks, col("n_chars")).as("score"))
        .filter(col("score") >= lit(0.5))
        .groupBy("lang")
        .agg(count(lit(1)).as("cnt"), sum("n_tok").cast("long").as("sum_tokens"))
        .orderBy("lang")
    },

    // Sequence packing — the training-data step after dedup/sampling:
    // lay documents out in the deterministic shuffle order and cut the
    // stream into packs of ≤ budget tokens via a prefix-sum bin
    // (pack = tokens-before div budget — the distributed, order-stable
    // form of greedy packing). The global cumulative sum is computed
    // as a two-phase distributed prefix sum: deterministic key-range
    // buckets (first hex char of the shuffle key — 16 ranges that
    // agree with the global (sk, doc_id) order), per-bucket window
    // cumsums in parallel, plus bucket offsets derived from the
    // 16-row totals (model-sized driver arithmetic). An unpartitioned
    // window would funnel the corpus through one task; this shape
    // scales like any range-partitioned sort.
    QueryEntry.sql(
      "q58_sequence_packing",
      """WITH ordered AS (
        |  SELECT doc_id,
        |         md5('shuf' || CAST(doc_id AS VARCHAR)) AS sk,
        |         CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT)
        |           AS n_tok
        |  FROM documents
        |), packed AS (
        |  SELECT doc_id, n_tok,
        |         CAST((SUM(n_tok) OVER (ORDER BY sk, doc_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
        |              // 512 AS BIGINT) AS pack_id
        |  FROM ordered
        |)
        |SELECT pack_id, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
        |       CAST(MIN(doc_id) AS BIGINT) AS first_doc
        |FROM packed GROUP BY pack_id ORDER BY pack_id""".stripMargin,
    ) { (s, dir) =>
      sequencePack(Tables(s, dir).documents, budget = 512)
        .groupBy("pack_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("sum_tok"),
          min("doc_id").as("first_doc"))
        .orderBy("pack_id")
    },

    // q183 — packing EFFICIENCY report over q58's packs: the
    // training-batch utilization numbers (mean/min/max pack fill,
    // overflow count — q58's greedy start-assignment lets a doc
    // extend its pack past budget). One grouped sum + one scalar
    // aggregate downstream of the q58 machinery.
    QueryEntry.sql(
      "q183_packing_efficiency",
      """WITH ordered AS (
        |  SELECT doc_id,
        |         md5('shuf' || CAST(doc_id AS VARCHAR)) AS sk,
        |         CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT)
        |           AS n_tok
        |  FROM documents
        |), packed AS (
        |  SELECT doc_id, n_tok,
        |         CAST((SUM(n_tok) OVER (ORDER BY sk, doc_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
        |              // 512 AS BIGINT) AS pack_id
        |  FROM ordered
        |), packs AS (
        |  SELECT pack_id, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tok
        |  FROM packed GROUP BY pack_id
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_packs,
        |       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
        |       CAST(SUM(tok) AS BIGINT) AS total_tok,
        |       CAST(MIN(tok) AS BIGINT) AS min_pack_tok,
        |       CAST(MAX(tok) AS BIGINT) AS max_pack_tok,
        |       ROUND(CAST(SUM(tok) AS DOUBLE) / COUNT(*), 6) AS mean_pack_tok,
        |       CAST(SUM(CASE WHEN tok > 512 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_overflow
        |FROM packs""".stripMargin,
    ) { (s, dir) =>
      val packs = sequencePack(Tables(s, dir).documents, budget = 512)
        .groupBy("pack_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tok"))
      packs.agg(count(lit(1)).as("n_packs"),
        sum("n_docs").cast(LongType).as("n_docs"),
        sum("tok").cast(LongType).as("total_tok"),
        min("tok").as("min_pack_tok"), max("tok").as("max_pack_tok"),
        round(sum("tok").cast(DoubleType) / count(lit(1)), 6)
          .as("mean_pack_tok"),
        sum(when(col("tok") > 512, 1L).otherwise(0L)).as("n_overflow"))
    },

    // Deterministic stratified sampling — the training-data staple that
    // must be reproducible across reruns and engines: membership is a
    // pure function of the row key (md5-derived 60-bit hash threshold),
    // with per-language rates. No RNG state, no seed plumbing, exactly
    // rerunnable at any scale — and therefore oracle-able.
    QueryEntry.sql(
      "q41_stratified_sample",
      """WITH hashed AS (
        |  SELECT lang, doc_id,
        |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |           % 100 AS bucket
        |  FROM documents
        |)
        |SELECT lang, COUNT(*) AS n_sampled,
        |       CAST(MIN(doc_id) AS BIGINT) AS min_id,
        |       CAST(MAX(doc_id) AS BIGINT) AS max_id
        |FROM hashed
        |WHERE bucket < CASE lang WHEN 'en' THEN 50 ELSE 20 END
        |GROUP BY lang ORDER BY lang""".stripMargin,
    ) { (s, dir) =>
      val bucket =
        graft.functions.GraftFunctions.md5Long(
          col("doc_id").cast(StringType).cast(BinaryType)) % 100
      Tables(s, dir).documentsRebalanced
        .select(col("lang"), col("doc_id"), bucket.as("bucket"))
        .filter(col("bucket") < when(col("lang") === "en", 50).otherwise(20))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_sampled"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("lang")
    },

    // Text normalization (the pre-dedup cleanup pass): lowercase /
    // punctuation-strip / whitespace-collapse as one codegen'd per-row
    // expression, rolled up per source with the distinct-after-
    // normalization count — the number exact dedup would key on next.
    QueryEntry.sql(
      "q89_text_normalize",
      s"""WITH n AS (
         |  SELECT source, ${normalizeTextSql("text")} AS norm FROM documents
         |)
         |SELECT source, COUNT(*) AS cnt,
         |       CAST(COUNT(DISTINCT norm) AS BIGINT) AS n_distinct_norm,
         |       CAST(SUM(len(norm)) AS BIGINT) AS sum_norm_len
         |FROM n GROUP BY source ORDER BY source""".stripMargin,
    ) { (s, dir) =>
      Tables(s, dir).documentsRebalanced
        .select(col("source"), normalizeText(col("text")).as("norm"))
        .groupBy("source")
        .agg(count(lit(1)).as("cnt"),
          countDistinct("norm").as("n_distinct_norm"),
          sum(length(col("norm"))).as("sum_norm_len"))
        .orderBy("source")
    },

    // Weighted mixture sampling (Efraimidis–Spirakis A-Res): every doc
    // draws a deterministic uniform u from its key hash; its selection
    // key is u^(1/w) and the global top-k by key IS an exact weighted
    // sample without replacement. Source weights are powers of two so
    // u^(1/w) is a sqrt chain — sqrt is IEEE-754 correctly rounded,
    // making the keys bit-identical in any engine (no transcendental
    // libm drift, unlike ln/pow). The top-k is TakeOrderedAndProject —
    // no global sort — and membership is a pure function of the row,
    // so the mixture is exactly reproducible at any scale.
    QueryEntry.sql(
      "q91_weighted_sample",
      """WITH keyed AS (
        |  SELECT source, doc_id,
        |         CAST(CAST('0x' || substr(md5('wsamp' || CAST(doc_id AS VARCHAR)), 1, 15)
        |              AS BIGINT) AS DOUBLE) / 1152921504606846976.0 AS u
        |  FROM documents
        |), w AS (
        |  SELECT source, doc_id,
        |         CASE WHEN source IN ('src0', 'src1', 'src2', 'src3', 'src4')
        |                THEN sqrt(sqrt(u))
        |              WHEN source IN ('src5', 'src6', 'src7', 'src8', 'src9')
        |                THEN sqrt(u)
        |              ELSE u END AS k
        |  FROM keyed
        |), top AS (
        |  SELECT source, doc_id FROM w ORDER BY k DESC, doc_id LIMIT 200
        |)
        |SELECT source, COUNT(*) AS n_sampled,
        |       CAST(MIN(doc_id) AS BIGINT) AS min_id,
        |       CAST(MAX(doc_id) AS BIGINT) AS max_id
        |FROM top GROUP BY source ORDER BY source""".stripMargin,
    ) { (s, dir) =>
      val h = graft.functions.GraftFunctions.md5Long(
        concat(lit("wsamp"), col("doc_id").cast(StringType)).cast(BinaryType))
      val u = h.cast(DoubleType) / lit(1152921504606846976.0)
      val k = when(col("source").isin("src0", "src1", "src2", "src3", "src4"),
          sqrt(sqrt(u)))
        .when(col("source").isin("src5", "src6", "src7", "src8", "src9"), sqrt(u))
        .otherwise(u)
      Tables(s, dir).documentsRebalanced
        .select(col("source"), col("doc_id"), k.as("k"))
        .orderBy(col("k").desc, col("doc_id"))
        .limit(200)
        .groupBy("source")
        .agg(count(lit(1)).as("n_sampled"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("source")
    },

    // q110 — per-GROUP deterministic sample without replacement: 20
    // docs per language, selection key = the same md5-derived uniform
    // as q91 (A-Res with w=1), grouped top-k through the k-bounded
    // heap aggregate — ≤k rows per language per map task cross the
    // exchange, so per-stratum subsampling never shuffles the corpus
    // (the balanced-subsample shape of a training-mixture pipeline).
    QueryEntry.sql(
      "q110_per_group_sample",
      """WITH keyed AS (
        |  SELECT lang, doc_id,
        |         CAST(CAST('0x' || substr(md5('gsamp' || CAST(doc_id AS VARCHAR)), 1, 15)
        |              AS BIGINT) AS DOUBLE) / 1152921504606846976.0 AS u
        |  FROM documents
        |), ranked AS (
        |  SELECT lang, doc_id, u,
        |         CAST(row_number() OVER (PARTITION BY lang
        |                ORDER BY u DESC, doc_id) AS INT) AS rank
        |  FROM keyed
        |)
        |SELECT lang, rank, doc_id, ROUND(u, 6) AS u
        |FROM ranked WHERE rank <= 20 ORDER BY lang, rank""".stripMargin,
    ) { (s, dir) =>
      val h = graft.functions.GraftFunctions.md5Long(
        concat(lit("gsamp"), col("doc_id").cast(StringType)).cast(BinaryType))
      val u = h.cast(DoubleType) / lit(1152921504606846976.0)
      Tables(s, dir).documentsRebalanced
        .select(col("lang"), col("doc_id"), u.as("u"))
        .groupBy("lang")
        .agg(graft.functions.GraftFunctions
          .topkScoreId(col("u"), col("doc_id"), 20).as("top"))
        .select(col("lang"), posexplode(col("top")))
        .select(col("lang"), (col("pos") + 1).cast(IntegerType).as("rank"),
          col("col.id").as("doc_id"), round(col("col.score"), 6).as("u"))
        .orderBy("lang", "rank")
    },

    // q253 — tokenizer fertility per language: how many BPE-ish
    // subtokens (the q184 regex) each whitespace token fragments into,
    // and UTF-8 bytes per subtoken — the multilingual token-budget
    // numbers (CJK fragments char-per-subtoken at 3 bytes each, Latin
    // langs stay near 1) a mixture planner feeds on. Measured over the
    // orthography-AUGMENTED corpus ([[Classify.augmentedDocs]] — the
    // fixture's shared English-like vocabulary carries no script
    // signal, the q17 note; both engines plant the same tails). All
    // sums are exact integers; the two ratios are rounded once per
    // lang row.
    QueryEntry.sql(
      "q253_tokenizer_fertility",
      s"""WITH ptail(lang, tail) AS (VALUES
        |  $tailValuesSql
        |), d2 AS (
        |  SELECT d.lang, d.text || ' ' || tail AS text
        |  FROM documents d JOIN ptail USING (lang)
        |)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(len(regexp_split_to_array(trim(lower(text)), '\\s+')))
        |            AS BIGINT) AS ws_tokens,
        |       CAST(SUM(len(regexp_extract_all(lower(text),
        |                    '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT)
        |         AS subtokens,
        |       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS n_bytes,
        |       ROUND(SUM(len(regexp_extract_all(lower(text),
        |                     '[a-z]+|[0-9]+|[^a-z0-9 ]'))) * 1.0 /
        |             SUM(len(regexp_split_to_array(trim(lower(text)), '\\s+'))), 6)
        |         AS fertility,
        |       ROUND(SUM(octet_length(encode(text))) * 1.0 /
        |             SUM(len(regexp_extract_all(lower(text),
        |                     '[a-z]+|[0-9]+|[^a-z0-9 ]'))), 6)
        |         AS bytes_per_subtoken
        |FROM d2 GROUP BY lang ORDER BY lang""".stripMargin,
    ) { (s, dir) =>
      val subt = size(regexp_extract_all(lower(col("text")),
        lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
      Classify.augmentedDocs(Tables(s, dir).documentsRebalanced)
        .select(col("lang"),
          size(tokens(col("text"))).as("wt"), subt.as("st"),
          octet_length(col("text")).as("by"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("wt")).as("ws_tokens"),
          sum(col("st")).as("subtokens"),
          sum(col("by")).as("n_bytes"),
          round(sum(col("st")) * lit(1.0) / sum(col("wt")), 6).as("fertility"),
          round(sum(col("by")) * lit(1.0) / sum(col("st")), 6)
            .as("bytes_per_subtoken"))
        .orderBy("lang")
    },
  )
}
