package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (BASELINE.md §2 protocol): every declared query on
  * `SPARK_GRAFT_SF_DIR`, 1 warmup + 5 timed runs (1 timed run for
  * streaming entries — their time is a stable micro-batch scheduling
  * floor; see [[timedRunsFor]]), median wall-clock, forced through the
  * `noop` sink so the full plan materializes without sink I/O skewing
  * the number (count() would let Catalyst prune the very projections
  * being measured). The r1-shared grading prefix runs FIRST and emits
  * an early `bench_summary` line the moment it completes (r13 VERDICT
  * item 1: the r13 full sequence outran the driver's wall clock on a
  * loaded host and the round's canonical record was rc 124 with no
  * number at all — now a timeout truncates coverage, never the grade).
  *
  * Emits exactly one JSON line:
  *   {"metric":"total_median_sec","value":N,"unit":"sec",
  *    "queries":{...},"sf":...,"n_queries":N,"failed":N,
  *    "vs_prev":{...},"prev":"BENCH_rXX.json",
  *    "witness":{"qNN":{"seq":s,"iso":s},...}}
  * `queries` values stay plain seconds (the driver's contract); a
  * failed query is recorded as -1.0 there, EXCLUDED from the total,
  * and counted in `failed` so a smaller total can never silently mean
  * "a query crashed". `vs_prev` is this_run/prev_run per query against
  * the newest complete same-sf full run in BENCH_HISTORY.jsonl (falling
  * back to the newest BENCH_r*.json wrapper; absent when no prior round
  * exists). `witness` makes the record self-certifying
  * (BASELINE.md §2 protocol): the slowest queries and any >1.5x
  * vs_prev regression are re-measured ISOLATED after the sequence —
  * seq/iso ≈ 1 certifies the sequence number; a regression that
  * vanishes isolated is sequence/host noise, visible in the record
  * itself. When seq and iso THEMSELVES disagree (>1.5x either way) the
  * query is re-measured once more in a fresh child JVM and recorded as
  * `witness.<q>.fresh` — the no-shared-history tiebreaker. The line is
  * also written to BENCH_LAST.json as a file artifact.
  *
  * A second, FINAL stdout line is a compact (<1,500-char) summary —
  * `{"metric":"bench_summary",...}` with totals, the vs-r1 grade, the
  * worst per-query ratios, and per-witness verdicts — sized so the
  * driver's 2,000-char stdout tail always captures a complete JSON
  * object (the full record is ~8 KB and truncates). Also written to
  * BENCH_SUMMARY.json.
  *
  * Both lines carry `host_loaded`, decided from this run alone (see
  * [[hostLoaded]]): run-average steal, the count of >3× vs-prev
  * regressions, and the foreign CPU share of the sequence pass.
  */
object Bench {

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.size / 2)
  }

  /** Per-query seconds parsed out of one BENCH_r*.json, scoped to the
    * text of its "queries":{...} object (flat numbers by contract),
    * tolerant of the driver's wrapper fields and tail truncation.
    */
  def queryTimesFrom(f: java.io.File): Map[String, Double] =
    try {
      // the driver may wrap our JSON line string-escaped (and
      // truncated) inside its own "tail" field — unescape
      // unconditionally; a clean bench line has no \" sequences
      queryTimesFromText(
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
          .replace("\\\"", "\""))
    } catch {
      // a malformed prior-round file degrades to "no baseline", never
      // to losing this run's results
      case scala.util.control.NonFatal(_) => Map.empty
    }

  /** Core of [[queryTimesFrom]] on already-unescaped record text. */
  def queryTimesFromText(text: String): Map[String, Double] =
    try {
      // full float syntax: a bare [0-9.eE+]+ class cannot carry a
      // NEGATIVE exponent, so "4.9E-4" captured as "4.9E" would
      // throw in toDouble and lose the whole run's vs_prev
      val pair = "\"([^\"]+)\":(-?\\d+(?:\\.\\d+)?(?:[eE][+-]?\\d+)?)".r
      val start = text.indexOf("\"queries\":{")
      // NO whole-text fallback: a driver record whose tail truncated
      // away the queries object still contains witness fragments
      // ("iso_steal":0.001 next to qNN keys), and scraping those
      // manufactured 50-70x vs_prev ratios in the r9 full run — an
      // absent baseline must degrade to "no baseline", never to a
      // garbage one (the witness pass then re-measured 10 innocent
      // queries to clear labels that should never have existed)
      val scope =
        if (start >= 0) {
          val body = text.substring(start + "\"queries\":{".length)
          body.substring(0, math.max(0, body.indexOf('}')))
        } else ""
      // keys are qNN_*: immune to the wrapper's own numeric fields
      pair.findAllMatchIn(scope)
        .filter(_.group(1).matches("q\\d+\\w*"))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    } catch {
      // a malformed prior-round file degrades to "no baseline", never
      // to losing this run's results
      case scala.util.control.NonFatal(_) => Map.empty
    }

  /** Per-query seconds from the newest COMPLETE prior full run.
    *
    * Primary source: BENCH_HISTORY.jsonl — written by the bench itself,
    * append-only, never driver-truncated. The r10 defect this exists
    * for: the driver's BENCH_r09.json wrapper keeps only a ~2,000-char
    * stdout TAIL, which cut away the `"queries":{` prefix of the r9
    * record; [[queryTimesFromText]] correctly refused the whole-text
    * fallback, vs_prev degraded to `{}`, and the >1.5x-vs-prev witness
    * trigger was silently disarmed — six real regressions went
    * unadjudicated. A history line qualifies as the baseline when its
    * recorded sf matches this run's (cross-sf ratios are meaningless)
    * AND its query map covers at least half the current inventory
    * (SPARK_GRAFT_ONLY partials and fresh-JVM child lines never do).
    * Newest qualifying line wins. Falls back to the newest
    * BENCH_r*.json wrapper only when no history line qualifies.
    */
  def previousQueryTimes(
      sfDir: String,
      currentNames: Set[String],
      dir: java.io.File = new java.io.File(".")): (Option[String], Map[String, Double]) = {
    val fromHistory: Option[(String, Map[String, Double])] = {
      val hist = new java.io.File(dir, "BENCH_HISTORY.jsonl")
      if (!hist.exists()) None
      else
        try {
          val lines = java.nio.file.Files.readAllLines(hist.toPath)
          val sfRe = "\"sf\":\\s*\"([^\"]+)\"".r
          val wantSf = new java.io.File(sfDir).getName
          val minCover = math.max(1, currentNames.size / 2)
          (lines.size to 1 by -1).iterator.map { i =>
            val text = lines.get(i - 1)
            // the sf field must be PRESENT and matching (exists, not
            // forall): a schema-drifted line with no sf field would
            // otherwise silently supply cross-sf vs_prev ratios — the
            // same class of silent-disarm defect the history source
            // exists to prevent. Loaded-run lines are skipped too (r13
            // ADVICE low): a steal-inflated baseline makes this run's
            // ratios read fast and under-arms the regression witness.
            val sfOk = !lineLoaded(text) &&
              sfRe.findFirstMatchIn(text).map(_.group(1))
                .exists(s => new java.io.File(s).getName == wantSf)
            val qs = if (sfOk) queryTimesFromText(text) else Map.empty[String, Double]
            (i, qs)
          }.collectFirst {
            // run-shape filter: see HistoryShapeRatio
            case (i, qs) if qs.keySet.intersect(currentNames).size >= minCover &&
                qs.size <= HistoryShapeRatio * math.max(1, currentNames.size) =>
              (s"BENCH_HISTORY.jsonl#$i", qs)
          }
        } catch { case scala.util.control.NonFatal(_) => None }
    }
    fromHistory match {
      case Some((label, qs)) => (Some(label), qs)
      case None =>
        // superseded rounds live in records/ since round 14 — scan
        // both locations, and skip wrappers whose parse is EMPTY (the
        // rc-124 BENCH_r13.json wrapper carries no queries map; picking
        // it by round number would re-create the r10 silent-disarm
        // with a non-empty label)
        val dirFiles = Option(dir.listFiles()).getOrElse(Array.empty) ++
          Option(new java.io.File(dir, "records").listFiles()).getOrElse(Array.empty)
        // sort by round NUMBER — lexicographic name order misorders r9/r10
        val benches = dirFiles.filter(_.getName.matches("BENCH_r\\d+\\.json"))
          .sortBy(f => f.getName.replaceAll("\\D", "").toInt)
        benches.reverseIterator
          .map(f => (f.getName, queryTimesFrom(f)))
          .find(_._2.nonEmpty) match {
          case Some((name, qs)) => (Some(name), qs)
          case None =>
            // keep the old degraded-to-empty contract (label of the
            // newest wrapper, no baseline) when nothing parses
            benches.lastOption match {
              case None => (None, Map.empty)
              case Some(f) => (Some(f.getName), Map.empty)
            }
        }
    }
  }

  /** The round-1 driver baseline (BENCH_r01.json): the fixed reference
    * every round is graded against. Its 46-query map survives intact
    * inside the driver's truncated tail, so this parse is complete.
    * Returns empty when the baseline's sf dir differs from `sfDir` —
    * cross-sf ratios (e.g. an sf0.01 iteration run vs the sf0.1
    * baseline) would be meaningless as grades and noisy as witness
    * triggers.
    */
  def r1QueryTimes(sfDir: String): Map[String, Double] = {
    val f = new java.io.File("BENCH_r01.json")
    if (!f.exists()) return Map.empty
    val sameSf =
      try {
        val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
          .replace("\\\"", "\"")
        "\"sf\":\\s*\"([^\"]+)\"".r.findFirstMatchIn(text)
          .map(_.group(1))
          .forall(r1Sf => new java.io.File(r1Sf).getName ==
            new java.io.File(sfDir).getName)
      } catch { case scala.util.control.NonFatal(_) => true }
    if (sameSf) queryTimesFrom(f) else Map.empty
  }

  /** Queries witnessed isolated after the sequence (the slowest ones
    * dominate total time AND are where sequence-position noise is most
    * expensive to misread), plus any query whose vs_prev ratio exceeds
    * [[WitnessRegressionRatio]] — a regression must either reproduce
    * isolated (real) or vanish (sequence/host noise), and the record
    * distinguishes the two without a human re-run.
    */
  val WitnessSlowest = 8
  val WitnessRegressionRatio = 1.5
  /** Any query whose sequence time exceeds this multiple of its r1
    * driver baseline is witnessed regardless of absolute time or
    * vs_prev — the r7 judge found q28 at 2.48x vs r1 (0.214 s, too
    * fast and too stable vs prev for either existing trigger) left
    * unadjudicated; the grading threshold is 2x, so the record must
    * carry a verdict for every reading that crosses it.
    */
  val WitnessVsR1Ratio = 2.0
  val WitnessCap = 18

  /** Streaming entries (micro-batch-scheduling-bound: their time is a
    * Trigger.AvailableNow machinery floor, not a plan cost, and the
    * floor is stable run-to-run). Recognized by name — the `_stream`
    * infix is the inventory-wide convention (17 entries).
    */
  def isStreaming(name: String): Boolean = name.contains("_stream")

  /** Timed-run count per query (r13 VERDICT item 1): streaming entries
    * get ONE timed run — median-of-5 over a scheduling floor buys no
    * precision and cost ~70 s of the full-inventory wall clock, which
    * is what pushed the r13 bench past the driver's timeout (the
    * committed BENCH_r13.json was rc 124 / parsed null).
    */
  def timedRunsFor(name: String, default: Int): Int =
    if (isStreaming(name)) 1 else default

  /** Bench inventory order (r13 VERDICT item 1): every query with an r1
    * driver baseline runs FIRST (inventory order within each group), so
    * the vs_r1 grading signal is measured, printed, and written to
    * BENCH_SUMMARY.json before the ~290-query tail starts — a driver
    * wall-clock timeout can then truncate COVERAGE but never zero out
    * the round's graded record. Spec-pinned in EdgeCaseSpec: with the
    * real registry and BENCH_r01.json, the full r1-shared set precedes
    * inventory position 47.
    */
  def benchOrder(entries: Seq[QueryEntry], r1Names: Set[String]): Seq[QueryEntry] = {
    val (shared, rest) = entries.partition(e => r1Names.contains(e.name))
    shared ++ rest
  }

  /** The early (post-r1-prefix) summary line — the timeout-survivable
    * grading record. Compact and complete JSON: totals over the prefix,
    * the vs-r1 grade, worst per-query ratios, and the host signals
    * known at that point. Tagged `"phase":"r1_prefix"` so a truncated
    * round record is visibly partial, never mistaken for the full run.
    */
  /** The vs-r1 grading fragment shared by the early (r1-prefix) and
    * final summaries — ONE implementation so the timeout-survivable
    * record and the final record can never desynchronize on the
    * grading arithmetic (round-14 review finding).
    */
  def vsR1Fragment(results: Seq[(String, Double)], r1: Map[String, Double]): String = {
    def r3(x: Double): Double = math.round(x * 1000.0) / 1000.0
    val shared = results.collect {
      case (k, v) if v > 0 && r1.get(k).exists(_ > 0) => (k, v, r1(k))
    }
    if (shared.isEmpty) ""
    else {
      val ratio = r3(shared.map(_._2).sum / shared.map(_._3).sum)
      val worst = shared.map { case (k, v, b) => (k, v / b) }
        .sortBy(-_._2).take(3)
        .map { case (k, r) => s""""$k":${r3(r)}""" }.mkString("{", ",", "}")
      s""","vs_r1":$ratio,"r1_shared":${shared.size},"worst_vs_r1":$worst"""
    }
  }

  def r1PrefixSummaryJson(
      prefix: Seq[(String, Double)],
      r1: Map[String, Double],
      sfDir: String,
      foreignShare: Option[Double],
      stealAvg: Double): String = {
    def r3(x: Double): Double = math.round(x * 1000.0) / 1000.0
    val ok = prefix.collect { case (_, v) if v >= 0 => v }
    s"""{"metric":"bench_summary","phase":"r1_prefix","total_prefix":${r3(ok.sum)},""" +
      s""""n":${prefix.size},"failed":${prefix.size - ok.size},"sf":"$sfDir"""" +
      s"""${vsR1Fragment(prefix, r1)},""" +
      s""""steal_avg":${r3(stealAvg)}${foreignTag(foreignShare)}}"""
  }

  /** `,"foreign_share":N` when the share was measured, else nothing. */
  def foreignTag(foreignShare: Option[Double]): String =
    foreignShare.fold("")(f => s""","foreign_share":${math.round(f * 1000.0) / 1000.0}""")

  /** Witness selection (r12 VERDICT item 1). The r12 committed record
    * showed the failure mode of a naive `(regressed ++ slowest ++
    * overR1).take(cap)`: `regressed` enumerated in INVENTORY order, so
    * on a noisy run the cap filled with early sub-second entries and
    * squeezed out the three LARGEST vs-prev regressions (q232 4.3×,
    * q139 3.8× at 16 s, q215 3.2× at 15 s) AND the entire slowest-8
    * list — the exact readings the witness pass exists for. Rules,
    * spec-pinned in EdgeCaseSpec:
    *   1. every ≥[[LoadedBigRegressionRatio]]-vs-prev reading is
    *      witnessed unconditionally (the cap EXPANDS rather than drop
    *      one);
    *   2. the slowest-[[WitnessSlowest]] are witnessed unconditionally
    *      (they dominate the total);
    *   3. remaining >1.5×-vs-prev regressions fill by vs_prev
    *      DESCENDING, then >2×-vs-r1 flags; only this tail is capped.
    * Order matters downstream: big regressions lead so the
    * [[FreshCap]]-bounded fresh-JVM pass (taken in witness order)
    * always reaches them first.
    */
  def selectWitnesses(
      results: Seq[(String, Double)],
      prev: Map[String, Double],
      r1: Map[String, Double]): Seq[String] =
    selectWitnessesWithDropped(results, prev, r1)._1

  /** [[selectWitnesses]] plus the names the cap SQUEEZED OUT (r13
    * ADVICE low): when big-regressions + slowest-8 fill the cap, the
    * >1.5×-vs-prev / >2×-vs-r1 fill tail is truncated — those names
    * must surface in the round record (`witness_dropped` in the
    * summary), or the r7 promise that every over-threshold reading
    * carries its own verdict fails silently.
    */
  def selectWitnessesWithDropped(
      results: Seq[(String, Double)],
      prev: Map[String, Double],
      r1: Map[String, Double]): (Seq[String], Seq[String]) = {
    val slowest = results.filter(_._2 > 0).sortBy(-_._2)
      .take(WitnessSlowest).map(_._1)
    val regressedSorted = results.collect {
      case (k, v) if v > 0 &&
        prev.get(k).exists(p => p > 0 && v / p > WitnessRegressionRatio) =>
        (k, v / prev(k))
    }.sortBy(-_._2)
    val bigRegressed = regressedSorted
      .filter(_._2 >= LoadedBigRegressionRatio).map(_._1)
    val overR1 = results.collect {
      case (k, v) if v > 0 &&
        r1.get(k).exists(b => b > 0 && v / b > WitnessVsR1Ratio) => k
    }
    val reserved = (bigRegressed ++ slowest).distinct
    val fill = (regressedSorted.map(_._1) ++ overR1).distinct
      .filterNot(reserved.contains)
    val room = math.max(0, WitnessCap - reserved.size)
    (reserved ++ fill.take(room), fill.drop(room))
  }

  /** Fresh-JVM tiebreaker (round-7 protocol): when a witnessed query's
    * seq and iso numbers disagree by more than this ratio in EITHER
    * direction, the in-JVM record is self-contradictory — iso ≫ seq
    * with low steal and low code-cache is a state the signature table
    * cannot classify (r6: q139 seq 4.99 s / iso 15.10 s). The only
    * measurement with no shared-JVM history at all is a new process, so
    * such queries are re-measured once in a child JVM (same flags,
    * classpath, and hygiene; nothing else has ever run in it) and the
    * result recorded as `witness.<q>.fresh`. Trust order: fresh > the
    * lower of seq/iso > the higher.
    */
  val FreshDisagreeRatio = 1.5
  val FreshCap = 18

  /** Whether a witnessed query must be re-measured in a fresh child
    * JVM. Two triggers, both mandatory (r11 VERDICT item 1):
    *   1. seq and iso disagree (>FreshDisagreeRatio either way) — the
    *      in-JVM record is self-contradictory.
    *   2. vs_prev exceeds [[WitnessRegressionRatio]] — EVEN when
    *      seq ≈ iso. A host-wide slowdown inflates the sequence and
    *      the isolated re-run TOGETHER, so seq/iso agreement is
    *      exactly the wrong evidence to close a vs-prev flag: the
    *      committed BENCH_r11 certified q259 at 5.6× and q139 at
    *      5.8× vs r10 as `stable` off iso agreement alone, while
    *      same-session quiet-host runs showed both nominal. Only a
    *      process with no shared host-period history (a fresh child
    *      JVM, started minutes later) can adjudicate that case.
    * Pure so the seq≈iso-but-regressed case is spec-pinned.
    */
  def needsFreshJvm(seq: Double, iso: Double, vsPrev: Option[Double]): Boolean =
    seq > 0 && iso > 0 && (
      math.max(seq / iso, iso / seq) > FreshDisagreeRatio ||
        vsPrev.exists(_ > WitnessRegressionRatio))

  /** The protocol's trusted reading: fresh > min(seq, iso) — a
    * fresh-JVM measurement, when taken, overrides the in-JVM pair
    * entirely (r8: q179 was labeled seq_noise off min(seq,iso) while
    * its own fresh reading confirmed the cost). UNNORMALIZED.
    */
  def trustedReading(seq: Double, iso: Double, fresh: Option[Double]): Double =
    fresh.filter(_ > 0).getOrElse((Seq(seq, iso).filter(_ > 0) :+ seq).min)

  /** Witness verdict (pure, spec-pinned), on raw readings throughout:
    * against the r1 baseline (`ok`/`cleared`/`confirmed`), between the
    * sequence and the trusted reading when there is no r1 baseline
    * (`seq_noise`/`cost_confirmed`/`stable`), and against the prior
    * run (`prev_noise`/`prev_confirmed`). A run on a loaded host says
    * so through `host_loaded`; its verdicts are not rescaled.
    */
  def witnessVerdict(
      seq: Double, iso: Double, fresh: Option[Double],
      r1Base: Option[Double], prevSec: Option[Double]): String = {
    val raw = trustedReading(seq, iso, fresh)
    val v0 = r1Base.filter(_ > 0) match {
      case Some(b) =>
        if (seq / b <= WitnessVsR1Ratio) "ok"
        else if (raw / b <= WitnessVsR1Ratio) "cleared"
        else "confirmed"
      case None =>
        if (raw > 0 && seq / raw > FreshDisagreeRatio) "seq_noise"
        else if (fresh.exists(_ > 0)) "cost_confirmed"
        else "stable"
    }
    prevSec.filter(_ > 0) match {
      case Some(p) if seq / p > WitnessRegressionRatio &&
          (v0 == "ok" || v0 == "stable") =>
        if (raw / p <= WitnessRegressionRatio) "prev_noise"
        else "prev_confirmed"
      case _ => v0
    }
  }

  /** One witness entry of the full record (pure, spec-pinned): the
    * seq/iso/fresh readings and, for a witness with a prior-run
    * baseline, `vs_prev_trusted` (trusted reading / prior-run seconds),
    * the ratio a `prev_*` verdict was decided on.
    */
  def witnessEntryJson(
      name: String, seq: Double, iso: Double, isoSteal: Double, cc: Double,
      fresh: Option[Double], prevSec: Option[Double]): String = {
    def r3(x: Double): Double = math.round(x * 1000.0) / 1000.0
    val freshTag = fresh.map(f => s""","fresh":$f""").getOrElse("")
    val prevTag = prevSec.filter(_ > 0).map { p =>
      s""","vs_prev_trusted":${r3(trustedReading(seq, iso, fresh) / p)}"""
    }.getOrElse("")
    s""""$name":{"seq":$seq,"iso":$iso,""" +
      s""""iso_steal":${r3(isoSteal)},""" +
      s""""code_cache":${math.round(cc * 100.0) / 100.0}$freshTag$prevTag}"""
  }

  /** Loaded-host record detector: a run taken under host contention
    * must flag itself rather than be committed silently as a canonical
    * number. It is judged from this run alone; any signal suffices —
    *   1. run-average CPU steal at or over [[LoadedStealAvg]] (the
    *      hypervisor witness);
    *   2. at least [[LoadedBigRegressionCount]] queries at more than
    *      [[LoadedBigRegressionRatio]]× their prior-run time;
    *   3. the foreign CPU share of the sequence pass (see
    *      [[foreignCpuShare]]) at or over [[LoadedForeignShare]]: other
    *      processes on this host took CPU time the queries could have
    *      used, the co-tenant class steal does not show.
    * Pure for spec-pinning.
    */
  val LoadedStealAvg = 0.03
  val LoadedBigRegressionRatio = 3.0
  val LoadedBigRegressionCount = 3
  val LoadedForeignShare = 0.1
  def hostLoaded(stealAvg: Double, bigRegressions: Int,
      foreignShare: Option[Double] = None): Boolean =
    stealAvg >= LoadedStealAvg ||
      bigRegressions >= LoadedBigRegressionCount ||
      foreignShare.exists(_ >= LoadedForeignShare)

  /** The share of the host's CPU time that other processes used over
    * an interval: (host busy − this process's utime+stime) / host
    * total, all in jiffies over the same interval. Both counters tick
    * in whole jiffies, so this process's time can exceed the host's
    * busy time by a rounding step; that reads 0, not negative. None
    * when no time passed.
    */
  def foreignCpuShare(busy: Long, self: Long, total: Long): Option[Double] =
    if (total <= 0) None
    else Some(math.max(0L, busy - self).toDouble / total)

  /** Whether a BENCH_HISTORY line was recorded under host contention,
    * so [[previousQueryTimes]] never takes a loaded run as the vs_prev
    * baseline (a steal-inflated baseline makes this run's ratios read
    * fast and under-arms the regression witness). Two markers: the
    * explicit `"host_loaded":true` tag, and — for lines appended
    * before the tag existed — a recorded run-average steal at or over
    * [[LoadedStealAvg]].
    */
  def lineLoaded(text: String): Boolean =
    if (text.contains("\"host_loaded\":")) text.contains("\"host_loaded\":true")
    else
      // legacy marker ONLY for pre-tag lines: the recorded run_avg is
      // 3dp-rounded, so a 0.0295-steal run that hostLoaded correctly
      // called quiet (raw < 0.03) records run_avg 0.03 — the explicit
      // tag must win or that line is retro-misclassified forever
      "\"run_avg\":(-?\\d+(?:\\.\\d+)?(?:[eE][+-]?\\d+)?)".r
        .findFirstMatchIn(text)
        .exists(_.group(1).toDouble >= LoadedStealAvg)

  /** Run-shape filter of the vs_prev baseline: a history line
    * qualifies only if its own query count is at most this multiple
    * of the current run's. Per-query times depend on the run's shape —
    * a query inside a 341-entry full sequence runs on a JVM warmed by
    * hundreds of prior queries, while the same query in a 52-entry
    * probe pays its share of a cold JVM (a quiet probe read 1.24–1.68×
    * against full-run lines and 0.975× against a like-shaped probe).
    * The coverage floor in [[previousQueryTimes]] already prevents the
    * reverse mismatch (a full run never baselines against a probe).
    */
  val HistoryShapeRatio = 2

  /** Measure one query in a brand-new JVM: re-exec this class with the
    * parent's own JVM flags and classpath, `SPARK_GRAFT_FRESH=1` +
    * `SPARK_GRAFT_ONLY=<name>`, and parse the single `{"fresh":{...}}`
    * stdout line. -1.0 on any failure — a broken tiebreaker must never
    * take down the bench record.
    */
  def freshJvmSeconds(name: String, sfDir: String, cpus: String): Double =
    try {
      import scala.jdk.CollectionConverters._
      val javaBin = java.nio.file.Paths.get(
        sys.props("java.home"), "bin", "java").toString
      val jvmArgs = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments.asScala.toSeq
        .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent"))
      val cmd = Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", sys.props("java.class.path"), "graft.Bench")
      val pb = new ProcessBuilder(cmd.asJava)
      pb.environment().put("SPARK_GRAFT_FRESH", "1")
      pb.environment().put("SPARK_GRAFT_ONLY", name)
      pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
      pb.environment().put("SPARK_GRAFT_CPUS", cpus)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val p = pb.start()
      // watchdog: reading stdout blocks until the child exits; a hung
      // child is killed rather than hanging the whole bench
      val killer = new Thread(() => {
        if (!p.waitFor(600, java.util.concurrent.TimeUnit.SECONDS))
          p.destroyForcibly()
      })
      killer.setDaemon(true)
      killer.start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      p.waitFor()
      // scope the parse to the child's {"fresh":{...}} line — a regex
      // over the whole stdout could match the query name in unrelated
      // output (e.g. third-party JSON progress lines)
      val freshLine = out.linesIterator
        .find(_.startsWith("""{"fresh":""")).getOrElse("")
      val re = ("\"" + java.util.regex.Pattern.quote(name) +
        "\":(-?\\d+(?:\\.\\d+)?(?:[eE][+-]?\\d+)?)").r
      re.findFirstMatchIn(freshLine).map(_.group(1).toDouble).getOrElse(-1.0)
    } catch { case scala.util.control.NonFatal(_) => -1.0 }

  /** Cumulative (busy, steal, total) jiffies from /proc/stat — the
    * hypervisor-contention witness. On a shared host, CPU STEAL is the
    * one inflater a JVM can neither see nor control: r5 measured two
    * identical-code full runs at 70.4 s and 133.8 s while a sampler
    * showed steal bursts up to 14% during the slow run. Recording the
    * per-query steal fraction in the bench line makes that visible in
    * the record itself — a query's number is trustworthy iff its
    * steal% is near zero, and a slow-total round with high steal reads
    * as a loaded host, not a plan regression. Linux-only; absent
    * silently elsewhere.
    */
  def readCpu(): Option[(Long, Long, Long)] =
    try {
      val line = scala.io.Source.fromFile("/proc/stat").getLines().next()
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal
      val steal = if (f.length > 7) f(7) else 0L
      Some((f(0) + f(1) + f(2), steal, f.sum))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** This process's cumulative utime+stime over all its threads, in
    * jiffies from /proc/self/stat — the clock [[readCpu]] reads the
    * host on. Linux-only; absent silently elsewhere.
    */
  def readSelfCpu(): Option[Long] =
    try {
      val stat = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/self/stat")), "UTF-8")
      // the fields after the parenthesized command name start at field
      // 3 (state); utime and stime are fields 14 and 15
      val f = stat.substring(stat.lastIndexOf(')') + 1).trim.split("\\s+")
      Some(f(11).toLong + f(12).toLong)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Jiffies at one point, or over an interval: the host's busy, steal
    * and total time, and this process's own busy time.
    */
  final case class CpuTicks(busy: Long, steal: Long, total: Long, self: Long) {
    def stealShare: Double = steal.toDouble / total
    def minus(o: CpuTicks): CpuTicks =
      CpuTicks(busy - o.busy, steal - o.steal, total - o.total, self - o.self)
  }

  def readTicks(): Option[CpuTicks] =
    for ((busy, steal, total) <- readCpu(); self <- readSelfCpu())
      yield CpuTicks(busy, steal, total, self)

  /** JIT code-cache occupancy (used / reserved across the CodeHeap
    * pools) — the in-JVM slowdown witness. A long codegen-heavy
    * sequence can fill the code cache; when it is full the JIT stops
    * compiling and CPU-bound queries run interpreted at 10-15× (the r5
    * witness pass measured q68 at 10.7 s isolated-at-end-of-sequence
    * vs 0.54 s in a fresh JVM, with near-zero steal — steal could not
    * explain it, occupancy does). A witness entry is trustworthy iff
    * both its steal AND its code-cache fraction are low.
    */
  def codeCacheFrac(): Double =
    try {
      import scala.jdk.CollectionConverters._
      val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getName.startsWith("CodeHeap") || p.getName == "Code Cache")
      val used = pools.map(_.getUsage.getUsed).sum.toDouble
      val max = pools.map(p => math.max(p.getUsage.getMax, 0L)).sum.toDouble
      if (max > 0) used / max else -1.0
    } catch { case scala.util.control.NonFatal(_) => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = EngineSession.defaultCpus
    val spark: SparkSession = EngineSession.local("graft-bench", cpus)

    def time(fn: => Unit): Double = {
      val t0 = System.nanoTime()
      fn
      (System.nanoTime() - t0) / 1e9
    }

    // r1-shared queries FIRST (r13 VERDICT item 1) — see benchOrder
    val r1 = r1QueryTimes(sfDir)
    val entries = benchOrder(
      SparkEntry.allEntries.filter(e => SparkEntry.envSelected(e.name)),
      r1.keySet)
    val r1PrefixLen = entries.count(e => r1.contains(e.name))

    // host CPU ticks over each query's latest measurement
    val ticksByQuery = scala.collection.mutable.LinkedHashMap.empty[String, CpuTicks]
    def stealAvg(ts: Iterable[CpuTicks]): Double =
      if (ts.isEmpty) 0.0 else ts.map(_.stealShare).sum / ts.size
    def foreignShare(ts: Iterable[CpuTicks]): Option[Double] =
      foreignCpuShare(ts.map(_.busy).sum, ts.map(_.self).sum, ts.map(_.total).sum)

    def runOnce(e: QueryEntry): Unit =
      e.run(spark, sfDir).write.format("noop").mode("overwrite").save()

    /** One hygienic measurement of `e`: GC + one warmup run + timed
      * medians, all through the `noop` sink, then release everything
      * the query pinned. Shared by the sequence, witness and fresh-JVM
      * passes so their numbers differ ONLY in what ran before them.
      */
    def measure(e: QueryEntry, timedRuns: Int): Double = {
      // Deterministic trial hygiene (outside every timed region): a
      // driver GC lets ContextCleaner reclaim the previous queries'
      // broadcast blocks NOW rather than whenever the 30s periodic GC
      // lands mid-measurement. Before EVERY query: periodic cadences
      // (16, then 8) left whichever queries sat furthest from a GC
      // point running 2-3x their isolated times (q87/q94 at %16, q84
      // at %8 — the victims moved when entries were inserted), so the
      // only position-independent hygiene is a fresh heap per query;
      // the ~100ms pause is outside the timed region.
      System.gc()
      // every run of a checkpoint-using query (q20/q38/q42/q58…) pins
      // fresh block-manager memory; across 64 queries × 6 runs the
      // accumulation degrades later queries (r02: q62 read 4.0 s in the
      // full bench vs 0.56 s isolated). Release what THIS query pinned
      // once its runs finish; pre-existing memos stay.
      val t = Reuse.isolating(spark) {
        val ticks0 = readTicks()
        val t = try {
          runOnce(e)
          median(Seq.fill(timedRuns) {
            // streaming: drop the warmup/previous rep's dead provider
            // registry before the timed window (see the sweep comment
            // below + StateStoreHygiene)
            if (isStreaming(e.name))
              org.apache.spark.sql.graft.StateStoreHygiene.unloadAll()
            time(runOnce(e))
          })
        } catch {
          case ex: Throwable =>
            System.err.println(s"[bench] ${e.name} failed: ${ex.getMessage}")
            -1.0
        }
        for (a <- ticks0; b <- readTicks() if b.total > a.total)
          ticksByQuery(e.name) = b.minus(a)
        t
      }
      // streaming runs use a fresh checkpoint each time (re-runs must
      // re-pay the ingest), so each leaves a dead provider set (32
      // RocksDB instances for the rocksdb twins) that Spark unloads
      // only on the ~60 s maintenance cycle; across a sequence the
      // registry grows and runs colliding with a maintenance pass over
      // it degrade wildly (q301 measured 7.0/7.1/14.1/31.0 s
      // back-to-back). Unload here, outside every timed region.
      if (isStreaming(e.name))
        org.apache.spark.sql.graft.StateStoreHygiene.unloadAll()
      t
    }

    // fresh-JVM child mode (see freshJvmSeconds): measure the selected
    // queries with the shared hygiene and emit ONE minimal JSON line —
    // no witness pass, no vs_prev, and no BENCH_LAST.json (which would
    // clobber the parent's record).
    if (sys.env.contains("SPARK_GRAFT_FRESH")) {
      val rs = entries.map(e =>
        e.name -> measure(e, timedRuns = timedRunsFor(e.name, 3)))
      println(rs.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("""{"fresh":{""", ",", "}}"))
      spark.stop()
      return
    }

    // the sequence, r1-shared prefix first; the early summary (the
    // timeout-survivable grading record, r13 VERDICT item 1) is
    // printed AND written to BENCH_SUMMARY.json the moment the prefix
    // completes — BEFORE inventory position r1PrefixLen + 1 runs
    val resultsBuf = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    entries.zipWithIndex.foreach { case (e, i) =>
      resultsBuf += e.name -> measure(e, timedRunsFor(e.name, 5))
      if (i + 1 == r1PrefixLen) {
        val early = r1PrefixSummaryJson(resultsBuf.toSeq, r1, sfDir,
          foreignShare(ticksByQuery.values), stealAvg(ticksByQuery.values))
        println(early)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("BENCH_SUMMARY.json"), early + "\n")
      }
    }
    val results = resultsBuf.toSeq
    // sequence-pass ticks, snapshotted before the witness pass reuses
    // measure() (which overwrites entries with isolated-run ticks)
    val seqTicks = ticksByQuery.toMap

    val qs = results
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val ok = results.collect { case (_, v) if v >= 0 => v }
    val failed = results.size - ok.size
    val (prevFile, prev) = previousQueryTimes(sfDir, entries.map(_.name).toSet)
    val vsPrev = results.collect {
      case (k, v) if v >= 0 && prev.get(k).exists(_ > 0) =>
        "\"" + k + "\":" + (math.round(1000.0 * v / prev(k)) / 1000.0)
    }.mkString("{", ",", "}")
    val prevTag = prevFile.map(f => s""","prev":"$f"""").getOrElse("")

    // ---- isolated-time witnesses --------------------------------------
    // A long in-JVM sequence can inflate individual queries (GC
    // pressure, code-cache churn, a loaded host) in ways the sequence
    // numbers alone cannot distinguish from plan regressions. Re-run
    // the slowest queries — plus anything that regressed >1.5x vs the
    // prior round — ISOLATED (same hygiene, nothing else between), and
    // record (seq, iso) pairs: a number is trustworthy iff seq/iso is
    // near 1, and a vs_prev regression that vanishes isolated is
    // sequence noise, certified by the record itself.
    val byName = results.toMap
    // selection extracted + spec-pinned (r12 VERDICT item 1): big
    // regressions and the slowest-8 are uncappable; the squeezed-out
    // fill tail is recorded, not silently dropped (r13 ADVICE low)
    val (witnessNames, witnessDropped) =
      selectWitnessesWithDropped(results, prev, r1)
    if (witnessDropped.nonEmpty) System.err.println(
      s"[bench] witness cap squeezed out: ${witnessDropped.mkString(",")}")
    val witness = witnessNames.flatMap { n =>
      entries.find(_.name == n).map { e =>
        val iso = measure(e, timedRunsFor(n, 3))
        val cc = codeCacheFrac()
        System.err.println(
          f"[bench] witness $n: seq=${byName(n)}%.3f iso=$iso%.3f code_cache=$cc%.2f")
        (n, iso, ticksByQuery.get(n).fold(0.0)(_.stealShare), cc)
      }
    }
    // fresh-JVM tiebreaker: self-contradictory witnesses (seq vs iso
    // off >FreshDisagreeRatio either way) AND every >1.5×-vs-prev
    // regression regardless of agreement — see needsFreshJvm
    val freshByName = witness
      .filter { case (n, iso, _, _) =>
        needsFreshJvm(byName(n), iso,
          prev.get(n).filter(_ > 0).map(p => byName(n) / p))
      }
      // largest vs-prev ratios first: if FreshCap ever binds, it binds
      // on the smallest flags, never the q232/q139/q215 class (r12
      // VERDICT item 1)
      .sortBy { case (n, _, _, _) =>
        -prev.get(n).filter(_ > 0).map(p => byName(n) / p).getOrElse(0.0)
      }
      .take(FreshCap)
      .map { case (n, _, _, _) =>
        val f = freshJvmSeconds(n, sfDir, cpus)
        System.err.println(f"[bench] fresh-JVM witness $n: fresh=$f%.3f")
        n -> f
      }.toMap
    val witnessJson = witness.map { case (n, iso, isoSteal, cc) =>
      witnessEntryJson(n, byName(n), iso, isoSteal, cc,
        freshByName.get(n), prev.get(n))
    }.mkString("{", ",", "}")

    def r3(x: Double): Double = math.round(x * 1000.0) / 1000.0
    val stealAvgRaw = stealAvg(seqTicks.values)
    // per-query steal fractions above 1% (plus the run-wide fraction):
    // the environmental trust signal — see readCpu()
    val stealJson = {
      val hot = seqTicks.collect {
        case (k, t) if t.stealShare >= 0.01 => s""""$k":${r3(t.stealShare)}"""
      }
      s"""{"run_avg":${r3(stealAvgRaw)}${if (hot.isEmpty) "" else hot.mkString(",", ",", "")}}"""
    }

    // loaded-host self-flag, computed BEFORE the full-record line so the
    // line itself carries it — previousQueryTimes skips flagged lines
    val foreign = foreignShare(seqTicks.values)
    val bigRegressions = results.count { case (k, v) =>
      v > 0 && prev.get(k).exists(p => p > 0 && v / p > LoadedBigRegressionRatio)
    }
    val loaded = hostLoaded(stealAvgRaw, bigRegressions, foreign)

    val line =
      s"""{"metric":"total_median_sec","value":${ok.sum},"unit":"sec","queries":$qs,""" +
        s""""sf":"$sfDir","n_queries":${results.size},"failed":$failed""" +
        s""","vs_prev":$vsPrev$prevTag,"witness":$witnessJson,"steal":$stealJson""" +
        s"""${foreignTag(foreign)},"host_loaded":$loaded}"""
    println(line)
    // file artifact in case the wrapper's stdout scrape misses the line
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_LAST.json"), line + "\n")
    // append-only history: BENCH_LAST is overwritten per run and the
    // driver's round artifact has truncated mid-JSON before (r6) — the
    // JSONL log is the durable record either can be recovered from
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_HISTORY.jsonl"), line + "\n",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)

    // ---- compact summary: the LAST stdout line -----------------------
    // The driver records only the final ~2,000 chars of stdout, and the
    // full record above is ~8 KB — every prior round's BENCH_r*.json
    // carried "parsed": null because the tail cut the record mid-JSON.
    // Print one final compact (<1,500-char) summary object so the tail
    // ALWAYS contains a complete record: totals, the vs-r1 grade, the
    // worst per-query ratios, and a verdict for every witnessed query.
    // Verdicts ("cleared" vs "confirmed") use the protocol trust order
    // fresh > min(seq, iso): a >2x-vs-r1 sequence reading whose
    // TRUSTED witness measurement lands back under 2x is sequence/host
    // noise, adjudicated in the record itself. When a fresh-JVM
    // reading exists it IS the verdict basis — r8's record labeled
    // q179 "seq_noise" off min(seq,iso) while its own fresh reading
    // (5.81 s, the highest of the three) confirmed the cost; deriving
    // from fresh makes that contradiction impossible by construction.
    // New queries (no r1 baseline) whose witness CONFIRMS the sequence
    // reading get "cost_confirmed", a distinct label from the
    // cleared-as-noise case.
    val vsR1Json = vsR1Fragment(results, r1)
    val verdicts = witness.map { case (n, iso, _, _) =>
      val v = witnessVerdict(byName(n), iso,
        freshByName.get(n).filter(_ > 0), r1.get(n), prev.get(n))
      s""""$n":"$v""""
    }.mkString("{", ",", "}")
    if (loaded) System.err.println(
      s"[bench] HOST LOADED record: steal_avg=${r3(stealAvgRaw)} " +
        s"big_regressions=$bigRegressions " +
        s"foreign_share=${foreign.fold("n/a")(r => r3(r).toString)} " +
        "— re-run on a quiet host for the canonical number")
    // names the witness cap squeezed out (r13 ADVICE low): visible in
    // the round record, so a dropped over-threshold flag is auditable
    val droppedTag =
      if (witnessDropped.isEmpty) ""
      else witnessDropped.map("\"" + _ + "\"")
        .mkString(""","witness_dropped":[""", ",", "]")
    val summary =
      s"""{"metric":"bench_summary","total":${r3(ok.sum)},"n":${results.size},""" +
        s""""failed":$failed,"sf":"$sfDir"$vsR1Json,""" +
        s""""witness_verdicts":$verdicts$droppedTag,"steal_avg":${r3(stealAvgRaw)},""" +
        s""""host_loaded":$loaded,"big_regressions":$bigRegressions""" +
        s"""${foreignTag(foreign)},"full":"BENCH_LAST.json"}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_SUMMARY.json"), summary + "\n")
    println(summary)
    spark.stop()
  }
}
