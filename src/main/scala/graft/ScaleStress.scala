package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scale-stress harness (round-7 VERDICT item 6): measure how the most
  * expensive bench queries scale with DATA SIZE, not just how fast they
  * are at sf0.1 — a hidden quadratic is invisible at one scale and
  * fatal at 100 TB; the time-vs-scale exponent makes it measurable.
  *
  * Method: stage an N× blowup of the fixture tables into scratch —
  * replica i shifts every synthetic key by i·(max+1) so join/group
  * cardinalities grow linearly like real data growth (fixed-cardinality
  * dims region/nation stay 1×, exactly the realistic star shape);
  * `documents.text` is salted with a per-replica token so EXACT-dup and
  * near-dup structure is preserved per replica rather than amplified
  * N× (an unsalted copy would hand q20/q88 an artificial N-clique per
  * document and measure clique explosion, not the operator's scaling).
  * Embedding vectors are kept verbatim: ANN/knn cost depends on row
  * count and dimension, not on vector values.
  *
  * Then each query runs at 1× and N× (same code path, same session)
  * and the record reports exponent = ln(tN/t1)/ln(N): ~1 linear, ~1.5
  * shuffle-log-ish, ~2 quadratic. One JSON line on stdout, same
  * contract style as Bench; also appended to SCALE_STRESS.json.
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_SCALE (default
  * 10; an integer in 2..26 — the exponent divides by ln(N), and the
  * letter-rotation salt has 26 replicas), SPARK_GRAFT_ONLY to subset
  * queries.
  */
object ScaleStress {

  /** The queries worth stressing: the top of BENCH_r06_full.json by
    * median seconds — these dominate total bench time and carry the
    * documented complexity caveats.
    */
  val TopQueries: Seq[String] = Seq(
    "q20_minhash_neardup",
    "q139_jaccard_join",
    "q81_ngram_decontaminate",
    "q155_jaro_winkler_block",
    "q164_er_prefix_blocked", // the q155 scale path — expect ~linear where q155 is quadratic
    "q101_top_ngrams",
    "q158_span_dedup",
    "q163_gopher_repetition",
    "q68_winnow_fingerprints",
    "q151_triangle_count",
    "q98_bm25",
    "q93_pagerank",
    // the rest of the slow list (r7 bench), plus the two documented
    // quadratic-with-gates operators — their exponents confirm the
    // documented complexity rather than assuming it
    "q149_contamination_score",
    "q160_dsir_weights",
    "q88_semantic_dedup",
    "q87_tfidf_topterms",
    "q22_embed_neardup",
    "q102_column_profile",
    // round-8 additions: the remaining bench queries >1 s (r7 VERDICT
    // item 5) — exponents must confirm their documented complexity
    "q79_bigram_familiarity",
    "q166_cluster_safe_split",
    "q99_fuzzy_join",
    "q156_sorted_neighborhood",
    "q84_neardup_graph",
    "q115_khop",
    "q170_embed_neardup_ann", // the q22 escape path — expect sub-quadratic (n^1.5 design)
    // round-8 operators that bench >1 s at sf0.1 (same invariant)
    "q173_bigram_logprob",
    "q174_source_overlap",
    "q172_er_blocking_recall",
    "q176_pq_distortion",
    "q177_er_recall_bucketed", // q172's sampled scale path — expect ≈ linear
    "q179_source_scorecard",
    "q180_cc_distributed",
    "q181_stream_decontaminate", // streaming overhead is constant; data path linear
    "q184_stream_token_counts", // same class: complete-mode stream machinery
    "q185_incremental_dedup", // index-probe dedup: probe-side work only
    "q186_filter_funnel",
    // round-9 operators expected to bench >1 s at sf0.1 (same invariant)
    "q187_incremental_fold", // probe + batch-proportional delta writes
    "q188_stream_ingest_dedup", // stream machinery constant; probes linear
    "q189_dedup_index_compaction", // compaction is O(index) by design
    "q191_incremental_ann", // probe-side work + visited lists only
    "q192_cluster_survivors", // q38 clustering + one grouped argmax
    "q193_incremental_ann_fold", // frozen quantizer; probes + list lookups
    "q194_source_dedup_rate", // q38 clustering + one rollup
    "q196_stream_ann_ingest", // stream machinery constant; probes linear
    "q190_rrf_fusion", // two k-bounded top-k retrievals + k-row join
    // round-9 widening: the two new queries benching >1 s at sf0.1
    "q206_embed_covariance", // n·d²/2 scaled-long products, d² keys — expect linear in n
    "q207_stream_sessions", // stream machinery constant; session data path linear
    "q212_stream_stream_join", // join-state commits constant; data path linear
    "q213_graph_modularity", // q20 pair machinery + |sources|-bounded rollups
    "q215_stream_user_state", // explicit-state machinery constant
    "q217_token_entropy", // one grouped count over (source, term)
    "q218_containment_pairs", // shingle-posting self-join, list-bounded
    "q222_recursive_rollup", // log-depth recursion over the user domain
    "q223_clustering_agreement", // two pair generations + CC + rollups
    "q227_stream_restart", // two stream lifetimes: machinery constant
    // round-9 session-3 widening: new queries benching >1 s at sf0.1
    "q230_line_dedup", // line frame + one freq join — expect linear
    "q235_ndcg", // q98 count frame + broadcast terms + k-heaps — linear
    "q236_pca_project", // q206 covariance pass dominates — linear in n
    "q240_robust_median_mad", // two histogram passes — linear, windows model-sized
    "q243_silhouette", // n·L·d scaled-long products, broadcast centroids — linear
    "q245_stream_late_data", // stream machinery constant; windowed data path linear
    "q247_nprobe_sweep", // 3x q169: broadcast probes x corpus — linear
    "q248_split_leakage", // one pair set + CC + three pair-frame joins
    "q249_dedup_threshold_sweep", // 3x prefix-filtered set join — q139's class
    // round-10 widening: new queries benching >1 s at sf0.1
    "q250_quality_logreg", // 3 GD passes + scoring, all map+4-scalar-agg — linear
    "q251_nb_langid", // char-bigram explode + charset²-bounded model joins — linear
    "q252_mrl_truncation", // FIXED 128-probe panel x corpus x 4 dims — linear
    "q254_tpch_q18", // lineitem partial agg + tiny broadcast probes — linear
    "q257_stream_quality_filter", // stream machinery + 3 fit passes constant-ish; scoring linear
    "q258_model_calibration", // q250's fit + one binned rollup — linear
    "q259_bbit_minhash", // 32-col MIN per doc + pair-bounded sketch compare — linear
    "q260_kcenter_coreset", // 8 rounds x (scan x <=8 broadcast vecs) — linear
    "q261_kcore", // pair frame + peel-depth-bounded degree/join rounds — q139's class
    "q262_bpe_merges", // 6 rounds over the VOCAB reduction — sublinear in corpus
    "q264_lr_sweep", // 3 trainings x (3 map-agg passes) + eval — linear
    "q265_distill", // teacher + student chains, all map+scalar-agg — linear
    "q268_cluster_medoids", // q20 pair machinery + CC + one grouped argmax
    "q269_bpe_coverage", // the q262 induction + one vocab rollup — sublinear
    "q270_index_retraction", // purge O(index) + probe-side work — q189's class
    "q271_ann_retraction", // list filter + probe-side work — q191's class
    // round-10 session-3 widening: new queries benching >1 s at sf0.1
    "q274_kneser_ney", // grouped model counts + bigram-keyed scoring join — linear
    "q275_perplexity_buckets", // q173 pass + GRID histogram cutoffs — linear
    "q276_t_closeness", // one (QI, sensitive) count + |K| fan-out — linear
    "q277_bradley_terry", // pid-keyed pairing + |sources|²-bounded MM — linear
    "q278_loo_source_value", // two grouped passes + model-sized joins — linear
    "q284_rater_reliability", // 3x-corpus rater frame + per-doc windows — linear
    "q286_mix_interpolation", // two grouped model counts + pair-keyed scoring join — linear
    "q291_risk_coverage", // q250 fit + one scoring pass x5 fan-out — linear
    "q292_ess_weights", // q250 fit + one scoring pass + source rollup — linear
    "q293_scaling_curve", // 3 nested model fits + scoring joins — linear x3
    "q294_fair_thresholds", // scoring pass + per-lang GRID cumulative — linear
    "q295_best_of_n", // histogram + per-type VALUE-GRID cumulative x4 — linear
    "q296_platt_scaling", // q250 fit + 10 Platt map-agg passes + binned rollup — linear
    "q297_temperature_sampling", // one grouped count + |sources|x|tau| constant work — linear
    "q298_quality_length_bias", // two GRID histograms + rank joins + moment rollup — linear
    // round-11 additions
    "q300_pagerank_distributed", // forced shuffle-hash rank-frame loop — iteration-bounded
    "q304_tpch_q13", // customer LEFT JOIN orders + count-of-counts — linear
    "q309_min_k_membership", // trigram explode + vocab-bounded model joins + per-doc window — linear
    "q310_late_interaction", // 8x explode x 40 broadcast probe tokens — linear
    "q312_curation_pipeline", // filter + content-hash shuffle + bounded quota window — linear
    "q313_self_bleu", // successor window + (pair, gram)-keyed clipping joins — linear
    "q314_spec_decode_accept", // trigram explode + 4 vocab-bounded joins — linear
    "q316_consistent_ring", // 288-row broadcast x per-doc argmin — linear, map-side
    "q317_dup_flow_matrix", // q20 banded pairs + source joins + cell rollup — q20's class
    "q318_dedup_ablation", // content-hash shuffle + 2 model fits + 2 scoring joins — linear
    // round-12 additions
    "q319_tpch_q2", // derived-partsupp rollup + min-cost join-back — linear
    "q320_tpch_q9", // profit rollup over lineitem ⋈ derived partsupp — linear
    "q321_tpch_q11", // value rollup + broadcast scalar threshold — linear
    "q329_maxsim_ivf", // IVF candidate lists + constant re-score per candidate — corpus-sublinear candidates
    "q331_moe_routing", // 8 codegen dots per vector + 8-key rollup — linear, map-side
    "q334_train_cartography", // q250's 3 GD passes + scoring + 2 tercile rank passes — linear
    // round-13 additions (r12 VERDICT item 8): the RocksDB streaming
    // twins (expect a constant SST floor — exponent near 0), the r12
    // graph/mixture entries, and this round's two new queries
    "q301_stream_sessions_rocksdb", // constant micro-batch machinery + RocksDB floor
    "q325_stream_token_counts_rocksdb", // complete-mode agg under RocksDB — state is lang-bounded
    "q326_stream_join_rocksdb", // stream-stream interval join buffers — heaviest state shape
    "q327_stream_user_state_rocksdb", // mapGroupsWithState encoder round-trip
    "q328_stream_dedup_expiry_rocksdb", // watermark-expiry dedup state
    "q332_expert_capacity", // two-phase rank: range partitions + P×E-bounded offset merge — linear
    "q335_label_propagation", // 3 rounds x one edge-proportional shuffle — linear per round
    "q336_lsh_multiprobe", // bucket-bounded candidate blocks + one exact baseline scan
    "q337_doremi_step", // two grouped LM fits + bigram-keyed scoring join — linear
    "q338_tpch_q4_exists", // quarter-filtered orders semi-join + 5-key rollup — linear
    "q339_maxsim_ivf_curve", // one pinned exact baseline + 3 probe-bounded sweep points
    // round-14 additions
    "q340_tpch_q12", // one derive+filter lineitem pass + orderkey equi-join + 2-group CASE rollup — linear
    "q341_stream_tws_profile", // transformWithState 2-variable state — expect the RocksDB constant floor
    "q342_stream_tws_timers", // event-time timers — per-key timer state, same constant-floor expectation
    "q343_stream_state_read", // statestore batch source — one task per state partition, state-proportional
    "q344_stream_tws_map_read", // column-family offline read — state-proportional after the stream floor
    "q345_stream_timer_read", // timer-table read — survivor-proportional (tiny) after the stream floor
    "q346_stream_state_travel", // batchId-pinned state version read — same state-proportional shape
  )

  /** Per-table key-shift rules: every synthetic surrogate key column
    * that must stay unique/consistent across replicas.
    */
  private val keyCols: Map[String, Seq[String]] = Map(
    "region" -> Seq.empty,
    "nation" -> Seq.empty,
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
  )

  /** Key DOMAIN of each shifted column: columns sharing a domain (e.g.
    * customer.c_custkey and orders.o_custkey) MUST shift by the same
    * stride, or replica i>0 foreign keys misalign — TPC-H customers
    * without orders make max(o_custkey) < max(c_custkey), and a
    * per-table stride would then shrink every stressed join's
    * cardinality at N×, skewing the measured exponent.
    */
  private val keyDomain: Map[String, String] = Map(
    "c_custkey" -> "custkey", "o_custkey" -> "custkey",
    "o_orderkey" -> "orderkey", "l_orderkey" -> "orderkey",
    "p_partkey" -> "partkey", "l_partkey" -> "partkey",
    "s_suppkey" -> "suppkey", "l_suppkey" -> "suppkey",
    "event_id" -> "event_id", "user_id" -> "user_id",
    "doc_id" -> "doc_id", "vec_id" -> "vec_id",
  )

  /** One stride per key DOMAIN: max over every column referencing the
    * domain across all tables, +1 — every replica shift in that domain
    * then uses the same offset, preserving referential alignment.
    */
  private def domainStrides(spark: SparkSession, srcDir: String): Map[String, Long] = {
    val maxes = for {
      (table, cols) <- keyCols.toSeq
      c <- cols
    } yield {
      val m = Tables.load(spark, srcDir, table)
        .agg(max(col(c)).cast("long")).head.getLong(0)
      keyDomain(c) -> m
    }
    maxes.groupMapReduce(_._1)(_._2)(math.max) map { case (d, m) => d -> (m + 1L) }
  }

  /** One replica: keys shifted by i·stride (per column, stride =
    * max+1 over the key's DOMAIN so replicas never collide and foreign
    * keys stay aligned), text re-lexed by a length-preserving
    * per-replica letter rotation.
    *
    * Why not leave text verbatim? Identical replicas hand every doc N
    * exact near-copies, so the similarity joins (q20/q139/q155)
    * measure manufactured N-clique explosion instead of input scaling
    * — the first x10 run read q139 at exponent 1.60 for exactly this
    * reason. Why not a per-token salt prefix (the v2–v4 scheme)? See
    * the documents branch below: it biased chars-linear exponents by
    * ~+0.17 and collapsed first-token blocking keys. The rotation
    * preserves the WITHIN-replica dup/similarity structure verbatim
    * (every gram count, length, and rank is unchanged) while making
    * cross-replica token sets disjoint. Brand keys stay 1x —
    * fixed-cardinality blocking under 10x data is real blocking
    * pressure the ER join must answer for, not an artifact.
    */
  /** Bijective per-replica char map: rotate a-z (and A-Z) by i. Token
    * lengths, counts, and within-replica equality are preserved
    * exactly; replica vocabularies are pairwise disjoint for i < 26.
    */
  private def rotateLetters(c: org.apache.spark.sql.Column, i: Int): org.apache.spark.sql.Column = {
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val rot = lower.drop(i % 26) + lower.take(i % 26)
    translate(c, lower + lower.toUpperCase, rot + rot.toUpperCase)
  }

  private def replica(src: DataFrame, table: String, i: Int,
      strides: Map[String, Long]): DataFrame = {
    val shifted = keyCols(table).foldLeft(src) { (df, k) =>
      df.withColumn(k, col(k) + lit(i * strides(keyDomain(k))))
    }
    if (table == "documents" && i > 0)
      // length-preserving per-replica letter rotation (v5): earlier
      // stagings salted with a per-token "r3x" prefix, which (a)
      // inflated every token and total chars ~1.5x, biasing the
      // measured exponent of any chars-linear text operator by
      // +log10(1.5)≈0.17, and (b) for p_name, a prepended SEPARATE
      // token gave every replica-i part the same first name token,
      // collapsing q164's brand×first-token block key to 25 giant
      // blocks per replica (measured on the v4 staging: 72.0M of
      // 73.0M candidate pairs came from the 9 replica heads — the
      // 2.19 exponent was the salt's artifact, not the operator's).
      // A bijective char map preserves within-replica text byte-for-
      // byte in LENGTH and structure (every dup group, gram count,
      // and rank is unchanged; n_chars stays consistent by
      // construction) while making cross-replica vocabulary disjoint
      // — a 10x corpus of NEW content, which is what growth means.
      shifted.withColumn("text", rotateLetters(col("text"), i))
    else if (table == "customer" && i > 0)
      // c_name embeds the customer key ("Customer#%09d"); left verbatim
      // the distinct-name set would NOT grow with the blowup and q99's
      // edit-distance join would measure a constant-input no-op
      // (first v4 reading: exponent -0.13). Rebuilding the name from
      // the SHIFTED key is exactly what customer growth means.
      shifted.withColumn("c_name",
        format_string("Customer#%09d", col("c_custkey")))
    else if (table == "part" && i > 0)
      // same rotation for p_name: first-token cardinality grows xN
      // with the data (what catalog growth means), block sizes stay
      // bounded, and the length-band prefilters see EXACTLY the
      // original length distribution.
      shifted.withColumn("p_name", rotateLetters(col("p_name"), i))
    else if (table == "embeddings" && i > 0)
      // per-replica deterministic sign-flip diagonal D_i: within-replica
      // cosine/dot structure is preserved EXACTLY ((D_i a)·(D_i b) =
      // a·b), cross-replica pairs decorrelate (a·D_iD_j b with a
      // pseudo-random ± pattern) — verbatim copies made every vector
      // arrive with N exact duplicates, so q22 measured manufactured
      // clique explosion (exp 1.51 before this fix), not input scaling
      shifted.withColumn("embedding",
        expr(s"transform(embedding, (x, j) -> IF(pmod(hash(j, $i), 2) = 1, -x, x))"))
    else shifted
  }

  /** Valid blowup factors: ln(1) = 0 would make the exponent ±∞/NaN,
    * and the letter-rotation salt has 26 replicas. */
  val Scales: Range = 2 to 26

  /** `SPARK_GRAFT_SCALE`, parsed and range-checked before any work. */
  def scaleSetting(raw: Option[String]): Int = {
    val n = raw.fold(Option(10))(_.trim.toIntOption)
    require(n.exists(Scales.contains), "SPARK_GRAFT_SCALE must be an integer " +
      s"in ${Scales.start}..${Scales.end}, got '${raw.getOrElse("")}'")
    n.get
  }

  def stageBlowup(spark: SparkSession, srcDir: String, n: Int): String = {
    require(Scales.contains(n),
      s"blowup factor must be in ${Scales.start}..${Scales.end}, got $n")
    val tag = srcDir.replaceAll("[^A-Za-z0-9.]", "_")
    // v3: per-token replica prefix + embedding sign-flip (see
    // replica()) — new path so an older staging is never reused
    // v4: domain-consistent strides + n_chars recompute; v5: length-
    // preserving letter-rotation salt; v6: c_name rebuilt from the
    // shifted key (see domainStrides / replica()) — new path per
    // revision so an older staging is never reused
    val dest = s"${sys.props("java.io.tmpdir")}/graft_scale/${tag}_x${n}_v6"
    sources.Staging.ensureStaged(dest) {
      val strides = domainStrides(spark, srcDir)
      keyCols.keys.toSeq.sorted.foreach { table =>
        val src = Tables.load(spark, srcDir, table)
        val out =
          if (keyCols(table).isEmpty) src // fixed-cardinality dim: 1×
          else (0 until n).map(i => replica(src, table, i, strides))
            .reduce(_ unionAll _)
        out.write.mode("overwrite").parquet(s"$dest/$table.parquet")
      }
      sources.Staging.touch(dest)
    }
    dest
  }

  def main(args: Array[String]): Unit = {
    val n = scaleSetting(sys.env.get("SPARK_GRAFT_SCALE"))
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = EngineSession.local("graft-scale-stress", cpus)
    val big = stageBlowup(spark, srcDir, n)
    System.err.println(s"[scale] staged ${n}x blowup at $big")

    val entries = SparkEntry.allEntries
      .filter(e => TopQueries.contains(e.name) && SparkEntry.envSelected(e.name))

    def timed(e: QueryEntry, dir: String, runs: Int): Double = {
      System.gc()
      val t = Reuse.isolating(spark) {
        try {
          e.run(spark, dir) // warmup (also stages derived copies)
          // streaming entries: ONE extra warmup stream — the
          // micro-batch + state-store machinery takes two executions
          // to reach steady state in a fresh JVM (measured for q301:
          // cold stream 12.8 s, second 5.8 s, steady 4-5 s at BOTH x1
          // and x10 — a single-warmup t1 read 24.5 s and manufactured
          // a wildly negative exponent, and r13's 0.747 was the same
          // artifact with the thermal gradient reversed)
          if (Bench.isStreaming(e.name)) e.run(spark, dir)
          val times = Seq.fill(runs) {
            // dead-provider unload OUTSIDE the timed window: each
            // streaming re-run loads fresh providers either way; the
            // unload only removes prior runs' dead registry entries
            // (see StateStoreHygiene)
            if (Bench.isStreaming(e.name))
              org.apache.spark.sql.graft.StateStoreHygiene.unloadAll()
            val t0 = System.nanoTime()
            e.run(spark, dir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          Bench.median(times)
        } catch {
          case ex: Throwable =>
            System.err.println(s"[scale] ${e.name} failed at $dir: ${ex.getMessage}")
            -1.0
        }
      }
      // dead state-store providers from fresh-checkpoint streaming
      // re-runs accumulate until the lazy maintenance cycle; unload
      // between measurements (see Bench.measure / StateStoreHygiene)
      if (Bench.isStreaming(e.name))
        org.apache.spark.sql.graft.StateStoreHygiene.unloadAll()
      t
    }

    val rows = entries.map { e =>
      val t1 = timed(e, srcDir, runs = 3)
      val tN = timed(e, big, runs = 1)
      val exp =
        if (t1 > 0 && tN > 0) math.log(tN / t1) / math.log(n.toDouble) else -1.0
      System.err.println(f"[scale] ${e.name}: t1=$t1%.2f tN=$tN%.2f exp=$exp%.2f")
      (e.name, t1, tN, exp)
    }

    // Merge into the existing SCALE_STRESS.json (latest reading per
    // query) instead of overwriting: the sweep is meant to run in
    // SMALL fresh-JVM batches (SPARK_GRAFT_ONLY subsets) — a single
    // 25-query × 2-scale JVM accumulates enough codegen/broadcast/GC
    // state that late queries' t1 readings inflate 5–15x over their
    // bench times, poisoning the exponent table wholesale.
    val fresh = rows.map { case (name, t1, tN, exp) =>
      name -> f""""$name":{"t1":$t1%.3f,"tn":$tN%.3f,"exponent":$exp%.3f}"""
    }.toMap
    val outPath = java.nio.file.Paths.get("SCALE_STRESS.json")
    val existing =
      if (java.nio.file.Files.exists(outPath)) {
        val s = java.nio.file.Files.readString(outPath)
        """"(q[0-9]+[a-z0-9_]*)":\{"t1":[^}]*\}""".r
          .findAllMatchIn(s).map(m => m.group(1) -> m.matched).toMap
      } else Map.empty[String, String]
    val merged = (existing ++ fresh).toSeq.sortBy(_._1).map(_._2)
    val json = merged.mkString(
      s"""{"metric":"scale_exponent","scale":$n,"sf":"$srcDir",""" +
        s""""note":"v6 blowup (letter-rotation salt, domain strides, key-derived c_name); merged latest reading per query from fresh-JVM batch runs","queries":{""",
      ",", "}}")
    println(json)
    java.nio.file.Files.writeString(outPath, json + "\n")
    spark.stop()
  }
}
