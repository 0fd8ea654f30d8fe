package graft.operators

import graft.{QueryEntry, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Weighted PageRank as a fixed-iteration distributed join-aggregate —
  * the canonical iterative graph pattern (the same shuffle shape as
  * q38's label propagation, but with floating-point mass instead of
  * min-labels). Each iteration joins the edge list against the current
  * rank vector and aggregates contributions by destination; at real
  * scale the edge list is the big distributed side and the rank vector
  * the broadcast side, so one iteration costs one broadcast + one
  * map-side-combined aggregation — no global sort, no driver state.
  *
  * Oracle-parity design: every PER-ROW step is IEEE double arithmetic
  * (deterministic in any engine); every AGGREGATION is an exact
  * DECIMAL(38,18) sum over double-cast contributions, so iteration
  * results are bit-identical regardless of shuffle order — the same
  * decimal-for-aggregation/double-for-scalars split as q90. Dangling
  * mass is NOT redistributed (documented choice: ranks then sum to <1,
  * but the per-node computation stays a pure function of the graph).
  */
object PageRank {

  val Damping = 0.85
  val Iters = 10
  /** 25 TPC-H nations at every scale factor (asserted at run time). */
  val N = 25
  private val Base = (1.0 - Damping) / N // exact same double in the SQL literal
  private val Init = 1.0 / N

  /** Above this node count the per-iteration rank frame stops being
    * broadcast (a billion-node rank vector would OOM executors) and
    * the edge⨝rank join falls back to Catalyst's shuffle strategies.
    */
  val BroadcastNodeLimit = 5000000L

  /** Up to this node count the rank vector is model-sized state carried
    * on the DRIVER between iterations (the IVF-centroid pattern): each
    * iteration is then ONE distributed job — edge scan, map-literal
    * rank lookup, map-side-combined aggregation — with no checkpoint
    * write and no broadcast build per step. Past it, the distributed
    * loop pins the rank frame each iteration instead.
    */
  val LiteralCarryLimit = 1L << 20

  /** Trade edges: customer nation → supplier nation, weighted by
    * revenue. Dimension sides broadcast; the one shuffle is
    * lineitem⨝orders on l_orderkey, then a map-side-combined rollup to
    * ≤ N² edge rows.
    */
  def tradeEdges(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val w = sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(1) - col("l_discount").cast(DecimalType(18, 2)))).as("w")
    t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.supplier), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(w)
      .withColumn("frac", col("w").cast(DoubleType) /
        sum("w").over(Window.partitionBy("src")).cast(DoubleType))
      .select("src", "dst", "frac")
  }

  /** `iters` synchronous iterations over (src, dst, frac) edges and a
    * (node) vertex frame. Init and teleport base derive from the
    * PASSED graph's node count (counted once), not a fixed constant —
    * the operator is correct for any graph size. In both paths the
    * edge frame is pinned eagerly so no iteration recomputes its
    * upstream joins; the rank-vector representation is what switches
    * with graph size ([[LiteralCarryLimit]]): driver-carried literals
    * below it, a per-iteration-pinned distributed frame above.
    */
  def pageRank(edges: DataFrame, nodes: DataFrame, damping: Double,
      iters: Int): DataFrame = {
    val nodeCount = nodes.count()
    require(nodeCount > 0, "pageRank needs a non-empty vertex frame")
    if (nodeCount <= LiteralCarryLimit) literalLoop(edges, nodes, damping, iters, nodeCount)
    else distributedLoop(edges, nodes, damping, iters, nodeCount)
  }

  /** Model-sized-GRAPH path: ranks live on the driver. Two regimes by
    * EDGE count (probed after pinning the rollup once):
    *
    *  - edges also model-sized (the N² nation grid here): the whole
    *    iteration is driver math over the collected rollup — the
    *    distributed work was building the rollup from the fact tables,
    *    and burning one Spark job per iteration on ≤2²⁰ rows buys
    *    nothing. The arithmetic replays Spark's exactly: each
    *    contribution is `BigDecimal.valueOf(pr·frac).setScale(18,
    *    HALF_UP)` (= CAST(double AS DECIMAL(38,18))), summed exactly,
    *    `doubleValue` at the end (= CAST(decimal AS DOUBLE)) — so the
    *    decimal-sum order-independence and the per-node
    *    `base + d·in_sum` doubles are bit-identical to the plans below.
    *  - edges large: per iteration the executors see the ranks as one
    *    map LITERAL (src → pr lookup, no join build) and aggregate
    *    contributions by dst over the checkpointed edge frame — one
    *    shuffle per iteration, ≤ nodeCount rows shipped back. An edge
    *    whose src is outside `nodes` looks up NULL and drops out of the
    *    decimal sum — the inner-join semantics of the distributed path.
    */
  private[graft] def literalLoop(edges: DataFrame, nodes: DataFrame, damping: Double,
      iters: Int, nodeCount: Long,
      edgeLocalLimit: Long = LiteralCarryLimit): DataFrame = {
    val spark = edges.sparkSession
    val e = edges.localCheckpoint(true)
    val base = (1.0 - damping) / nodeCount
    val nodeType = nodes.schema("node").dataType
    // model-sized: ≤n_nodes rows — the rank-vector key set (call sites
    // are nation-scale graphs or size-gated)
    val ids = nodes.select(col("node").cast(LongType))
      .collect().map(_.getLong(0)).toSeq
    var pr: Map[Long, Double] = ids.map(_ -> 1.0 / nodeCount).toMap
    if (e.count() <= edgeLocalLimit) {
      // model-sized: ≤edgeLocalLimit rows — size-gated by the branch above
      val eArr = e.select(col("src").cast(LongType), col("dst").cast(LongType),
        col("frac").cast(DoubleType)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      for (_ <- 1 to iters) {
        val sums = collection.mutable.HashMap.empty[Long, java.math.BigDecimal]
        eArr.foreach { case (s, d, f) =>
          pr.get(s).foreach { p =>
            val c = java.math.BigDecimal.valueOf(p * f)
              .setScale(18, java.math.RoundingMode.HALF_UP)
            sums.update(d, sums.getOrElse(d, java.math.BigDecimal.ZERO).add(c))
          }
        }
        pr = ids.map(j =>
          j -> (base + damping * sums.get(j).map(_.doubleValue).getOrElse(0.0))).toMap
      }
    } else {
      for (_ <- 1 to iters) {
        val rmap = typedlit(pr)
        val sums = e
          .select(col("dst").cast(LongType).as("dst"),
            (element_at(rmap, col("src").cast(LongType)) * col("frac"))
              .cast(DecimalType(38, 18)).as("c"))
          .groupBy("dst")
          .agg(sum("c").cast(DoubleType).as("in_sum"))
          // model-sized: ≤n_nodes rows — one in-sum per node
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        pr = ids.map(j => j -> (base + damping * sums.getOrElse(j, 0.0))).toMap
      }
    }
    import spark.implicits._
    ids.map(j => (j, pr(j))).toDF("node", "pr")
      .select(col("node").cast(nodeType), col("pr"))
  }

  /** Large-graph path: the rank FRAME is pinned every iteration —
    * without that, iteration k's action drags a k-deep stacked
    * join+agg lineage through the optimizer and re-executes it from
    * scratch (the classic iterative-lineage blowup). The previous
    * vector is pinned at the top of each step, so the returned frame
    * stays a lazy single join+agg — inspectable by callers. Ranks
    * broadcast while the graph is under [[BroadcastNodeLimit]] nodes;
    * past that the join shuffles both sides.
    */
  private[graft] def distributedLoop(edges: DataFrame, nodes: DataFrame,
      damping: Double, iters: Int, nodeCount: Long,
      forceShuffle: Boolean = false): DataFrame = {
    val e = edges.localCheckpoint(true)
    val base = (1.0 - damping) / nodeCount
    val small = !forceShuffle && nodeCount <= BroadcastNodeLimit
    // forceShuffle (q300's certification mode, the q180 forced-CC
    // precedent): SHUFFLE_HASH hints pin BOTH joins to the
    // shuffle-both-sides regime a billion-node graph would run —
    // without them Catalyst would auto-broadcast the tiny fixture
    // frames and the "distributed" run would certify nothing.
    def rankHint(df: DataFrame) = if (forceShuffle) df.hint("shuffle_hash") else df
    var ranks = nodes.select(col("node"), lit(1.0 / nodeCount).as("pr"))
    for (_ <- 1 to iters) {
      val pinned = ranks.localCheckpoint(true)
      val rankSide = if (small) broadcast(pinned) else rankHint(pinned)
      val contrib = e.join(rankSide, col("src") === col("node"))
        .select(col("dst"), (col("pr") * col("frac")).cast(DecimalType(38, 18)).as("c"))
        .groupBy("dst")
        .agg(sum("c").cast(DoubleType).as("in_sum"))
      ranks = nodes.join(rankHint(contrib), nodes("node") === contrib("dst"), "left")
        .select(col("node"),
          (lit(base) + lit(damping) * coalesce(col("in_sum"), lit(0.0))).as("pr"))
    }
    ranks
  }

  /** One unrolled oracle iteration (DuckDB): LEFT JOIN keeps in-edge-
    * less nodes at the base rank; the contribution sum is the same
    * DECIMAL(38,18)-over-double-products as the Spark side.
    */
  private def iterSql(k: Int): String =
    s"""r$k AS (
       |  SELECT n.node,
       |         CAST($Base AS DOUBLE) + CAST($Damping AS DOUBLE) *
       |           COALESCE(CAST(SUM(CAST(r.pr * e.frac AS DECIMAL(38,18))) AS DOUBLE),
       |                    CAST(0.0 AS DOUBLE)) AS pr
       |  FROM nodes n
       |  LEFT JOIN edges e ON e.dst = n.node
       |  LEFT JOIN r${k - 1} r ON r.node = e.src
       |  GROUP BY n.node
       |)""".stripMargin

  /** The q93 oracle: 10 unrolled PageRank iterations over the nation
    * trade graph, rank-for-rank to 12 decimals. Shared VERBATIM by
    * q300's forced-distributed twin — one computation, two engine
    * regimes, the same hash gate.
    */
  private def pagerankOracleSql: String =
    s"""WITH raw AS (
       |  SELECT c_nationkey AS src, s_nationkey AS dst,
       |         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
       |             * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS w
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  GROUP BY 1, 2
       |), edges AS (
       |  SELECT src, dst,
       |         CAST(w AS DOUBLE) / CAST(SUM(w) OVER (PARTITION BY src) AS DOUBLE)
       |           AS frac
       |  FROM raw
       |), nodes AS (
       |  SELECT n_nationkey AS node FROM nation
       |), r0 AS (
       |  SELECT node, CAST($Init AS DOUBLE) AS pr FROM nodes
       |),
       |${(1 to Iters).map(iterSql).mkString(",\n")}
       |SELECT node, ROUND(pr, 12) AS pr
       |FROM r$Iters ORDER BY pr DESC, node""".stripMargin

  /** Minimum trade-flow share that keeps an edge in the q115 BFS graph
    * — the dense N² nation grid sparsified to its dominant-partner
    * edges so hop distances are non-trivial.
    */
  val HopEdgeMinFrac = 0.05
  val HopIters = 4

  /** K-hop BFS: minimum hop distance from `source` along `edges`
    * (src, dst), up to `iters` hops — the other canonical iterative
    * graph pattern next to PageRank's mass propagation (min-label
    * instead of sum-of-mass, the q38 connected-components shape with a
    * counter).
    *
    * Scale shape: per iteration ONE equi-join of the pinned frontier
    * against the pinned edge list and a map-side-combined MIN — no
    * driver state beyond the loop counter. The distance frame is
    * `localCheckpoint`ed each step (the q93 lesson: an unpinned
    * iterative lineage re-executes k-deep plans), and only NEW nodes
    * join the next frontier, so work per step is proportional to the
    * frontier, not the visited set.
    */
  def kHop(edges: DataFrame, source: Long, iters: Int,
      edgeLocalLimit: Long = LiteralCarryLimit): DataFrame = {
    val e = edges.select(col("src").cast(LongType).as("src"),
      col("dst").cast(LongType).as("dst")).localCheckpoint(true)
    // Model-sized graph (≤ edgeLocalLimit edges): BFS is driver math
    // over the collected adjacency — burning one Spark job per hop on
    // a ≤2²⁰-row frame buys nothing (the q93 literal-carry argument;
    // the distributed loop below is the >limit path).
    if (e.count() <= edgeLocalLimit) {
      // model-sized: ≤edgeLocalLimit rows — size-gated by the branch above
      val adj = e.collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (s, a) => s -> a.map(_._2) }
      val dist = collection.mutable.Map(source -> 0)
      var frontier = Seq(source)
      for (k <- 1 to iters) {
        frontier = frontier.flatMap(n => adj.getOrElse(n, Array.empty[Long]))
          .distinct.filterNot(dist.contains)
        frontier.foreach(n => dist(n) = k)
      }
      import e.sparkSession.implicits._
      dist.toSeq.toDF("node", "hops")
    } else {
      var dist = e.sparkSession.range(1)
        .select(lit(source).as("node"), lit(0).as("hops")).localCheckpoint(true)
      var frontier = dist
      for (k <- 1 to iters) {
        val next = frontier.join(e, col("node") === col("src"))
          .select(col("dst").as("node"), lit(k).as("hops"))
          .groupBy("node").agg(min("hops").as("hops"))
        val grown = dist.unionByName(next)
          .groupBy("node").agg(min("hops").as("hops"))
          .localCheckpoint(true)
        frontier = grown.join(dist.select(col("node").as("seen")),
          col("node") === col("seen"), "left_anti")
        dist = grown
      }
      dist
    }
  }

  /** Triangle census of an undirected graph via DEGREE ORIENTATION
    * (Schank's node-iterator++): orient every edge toward the
    * lexicographically larger (degree, id) endpoint, enumerate wedges
    * only at each edge's smaller endpoint, close them with one more
    * equi-join. Out-degree under this orientation is O(√m), so wedge
    * candidates are O(m^1.5) worst case instead of Σd² — the property
    * that makes the count feasible on power-law graphs where the
    * naive wedge join explodes at the hubs. No window, no global
    * rank: the orientation key is the composite (degree, id) compared
    * lexicographically, so it never needs a global sort.
    *
    * Output is one row: vertices, edges, triangles, wedges
    * (Σ d(d−1)/2, integer-exact via `div`), and the global clustering
    * coefficient 3·T / W (the only double, one division, ROUND(,6)).
    *
    * Input contract: a directed (src, dst, frac) edge frame
    * ([[tradeEdges]] shape); edges with frac ≤ minFrac and self-loops
    * are dropped, direction and multiplicity collapse away.
    */
  def triangleStats(edges: DataFrame, minFrac: Double): DataFrame = {
    val und = edges
      .filter(col("frac") > minFrac && col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val deg = und.select(col("a").as("v")).unionAll(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val j = und
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
    val aFirst = (col("da") < col("db")) ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = j.select(
      when(aFirst, col("a")).otherwise(col("b")).as("lo"),
      when(aFirst, col("b")).otherwise(col("a")).as("hi"),
      when(aFirst, col("db")).otherwise(col("da")).as("dhi"))
    val wedges = oriented.select(col("lo"), col("hi").as("v"), col("dhi").as("dv"))
      .join(oriented.select(col("lo"), col("hi").as("w"), col("dhi").as("dw")), Seq("lo"))
      .filter(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
    val closed = wedges
      .join(oriented.select(col("lo").as("v"), col("hi").as("w")), Seq("v", "w"))
    val vs = deg.agg(count(lit(1)).as("n_vertices"),
      coalesce(sum(expr("d * (d - 1) div 2")), lit(0L)).as("n_wedges"))
    val es = und.agg(count(lit(1)).as("n_edges"))
    val ts = closed.agg(count(lit(1)).as("n_triangles"))
    vs.crossJoin(es).crossJoin(ts)
      .select(col("n_vertices"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") === 0L, lit(0.0))
          .otherwise(round(lit(3.0) * col("n_triangles").cast(DoubleType) /
            col("n_wedges").cast(DoubleType), 6))
          .as("global_clustering"))
  }

  /** k-core report over an undirected pair frame: degree-peel rounds
    * to fixpoint, failing loud if convergence needs more than
    * `maxRounds` rounds (= the oracle's unroll depth; the k-core is
    * unique, so converged ⇒ both engines hold the same set). Each
    * round: one grouped degree count + two key joins on the
    * surviving-node frame.
    *
    * Lineage discipline: round r's edge frame references round r−1's
    * THREE times (the degree count plus both semi-join sides), so a
    * persist-only loop grows the logical plan ~3^r — at 10 rounds that
    * is a ~60k-node tree whose mere stringification (Spark renders the
    * plan of every InMemoryRelation it caches) pinned a driver for
    * minutes. Each round therefore ends in an EAGER `localCheckpoint`,
    * which cuts the plan back to a flat scan-of-materialized-RDD:
    * per-round plan cost is O(1) in r. `surv` is a shallow derivation
    * of the checkpointed frame, so a plain persist is safe there. On a
    * cluster the same call materializes to executor-local storage;
    * rounds are bounded by peel depth, never corpus size.
    */
  def kcoreReport(edges0: DataFrame, ks: Seq[Int], maxRounds: Int): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    val MemOnly = org.apache.spark.storage.StorageLevel.MEMORY_ONLY
    // The report is a driver-built |ks|-row frame with NO lineage on
    // the loop's checkpointed intermediates, so every block this call
    // pins is freed before returning (Reuse.releasingNew) — without
    // this, repeated bench runs accumulate per-round checkpoint RDDs
    // until a 128 GiB heap finally GCs, and the pile-up inflated the
    // first x10 reading 3x over its lone-JVM cost.
    graft.Reuse.releasingNew(spark) {
      // Two exact shortcuts vs the oracle's full 10-level unroll (both
      // legal because the k-core is UNIQUE): (1) early exit — each round
      // only removes edges, so an unchanged edge COUNT means an
      // unchanged edge SET and every later peel level is a no-op;
      // (2) ascending-k seeding — the k-core of G equals the k-core of
      // any k′-core for k′ ≤ k, so k=3 peels the (much smaller)
      // converged 2-core, not the raw pair frame.
      var seed = edges0.localCheckpoint(true, MemOnly)
      var seedEdges = seed.count()
      val out = ks.sorted.map { k =>
        var edges = seed
        var nNodes = 0L
        var nEdges = seedEdges
        var converged = false
        var r = 1
        while (r <= maxRounds && !converged) {
          val surv = graft.TransientCaches.register(
            edges.select(col("doc_a").as("v"))
              .union(edges.select(col("doc_b").as("v")))
              .groupBy("v").agg(count(lit(1)).as("d"))
              .filter(col("d") >= k).select("v")
              .persist(MemOnly))
          val next = edges.join(surv.select(col("v").as("doc_a")), "doc_a")
            .join(surv.select(col("v").as("doc_b")), "doc_b")
            .select("doc_a", "doc_b")
            .localCheckpoint(true, MemOnly)
          val ne = next.count()
          if (ne == nEdges) { converged = true; nNodes = surv.count() }
          nEdges = ne
          surv.unpersist()
          edges = next // prior round's checkpointed RDD becomes
          // unreachable here; the ContextCleaner reclaims its blocks
          r += 1
        }
        require(converged,
          s"k-core(k=$k) did not converge within $maxRounds peel rounds — " +
            "raise the round count in BOTH the engine and the oracle")
        seed = edges
        seedEdges = nEdges
        (k, nNodes, nEdges)
      }
      out.toDF("k", "n_core_nodes", "n_core_edges")
    }
  }

  val LpaIters = 3

  val entries: Seq[QueryEntry] = Seq(
    // PageRank over the nation trade graph, 10 iterations; the oracle
    // unrolls the iterations as chained CTEs and must match rank-for-
    // rank to 12 decimals.
    QueryEntry.sql(
      "q93_pagerank",
      pagerankOracleSql,
    ) { (s, dir) =>
      val nodes = Tables(s, dir).nation.select(col("n_nationkey").as("node"))
      require(nodes.count() == N, s"expected $N nations")
      pageRank(tradeEdges(s, dir), nodes, Damping, Iters)
        .select(col("node"), round(col("pr"), 12).as("pr"))
        .orderBy(col("pr").desc, col("node"))
    },

    // K-hop reachability from nation 0 over the dominant-partner trade
    // graph (edges with flow share > HopEdgeMinFrac); the oracle walks
    // the same graph with a recursive CTE and must agree on every
    // node's minimum hop count.
    QueryEntry.sql(
      "q115_khop",
      s"""WITH RECURSIVE raw AS (
         |  SELECT c_nationkey AS src, s_nationkey AS dst,
         |         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
         |             * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS w
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  GROUP BY 1, 2
         |), edges AS (
         |  SELECT src, dst,
         |         CAST(w AS DOUBLE) / CAST(SUM(w) OVER (PARTITION BY src) AS DOUBLE)
         |           AS frac
         |  FROM raw
         |), e AS (SELECT src, dst FROM edges WHERE frac > $HopEdgeMinFrac),
         |hops(node, d) AS (
         |  SELECT CAST(0 AS BIGINT), 0
         |  UNION ALL
         |  SELECT e.dst, h.d + 1 FROM hops h JOIN e ON e.src = h.node
         |  WHERE h.d < $HopIters
         |)
         |SELECT node, CAST(MIN(d) AS INTEGER) AS hops
         |FROM hops GROUP BY 1 ORDER BY 1""".stripMargin,
    ) { (s, dir) =>
      kHop(tradeEdges(s, dir).filter(col("frac") > HopEdgeMinFrac),
        source = 0L, iters = HopIters).orderBy("node")
    },

    // q151 — triangle census of the thinned undirected trade graph
    // (frac > HopEdgeMinFrac, the q115 thinning). The oracle replays
    // the degree orientation relationally; the engine-side wedge join
    // is the O(m^1.5) Schank formulation, not the Σd² hub explosion.
    QueryEntry.sql(
      "q151_triangle_count",
      s"""WITH raw AS (
         |  SELECT c_nationkey AS src, s_nationkey AS dst,
         |         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
         |             * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS w
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  GROUP BY 1, 2
         |), edges AS (
         |  SELECT src, dst,
         |         CAST(w AS DOUBLE) / CAST(SUM(w) OVER (PARTITION BY src) AS DOUBLE)
         |           AS frac
         |  FROM raw
         |), e0 AS (
         |  SELECT src, dst FROM edges WHERE frac > $HopEdgeMinFrac AND src <> dst
         |), und AS (
         |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM e0
         |), deg AS (
         |  SELECT v, COUNT(*) AS d
         |  FROM (SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und) GROUP BY v
         |), o AS (
         |  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
         |              THEN u.a ELSE u.b END AS lo,
         |         CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
         |              THEN u.b ELSE u.a END AS hi,
         |         CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
         |              THEN db.d ELSE da.d END AS dhi
         |  FROM und u JOIN deg da ON u.a = da.v JOIN deg db ON u.b = db.v
         |), wedge AS (
         |  SELECT o1.hi AS v, o2.hi AS w
         |  FROM o o1 JOIN o o2 ON o1.lo = o2.lo
         |  WHERE o1.dhi < o2.dhi OR (o1.dhi = o2.dhi AND o1.hi < o2.hi)
         |), tri AS (
         |  SELECT COUNT(*) AS t FROM wedge JOIN o ON wedge.v = o.lo AND wedge.w = o.hi
         |)
         |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_vertices,
         |       (SELECT CAST(COUNT(*) AS BIGINT) FROM und) AS n_edges,
         |       (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
         |       (SELECT CAST(t AS BIGINT) FROM tri) AS n_triangles,
         |       ROUND(3.0 * (SELECT CAST(t AS DOUBLE) FROM tri)
         |             / (SELECT CAST(SUM(d * (d - 1) // 2) AS DOUBLE) FROM deg), 6)
         |         AS global_clustering""".stripMargin,
    ) { (s, dir) =>
      triangleStats(tradeEdges(s, dir), HopEdgeMinFrac)
    },

    // q261 — k-core decomposition of the near-dup graph (τ ≥ 1/2
    // pairs): the density backbone connected components can't see — a
    // CC merges a template farm with every doc that brushes it, the
    // k-core keeps only nodes with ≥ k surviving neighbors (the
    // mutually-duplicating cluster itself). The k-core is UNIQUE
    // (peel order can't change it), so the engine's loop-to-fixpoint
    // and the oracle's 10 unrolled peel levels land on the same set;
    // the engine FAILS LOUD if convergence needs more rounds than the
    // oracle unrolls (never silently diverges). Per k ∈ {2, 3}:
    // surviving nodes and induced edges.
    // Scale shape: per round one degree count over the (already
    // pair-bounded) edge frame + two semi-joins — no node ever sees
    // more than its neighborhood, and rounds are bounded by the peel
    // depth, not the corpus.
    QueryEntry.sql(
      "q261_kcore",
      {
        val rounds = 10
        // Each k's unroll is SEEDED the same ascending-k way the engine
        // loop is (k=3 peels from the converged 2-core e2_10, not the raw
        // pair frame), so the engine's fail-loud "converged within
        // maxRounds" guard bounds EXACTLY the computation the oracle
        // unrolls — a raw-start k=3 peel could need more than 10 levels
        // even when both seeded loops converge, and the oracle would have
        // silently emitted a not-yet-converged core.
        def levels(k: Int, seed: String): String = (1 to rounds).map { r =>
          val prev = if (r == 1) seed else s"e${k}_${r - 1}"
          // every level MATERIALIZED: d is referenced twice and e by
          // the next level twice more — inlined CTEs would re-expand
          // the whole upstream chain per reference (exponential; the
          // q228 lesson)
          s"""d${k}_$r AS MATERIALIZED (
             |  SELECT v, COUNT(*) AS d FROM (
             |    SELECT doc_a AS v FROM $prev
             |    UNION ALL SELECT doc_b FROM $prev) t
             |  GROUP BY v HAVING COUNT(*) >= $k
             |), e${k}_$r AS MATERIALIZED (
             |  SELECT doc_a, doc_b FROM $prev
             |  WHERE doc_a IN (SELECT v FROM d${k}_$r)
             |    AND doc_b IN (SELECT v FROM d${k}_$r)
             |)""".stripMargin
        }.mkString(",\n")
        val outs = Seq(2, 3).map { k =>
          s"""SELECT $k AS k,
             |       (SELECT CAST(COUNT(*) AS BIGINT) FROM d${k}_$rounds)
             |         AS n_core_nodes,
             |       (SELECT CAST(COUNT(*) AS BIGINT) FROM e${k}_$rounds)
             |         AS n_core_edges""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH ${graft.operators.Dedup.shCteSql},
           |${graft.operators.Dedup.invertedPairsSql(1, 2)},
           |edges AS MATERIALIZED (SELECT doc_a, doc_b FROM pairs),
           |${levels(2, "edges")},
           |${levels(3, s"e2_$rounds")}
           |$outs
           |ORDER BY k""".stripMargin
      },
    ) { (s, dir) =>
      // staged pair set (r11 VERDICT item 2): the entry's own work is
      // the peel; the τ ≥ 1/2 edge list is built once per fixture
      kcoreReport(SetJoin.jaccardPairsStaged(s, dir, num = 1, den = 2)
        .select("doc_a", "doc_b"), ks = Seq(2, 3), maxRounds = 10)
    },

    // q300 — PageRank, FORCED-DISTRIBUTED regime (the q180 precedent
    // applied to iterative mass propagation): the same trade graph and
    // the same 10 iterations as q93, but executed through the
    // rank-FRAME path a billion-node graph would run — per-iteration
    // localCheckpoint-pinned rank frame, SHUFFLE_HASH-hinted joins so
    // Catalyst cannot auto-broadcast the tiny fixture sides, decimal
    // contribution sums shuffled by dst. The literal-carry fast path
    // is spec-proven equal; this puts the distributed loop itself
    // under the house DuckDB gate. Oracle: VERBATIM the q93 SQL.
    QueryEntry.sql(
      "q300_pagerank_distributed",
      pagerankOracleSql,
    ) { (s, dir) =>
      val nodes = Tables(s, dir).nation.select(col("n_nationkey").as("node"))
      val nc = nodes.count() // model-sized: 25 nations
      require(nc == N, s"expected $N nations")
      distributedLoop(tradeEdges(s, dir), nodes, Damping, Iters, nc,
        forceShuffle = true)
        .select(col("node"), round(col("pr"), 12).as("pr"))
        .orderBy(col("pr").desc, col("node"))
    },

    // q335 — synchronous LABEL PROPAGATION (community detection,
    // Raghavan et al. 2007) over the thinned trade graph: every node
    // starts as its own label; each round it adopts the MOST FREQUENT
    // label among its undirected neighbors (ties → smallest label;
    // isolated nodes keep their own). Majority algebra where q180's
    // connected components is lattice-MIN and q93 is sum-of-mass — the
    // third iterative-graph reduction, and the one a dedup pipeline
    // uses to split a near-dup supergraph into dense communities that
    // CC would merge. LpaIters synchronous rounds, each: one
    // edge⋈label equi-join, one (node, label) grouped count, one
    // per-node exact argmax (min over (−count, label) structs — the
    // q202 packed-argmin rule), the label frame localCheckpoint-pinned
    // per round (the q93 lineage lesson). Per-round cost is one
    // edge-proportional shuffle — the billion-edge regime's shape.
    // Oracle: LpaIters unrolled CTE rounds with ROW_NUMBER argmax.
    QueryEntry.sql(
      "q335_label_propagation", {
        def iter(k: Int): String =
          s"""lp$k AS (
             |  SELECT n.node, COALESCE(b.label, n.label) AS label
             |  FROM lp${k - 1} n LEFT JOIN (
             |    SELECT a AS node, label FROM (
             |      SELECT u.a, l.label, COUNT(*) AS c,
             |             ROW_NUMBER() OVER (PARTITION BY u.a
             |               ORDER BY COUNT(*) DESC, l.label) AS rk
             |      FROM und u JOIN lp${k - 1} l ON l.node = u.b
             |      GROUP BY u.a, l.label) t
             |    WHERE rk = 1
             |  ) b ON b.node = n.node
             |)""".stripMargin
        s"""WITH raw AS (
           |  SELECT c_nationkey AS src, s_nationkey AS dst,
           |         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
           |             * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS w
           |  FROM lineitem
           |  JOIN orders ON l_orderkey = o_orderkey
           |  JOIN customer ON o_custkey = c_custkey
           |  JOIN supplier ON l_suppkey = s_suppkey
           |  GROUP BY 1, 2
           |), edges AS (
           |  SELECT src, dst,
           |         CAST(w AS DOUBLE) / CAST(SUM(w) OVER (PARTITION BY src)
           |                                  AS DOUBLE) AS frac
           |  FROM raw
           |), e0 AS (
           |  SELECT src, dst FROM edges
           |  WHERE frac > $HopEdgeMinFrac AND src <> dst
           |), und AS (
           |  SELECT DISTINCT a, b FROM (
           |    SELECT src AS a, dst AS b FROM e0
           |    UNION ALL SELECT dst, src FROM e0)
           |), lp0 AS (
           |  SELECT n_nationkey AS node, n_nationkey AS label FROM nation
           |),
           |${(1 to LpaIters).map(iter).mkString(",\n")}
           |SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS label
           |FROM lp$LpaIters ORDER BY node""".stripMargin
      },
    ) { (s, dir) =>
      val nodes = Tables(s, dir).nation.select(col("n_nationkey").as("node"))
      labelPropagation(
        tradeEdges(s, dir).filter(col("frac") > HopEdgeMinFrac),
        nodes, LpaIters)
        .select(col("node").cast(LongType).as("node"),
          col("label").cast(LongType).as("label"))
        .orderBy("node")
    },
  )

  /** Synchronous label propagation over (src, dst) edges — see the
    * q335 entry for the algebra and scale shape.
    */
  def labelPropagation(edges: DataFrame, nodes: DataFrame,
      iters: Int, pinEvery: Int = 4): DataFrame = {
    val dir0 = edges.filter(col("src") =!= col("dst"))
    val und = dir0.select(col("src").as("a"), col("dst").as("b"))
      .unionAll(dir0.select(col("dst").as("a"), col("src").as("b")))
      .distinct()
      .localCheckpoint(true) // pinned once; reused every round
    var lab = nodes.select(col("node"), col("node").as("label"))
    // few shallow rounds ⇒ ONE lazy plan, no per-round pin: the q93
    // lineage lesson is about deep loops re-planning exponentially;
    // at LpaIters = 3 the chained plan is 3 joins deep and runs as a
    // single job, saving 2 eager-materialization jobs per round.
    // pinEvery = 4 (parameterized, r12 ADVICE): the first pin lands at
    // round 4 — exactly where the shallow-loop regime ends — so every
    // deeper caller gets lineage pinning at most 4 joins deep rather
    // than the old pinEvery = 8's unpinned 4–7-iteration gap.
    for (k <- 1 to iters) {
      val best = und
        .join(lab.select(col("node").as("b"), col("label")), "b")
        .groupBy(col("a").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy("node")
        .agg(min(struct((-col("c")).as("nc"), col("label").as("l"))).as("m"))
        .select(col("node"), col("m.l").as("nl"))
      lab = lab
        .join(best, Seq("node"), "left")
        .select(col("node"), coalesce(col("nl"), col("label")).as("label"))
      if (k % pinEvery == 0) lab = lab.localCheckpoint(true)
    }
    lab
  }
}
