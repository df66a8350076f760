package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession.persistForReuse

/** Distributed graph analytics over edge DataFrames — the link-graph verbs a
  * web-corpus pipeline runs (page quality via PageRank, community density via
  * triangles, co-occurrence graph construction).
  *
  * Design for scale:
  *   - Edges stay a DataFrame keyed by `src`/`dst`; every round of every
  *     algorithm is an equi-join + partial aggregation on those keys, so
  *     Catalyst shuffles on the join key once per round and map-side combines
  *     contributions. No adjacency lists are ever collected to the driver.
  *   - PageRank runs in SCALED INTEGER arithmetic (rank units of 1e-6):
  *     floating-point summation order varies across partitionings, so a
  *     double-based rank is not reproducible cluster-to-cluster — integer
  *     ranks make every iteration exactly associative and the result
  *     bit-stable at any parallelism (and lets the DuckDB oracle unroll the
  *     same iterations and hash-match).
  *   - Triangle counting joins the canonical (u<v) edge list to itself twice;
  *     the classic degree-ordering trick (direct each edge low-degree →
  *     high-degree) bounds the path fan-out at Σ deg(v)·min(deg) — apply
  *     [[coOccurrenceEdges]]' weight threshold first so the graph entering
  *     the join is the sparse backbone, not the raw co-occurrence blow-up.
  */
object Graph {

  /** Scaled-integer PageRank: damping 0.85 = 17/20 in exact integer math.
    *
    * rank_0(v) = `scale`;
    * rank_{t+1}(v) = 0.15·scale + (17·Σ_{u→v} rank_t(u) div outdeg(u)) div 20.
    *
    * Dangling mass (sink nodes) is dropped, not redistributed — standard for
    * link-quality scoring and keeps each iteration one join + one aggregate.
    * Each iteration shuffles edges on `src` (rank join) then `dst`
    * (contribution sum); the edge DataFrame is reused unchanged so its scan
    * and the degree aggregate are computed once by Spark's shuffle reuse.
    *
    * Returns (node, pr) with pr still in `scale` units.
    */
  def pageRankInt(edges: DataFrame, iterations: Int,
      scale: Long = 1000000L, truncateEvery: Int = 0): DataFrame = {
    // The edge list is scanned ~2 + iterations times (node set, degrees,
    // one rank join per round) — persist it once; same for the derived
    // nodes/deg, each a shuffle output consumed every round.
    val e = persistForReuse(edges.select(col("src"), col("dst")))
    val nodes = persistForReuse(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    val deg = persistForReuse(e.groupBy(col("src"))
      .agg(count(lit(1)).as("outdeg")))
    val base = lit(scale * 15 / 100)
    var ranks = nodes.withColumn("pr", lit(scale))
    for (i <- 1 to iterations) {
      val contrib = e.join(deg, "src")
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), expr("pr div outdeg").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("c"))
      ranks = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (base + expr("(coalesce(c, 0L) * 17) div 20")).as("pr"))
      // The per-round plan nests one join deeper each iteration; past ~10
      // rounds Catalyst analysis cost and lineage depth dominate. A LAZY
      // local checkpoint (no job at construction — see persistForReuse's
      // rationale) resets the plan to a leaf at the next action. Integer
      // ranks make the cut bit-invisible. Executor loss recomputes from
      // the truncation point on a cluster — acceptable for an iterative
      // algorithm that is cheap per round; pass 0 to keep full lineage.
      if (truncateEvery > 0 && i % truncateEvery == 0 && i < iterations)
        ranks = ranks.localCheckpoint(eager = false)
    }
    ranks
  }

  /** Convergence certificate for [[pageRankInt]]: one row proving the
    * recurrence contracted over the declared iteration count.
    *
    * Reports max |Δrank| (integer rank units) of the FIRST round vs the LAST
    * round — a fixed iteration count is only meaningful if the per-round
    * movement is shrinking, and because ranks are scaled integers the deltas
    * are exact and bit-stable at any parallelism (an oracle can unroll the
    * same recurrence and hash-match them). Each delta is an equi-join on
    * node id + a 1-row max aggregate; the N-1 ranks are persisted so the
    * shared recurrence prefix is computed once, not twice.
    */
  def pageRankConvergence(edges: DataFrame, iterations: Int,
      scale: Long = 1000000L): DataFrame = {
    require(iterations >= 2, "need >= 2 iterations to compare round deltas")
    val e = persistForReuse(edges.select(col("src"), col("dst")))
    val nodes = persistForReuse(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    val deg = persistForReuse(e.groupBy(col("src"))
      .agg(count(lit(1)).as("outdeg")))
    val base = lit(scale * 15 / 100)
    def step(prev: DataFrame): DataFrame = {
      val contrib = e.join(deg, "src")
        .join(prev.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), expr("pr div outdeg").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("c"))
      nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (base + expr("(coalesce(c, 0L) * 17) div 20")).as("pr"))
    }
    val r1 = step(nodes.withColumn("pr", lit(scale)))
    var prev = r1
    for (_ <- 2 until iterations) prev = step(prev)
    val rPrev = persistForReuse(prev) // consumed by the last step AND the delta join
    val rLast = step(rPrev)
    val nNodes = nodes.agg(count(lit(1)).as("n_nodes"))
    val dFirst = r1.agg(max(abs(col("pr") - lit(scale))).as("max_delta_first"))
    val dLast = rLast
      .join(rPrev.withColumnRenamed("pr", "prev_pr"), "node")
      .agg(max(abs(col("pr") - col("prev_pr"))).as("max_delta_last"))
    nNodes.crossJoin(dFirst).crossJoin(dLast)
      .select(lit(iterations.toLong).as("iters"), col("n_nodes"),
        col("max_delta_first"), col("max_delta_last"),
        (col("max_delta_last") < col("max_delta_first")).as("contracted"))
  }

  /** Co-occurrence edges: items sharing a group key, canonicalized u < v,
    * kept only when the pair co-occurs at least `minWeight` times.
    *
    * The self-join explodes as Σ_g n_g² — the threshold is applied AFTER the
    * grouped count precisely so the downstream graph is the stable backbone
    * (pairs that recur) while the quadratic blow-up stays inside one shuffle
    * stage with map-side partial counts. At web scale, cap n_g first (drop
    * mega-groups) — same shape as the df-capped postings in [[Dedup]].
    */
  def coOccurrenceEdges(df: DataFrame, groupCol: String, itemCol: String,
      minWeight: Long): DataFrame = {
    // The distinct (group, item) set is both sides of the self-join —
    // persist so the dedup shuffle runs once, not twice.
    val l = persistForReuse(
      df.select(col(groupCol).as("g"), col(itemCol).as("u")).distinct())
    val r = l.select(col("g"), col("u").as("v"))
    l.join(r, "g").filter(col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
      .filter(col("w") >= minWeight)
      .select(col("u"), col("v"))
  }

  /** Exact triangle count over a canonical (u < v) undirected edge list:
    * join paths u→v→w with u < v < w to the closing edge (u, w). Both joins
    * are equi-joins on edge endpoints — never a cartesian — and the u < v < w
    * orientation counts each triangle exactly once.
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    // Six scans of the (usually join-derived) edge list: three join legs,
    // two node-set unions, one edge count — persist it once.
    val e = persistForReuse(edges.select(col("u"), col("v")))
    val e1 = e.select(col("u").as("a"), col("v").as("b"))
    val e2 = e.select(col("u").as("b"), col("v").as("c"))
    val e3 = e.select(col("u").as("a"), col("v").as("c"))
    val tri = e1.join(e2, "b").join(e3, Seq("a", "c"))
      .agg(count(lit(1)).as("n_triangles"))
    val nNodes = e.select(col("u").as("n"))
      .union(e.select(col("v").as("n"))).distinct()
      .agg(count(lit(1)).as("n_nodes"))
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    nNodes.crossJoin(nEdges).crossJoin(tri)
  }
}
