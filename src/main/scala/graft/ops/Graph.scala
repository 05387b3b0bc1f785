package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over relational edge lists — the
  * "derive a graph from the warehouse, rank its nodes" workload
  * (reference analog: the co-occurrence/knn weight graphs of
  * ml/Knn.scala:45-111, which rank related items; here the ranking is
  * global and iterative instead of per-query).
  *
  * PageRank is computed in EXACT integer micro-units so the result is
  * reproducible across engines (the repo's micro-ln protocol, SURVEY
  * §6): ranks are longs scaled by 1e6, each edge contribution is the
  * floored integer division (rank * damping_num) div (damping_den *
  * out_degree), and the per-iteration update is
  * rank'(v) = base + Σ_incoming contrib. No floating point anywhere,
  * so a DuckDB mirror unrolled per iteration hashes identically.
  *
  * Scale shape (100 TB): the edge list with attached out-degree is
  * built ONCE (one groupBy + one join) and cached; each iteration is
  * one equi-join of the (node, rank) table to the edge list plus one
  * map-side-combinable aggregation on dst — the standard distributed
  * PageRank plan. Iterations are a fixed small count (default 5), so
  * the lineage stays bounded; at cluster scale the rank table would
  * be checkpointed every few iterations (here it is 2 columns ×
  * n_nodes, tiny relative to edges). No driver-side state: the loop
  * is driver-orchestrated but all data stays distributed.
  */
object Graph {

  /** PageRank over an undirected edge list `(a, b)` (each undirected
    * edge contributes both directions). Returns (node, rank_micro)
    * with base = (1 - d) * 1e6 and d = dampNum/dampDen (default
    * 85/100). Every node in the edge list has degree ≥ 1, so no
    * dangling-node term is needed.
    */
  def pageRank(edgesUndirected: DataFrame, a: Column, b: Column,
               iterations: Int = 5,
               dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    // edge list with the source's out-degree attached — built once,
    // reused by every iteration. localCheckpoint, not persist():
    // its blocks are owned by the RDD and GC-reclaimed by the
    // ContextCleaner (the Bpe/clusters hygiene contract,
    // CacheHygieneSpec) — no CacheManager entry for a long-lived
    // session to leak; it also truncates the per-iteration lineage.
    val edgesDeg = edgesWithDegree(edgesUndirected, a, b).localCheckpoint()
    pageRankFromEdgesDeg(edgesDeg, iterations, dampNum, dampDen)
  }

  /** The degree-attached directed edge list `(src, dst, deg)` both
    * PageRank faces iterate from — THE persistable artifact of this
    * family (r12, the Knn-weights/postings lifecycle applied to
    * graphs): build it once per corpus snapshot, persist it
    * (`Artifacts.haveParquet` + a snapshot-keyed dir), and feed the
    * reopened parquet to [[pageRankFromEdgesDeg]] /
    * [[pageRankConvergedFromEdgesDeg]] — steady-state queries then
    * contain NO distinct/degree stages (plan-asserted in
    * Round12Spec), just iteration joins against a columnar artifact
    * scan.
    */
  def edgesWithDegree(edgesUndirected: DataFrame,
                      a: Column, b: Column): DataFrame = {
    val dir = edgesUndirected.select(a.as("src"), b.as("dst"))
    val edges = dir.unionAll(dir.select(col("dst").as("src"),
      col("src").as("dst"))).distinct()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    edges.join(deg, "src").select(col("src"), col("dst"), col("deg"))
  }

  /** fixed-k PageRank from a prebuilt [[edgesWithDegree]] table. The
    * input is referenced once per iteration — pass a localCheckpoint
    * for derived edge frames, or the persisted artifact read as-is (a
    * small columnar scan per round beats pinning it, and keeps the
    * steady-state plan honest about its only source).
    */
  def pageRankFromEdgesDeg(edgesDeg: DataFrame, iterations: Int = 5,
                           dampNum: Long = 85L,
                           dampDen: Long = 100L): DataFrame = {
    require(iterations >= 1 && dampNum > 0 && dampDen >= dampNum)
    val base = (dampDen - dampNum) * 1000000L / dampDen
    val ranks0 = edgesDeg.select(col("src").as("node")).distinct()
      .select(col("node"), lit(1000000L).as("rank_micro"))
    val result = (1 to iterations).foldLeft(ranks0) { (ranks, _) =>
      prStep(edgesDeg, ranks, base, dampNum, dampDen)
    }
    result.orderBy("node")
  }

  /** one damped-update round: equi-join ranks to the degree-attached
    * edge list, floored-integer contributions, map-side-combinable
    * aggregation on dst. Shared by [[pageRank]] and
    * [[pageRankConverged]] so the two can never drift (the fixed-k
    * prefix identity is by construction, spec-pinned anyway).
    */
  private def prStep(edgesDeg: DataFrame, ranks: DataFrame, base: Long,
                     dampNum: Long, dampDen: Long): DataFrame =
    edgesDeg.join(ranks, edgesDeg("src") === ranks("node"))
      .select(col("dst"),
        expr(s"((rank_micro * $dampNum) div (deg * $dampDen))")
          .as("contrib"))
      .groupBy("dst")
      .agg((lit(base) + sum("contrib")).as("rank_micro"))
      .select(col("dst").as("node"), col("rank_micro"))

  /** CONVERGENCE-GATED PageRank — the production face of [[pageRank]]
    * for runs where the iteration count is not known up front: iterate
    * until max |rank'−rank| ≤ `epsilonMicro` (exact integer compare —
    * the micro-unit protocol makes the stopping rule deterministic and
    * engine-reproducible) or `maxIterations`, whichever first. Returns
    * (ranks ordered by node, iterations actually run).
    *
    * LINEAGE: a driver-orchestrated loop grows the logical plan by one
    * join+agg per round — at 20+ iterations an un-truncated chain
    * re-plans and re-executes ever-deeper DAGs (and eventually
    * overflows codegen). The rank table is therefore localCheckpoint'd
    * every `checkpointEvery` rounds (the cadence Graph.scala has
    * always documented as the cluster-scale requirement — now
    * implemented and measured, SURVEY §5 "PageRank checkpoint
    * cadence"; OPTIMIZATION_r15.md §Examined, left alone). The rank
    * table is 2 columns × n_nodes — tiny relative to the edge list —
    * so the default cadence of 1 materializes it every round, which the
    * convergence delta (an action per round) forces anyway: per-round
    * cost is FLAT by construction. A larger cadence trades up to
    * (cadence−1) steps of recompute inside each window for fewer
    * materializations — the right trade only when n_nodes ≈ n_edges.
    *
    * The convergence probe is FUSED into the round: the previous rank
    * is carried through one equi-join on `node` (node set is constant
    * — every node has degree ≥ 1) inside the same plan the round
    * materializes, and the max|Δ| aggregate is the round's single
    * action — O(n_nodes) on top of the rank update, never touching
    * edges, one job per round (the r10 two-action shape paid the
    * probe as a separate join job over the checkpointed tables).
    */
  def pageRankConverged(edgesUndirected: DataFrame, a: Column, b: Column,
                        maxIterations: Int = 20, epsilonMicro: Long = 100L,
                        checkpointEvery: Int = 1,
                        dampNum: Long = 85L, dampDen: Long = 100L): (DataFrame, Int) = {
    val edgesDeg = edgesWithDegree(edgesUndirected, a, b).localCheckpoint()
    pageRankConvergedFromEdgesDeg(edgesDeg, maxIterations, epsilonMicro,
      checkpointEvery, dampNum, dampDen)
  }

  /** convergence-gated PageRank from a prebuilt [[edgesWithDegree]]
    * table — see [[pageRankFromEdgesDeg]] for the artifact posture.
    */
  def pageRankConvergedFromEdgesDeg(edgesDeg: DataFrame,
                        maxIterations: Int = 20, epsilonMicro: Long = 100L,
                        checkpointEvery: Int = 1,
                        dampNum: Long = 85L, dampDen: Long = 100L): (DataFrame, Int) = {
    require(maxIterations >= 1 && epsilonMicro >= 0 && checkpointEvery >= 1
      && dampNum > 0 && dampDen >= dampNum)
    val base = (dampDen - dampNum) * 1000000L / dampDen
    var ranks = edgesDeg.select(col("src").as("node")).distinct()
      .select(col("node"), lit(1000000L).as("rank_micro")).localCheckpoint()
    var it = 0
    var converged = false
    while (it < maxIterations && !converged) {
      // FUSED probe (r10 verdict #2): the previous rank rides through
      // the round — prStep's aggregate joins back to the prev rank
      // table on node (the same join the probe used to run as a
      // SECOND job over two checkpointed tables) and the result is
      // LAZILY checkpoint-marked, so the convergence aggregate below
      // is the ONE action per round: it materializes the round's rank
      // blocks (truncating lineage) and reads max|Δ| off the same
      // pass. Halves per-round job count (SURVEY §2b row 26u2).
      var next = prStep(edgesDeg, ranks, base, dampNum, dampDen)
        .join(ranks.select(col("node"),
          col("rank_micro").as("prev_micro")), "node")
      it += 1
      if (it % checkpointEvery == 0) next = next.localCheckpoint(false)
      val delta = next
        .agg(coalesce(max(abs(col("rank_micro") - col("prev_micro"))),
          lit(0L)))
        .head().getLong(0)
      converged = delta <= epsilonMicro
      ranks = next.select("node", "rank_micro")
    }
    (ranks.orderBy("node"), it)
  }

  /** Per-node triangle counts over an undirected edge list `(a, b)`
    * (pairs assumed distinct; either orientation accepted). Returns
    * `(node, n_tri)` for every node in ≥ 1 triangle, ordered by node.
    *
    * Plan: the compact-forward / degree-orientation scheme (Schank &
    * Wagner 2005; Latapy 2008): orient every edge from the endpoint
    * with the smaller `(degree, node)` to the larger, so each
    * triangle is enumerated exactly once as an oriented wedge
    * `u→v, u→w (v<w)` closed by the oriented edge `v→w`. The
    * orientation bounds every out-degree by O(√m) — a celebrity node
    * with 100M followers RECEIVES its edges instead of fanning them
    * out, so the wedge join (the only super-linear step, Σ outdeg²)
    * is skew-proof by construction: total wedge work is O(m^1.5)
    * worst-case and far less on power-law graphs. Everything is
    * equi-joins + one map-side-combinable count — no windows, no
    * driver state, and the oriented-wedge shape is plain SQL, so the
    * whole operator hash-oracles cross-engine.
    */
  def triangleCounts(edgesUndirected: DataFrame,
                     a: Column, b: Column): DataFrame = {
    // materialize the canonical edge list once: deg and the two
    // orientation legs below would otherwise each re-run the caller's
    // edge derivation (often a fact-table self-join)
    val e = edgesUndirected.select(
      least(a, b).as("x"), greatest(a, b).as("y")).distinct()
      .localCheckpoint()
    val deg = e.select(col("x").as("n")).unionAll(e.select(col("y").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // orient by (degree, node): ties broken on the node id keep the
    // orientation a strict total order → acyclic → each triangle
    // appears exactly once
    // the oriented edge table is referenced THREE times (both wedge
    // legs + the closing probe); localCheckpoint materializes the
    // edge build once — without it each self-join leg re-runs the
    // upstream edge derivation (for the co-purchase graph that is a
    // fact-table self-join, measured 3× the whole operator's cost)
    // o carries the HEAD's (degree, node) sort key: the wedge pair
    // below must order the two heads by the SAME (deg, node) relation
    // the orientation used — ordering them by bare node id misses
    // every triangle whose heads' degree order disagrees with their
    // id order (the closing edge is probed in the wrong direction;
    // caught by the brute-force property test, which the mirrored
    // cross-engine oracle could NOT catch — both engines shared the
    // construction)
    val cmp = struct(col("da.d"), col("x")) < struct(col("db.d"), col("y"))
    val o = e.join(deg.as("da"), col("x") === col("da.n"))
      .join(deg.as("db"), col("y") === col("db.n"))
      .select(
        when(cmp, col("x")).otherwise(col("y")).as("u"),
        when(cmp, col("y")).otherwise(col("x")).as("v"),
        when(cmp, col("db.d")).otherwise(col("da.d")).as("dv"))
      .localCheckpoint()
    val wedges = o.as("p").join(o.as("q"),
        col("p.u") === col("q.u") &&
        struct(col("p.dv"), col("p.v")) < struct(col("q.dv"), col("q.v")))
      .select(col("p.u").as("ta"), col("p.v").as("tb"), col("q.v").as("tc"))
    val tris = wedges.join(o.as("r"),
      col("tb") === col("r.u") && col("tc") === col("r.v"))
      .select(col("ta"), col("tb"), col("tc"))
    tris.select(explode(array(col("ta"), col("tb"), col("tc"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
      .orderBy("node")
  }
}
