package graft.rel
import graft.Pinned.PinnedOps

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank over an undirected edge list in integer 1e-12 rank units.
  *
  * Integer division makes every iteration order-independent, so the
  * distributed result is bit-identical to a sequential evaluation —
  * and it buys something rarer: EXACT fixed-point detection. Once an
  * iteration changes no rank, no later iteration ever will (the step
  * is a deterministic function of the rank vector), so the loop can
  * stop early with the maxIter cap as fallback — no epsilon, no
  * tolerance tuning. Convergence is checked at the lineage-cut
  * boundary (every `checkEvery` rounds): probe one step ahead FROM
  * the pinned vector, compare two materialized node-sized tables,
  * and when the probe did change, it simply becomes the next
  * iteration — no recomputation, no job per round.
  *
  * Scale shape: the per-round job is one node-keyed equi-join + one
  * partial-aggregated groupBy (no pair space, no driver state beyond
  * the loop counter); degree is joined onto the edge list ONCE,
  * outside the loop.
  */
object PageRank {

  private val Unit_ = 1000000000000L

  /** One sweep over `(u, v, d)` edges (d = u's degree): every node's
    * new rank is `0.15*UNIT + 0.85 * sum(r_u div d_u)`.
    *
    * In [[GraphLoops.Broadcast]] mode the rank vector BROADCASTS
    * explicitly: it is O(nodes) — orders of magnitude below the edge
    * list — and without the hint both sides of the node-keyed join get
    * exchanges materialized before AQE can downgrade to broadcast, so
    * every iteration would re-shuffle the whole edge list (measured:
    * 2/3 of pagerank wall time at sf0.1). The edges therefore never
    * move after the one degree join at build; each round is a map-side
    * hash probe + partial-aggregated groupBy.
    *
    * In [[GraphLoops.CoPartitioned]] mode — the tier for vertex sets
    * past broadcast limits — the edges were hash-pinned on `u` at
    * build and the rank vector alone shuffles to meet them
    * (shuffle-hash build side). Same algorithm, same integer bits;
    * GraphLoopsSpec pins hash-equality of the two tiers and the
    * absence of any per-round edge exchange.
    */
  private def step(undDeg: DataFrame, pr: DataFrame,
                   strategy: GraphLoops.Strategy): DataFrame =
    GraphLoops.stateJoin(undDeg, pr, undDeg("u") === pr("node"), strategy)
      .select(undDeg("v"), expr("r div d").as("contrib"))
      .groupBy(col("v").as("node"))
      .agg(expr("150000000000 + (85 * sum(contrib)) div 100").as("r"))

  /** Returns (ranks as (node, r), iterations actually run). The result
    * is identical to running the full `maxIter` iterations whenever
    * the fixed point was reached — which is exactly when we stop.
    */
  def run(und: DataFrame, maxIter: Int, checkEvery: Int = 5,
          strategy: GraphLoops.Strategy = GraphLoops.Broadcast): (DataFrame, Int) = {
    val deg = und.groupBy(col("u").as("node")).agg(count(lit(1)).as("d"))
    // join key "u" (rank state meets the source end); agg key "v" (the
    // per-round contribution groupBy collapses on the target end) —
    // the Broadcast tier pins on "v" so every round's aggregation is
    // exchange-free (one mapper stage per round: broadcast probe +
    // partial/final agg over the hash(v)-pinned edges)
    val undDeg = GraphLoops.pinEdgesKeyed(
      und.join(deg, und("u") === deg("node"))
        .select(col("u"), col("v"), col("d")), "u", "v", strategy)
    var pr = deg.select(col("node"), lit(Unit_).as("r")).pinned
    var it = 0
    var converged = false
    // lineage is cut every `checkEvery` rounds: a shallow join/agg
    // tree is still cheap for Catalyst, and skipping most checkpoint
    // materializations is ~20% wall clock (6.8s -> 5.3s warm at
    // sf0.1 via TimeOne); much deeper and re-analysis cost plus
    // whole-plan recomputation on executor loss start winning.
    while (it < maxIter && !converged) {
      it += 1
      val next = step(undDeg, pr, strategy)
      if (it % checkEvery != 0 && it != maxIter) pr = next
      else {
        val pinned = next.pinned
        if (it == maxIter) pr = pinned
        else {
          // probe one step ahead from the pinned vector: unchanged
          // means exact fixed point (stop — later iterations are
          // no-ops by induction); changed means the probe IS the
          // next iteration, computed once from pinned lineage.
          // r19 fold (guide §2.4/§2.6): the previous rank rides the
          // probe's own materialization (one node-sized broadcast
          // join inside the same pin job), so the changed-check is a
          // bare scan of the already-materialized blocks. r0 is the
          // node-matched old rank, null for a node new to the set; a
          // node that left the set (an edge list that is not
          // symmetric) is missing from the probe, which the size
          // check catches once every rank matched.
          val old = pinned.select(col("node").as("node0"), col("r").as("r0"))
          val probe = GraphLoops.stateJoin(step(undDeg, pinned, strategy),
              old, col("node") === col("node0"), strategy, "left_outer")
            .select(col("node"), col("r"), col("r0"))
            .pinned
          val changed = probe.where(!(col("r") <=> col("r0"))).limit(1).count() > 0 ||
            probe.count() != pinned.count()
          if (!changed) { converged = true; pr = pinned }
          else { it += 1; pr = probe.select("node", "r") }
        }
      }
    }
    (pr, it)
  }
}
