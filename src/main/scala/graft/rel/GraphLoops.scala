package graft.rel
import graft.Pinned.PinnedOps

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Strategy tier for the iterative graph loops (PageRank, BFS,
  * Bellman-Ford): how the O(nodes) per-round state meets the
  * stationary O(edges) list.
  *
  *  - [[GraphLoops.Broadcast]] — the state vector broadcast-joins onto
  *    the edge list every round. Fastest while node state fits the
  *    driver/executor broadcast limits (it is orders of magnitude below
  *    the edge list), and the mode the bench queries run in.
  *  - [[GraphLoops.CoPartitioned]] — the edge list is hash-partitioned
  *    on its probe key ONCE at build (the materialized localCheckpoint
  *    RDD carries that HashPartitioning, which Spark preserves through
  *    LogicalRDD), and each round the state side alone shuffles to meet
  *    it via a SHUFFLE_HASH-hinted join. The hint also stops AQE from
  *    demoting back to broadcast, so the plan shape is stable. Edges
  *    never move after build; per-round network is O(nodes). This is
  *    the 100 TB fallback for vertex sets past broadcast limits —
  *    same algorithm, same integer arithmetic, bit-identical results
  *    (pinned by GraphLoopsSpec).
  *
  * Reference semantics (tickdb has no graph ops — this is extension
  * surface): results are strategy-independent by construction because
  * every loop uses order-independent integer arithmetic.
  */
object GraphLoops {

  sealed trait Strategy
  /** Per-round state broadcasts; edges never shuffle. Default. */
  case object Broadcast extends Strategy
  /** Edges hash-pinned once; state shuffles to meet them each round. */
  case object CoPartitioned extends Strategy

  /** Materialize the edge list once for the whole loop. CoPartitioned
    * pre-hash-partitions on `key` first so the pinned RDD's
    * HashPartitioning satisfies every later state join's
    * ClusteredDistribution outright — no per-round edge exchange.
    *
    * MATERIALIZATION POLICY (localCheckpoint contract): the pin holds
    * the FULL edge list in executor block storage for the loop's
    * lifetime — O(edges) memory/disk, no lineage fallback (a lost
    * executor kills the job; rounds would otherwise silently recompute
    * a re-randomized source upstream, which is worse). That is the
    * right trade at bench scale and on a cluster whose edge list fits
    * aggregate block storage. At 100 TB substitute a reliable
    * materialization with the SAME partitioning contract: write
    * edges BUCKETED BY key to scratch parquet (bucket join keeps the
    * no-exchange property) or persist(DISK_ONLY, replicated) —
    * anything that survives executor loss while still presenting
    * HashPartitioning(key) to EnsureRequirements. The AQE-off planning
    * requirement below applies to any in-memory substitute too.
    */
  def pinEdges(edges: DataFrame, key: String, strategy: Strategy): DataFrame =
    strategy match {
      case Broadcast => edges.pinned
      case CoPartitioned => hashPin(edges, key)
    }

  /** Materialize `edges` hash-partitioned on `key`, SINGLE-SHOT (r19):
    * one shuffle, one block write. The upstream build plans under
    * whatever AQE setting the session has (broadcast demotion and
    * interior coalescing intact), and the checkpointed RDD still
    * carries HashPartitioning(key, n) — declared on the LogicalRDD by
    * graft.Pinned.checkpointKeyed, which is sound because a
    * repartition(n, key) exchange has the REPARTITION_BY_NUM origin
    * that AQE never coalesces. EnsureRequirements then finds the edge
    * side already satisfying any ClusteredDistribution whose keys
    * include `key`. Replaces the r18 two-step pin (materialize, then
    * AQE-off re-repartition + second checkpoint + release): the
    * second E-sized write and the session-global AQE toggle are gone.
    */
  private[rel] def hashPin(edges: DataFrame, key: String): DataFrame =
    graft.Pinned.checkpointKeyed(edges, key)

  /** [[hashPin]] over an ALREADY-materialized relation — callers that
    * need the same pinned build under two partitionings
    * (hitsAuthorities' CoPartitioned tier) materialize the upstream
    * once and derive both keyed copies from it, so the edge build
    * (join + distinct) is computed once rather than per copy.
    */
  private[rel] def hashPinFrom(mat: DataFrame, key: String): DataFrame =
    graft.Pinned.checkpointKeyed(mat, key)

  /** Pin for loops whose per-round AGGREGATION key differs from the
    * state-join key (r18, guide §2.4 "remove shuffles outright"):
    *
    *  - Broadcast tier: the broadcast state join imposes NO
    *    distribution on the edge side, so the pin is free to carry the
    *    partitioning the rest of the round needs. Hash-pinning on
    *    `aggKey` makes every per-round `groupBy(aggKey, …)`, DISTINCT
    *    and `Window.partitionBy(aggKey)` exchange-free (hash(k)
    *    satisfies ClusteredDistribution(k, …)) — the whole round plans
    *    as one mapper-side stage over the pinned RDD. The one-time
    *    pin exchange replaces 1–2 exchanges × rounds. Skew posture is
    *    unchanged: any per-aggKey aggregate already concentrates a
    *    key's rows in one partition at its OWN exchange; the pin moves
    *    that concentration one stage earlier (hash spreads keys over
    *    all partitions — only a key with degree ≫ E/n partitions was,
    *    and remains, a hot-partition risk).
    *  - CoPartitioned tier: unchanged — the shuffle-hash state join
    *    requires the edges clustered on `joinKey`, and the per-round
    *    aggregation exchange is the price of never moving the edges.
    */
  def pinEdgesKeyed(edges: DataFrame, joinKey: String, aggKey: String,
                    strategy: Strategy): DataFrame =
    strategy match {
      case Broadcast => hashPin(edges, aggKey)
      case CoPartitioned => hashPin(edges, joinKey)
    }

  /** Join O(nodes) `state` onto pinned `edges` (inner, or `joinType`
    * with `state` as the build side) without moving the edges:
    * broadcast hint or shuffle-hash build side per strategy.
    */
  def stateJoin(edges: DataFrame, state: DataFrame, cond: Column,
                strategy: Strategy, joinType: String = "inner"): DataFrame =
    strategy match {
      case Broadcast => edges.join(broadcast(state), cond, joinType)
      case CoPartitioned => edges.join(state.hint("shuffle_hash"), cond, joinType)
    }

  /** Anti-join two node-sized relations (both O(nodes) — the hint just
    * keeps the build side off the driver in CoPartitioned mode).
    */
  private def minus(left: DataFrame, right: DataFrame,
                    strategy: Strategy): DataFrame =
    strategy match {
      case Broadcast => left.join(broadcast(right), Seq("node"), "left_anti")
      case CoPartitioned =>
        left.join(right.hint("shuffle_hash"), Seq("node"), "left_anti")
    }

  /** One BFS/Bellman-Ford round as a standalone DataFrame, for plan
    * pins: join a state vector onto a pinned edge list. Exposed so
    * GraphLoopsSpec can assert the CoPartitioned step has no exchange
    * above the edge scan.
    */
  def stepPlanProbe(edges: DataFrame, state: DataFrame,
                    strategy: Strategy): DataFrame =
    stateJoin(edges, state, col("node") === col("a"), strategy)
      .groupBy(col("b").as("node")).agg(count(lit(1)).as("n"))

  /** BFS hop counts from `source` over directed `(a, b)` edges,
    * `rounds` frontier expansions. Per round: one state join against
    * the pinned edges + distinct + anti-join vs visited, frontier
    * lineage cut. Returns `(node BIGINT, hop INT)`.
    */
  def bfsHops(edges: DataFrame, source: Long, rounds: Int,
              strategy: Strategy = Broadcast): DataFrame =
    // NOTE (r18): the agg-key pin (pinEdgesKeyed on "b") was measured
    // here and REVERTED — BFS is the one loop where the trade is
    // backwards at any scale: the per-round exchange it would remove
    // carries a FRONTIER-sized dedup, while the pin itself adds an
    // E-sized shuffle + a second E materialization (same-window A/B:
    // old warm samples 1.86/2.10/1.87 s, keyed-pin min 2.45 s — the
    // only change in the family whose regression was outside the
    // noise band in both directions). The join-key pin stands.
    bfsHopsPinned(pinEdges(edges, "a", strategy), source, rounds, strategy)

  /** [[bfsHops]] over an ALREADY-pinned edge list — callers running
    * several frontier loops over the same graph (graph_closeness's
    * three landmarks) pin once and share it, instead of paying the
    * edge materialization per landmark.
    */
  def bfsHopsPinned(ed: DataFrame, source: Long, rounds: Int,
                    strategy: Strategy = Broadcast): DataFrame = {
    val s = ed.sparkSession
    var visited = s.range(1)
      .select(lit(source).cast("long").as("node"), lit(0).as("hop"))
    var frontier = visited.select("node")
    (1 to rounds).foreach { h =>
      val next = minus(
        stateJoin(ed, frontier, col("node") === col("a"), strategy)
          .select(col("b").as("node")).distinct(),
        visited, strategy).pinned
      visited = visited.unionByName(next.withColumn("hop", lit(h)))
      frontier = next
    }
    visited
  }

  /** Single-source weighted shortest distance (<= `rounds` edges) over
    * directed `(a, b, w)` edges — Bellman-Ford as `rounds` relaxation
    * rounds. Per round: one state join + partial-aggregated MIN
    * groupBy; all-integer so hash-exact. Returns `(node, dist)`.
    */
  def bellmanFord(edges: DataFrame, source: Long, rounds: Int,
                  strategy: Strategy = Broadcast): DataFrame = {
    val s = edges.sparkSession
    val ed = pinEdges(edges, "a", strategy)
    var dist = s.range(1)
      .select(lit(source).cast("long").as("node"), lit(0L).as("dist"))
    (1 to rounds).foreach { _ =>
      dist = dist.unionAll(
          stateJoin(ed, dist, col("node") === col("a"), strategy)
            .select(col("b").as("node"), (col("dist") + col("w")).as("dist")))
        .groupBy("node").agg(min("dist").as("dist"))
        .pinned
    }
    dist
  }
}
