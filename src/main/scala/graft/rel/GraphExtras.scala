package graft.rel
import graft.Pinned.PinnedOps

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph extensions beyond the PageRank/BFS/CC/triangle core: HITS
  * hubs-and-authorities, k-core decomposition, and common-neighbor
  * link prediction. Reference scope: tickdb has no graph ops — this
  * widens the extension surface the earlier graph family opened.
  *
  * All three follow the established discipline: per-round work is
  * node-keyed equi-joins + partial aggregates (never a pair space
  * beyond bounded wedges), arithmetic is exact integer fixed point so
  * every result is hash-gated against an unrolled-CTE DuckDB oracle,
  * and the iterative loops run on [[GraphLoops.Strategy]] — broadcast
  * state for the bench, co-partitioned state for vertex sets past
  * broadcast limits (bit-equality pinned in GraphExtrasSpec).
  */
object GraphExtras {

  private val ClusteringOracle = AnalyticsQueries.CoOrderEdgeCte + """,
      |deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM
      |          (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
      |        GROUP BY 1),
      |t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c FROM e e1
      |      JOIN e e2 ON e2.u = e1.v
      |      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      |tc AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS t FROM
      |         (SELECT a AS n FROM t UNION ALL SELECT b FROM t
      |          UNION ALL SELECT c FROM t)
      |       GROUP BY 1)
      |SELECT deg.n AS node, deg.d AS deg,
      |  CAST(COALESCE(tc.t, 0) AS BIGINT) AS tri,
      |  CASE WHEN deg.d < 2 THEN NULL
      |       ELSE CAST(2 * COALESCE(tc.t, 0) * 1000000
      |                 // (deg.d * (deg.d - 1)) AS BIGINT) END AS cc_ppm
      |FROM deg LEFT JOIN tc ON deg.n = tc.n
      |ORDER BY node""".stripMargin

  /** graph_clustering_coeff body at a given [[graft.StaticTier]] —
    * shared by the bench (Broadcast) query and its `_shuffled` twin.
    */
  private def clusteringAt(s: org.apache.spark.sql.SparkSession, d: String,
                           tier: graft.StaticTier): DataFrame = {
    // the ONE co-order graph definition (AnalyticsQueries — shared
    // with graph_triangles so the family invariant is held by code,
    // not copy-paste), pinned once: deg, the orientation, and the
    // closing-edge probe all read the edge list
    val e = AnalyticsQueries.coOrderEdges(s, d).pinned
    // deg built ONCE with the corner builder's (n, dg) shape: the
    // orientation inside triangleCorners and the denominator below
    // share this aggregate instead of each running its own O(E) pass
    val deg = e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("dg"))
    // ONE corner fan-out via explode (r17: the old 3-way unionAll of
    // corner0/wa/wb tripled the triangle subtree in the logical plan)
    val tris = Triangles.triangleCorners(e, tier, Some(deg))
    val tc = tris
      .select(explode(array(col("corner0"), col("wa"), col("wb"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("t"))
    deg.join(tc.withColumnRenamed("n", "tn"), col("n") === col("tn"), "left")
      .select(col("n").as("node"), col("dg").as("deg"),
        coalesce(col("t"), lit(0L)).as("tri"),
        when(col("dg") < 2, lit(null))
          .otherwise(expr("2 * coalesce(t, 0L) * 1000000 div (dg * (dg - 1))"))
          .as("cc_ppm"))
      .orderBy("node")
  }

  /** Normalizer strategy for [[hitsAuthorities]] — the two-tier
    * posture the Broadcast|CoPartitioned precedent set for joins,
    * applied to the per-half-round sum normalizer:
    *
    *  - [[WindowNorm]] (default, the bench path): an empty-frame
    *    `sum(x) OVER ()` — each half-round's raw-sum relation appears
    *    ONCE in the plan, the whole loop is one linear DAG with zero
    *    checkpoint writes, at the cost of funneling the O(nodes)
    *    relation through a single task per half-round (fine to ~10^8
    *    nodes).
    *  - [[TwoPhaseNorm]] (the billion-node tier): partial-agg the raw
    *    sums to ONE total row and broadcast-join it back — fully
    *    parallel, but the raw sums now have two consumers, so each
    *    half-round pays a lineage cut (localCheckpoint) to stop
    *    subtree duplication: one extra materialization per half-round
    *    buys the removal of the single-task funnel. Bit-equality of
    *    the two tiers is pinned in GraphExtrasSpec.
    */
  sealed trait NormStrategy
  case object WindowNorm extends NormStrategy
  case object TwoPhaseNorm extends NormStrategy

  /** HITS over directed bipartite edges `(u, v)`: `rounds` full
    * authority+hub update pairs in 1e6-unit integer mass, each side
    * normalized by its sum with truncating division (so scores are
    * order-independent and hash-exact). Returns `(v, a)` — authority
    * scores after the final round.
    *
    * Per half-round: one state join onto the pinned edge list + one
    * partial-aggregated groupBy + one broadcast-of-one-row normalizer.
    * CoPartitioned pins TWO edge copies (hashed on u and on v) so
    * neither half-round ever moves the edges. Broadcast mode pins ONE
    * copy shared by both half-rounds — the pin key is meaningless
    * there, and a second pin would materialize the upstream edge
    * build (a join + distinct for the bench graph) twice for nothing
    * (the round-11 bench paid exactly that).
    */
  def hitsAuthorities(edges: DataFrame, rounds: Int,
                      strategy: GraphLoops.Strategy = GraphLoops.Broadcast,
                      normStrategy: NormStrategy = WindowNorm)
      : DataFrame = {
    // r18 NOTE — the Broadcast-tier agg-key pin (TWO keyed copies,
    // making each half-round's raw-sum aggregate exchange-free) was
    // measured here and REVERTED: 2 extra E-sized shuffles +
    // materializations at build to save 6 node-sized exchanges read
    // as a same-window regression (old warm min 3.04 s / new 3.42 s,
    // every new sample above the old median). Unlike coreness/
    // pagerank, BOTH halves need their own copy here, which doubles
    // the pin cost the other loops pay once — the r11 lesson (never
    // materialize the edge build twice) effectively re-applies one
    // level up. The single shared pin stands on the Broadcast tier.
    // r19 — CoPartitioned tier (needs both keyed copies by its join
    // contract): the upstream edge build now materializes ONCE and
    // both keyed copies derive from that scan (hashPinFrom), instead
    // of each pin re-running the join+distinct build; the shared
    // intermediate is released once both copies land.
    val (eU, eV) = strategy match {
      case GraphLoops.Broadcast =>
        val e = GraphLoops.pinEdges(edges, "u", strategy)
        (e, e)
      case GraphLoops.CoPartitioned =>
        val mat = edges.pinned
        val u = GraphLoops.hashPinFrom(mat, "u")
        val v = GraphLoops.hashPinFrom(mat, "v")
        graft.Pinned.release(mat)
        (u, v)
    }
    var h = eU.select("u").distinct().withColumn("h", lit(1000000L))
    var a: DataFrame = null
    // the normalizer is an empty-frame window (`sum(x) OVER ()`) over
    // the NODE-sized raw-sum relation — one single-partition exchange
    // of O(nodes) rows, and crucially each half-round's relation
    // appears exactly ONCE in the plan. The previous shape
    // (localCheckpoint + crossJoin of a broadcast 1-row agg) consumed
    // the raw sums twice and needed a per-half-round materialization
    // job to stop exponential subtree duplication; with the window the
    // whole `rounds`-round loop is one LINEAR dag — 2·rounds broadcast
    // joins + partial aggs, zero checkpoint block writes, executed in
    // a single action (round-12 fix for the graph_hits bench-envelope
    // excursion: the 6 eager checkpoint jobs dominated wall clock).
    // SCALE BOUND: the empty frame funnels each half-round's raw sums
    // through ONE task, so this shape holds while a node-sized
    // (id, sum) relation fits a single task comfortably — fine to
    // ~10^8 nodes (a few GB through one task per half-round), NOT at
    // billion-node scale. Past that, pass [[TwoPhaseNorm]]: partial-agg
    // the raw sums to one TOTAL row, broadcast-join it back, and accept
    // one extra materialization per half-round (the relation then has
    // two consumers, so the r12 linearity argument no longer applies
    // and the checkpoint returns — the right trade only once the
    // single task saturates; bit-equality pinned in GraphExtrasSpec).
    val norm = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    def normalize(raw: DataFrame, key: String, out: String): DataFrame =
      normStrategy match {
        case WindowNorm =>
          raw.withColumn("sx", sum(col("x")).over(norm))
            .select(col(key), expr("CAST(x * 1000000 div sx AS BIGINT)").as(out))
        case TwoPhaseNorm =>
          val pinned = raw.pinned // 2 consumers: total + join-back
          val tot = pinned.agg(sum(col("x")).as("sx")).withColumn("jk", lit(1))
          pinned.withColumn("jk", lit(1))
            .join(broadcast(tot), "jk")
            .select(col(key), expr("CAST(x * 1000000 div sx AS BIGINT)").as(out))
      }
    (1 to rounds).foreach { _ =>
      a = normalize(GraphLoops
        .stateJoin(eU, h.withColumnRenamed("u", "hu"), col("hu") === col("u"),
          strategy)
        .groupBy("v").agg(sum("h").as("x")), "v", "a")
      h = normalize(GraphLoops
        .stateJoin(eV, a.withColumnRenamed("v", "av"), col("av") === col("v"),
          strategy)
        .groupBy("u").agg(sum("a").as("x")), "u", "h")
    }
    a
  }

  /** k-core peel over undirected edges `(a, b)` (both orientations
    * present): up to `maxRounds` rounds of "drop nodes with degree
    * < k, keep edges whose BOTH ends survive", with an exact-fixpoint
    * early exit (a fixed point stays fixed, so exiting early is
    * result-identical to the oracle's full unroll). Returns the
    * surviving edge list; degrees of it are the core report.
    *
    * r17 (the r16 verdict's Missing #3 — the old per-round
    * `broadcast(alive)` was the one state broadcast without a
    * CoPartitioned fallback): the loop is now NODE-STATE over a
    * once-pinned edge list, the GraphLoops template. Per round: one
    * [[GraphLoops.stateJoin]] of the O(nodes) alive set onto the
    * pinned edges (broadcast or shuffle_hash per strategy — the edge
    * list never moves after the build-time pin), one partial-
    * aggregated alive-neighbor degree count, one filter. The alive
    * set is equivalent to the classic edge-filtering peel because
    * peeling is MONOTONE: a node dropped at round s has fewer than k
    * alive neighbors against a SUPERSET of every later alive set, so
    * "a itself is alive" needs no second join — deg(a) >= k already
    * implies it. The surviving edge list materializes ONCE at the
    * end (two semi-joins), not per round, so per-round state is
    * node-sized in both tiers. Bit-equality of the tiers and the
    * no-per-round-edge-exchange plan are pinned in GraphExtrasSpec.
    */
  /** One k-core peel round: deg(a) = |N(a) ∩ alive| via a state join
    * of the alive set onto the pinned edges' b side, the count
    * partial-aggregating map-side before its node-sized exchange on a.
    * Exposed so GraphExtrasSpec can pin the CoPartitioned round plan
    * (no exchange above the pinned edge scan — the GraphLoops
    * stepPlanProbe discipline).
    */
  private[rel] def kcoreRound(pinnedEdges: DataFrame, alive: DataFrame,
                              k: Int, strategy: GraphLoops.Strategy): DataFrame =
    GraphLoops
      .stateJoin(pinnedEdges, alive, col("node") === col("b"), strategy)
      .groupBy("a").agg(count(lit(1)).as("d"))
      .where(col("d") >= k)
      .select(col("a").as("node"))

  def kcoreEdges(und: DataFrame, k: Int, maxRounds: Int,
                 strategy: GraphLoops.Strategy = GraphLoops.Broadcast): DataFrame = {
    // join key "b" (alive set meets the neighbor end); agg key "a"
    // (the alive-degree count and the initial DISTINCT key on "a") —
    // Broadcast pins on "a" so each peel round is one mapper stage
    val e = GraphLoops.pinEdgesKeyed(und, "b", "a", strategy)
    var alive = e.select(col("a").as("node")).distinct().pinned
    var prev = alive.count()
    var r = 0
    var done = false
    while (r < maxRounds && !done) {
      val next = kcoreRound(e, alive, k, strategy)
        .pinned // 2 consumers: the count + the next round
      val c = next.count()
      // alive shrinks monotonically, so count-equal means set-equal
      done = c == prev
      prev = c
      alive = next
      r += 1
    }
    val aliveB = alive.withColumnRenamed("node", "b")
    val (sa, sb) = strategy match {
      case GraphLoops.Broadcast =>
        (broadcast(alive), broadcast(aliveB))
      case GraphLoops.CoPartitioned =>
        (alive.hint("shuffle_hash"), aliveB.hint("shuffle_hash"))
    }
    // filter the PINNED edges, not `und` — the raw relation would
    // re-run its whole upstream (fact join + distinct) here
    e.join(sa, e("a") === sa("node"), "left_semi")
      .join(sb, Seq("b"), "left_semi")
      .select("a", "b")
  }

  /** Distributed CORENESS (the full k-core spectrum, not one k) by
    * h-index iteration (Lü et al. / Montresor et al.): start from
    * degrees, and each round every node's value becomes the h-index
    * of its neighbors' values — the sequence decreases monotonically
    * to the true coreness.
    *
    * Per round the h-index is computed by the COUNTING formulation,
    * not a neighbor sort: with `F(a, c)` = how many of a's neighbors
    * hold value ≥ c, the h-index is `max over observed c of
    * min(c, F(a, c))` (if some c beat that max, F(a,c) ≥ min > h
    * neighbors would hold ≥ min, putting the sorted (min)-th neighbor
    * at ≥ min — contradicting h's maximality; and c = the h-th sorted
    * value achieves it). So a round is: one state join onto the
    * pinned edge list, one VALUE-BUCKET partial agg `(a, c) → k`
    * (map-side combined — the only E-sized relation never reaches an
    * exchange un-reduced), one cumulative-count window over the
    * collapsed buckets (O(nodes × distinct neighbor values) rows, vs
    * the O(E log E) full neighbor sort a row_number rank pays — the
    * r12 per-round window sorted every edge-joined row), and one MAX
    * partial agg. All integer, so every round is hash-exact; the
    * DuckDB oracle keeps the INDEPENDENT rank formulation
    * (row_number over neighbors desc), so the gate proves the two
    * h-index constructions agree — a stronger check than replaying
    * one shape twice.
    */
  def corenessHIndex(und: DataFrame, rounds: Int,
                     strategy: GraphLoops.Strategy = GraphLoops.Broadcast)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // join key "b" (state meets the neighbor end); agg key "a" (the
    // degree count, per-round value-bucket agg, cumulative window and
    // h-index max all key on "a") — the Broadcast tier pins on "a",
    // making EVERY per-round exchange vanish (r18, guide §2.4: 2
    // exchanges × rounds + the degree exchange → the one pin exchange)
    val ed = GraphLoops.pinEdgesKeyed(und, "b", "a", strategy)
    // each round's state is consumed exactly ONCE (the next round's
    // state join), so the loop needs no per-round lineage cut: the
    // whole unroll is one LINEAR dag over the pinned edges, each
    // state level materialized once by its broadcast/shuffle exchange
    // (the graph_hits r12 linearization — dropping the per-round
    // localCheckpoint removed the eager node-table writes per round)
    var core: DataFrame = ed.groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("a").orderBy(col("c").desc)
    (1 to rounds).foreach { _ =>
      core = GraphLoops
        .stateJoin(ed, core, col("node") === col("b"), strategy)
        .groupBy(col("a"), col("c")).agg(count(lit(1)).as("k"))
        .withColumn("f", sum(col("k")).over(w))
        .groupBy(col("a").as("node"))
        .agg(max(least(col("c"), col("f"))).as("c"))
    }
    core
  }

  /** Personalized PageRank over undirected edges `(a, b)` (both
    * orientations present): `rounds` diffusion steps of 1e-12 integer
    * walk mass from `seed`, damping 85/100 with truncating division.
    * The restart mass is added in the contribution aggregate's result
    * projection, and a sentinel edge `-1 → seed` keeps the seed's group
    * present in every round, so each round is one state join onto the
    * pinned edge list + one partial-aggregated groupBy, with no union
    * or re-aggregate; unreached nodes stay absent rather than zero.
    * Broadcast and CoPartitioned tiers are
    * hash-identical (pinned in R8bWaveSpec) — the same two-tier
    * posture as [[PageRank.run]].
    */
  def pprRounds(und: DataFrame, seed: Long, rounds: Int,
                strategy: GraphLoops.Strategy = GraphLoops.Broadcast)
      : DataFrame = {
    val s = und.sparkSession
    import s.implicits._
    val dg = und.groupBy(col("a").as("n")).agg(count(lit(1)).as("d"))
    // join key "u", agg key "v" (the contribution groupBy) — Broadcast
    // pins on "v" so the per-round E-input aggregate is exchange-free.
    //
    // r19 — the restart union + node-sized re-aggregate (the one
    // exchange the r18 pin left per round) is FOLDED INTO the
    // contribution aggregate via a SENTINEL edge (guide §2.4):
    //  - one extra pinned edge (u = -1 → v = seed, d = 1) plus one
    //    zero-mass state row (node = -1, r = 0) appended to the
    //    broadcast side each round guarantee the seed's group exists
    //    in every round's aggregate (contribution r div d = 0 div 1 =
    //    0 adds nothing to the sum), riding the same hash(v) pinned
    //    path — no union below the aggregate, so its exchange-free
    //    plan is untouched;
    //  - the restart mass lands in the aggregate's RESULT projection
    //    (+150000000000 on the seed's row), exactly the value the old
    //    union+re-agg summed in: old seed row = (85·Σc) div 100 +
    //    150000000000 (or restart alone when no contribution arrived —
    //    the sentinel makes that the Σc = 0 case of the same formula).
    // Node ids are nonnegative (2·custkey / 2·suppkey+1), so -1 never
    // collides, never reaches the output (it appears only as u), and
    // unreached nodes stay absent as before. Row-exact equivalence vs
    // the union spelling is pinned in R8bWaveSpec.
    val sentinelEdge = Seq((-1L, seed, 1L)).toDF("u", "v", "d")
    val edges = GraphLoops.pinEdgesKeyed(
      und.join(dg, und("a") === dg("n")).select(col("a").as("u"),
        col("b").as("v"), col("d")).unionByName(sentinelEdge),
      "u", "v", strategy)
    def oneRow(node: Long, r: Long) = Seq((node, r)).toDF("node", "r")
    var pr = oneRow(seed, 1000000000000L) // all walk mass starts at the seed
    // linear unroll, no per-round lineage cut: each round's mass
    // vector has exactly one consumer (see corenessHIndex)
    for (_ <- 1 to rounds) {
      val state = pr.unionByName(oneRow(-1L, 0L))
      pr = GraphLoops.stateJoin(edges, state, edges("u") === state("node"),
          strategy)
        .select(edges("v").as("node"), expr("r div d").as("c"))
        .groupBy("node")
        .agg((expr("(85 * sum(c)) div 100") +
          when(col("node") === lit(seed), lit(150000000000L))
            .otherwise(lit(0L))).as("r"))
    }
    pr
  }

  /** Shared customer<->supplier bipartite edge derivation and oracle
    * for the graph_ppr / graph_ppr_copart strategy twins.
    */
  private def pprEdges(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val e0 = Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).cast("long").as("a"),
        (col("l_suppkey") * 2 + 1).cast("long").as("b"))
      .distinct()
    e0.unionAll(e0.select(col("b").as("a"), col("a").as("b")))
  }

  private val PprOracleSql: String =
    """WITH e0 AS (SELECT DISTINCT o_custkey*2 AS a, l_suppkey*2+1 AS b
      |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |ed AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
      |dg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS d FROM ed GROUP BY 1),
      |e AS (SELECT ed.a, ed.b, dg.d FROM ed JOIN dg ON ed.a = dg.a),
      |p0 AS (SELECT CAST(2 AS BIGINT) AS node, CAST(1000000000000 AS BIGINT) AS r),
      |c1 AS (SELECT e.b AS node, CAST((85 * SUM(p0.r // e.d)) // 100 AS BIGINT) AS r
      |       FROM e JOIN p0 ON e.a = p0.node GROUP BY 1),
      |r1 AS (SELECT node, CAST(SUM(r) AS BIGINT) AS r FROM
      |         (SELECT node, r FROM c1
      |          UNION ALL SELECT 2, 150000000000) GROUP BY 1),
      |c2 AS (SELECT e.b AS node, CAST((85 * SUM(r1.r // e.d)) // 100 AS BIGINT) AS r
      |       FROM e JOIN r1 ON e.a = r1.node GROUP BY 1),
      |r2 AS (SELECT node, CAST(SUM(r) AS BIGINT) AS r FROM
      |         (SELECT node, r FROM c2
      |          UNION ALL SELECT 2, 150000000000) GROUP BY 1),
      |c3 AS (SELECT e.b AS node, CAST((85 * SUM(r2.r // e.d)) // 100 AS BIGINT) AS r
      |       FROM e JOIN r2 ON e.a = r2.node GROUP BY 1),
      |r3 AS (SELECT node, CAST(SUM(r) AS BIGINT) AS r FROM
      |         (SELECT node, r FROM c3
      |          UNION ALL SELECT 2, 150000000000) GROUP BY 1)
      |SELECT node, r FROM r3 ORDER BY r DESC, node LIMIT 20""".stripMargin

  private[graft] val defs: Map[String, QueryDef] = Map(

    // CORENESS — every node's k-core number in one run (graph_kcore
    // answers "who survives k=35"; this answers "what is EVERY
    // node's k"), the degeneracy ordering behind dense-subgraph
    // mining and influence ranking. 3 h-index rounds, hash-exact vs
    // the oracle; the iteration is monotonically decreasing from
    // degrees, so a bounded unroll is a sound deterministic semantic
    // on both engines. The engine computes each round's h-index by
    // value-bucket COUNTING (see corenessHIndex — no per-round
    // neighbor sort); the oracle DELIBERATELY keeps the independent
    // rank formulation (row_number over neighbors desc), so green
    // means two different h-index constructions agree on every node.
    "graph_coreness" -> QueryDef(
      """WITH e0 AS (SELECT DISTINCT o_custkey*2 AS a, l_suppkey*2+1 AS b
        |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |u0 AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
        |c0 AS (SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS c FROM u0 GROUP BY 1),
        |n1 AS (SELECT u0.a, c0.c FROM u0 JOIN c0 ON u0.b = c0.node),
        |r1 AS (SELECT a, c, CAST(row_number() OVER
        |         (PARTITION BY a ORDER BY c DESC) AS BIGINT) AS rn FROM n1),
        |c1 AS (SELECT a AS node, CAST(MAX(LEAST(rn, c)) AS BIGINT) AS c
        |       FROM r1 GROUP BY 1),
        |n2 AS (SELECT u0.a, c1.c FROM u0 JOIN c1 ON u0.b = c1.node),
        |r2 AS (SELECT a, c, CAST(row_number() OVER
        |         (PARTITION BY a ORDER BY c DESC) AS BIGINT) AS rn FROM n2),
        |c2 AS (SELECT a AS node, CAST(MAX(LEAST(rn, c)) AS BIGINT) AS c
        |       FROM r2 GROUP BY 1),
        |n3 AS (SELECT u0.a, c2.c FROM u0 JOIN c2 ON u0.b = c2.node),
        |r3 AS (SELECT a, c, CAST(row_number() OVER
        |         (PARTITION BY a ORDER BY c DESC) AS BIGINT) AS rn FROM n3),
        |c3 AS (SELECT a AS node, CAST(MAX(LEAST(rn, c)) AS BIGINT) AS c
        |       FROM r3 GROUP BY 1)
        |SELECT node, c AS coreness3 FROM c3 ORDER BY node""".stripMargin) { (s, d) =>
      val e = Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
      val und = e.union(e.select(col("b").as("a"), col("a").as("b")))
      corenessHIndex(und, rounds = 3)
        .select(col("node"), col("c").as("coreness3"))
        .orderBy("node")
    },

    // HITS — hubs and authorities on the customer->supplier order
    // graph: which suppliers do the best-connected customers
    // concentrate on? The eigenvector twin of PageRank for BIPARTITE
    // endorsement structure (PageRank needs the symmetrized graph;
    // HITS scores the two sides separately). 3 full update pairs in
    // 1e6 integer mass, sum-normalized with truncating division each
    // half-step — hash-exact vs the oracle's 12-CTE unroll.
    "graph_hits" -> QueryDef(
      """WITH e AS (SELECT DISTINCT o_custkey AS u, l_suppkey AS v
        |           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |h0 AS (SELECT DISTINCT u, CAST(1000000 AS BIGINT) AS h FROM e),
        |a1r AS (SELECT v, CAST(SUM(h) AS BIGINT) AS x
        |        FROM e JOIN h0 ON e.u = h0.u GROUP BY 1),
        |a1s AS (SELECT CAST(SUM(x) AS BIGINT) AS sx FROM a1r),
        |a1 AS (SELECT v, CAST(x * 1000000 // sx AS BIGINT) AS a FROM a1r, a1s),
        |h1r AS (SELECT u, CAST(SUM(a) AS BIGINT) AS x
        |        FROM e JOIN a1 ON e.v = a1.v GROUP BY 1),
        |h1s AS (SELECT CAST(SUM(x) AS BIGINT) AS sx FROM h1r),
        |h1 AS (SELECT u, CAST(x * 1000000 // sx AS BIGINT) AS h FROM h1r, h1s),
        |a2r AS (SELECT v, CAST(SUM(h) AS BIGINT) AS x
        |        FROM e JOIN h1 ON e.u = h1.u GROUP BY 1),
        |a2s AS (SELECT CAST(SUM(x) AS BIGINT) AS sx FROM a2r),
        |a2 AS (SELECT v, CAST(x * 1000000 // sx AS BIGINT) AS a FROM a2r, a2s),
        |h2r AS (SELECT u, CAST(SUM(a) AS BIGINT) AS x
        |        FROM e JOIN a2 ON e.v = a2.v GROUP BY 1),
        |h2s AS (SELECT CAST(SUM(x) AS BIGINT) AS sx FROM h2r),
        |h2 AS (SELECT u, CAST(x * 1000000 // sx AS BIGINT) AS h FROM h2r, h2s),
        |a3r AS (SELECT v, CAST(SUM(h) AS BIGINT) AS x
        |        FROM e JOIN h2 ON e.u = h2.u GROUP BY 1),
        |a3s AS (SELECT CAST(SUM(x) AS BIGINT) AS sx FROM a3r),
        |a3 AS (SELECT v, CAST(x * 1000000 // sx AS BIGINT) AS a FROM a3r, a3s)
        |SELECT v AS suppkey, a AS auth_micro FROM a3
        |ORDER BY auth_micro DESC, suppkey LIMIT 20""".stripMargin) { (s, d) =>
      val e = Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("u"), col("l_suppkey").as("v"))
        .distinct()
      hitsAuthorities(e, rounds = 3)
        .select(col("v").as("suppkey"), col("a").as("auth_micro"))
        .orderBy(col("auth_micro").desc, col("suppkey")).limit(20)
    },

    // K-CORE — the degeneracy peel: drop nodes of degree < k until
    // the remaining subgraph is everywhere >= k. THE community-core
    // extractor (dense-subgraph mining, spam/bot filtering before
    // expensive pairwise work). 5 peel rounds with exact-fixpoint
    // early exit; the oracle unrolls all 5, and a fixed point stays
    // fixed, so early exit is hash-safe. k = 35 bites on the
    // customer side of the order graph (suppliers sit far above).
    "graph_kcore" -> QueryDef(
      """WITH e0 AS (SELECT DISTINCT o_custkey*2 AS a, l_suppkey*2+1 AS b
        |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |u0 AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
        |d1 AS (SELECT a, COUNT(*) AS d FROM u0 GROUP BY 1),
        |n1 AS (SELECT a FROM d1 WHERE d >= 35),
        |u1 AS (SELECT u0.a, u0.b FROM u0
        |       JOIN n1 ON u0.a = n1.a JOIN n1 m ON u0.b = m.a),
        |d2 AS (SELECT a, COUNT(*) AS d FROM u1 GROUP BY 1),
        |n2 AS (SELECT a FROM d2 WHERE d >= 35),
        |u2 AS (SELECT u1.a, u1.b FROM u1
        |       JOIN n2 ON u1.a = n2.a JOIN n2 m ON u1.b = m.a),
        |d3 AS (SELECT a, COUNT(*) AS d FROM u2 GROUP BY 1),
        |n3 AS (SELECT a FROM d3 WHERE d >= 35),
        |u3 AS (SELECT u2.a, u2.b FROM u2
        |       JOIN n3 ON u2.a = n3.a JOIN n3 m ON u2.b = m.a),
        |d4 AS (SELECT a, COUNT(*) AS d FROM u3 GROUP BY 1),
        |n4 AS (SELECT a FROM d4 WHERE d >= 35),
        |u4 AS (SELECT u3.a, u3.b FROM u3
        |       JOIN n4 ON u3.a = n4.a JOIN n4 m ON u3.b = m.a),
        |d5 AS (SELECT a, COUNT(*) AS d FROM u4 GROUP BY 1),
        |n5 AS (SELECT a FROM d5 WHERE d >= 35),
        |u5 AS (SELECT u4.a, u4.b FROM u4
        |       JOIN n5 ON u4.a = n5.a JOIN n5 m ON u4.b = m.a)
        |SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS deg
        |FROM u5 GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val e = Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
      val und = e.union(e.select(col("b").as("a"), col("a").as("b")))
      kcoreEdges(und, k = 35, maxRounds = 5)
        .groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
        .orderBy("node")
    },

    // COMMON-NEIGHBOR LINK PREDICTION — for supplier pairs, how many
    // customers do both serve, and what is the Jaccard of their
    // customer sets? The classic "who-should-partner" / recommender
    // candidate scorer. The pair space is WEDGES through shared
    // customers (sum of per-customer degree squared), never
    // |S| x |S|: the self-join meets on the customer key, and a
    // degree cap (<= 200 distinct suppliers) bounds any one
    // customer's wedge fan-out — the super-node guard every
    // production common-neighbor job ships (mirrored in the oracle,
    // so it is part of the gated semantics; no testdata customer is
    // near it). Degrees and Jaccard use the SAME capped edge set, so
    // the ppm score is a true Jaccard of the analyzed graph. The
    // degree attach (one shuffle on c) leaves the relation
    // partitioned on the self-join's own key — the wedge join adds
    // no exchange.
    "graph_common_neighbors" -> QueryDef(
      """WITH e AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        |           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |cd AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY 1),
        |ec AS (SELECT e.c, e.s FROM e JOIN cd ON e.c = cd.c WHERE cd.d <= 200),
        |deg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS d FROM ec GROUP BY 1),
        |p AS (SELECT x.s AS s1, y.s AS s2, CAST(COUNT(*) AS BIGINT) AS common
        |      FROM ec x JOIN ec y ON x.c = y.c AND x.s < y.s
        |      GROUP BY 1, 2),
        |j AS (SELECT s1, s2, common,
        |        CAST(common * 1000000 // (d1.d + d2.d - common) AS BIGINT)
        |          AS jaccard_ppm
        |      FROM p JOIN deg d1 ON p.s1 = d1.s JOIN deg d2 ON p.s2 = d2.s)
        |SELECT s1, s2, common, jaccard_ppm FROM j
        |ORDER BY common DESC, s1, s2 LIMIT 20""".stripMargin) { (s, d) =>
      // materialize the distinct edge list once — cd, deg, and both
      // self-join sides all derive from it, and without the cut each
      // would re-run the fact join + distinct from the scan up
      val e = Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
        .distinct().pinned
      val cd = e.groupBy("c").agg(count(lit(1)).as("d"))
      val ec = e.join(cd, "c").where(col("d") <= 200).select("c", "s")
      val deg = ec.groupBy("s").agg(count(lit(1)).as("d"))
      // r18 — THIS query is the recorded boundary of BOTH pair-space
      // rewrites and of the agg-key pin, all measured here and
      // reverted to this r17 shape: (1) the interpreted
      // transform/slice HOF explode lost outright (2.81 -> 4.51 warm);
      // (2) the codegen'd packed_pairs explode (OPTIMIZATION_r18.md
      // §6) ALSO lost at this wedge width (12-13 s floor vs 3.2 s
      // against a same-window old-binary control) — a ~20k-element
      // array materialized per hot customer defeats the streaming
      // pair production the codegen'd self-join gets for free; the
      // explode rewrite wins only where per-key sets are
      // schema-constant-small (<= 7: the triangle family); (3) the
      // hash(c) pin + hinted cap-broadcast variant kept the self-join
      // but read 4.6-9.9 warm vs this shape's stable 2.9-3.9 in the
      // same alternating window (32 fixed AQE-less partitions under
      // the widest fan-out join in the graph family trade away the
      // post-shuffle coalescing that keeps its task sizes sane).
      val x = ec.select(col("c"), col("s").as("s1"))
      val y = ec.select(col("c").as("c2"), col("s").as("s2"))
      val p = x.join(y, col("c") === col("c2") && col("s1") < col("s2"))
        .groupBy("s1", "s2").agg(count(lit(1)).as("common"))
      p.join(broadcast(deg.select(col("s").as("s1"), col("d").as("d1"))), "s1")
        .join(broadcast(deg.select(col("s").as("s2"), col("d").as("d2"))), "s2")
        .select(col("s1"), col("s2"), col("common"),
          expr("CAST(common * 1000000 div (d1 + d2 - common) AS BIGINT)")
            .as("jaccard_ppm"))
        .orderBy(col("common").desc, col("s1"), col("s2")).limit(20)
    },

    // LOCAL CLUSTERING COEFFICIENT — per-node "how interconnected is
    // my neighborhood", the node-level refinement of graph_triangles
    // (same supplier co-order graph) and the standard small-world /
    // community-tightness feature. Triangles enumerate ONCE via the
    // same degree-ordered orientation (wedge work ~sqrt(m)-bounded,
    // Triangles.triangleCorners), then fan out to their three corners
    // — an O(triangles) explode, never a per-node neighborhood
    // self-join. cc_ppm = 2*t*1e6 div (d*(d-1)) in truncating integer
    // ppm; deg-1 nodes get NULL (coefficient undefined), triangle-free
    // nodes get 0 via the left join's coalesce. The degree attach and
    // closing-edge probe tiers are the StaticTier knob (r17) — hinted
    // broadcasts here (audit-visible via ReviewedBroadcasts), the
    // zero-broadcast-hint plan in the `_shuffled` twin below.
    "graph_clustering_coeff" -> QueryDef(ClusteringOracle) { (s, d) =>
      clusteringAt(s, d, graft.StaticTier.Broadcast)
    },

    // the ShuffledStatic tier of graph_clustering_coeff, oracle-gated
    // at every driver SF: identical logical plan, every degree/closing
    // join a shuffle_hash equi-join — the path an edge set past the
    // broadcast budget takes (bit-equality pinned in TriangleTierSpec)
    "graph_clustering_shuffled" -> QueryDef(ClusteringOracle) { (s, d) =>
      clusteringAt(s, d, graft.StaticTier.ShuffledStatic)
    },

    // MODULARITY of the nation partition on the supplier co-order
    // graph — Newman's Q per community, the metric every community-
    // detection loop (Louvain/Leiden) climbs. Computed EXACTLY:
    // contrib = 4m*e_c - D_c^2 is Q_c scaled by 4m^2, so no division
    // happens at all until the reader divides — integer-exact, hash-
    // gated, and safely within BIGINT at any graded scale (D_c <=
    // 2m, m fits an INT even at 100 TB edge counts per community
    // grouping). Plan: edge endpoints take nation via TWO broadcast
    // joins of the supplier dim; e_c / D_c / m are three tiny
    // aggregates off the same pinned edge list.
    "graph_modularity" -> QueryDef(
      """WITH p AS (SELECT DISTINCT l_orderkey, CAST(l_suppkey AS BIGINT) AS s
        |           FROM lineitem),
        |e AS (SELECT a.s AS u, b.s AS v FROM p a
        |      JOIN p b ON a.l_orderkey = b.l_orderkey AND a.s < b.s
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 4),
        |en AS (SELECT su.s_nationkey AS cu, sv.s_nationkey AS cv FROM e
        |       JOIN supplier su ON e.u = su.s_suppkey
        |       JOIN supplier sv ON e.v = sv.s_suppkey),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM en),
        |ein AS (SELECT cu AS c, CAST(COUNT(*) AS BIGINT) AS e_in
        |        FROM en WHERE cu = cv GROUP BY 1),
        |dsum AS (SELECT c, CAST(SUM(n) AS BIGINT) AS dtot FROM
        |           (SELECT cu AS c, COUNT(*) AS n FROM en GROUP BY 1
        |            UNION ALL SELECT cv, COUNT(*) FROM en GROUP BY cv)
        |         GROUP BY 1)
        |SELECT dsum.c AS nationkey, CAST(COALESCE(ein.e_in, 0) AS BIGINT) AS e_in,
        |  dsum.dtot, m.m,
        |  CAST(4 * m.m * COALESCE(ein.e_in, 0) - dsum.dtot * dsum.dtot
        |       AS BIGINT) AS q_contrib_4m2
        |FROM dsum LEFT JOIN ein ON dsum.c = ein.c CROSS JOIN m
        |ORDER BY nationkey""".stripMargin) { (s, d) =>
      // same graph, same one definition as the triangle family —
      // r18: rides the collect_set pair explode (coOrderPairCounts)
      val e = AnalyticsQueries.coOrderEdges(s, d)
      val sup = Tables.supplier(s, d)
        .select(col("s_suppkey").cast("long").as("sk"), col("s_nationkey").as("nk"))
      val en = e
        .join(broadcast(sup.select(col("sk").as("u"), col("nk").as("cu"))), "u")
        .join(broadcast(sup.select(col("sk").as("v"), col("nk").as("cv"))), "v")
        .select("cu", "cv")
        .pinned
      val m = en.agg(count(lit(1)).as("m"))
      val ein = en.where(col("cu") === col("cv"))
        .groupBy(col("cu").as("c")).agg(count(lit(1)).as("e_in"))
      val dtot = en.groupBy(col("cu").as("c")).agg(count(lit(1)).as("n"))
        .unionAll(en.groupBy(col("cv").as("c")).agg(count(lit(1)).as("n")))
        .groupBy("c").agg(sum("n").as("dtot"))
      dtot.join(ein.withColumnRenamed("c", "ce"), col("c") === col("ce"), "left")
        .crossJoin(broadcast(m))
        .select(col("c").as("nationkey"),
          coalesce(col("e_in"), lit(0L)).as("e_in"), col("dtot"), col("m"),
          expr("4 * m * coalesce(e_in, 0L) - dtot * dtot").as("q_contrib_4m2"))
        .orderBy("nationkey")
    },

    // LABEL PROPAGATION communities (Raghavan et al. 2007) — the
    // near-linear community detector that PRODUCES the partition
    // graph_modularity only scores: every node adopts its neighbors'
    // most frequent label each round, ties to the smallest label, 3
    // synchronous rounds from self-labels (deterministic by
    // construction — no RNG, no visit order; the classic async
    // variant trades determinism for convergence, the wrong trade for
    // a reproducible pipeline). The co-order graph is k-NN SPARSIFIED
    // first — each node keeps its 3 strongest co-order edges
    // (count DESC, neighbor ASC), then the kept arcs are
    // symmetrized — the standard preprocessing for community
    // detection over co-occurrence/similarity graphs: the RAW
    // co-order graph runs at avg degree ~200 where LPA provably
    // collapses to one giant label (observed at every SF), while the
    // sparsified graph keeps exactly the strong-tie backbone (162
    // communities at sf0.1). Per-round scale shape: ONE edge-keyed
    // equi-join of the node-sized label table into the pinned
    // adjacency, one (node, label) partial agg, one per-node argmax
    // window over the aggregated votes — O(m) work and O(nodes ×
    // distinct-neighbor-labels) window rows per round, never a
    // neighborhood self-join; the sparsifier itself is one rank
    // window over the weighted arcs. Oracle unrolls the three rounds
    // as CTEs over the same sparsified edge set.
    "graph_label_propagation" -> QueryDef(
      """WITH p AS (SELECT DISTINCT l_orderkey, CAST(l_suppkey AS BIGINT) AS s
        |           FROM lineitem),
        |co AS (SELECT a.s AS u, b.s AS v, CAST(COUNT(*) AS BIGINT) AS c
        |       FROM p a
        |       JOIN p b ON a.l_orderkey = b.l_orderkey AND a.s < b.s
        |       GROUP BY 1, 2),
        |arcs AS (SELECT u AS n, v AS nb, c FROM co
        |         UNION ALL SELECT v, u, c FROM co),
        |top AS (SELECT n, nb FROM (
        |          SELECT n, nb, ROW_NUMBER() OVER (
        |            PARTITION BY n ORDER BY c DESC, nb) AS rn FROM arcs)
        |        WHERE rn <= 3),
        |und AS (SELECT n, nb FROM top UNION SELECT nb, n FROM top),
        |v1 AS (SELECT n, nb AS lab, COUNT(*) AS c FROM und GROUP BY 1, 2),
        |l1 AS (SELECT n, lab FROM (
        |         SELECT n, lab, ROW_NUMBER() OVER (
        |           PARTITION BY n ORDER BY c DESC, lab) AS rn FROM v1)
        |       WHERE rn = 1),
        |v2 AS (SELECT und.n, l1.lab, COUNT(*) AS c FROM und
        |       JOIN l1 ON und.nb = l1.n GROUP BY 1, 2),
        |l2 AS (SELECT n, lab FROM (
        |         SELECT n, lab, ROW_NUMBER() OVER (
        |           PARTITION BY n ORDER BY c DESC, lab) AS rn FROM v2)
        |       WHERE rn = 1),
        |v3 AS (SELECT und.n, l2.lab, COUNT(*) AS c FROM und
        |       JOIN l2 ON und.nb = l2.n GROUP BY 1, 2),
        |l3 AS (SELECT n, lab FROM (
        |         SELECT n, lab, ROW_NUMBER() OVER (
        |           PARTITION BY n ORDER BY c DESC, lab) AS rn FROM v3)
        |       WHERE rn = 1)
        |SELECT n AS node, lab AS label FROM l3
        |ORDER BY node""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      // the UNFILTERED co-order pair counts (arc weights) — r18: same
      // collect_set pair explode as the triangle family's edges
      val co = AnalyticsQueries.coOrderPairCounts(s, d)
        .withColumnRenamed("cnt", "c")
      val arcs = co.select(col("u").as("n"), col("v").as("nb"), col("c"))
        .unionAll(co.select(col("v").as("n"), col("u").as("nb"), col("c")))
      val top = arcs.withColumn("rn", row_number().over(
          Window.partitionBy("n").orderBy(col("c").desc, col("nb"))))
        .where(col("rn") <= 3).select("n", "nb")
      // three rounds re-read the sparsified adjacency — pin it once
      // (bounded at <= 6 arcs per node by the k-NN cap; 100 TB
      // substitute is persist(DISK_ONLY)). r18: hash-pinned on "n" —
      // every round's vote groupBy(n, lab) AND argmax window
      // partitionBy(n) then run exchange-free off the pin (the
      // node-sized label table broadcast-joins in, preserving the
      // streamed side's partitioning), the coreness agg-key-pin shape
      val und = GraphLoops.hashPin(
        top.unionAll(top.select(col("nb").as("n"), col("n").as("nb")))
          .distinct(), "n")
      val wnd = Window.partitionBy("n").orderBy(col("c").desc, col("lab"))
      def argmax(votes: DataFrame): DataFrame =
        votes.withColumn("rn", row_number().over(wnd))
          .where(col("rn") === 1).select("n", "lab")
      // round 1: every neighbor still carries its self-label
      val l1 = argmax(und.groupBy(col("n"), col("nb").as("lab"))
        .agg(count(lit(1)).as("c")))
      // the label table is node-sized (one row per node, an argmax
      // over an Aggregate) — broadcast it EXPLICITLY so the pinned
      // hash(n) adjacency is always the streamed side (unhinted, the
      // planner broadcast the smaller pinned adjacency instead, and
      // the vote agg + argmax window re-shuffled every round)
      val l3 = Seq(2, 3).foldLeft(l1) { (lab, _) =>
        argmax(und.join(broadcast(lab.withColumnRenamed("n", "nb")), "nb")
          .groupBy("n", "lab").agg(count(lit(1)).as("c")))
      }
      l3.select(col("n").as("node"), col("lab").as("label"))
        .orderBy("node")
    },

    // PERSONALIZED PAGERANK — random-walk-with-restart mass from one
    // seed customer over the customer<->supplier co-order graph: the
    // standard "related entities" recommender primitive (vs global
    // PageRank's one static ranking). 3 unrolled diffusion rounds in
    // 1e-12 integer units, damping 85/100 with truncating division —
    // hash-exact vs the oracle's 3-CTE unroll. The restart mass
    // re-enters via a UNION of the constant seed row (not a join), so
    // the update stays one state join + one partial agg per round on
    // the pinned edge list; nodes the walk has not reached are absent
    // rather than zero on BOTH engines.
    "graph_ppr" -> QueryDef(PprOracleSql) { (s, d) =>
      pprRounds(pprEdges(s, d), seed = 2L, rounds = 3)
        .orderBy(col("r").desc, col("node")).limit(20)
    },

    // the SAME personalized PageRank through the CoPartitioned tier —
    // the plan for vertex sets past broadcast limits (edge list
    // hash-pinned once; only the O(nodes) walk state shuffles per
    // round) — under the full driver gate with the identical oracle,
    // proving tier hash-equality end-to-end the way graph_bfs_copart
    // does for BFS.
    "graph_ppr_copart" -> QueryDef(PprOracleSql) { (s, d) =>
      pprRounds(pprEdges(s, d), seed = 2L, rounds = 3,
          strategy = GraphLoops.CoPartitioned)
        .orderBy(col("r").desc, col("node")).limit(20)
    },

    // LANDMARK CLOSENESS — per-landmark mean BFS distance over the
    // 3-hop reachable set, the sampled stand-in for exact closeness
    // centrality (all-pairs BFS is quadratic; production closeness is
    // always landmark-sampled, e.g. web-graph centrality estimates).
    // Three frontier loops share the [[GraphLoops.bfsHops]] machinery
    // (hash-gated there and in graph_bfs_hops); the per-landmark
    // summary is an exact integer (n_reached, hop_sum, truncating
    // mean-micro). Oracle: three recursive CTEs with min-hop
    // grouping, unioned.
    "graph_closeness" -> QueryDef(
      """WITH RECURSIVE eh AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS a,
        |        -CAST(l_suppkey AS BIGINT) AS b
        |      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |ed AS (SELECT a, b FROM eh UNION ALL SELECT b, a FROM eh),
        |b1(node, hop) AS (
        |  SELECT CAST(1 AS BIGINT), 0 UNION ALL
        |  SELECT ed.b, MIN(b1.hop) + 1 FROM b1 JOIN ed ON ed.a = b1.node
        |  WHERE b1.hop < 3 GROUP BY ed.b),
        |b2(node, hop) AS (
        |  SELECT CAST(2 AS BIGINT), 0 UNION ALL
        |  SELECT ed.b, MIN(b2.hop) + 1 FROM b2 JOIN ed ON ed.a = b2.node
        |  WHERE b2.hop < 3 GROUP BY ed.b),
        |b3(node, hop) AS (
        |  SELECT CAST(3 AS BIGINT), 0 UNION ALL
        |  SELECT ed.b, MIN(b3.hop) + 1 FROM b3 JOIN ed ON ed.a = b3.node
        |  WHERE b3.hop < 3 GROUP BY ed.b),
        |hops AS (
        |  SELECT CAST(1 AS BIGINT) AS landmark, node, MIN(hop) AS hop
        |  FROM b1 GROUP BY 1, 2
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), node, MIN(hop) FROM b2 GROUP BY 1, 2
        |  UNION ALL
        |  SELECT CAST(3 AS BIGINT), node, MIN(hop) FROM b3 GROUP BY 1, 2)
        |SELECT landmark, CAST(COUNT(*) AS BIGINT) AS n_reached,
        |  CAST(SUM(hop) AS BIGINT) AS hop_sum,
        |  CAST(SUM(hop) * 1000000 // COUNT(*) AS BIGINT) AS mean_hop_micro
        |FROM hops GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val eh = Tables.orders(s, d).join(Tables.lineitem(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").cast("long").as("a"),
          (-col("l_suppkey")).cast("long").as("b"))
        .distinct()
        .pinned // shared by all three frontier loops
      val ed = eh.unionAll(eh.select(col("b").as("a"), col("a").as("b")))
      // r18: ONE pin shared by all three landmark loops (each bfsHops
      // call used to re-materialize the edge list), and the three
      // loops — independent chains of eager per-round frontier pins —
      // run OVERLAPPED from a small driver pool (guide §2.6: the
      // scheduler back-fills each loop's stage tails with the other
      // landmarks' jobs). Result rows are identical: the union is
      // order-insensitive and each loop is deterministic. A plain
      // (un-keyed) pin, per the bfsHops agg-key-pin revert note.
      val edP = GraphLoops.pinEdges(ed, "a", GraphLoops.Broadcast)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val perLandmark = Await.result(
        Future.sequence(Seq(1L, 2L, 3L).map { src =>
          Future(GraphLoops.bfsHopsPinned(edP, source = src, rounds = 3)
            .select(lit(src).as("landmark"), col("node"), col("hop")))
        }), Duration.Inf).reduce(_ unionByName _)
      perLandmark.groupBy("landmark")
        .agg(count(lit(1)).as("n_reached"), sum("hop").as("hop_sum"),
          expr("CAST(SUM(hop) * 1000000 div COUNT(*) AS BIGINT)")
            .as("mean_hop_micro"))
        .orderBy("landmark")
    },

    // DEGREE DISTRIBUTION — the first diagnostic run on ANY graph:
    // how many nodes carry each degree (hub detection, power-law
    // sanity, super-node budgeting before join planning — the number
    // that told graph_common_neighbors where to cap). Two partial-
    // aggregated reductions: edges -> per-node degree -> per-degree
    // node count; never more than O(nodes) intermediate. Runs on the
    // customer<->supplier bipartite co-order graph (the coreness/BFS
    // family's graph), whose two sides carry genuinely different
    // degree profiles — the supplier co-order projection is
    // near-complete at small SF and would collapse to one row.
    "graph_degree_dist" -> QueryDef(
      """WITH e0 AS (SELECT DISTINCT o_custkey*2 AS a, l_suppkey*2+1 AS b
        |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |u0 AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
        |deg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS d FROM u0 GROUP BY 1)
        |SELECT CASE WHEN a % 2 = 0 THEN 'customer' ELSE 'supplier' END AS side,
        |  d AS degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
        |FROM deg GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val e0 = Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
      val u0 = e0.union(e0.select(col("b").as("a"), col("a").as("b")))
      u0.groupBy("a").agg(count(lit(1)).as("d"))
        .groupBy(when(col("a") % 2 === 0, "customer").otherwise("supplier")
          .as("side"), col("d").as("degree"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy("side", "degree")
    }
  )
}
