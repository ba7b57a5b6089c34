package graft.rel
import graft.Pinned.PinnedOps

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Fixtures, QueryDef, Tables}
import graft.sources.SnapshotStore

/** Round-5 analytics surface: iterative graph ranking, Pareto
  * frontiers, robust outlier detection, dataset profiling, and the
  * remaining distribution-window functions — the "what else does an
  * analytics engine ship" tier beyond the relational core.
  *
  * Determinism doctrine (same as the tick reducers): anything iterated
  * or aggregated across partitions computes in INTEGER fixed-point so
  * the result is independent of partitioning and addition order —
  * PageRank carries rank mass in 1e-12 units, MAD works on value
  * cents, the skyline compares integer cents/dates. Doubles appear
  * only in single-expression scalar math where both engines execute
  * the identical IEEE op sequence.
  */
object AnalyticsQueries {

  /** All click events in the store's row model: key = event_id,
    * part = day, vc = integer cents.
    */
  private def clicksOf(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.events(s, d).where(col("event_type") === "click")
      .select(col("event_id").cast("string").as("key"),
        date_format(col("ts"), "yyyy-MM-dd").as("part"),
        lit(0L).as("seq"),
        expr("CAST(round(value*100) AS BIGINT)").as("vc"))

  /** Supplier co-order pair counts — `(u, v, cnt)`, u < v, cnt = how
    * many orders both suppliers appear in. The shared prefix of the
    * whole co-order family: [[coOrderEdges]] (triangles/clustering and
    * their `_shuffled` twins, modularity) filters `cnt >= 4`; label
    * propagation keeps the raw counts as arc weights.
    *
    * r18 optimization (guide §2.3/§2.4 — aggregate before you shuffle,
    * remove shuffles outright): the r17 shape was
    * `distinct(l_orderkey, sk)` + a self-equi-join on `l_orderkey` +
    * `groupBy(u, v)` — one exchange for the distinct, one (reused
    * twice) for the join legs, a sort-merge join of the incidence
    * list against itself, and a third exchange for the pair count.
    * The per-order supplier set is bounded by lines-per-order (<= 7
    * on this corpus and O(lines/order) generally), so the same pair
    * multiset falls out of ONE `groupBy(l_orderkey).collect_set` (a
    * partial-aggregating exchange of the incidence rows, which the
    * set dedups for free — no separate distinct pass) followed by an
    * in-row sorted pair explode (<= k(k-1)/2 rows per order) and the
    * (u, v) count. 2 exchanges, no join, no sort: the plan drops from
    * [Exchange, SMJ(sort x2), Exchange, Exchange] to
    * [Exchange, Generate, Exchange]. Equivalence is pinned row-exact
    * against the old formulation in CoOrderPairsSpec, and the six
    * consumer queries stay oracle-green (same CoOrderEdgeCte oracle).
    * Scale note: the explode fan-out is quadratic only in
    * lines-per-order (a SCHEMA constant, not a data axis) and the
    * collect_set buffer is bounded the same way, so the 100 TB shape
    * is unchanged — strictly fewer bytes cross the wire than the
    * self-join moved.
    */
  private[rel] def coOrderPairCounts(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey").cast("long").as("sk"))
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("sk"))).as("sks"))
      // r18: codegen'd packed pair expansion (suppkeys are 32-bit, so
      // a pair rides one long) — same sorted (u < v) pair multiset as
      // the HOF flatten/transform/slice spelling it replaces, without
      // the interpreted-lambda tax per order row (CoOrderPairsSpec
      // pins row-exactness against the r17 self-join reference)
      .select(explode(graft.functions.GraftExpressions.packed_pairs(col("sks"))).as("pk"))
      .select(shiftrightunsigned(col("pk"), 32).as("u"),
        col("pk").bitwiseAND(lit(0xFFFFFFFFL)).as("v"))
      .groupBy("u", "v")
      .agg(count(lit(1)).as("cnt"))

  /** The supplier co-order graph the whole triangle family runs on
    * (graph_triangles, graph_clustering_coeff and their `_shuffled`
    * twins, graph_modularity): edge = two suppliers co-supplying
    * >= 4 orders, u < v dedup'd. One definition holds the family
    * invariant "same graph" ([[CoOrderEdgeCte]] is the oracle-side
    * twin); the pair aggregation itself is [[coOrderPairCounts]].
    */
  private[rel] def coOrderEdges(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    coOrderPairCounts(s, d)
      .where(col("cnt") >= 4)
      .select("u", "v")

  /** graph_triangles body at a given [[graft.StaticTier]] — shared by
    * the bench (Broadcast) query and its oracle-gated `_shuffled` twin
    * (TriangleTierSpec pins bit-equality; the twin's plan carries zero
    * broadcast hints).
    */
  private def trianglesAt(s: org.apache.spark.sql.SparkSession, d: String,
                          tier: graft.StaticTier): DataFrame = {
    // pin the co-order aggregation: nEdges, deg, and the 3 logical
    // copies of the oriented edge relation all read e — unpinned, the
    // gen3 decade cell measured the lineitem pair-agg re-running per
    // copy (39 s vs 19 s for the clustering twin that already pinned)
    val e = coOrderEdges(s, d).pinned
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    nEdges.crossJoin(Triangles.trianglesDf(e, tier))
  }

  /** Oracle-side spelling of [[coOrderEdges]] — the `p`/`e` CTE
    * prefix every triangle-family oracle starts with.
    */
  private[rel] val CoOrderEdgeCte =
    """WITH p AS (SELECT DISTINCT l_orderkey, CAST(l_suppkey AS BIGINT) AS s
      |           FROM lineitem),
      |e AS (SELECT a.s AS u, b.s AS v FROM p a
      |      JOIN p b ON a.l_orderkey = b.l_orderkey AND a.s < b.s
      |      GROUP BY 1, 2 HAVING COUNT(*) >= 4)""".stripMargin

  private val TrianglesOracle = CoOrderEdgeCte + """
      |SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
      |       CAST((SELECT COUNT(*) FROM e e1
      |             JOIN e e2 ON e2.u = e1.v
      |             JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS BIGINT) AS n_triangles""".stripMargin

  /** The incremental-refresh step of store_incremental_view: advance a
    * stored per-partition (part, n, total) count/sum view from
    * `fromV` to `toV` by applying the change data feed — insert/delete
    * adjust n, postimage-minus-preimage (and insert/delete vc) adjust
    * total; a partition refreshed to zero rows leaves the view. Reads
    * only the changed partitions plus the view itself.
    */
  private[graft] def refreshCountSumView(
      s: org.apache.spark.sql.SparkSession, base: String,
      mv: org.apache.spark.sql.DataFrame, fromV: Int, toV: Int): org.apache.spark.sql.DataFrame = {
    val delta = graft.sources.SnapshotStore.changes(s, base, fromV, toV)
      .groupBy("part")
      .agg(
        sum(when(col("change_type") === "insert", 1L)
          .when(col("change_type") === "delete", -1L)
          .otherwise(0L)).as("dn"),
        sum(when(col("change_type").isin("insert", "update_postimage"), col("vc"))
          .when(col("change_type").isin("delete", "update_preimage"), -col("vc"))
          .otherwise(0L)).as("dtotal"))
    mv.join(delta, Seq("part"), "full_outer")
      .select(col("part"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("total"), lit(0L)) + coalesce(col("dtotal"), lit(0L))).as("total"))
      .where(col("n") > 0)
  }

  /** Build (once per sf dir) the two-version click snapshot store
    * that store_time_travel / store_history / changes query: v1 = all
    * clicks keyed by event_id, day-partitioned; v2 = the day-5 rows
    * upserted with +1000 cents.
    */
  private def ensureClickStore(s: org.apache.spark.sql.SparkSession, d: String): String =
    Fixtures.cached(s, d, "snap", "events") { base =>
      SnapshotStore.commit(s, base, clicksOf(s, d))
      SnapshotStore.commit(s, base,
        clicksOf(s, d).where(col("part") === "2024-01-05")
          .withColumn("seq", lit(1L))
          .withColumn("vc", col("vc") + 1000L))
    }

  /** Three-version store for store_delete_vectors: v1 = all clicks,
    * v2 = DELETION-VECTOR delete of every key%3==0 row (no data dir
    * rewritten — the manifest gains a (key, part) sidecar), v3 = a
    * commit re-inserting the key%6==0 half with +5000 cents (which
    * must CLEAR those keys from the DV so the new rows surface).
    */
  private def ensureDvStore(s: org.apache.spark.sql.SparkSession, d: String): String =
    Fixtures.cached(s, d, "snapdv", "events") { base =>
      SnapshotStore.commit(s, base, clicksOf(s, d))
      SnapshotStore.deleteRowsDv(s, base,
        clicksOf(s, d).where(col("key").cast("long") % 3 === 0)
          .select("key", "part"))
      SnapshotStore.commit(s, base,
        clicksOf(s, d).where(col("key").cast("long") % 6 === 0)
          .withColumn("seq", lit(1L))
          .withColumn("vc", col("vc") + 5000L))
    }

  /** One-version store for store_zone_skip: clicks keyed by event_id,
    * day-partitioned, with vc = EPOCH MICROSECONDS — a value axis that
    * correlates with the partition axis, exactly the layout where
    * zone-map stats turn a value-range query into a few-partition
    * read without the reader knowing the partition semantics.
    */
  private def ensureZoneStore(s: org.apache.spark.sql.SparkSession, d: String): String =
    Fixtures.cached(s, d, "snapzone", "events") { base =>
      SnapshotStore.commit(s, base,
        Tables.events(s, d).where(col("event_type") === "click")
          .select(col("event_id").cast("string").as("key"),
            date_format(col("ts"), "yyyy-MM-dd").as("part"),
            lit(0L).as("seq"),
            expr("unix_micros(ts)").as("vc")))
    }

  /** Branch store for store_branch_diff: a shallow clone of the click
    * store (zero-copy v1) that then DIVERGES — one commit upserting
    * the day-7 rows (+777) and inserting fresh keys on day 3. The
    * clone's evolution never touches the source's dirs.
    */
  private def ensureBranchStore(s: org.apache.spark.sql.SparkSession, d: String): String =
    Fixtures.cached(s, d, "snapbranch", "events") { base =>
      SnapshotStore.shallowClone(s, ensureClickStore(s, d), base)
      SnapshotStore.commit(s, base,
        clicksOf(s, d).where(col("part") === "2024-01-07")
          .withColumn("seq", lit(2L))
          .withColumn("vc", col("vc") + 777L)
          .unionByName(clicksOf(s, d)
            .where(col("part") === "2024-01-03" && col("key").cast("long") % 3 === 0)
            .withColumn("key", (col("key").cast("long") + 900000L).cast("string"))
            .withColumn("seq", lit(2L))))
    }

  /** Two-version store for store_schema_evolution: v2's day-5 upsert
    * CARRIES A COLUMN v1 NEVER HAD (`quality`) — the schema evolves in
    * place, no historical rewrite.
    */
  private def ensureEvoStore(s: org.apache.spark.sql.SparkSession, d: String): String =
    Fixtures.cached(s, d, "snapevo", "events") { base =>
      SnapshotStore.commit(s, base, clicksOf(s, d))
      SnapshotStore.commit(s, base,
        clicksOf(s, d).where(col("part") === "2024-01-05")
          .withColumn("seq", lit(1L))
          .withColumn("quality", col("vc") % 100))
    }

  /** Four-version customer-dimension store for store_scd2 — the classic
    * slowly-changing-dimension ingest timeline, synthesized
    * deterministically from `customer`: v1 full load, v2 moves the
    * custkey%10==0 segment, v3 moves custkey%20==5 AND inserts 20 new
    * keys, v4 deletes custkey%50==7 by predicate. The three change
    * families are arithmetically disjoint per version so every CDF
    * branch is exercised without rule interaction.
    */
  private def ensureDimStore(s: org.apache.spark.sql.SparkSession, d: String): String = {
    def dim = Tables.customer(s, d).select(
      col("c_custkey").cast("string").as("key"),
      (col("c_custkey") % 5).cast("string").as("part"),
      lit(0L).as("seq"), col("c_custkey").as("vc"),
      col("c_mktsegment").as("seg"))
    Fixtures.cached(s, d, "snapdim", "customer") { base =>
      SnapshotStore.commit(s, base, dim)
      SnapshotStore.commit(s, base,
        dim.where(col("vc") % 10 === 0)
          .withColumn("seq", lit(1L)).withColumn("seg", lit("MOVED1")))
      SnapshotStore.commit(s, base,
        dim.where(col("vc") % 20 === 5)
          .withColumn("seq", lit(2L)).withColumn("seg", lit("MOVED2"))
          .unionByName(dim.where(col("vc") < 20)
            .withColumn("key", (col("vc") + 1000000L).cast("string"))
            .withColumn("vc", col("vc") + 1000000L)
            .withColumn("seq", lit(2L))))
      SnapshotStore.delete(s, base, Seq("0", "1", "2", "3", "4"),
        col("key").cast("long") % 50 === 7)
    }
  }

  /** Two-version orders fact store + the v1 denormalized join view
    * MATERIALIZED to parquet, for store_incremental_join: v1 = the
    * orderkey%3!=0 orders, v2 = the rest committed as inserts. Returns
    * (store base, mv path).
    */
  private def ensureFactStore(s: org.apache.spark.sql.SparkSession, d: String): (String, String) = {
    def fact(pred: org.apache.spark.sql.Column) =
      Tables.orders(s, d).where(pred).select(
        col("o_orderkey").cast("string").as("key"),
        date_format(col("o_orderdate"), "yyyy-MM").as("part"),
        lit(0L).as("seq"), col("o_orderkey").as("vc"),
        col("o_custkey").as("cust"),
        expr("CAST(round(o_totalprice*100) AS BIGINT)").as("pc"),
        col("o_orderstatus").as("st"))
    def mvPath(base: String) = s"$base/mv_join_v1"
    val base = Fixtures.cached(s, d, "snapfact", "orders", "customer") { base =>
      SnapshotStore.commit(s, base, fact(col("o_orderkey") % 3 =!= 0))
      SnapshotStore.commit(s, base, fact(col("o_orderkey") % 3 === 0))
      SnapshotStore.readVersion(s, base, 1)
        .join(broadcast(Tables.customer(s, d)
          .select(col("c_custkey").as("cust"), col("c_mktsegment").as("seg"))), "cust")
        .select("key", "seg", "st", "pc")
        .write.parquet(mvPath(base))
    }
    (base, mvPath(base))
  }

  /** CDF-driven FOLLOWER store for store_replicate_cdf: v1 = initial
    * sync (a snapshot read of the source's v1), v2 = the source's
    * 1->2 change feed applied as an upsert — Delta-CDC replication in
    * miniature. Only the feed crosses "the wire"; the follower never
    * re-reads the source table.
    */
  private def ensureReplicaStore(s: org.apache.spark.sql.SparkSession, d: String): String =
    Fixtures.cached(s, d, "snaprepl", "events") { base =>
      val src = ensureClickStore(s, d)
      SnapshotStore.commit(s, base, SnapshotStore.readVersion(s, src, 1))
      SnapshotStore.commit(s, base,
        SnapshotStore.changes(s, src, 1, 2, withValues = true)
          .where(col("change_type").isin("insert", "update_postimage"))
          .select("key", "part", "seq", "vc"))
    }

  /** See [[graft.tick.StoreQueries.benchSetups]]: fixture builders the
    * bench times once, outside the measured laps.
    */
  private[graft] val benchSetups
      : Map[String, (org.apache.spark.sql.SparkSession, String) => Unit] = Map(
    "store_scd2" -> ((s, d) => { ensureDimStore(s, d); () }),
    "store_incremental_join" -> ((s, d) => { ensureFactStore(s, d); () }),
    "store_replicate_cdf" -> ((s, d) => { ensureReplicaStore(s, d); () }),
    "store_delete_vectors" -> ((s, d) => { ensureDvStore(s, d); () }),
    "store_zone_skip" -> ((s, d) => { ensureZoneStore(s, d); () }),
    "store_branch_diff" -> ((s, d) => { ensureBranchStore(s, d); () }))

  val defs: Map[String, QueryDef] = Map(

    // ZONE-MAP DATA SKIPPING — a value-range query answered by
    // manifest-level stats pruning: commit() records each partition's
    // (min vc, max vc), and readVersionVcRange scans ONLY partitions
    // whose band intersects the range (here vc = epoch micros, which
    // correlates with the day partitioning — the Iceberg/Delta
    // file-skipping pattern that makes "last 3 days of a 100 TB
    // store" a 3-partition read). Stats are optional metadata:
    // unindexed partitions read conservatively and the residual
    // filter keeps the result exact either way; SnapshotSpec pins
    // that the pruned scan actually touches only the overlapping
    // partitions' files.
    "store_zone_skip" -> QueryDef(
      """WITH c AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS part, epoch_us(ts) AS us
        |  FROM events WHERE event_type = 'click')
        |SELECT part, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(us) AS BIGINT) AS total_us
        |FROM c
        |WHERE us >= 1704672000000000 AND us <= 1704931199999999
        |GROUP BY part ORDER BY part""".stripMargin) { (s, d) =>
      val base = ensureZoneStore(s, d)
      SnapshotStore.readVersionVcRange(s, base,
          SnapshotStore.currentVersion(s, base),
          lo = 1704672000000000L, hi = 1704931199999999L)
        .groupBy("part")
        .agg(count(lit(1)).as("n"), sum("vc").as("total_us"))
        .orderBy("part")
    },

    // DELETION-VECTOR lifecycle under the oracle gate: v1 all clicks,
    // v2 deletes every key%3==0 row via a (key, part) sidecar with NO
    // data dir rewritten, v3 re-inserts the key%6==0 half (+5000
    // cents), which must clear those keys from the DV. The read is
    // the scale point: one broadcast anti-join of a deletes-sized
    // sidecar against the snapshot scan — a scattered-key delete on a
    // 100 TB store costs one tiny file, where [[SnapshotStore.delete]]
    // would rewrite every touched partition. The oracle reconstructs
    // the surviving-row algebra from raw events.
    "store_delete_vectors" -> QueryDef(
      """WITH c AS (
        |  SELECT event_id AS id, strftime(ts, '%Y-%m-%d') AS part,
        |    CAST(round(value*100) AS BIGINT) AS vc
        |  FROM events WHERE event_type = 'click'),
        |r AS (SELECT part,
        |        CASE WHEN id % 6 = 0 THEN vc + 5000 ELSE vc END AS vc
        |      FROM c WHERE id % 3 <> 0 OR id % 6 = 0)
        |SELECT part, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(vc) AS BIGINT) AS total
        |FROM r GROUP BY part ORDER BY part""".stripMargin) { (s, d) =>
      val base = ensureDvStore(s, d)
      SnapshotStore.readVersion(s, base, 3)
        .groupBy("part")
        .agg(count(lit(1)).as("n"), sum("vc").as("total"))
        .orderBy("part")
    },

    // SCD TYPE-2 dimension build — the warehouse-standard "what did
    // this dimension row look like on any past day" table — from the
    // snapshot store's VALUE-CARRYING change feed: the v1 snapshot
    // opens every key's first interval, each later version's
    // insert/update_postimage rows open new intervals (and implicitly
    // close the prior one), delete rows close without reopening. Scale
    // shape: after the one-time initial load, each refresh consumes
    // ONLY the CDF of that version step — O(changed rows) via the
    // manifest diff, never a re-read of the dimension — and the
    // interval-closing lead() windows over (key, version) events,
    // whose volume is initial + total churn. Oracle replays the same
    // four-version timeline from raw `customer`.
    "store_scd2" -> QueryDef(
      """WITH c AS (SELECT c_custkey AS k, c_mktsegment AS seg FROM customer),
        |ev AS (
        |  SELECT CAST(k AS VARCHAR) AS key, seg, 1 AS v, 0 AS is_del FROM c
        |  UNION ALL
        |  SELECT CAST(k AS VARCHAR), 'MOVED1', 2, 0 FROM c WHERE k % 10 = 0
        |  UNION ALL
        |  SELECT CAST(k AS VARCHAR), 'MOVED2', 3, 0 FROM c WHERE k % 20 = 5
        |  UNION ALL
        |  SELECT CAST(k + 1000000 AS VARCHAR), seg, 3, 0 FROM c WHERE k < 20
        |  UNION ALL
        |  SELECT CAST(k AS VARCHAR), NULL, 4, 1 FROM c WHERE k % 50 = 7
        |  UNION ALL
        |  SELECT CAST(k + 1000000 AS VARCHAR), NULL, 4, 1 FROM c
        |  WHERE k < 20 AND (k + 1000000) % 50 = 7),
        |scd AS (SELECT key, seg, v, is_del,
        |          lead(v) OVER (PARTITION BY key ORDER BY v) AS valid_to
        |        FROM ev)
        |SELECT key, seg, CAST(v AS INTEGER) AS valid_from,
        |       CAST(valid_to AS INTEGER) AS valid_to
        |FROM scd WHERE is_del = 0
        |ORDER BY key, valid_from""".stripMargin) { (s, d) =>
      val base = ensureDimStore(s, d)
      val initial = SnapshotStore.readVersion(s, base, 1)
        .select(col("key"), col("seg"), lit(1).as("v"), lit(0).as("is_del"))
      val deltas = (2 to 4).map { v =>
        SnapshotStore.changes(s, base, v - 1, v, withValues = true)
          .where(col("change_type").isin("insert", "update_postimage", "delete"))
          .select(col("key"), col("seg"), lit(v).as("v"),
            when(col("change_type") === "delete", 1).otherwise(0).as("is_del"))
      }.reduce(_ unionByName _)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("key").orderBy("v")
      initial.unionByName(deltas)
        .withColumn("valid_to", lead(col("v"), 1).over(w))
        .where(col("is_del") === 0)
        .select(col("key"), col("seg"), col("v").as("valid_from"),
          col("valid_to"))
        .orderBy("key", "valid_from")
    },

    // INCREMENTAL join-view maintenance — the denormalized
    // fact-join-dimension table every warehouse keeps — via the
    // value-carrying CDF: the expensive fact⋈dim join ran ONCE when v1
    // materialized; advancing to v2 joins ONLY the CDF insert set
    // against the broadcast dimension and unions it onto the stored
    // view. Refresh cost is O(new rows), not O(fact table) — at 100 TB
    // the difference between a minute and a full rebuild. The oracle
    // recomputes the v2 view from raw orders⋈customer; equality proves
    // the incremental path converges to the batch answer.
    "store_incremental_join" -> QueryDef(
      """SELECT c_mktsegment AS seg, o_orderstatus AS st,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val (base, mvPath) = ensureFactStore(s, d)
      val delta = SnapshotStore.changes(s, base, 1, 2, withValues = true)
        .where(col("change_type") === "insert")
        .join(broadcast(Tables.customer(s, d)
          .select(col("c_custkey").as("cust"), col("c_mktsegment").as("seg"))), "cust")
        .select("key", "seg", "st", "pc")
      s.read.parquet(mvPath).unionByName(delta)
        .groupBy("seg", "st")
        .agg(count(lit(1)).as("n"), sum("pc").as("total"))
        .orderBy("seg", "st")
    },

    // CDC REPLICATION: a follower store bootstraps from the source's
    // v1 snapshot, then stays in sync by applying the source's CHANGE
    // FEED (insert + postimage rows re-committed under LWW) — the
    // Delta-CDC / Debezium-consumer pattern. Only the feed crosses the
    // wire: the follower's refresh cost is O(changed rows), and the
    // oracle proves the replica CONVERGES to the source's v2 state
    // byte-for-byte (same aggregate the source's own gate uses). A
    // feed-driven follower is how a 100 TB table fans out to regional
    // replicas without ever re-shipping the table.
    "store_replicate_cdf" -> QueryDef(
      """WITH c AS (SELECT strftime(ts, '%Y-%m-%d') AS part,
        |             CAST(round(value*100) AS BIGINT)
        |               + CASE WHEN strftime(ts, '%Y-%m-%d') = '2024-01-05'
        |                      THEN 1000 ELSE 0 END AS vc
        |           FROM events WHERE event_type = 'click')
        |SELECT part, COUNT(*) AS n, CAST(SUM(vc) AS BIGINT) AS total
        |FROM c GROUP BY part ORDER BY part""".stripMargin) { (s, d) =>
      val base = ensureReplicaStore(s, d)
      SnapshotStore.readVersion(s, base, 2)
        .groupBy("part")
        .agg(count(lit(1)).as("n"), sum("vc").as("total"))
        .orderBy("part")
    },

    // Chi-squared independence test of segment x nation over customers
    // — the "is this feature informative / is this split biased" gate a
    // feature-engineering or data-audit pipeline runs before training.
    // Observed counts, row/column totals and N are exact BIGINTs; the
    // zero-observed cells of the full segment x nation grid are
    // RE-INSTATED via the marginals cross join (they still contribute
    // their expectation). Per-cell contributions are rounded to
    // micro-units and integer-summed, so the statistic is
    // partition-order independent and hash-exact — the same
    // round-then-fixed-point idiom as text_lm_surprisal. Scale shape:
    // one groupBy over the data, then everything lives in the tiny
    // (segments x nations) aggregate space.
    "stat_chi2" -> QueryDef(
      """WITH o AS (SELECT c_mktsegment AS seg, c_nationkey AS nat,
        |             CAST(COUNT(*) AS BIGINT) AS c
        |           FROM customer GROUP BY 1, 2),
        |t AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM o),
        |r AS (SELECT seg, CAST(SUM(c) AS BIGINT) AS rc FROM o GROUP BY 1),
        |k AS (SELECT nat, CAST(SUM(c) AS BIGINT) AS cc FROM o GROUP BY 1),
        |grid AS (
        |  SELECT r.seg, k.nat, r.rc, k.cc, COALESCE(o.c, 0) AS c
        |  FROM r CROSS JOIN k
        |  LEFT JOIN o ON o.seg = r.seg AND o.nat = k.nat),
        |cell AS (
        |  SELECT c, CAST(rc AS DOUBLE) * cc / n AS ex
        |  FROM grid CROSS JOIN t)
        |SELECT
        |  CAST(SUM(CAST(round(1000000 * (c - ex) * (c - ex) / ex) AS BIGINT)) AS BIGINT)
        |    AS chi2_micro,
        |  CAST((SELECT COUNT(*) - 1 FROM r) * (SELECT COUNT(*) - 1 FROM k) AS BIGINT)
        |    AS df,
        |  (SELECT n FROM t) AS n
        |FROM cell""".stripMargin) { (s, d) =>
      val o = Tables.customer(s, d)
        .groupBy(col("c_mktsegment").as("seg"), col("c_nationkey").as("nat"))
        .agg(count(lit(1)).as("c"))
      val t = o.agg(sum("c").as("n"))
      val r = o.groupBy("seg").agg(sum("c").as("rc"))
      val k = o.groupBy("nat").agg(sum("c").as("cc"))
      val grid = broadcast(r).crossJoin(broadcast(k))
        .join(o, Seq("seg", "nat"), "left")
        .select(col("rc"), col("cc"), coalesce(col("c"), lit(0L)).as("c"))
      val cell = grid.crossJoin(broadcast(t))
        .select(col("c"), (col("rc").cast("double") * col("cc") / col("n")).as("ex"))
      val chi = cell.agg(
        sum(expr("CAST(round(1000000 * (c - ex) * (c - ex) / ex) AS BIGINT)"))
          .cast("long").as("chi2_micro"))
      val df = r.agg((count(lit(1)) - 1).as("dr"))
        .crossJoin(k.agg((count(lit(1)) - 1).as("dk")))
        .select((col("dr") * col("dk")).cast("long").as("df"))
      chi.crossJoin(broadcast(df)).crossJoin(broadcast(t))
        .select(col("chi2_micro"), col("df"), col("n"))
    },

    // SPEARMAN RANK CORRELATION — the monotone-association member of
    // the correlation family (agg_corr = linear Pearson, Theil-Sen =
    // robust slope; Spearman answers "does balance RANK with spend?"
    // immune to outliers and nonlinearity). Tie-averaged ranks stay
    // integer by carrying 2x the rank (the Mann-Whitney trick), built
    // from ONE cumsum per variable over its DISTINCT-value axis and
    // joined back; Pearson over the doubled ranks closes in one fixed
    // double-op sequence (the 2x factors cancel), micro-scaled —
    // hash-exact. Windows touch distinct values, never rows.
    "stat_spearman" -> QueryDef(
      """WITH c AS (
        |  SELECT c_custkey AS k, CAST(round(c_acctbal*100) AS BIGINT) AS x
        |  FROM customer),
        |o AS (
        |  SELECT o_custkey AS k,
        |    CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |p AS (SELECT c.k, c.x, o.y FROM c JOIN o ON c.k = o.k),
        |dx AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt FROM p GROUP BY 1),
        |cx AS (SELECT x, cnt,
        |    CAST(SUM(cnt) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      - cnt AS cb
        |  FROM dx),
        |rx AS (SELECT x, 2*cb + cnt + 1 AS rx2 FROM cx),
        |dy AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS cnt FROM p GROUP BY 1),
        |cy AS (SELECT y, cnt,
        |    CAST(SUM(cnt) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      - cnt AS cb
        |  FROM dy),
        |ry AS (SELECT y, 2*cb + cnt + 1 AS ry2 FROM cy),
        |j AS (SELECT rx.rx2, ry.ry2
        |      FROM p JOIN rx ON p.x = rx.x JOIN ry ON p.y = ry.y),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(rx2) AS BIGINT) AS sx, CAST(SUM(ry2) AS BIGINT) AS sy,
        |        CAST(SUM(rx2*rx2) AS BIGINT) AS qx,
        |        CAST(SUM(ry2*ry2) AS BIGINT) AS qy,
        |        CAST(SUM(rx2*ry2) AS BIGINT) AS pxy
        |      FROM j)
        |SELECT n,
        |  CAST(round(1000000 * (CAST(n AS DOUBLE)*pxy - CAST(sx AS DOUBLE)*sy)
        |    / (sqrt(CAST(n AS DOUBLE)*qx - CAST(sx AS DOUBLE)*sx)
        |       * sqrt(CAST(n AS DOUBLE)*qy - CAST(sy AS DOUBLE)*sy)))
        |    AS BIGINT) AS rho_micro
        |FROM m""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val c = Tables.customer(s, d).select(col("c_custkey").as("k"),
        expr("CAST(round(c_acctbal*100) AS BIGINT)").as("x"))
      val o = Tables.orders(s, d).groupBy(col("o_custkey").as("k2"))
        .agg(sum(expr("CAST(round(o_totalprice*100) AS BIGINT)")).as("y"))
      val p = c.join(o, col("k") === col("k2")).select(col("x"), col("y"))
      def ranks(colName: String, rankName: String) = {
        val w = Window.orderBy(colName)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        p.groupBy(colName).agg(count(lit(1)).as("cnt"))
          .select(col(colName), col("cnt"),
            (sum("cnt").over(w) - col("cnt")).as("cb"))
          .select(col(colName),
            (lit(2) * col("cb") + col("cnt") + 1).as(rankName))
      }
      val j = p.join(ranks("x", "rx2"), "x").join(ranks("y", "ry2"), "y")
      val m = j.agg(count(lit(1)).as("n"), sum("rx2").as("sx"),
        sum("ry2").as("sy"), sum(col("rx2") * col("rx2")).as("qx"),
        sum(col("ry2") * col("ry2")).as("qy"),
        sum(col("rx2") * col("ry2")).as("pxy"))
      m.select(col("n"),
        expr("""CAST(round(1000000 * (CAST(n AS DOUBLE)*pxy - CAST(sx AS DOUBLE)*sy)
          / (sqrt(CAST(n AS DOUBLE)*qx - CAST(sx AS DOUBLE)*sx)
             * sqrt(CAST(n AS DOUBLE)*qy - CAST(sy AS DOUBLE)*sy)))
          AS BIGINT)""").as("rho_micro"))
    },

    // CRAMÉR'S V — the EFFECT SIZE for stat_chi2's yes/no verdict:
    // V = sqrt(chi2 / (N * min(r-1, c-1))) in [0, 1] says how STRONG
    // the segment<->nation association is, comparable across tables
    // of any shape (a chi2 alone grows with N even for trivial
    // association — the classic big-data significance trap, where
    // everything is "significant" at 100 TB). Same pipeline as chi2
    // (one groupBy, then the tiny marginals grid); the micro-scaled
    // chi2 integer feeds ONE sqrt at the end, so V is hash-exact.
    "stat_cramers_v" -> QueryDef(
      """WITH o AS (SELECT c_mktsegment AS seg, c_nationkey AS nat,
        |             CAST(COUNT(*) AS BIGINT) AS c
        |           FROM customer GROUP BY 1, 2),
        |t AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM o),
        |r AS (SELECT seg, CAST(SUM(c) AS BIGINT) AS rc FROM o GROUP BY 1),
        |k AS (SELECT nat, CAST(SUM(c) AS BIGINT) AS cc FROM o GROUP BY 1),
        |grid AS (
        |  SELECT r.seg, k.nat, r.rc, k.cc, COALESCE(o.c, 0) AS c
        |  FROM r CROSS JOIN k
        |  LEFT JOIN o ON o.seg = r.seg AND o.nat = k.nat),
        |cell AS (
        |  SELECT c, CAST(rc AS DOUBLE) * cc / n AS ex
        |  FROM grid CROSS JOIN t),
        |s AS (SELECT
        |    CAST(SUM(CAST(round(1000000 * (c - ex) * (c - ex) / ex) AS BIGINT))
        |      AS BIGINT) AS chi2_micro
        |  FROM cell),
        |dd AS (SELECT CAST((SELECT COUNT(*) - 1 FROM r) AS BIGINT) AS dr,
        |         CAST((SELECT COUNT(*) - 1 FROM k) AS BIGINT) AS dk)
        |SELECT s.chi2_micro, t.n,
        |  CASE WHEN dd.dr < dd.dk THEN dd.dr ELSE dd.dk END AS dmin,
        |  CAST(round(1000000 * sqrt(CAST(s.chi2_micro AS DOUBLE) / 1000000.0
        |    / (t.n * (CASE WHEN dd.dr < dd.dk THEN dd.dr ELSE dd.dk END))))
        |    AS BIGINT) AS v_micro
        |FROM s, dd, t""".stripMargin) { (s, d) =>
      val o = Tables.customer(s, d)
        .groupBy(col("c_mktsegment").as("seg"), col("c_nationkey").as("nat"))
        .agg(count(lit(1)).as("c"))
      val t = o.agg(sum("c").as("n"))
      val r = o.groupBy("seg").agg(sum("c").as("rc"))
      val k = o.groupBy("nat").agg(sum("c").as("cc"))
      val grid = broadcast(r).crossJoin(broadcast(k))
        .join(o, Seq("seg", "nat"), "left")
        .select(col("rc"), col("cc"), coalesce(col("c"), lit(0L)).as("c"))
      val cell = grid.crossJoin(broadcast(t))
        .select(col("c"),
          (col("rc").cast("double") * col("cc") / col("n")).as("ex"))
      val chi = cell.agg(
        sum(expr("CAST(round(1000000 * (c - ex) * (c - ex) / ex) AS BIGINT)"))
          .cast("long").as("chi2_micro"))
      val dd = r.agg((count(lit(1)) - 1).cast("long").as("dr"))
        .crossJoin(k.agg((count(lit(1)) - 1).cast("long").as("dk")))
      chi.crossJoin(broadcast(dd)).crossJoin(broadcast(t))
        .select(col("chi2_micro"), col("n"),
          expr("CASE WHEN dr < dk THEN dr ELSE dk END").as("dmin"),
          expr("""CAST(round(1000000 * sqrt(CAST(chi2_micro AS DOUBLE) / 1000000.0
            / (n * (CASE WHEN dr < dk THEN dr ELSE dk END)))) AS BIGINT)""")
            .as("v_micro"))
    },

    // two-sample KOLMOGOROV-SMIRNOV test: does account balance follow
    // the same distribution in the BUILDING and MACHINERY segments?
    // The third hypothesis test (chi2 = categorical independence,
    // z = proportions, KS = whole continuous distributions). The
    // statistic D = sup|F1-F2| stays EXACT: per distinct balance, the
    // cross-multiplied ECDF gap |c1·n2 − c2·n1| is an integer, and
    // the sup is a MAX — no fp until the final ppm report. The ECDF
    // cumsum is one window over the DISTINCT-value axis (thousands of
    // rows, not the data; at 100 TB it becomes the same range-sliced
    // global-rank trick the exact percentiles use).
    "stat_ks_test" -> QueryDef(
      """WITH x AS (
        |  SELECT CAST(round(c_acctbal*100) AS BIGINT) AS v,
        |    CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS s1,
        |    CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END AS s2
        |  FROM customer
        |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
        |g AS (SELECT v, CAST(SUM(s1) AS BIGINT) AS a, CAST(SUM(s2) AS BIGINT) AS b
        |      FROM x GROUP BY 1),
        |t AS (SELECT CAST(SUM(a) AS BIGINT) AS n1, CAST(SUM(b) AS BIGINT) AS n2
        |      FROM g),
        |c AS (SELECT
        |    CAST(SUM(a) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c1,
        |    CAST(SUM(b) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c2
        |  FROM g)
        |SELECT t.n1, t.n2,
        |  CAST(MAX(abs(c.c1 * t.n2 - c.c2 * t.n1)) AS BIGINT) AS d_num,
        |  CAST(MAX(abs(c.c1 * t.n2 - c.c2 * t.n1)) * 1000000 // (t.n1 * t.n2)
        |    AS BIGINT) AS d_ppm
        |FROM c CROSS JOIN t GROUP BY t.n1, t.n2""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val x = Tables.customer(s, d)
        .where(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(expr("CAST(round(c_acctbal*100) AS BIGINT)").as("v"),
          when(col("c_mktsegment") === "BUILDING", 1).otherwise(0).as("s1"),
          when(col("c_mktsegment") === "MACHINERY", 1).otherwise(0).as("s2"))
      val g = x.groupBy("v").agg(sum("s1").as("a"), sum("s2").as("b"))
      val t = g.agg(sum("a").as("n1"), sum("b").as("n2"))
      val w = Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val c = g.select(sum("a").over(w).as("c1"), sum("b").over(w).as("c2"))
      c.crossJoin(broadcast(t))
        .groupBy("n1", "n2")
        .agg(max(abs(col("c1") * col("n2") - col("c2") * col("n1"))).as("d_num"))
        .select(col("n1"), col("n2"), col("d_num"),
          expr("d_num * 1000000 div (n1 * n2)").as("d_ppm"))
    },

    // MUTUAL INFORMATION between segment and nation — the feature-
    // selection statistic (how many nats does knowing the nation tell
    // you about the segment?), complementing stat_chi2's yes/no
    // independence verdict with a magnitude. Counts and marginals are
    // exact BIGINTs; the only transcendental step, ln(p_ab/(p_a p_b)),
    // rounds to 9 dp and lands as a nano-scaled integer BEFORE the
    // n_ab-weighted sum (the text_lm_surprisal idiom), so the
    // accumulated Σ n_ab·ln-ratio is partition-order independent and
    // hash-exact. Zero cells contribute exactly 0 (x·ln x → 0) and
    // are correctly absent. Output = N·MI in nano-nats.
    "stat_mutual_info" -> QueryDef(
      """WITH o AS (SELECT c_mktsegment AS seg, c_nationkey AS nat,
        |             CAST(COUNT(*) AS BIGINT) AS c
        |           FROM customer GROUP BY 1, 2),
        |t AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM o),
        |r AS (SELECT seg, CAST(SUM(c) AS BIGINT) AS rc FROM o GROUP BY 1),
        |k AS (SELECT nat, CAST(SUM(c) AS BIGINT) AS cc FROM o GROUP BY 1),
        |cell AS (
        |  SELECT o.c,
        |    CAST(round(round(ln(CAST(o.c AS DOUBLE) * t.n
        |      / (CAST(r.rc AS DOUBLE) * k.cc)), 9) * 1000000000) AS BIGINT)
        |      AS ln_nano
        |  FROM o JOIN r ON o.seg = r.seg JOIN k ON o.nat = k.nat
        |  CROSS JOIN t)
        |SELECT (SELECT n FROM t) AS n,
        |  CAST(SUM(c * ln_nano) AS BIGINT) AS mi_sum_nano
        |FROM cell""".stripMargin) { (s, d) =>
      val o = Tables.customer(s, d)
        .groupBy(col("c_mktsegment").as("seg"), col("c_nationkey").as("nat"))
        .agg(count(lit(1)).as("c"))
      val t = o.agg(sum("c").as("n"))
      val r = o.groupBy("seg").agg(sum("c").as("rc"))
      val k = o.groupBy("nat").agg(sum("c").as("cc"))
      val cell = o.join(broadcast(r), "seg").join(broadcast(k), "nat")
        .crossJoin(broadcast(t))
        .select(col("c"),
          expr("""CAST(round(round(ln(CAST(c AS DOUBLE) * n
            / (CAST(rc AS DOUBLE) * cc)), 9) * 1000000000) AS BIGINT)""")
            .as("ln_nano"))
      cell.agg(sum(col("c") * col("ln_nano")).cast("long").as("mi_sum_nano"))
        .crossJoin(broadcast(t))
        .select(col("n"), col("mi_sum_nano"))
    },

    // degree assortativity of the customer<->supplier graph — "do
    // high-degree nodes attach to high-degree nodes?", the
    // one-number topology diagnostic run before choosing a
    // partitioning/skew strategy for graph workloads. Over both edge
    // orientations the x/y marginals coincide, so Pearson r collapses
    // to (n·Σxy − Σx²)/(n·Σx² − (Σx)²) — every moment an exact BIGINT
    // partial aggregate (degrees are integers), with ONE double
    // division at the end: hash-exact despite being a correlation.
    // Scale shape: two degree aggregates + one edge-keyed join; no
    // pair space, no windows.
    "graph_assortativity" -> QueryDef(
      """WITH e AS (SELECT DISTINCT o_custkey AS u, l_suppkey AS v
        |           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |du AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY 1),
        |dv AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY 1),
        |ends AS (
        |  SELECT du.d AS x, dv.d AS y
        |  FROM e JOIN du ON e.u = du.u JOIN dv ON e.v = dv.v
        |  UNION ALL
        |  SELECT dv.d, du.d
        |  FROM e JOIN du ON e.u = du.u JOIN dv ON e.v = dv.v),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(x) AS BIGINT) AS sx,
        |        CAST(SUM(x * x) AS BIGINT) AS sxx,
        |        CAST(SUM(x * y) AS BIGINT) AS sxy
        |      FROM ends)
        |SELECT n AS n_ends,
        |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
        |       ELSE CAST(n * sxy - sx * sx AS DOUBLE) / (n * sxx - sx * sx)
        |  END AS r
        |FROM m""".stripMargin) { (s, d) =>
      val e = Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("u"), col("l_suppkey").as("v"))
        .distinct()
      val du = e.groupBy("u").agg(count(lit(1)).as("du"))
      val dv = e.groupBy("v").agg(count(lit(1)).as("dv"))
      val ej = e.join(du, "u").join(dv, "v")
      // r18 (guide §2.4): the oracle's `ends` relation is the edge-end
      // multiset {(x,y)} ∪ {(y,x)} — its four moments are exact
      // integer functions of ONE pass over the joined edges
      // (n = 2|e|, Σx = Σ(du+dv), Σx² = Σ(du²+dv²), Σxy = 2Σ(du·dv)),
      // so the unionAll that duplicated the e⋈du⋈dv subtree (two
      // aggregations over two copies of the 3-way join) collapses to
      // a single aggregate. BIGINT sums commute: bit-identical m.
      val m = ej.agg(
        (count(lit(1)) * 2).as("n"),
        sum(col("du") + col("dv")).as("sx"),
        sum(col("du") * col("du") + col("dv") * col("dv")).as("sxx"),
        (sum(col("du") * col("dv")) * 2).as("sxy"))
      m.select(col("n").as("n_ends"),
        when(col("n") * col("sxx") - col("sx") * col("sx") === 0, lit(null))
          .otherwise((col("n") * col("sxy") - col("sx") * col("sx")).cast("double")
            / (col("n") * col("sxx") - col("sx") * col("sx"))).as("r"))
    },

    // PageRank over the customer<->supplier bipartite graph (edge =
    // "this customer ordered from this supplier"), 10 fixed-point
    // iterations. Scale shape: the per-round job is one node-keyed
    // equi-join + one partial-aggregated groupBy (no pair space, no
    // driver state beyond the loop counter); lineage is cut every few
    // rounds with localCheckpoint like Cluster's CC loop. Integer rank mass
    // (1e-12 units) keeps every iteration exact on both engines, so
    // this is hash-checked — unusual for an iterative fp algorithm.
    "graph_pagerank" -> QueryDef(
      """WITH RECURSIVE
        |e AS (SELECT DISTINCT o_custkey*2 AS u, l_suppkey*2+1 AS v
        |      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |und AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
        |deg AS (SELECT u AS node, COUNT(*) AS d FROM und GROUP BY 1),
        |pr(it, node, r) AS (
        |  SELECT 0, node, 1000000000000::BIGINT FROM deg
        |  UNION ALL
        |  SELECT it+1, und.v,
        |    150000000000 + (85 * SUM(pr.r // deg.d)) // 100
        |  FROM pr JOIN und ON und.u = pr.node JOIN deg ON deg.node = pr.node
        |  WHERE it < 10 GROUP BY 1, 2)
        |SELECT node, r AS rank_fp FROM pr WHERE it = 10
        |ORDER BY rank_fp DESC, node LIMIT 20""".stripMargin) { (s, d) =>
      val edges = Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("u"), (col("l_suppkey") * 2 + 1).as("v"))
        .distinct()
      val und = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      // the oracle pins 10 iterations; PageRank.run's exact-fixpoint
      // early exit is result-identical when it fires (a fixed point
      // stays fixed), so the hash check still holds.
      // r19: checkEvery = maxIter — measured (spark-shell probe, all
      // three SFs): this graph never reaches the fixed point inside
      // 10 rounds, so mid-loop probes are pure job overhead here (the
      // lineage-cut cadence is the only thing checkEvery buys a
      // 10-round loop); the early-exit machinery is unchanged and
      // still pays off for longer loops
      val (pr, _) = PageRank.run(und, maxIter = 10, checkEvery = 10)
      pr.orderBy(col("r").desc, col("node")).limit(20)
        .select(col("node"), col("r").as("rank_fp"))
    },

    // 2-D skyline / Pareto frontier: orders not strictly dominated on
    // (lower price, later date). Two-phase: bucket-partition on price,
    // prune locally (a row dominated inside its bucket is dominated
    // globally), then one exact window over the tiny survivor set —
    // the global sort never sees the full table, so the plan survives
    // 100x. Strictness via a RANGE frame ending 1 PRECEDING (= all
    // strictly cheaper rows).
    "skyline_pareto" -> QueryDef(
      """WITH pts AS (
        |  SELECT o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) AS price_c,
        |         CAST(o_orderdate AS DATE) AS d
        |  FROM orders),
        |w AS (
        |  SELECT *, max(d) OVER (ORDER BY price_c
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_d
        |  FROM pts)
        |SELECT o_orderkey, price_c, d FROM w
        |WHERE best_d IS NULL OR d >= best_d
        |ORDER BY price_c, o_orderkey""".stripMargin) { (s, d) =>
      val pts = Tables.orders(s, d).select(
        col("o_orderkey"),
        expr("CAST(round(o_totalprice*100) AS BIGINT)").as("price_c"),
        col("o_orderdate").cast("date").as("d"))
      // local prune partitions on a VALUE-derived price bucket (fixed
      // 2^20-cent width), not spark_partition_id: the window's hash
      // shuffle then IS the partitioning step — one exchange total
      // instead of repartitionByRange + a second pid shuffle. A row
      // dominated inside its bucket is dominated globally, so the
      // prune is sound; the exact pass below sees every survivor.
      val sliced = pts.withColumn("bucket", expr("price_c div 1048576"))
      val wLocal = Window.partitionBy("bucket").orderBy("price_c")
        .rangeBetween(Window.unboundedPreceding, -1)
      val survivors = sliced
        .withColumn("bd", max("d").over(wLocal))
        .where(col("bd").isNull || col("d") >= col("bd"))
        .drop("bd", "bucket")
      val wGlobal = Window.orderBy("price_c")
        .rangeBetween(Window.unboundedPreceding, -1)
      survivors
        .withColumn("best_d", max("d").over(wGlobal))
        .where(col("best_d").isNull || col("d") >= col("best_d"))
        .select("o_orderkey", "price_c", "d")
        .orderBy("price_c", "o_orderkey")
    },

    // robust anomaly detection: median + MAD per event type, flag
    // |v - med| > 3 * 1.4826 * MAD (the normal-consistent MAD z-score).
    // Medians interpolate over integer cents, so (a+b)/2 is exact in
    // double on both engines and the flags are deterministic. Scale
    // note: percentile() buffers per group here (5 groups); a
    // high-cardinality grouping would reuse agg_percentiles'
    // range-sliced global-rank machinery instead.
    "anomaly_mad" -> QueryDef(
      """WITH v AS (SELECT event_id, event_type,
        |             CAST(round(value*100) AS BIGINT) AS vc FROM events),
        |m AS (SELECT event_type, quantile_cont(vc, 0.5) AS med FROM v GROUP BY 1),
        |md AS (SELECT v.event_type, quantile_cont(abs(vc - med), 0.5) AS mad
        |       FROM v JOIN m USING (event_type) GROUP BY 1)
        |SELECT event_id, event_type, vc, med, mad
        |FROM v JOIN m USING (event_type) JOIN md USING (event_type)
        |WHERE abs(vc - med) > 4.4478 * mad
        |ORDER BY event_type, event_id""".stripMargin) { (s, d) =>
      val v = Tables.events(s, d).select(
        col("event_id"), col("event_type"),
        expr("CAST(round(value*100) AS BIGINT)").as("vc"))
      val m = v.groupBy("event_type").agg(expr("percentile(vc, 0.5)").as("med"))
      val md = v.join(broadcast(m), "event_type")
        .groupBy("event_type").agg(expr("percentile(abs(vc - med), 0.5)").as("mad"))
      v.join(broadcast(m), "event_type").join(broadcast(md), "event_type")
        .where(abs(col("vc") - col("med")) > lit(4.4478) * col("mad"))
        .select(col("event_id"), col("event_type"), col("vc"), col("med"), col("mad"))
        .orderBy("event_type", "event_id")
    },

    // dataset profiling (DuckDB SUMMARIZE / Deequ-style): null count,
    // distinct count, min/max per column, ONE scan. All 6 columns
    // aggregate in a single pass (multiple count-distincts expand
    // rows 6x before the partial agg — the standard trade; an
    // approximate profile would swap in HLL). Numerics/timestamps
    // render through DECIMAL/DATE so both engines print identically.
    "profile_columns" -> QueryDef(
      """SELECT col_name, n_nulls, n_distinct, min_v, max_v FROM (
        |  SELECT 'o_orderkey' AS col_name, COUNT(*) - COUNT(o_orderkey) AS n_nulls,
        |    COUNT(DISTINCT o_orderkey) AS n_distinct,
        |    CAST(MIN(o_orderkey) AS VARCHAR) AS min_v, CAST(MAX(o_orderkey) AS VARCHAR) AS max_v
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', COUNT(*) - COUNT(o_custkey), COUNT(DISTINCT o_custkey),
        |    CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', COUNT(*) - COUNT(o_orderstatus), COUNT(DISTINCT o_orderstatus),
        |    MIN(o_orderstatus), MAX(o_orderstatus) FROM orders
        |  UNION ALL
        |  SELECT 'o_totalprice', COUNT(*) - COUNT(o_totalprice), COUNT(DISTINCT o_totalprice),
        |    CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR),
        |    CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderdate', COUNT(*) - COUNT(o_orderdate), COUNT(DISTINCT o_orderdate),
        |    CAST(CAST(MIN(o_orderdate) AS DATE) AS VARCHAR),
        |    CAST(CAST(MAX(o_orderdate) AS DATE) AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', COUNT(*) - COUNT(o_orderpriority), COUNT(DISTINCT o_orderpriority),
        |    MIN(o_orderpriority), MAX(o_orderpriority) FROM orders)
        |ORDER BY col_name""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      def prof(c: String, render: Column => Column): Seq[Column] = Seq(
        (count(lit(1)) - count(col(c))).as(s"${c}_nulls"),
        countDistinct(col(c)).as(s"${c}_dist"),
        render(min(col(c))).cast("string").as(s"${c}_min"),
        render(max(col(c))).cast("string").as(s"${c}_max"))
      val id: Column => Column = identity
      val aggs =
        prof("o_orderkey", id) ++ prof("o_custkey", id) ++
          prof("o_orderstatus", id) ++
          prof("o_totalprice", _.cast("decimal(18,2)")) ++
          prof("o_orderdate", _.cast("date")) ++
          prof("o_orderpriority", id)
      val one = o.agg(aggs.head, aggs.tail: _*)
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      val stackArgs = cols.map(c =>
        s"'$c', ${c}_nulls, ${c}_dist, ${c}_min, ${c}_max").mkString(", ")
      one.select(expr(
        s"stack(${cols.size}, $stackArgs) AS (col_name, n_nulls, n_distinct, min_v, max_v)"))
        .orderBy("col_name")
    },

    // the 100 TB profile: same one-scan shape as profile_columns but
    // HLL distinct counts — approx_count_distinct composes into ONE
    // aggregate with NO Expand (exact count-distinct forces the 6x
    // row expansion the profile_columns comment documents). Sketch
    // internals are engine-specific -> rows-only; the error bound vs
    // the exact profile is pinned in R6OpsSpec.
    "profile_columns_approx" -> QueryDef.rowsOnly { (s, d) =>
      val o = Tables.orders(s, d)
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      val aggs = cols.flatMap(c => Seq(
        (count(lit(1)) - count(col(c))).as(s"${c}_nulls"),
        approx_count_distinct(col(c), 0.02).as(s"${c}_dist")))
      val one = o.agg(aggs.head, aggs.tail: _*)
      val stackArgs = cols.map(c => s"'$c', ${c}_nulls, ${c}_dist").mkString(", ")
      one.select(expr(
        s"stack(${cols.size}, $stackArgs) AS (col_name, n_nulls, approx_distinct)"))
        .orderBy("col_name")
    },

    // one-pass covariance MATRIX: every pairwise second moment of
    // (quantity, price, discount) per group from a single scan —
    // integer-cent moments in DECIMAL(38,0) partials (price*price
    // sums overflow BIGINT at sf>=0.1), then ONE double division per
    // cell, so the fp result is bit-identical on both engines and
    // independent of partition order. The population-covariance
    // identity n*Sxy - Sx*Sy keeps everything integer until the end.
    "agg_covar_matrix" -> QueryDef(
      """WITH v AS (SELECT l_returnflag AS g,
        |  CAST(round(l_quantity*100) AS BIGINT) AS q,
        |  CAST(round(l_extendedprice*100) AS BIGINT) AS p,
        |  CAST(round(l_discount*100) AS BIGINT) AS dc FROM lineitem),
        |s AS (SELECT g, COUNT(*) AS n, SUM(q) AS sq, SUM(p) AS sp, SUM(dc) AS sd,
        |        SUM(q*q) AS sqq, SUM(p*p) AS spp, SUM(dc*dc) AS sdd,
        |        SUM(q*p) AS sqp, SUM(q*dc) AS sqd, SUM(p*dc) AS spd
        |      FROM v GROUP BY g)
        |SELECT g, n,
        |  CAST(n*sqq - sq*sq AS DOUBLE) / (n*n) AS var_q,
        |  CAST(n*spp - sp*sp AS DOUBLE) / (n*n) AS var_p,
        |  CAST(n*sdd - sd*sd AS DOUBLE) / (n*n) AS var_d,
        |  CAST(n*sqp - sq*sp AS DOUBLE) / (n*n) AS cov_qp,
        |  CAST(n*sqd - sq*sd AS DOUBLE) / (n*n) AS cov_qd,
        |  CAST(n*spd - sp*sd AS DOUBLE) / (n*n) AS cov_pd
        |FROM s ORDER BY g""".stripMargin) { (s, d) =>
      val v = Tables.lineitem(s, d).select(
        col("l_returnflag").as("g"),
        expr("CAST(round(l_quantity*100) AS BIGINT)").as("q"),
        expr("CAST(round(l_extendedprice*100) AS BIGINT)").as("p"),
        expr("CAST(round(l_discount*100) AS BIGINT)").as("dc"))
      val mom = v.groupBy("g").agg(
        count(lit(1)).as("n"),
        expr("sum(CAST(q AS DECIMAL(19,0)))").as("sq"),
        expr("sum(CAST(p AS DECIMAL(19,0)))").as("sp"),
        expr("sum(CAST(dc AS DECIMAL(19,0)))").as("sd"),
        expr("sum(CAST(q AS DECIMAL(19,0)) * q)").as("sqq"),
        expr("sum(CAST(p AS DECIMAL(19,0)) * p)").as("spp"),
        expr("sum(CAST(dc AS DECIMAL(19,0)) * dc)").as("sdd"),
        expr("sum(CAST(q AS DECIMAL(19,0)) * p)").as("sqp"),
        expr("sum(CAST(q AS DECIMAL(19,0)) * dc)").as("sqd"),
        expr("sum(CAST(p AS DECIMAL(19,0)) * dc)").as("spd"))
      mom.select(col("g"), col("n"),
        expr("CAST(n*sqq - sq*sq AS DOUBLE) / (n*n)").as("var_q"),
        expr("CAST(n*spp - sp*sp AS DOUBLE) / (n*n)").as("var_p"),
        expr("CAST(n*sdd - sd*sd AS DOUBLE) / (n*n)").as("var_d"),
        expr("CAST(n*sqp - sq*sp AS DOUBLE) / (n*n)").as("cov_qp"),
        expr("CAST(n*sqd - sq*sd AS DOUBLE) / (n*n)").as("cov_qd"),
        expr("CAST(n*spd - sp*sd AS DOUBLE) / (n*n)").as("cov_pd"))
        .orderBy("g")
    },

    // per-group OLS regression (price on quantity): slope, intercept,
    // R^2 from the same exact integer-cent moments as agg_covar_matrix
    // — DECIMAL(38,0) partials, then a FIXED sequence of double casts
    // and divisions, so the fp results are bit-identical on both
    // engines at any partitioning (the engines' own regr_slope/corr
    // accumulate doubles in partition order and are not). R^2's
    // central-moment product would overflow DECIMAL(38) squared, so it
    // divides in doubles — each cast is of an exactly-representable
    // integer and the op order is pinned.
    "agg_regression" -> QueryDef(
      """WITH v AS (SELECT l_returnflag AS g,
        |  CAST(round(l_quantity*100) AS BIGINT) AS x,
        |  CAST(round(l_extendedprice*100) AS BIGINT) AS y FROM lineitem),
        |s AS (SELECT g, COUNT(*) AS n,
        |        CAST(SUM(CAST(x AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sx,
        |        CAST(SUM(CAST(y AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sy,
        |        CAST(SUM(CAST(x AS DECIMAL(19,0)) * x) AS DECIMAL(38,0)) AS sxx,
        |        CAST(SUM(CAST(y AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS syy,
        |        CAST(SUM(CAST(x AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS sxy
        |      FROM v GROUP BY g)
        |SELECT g, n,
        |  CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE) AS slope,
        |  (CAST(sy AS DOUBLE) - CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
        |     * CAST(sx AS DOUBLE)) / n AS intercept,
        |  (CAST(n*sxy - sx*sy AS DOUBLE) * CAST(n*sxy - sx*sy AS DOUBLE)) /
        |    (CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE)) AS r2
        |FROM s ORDER BY g""".stripMargin) { (s, d) =>
      val v = Tables.lineitem(s, d).select(
        col("l_returnflag").as("g"),
        expr("CAST(round(l_quantity*100) AS BIGINT)").as("x"),
        expr("CAST(round(l_extendedprice*100) AS BIGINT)").as("y"))
      val mom = v.groupBy("g").agg(
        count(lit(1)).as("n"),
        expr("CAST(sum(CAST(x AS DECIMAL(19,0))) AS DECIMAL(38,0))").as("sx"),
        expr("CAST(sum(CAST(y AS DECIMAL(19,0))) AS DECIMAL(38,0))").as("sy"),
        expr("CAST(sum(CAST(x AS DECIMAL(19,0)) * x) AS DECIMAL(38,0))").as("sxx"),
        expr("CAST(sum(CAST(y AS DECIMAL(19,0)) * y) AS DECIMAL(38,0))").as("syy"),
        expr("CAST(sum(CAST(x AS DECIMAL(19,0)) * y) AS DECIMAL(38,0))").as("sxy"))
      mom.select(col("g"), col("n"),
        expr("CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)").as("slope"),
        expr("""(CAST(sy AS DOUBLE) - CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
             * CAST(sx AS DOUBLE)) / n""").as("intercept"),
        expr("""(CAST(n*sxy - sx*sy AS DOUBLE) * CAST(n*sxy - sx*sy AS DOUBLE)) /
            (CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE))""").as("r2"))
        .orderBy("g")
    },

    // data-quality audit: the constraint pack a pipeline runs before
    // training — FK integrity (anti join), domain range, key
    // uniqueness (surplus rows over distinct keys), null checks —
    // each rule ONE aggregate, unioned into a (rule, n_bad) report.
    // The synthetic data genuinely violates the lineitem PK rule, so
    // the audit is checked against a real nonzero count.
    // FRESHNESS SLA AUDIT — the DataOps monitor run against every
    // ingestion feed: per source stream (event type), when did data
    // last arrive, how stale is it against the most recent arrival
    // anywhere, and does it breach the SLA window? Staleness is
    // truncating µs-epoch arithmetic (NOT datediff('second'), which
    // counts boundary CROSSINGS and disagrees between engines on
    // sub-second phases). One partial-aggregated pass + a broadcast
    // 1-row "now"; the per-feed report is feed-sized.
    "dq_freshness" -> QueryDef(
      """WITH mx AS (SELECT MAX(ts) AS now FROM events),
        |s AS (SELECT event_type, MAX(ts) AS last_ts,
        |        CAST(COUNT(*) AS BIGINT) AS n_rows
        |      FROM events GROUP BY 1)
        |SELECT event_type, last_ts, n_rows,
        |  (epoch_us(now) - epoch_us(last_ts)) // 1000000 AS staleness_s,
        |  CASE WHEN (epoch_us(now) - epoch_us(last_ts)) // 1000000 > 3600
        |       THEN 1 ELSE 0 END AS sla_breach
        |FROM s, mx ORDER BY event_type""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val mx = ev.agg(max("ts").as("now"))
      ev.groupBy("event_type")
        .agg(max("ts").as("last_ts"), count(lit(1)).as("n_rows"))
        .crossJoin(broadcast(mx))
        .select(col("event_type"), col("last_ts"), col("n_rows"),
          expr("(unix_micros(now) - unix_micros(last_ts)) div 1000000")
            .as("staleness_s"),
          when(expr("(unix_micros(now) - unix_micros(last_ts)) div 1000000")
            > 3600, 1).otherwise(0).as("sla_breach"))
        .orderBy("event_type")
    },

    "dq_audit" -> QueryDef(
      """SELECT 'dup_lineitem_pk' AS rule, CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) AS n_bad
        |  FROM (SELECT COUNT(*) AS c FROM lineitem
        |        GROUP BY l_orderkey, l_linenumber) WHERE c > 1
        |UNION ALL
        |SELECT 'fk_lineitem_orders', CAST(COUNT(*) AS BIGINT) FROM lineitem
        |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
        |UNION ALL
        |SELECT 'null_custkey', CAST(COUNT(*) AS BIGINT) FROM orders
        |  WHERE o_custkey IS NULL
        |UNION ALL
        |SELECT 'qty_range', CAST(COUNT(*) AS BIGINT) FROM lineitem
        |  WHERE l_quantity < 1 OR l_quantity > 50
        |ORDER BY rule""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val dup = li.groupBy("l_orderkey", "l_linenumber").agg(count(lit(1)).as("c"))
        .where(col("c") > 1)
        .agg(coalesce(sum(col("c") - 1), lit(0L)).as("n_bad"))
        .select(lit("dup_lineitem_pk").as("rule"), col("n_bad"))
      val fk = li.join(o.select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_bad"))
        .select(lit("fk_lineitem_orders").as("rule"), col("n_bad"))
      val nulls = o.where(col("o_custkey").isNull)
        .agg(count(lit(1)).as("n_bad"))
        .select(lit("null_custkey").as("rule"), col("n_bad"))
      val range = li.where(col("l_quantity") < 1 || col("l_quantity") > 50)
        .agg(count(lit(1)).as("n_bad"))
        .select(lit("qty_range").as("rule"), col("n_bad"))
      dup.unionByName(fk).unionByName(nulls).unionByName(range).orderBy("rule")
    },

    // distribution windows: percent_rank (rank-1)/(n-1) and cume_dist
    // count<= / n over a tie-heavy ordering — exact rational doubles,
    // identical on both engines including the n=1 -> 0.0 edge.
    "window_percent_cume" -> QueryDef(
      """SELECT p_brand, p_partkey, p_size,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd
        |FROM part WHERE p_partkey <= 2000
        |WINDOW w AS (PARTITION BY p_brand ORDER BY p_size)
        |ORDER BY p_brand, p_partkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("p_brand").orderBy("p_size")
      Tables.part(s, d).where(col("p_partkey") <= 2000)
        .select(col("p_brand"), col("p_partkey"), col("p_size"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy("p_brand", "p_partkey")
    },

    // winsorization: clamp each group's values to its own [p05, p95]
    // before averaging — the robust-mean step quality pipelines apply
    // to heavy-tailed metrics. The cut points come from RankStats'
    // histogram-refinement selection (three map-side-combinable
    // passes, zero full-data shuffles — percentile()'s value maps
    // made this the bench's heap hot spot, and the earlier
    // range-shuffle fix made it the bench's exchange hot spot).
    // Exact at this scale: percentiles
    // interpolate integer cents (worst case x.5), and the clamped sum
    // adds multiples of 0.5 whose partials stay below 2^52 up to
    // ~10^8 rows/group — past that, switch the sum to DECIMAL like
    // sample_hash's dsum to keep partition-order independence.
    "agg_winsorize" -> QueryDef(
      """WITH v AS (SELECT l_returnflag AS g,
        |             CAST(round(l_extendedprice*100) AS BIGINT) AS vc FROM lineitem),
        |p AS (SELECT g, quantile_cont(vc, 0.05) AS p05, quantile_cont(vc, 0.95) AS p95
        |      FROM v GROUP BY 1)
        |SELECT g, COUNT(*) AS n,
        |  CAST(SUM(LEAST(GREATEST(vc, p05), p95)) AS DOUBLE) / COUNT(*) AS wins_mean_c,
        |  CAST(SUM(CASE WHEN vc < p05 OR vc > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped
        |FROM v JOIN p USING (g)
        |GROUP BY g ORDER BY g""".stripMargin) { (s, d) =>
      val v = Tables.lineitem(s, d).select(
        col("l_returnflag").as("g"),
        expr("CAST(round(l_extendedprice*100) AS BIGINT)").as("vc"))
      val p = RankStats.percentiles(v, "g", "vc",
        Seq(0.05 -> "p05", 0.95 -> "p95"))
      v.join(broadcast(p), "g")
        .groupBy("g")
        .agg(
          count(lit(1)).as("n"),
          (sum(least(greatest(col("vc"), col("p05")), col("p95"))).cast("double") /
            count(lit(1))).as("wins_mean_c"),
          sum(when(col("vc") < col("p05") || col("vc") > col("p95"), 1L)
            .otherwise(0L)).as("n_clamped"))
        .orderBy("g")
    },

    // exact per-group mode with deterministic ties (most frequent
    // value, smallest wins): count + one row_number over the tiny
    // (group, value) aggregate — never a window over raw rows.
    "agg_mode" -> QueryDef(
      """WITH c AS (SELECT l_returnflag AS g, CAST(round(l_quantity) AS BIGINT) AS q,
        |             COUNT(*) AS n FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT g, q, n,
        |        ROW_NUMBER() OVER (PARTITION BY g ORDER BY n DESC, q) AS rn FROM c)
        |SELECT g, q AS mode_q, n FROM r WHERE rn = 1 ORDER BY g""".stripMargin) { (s, d) =>
      val c = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag").as("g"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("q"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("g").orderBy(col("n").desc, col("q"))
      c.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("g"), col("q").as("mode_q"), col("n"))
        .orderBy("g")
    },

    // moving MEDIAN (robust smoothing — the outlier-immune sibling of
    // window_moving_avg): exact percentile over a 7-row event-time
    // frame per series. Integer cents keep the two-point interpolation
    // exact in double on both engines; one series-keyed window, ties
    // broken on event_id.
    "window_moving_median" -> QueryDef(
      """SELECT event_id, event_type,
        |  quantile_cont(CAST(round(value*100) AS BIGINT), 0.5) OVER (
        |    PARTITION BY event_type ORDER BY CAST(ts AS TIMESTAMP), event_id
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med7
        |FROM events WHERE event_type IN ('error', 'purchase')
        |ORDER BY event_type, event_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
      Tables.events(s, d)
        .where(col("event_type").isin("error", "purchase"))
        .select(col("event_id"), col("event_type"),
          expr("percentile(CAST(round(value*100) AS BIGINT), 0.5)")
            .over(w).as("med7"))
        .orderBy("event_type", "event_id")
    },

    // aggregate FILTER clause through the SQL front door — the
    // conditional-aggregate syntax (Catalyst rewrites each FILTER to
    // the same conditional the CASE-WHEN formulations build by hand,
    // still one pass)
    "agg_filter_clause" -> QueryDef(
      """SELECT event_type, COUNT(*) AS n,
        |  COUNT(*) FILTER (WHERE value > 50) AS n_big,
        |  CAST(SUM(CAST(round(value*100) AS BIGINT)) FILTER (WHERE value > 50) AS BIGINT) AS big_c
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d).createOrReplaceTempView("v_events_fc")
      s.sql(
        """SELECT event_type, COUNT(*) AS n,
          |  COUNT(*) FILTER (WHERE value > 50) AS n_big,
          |  SUM(CAST(round(value*100) AS BIGINT)) FILTER (WHERE value > 50) AS big_c
          |FROM v_events_fc GROUP BY event_type ORDER BY event_type""".stripMargin)
    },

    // exact frequent items above a support threshold (the heavy-hitter
    // report at the point where exactness is still affordable): two
    // partial-aggregated shuffles — (group,value) counts, then the
    // group totals joined back — and an integer-compared 2% support
    // test (n*50 >= total), no doubles. The approximate counterpart at
    // extreme cardinality is a count-min/SpaceSaving sketch; this exact
    // tier IS the oracle such a sketch would be validated against.
    "agg_frequent_items" -> QueryDef(
      """WITH c AS (SELECT l_returnflag AS g, CAST(round(l_quantity) AS BIGINT) AS q,
        |             COUNT(*) AS n FROM lineitem GROUP BY 1, 2),
        |t AS (SELECT g, CAST(SUM(n) AS BIGINT) AS total FROM c GROUP BY 1)
        |SELECT g, q, n, total FROM c JOIN t USING (g)
        |WHERE n * 50 >= total
        |ORDER BY g, n DESC, q""".stripMargin) { (s, d) =>
      val c = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag").as("g"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("q"))
        .agg(count(lit(1)).as("n"))
      val t = c.groupBy("g").agg(sum("n").as("total"))
      c.join(broadcast(t), "g")
        .where(col("n") * 50 >= col("total"))
        .select(col("g"), col("q"), col("n"), col("total"))
        .orderBy(col("g"), col("n").desc, col("q"))
    },

    // count-min sketch heavy hitters: the constant-memory approximate
    // tier above agg_frequent_items. One pass builds the 4x2048
    // counter sketch via the custom typed Aggregator (partial-agg
    // friendly: fixed 64 KB buffer, element-wise-sum merge), the exact
    // top-10 keys probe it driver-side (a 64 KB array lookup, not a
    // data pass). ORACLE-EXACT since r11: the cell hash is the
    // md5-15-hex digest (CountMin.cellSql), so the oracle rebuilds
    // each probed counter as Σ counts of the keys that hash to its
    // cell and takes the min over the 4 depth rows — the sketch's
    // exact math, engine-independently. Estimates are sums of per-row
    // increments (identical under any partitioning); no-undercount
    // and the e·N/width error bound stay pinned in SketchSpec.
    "sketch_heavy_hitters" -> QueryDef({
      import graft.functions.CountMin
      s"""WITH c AS (SELECT l_partkey AS k, count(*) AS n
         |           FROM lineitem GROUP BY 1),
         |top AS (SELECT k, n FROM c ORDER BY n DESC, k LIMIT 10),
         |dd AS (SELECT unnest(range(0, ${CountMin.Depth})) AS d),
         |kc AS (SELECT c.k, c.n, dd.d,
         |         ${CountMin.cellSql("dd.d", "c.k")} AS cell
         |       FROM c CROSS JOIN dd),
         |cs AS (SELECT d, cell, SUM(n) AS cn FROM kc GROUP BY 1, 2)
         |SELECT t.k, CAST(t.n AS BIGINT) AS exact_n,
         |  CAST(MIN(cs.cn) AS BIGINT) AS cm_estimate
         |FROM top t
         |JOIN kc ON kc.k = t.k
         |JOIN cs ON cs.d = kc.d AND cs.cell = kc.cell
         |GROUP BY 1, 2 ORDER BY 2 DESC, 1""".stripMargin
    }) { (s, d) =>
      import graft.functions.CountMin
      val keys = Tables.lineitem(s, d).select(col("l_partkey").as("k"))
      val sketch = keys.agg(CountMin.sketchCol(col("k")).as("sk"))
        .head().getSeq[Long](0).toArray
      val top = keys.groupBy("k").agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("k")).limit(10)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      import s.implicits._
      top.map { case (k, n) => (k, n, CountMin.estimate(sketch, k)) }
        .toSeq.toDF("k", "exact_n", "cm_estimate")
        .orderBy(col("exact_n").desc, col("k"))
    },

    // salted skew join surfaced as a driver query: events (5 hot keys,
    // ~20k rows each at sf0.01) join a tiny weights dim through
    // Scale.saltedJoin — each hot key spreads over 8 salt sub-keys, so
    // no single task owns a key's whole row set. Result is provably
    // salt-invariant (the oracle is the plain join); weight*cents is
    // exact integer arithmetic.
    "join_skew_salted" -> QueryDef(
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(weight * CAST(round(value*100) AS BIGINT)) AS BIGINT) AS score_c
        |FROM events
        |JOIN (VALUES ('click', 1), ('view', 2), ('purchase', 10),
        |             ('signup', 5), ('error', 0)) AS w(event_type, weight)
        |USING (event_type)
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      import s.implicits._
      val weights = Seq(("click", 1L), ("view", 2L), ("purchase", 10L),
        ("signup", 5L), ("error", 0L)).toDF("event_type", "weight")
      val ev = Tables.events(s, d)
        .select(col("event_type"), expr("CAST(round(value*100) AS BIGINT)").as("vc"))
      Scale.saltedJoin(ev, weights, Seq("event_type"), salts = 8)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("weight") * col("vc")).as("score_c"))
        .orderBy("event_type")
    },

    // largest-triangle downsampling (LTTB, parallel bucket-mean
    // variant): cut each series into 50 time buckets and keep the
    // point with the largest triangle area against the NEIGHBORING
    // OCCUPIED buckets' mean points — the standard charting
    // downsampler, which preserves visual extremes where per-bucket
    // avg flattens them. First/last buckets keep their first/last
    // point. All integer arithmetic (relative-ms x, cent y: products
    // stay under 2^53), one bucket-keyed agg + one tiny window over
    // bucket means + one per-bucket row_number — no sequential scan,
    // unlike textbook LTTB whose previous-selected-point recurrence
    // cannot parallelize.
    "downsample_lttb" -> QueryDef(
      """WITH v AS (
        |  SELECT event_type AS g, epoch_us(CAST(ts AS TIMESTAMP)) AS xus,
        |         CAST(round(value*100) AS BIGINT) AS y
        |  FROM events),
        |ext AS (SELECT g, MIN(xus) AS t0, MAX(xus) AS t1 FROM v GROUP BY 1),
        |pts AS (
        |  SELECT v.g, xus, (xus - t0) // 1000 AS xm, y,
        |         (xus - t0) // ((t1 - t0 + 50) // 50) AS b
        |  FROM v JOIN ext ON v.g = ext.g),
        |mb AS (
        |  SELECT g, b,
        |    CAST(SUM(xm) AS BIGINT) // COUNT(*) AS mx,
        |    CAST(SUM(y) AS BIGINT) // COUNT(*) AS my
        |  FROM pts GROUP BY 1, 2),
        |mbs AS (
        |  SELECT g, b, mx, my,
        |    LAG(mx) OVER w AS pmx, LAG(my) OVER w AS pmy,
        |    LEAD(mx) OVER w AS nmx, LEAD(my) OVER w AS nmy
        |  FROM mb WINDOW w AS (PARTITION BY g ORDER BY b)),
        |sc AS (
        |  SELECT p.g, p.b, p.xus, p.y,
        |    ROW_NUMBER() OVER (PARTITION BY p.g, p.b ORDER BY
        |      CASE WHEN pmx IS NULL THEN p.xus
        |           WHEN nmx IS NULL THEN -p.xus
        |           ELSE -abs((pmx - nmx)*(p.y - pmy) - (pmx - p.xm)*(nmy - pmy)) END,
        |      p.xus) AS rn
        |  FROM pts p JOIN mbs USING (g, b))
        |SELECT g, b, xus, y FROM sc WHERE rn = 1 ORDER BY g, b""".stripMargin) { (s, d) =>
      val v = Tables.events(s, d).select(
        col("event_type").as("g"),
        unix_micros(col("ts")).as("xus"),
        expr("CAST(round(value*100) AS BIGINT)").as("y"))
      val ext = v.groupBy("g").agg(min("xus").as("t0"), max("xus").as("t1"))
      val pts = v.join(broadcast(ext), "g")
        .select(col("g"), col("xus"), expr("(xus - t0) div 1000").as("xm"), col("y"),
          expr("(xus - t0) div ((t1 - t0 + 50) div 50)").as("b"))
      val mb = pts.groupBy("g", "b")
        .agg(expr("sum(xm) div count(1)").as("mx"),
          expr("sum(y) div count(1)").as("my"))
      val wB = Window.partitionBy("g").orderBy("b")
      val mbs = mb.select(col("g"), col("b"),
        lag("mx", 1).over(wB).as("pmx"), lag("my", 1).over(wB).as("pmy"),
        lead("mx", 1).over(wB).as("nmx"), lead("my", 1).over(wB).as("nmy"))
      val ord = expr(
        """CASE WHEN pmx IS NULL THEN xus
          |     WHEN nmx IS NULL THEN -xus
          |     ELSE -abs((pmx - nmx)*(y - pmy) - (pmx - xm)*(nmy - pmy)) END""".stripMargin)
      val wSel = Window.partitionBy("g", "b").orderBy(ord, col("xus"))
      pts.join(broadcast(mbs), Seq("g", "b"))
        .withColumn("rn", row_number().over(wSel))
        .where(col("rn") === 1)
        .select(col("g"), col("b"), col("xus"), col("y"))
        .orderBy("g", "b")
    },

    // M4 downsampling (Jugel et al., VLDB 2014): per pixel bucket keep
    // the rows realizing min/max VALUE and first/last TIME — the four
    // points that make a line chart pixel-identical to the full series,
    // where LTTB's averaged triangles merely approximate it. Shape: ONE
    // partial-aggregated shuffle carrying four (t,v) structs per
    // bucket — map-side combine collapses every partition to <= 4 rows
    // per (series, bucket) before any data moves, so 100 TB of points
    // shuffle as O(series x 50) structs; no window, no per-bucket sort
    // (the common rank-based M4 formulation pays both). Struct min/max
    // gives deterministic lexicographic tie-breaks ((t,v) for ends,
    // (v,t) for extremes) in both engines; all integer, hash-exact.
    "downsample_m4" -> QueryDef(
      """WITH v AS (
        |  SELECT event_type AS g, epoch_us(CAST(ts AS TIMESTAMP)) AS xus,
        |         CAST(round(value*100) AS BIGINT) AS y
        |  FROM events),
        |ext AS (SELECT g, MIN(xus) AS t0, MAX(xus) AS t1 FROM v GROUP BY 1),
        |pts AS (
        |  SELECT v.g, xus, y,
        |         (xus - t0) // ((t1 - t0 + 50) // 50) AS b
        |  FROM v JOIN ext ON v.g = ext.g),
        |m4 AS (
        |  SELECT g, b,
        |    min(struct_pack(t := xus, v := y)) AS o,
        |    max(struct_pack(t := xus, v := y)) AS c,
        |    min(struct_pack(v := y, t := xus)) AS lo,
        |    max(struct_pack(v := y, t := xus)) AS hi
        |  FROM pts GROUP BY 1, 2),
        |u AS (
        |  SELECT g, b, o.t AS xus, o.v AS y FROM m4
        |  UNION SELECT g, b, c.t, c.v FROM m4
        |  UNION SELECT g, b, lo.t, lo.v FROM m4
        |  UNION SELECT g, b, hi.t, hi.v FROM m4)
        |SELECT g, b, xus, y FROM u ORDER BY g, b, xus, y""".stripMargin) { (s, d) =>
      val v = Tables.events(s, d).select(
        col("event_type").as("g"),
        unix_micros(col("ts")).as("xus"),
        expr("CAST(round(value*100) AS BIGINT)").as("y"))
      val ext = v.groupBy("g").agg(min("xus").as("t0"), max("xus").as("t1"))
      val pts = v.join(broadcast(ext), "g")
        .select(col("g"), col("xus"), col("y"),
          expr("(xus - t0) div ((t1 - t0 + 50) div 50)").as("b"))
      val m4 = pts.groupBy("g", "b").agg(
        min(struct(col("xus").as("t"), col("y").as("v"))).as("o"),
        max(struct(col("xus").as("t"), col("y").as("v"))).as("c"),
        min(struct(col("y").as("v"), col("xus").as("t"))).as("lo"),
        max(struct(col("y").as("v"), col("xus").as("t"))).as("hi"))
      m4.select(col("g"), col("b"), explode(array(
          struct(col("o.t").as("t"), col("o.v").as("v")),
          struct(col("c.t").as("t"), col("c.v").as("v")),
          struct(col("lo.t").as("t"), col("lo.v").as("v")),
          struct(col("hi.t").as("t"), col("hi.v").as("v")))).as("p"))
        .select(col("g"), col("b"), col("p.t").as("xus"), col("p.v").as("y"))
        .distinct()
        .orderBy("g", "b", "xus", "y")
    },

    // snapshot isolation + time travel over the versioned store: v1
    // ingests all clicks, v2 upserts day-5 clicks shifted by +1000
    // cents, then BOTH versions are read back and aggregated — the
    // v1 numbers must be unaffected by the later commit (the manifest
    // it reads is immutable), and v2 must show exactly the day-5
    // delta. The oracle recomputes both snapshots from raw events.
    "store_time_travel" -> QueryDef(
      """WITH c AS (SELECT CAST(ts AS DATE) AS day,
        |             CAST(round(value*100) AS BIGINT) AS vc
        |           FROM events WHERE event_type = 'click'),
        |v1 AS (SELECT CAST(1 AS BIGINT) AS version, COUNT(*) AS n,
        |         CAST(SUM(vc) AS BIGINT) AS total FROM c),
        |v2 AS (SELECT CAST(2 AS BIGINT), COUNT(*),
        |         CAST(SUM(CASE WHEN day = DATE '2024-01-05' THEN vc + 1000
        |                       ELSE vc END) AS BIGINT) FROM c)
        |SELECT * FROM v1 UNION ALL SELECT * FROM v2
        |ORDER BY version""".stripMargin) { (s, d) =>
      val base = ensureClickStore(s, d)
      Seq(1, 2).map { v =>
        SnapshotStore.readVersion(s, base, v)
          .agg(count(lit(1)).as("n"), sum("vc").as("total"))
          .select(lit(v.toLong).as("version"), col("n"), col("total"))
      }.reduce(_ unionByName _).orderBy("version")
    },

    // the snapshot store's commit log as a query (DESCRIBE HISTORY):
    // versions from the manifest listing (no data read for the
    // partition counts), row counts from the snapshot reads. v2
    // rewrote one day and inherited the rest, so both versions carry
    // the full partition set and row count — which the oracle derives
    // from raw events alone.
    "store_history" -> QueryDef(
      """WITH c AS (SELECT CAST(ts AS DATE) AS day FROM events
        |           WHERE event_type = 'click'),
        |d AS (SELECT CAST(COUNT(DISTINCT day) AS BIGINT) AS n_parts,
        |        COUNT(*) AS n_rows FROM c)
        |SELECT CAST(1 AS BIGINT) AS version, n_parts, n_rows FROM d
        |UNION ALL SELECT CAST(2 AS BIGINT), n_parts, n_rows FROM d
        |ORDER BY version""".stripMargin) { (s, d) =>
      val base = ensureClickStore(s, d)
      SnapshotStore.history(s, base).map { case (v, nParts) =>
        SnapshotStore.readVersion(s, base, v)
          .agg(count(lit(1)).as("n_rows"))
          .select(lit(v.toLong).as("version"),
            lit(nParts.toLong).as("n_parts"), col("n_rows"))
      }.reduce(_ unionByName _).orderBy("version")
    },

    // MERGE INTO (Delta-style) as a new store version: one source
    // batch carrying updates (day-3 clicks +500), deletes (every
    // 10th day-3 click, marked vc = -1) and inserts (day-3 purchases
    // under disjoint 'p'-prefixed keys) — one full-outer join over
    // the ONE touched partition; the other 29 day partitions inherit
    // physically. The oracle replays the same merge arithmetic from
    // raw events.
    "store_merge" -> QueryDef(
      """WITH c AS (SELECT event_id, strftime(ts, '%Y-%m-%d') AS part,
        |             CAST(round(value*100) AS BIGINT) AS vc
        |           FROM events WHERE event_type = 'click'),
        |m AS (SELECT part, vc + CASE WHEN part = '2024-01-03' THEN 500 ELSE 0 END AS vc
        |      FROM c WHERE NOT (part = '2024-01-03' AND event_id % 10 = 0)
        |      UNION ALL
        |      SELECT strftime(ts, '%Y-%m-%d'), CAST(round(value*100) AS BIGINT)
        |      FROM events WHERE event_type = 'purchase'
        |        AND strftime(ts, '%Y-%m-%d') = '2024-01-03')
        |SELECT part, COUNT(*) AS n, CAST(SUM(vc) AS BIGINT) AS total
        |FROM m GROUP BY part ORDER BY part""".stripMargin) { (s, d) =>
      val base = Fixtures.cached(s, d, "snapm", "events") { base =>
        SnapshotStore.commit(s, base, clicksOf(s, d))
        val day3 = Tables.events(s, d)
          .where(date_format(col("ts"), "yyyy-MM-dd") === "2024-01-03")
        val updDel = day3.where(col("event_type") === "click")
          .select(col("event_id").cast("string").as("key"),
            lit("2024-01-03").as("part"), lit(1L).as("seq"),
            when(col("event_id") % 10 === 0, lit(-1L)).otherwise(lit(500L)).as("vc"))
        val ins = day3.where(col("event_type") === "purchase")
          .select(concat(lit("p"), col("event_id").cast("string")).as("key"),
            lit("2024-01-03").as("part"), lit(1L).as("seq"),
            expr("CAST(round(value*100) AS BIGINT)").as("vc"))
        SnapshotStore.merge(s, base, updDel.unionByName(ins),
          matchedDelete = col("s.vc") === -1L,
          matchedUpdateVc = col("t.vc") + col("s.vc"))
      }
      SnapshotStore.readVersion(s, base, 2)
        .groupBy("part")
        .agg(count(lit(1)).as("n"), sum("vc").as("total"))
        .orderBy("part")
    },

    // RESTORE: roll the click store back to v1 after the day-5 upsert
    // — a manifest-only commit (v3 points at v1's directories, zero
    // data rewritten), then prove the current read equals the
    // pre-upsert state AND that the rolled-over v2 stays readable.
    // The oracle derives both states from raw events.
    "store_restore" -> QueryDef(
      """WITH c AS (SELECT CAST(ts AS DATE) AS day,
        |             CAST(round(value*100) AS BIGINT) AS vc
        |           FROM events WHERE event_type = 'click'),
        |v2 AS (SELECT CAST(2 AS BIGINT) AS version, COUNT(*) AS n,
        |         CAST(SUM(CASE WHEN day = DATE '2024-01-05' THEN vc + 1000
        |                       ELSE vc END) AS BIGINT) AS total FROM c),
        |v3 AS (SELECT CAST(3 AS BIGINT), COUNT(*),
        |         CAST(SUM(vc) AS BIGINT) FROM c)
        |SELECT * FROM v2 UNION ALL SELECT * FROM v3
        |ORDER BY version""".stripMargin) { (s, d) =>
      val base = Fixtures.cached(s, d, "snaprest", "events") { base =>
        SnapshotStore.commit(s, base, clicksOf(s, d))
        SnapshotStore.commit(s, base,
          clicksOf(s, d).where(col("part") === "2024-01-05")
            .withColumn("seq", lit(1L))
            .withColumn("vc", col("vc") + 1000L))
        SnapshotStore.restore(s, base, 1)
      }
      Seq(2, 3).map { v =>
        SnapshotStore.readVersion(s, base, v)
          .agg(count(lit(1)).as("n"), sum("vc").as("total"))
          .select(lit(v.toLong).as("version"), col("n"), col("total"))
      }.reduce(_ unionByName _).orderBy("version")
    },

    // VACUUM through the oracle gate: after GC-ing to keepVersions=1,
    // the surviving snapshot must still read IN FULL — v2 physically
    // shares 29 of its 30 day dirs with the dropped v1, so this checks
    // the sweep's shared-dir safety (a dir referenced by any retained
    // manifest survives), not just that files went away. n_live counts
    // the post-vacuum manifests (exactly one).
    "store_vacuum_safety" -> QueryDef(
      """WITH c AS (SELECT CAST(ts AS DATE) AS day,
        |             CAST(round(value*100) AS BIGINT) AS vc
        |           FROM events WHERE event_type = 'click')
        |SELECT CAST(2 AS BIGINT) AS version, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN day = DATE '2024-01-05' THEN vc + 1000
        |                ELSE vc END) AS BIGINT) AS total,
        |  CAST(1 AS BIGINT) AS n_live
        |FROM c""".stripMargin) { (s, d) =>
      val base = Fixtures.cached(s, d, "snapvac", "events") { base =>
        SnapshotStore.commit(s, base, clicksOf(s, d))
        SnapshotStore.commit(s, base,
          clicksOf(s, d).where(col("part") === "2024-01-05")
            .withColumn("seq", lit(1L))
            .withColumn("vc", col("vc") + 1000L))
      }
      // vacuum is idempotent and does not advance the version counter,
      // so it runs on every call, outside the fixture build
      SnapshotStore.vacuum(s, base, keepVersions = 1)
      val nLive = SnapshotStore.history(s, base).size.toLong
      SnapshotStore.readVersion(s, base, 2)
        .agg(count(lit(1)).as("n"), sum("vc").as("total"))
        .select(lit(2L).as("version"), col("n"), col("total"),
          lit(nLive).as("n_live"))
    },

    // change data feed v1 -> v2 of the click store: the partitions to
    // diff come from the MANIFESTS (unchanged directory pointer ==
    // skipped without reading a row — physical sharing doubles as a
    // free change index), so the CDF costs O(changed partitions).
    // v2 bumped every day-5 row, so the feed is exactly one
    // preimage + postimage pair per day-5 click.
    "store_changes" -> QueryDef(
      """WITH c AS (SELECT CAST(event_id AS VARCHAR) AS key,
        |             strftime(ts, '%Y-%m-%d') AS part,
        |             CAST(round(value*100) AS BIGINT) AS vc
        |           FROM events WHERE event_type = 'click'
        |             AND strftime(ts, '%Y-%m-%d') = '2024-01-05')
        |SELECT key, part, 'update_preimage' AS change_type,
        |       CAST(0 AS BIGINT) AS seq, vc FROM c
        |UNION ALL
        |SELECT key, part, 'update_postimage', 1, vc + 1000 FROM c
        |ORDER BY key, change_type""".stripMargin) { (s, d) =>
      val base = ensureClickStore(s, d)
      SnapshotStore.changes(s, base, 1, 2).orderBy("key", "change_type")
    },

    // compaction (OPTIMIZE): v2 rewrites v1's many-files-per-partition
    // layout (one file per write task) into one file per partition,
    // content-identical — the small-files reset a frequently-committing
    // store needs at scale. The oracle checks content equality; the
    // file-count drop and v1's integrity are pinned in SnapshotSpec.
    "store_compact" -> QueryDef(
      """SELECT strftime(ts, '%Y-%m-%d') AS part, COUNT(*) AS n,
        |  CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS total
        |FROM events WHERE event_type = 'click'
        |GROUP BY part ORDER BY part""".stripMargin) { (s, d) =>
      val base = Fixtures.cached(s, d, "snapc", "events") { base =>
        SnapshotStore.commit(s, base, clicksOf(s, d))
        SnapshotStore.compact(s, base)
      }
      SnapshotStore.readVersion(s, base, 2)
        .groupBy("part")
        .agg(count(lit(1)).as("n"), sum("vc").as("total"))
        .orderBy("part")
    },

    // SHALLOW CLONE: the clone's v1 manifest points at the source's
    // data dirs — zero rows copied at any store size — then the clone
    // evolves independently (day-3 +500 upsert) while the source's
    // current snapshot stays byte-identical: dirs are immutable, so
    // divergence costs only the clone's own writes. The dev/staging
    // branch-a-100TB-table-for-free pattern. Oracle recomputes both
    // sides from raw events; dir sharing is pinned in SnapshotSpec.
    "store_clone" -> QueryDef(
      """WITH c AS (SELECT strftime(ts, '%Y-%m-%d') AS part,
        |             CAST(round(value*100) AS BIGINT)
        |               + CASE WHEN strftime(ts, '%Y-%m-%d') = '2024-01-05'
        |                      THEN 1000 ELSE 0 END AS vc
        |           FROM events WHERE event_type = 'click')
        |SELECT 'clone' AS side, part, COUNT(*) AS n,
        |  CAST(SUM(vc + CASE WHEN part = '2024-01-03' THEN 500 ELSE 0 END) AS BIGINT) AS total
        |FROM c GROUP BY part
        |UNION ALL
        |SELECT 'source', part, COUNT(*), CAST(SUM(vc) AS BIGINT) FROM c GROUP BY part
        |ORDER BY side, part""".stripMargin) { (s, d) =>
      val base = ensureClickStore(s, d)
      val cb = Fixtures.cached(s, d, "snapclone", "events") { cb =>
        SnapshotStore.shallowClone(s, base, cb)
        SnapshotStore.commit(s, cb,
          clicksOf(s, d).where(col("part") === "2024-01-03")
            .withColumn("seq", lit(1L))
            .withColumn("vc", col("vc") + 500L))
      }
      def sideAgg(b: String, side: String) =
        SnapshotStore.readVersion(s, b, 2).groupBy("part")
          .agg(count(lit(1)).as("n"), sum("vc").as("total"))
          .select(lit(side).as("side"), col("part"), col("n"), col("total"))
      sideAgg(cb, "clone").unionByName(sideAgg(base, "source"))
        .orderBy("side", "part")
    },

    // INCREMENTAL materialized-view maintenance: the per-partition
    // (n, total) view is materialized ONCE at v1, then refreshed to v2
    // by applying the change data feed — insert/delete adjust n,
    // postimage-minus-preimage adjusts total. The refresh plan reads
    // the small stored MV plus only the CHANGED partitions (the CDF's
    // manifest diff skips unchanged directory pointers without opening
    // a file), so refresh cost is O(changed data) + O(view), not
    // O(store) — the difference between minutes and a full recompute
    // at 100 TB. The oracle recomputes the v2 state from raw events;
    // all four CDF branches are exercised in SnapshotSpec.
    "store_incremental_view" -> QueryDef(
      """WITH c AS (SELECT strftime(ts, '%Y-%m-%d') AS part,
        |             CAST(round(value*100) AS BIGINT)
        |               + CASE WHEN strftime(ts, '%Y-%m-%d') = '2024-01-05'
        |                      THEN 1000 ELSE 0 END AS vc
        |           FROM events WHERE event_type = 'click')
        |SELECT part, COUNT(*) AS n, CAST(SUM(vc) AS BIGINT) AS total
        |FROM c GROUP BY part ORDER BY part""".stripMargin) { (s, d) =>
      val base = ensureClickStore(s, d)
      val mvPath = Fixtures.cached(s, d, "snapmv", "events") { mv =>
        SnapshotStore.readVersion(s, base, 1).groupBy("part")
          .agg(count(lit(1)).as("n"), sum("vc").as("total"))
          .write.parquet(mv)
      }
      refreshCountSumView(s, base, s.read.parquet(mvPath), 1, 2)
        .orderBy("part")
    },

    // BRANCH DIFF — the git-workflow read over shallow clones: a
    // zero-copy branch of the click store diverges (day-7 upsert +
    // 20 inserted keys), and the diff between branch head and source
    // head classifies every (key, part) as added / changed / same by
    // a full-outer join of the two snapshot reads. Cross-STORE diff
    // complements the within-store CDF: changes() walks one commit
    // chain; this compares two chains that share physical history.
    // Only the per-class counts and the changed-rows vc delta come
    // back — the join stays distributed on (key, part).
    "store_branch_diff" -> QueryDef(
      """WITH c AS (
        |  SELECT event_id AS id, strftime(ts, '%Y-%m-%d') AS part,
        |    CAST(round(value*100) AS BIGINT) AS vc
        |  FROM events WHERE event_type = 'click'),
        |src AS (SELECT CAST(id AS VARCHAR) AS key, part,
        |          vc + CASE WHEN part = '2024-01-05' THEN 1000 ELSE 0 END AS vc
        |        FROM c),
        |br AS (SELECT key, part,
        |         vc + CASE WHEN part = '2024-01-07' THEN 777 ELSE 0 END AS vc
        |       FROM src
        |       UNION ALL
        |       SELECT CAST(id + 900000 AS VARCHAR), part, vc FROM c
        |       WHERE part = '2024-01-03' AND id % 3 = 0),
        |j AS (SELECT
        |        CASE WHEN src.key IS NULL THEN 'added'
        |             WHEN br.vc <> src.vc THEN 'changed'
        |             ELSE 'same' END AS class,
        |        COALESCE(br.vc, 0) - COALESCE(src.vc, 0) AS dv
        |      FROM br LEFT JOIN src
        |        ON br.key = src.key AND br.part = src.part)
        |SELECT class, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(dv) AS BIGINT) AS vc_delta
        |FROM j GROUP BY class ORDER BY class""".stripMargin) { (s, d) =>
      val srcBase = ensureClickStore(s, d)
      val brBase = ensureBranchStore(s, d)
      val src = SnapshotStore.readVersion(s, srcBase,
        SnapshotStore.currentVersion(s, srcBase))
        .select(col("key"), col("part"), col("vc").as("svc"))
      val br = SnapshotStore.readVersion(s, brBase,
        SnapshotStore.currentVersion(s, brBase))
        .select(col("key"), col("part"), col("vc").as("bvc"))
      br.join(src, Seq("key", "part"), "left")
        .select(
          when(col("svc").isNull, "added")
            .when(col("bvc") =!= col("svc"), "changed")
            .otherwise("same").as("class"),
          (coalesce(col("bvc"), lit(0L)) - coalesce(col("svc"), lit(0L))).as("dv"))
        .groupBy("class")
        .agg(count(lit(1)).as("n"), sum("dv").as("vc_delta"))
        .orderBy("class")
    },

    // triangle counting on the supplier co-order graph (edge = two
    // suppliers co-supplying >= 4 orders). The oracle counts by the
    // textbook u<v<w triple join; the Spark plan is the DISTRIBUTED
    // algorithm: orient every edge from the (degree, id)-smaller
    // endpoint to the larger, so each triangle is counted exactly once
    // — at its lowest corner — and per-node wedge work is bounded by
    // OUT-degree (~sqrt(m) after orientation) instead of raw degree:
    // the hub that breaks the naive self-join has high in-degree but
    // low out-degree. Wedges stay in one shuffle-partition pass; the
    // closing-edge check and the degree attach are a StaticTier knob
    // (r17): hinted broadcasts in the bench tier — audit-visible via
    // ReviewedBroadcasts, since degrees are O(V) and the closing set
    // is O(E) — and shuffle_hash equi-joins in the `_shuffled` twin,
    // the tier that survives edge sets past the broadcast budget.
    "graph_triangles" -> QueryDef(TrianglesOracle) { (s, d) =>
      trianglesAt(s, d, graft.StaticTier.Broadcast)
    },

    // the ShuffledStatic tier of graph_triangles, oracle-gated at
    // every driver SF (the streaming_dedup_gate_shuffled precedent):
    // same logical join, zero broadcast hints, so the plan holds when
    // the oriented edge set outgrows any broadcast limit
    "graph_triangles_shuffled" -> QueryDef(TrianglesOracle) { (s, d) =>
      trianglesAt(s, d, graft.StaticTier.ShuffledStatic)
    },

    // BFS shortest hops from customer 1 over the customer<->supplier
    // co-order bipartite graph (suppliers as negative node ids), 3
    // frontier expansions — the iterative-graph primitive under
    // label propagation / reachability / taint tracking. Each round
    // is one frontier-keyed equi-join + distinct + anti join against
    // the visited set (frontiers localCheckpointed so lineage stays
    // flat); the oracle is a recursive CTE with per-iteration
    // min-hop grouping.
    "graph_bfs_hops" -> QueryDef(
      """WITH RECURSIVE eh AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS a,
        |        -CAST(l_suppkey AS BIGINT) AS b
        |      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |ed AS (SELECT a, b FROM eh UNION ALL SELECT b, a FROM eh),
        |bfs(node, hop) AS (
        |  SELECT CAST(1 AS BIGINT) AS node, 0 AS hop
        |  UNION ALL
        |  SELECT ed.b, MIN(bfs.hop) + 1 FROM bfs JOIN ed ON ed.a = bfs.node
        |  WHERE bfs.hop < 3 GROUP BY ed.b)
        |SELECT node, MIN(hop) AS hop FROM bfs GROUP BY node
        |ORDER BY hop, node""".stripMargin) { (s, d) =>
      val eh = Tables.orders(s, d).join(Tables.lineitem(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").cast("long").as("a"),
          (-col("l_suppkey")).cast("long").as("b"))
        .distinct()
      val ed = eh.unionAll(eh.select(col("b").as("a"), col("a").as("b")))
      // frontier and visited are O(nodes) vs the O(edges) list: the
      // Broadcast tier keeps the edge list stationary across rounds;
      // GraphLoops.CoPartitioned is the hash-equal fallback for node
      // sets past broadcast limits (pinned in GraphLoopsSpec)
      GraphLoops.bfsHops(ed, source = 1L, rounds = 3).orderBy("hop", "node")
    },

    // the SAME BFS through the CoPartitioned tier — the plan that
    // survives node sets past broadcast limits (edge list hash-pinned
    // once, only O(nodes) state shuffles per round) — under the full
    // driver gate: same oracle, so the tier's hash-equality is proven
    // end-to-end at sf0.01, not only in GraphLoopsSpec.
    "graph_bfs_copart" -> QueryDef(
      """WITH RECURSIVE eh AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS a,
        |        -CAST(l_suppkey AS BIGINT) AS b
        |      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |ed AS (SELECT a, b FROM eh UNION ALL SELECT b, a FROM eh),
        |bfs(node, hop) AS (
        |  SELECT CAST(1 AS BIGINT) AS node, 0 AS hop
        |  UNION ALL
        |  SELECT ed.b, MIN(bfs.hop) + 1 FROM bfs JOIN ed ON ed.a = bfs.node
        |  WHERE bfs.hop < 3 GROUP BY ed.b)
        |SELECT node, MIN(hop) AS hop FROM bfs GROUP BY node
        |ORDER BY hop, node""".stripMargin) { (s, d) =>
      val eh = Tables.orders(s, d).join(Tables.lineitem(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").cast("long").as("a"),
          (-col("l_suppkey")).cast("long").as("b"))
        .distinct()
      val ed = eh.unionAll(eh.select(col("b").as("a"), col("a").as("b")))
      GraphLoops.bfsHops(ed, source = 1L, rounds = 3,
          strategy = GraphLoops.CoPartitioned)
        .orderBy("hop", "node")
    },

    // single-source WEIGHTED shortest path (<= 4 edges) from customer 1
    // over the same bipartite graph, synthetic symmetric integer
    // weights ((|a|+|b|) % 9 + 1) — Bellman-Ford as 4 relaxation
    // rounds. Each round = one node-keyed equi-join against the edge
    // list + one partial-aggregated MIN groupBy (the PageRank shape:
    // per-round state is O(nodes) and broadcasts, so the edge list
    // never re-shuffles; lineage cut per round). The oracle is the same
    // relaxation unrolled as chained CTEs — no recursive path
    // enumeration, so neither side ever materializes a path set.
    // All integer => hash-exact despite 4 iterations.
    "graph_shortest_path" -> QueryDef(
      """WITH eh AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS a,
        |        -CAST(l_suppkey AS BIGINT) AS b
        |      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |ed AS (SELECT a, b, (abs(a) + abs(b)) % 9 + 1 AS w FROM eh
        |       UNION ALL SELECT b, a, (abs(a) + abs(b)) % 9 + 1 FROM eh),
        |d0 AS (SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist),
        |d1 AS (SELECT node, MIN(dist) AS dist FROM (
        |  SELECT * FROM d0 UNION ALL
        |  SELECT ed.b, d0.dist + ed.w FROM d0 JOIN ed ON ed.a = d0.node) GROUP BY 1),
        |d2 AS (SELECT node, MIN(dist) AS dist FROM (
        |  SELECT * FROM d1 UNION ALL
        |  SELECT ed.b, d1.dist + ed.w FROM d1 JOIN ed ON ed.a = d1.node) GROUP BY 1),
        |d3 AS (SELECT node, MIN(dist) AS dist FROM (
        |  SELECT * FROM d2 UNION ALL
        |  SELECT ed.b, d2.dist + ed.w FROM d2 JOIN ed ON ed.a = d2.node) GROUP BY 1),
        |d4 AS (SELECT node, MIN(dist) AS dist FROM (
        |  SELECT * FROM d3 UNION ALL
        |  SELECT ed.b, d3.dist + ed.w FROM d3 JOIN ed ON ed.a = d3.node) GROUP BY 1)
        |SELECT node, dist FROM d4 ORDER BY dist, node""".stripMargin) { (s, d) =>
      val eh = Tables.orders(s, d).join(Tables.lineitem(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").cast("long").as("a"),
          (-col("l_suppkey")).cast("long").as("b"))
        .distinct()
      val w = expr("abs(a) + abs(b)") % 9 + 1
      val ed = eh.select(col("a"), col("b"), w.as("w"))
        .unionAll(eh.select(col("b").as("a"), col("a").as("b"), w.as("w")))
      // the distance vector is O(nodes): the Broadcast tier keeps the
      // edge list stationary across relaxation rounds; CoPartitioned
      // is the hash-equal fallback (pinned in GraphLoopsSpec)
      GraphLoops.bellmanFord(ed, source = 1L, rounds = 4).orderBy("dist", "node")
    },

    // SCHEMA EVOLUTION under time travel: v2's upsert adds a `quality`
    // column v1 never had. Reading v2 must surface it (NULL on the
    // rows only v1 wrote — day-5 rows all carry it, others none);
    // reading v1 must NOT have the column at all — each snapshot keeps
    // the schema it was committed with, because a manifest pins dirs,
    // and dirs written before the column existed are never rewritten.
    // Evolution therefore costs zero data movement at any store size
    // (the mergeSchema read pays only footer unification). The oracle
    // recomputes both versions' aggregates from raw events.
    "store_schema_evolution" -> QueryDef(
      """WITH c AS (SELECT CAST(ts AS DATE) AS day,
        |             CAST(round(value*100) AS BIGINT) AS vc
        |           FROM events WHERE event_type = 'click'),
        |v1 AS (SELECT CAST(1 AS BIGINT) AS version, COUNT(*) AS n,
        |         CAST(0 AS BIGINT) AS n_evolved, CAST(0 AS BIGINT) AS q_total
        |       FROM c),
        |v2 AS (SELECT CAST(2 AS BIGINT), COUNT(*),
        |         CAST(COUNT(*) FILTER (WHERE day = DATE '2024-01-05') AS BIGINT),
        |         CAST(COALESCE(SUM(vc % 100)
        |           FILTER (WHERE day = DATE '2024-01-05'), 0) AS BIGINT)
        |       FROM c)
        |SELECT * FROM v1 UNION ALL SELECT * FROM v2
        |ORDER BY version""".stripMargin) { (s, d) =>
      val base = ensureEvoStore(s, d)
      Seq(1, 2).map { v =>
        val df = SnapshotStore.readVersion(s, base, v)
        // v1 predates the column: it must be ABSENT, not null — the
        // query materializes that as the all-zero row
        val q = if (df.columns.contains("quality")) col("quality")
                else lit(null).cast("long")
        df.select(q.as("quality"))
          .agg(count(lit(1)).as("n"), count(col("quality")).as("n_evolved"),
            coalesce(sum("quality"), lit(0L)).as("q_total"))
          .select(lit(v.toLong).as("version"), col("n"),
            col("n_evolved"), col("q_total"))
      }.reduce(_ unionByName _).orderBy("version")
    },

    // versioned TICK time travel: every event becomes a tick point
    // keyed (series, ts_ns, field) — unique in this data, so the tick
    // key IS the snapshot key — v1 ingests all series, v2 upserts
    // day-5 points shifted +500 cents, and both versions answer a
    // day-RANGED as-of query. The range prunes at the MANIFEST level
    // (TickVersioned.readAsOfRange): out-of-range day dirs never
    // reach the scan, so a 10-year store serves this with 3 dirs.
    // The oracle recomputes both versions from raw events.
    "tick_asof_range" -> QueryDef(
      """WITH c AS (SELECT event_type AS series, CAST(ts AS DATE) AS day,
        |             CAST(round(value*100) AS BIGINT) AS vc FROM events),
        |r AS (SELECT * FROM c
        |      WHERE day BETWEEN DATE '2024-01-04' AND DATE '2024-01-06'),
        |v1 AS (SELECT CAST(1 AS BIGINT) AS version, series, COUNT(*) AS n,
        |         CAST(SUM(vc) AS BIGINT) AS total FROM r GROUP BY 2),
        |v2 AS (SELECT CAST(2 AS BIGINT), series, COUNT(*),
        |         CAST(SUM(CASE WHEN day = DATE '2024-01-05' THEN vc + 500
        |                       ELSE vc END) AS BIGINT) FROM r GROUP BY 2)
        |SELECT * FROM v1 UNION ALL SELECT * FROM v2
        |ORDER BY version, series""".stripMargin) { (s, d) =>
      import graft.tick.TickVersioned
      val base = Fixtures.cached(s, d, "ticksnap", "events") { base =>
        val pts = Tables.events(s, d).select(
          col("event_type").as("index"),
          col("ts_ns"),
          lit("value").as("field"),
          expr("CAST(round(value*100) AS BIGINT)").as("vc"),
          date_format(col("ts"), "yyyy-MM-dd").as("d0"))
        TickVersioned.commit(s, base, pts.drop("d0"))
        TickVersioned.commit(s, base,
          pts.where(col("d0") === "2024-01-05").drop("d0")
            .withColumn("vc", col("vc") + 500L)
            .withColumn("seq", lit(1L)))
      }
      Seq(1, 2).map { v =>
        TickVersioned.readAsOfRange(s, base, v, "2024-01-04", "2024-01-06")
          .groupBy(col("index").as("series"))
          .agg(count(lit(1)).as("n"), sum("vc").as("total"))
          .select(lit(v.toLong).as("version"), col("series"), col("n"), col("total"))
      }.reduce(_ unionByName _).orderBy("version", "series")
    },

    // JSON-lines sink + source round-trip: the interchange sibling of
    // the csv/orc round-trips (JSON = the dominant raw-crawl format a
    // training pipeline ingests). Write a projection once per sf dir,
    // read back with an explicit schema (no inference pass at scale),
    // reproduce the rows exactly — longs and strings are textual,
    // doubles round-trip through shortest-repr printing.
    "source_json_roundtrip" -> QueryDef(
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderkey <= 5000 ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val path = Fixtures.cached(s, d, "json", "orders") { out =>
        Tables.orders(s, d).where(col("o_orderkey") <= 5000)
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
          .write.json(out)
      }
      s.read
        .schema("o_orderkey LONG, o_orderstatus STRING, o_totalprice DOUBLE")
        .json(path)
        .orderBy("o_orderkey")
    },

    // BENFORD first-digit audit — the forensic data-quality screen
    // (fabricated or truncated numeric columns drift from the
    // log-distribution real-world amounts follow). One scan collapses
    // to 9 digit-counts; the digit spine is generated so absent
    // digits still report a zero row; expectations log10(1+1/d) land
    // as nano-scaled integers via the shared round-then-scale idiom,
    // so observed-vs-expected gaps are hash-exact. At 100 TB this is
    // a single map-side-combinable count — the cheapest audit there is.
    "stat_benford" -> QueryDef(
      """WITH v AS (
        |  SELECT CAST(substr(CAST(CAST(round(o_totalprice*100) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders WHERE o_totalprice > 0),
        |o AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS obs FROM v GROUP BY 1),
        |t AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM o),
        |spine AS (SELECT CAST(d AS BIGINT) AS digit FROM range(1, 10) r(d))
        |SELECT spine.digit,
        |  COALESCE(o.obs, 0) AS obs,
        |  COALESCE(o.obs, 0) * 1000000000 // t.n AS obs_nano,
        |  CAST(round(round(log10(1.0 + 1.0 / spine.digit), 9) * 1000000000)
        |    AS BIGINT) AS exp_nano,
        |  COALESCE(o.obs, 0) * 1000000000 // t.n
        |    - CAST(round(round(log10(1.0 + 1.0 / spine.digit), 9) * 1000000000)
        |        AS BIGINT) AS diff_nano
        |FROM spine LEFT JOIN o ON spine.digit = o.digit CROSS JOIN t
        |ORDER BY spine.digit""".stripMargin) { (s, d) =>
      val v = Tables.orders(s, d).where(col("o_totalprice") > 0)
        .select(expr(
          "CAST(substr(CAST(CAST(round(o_totalprice*100) AS BIGINT) AS STRING), 1, 1) AS BIGINT)")
          .as("digit"))
      val o = v.groupBy("digit").agg(count(lit(1)).as("obs"))
      val t = o.agg(sum("obs").as("n"))
      val spine = s.range(1, 10).select(col("id").as("digit"))
      spine.join(broadcast(o), Seq("digit"), "left").crossJoin(broadcast(t))
        .select(col("digit"),
          coalesce(col("obs"), lit(0L)).as("obs"),
          expr("coalesce(obs, 0) * 1000000000 div n").as("obs_nano"),
          expr("CAST(round(round(log10(1.0 + 1.0 / digit), 9) * 1000000000) AS BIGINT)")
            .as("exp_nano"),
          (expr("coalesce(obs, 0) * 1000000000 div n")
            - expr("CAST(round(round(log10(1.0 + 1.0 / digit), 9) * 1000000000) AS BIGINT)"))
            .as("diff_nano"))
        .orderBy("digit")
    },

    // MANN-WHITNEY U — the nonparametric two-sample test (are click
    // and view event values drawn from the same distribution?),
    // completing the hypothesis-test family with the rank-based
    // member (chi2 = categorical, z = proportions, KS = ECDF sup,
    // U = rank sums). Ranks come from ONE cumsum over the DISTINCT
    // cent-value axis, never the rows, and tie-averaged ranks stay
    // integer by carrying 2x the rank sum (avg rank of a tie group =
    // cumBefore + (t+1)/2, so 2R1 = sum a*(2*cumBefore + t + 1)).
    // The tie-corrected z lands as micro-scaled integer through one
    // deterministic sqrt — identical expression text both engines.
    "stat_mannwhitney" -> QueryDef(
      """WITH x AS (
        |  SELECT CAST(round(value*100) AS BIGINT) AS v,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS s1,
        |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS s2
        |  FROM events WHERE event_type IN ('click', 'view')),
        |g AS (SELECT v, CAST(SUM(s1) AS BIGINT) AS a, CAST(SUM(s2) AS BIGINT) AS b
        |      FROM x GROUP BY 1),
        |c AS (SELECT a, b, a + b AS t,
        |        CAST(SUM(a + b) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
        |          AS BIGINT) - (a + b) AS cum_before
        |      FROM g),
        |r AS (SELECT CAST(SUM(a) AS BIGINT) AS n1, CAST(SUM(b) AS BIGINT) AS n2,
        |        CAST(SUM(a * (2 * cum_before + t + 1)) AS BIGINT) AS r1_x2,
        |        CAST(SUM(t * t * t - t) AS BIGINT) AS tie_sum
        |      FROM c)
        |SELECT n1, n2, r1_x2,
        |  r1_x2 - n1 * (n1 + 1) AS u1_x2,
        |  CAST(round(1000000.0 * (r1_x2 - n1 * (n1 + 1) - n1 * n2)
        |    / (2.0 * sqrt(n1 * n2 * ((CAST(n1 + n2 AS DOUBLE) + 1.0)
        |        - CAST(tie_sum AS DOUBLE) / ((n1 + n2) * (n1 + n2 - 1.0))) / 12.0)))
        |    AS BIGINT) AS z_micro
        |FROM r""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val x = Tables.events(s, d)
        .where(col("event_type").isin("click", "view"))
        .select(expr("CAST(round(value*100) AS BIGINT)").as("v"),
          when(col("event_type") === "click", 1).otherwise(0).as("s1"),
          when(col("event_type") === "view", 1).otherwise(0).as("s2"))
      val g = x.groupBy("v").agg(sum("s1").as("a"), sum("s2").as("b"))
      val w = Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val c = g.select(col("a"), col("b"), (col("a") + col("b")).as("t"),
        (sum(col("a") + col("b")).over(w) - (col("a") + col("b"))).as("cum_before"))
      val r = c.agg(sum("a").as("n1"), sum("b").as("n2"),
        sum(col("a") * (lit(2) * col("cum_before") + col("t") + 1)).as("r1_x2"),
        sum(col("t") * col("t") * col("t") - col("t")).as("tie_sum"))
      r.select(col("n1"), col("n2"), col("r1_x2"),
        (col("r1_x2") - col("n1") * (col("n1") + 1)).as("u1_x2"),
        expr("""CAST(round(1000000.0 * (r1_x2 - n1 * (n1 + 1) - n1 * n2)
          / (2.0 * sqrt(n1 * n2 * ((CAST(n1 + n2 AS DOUBLE) + 1.0)
              - CAST(tie_sum AS DOUBLE) / ((n1 + n2) * (n1 + n2 - 1.0))) / 12.0)))
          AS BIGINT)""").as("z_micro"))
    },

    // THEIL-SEN robust slope — the regression estimator outliers
    // can't drag (median of pairwise slopes), the robust twin of
    // agg_regression's OLS the way MAD twins stddev. The pair space
    // is DAYS squared per series, never rows squared: the fact table
    // collapses to one integer-cents total per (series, day) first,
    // so 30 days = 435 pairs regardless of row count — the same
    // collapse-then-pair discipline as basket_lift. Slopes land as
    // deterministic micro-integers; the median interpolates at worst
    // to an exact .5, hash-stable in both engines.
    // HLL SKETCH-MERGE ROLLUP — the REAGGREGATABLE distinct-count
    // architecture at 100 TB: each day pre-aggregates one HLL sketch
    // of its users (map-side combinable, O(4KB) per group), and any
    // coarser window — month here — answers by UNIONING stored
    // sketches instead of re-scanning events. profile_columns_approx
    // already uses one-shot HLL; what this adds is the MERGE tier:
    // estimate(union(daily)) is the production query path for
    // "distinct users over an arbitrary date range". Sketches are
    // deterministic, so SketchSpec pins merged == direct-monthly
    // exactly, plus a 3-sigma error band vs the exact count; the
    // driver gate is rows-only (DuckDB's approx engine differs by
    // design).
    "agg_hll_rollup" -> QueryDef.rowsOnly { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      daily.groupBy(date_trunc("month", col("day")).cast("date").as("month"))
        .agg(hll_union_agg(col("sk")).as("msk"))
        .select(col("month"), hll_sketch_estimate(col("msk")).as("est_users"))
        .orderBy("month")
    },

    "stat_theil_sen" -> QueryDef(
      """WITH day AS (
        |  SELECT event_type,
        |    datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
        |    CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.event_type,
        |    CAST(round((b.v - a.v) * 1000000.0 / (b.d - a.d)) AS BIGINT) AS slope_micro
        |  FROM day a JOIN day b
        |    ON a.event_type = b.event_type AND a.d < b.d)
        |SELECT event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  quantile_cont(slope_micro, 0.5) AS slope_micro_med
        |FROM pairs GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val day = Tables.events(s, d)
        .groupBy(col("event_type"),
          datediff(col("ts").cast("date"), lit(java.sql.Date.valueOf("2024-01-01"))).as("d"))
        .agg(sum(expr("CAST(round(value*100) AS BIGINT)")).as("v"))
      val a = day.select(col("event_type"), col("d").as("d1"), col("v").as("v1"))
      val b = day.select(col("event_type").as("et2"), col("d").as("d2"), col("v").as("v2"))
      val pairs = a.join(b, col("event_type") === col("et2") && col("d1") < col("d2"))
        .select(col("event_type"),
          expr("CAST(round((v2 - v1) * 1000000.0 / (d2 - d1)) AS BIGINT)").as("slope_micro"))
      pairs.groupBy("event_type")
        .agg(count(lit(1)).as("n_pairs"),
          expr("percentile(slope_micro, 0.5)").as("slope_micro_med"))
        .orderBy("event_type")
    }
  )
}
