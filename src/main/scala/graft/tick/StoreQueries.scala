package graft.tick

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Fixtures, QueryDef, Tables}

/** Verify-gate coverage for the storage layer (SURVEY §2.A rows A6/A7/
  * A9): each entry builds a real [[TickStore]] under /tmp from the
  * events table, runs actual write jobs (ingest, upsert, range delete),
  * reads the store back, and is hash-compared against a DuckDB oracle
  * computing the same end state directly from `events` — i.e. the
  * whole ingest→store→query lifecycle is inside the correctness gate.
  */
object StoreQueries {

  /** One event type's events of a sf dir as one ingest batch. */
  private def series(spark: SparkSession, dir: String, eventType: String): DataFrame =
    Tables.events(spark, dir).where(col("event_type") === eventType)
      .select(col("event_type").as("index"), col("ts_ns"),
        map(lit("value"), col("value")).as("value"),
        col("event_id").as("seq"))

  /** Store + materialized rollups over the 'view' events of a sf dir;
    * built once per dir and reused (content is deterministic).
    */
  private def rollupStore(spark: SparkSession, dir: String): TickStore =
    new TickStore(Fixtures.cached(spark, dir, "store_rollup", "events") { root =>
      val store = new TickStore(root)
      store.createDb(spark, "db")
      store.ingest(spark, "db", series(spark, dir, "view"))
      Rollup.materialize(spark, store, "db")
    })

  /** Store + rollups over 'view' events with a range DELETED after
    * materialization — exercises the incremental rollup refresh on the
    * delete path.
    */
  private[tick] val deleteFromNs: Long = TickQuery.parseTimeNs("2024-01-08T12:00:00Z")
  private[tick] val deleteToNs: Long = TickQuery.parseTimeNs("2024-01-12T00:00:00Z")
  private def rollupDeleteStore(spark: SparkSession, dir: String): TickStore =
    new TickStore(Fixtures.cached(spark, dir, "store_rollupdel", "events") { root =>
      val store = new TickStore(root)
      store.createDb(spark, "db")
      store.ingest(spark, "db", series(spark, dir, "view"))
      Rollup.materialize(spark, store, "db")
      store.deleteRange(spark, "db", "view", deleteFromNs, deleteToNs)
    })

  /** Store fragmented by six chunked ingests of the 'error' series
    * (6 files per (index, day) partition), then compacted to one file
    * per partition.
    */
  private def compactedStore(spark: SparkSession, dir: String): TickStore =
    new TickStore(Fixtures.cached(spark, dir, "store_compact", "events") { root =>
      val store = new TickStore(root)
      store.createDb(spark, "db")
      val errs = series(spark, dir, "error")
      (0 until 6).foreach { i =>
        store.ingest(spark, "db", errs.where(col("seq") % 6 === i))
      }
      store.compact(spark, "db", maxFilesPerPartition = 2)
    })

  /** Upsert-roundtrip store (batch1 then batch2): the ingest+upsert
    * write jobs run once — in the bench they are SETUP (timed
    * separately via [[benchSetups]]), and the measured query is the
    * store read-back.
    */
  private def upsertStore(spark: SparkSession, dir: String): TickStore =
    new TickStore(Fixtures.cached(spark, dir, "store_upsert", "events") { root =>
      val store = new TickStore(root)
      store.createDb(spark, "db")
      store.ingest(spark, "db", batch1(spark, dir))
      store.ingest(spark, "db", batch2(spark, dir))
    })

  /** Fixture builders for store-building bench entries: Bench times
    * these separately (setup_sec) so the lap times measure the QUERY
    * plan, not fixture construction. Every builder is idempotent and
    * content-deterministic; the query defs call the same builders, so
    * correctness never depends on Bench having run them.
    */
  private[graft] val benchSetups: Map[String, (SparkSession, String) => Unit] = Map(
    "store_upsert_roundtrip" -> ((s, d) => { upsertStore(s, d); () }),
    "store_compact_roundtrip" -> ((s, d) => { compactedStore(s, d); () }),
    "rollup_query_hour" -> ((s, d) => { rollupStore(s, d); () }),
    "rollup_query_3day_avg" -> ((s, d) => { rollupStore(s, d); () }),
    "rollup_after_delete" -> ((s, d) => { rollupDeleteStore(s, d); () }))

  private def freshStore(spark: SparkSession, dir: String, tag: String): (TickStore, String) = {
    val root = s"${sys.props("java.io.tmpdir")}/graft_store_${tag}_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    (new TickStore(root), "db")
  }

  /** events rows (2 indexes) as a tick ingest batch:
    * value = {"value": value, "k": props.k}, seq = event_id.
    */
  private def batch1(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .where(col("event_type").isin("click", "error"))
      .select(
        col("event_type").as("index"),
        col("ts_ns"),
        map(
          lit("value"), col("value"),
          lit("k"), get_json_object(col("props"), "$.k").cast("double")).as("value"),
        col("event_id").as("seq"))

  /** Second batch: every 7th event re-posted with a shifted value and
    * WITHOUT the "k" field — exercises the reference's whole-map
    * replacement upsert (`node.go:235-237`: equal timestamp replaces
    * Value wholesale, not a field merge).
    */
  private def batch2(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .where(col("event_type").isin("click", "error") && col("event_id") % 7 === 0)
      .select(
        col("event_type").as("index"),
        col("ts_ns"),
        map(lit("value"), col("value") + lit(1000.0)).as("value"),
        col("event_id").as("seq"))

  val defs: Map[String, QueryDef] = Map(

    // A6 ingest + last-write-wins upsert, then read back through the store
    "store_upsert_roundtrip" -> QueryDef(
      """SELECT event_type AS idx, ts,
        |  CASE WHEN event_id % 7 = 0 THEN "value" + 1000.0 ELSE "value" END AS v,
        |  CASE WHEN event_id % 7 = 0 THEN NULL
        |       ELSE CAST(props->>'$.k' AS DOUBLE) END AS k
        |FROM events
        |WHERE event_type IN ('click', 'error')
        |ORDER BY idx, ts""".stripMargin) { (spark, dir) =>
      // the ingest->upsert write jobs run once via the cached builder;
      // the measured query is the read-back of the upserted store
      val store = upsertStore(spark, dir)
      store.read(spark, "db")
        .select(
          col("index").as("idx"),
          col("ts"),
          element_at(col("value"), "value").as("v"),
          element_at(col("value"), "k").as("k"))
        .orderBy("idx", "ts")
    },

    // A9 range delete: interior days dropped as directories, boundary
    // days rewritten with the anti-filter; half-open [from, to)
    "store_range_delete" -> QueryDef(
      """SELECT ts, "value" AS v FROM events
        |WHERE event_type = 'view'
        |  AND NOT (ts >= TIMESTAMP '2024-01-10 06:30:00'
        |           AND ts < TIMESTAMP '2024-01-19 18:45:00')
        |ORDER BY ts""".stripMargin) { (spark, dir) =>
      val (store, db) = freshStore(spark, dir, "delete")
      store.createDb(spark, db)
      store.ingest(spark, db, series(spark, dir, "view"))
      store.deleteRange(spark, db, "view",
        TickQuery.parseTimeNs("2024-01-10T06:30:00Z"),
        TickQuery.parseTimeNs("2024-01-19T18:45:00Z"))
      store.read(spark, db)
        .select(col("ts"), element_at(col("value"), "value").as("v"))
        .orderBy("ts")
    },

    // A8 through the rollup tier (the pyramid analog): hour-level query
    // answered from materialized rollups must equal the oracle's direct
    // aggregation over the raw events. The rollup store is built once
    // per sf dir and reused (deterministic content), so bench laps time
    // the routed read, not the build.
    "rollup_query_hour" -> QueryDef(
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
        |  CAST(SUM(CAST("value" AS DECIMAL(20,4))) AS DOUBLE) AS value_sum
        |FROM events WHERE event_type = 'view'
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
      val store = rollupStore(spark, dir)
      store.query(spark, "db", TickQuery.fromJson(
        """{"index":"view","group":"hour","fields":{"value":{"reducer":"sum"}}}"""))
    },

    "rollup_query_3day_avg" -> QueryDef(
      """SELECT make_timestamp((epoch_us(ts) // 259200000000) * 259200000000) AS bucket,
        |  CAST(SUM(CAST("value" AS DECIMAL(20,4))) AS DOUBLE) / COUNT("value") AS value_avg
        |FROM events WHERE event_type = 'view'
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
      val store = rollupStore(spark, dir)
      store.query(spark, "db", TickQuery.fromJson(
        """{"index":"view","group":"3days","fields":{"value":{"reducer":"avg"}}}"""))
    },

    // A9 + pyramid: hour-level query answered FROM THE ROLLUP TIER
    // after a range delete — proves the delete path's incremental
    // rollup refresh (interior days dropped, the boundary day's
    // buckets recomputed), not just the point data rewrite. Oracle =
    // direct aggregation over the raw events minus the deleted range.
    "rollup_after_delete" -> QueryDef(
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
        |  CAST(SUM(CAST("value" AS DECIMAL(20,4))) AS DOUBLE) AS value_sum
        |FROM events WHERE event_type = 'view'
        |  AND NOT (ts >= TIMESTAMP '2024-01-08 12:00:00'
        |           AND ts < TIMESTAMP '2024-01-12 00:00:00')
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
      val store = rollupDeleteStore(spark, dir)
      store.query(spark, "db", TickQuery.fromJson(
        """{"index":"view","group":"hour","fields":{"value":{"reducer":"sum"}}}"""))
    },

    // storage hygiene through the gate: six chunked ingests leave six
    // files per (index, day); compact folds each partition to one
    // file and the read-back must be CONTENT-IDENTICAL to the raw
    // series (the reference's copy-on-write log never reclaims dead
    // chunks — SURVEY §4.2 — this is the Spark-side answer). File
    // counts are pinned in TickStoreSpec; content is pinned here.
    // ASSUMPTION this comparison rests on: no two 'error' events share
    // a microsecond. Ingest is last-write-wins per (index, ts_ns) and
    // the testdata's ts_ns is µs-granular, so a regenerated testdata
    // with a same-µs collision would make the store collapse two rows
    // the DuckDB oracle keeps — a failure here after a testdata
    // refresh means KEY COLLISION, not a compaction bug (check
    // `SELECT ts, count(*) ... GROUP BY ts HAVING count(*) > 1` first).
    "store_compact_roundtrip" -> QueryDef(
      """SELECT ts, "value" AS v FROM events
        |WHERE event_type = 'error' ORDER BY ts""".stripMargin) { (spark, dir) =>
      val store = compactedStore(spark, dir)
      store.read(spark, "db")
        .select(col("ts"), element_at(col("value"), "value").as("v"))
        .orderBy("ts")
    },

    // A7 exact-key point lookup on the raw events table (the store-side
    // ns-exact get() is unit-tested; DuckDB only sees µs, so the oracle
    // keys on the µs timestamp)
    "tick_point_lookup" -> QueryDef(
      """SELECT ts, "value" FROM events
        |WHERE event_type = 'click'
        |  AND ts = (SELECT min(ts) FROM events WHERE event_type = 'click')""".stripMargin) { (spark, dir) =>
      val ev = Tables.events(spark, dir).where(col("event_type") === "click")
      val key = ev.agg(min("ts_ns").as("k"))
      ev.join(broadcast(key), col("ts_ns") === col("k"))
        .select(col("ts"), col("value"))
    }
  )
}
