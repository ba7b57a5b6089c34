package graft.tick
import graft.Pinned.PinnedOps

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The engine's storage layer: tick databases as partitioned Parquet.
  *
  * Replaces the reference's custom time-hierarchical file engine
  * (`storage/db.go`, `node.go`, `chunk.go`) wholesale — layout policy
  * lives here, execution stays in Spark (BASELINE.json
  * spark_approach: "custom storage layer outside Spark").
  *
  * Layout: `<root>/<db>/points/index=<i>/day=<yyyy-MM-dd>/` parquet files
  *
  *  - `index` (series id) and `day` (UTC date of the point) are
  *    partition columns, so every tick query pattern — one index, a
  *    time range (`db.go:110-125`) — prunes to exactly the partitions
  *    it touches. At 100 TB this is the load-bearing decision: queries
  *    and upserts never list, read, or rewrite more than the affected
  *    `(index, day)` slices.
  *  - Data columns: `ts_ns LONG` (exact ns key, `point.go:9`),
  *    `value MAP<STRING,DOUBLE>` (schemaless fields, `point.go:10`),
  *    `ingest_seq LONG` (monotonic per affected partition; orders
  *    last-write-wins upserts deterministically under parallelism —
  *    the reference gets ordering for free from single-threaded array
  *    order, `node.go:235-237`).
  *
  * Durability: every mutation is a Spark job with atomic job commit —
  * structurally resolving the reference's never-called `DB.Flush`
  * durability hole (`db.go:171-185`, SURVEY §4.4). Concurrent writers
  * to the same db are out of scope (so were they in the reference,
  * whose mutexes are never locked, `db.go:15-16`).
  */
final class TickStore(val root: String) {

  import TickStore._

  private def dbPath(db: String) = new Path(root, db)
  private def tablePath(db: String) = new Path(dbPath(db), "points")

  /** Location of a db's points table (for SQL-side registration, e.g.
    * [[graft.plans.RollupRewrite]]).
    */
  def pointsLocation(db: String): String = tablePath(db).toString

  private def fs(spark: SparkSession) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---- catalog ops (reference A2-A5, A10: handlers.go:23-55,115-124) ----

  def createDb(spark: SparkSession, db: String): Unit = {
    val f = fs(spark)
    val p = dbPath(db)
    if (f.exists(p)) throw new IllegalStateException(s"database exists: $db")
    f.mkdirs(p)
  }

  def listDbs(spark: SparkSession): Seq[String] = {
    val f = fs(spark)
    val r = new Path(root)
    if (!f.exists(r)) Seq.empty
    else f.listStatus(r).filter(_.isDirectory).map(_.getPath.getName).toSeq.sorted
  }

  def dropDb(spark: SparkSession, db: String): Unit =
    fs(spark).delete(dbPath(db), true)

  def listIndexes(spark: SparkSession, db: String): Seq[String] = {
    val f = fs(spark)
    val t = tablePath(db)
    if (!f.exists(t)) Seq.empty
    else f.listStatus(t).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("index="))
      .map(n => TickStore.unescape(n.stripPrefix("index="))).toSeq.sorted
  }

  /** The stored `(index, day)` partitions of `indexes`: one listing of
    * each index's dir, not one existence check per day.
    */
  def partitions(spark: SparkSession, db: String, indexes: Seq[String]): Seq[(String, String)] = {
    val f = fs(spark)
    indexes.distinct.flatMap { i =>
      val days =
        try f.listStatus(new Path(tablePath(db), s"index=${escape(i)}")).toSeq
        catch { case _: java.io.FileNotFoundException => Nil }
      days.filter(_.isDirectory).map(_.getPath.getName)
        .filter(_.startsWith("day=")).map(d => i -> unescape(d.stripPrefix("day=")))
    }
  }

  private def partitionPath(db: String, index: String, day: String) =
    new Path(tablePath(db), s"index=${escape(index)}/day=${escape(day)}")

  /** Drop one series: its point partitions AND its rollup partitions —
    * rollups routed queries read must never outlive the data (dynamic
    * partition overwrite would otherwise preserve the stale rollup
    * slices even across a full re-materialize).
    */
  def dropIndex(spark: SparkSession, db: String, index: String): Unit = {
    val f = fs(spark)
    f.delete(new Path(tablePath(db), s"index=${TickStore.escape(index)}"), true)
    Rollup.levels.foreach { level =>
      f.delete(new Path(dbPath(db),
        s"rollup/${level.name}/index=${TickStore.escape(index)}"), true)
    }
  }

  // ---- read path ----

  /** Full tick frame for a db: partition columns `index`, `day` plus
    * `ts_ns`, `value`, `ingest_seq`, and derived µs `ts`. Empty-schema
    * frame when nothing has been ingested.
    */
  def read(spark: SparkSession, db: String): DataFrame = {
    val t = tablePath(db).toString
    val hasData = {
      val f = fs(spark)
      f.exists(tablePath(db)) && f.listStatus(tablePath(db)).nonEmpty
    }
    val df =
      if (hasData)
        spark.read
          .schema(dataSchema) // fixed schema: no inference job, stable map type
          .option("basePath", t)
          .parquet(t)
      else
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], dataSchema)
    df.withColumn("ts", timestamp_micros(expr("ts_ns DIV 1000")))
  }

  def readIndex(spark: SparkSession, db: String, index: String): DataFrame =
    read(spark, db).where(col("index") === index)

  /** Exact-ns point lookup (reference A7: `db.go:127-138` — equality on
    * the int64 ns key). Prunes to one (index, day) partition, then
    * row-group stats skip within it.
    */
  def get(spark: SparkSession, db: String, index: String, tsNs: Long): Option[Map[String, Double]] = {
    val day = dayOfNs(tsNs)
    val rows = read(spark, db)
      .where(col("index") === index && col("day") === day && col("ts_ns") === tsNs)
      .select("value").collect()
    rows.headOption.map(_.getMap[String, Double](0).toMap)
  }

  /** Run an analytical tick query against this store (reference A8).
    * The one rollup router, [[Rollup.route]], answers it from the
    * rollups when it can — the reference's read-from-the-pyramid path
    * (`cursor.go:269-352`); otherwise, or with `useRollups = false`,
    * the raw points answer it.
    */
  def query(
      spark: SparkSession, db: String, q: TickQuery,
      exact: Boolean = false, useRollups: Boolean = true): DataFrame =
    (if (useRollups) Rollup.route(spark, this, db, q) else None).getOrElse {
      val src = StoreSource(this, spark, db)
      if (exact) TickQueryExec.runExact(src, q) else TickQueryExec.run(src, q)
    }

  // ---- ingest / upsert (reference A6) ----

  /** Driver-side convenience ingest of wire records (reference
    * `handlers.go:57-77`): array order is the upsert order, as in the
    * reference's sequential loop.
    */
  def ingestRecords(spark: SparkSession, db: String, records: Seq[TickIngestRecord]): Unit = {
    import spark.implicits._
    // array position is the upsert order, as in the reference's
    // sequential ingest loop (database.go:71-90)
    val rows = records.zipWithIndex.map { case (r, i) =>
      val p = r.toPoint
      (p.index, p.tsNs, p.value, i.toLong)
    }
    ingest(spark, db, spark.createDataset(rows).toDF("index", "ts_ns", "value", "seq"))
  }

  /** Last-write-wins upsert of a batch (columns: index STRING,
    * ts_ns LONG, value MAP<STRING,DOUBLE>; optional `seq` LONG for
    * intra-batch ordering — later seq wins; absent, intra-batch
    * duplicate keys resolve by an arbitrary-but-deterministic max).
    *
    * Strategy (the Spark analog of `node.put` upsert,
    * `node.go:213-246`): only the `(index, day)` partitions present in
    * the batch are read back, merged (max ingest_seq per key wins), and
    * rewritten via dynamic partition overwrite. Unaffected partitions
    * are untouched — at 100 TB an upsert costs O(touched days), not
    * O(table).
    */
  def ingest(spark: SparkSession, db: String, batch: DataFrame): Unit = {
    val t = tablePath(db).toString
    val withSeqCol = if (batch.columns.contains("seq")) batch else batch.withColumn("seq", lit(0L))
    val prepared = withSeqCol
      // a point with no fields contributes to no reducer and cannot be
      // represented in the long-form rollups — dropping it here keeps
      // the store invariant every read path (incl. RollupRewrite's
      // bucket existence) relies on: every stored point has >= 1 field
      .where(size(col("value")) > 0)
      .withColumn("day", dayCol("ts_ns"))
      .select("index", "day", "ts_ns", "value", "seq")

    // the touched (index, day) set, once, driver-side: drives partition
    // pruning of the read-back, the empty-fast-path decision, and the
    // rollup refresh
    val touchedPairs = prepared.select("index", "day").distinct()
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    // one listStatus per touched index, not one exists() RPC per
    // (index, day): a backfill touching 10k days would serialize on
    // per-partition driver round-trips otherwise
    val stored = partitions(spark, db, touchedPairs.map(_._1)).toSet
    val collide = touchedPairs.filter(stored)

    // one shuffle total: repartition(index, day) satisfies the window's
    // (index, day, ts_ns) clustering (subset of the keys), so the
    // last-wins dedup is a sort within the write partitioning — and the
    // sort leaves rows time-ordered inside each written file (better
    // row-group range skipping on read)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("index", "day", "ts_ns").orderBy(col("ingest_seq").desc)
    def dedup(rows: DataFrame): DataFrame = rows
      .repartition(col("index"), col("day"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1).drop("rn")

    if (collide.isEmpty) {
      // pure append (the common TSDB ingest: only new days) — no
      // read-back, no merge, no lineage break; a single write job
      dedup(prepared
        .withColumn("ingest_seq", lit(1L) + col("seq"))
        .select("index", "day", "ts_ns", "value", "ingest_seq"))
        .write
        .partitionBy("index", "day")
        .option("partitionOverwriteMode", "dynamic")
        .mode(SaveMode.Overwrite)
        .parquet(t)
    } else {
      // upsert: read back ONLY the colliding partitions (static
      // predicate → guaranteed directory-level pruning), merge, rewrite
      val collidePred = collide.groupBy(_._1).map { case (i, pairs) =>
        col("index") === i && col("day").isin(pairs.map(_._2): _*)
      }.reduce(_ || _)
      val existingTouched = read(spark, db).where(collidePred)
        .select("index", "day", "ts_ns", "value", "ingest_seq")

      val baseSeq = existingTouched.agg(coalesce(max("ingest_seq"), lit(0L))).head().getLong(0)
      val newRows = prepared
        .withColumn("ingest_seq", lit(baseSeq + 1L) + col("seq"))
        .select("index", "day", "ts_ns", "value", "ingest_seq")

      dedup(existingTouched.unionByName(newRows))
        // break lineage: the write below overwrites partitions this plan reads
        .pinned
        .write
        .partitionBy("index", "day")
        .option("partitionOverwriteMode", "dynamic")
        .mode(SaveMode.Overwrite)
        .parquet(t)
    }

    // pyramid maintenance at insert time (node.go:523-579), partition-
    // granular: refresh rollups for exactly the touched (index, day)s
    Rollup.refresh(spark, this, db, touchedPairs)
  }

  /** Compact a db's point files: rewrite each (index, day) partition
    * that has more than `maxFilesPerPartition` files into one file.
    * The reference's copy-on-write log grows forever with no
    * reclamation (SURVEY §4.2 — dead chunks are never collected);
    * here repeated small upserts leave small files instead, and this
    * is the hygiene pass that folds them. Only over-fragmented
    * partitions are listed, read, and rewritten.
    */
  def compact(spark: SparkSession, db: String, maxFilesPerPartition: Int = 4): Unit = {
    val f = fs(spark)
    val fragmented = partitions(spark, db, listIndexes(spark, db)).filter { case (i, d) =>
      f.listStatus(partitionPath(db, i, d))
        .count(s => s.isFile && !s.getPath.getName.startsWith("_")) > maxFilesPerPartition
    }
    if (fragmented.isEmpty) return
    import spark.implicits._
    val targets = fragmented.toDF("index", "day")
    read(spark, db)
      .join(broadcast(targets), Seq("index", "day"), "left_semi")
      .select("index", "day", "ts_ns", "value", "ingest_seq")
      .pinned
      .repartition(col("index"), col("day"))
      // the partitioned-write planner requires output sorted by the
      // partition columns and DISCARDS any ordering that lacks that
      // prefix — sorting (index, day, ts_ns) is kept, a bare ts_ns
      // sort would be silently replaced
      .sortWithinPartitions(col("index"), col("day"), col("ts_ns"))
      .write.partitionBy("index", "day")
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite)
      .parquet(tablePath(db).toString)
  }

  // ---- range delete (reference A9: `node.go:320-521`) ----

  /** Delete `[fromNs, toNs)` for one index. Whole days inside the range
    * are dropped as directories (the analog of the reference pruning
    * whole subtrees, `node.go:344-368`); the ≤2 boundary days are
    * rewritten with the anti-filter (its boundary-node trim,
    * `node.go:370-521`). Cost: O(boundary data), not O(index).
    */
  def deleteRange(spark: SparkSession, db: String, index: String, fromNs: Long, toNs: Long): Unit = {
    require(fromNs <= toNs, "deleteRange requires fromNs <= toNs")
    if (fromNs == toNs) return
    val fromDay = dayOfNs(fromNs)
    val lastDay = dayOfNs(toNs - 1)
    val affected = partitions(spark, db, Seq(index)).map(_._2)
      .filter(d => d >= fromDay && d <= lastDay)
    val (boundary, interior) = affected.partition { d =>
      // a day is boundary iff the range does not cover it entirely
      dayStartNs(d) < fromNs || dayEndNs(d) > toNs
    }

    // boundary days: compute survivors before any deletion
    val survivors =
      if (boundary.isEmpty) None
      else Some {
        read(spark, db)
          .where(col("index") === index && col("day").isin(boundary: _*))
          .where(!(col("ts_ns") >= fromNs && col("ts_ns") < toNs))
          .select("index", "day", "ts_ns", "value", "ingest_seq")
          .pinned
      }

    (interior ++ boundary).foreach(d => fs(spark).delete(partitionPath(db, index, d), true))
    survivors.foreach { s =>
      if (!s.isEmpty)
        s.repartition(col("index"), col("day"))
          .write.partitionBy("index", "day")
          .mode(SaveMode.Append).parquet(tablePath(db).toString)
    }
    Rollup.refresh(spark, this, db, affected.map(index -> _))
  }
}

object TickStore {
  val dataSchema: StructType = StructType(Seq(
    StructField("ts_ns", LongType),
    StructField("value", MapType(StringType, DoubleType)),
    StructField("ingest_seq", LongType),
    StructField("index", StringType),
    StructField("day", StringType)))

  /** UTC day of an ns-epoch column (by name: integer DIV — fp division
    * loses precision above 2^53 and can flip a midnight-adjacent point
    * into the wrong partition). Post-1970 timestamps only.
    */
  private[tick] def dayCol(tsNsName: String): Column =
    date_format(timestamp_micros(expr(s"$tsNsName DIV 1000")), "yyyy-MM-dd")

  private[tick] def dayOfNs(ns: Long): String =
    java.time.LocalDate.ofEpochDay(Math.floorDiv(ns, 86400000000000L)).toString

  private[tick] def dayStartNs(day: String): Long =
    java.time.LocalDate.parse(day).toEpochDay * 86400000000000L

  private[tick] def dayEndNs(day: String): Long = dayStartNs(day) + 86400000000000L

  /** Spark hive-escapes partition values on write (`:` -> `%3A` etc.);
    * every path this store constructs by hand must apply the identical
    * escaping or existence checks / deletes silently miss the real
    * directory — which under dynamic partition overwrite turns an
    * append into data loss.
    */
  private[tick] def escape(index: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(index)

  private[tick] def unescape(dirValue: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(dirValue)
}

/** A [[TickStore]] db viewed as a [[TickSource]] for the query path. */
final case class StoreSource(store: TickStore, spark: SparkSession, db: String) extends TickSource {
  override lazy val frame: DataFrame = store.read(spark, db)
  override def ts: Column = frame("ts")
  override def indexPredicate(index: String): Column = frame("index") === index
  override def field(name: String): Column = element_at(frame("value"), name)

  /** Range on `ts_ns` (row-group skipping) AND the `day` partition
    * column (directory-level pruning) — a bounded query on a 100 TB
    * store lists and reads only its days.
    */
  override def rangePredicate(from: Option[java.time.Instant], to: Option[java.time.Instant]): Option[Column] = {
    val f = from.map(TickQuery.instantNs).map { ns =>
      frame("ts_ns") >= lit(ns) && frame("day") >= lit(TickStore.dayOfNs(ns))
    }
    val t = to.map(TickQuery.instantNs).map { ns =>
      frame("ts_ns") < lit(ns) && frame("day") <= lit(TickStore.dayOfNs(ns - 1))
    }
    (f ++ t).reduceOption(_ && _)
  }

  override def tsNs: Option[Column] = Some(frame("ts_ns"))

  override def tableSql: String =
    throw new UnsupportedOperationException("StoreSource has no static oracle table")
  override def tsSql: String = "ts"
  override def indexPredicateSql(index: String): String = s"index = '$index'"
  override def fieldSql(name: String): String = s"value['$name']"
}
