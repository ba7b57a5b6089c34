package graft.tick
import graft.Pinned

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The materialized-rollup tier: the Spark-native analog of the
  * reference's aggregation pyramid (`node.go:39-53`: every interior
  * pointer carries per-field {sum,max,min,first,last,count} for its
  * subtree, maintained at insert time and read at query time,
  * `cursor.go:269-352`).
  *
  * Design differences forced by a shuffle-parallel engine (SURVEY
  * §7.5): rollup rows carry `first_ts_ns`/`last_ts_ns` alongside
  * `first`/`last` — the reference merges positionally
  * (`node.go:569-571`) which has no meaning when partial aggregates
  * arrive unordered; the timestamps make the merge commutative. Counts
  * are LONG (the reference's uint16 overflows at 65k points/bucket).
  *
  * Layout: `<db>/rollup/<level>/` parquet partitioned by `index`,
  * long-form `(index, bucket, field, sum, max, min, first_ts_ns,
  * first, last_ts_ns, last, count)` — long-form because the field set
  * is dynamic per point (schemaless maps). Coarser levels cascade from
  * the next finer level (minute → hour → day → month → year), each a
  * pure re-merge, so a build reads the raw points exactly once.
  * A full build ([[materialize]]) and the refresh after a write
  * ([[refresh]]) are one bottom-up pass ([[rebuild]]) over a set of
  * `(index, day)` partitions: all of them, or the touched ones.
  *
  * At 100 TB this is the read-amplification win the pyramid bought the
  * reference: a year-level query over years of data reads a few
  * thousand rollup rows instead of re-scanning raw points.
  */
object Rollup {

  /** Rollup levels, finest first. */
  val levels: Seq[GroupUnit] =
    Seq(GroupUnit.Minute, GroupUnit.Hour, GroupUnit.Day, GroupUnit.Month, GroupUnit.Year)

  private def levelPath(store: TickStore, db: String, level: GroupUnit) =
    new Path(new Path(store.root, db), s"rollup/${level.name}")

  /** Aggregate a long-form (index, ts, ts_ns, field, v) frame into
    * rollup rows at `level`.
    */
  private def rollFromPoints(longForm: DataFrame, level: GroupUnit): DataFrame =
    longForm
      .groupBy(col("index"), GroupSpec(1, level).bucket(col("ts")).as("bucket"), col("field"))
      .agg(
        // decimal: exact + order-independent, so rollup answers equal
        // direct aggregation bit-for-bit (and match the oracle); stored at
        // the read schema's decimal(38,4), as the coarser levels are
        sum(col("v").cast("decimal(20,4)")).cast(SumType).as("sum"),
        max(col("v")).as("max"),
        min(col("v")).as("min"),
        min(col("ts_ns")).as("first_ts_ns"),
        min_by(col("v"), col("ts_ns")).as("first"),
        max(col("ts_ns")).as("last_ts_ns"),
        max_by(col("v"), col("ts_ns")).as("last"),
        count(col("v")).as("count"))

  /** Re-merge finer rollup rows into the next coarser level — the
    * commutative version of the reference's interior-node reduce
    * (`node.go:553-577`, including the min-merge bug fixed).
    */
  private def rollUp(finer: DataFrame, level: GroupUnit): DataFrame =
    finer
      .groupBy(col("index"),
        GroupSpec(1, level).bucket(col("bucket")).as("bucket"), col("field"))
      .agg(
        sum(col("sum")).as("sum"),
        max(col("max")).as("max"),
        min(col("min")).as("min"),
        min(col("first_ts_ns")).as("first_ts_ns"),
        min_by(col("first"), col("first_ts_ns")).as("first"),
        max(col("last_ts_ns")).as("last_ts_ns"),
        max_by(col("last"), col("last_ts_ns")).as("last"),
        sum(col("count")).as("count"))

  /** Fine levels (minute/hour/day) are additionally partitioned by the
    * bucket's year-month, so incremental refresh rewrites only the
    * touched (index, ym) slices; month/year tables are tiny and stay
    * index-partitioned.
    */
  private def isFine(level: GroupUnit): Boolean =
    level == GroupUnit.Minute || level == GroupUnit.Hour || level == GroupUnit.Day

  /** The key of a level's rows that a change to a day's points makes
    * stale, as a date format of the bucket: the day on fine levels, its
    * month or year on calendar levels; a fixed-length prefix of the day.
    */
  private def keyFormat(level: GroupUnit): String = level match {
    case GroupUnit.Month => "yyyy-MM"
    case GroupUnit.Year  => "yyyy"
    case _               => "yyyy-MM-dd"
  }

  /** Rows whose `(index, key)` is in `pairs`, as one set lookup (the
    * joined string is unambiguous: the keys of one call share a length).
    */
  private def pairIn(key: Column, pairs: Set[(String, String)]): Column =
    concat_ws("/", col("index"), key).isin(pairs.toSeq.map { case (i, k) => s"$i/$k" }: _*)

  private def write(df: DataFrame, store: TickStore, db: String, level: GroupUnit): Unit =
    (if (isFine(level)) df.withColumn("ym", date_format(col("bucket"), "yyyy-MM")) else df)
      .repartition(col("index"))
      .write.partitionBy((if (isFine(level)) Seq("index", "ym") else Seq("index")): _*)
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite).parquet(levelPath(store, db, level).toString)

  /** Build every rollup level of a db: a [[rebuild]] over every stored
    * `(index, day)`. Cost: one read of the raw points, then one pin and
    * one write per level.
    */
  def materialize(spark: SparkSession, store: TickStore, db: String): Unit =
    rebuild(spark, store, db, store.partitions(spark, db, store.listIndexes(spark, db)))

  /** Refresh the rollups after a mutation of the given `(index, day)`
    * point partitions, once the db is materialized: a [[rebuild]] of
    * them. Cost: O(points of the touched days + rollup rows of the
    * rewritten partitions), one pin and one write per level.
    */
  def refresh(spark: SparkSession, store: TickStore, db: String,
      touched: Seq[(String, String)]): Unit =
    if (exists(spark, store, db)) rebuild(spark, store, db, touched)

  /** Recompute the rollups of the touched `(index, day)` partitions
    * level by level, finest first: the reference's insert-time reduce
    * along the dirty branch (`node.go:523-579`), per partition.
    *
    *  - Minute rows of the touched days roll from their points; each
    *    coarser level is [[rollUp]] of the finer level's new content,
    *    restricted to buckets that hold a touched day.
    *  - A level rewrites the touched `(index, ym)` partitions on fine
    *    levels and the touched `index` partitions on calendar levels.
    *    Their new content is the recomputed rows plus the survivors (the
    *    rows of their other stored days), pinned once and written once.
    *  - A rewritten partition left with no stored day is deleted: dynamic
    *    overwrite leaves alone a partition it writes no row to.
    *
    * The stored days come from one listing of the touched indexes: every
    * stored point has a field ([[TickStore.ingest]]), so every stored
    * day has rows on every level.
    */
  private def rebuild(spark: SparkSession, store: TickStore, db: String,
      touched: Seq[(String, String)]): Unit = {
    val stored = store.partitions(spark, db, touched.map(_._1)).toSet
    val fs = levelPath(store, db, levels.head).getFileSystem(spark.sparkContext.hadoopConfiguration)
    var finer: Option[DataFrame] = None // the finer level's new content
    levels.foreach { level =>
      def keys(days: Iterable[(String, String)]) =
        days.map { case (i, d) => (i, d.take(keyFormat(level).length)) }.toSet
      def partition(day: (String, String)) = s"index=${TickStore.escape(day._1)}" +
        (if (isFine(level)) s"/ym=${day._2.take(7)}" else "")
      val rewritten = touched.map(partition).toSet
      val kept = stored.filter(d => rewritten(partition(d)))
      val recomputedKeys = keys(touched) & keys(kept)
      val survivorKeys = keys(kept) -- recomputedKeys
      val key = date_format(col("bucket"), keyFormat(level))

      val recomputed =
        if (recomputedKeys.isEmpty) None
        else if (level == levels.head) Some(rollFromPoints(store.read(spark, db)
          .where(pairIn(col("day"), recomputedKeys))
          .select(col("index"), col("ts"), col("ts_ns"),
            explode(col("value")).as(Seq("field", "v"))), level))
        else finer.map(f => rollUp(f.where(pairIn(key, recomputedKeys)), level))
      val survivors = Option.when(survivorKeys.nonEmpty) {
        val prune = // to the rewritten partitions
          if (isFine(level)) pairIn(col("ym"), survivorKeys.map { case (i, d) => (i, d.take(7)) })
          else col("index").isin(survivorKeys.map(_._1).toSeq: _*)
        read(spark, store, db, level).where(prune && pairIn(key, survivorKeys))
          .select("index", "bucket", "field", "sum", "max", "min",
            "first_ts_ns", "first", "last_ts_ns", "last", "count")
      }
      // one pin: the write may overwrite what the survivors read, and the
      // next level rolls up from it
      val content = (survivors ++ recomputed).reduceOption(_ unionByName _).map(Pinned.checkpoint)
      content.foreach(write(_, store, db, level))
      (rewritten -- kept.map(partition))
        .foreach(dir => fs.delete(new Path(levelPath(store, db, level), dir), true))
      finer.foreach(Pinned.release) // its blocks: read by this level's pin only
      finer = content
    }
    finer.foreach(Pinned.release)
  }

  /** Decimal type of the `sum` stat on every level: the precision the
    * cascaded decimal sums reach (minute files written before this type
    * was pinned hold decimal(30,4), which the parquet reader widens).
    */
  private val SumType = DecimalType(38, 4)

  /** The read schema of every rollup level, in the column order a
    * partitioned read yields (partition columns `index`, and `ym` on
    * fine levels, last). Reading with it rather than inferring costs no
    * footer job per read, and keeps `index` a STRING: inference would
    * type numeric-looking index names as INT and merge `7` with `007`.
    */
  private def levelSchema(level: GroupUnit): StructType = StructType(Seq(
    StructField("bucket", TimestampType), StructField("field", StringType),
    StructField("sum", SumType),
    StructField("max", DoubleType), StructField("min", DoubleType),
    StructField("first_ts_ns", LongType), StructField("first", DoubleType),
    StructField("last_ts_ns", LongType), StructField("last", DoubleType),
    StructField("count", LongType), StructField("index", StringType)) ++
    (if (isFine(level)) Seq(StructField("ym", StringType)) else Nil))

  /** One rollup level as a frame with [[levelSchema]]. A level with no
    * data files reads as an empty frame of the same schema.
    */
  def read(spark: SparkSession, store: TickStore, db: String, level: GroupUnit): DataFrame = {
    val p = levelPath(store, db, level)
    val hasFiles = {
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // a level dir holding only _SUCCESS (empty db materialize, or a
      // delete that emptied the level) reads as the empty frame
      f.exists(p) && f.listStatus(p).exists(s =>
        s.isDirectory || !s.getPath.getName.startsWith("_"))
    }
    if (hasFiles)
      spark.read
        .schema(levelSchema(level))
        .option("basePath", p.toString)
        .parquet(p.toString)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], levelSchema(level))
  }

  /** Is the rollup tier of `db` materialized? */
  private def exists(spark: SparkSession, store: TickStore, db: String): Boolean = {
    val p = levelPath(store, db, levels.head)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Can `q` be answered from the rollup tier? Requires: a group level
    * at or coarser than a rollup level whose buckets nest inside the
    * query's buckets, and from/to aligned to the rollup grid (partial
    * edge buckets would need the raw points).
    */
  def routable(q: TickQuery): Option[GroupUnit] = q.group.flatMap { spec =>
    val candidate = spec.unit match {
      case GroupUnit.Second => None // finer than the finest rollup
      case u => Some(u)
    }
    candidate.filter { u =>
      def aligned(i: java.time.Instant): Boolean = u match {
        case GroupUnit.Month | GroupUnit.Year =>
          val z = i.atZone(java.time.ZoneOffset.UTC)
          z.getDayOfMonth == 1 && z.toLocalTime == java.time.LocalTime.MIDNIGHT &&
            (u == GroupUnit.Month || z.getMonthValue == 1)
        case _ => TickQuery.instantNs(i) % (u.fixedSeconds * 1000000000L) == 0
      }
      q.from.forall(aligned) && q.to.forall(aligned)
    }
  }

  /** The one rollup router, behind both front ends ([[TickStore.query]]
    * and the SQL rule [[graft.plans.RollupRewriteRule]]): `q` answered
    * from the rollup at its own unit, multiplier buckets re-merged, or
    * `None` for the raw points. It routes when `q` requests fields, is
    * [[routable]] and the db is materialized, in a UTC session only: the
    * rollup buckets are UTC, `date_trunc` truncates in the session zone.
    */
  def route(spark: SparkSession, store: TickStore, db: String, q: TickQuery): Option[DataFrame] = {
    val utc = DateTimeUtils.getZoneId(spark.conf.get("spark.sql.session.timeZone"))
      .normalized == java.time.ZoneOffset.UTC
    val unit = routable(q).filter(_ => q.fields.nonEmpty && utc && exists(spark, store, db))
      .getOrElse(return None)
    val spec = q.group.get
    val base = read(spark, store, db, unit)
      .where(col("index") === q.index)
    val ranged = Seq(
      q.from.map(i => col("bucket") >= lit(java.sql.Timestamp.from(i))),
      q.to.map(i => col("bucket") < lit(java.sql.Timestamp.from(i)))
    ).flatten.foldLeft(base)(_ where _)

    // one aggregation over the query bucket: each requested field's stat
    // is merged from that field's rows only (`when` nulls the others;
    // min_by/max_by skip rows whose ordering is null)
    val aggCols: Seq[Column] = q.fields.map { case (f, red) =>
      def of(stat: String): Column = when(col("field") === f, col(stat))
      val c = red match {
        case "sum"        => sum(of("sum")).cast("double")
        case "max"        => max(of("max"))
        case "min"        => min(of("min"))
        case "first"      => min_by(col("first"), of("first_ts_ns"))
        case "last"       => max_by(col("last"), of("last_ts_ns"))
        // coalesce: count of a field absent from the bucket is 0 on the
        // raw path (count over all-null) and must stay 0 when routed
        case "count"      => coalesce(sum(of("count")), lit(0L))
        case "avg" | "ma" => sum(of("sum")).cast("double") / sum(of("count"))
        case other => throw new IllegalArgumentException(s"unknown reducer: '$other'")
      }
      c.as(TickQueryExec.outName(f, red))
    }
    Some(ranged
      // re-bucket (multiplier > 1 merges several rollup buckets into one)
      .groupBy(spec.bucket(col("bucket")).as("bucket"))
      .agg(aggCols.head, aggCols.tail: _*)
      .orderBy("bucket"))
  }
}
