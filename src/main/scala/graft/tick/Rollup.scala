package graft.tick
import graft.Pinned.PinnedOps

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
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
  * pure re-merge, so a full build reads the raw points exactly once.
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

  private def ymOf(bucket: Column): Column = date_format(bucket, "yyyy-MM")

  private def write(df: DataFrame, store: TickStore, db: String, level: GroupUnit,
      mode: SaveMode): Unit = {
    val out = levelPath(store, db, level).toString
    if (isFine(level))
      df.withColumn("ym", ymOf(col("bucket")))
        .pinned // cut lineage: may read what it overwrites
        .repartition(col("index"))
        .write.partitionBy("index", "ym")
        .option("partitionOverwriteMode", "dynamic")
        .mode(mode).parquet(out)
    else
      df.pinned
        .repartition(col("index"))
        .write.partitionBy("index")
        .option("partitionOverwriteMode", "dynamic")
        .mode(mode).parquet(out)
  }

  /** Build (or rebuild) every rollup level for a db. Raw points are
    * read once; each coarser level derives from the finer one.
    */
  def materialize(spark: SparkSession, store: TickStore, db: String): Unit = {
    if (store.read(spark, db).isEmpty) return // nothing to roll up
    val longForm = store.read(spark, db)
      .select(col("index"), col("ts"), col("ts_ns"),
        explode(col("value")).as(Seq("field", "v")))
    var current: DataFrame = null
    levels.foreach { level =>
      val rolled =
        if (current == null) rollFromPoints(longForm, level)
        else rollUp(current, level)
      write(rolled, store, db, level, SaveMode.Overwrite)
      current = read(spark, store, db, level)
    }
  }

  /** Incrementally refresh the rollups after a mutation that touched
    * the given (index, day) point partitions — the analog of the
    * reference's insert-time pyramid reduce along the dirty branch
    * (`node.go:523-579`), at partition granularity:
    *
    *  - minute/hour/day buckets of the touched days are recomputed from
    *    the touched points only, and merged into their (index, ym)
    *    rollup partitions (other rows of those partitions survive via
    *    anti-join; untouched partitions are not rewritten);
    *  - month/year buckets covering the touched days are re-derived
    *    from the freshly refreshed day level — reading tiny rollup
    *    rows, never raw points.
    *
    * Cost: O(points of touched days + rollup rows of touched months).
    */
  def refresh(spark: SparkSession, store: TickStore, db: String,
      touched: Seq[(String, String)]): Unit = {
    if (touched.isEmpty || !exists(spark, store, db)) return
    import spark.implicits._
    val touchedDf = touched.toDF("index", "day")
    val touchedYmDf = touched.map { case (i, d) => (i, d.substring(0, 7)) }
      .distinct.toDF("index", "ym")

    val pts = store.read(spark, db)
      .join(broadcast(touchedDf), Seq("index", "day"), "left_semi")
      .select(col("index"), col("ts"), col("ts_ns"),
        explode(col("value")).as(Seq("field", "v")))

    // fine levels: recompute touched-day buckets from points
    Seq(GroupUnit.Minute, GroupUnit.Hour, GroupUnit.Day).foreach { level =>
      val recomputed = rollFromPoints(pts, level)
      val survivors = read(spark, store, db, level)
        .join(broadcast(touchedYmDf), Seq("index", "ym"), "left_semi")
        .withColumn("day", date_format(col("bucket"), "yyyy-MM-dd"))
        .join(broadcast(touchedDf), Seq("index", "day"), "left_anti")
        .select("index", "bucket", "field", "sum", "max", "min",
          "first_ts_ns", "first", "last_ts_ns", "last", "count")
      val newContent = survivors.unionByName(recomputed).pinned
      // a touched ym partition with no rows in the new content would be
      // skipped by dynamic overwrite and keep stale files: compute the
      // survivor partition set BEFORE writing, drop the emptied dirs after
      val t = touchedYmDf.toDF("t_index", "t_ym")
      val keptYms = newContent
        .join(broadcast(t),
          col("index") === col("t_index") && ymOf(col("bucket")) === col("t_ym"), "left_semi")
        .select(col("index"), ymOf(col("bucket")).as("ym"))
        .distinct().collect().map(r => (r.getString(0), r.getString(1))).toSet
      write(newContent, store, db, level, SaveMode.Overwrite)
      val fs = levelPath(store, db, level)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      touchedYmDf.collect().foreach { r =>
        val (i, ym) = (r.getString(0), r.getString(1))
        if (!keptYms.contains((i, ym))) {
          val p = new Path(levelPath(store, db, level), s"index=${TickStore.escape(i)}/ym=$ym")
          if (fs.exists(p)) fs.delete(p, true)
        }
      }
    }

    // calendar levels: cascade from the refreshed finer level
    Seq(GroupUnit.Month -> GroupUnit.Day, GroupUnit.Year -> GroupUnit.Month).foreach {
      case (level, finerLevel) =>
        val bucketTrunc = GroupSpec(1, level)
        val finer = read(spark, store, db, finerLevel)
        val affectedBuckets = touchedYmDf
          .withColumn("bucket", bucketTrunc.bucket(to_timestamp(concat(col("ym"), lit("-01")))))
          .select("index", "bucket").distinct()
        val recomputed = rollUp(
          finer.withColumn("qb", bucketTrunc.bucket(col("bucket")))
            .join(broadcast(affectedBuckets.withColumnRenamed("bucket", "qb")),
              Seq("index", "qb"), "left_semi")
            .drop("qb"),
          level)
        val survivors = read(spark, store, db, level)
          .join(broadcast(affectedBuckets), Seq("index", "bucket"), "left_anti")
          .select("index", "bucket", "field", "sum", "max", "min",
            "first_ts_ns", "first", "last_ts_ns", "last", "count")
        write(survivors.unionByName(recomputed), store, db, level, SaveMode.Overwrite)
    }
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

  /** Does `level`'s directory exist for `db`? */
  def levelExists(spark: SparkSession, store: TickStore, db: String, level: GroupUnit): Boolean = {
    val p = levelPath(store, db, level)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  def exists(spark: SparkSession, store: TickStore, db: String): Boolean =
    levelExists(spark, store, db, levels.head)

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
      val unitNs: Long = u match {
        case GroupUnit.Minute => 60L * 1000000000L
        case GroupUnit.Hour   => 3600L * 1000000000L
        case GroupUnit.Day    => 86400L * 1000000000L
        case _                => 0L
      }
      def aligned(i: java.time.Instant): Boolean = u match {
        case GroupUnit.Month | GroupUnit.Year =>
          val z = i.atZone(java.time.ZoneOffset.UTC)
          z.getDayOfMonth == 1 && z.toLocalTime == java.time.LocalTime.MIDNIGHT &&
            (u == GroupUnit.Month || z.getMonthValue == 1)
        case _ =>
          val ns = i.getEpochSecond * 1000000000L + i.getNano
          ns % unitNs == 0
      }
      q.from.forall(aligned) && q.to.forall(aligned)
    }
  }

  /** Answer a tick query from the rollup tier (caller must have checked
    * [[routable]]). Reads the rollup at the query's own unit and
    * re-merges multiplier buckets.
    */
  def query(spark: SparkSession, store: TickStore, db: String, q: TickQuery): DataFrame = {
    require(q.fields.nonEmpty,
      "tick query must request at least one field (empty \"fields\" document)")
    val unit = routable(q).getOrElse(
      throw new IllegalArgumentException(s"query not routable through rollups: $q"))
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
    ranged
      // re-bucket (multiplier > 1 merges several rollup buckets into one)
      .groupBy(spec.bucket(col("bucket")).as("bucket"))
      .agg(aggCols.head, aggCols.tail: _*)
      .orderBy("bucket")
  }
}
