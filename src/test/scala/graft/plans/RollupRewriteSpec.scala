package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.tick.{Rollup, TickIngestRecord, TickStore}

/** SQL-over-rollup routing: a raw spark.sql aggregate on the points
  * view must silently read the rollup table (plan check) and return
  * the same answer as the un-rewritten aggregation (value check) —
  * and keep reading points whenever the router declines.
  */
class RollupRewriteSpec extends SparkSpec {

  private lazy val store: TickStore = {
    val root = s"${sys.props("java.io.tmpdir")}/graft_test_sqlrew"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val s = new TickStore(root)
    s.createDb(spark, "db")
    s.ingest(spark, "db",
      graft.Tables.events(spark, sf0001)
        .where(col("event_type").isin("click", "error"))
        .select(col("event_type").as("index"), col("ts_ns"),
          map_filter(
            map(lit("value"), col("value"),
              lit("k"), get_json_object(col("props"), "$.k").cast("double")),
            (k, v) => v.isNotNull).as("value"),
          col("event_id").as("seq")))
    Rollup.materialize(spark, s, "db")
    RollupRewrite.register(spark, s, "db")
    store_.read(spark, "db").createOrReplaceTempView("pts")
    s
  }
  private def store_ = new TickStore(s"${sys.props("java.io.tmpdir")}/graft_test_sqlrew")

  private val sql =
    """SELECT date_trunc('hour', ts) AS bucket,
      |  sum(value['value']) AS s, min(value['value']) AS mn,
      |  max(value['value']) AS mx, count(value['value']) AS c,
      |  avg(value['value']) AS a
      |FROM pts WHERE index = 'click'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  test("eligible SQL aggregate is routed to the rollup table") {
    store
    val df = spark.sql(sql)
    val scans = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scans.contains("rollup/hour"), s"expected a rollup scan:\n$scans")
    assert(!scans.contains("points"), s"points must not be read:\n$scans")
  }

  test("routed answer equals direct aggregation over raw points") {
    store
    val routed = spark.sql(sql).collect()
    val direct = store_.read(spark, "db").where(col("index") === "click")
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(
        sum(col("value")("value").cast("decimal(20,4)")).cast("double").as("s"),
        min(col("value")("value")).as("mn"),
        max(col("value")("value")).as("mx"),
        count(col("value")("value")).as("c"),
        (sum(col("value")("value").cast("decimal(20,4)")).cast("double")
          / count(col("value")("value"))).as("a"))
      .orderBy("bucket").collect()
    assert(routed.length == direct.length && routed.length > 0)
    routed.zip(direct).foreach { case (r, d) =>
      assert(r.getTimestamp(0) == d.getTimestamp(0))
      assert(r.getDouble(1) == d.getDouble(1), s"sum @ ${r.getTimestamp(0)}")
      assert(r.getDouble(2) == d.getDouble(2))
      assert(r.getDouble(3) == d.getDouble(3))
      assert(r.getLong(4) == d.getLong(4))
      assert(math.abs(r.getDouble(5) - d.getDouble(5)) < 1e-9)
    }
  }

  /** A registered, materialized store of three `ix` points (1.0 at
    * 2024-03-01T02:00Z, 10.0 at 20:00Z, 100.0 at 2024-03-02T03:00Z),
    * viewed as `<name>_pts`.
    */
  private def small(name: String): Unit = {
    val root = s"${sys.props("java.io.tmpdir")}/graft_test_sqlrew_$name"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val s = new TickStore(root)
    s.createDb(spark, "db")
    s.ingestRecords(spark, "db", Seq(
      "2024-03-01T02:00:00Z" -> 1.0, "2024-03-01T20:00:00Z" -> 10.0,
      "2024-03-02T03:00:00Z" -> 100.0).map { case (t, v) => TickIngestRecord("ix", t, Map("v" -> v)) })
    Rollup.materialize(spark, s, "db")
    RollupRewrite.register(spark, s, "db")
    s.read(spark, "db").createOrReplaceTempView(s"${name}_pts")
  }

  private def scans(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString

  private def buckets(df: org.apache.spark.sql.DataFrame): Seq[(String, Double)] =
    df.collect().map(r => r.getTimestamp(0).toInstant.toString -> r.getDouble(1)).toSeq

  test("an aligned range routes; an unaligned range and an index-less aggregate read points") {
    small("range")
    def sql(where: String) = spark.sql(
      s"""SELECT date_trunc('hour', ts) AS b, sum(value['v']) AS s
         |FROM range_pts WHERE $where GROUP BY 1 ORDER BY 1""".stripMargin)
    val aligned = sql("index = 'ix' AND ts >= TIMESTAMP '2024-03-01 02:00:00' " +
      "AND ts < TIMESTAMP '2024-03-02 03:00:00'")
    assert(scans(aligned).contains("rollup/hour") && !scans(aligned).contains("points"),
      scans(aligned))
    assert(buckets(aligned) == Seq("2024-03-01T02:00:00Z" -> 1.0, "2024-03-01T20:00:00Z" -> 10.0))
    val unaligned = sql("index = 'ix' AND ts >= TIMESTAMP '2024-03-01 02:00:00' " +
      "AND ts < TIMESTAMP '2024-03-02 03:00:00.000001'")
    assert(scans(unaligned).contains("points") && !scans(unaligned).contains("rollup"),
      scans(unaligned))
    assert(buckets(unaligned).map(_._2) == Seq(1.0, 10.0, 100.0))
    val indexless = sql("ts >= TIMESTAMP '2024-03-01 00:00:00'")
    assert(scans(indexless).contains("points") && !scans(indexless).contains("rollup"),
      scans(indexless))
    assert(buckets(indexless).map(_._2) == Seq(1.0, 10.0, 100.0))
  }

  test("a non-UTC session is not routed: date_trunc truncates in the session zone") {
    small("tz")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try {
      val df = spark.sql(
        """SELECT date_trunc('day', ts) AS b, sum(value['v']) AS s
          |FROM tz_pts WHERE index = 'ix' GROUP BY 1 ORDER BY 1""".stripMargin)
      assert(!scans(df).contains("rollup"), scans(df))
      // Kolkata days start at 18:30Z; the UTC rollup days would give
      // 03-01 -> 11.0 and 03-02 -> 100.0
      assert(buckets(df) == Seq("2024-02-29T18:30:00Z" -> 1.0, "2024-03-01T18:30:00Z" -> 110.0))
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  test("ineligible shapes are left untouched") {
    store
    // extra non-index predicate -> must keep reading points
    val p1 = spark.sql(
      """SELECT date_trunc('hour', ts) AS b, sum(value['value']) AS s
        |FROM pts WHERE index = 'click' AND ts_ns > 0 GROUP BY 1""".stripMargin)
      .queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(p1.contains("points") && !p1.contains("rollup"), p1)
    // non-rollup granularity (week) -> untouched
    val p2 = spark.sql(
      """SELECT date_trunc('week', ts) AS b, sum(value['value']) AS s
        |FROM pts GROUP BY 1""".stripMargin)
      .queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(p2.contains("points") && !p2.contains("rollup"), p2)
    // grouping-only (no aggregates to answer) -> untouched, no crash
    val p3 = spark.sql("SELECT DISTINCT date_trunc('hour', ts) FROM pts")
      .queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(p3.contains("points") && !p3.contains("rollup"), p3)
    // contradictory index equalities -> not routed to a (wrong,
    // non-empty) rollup read; partition pruning collapses the raw scan
    // to an empty local relation and the result is correctly empty
    val df4 = spark.sql(
      """SELECT date_trunc('hour', ts) AS b, sum(value['value']) AS s
        |FROM pts WHERE index = 'click' AND index = 'error' GROUP BY 1""".stripMargin)
    val p4 = df4.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(!p4.contains("rollup"), p4)
    assert(df4.count() == 0)
  }
}
