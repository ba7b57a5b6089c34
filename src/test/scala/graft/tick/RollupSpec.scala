package graft.tick

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Rollup-tier consistency: for every reducer and every routable level,
  * the rollup-routed answer must equal direct aggregation over raw
  * points — the invariant the reference's pyramid silently violates
  * for min and count (`node.go:566-568`, `cursor.go:330-336`).
  */
class RollupSpec extends SparkSpec {

  private lazy val store: TickStore = {
    val root = s"${sys.props("java.io.tmpdir")}/graft_test_rollup"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val s = new TickStore(root)
    s.createDb(spark, "db")
    // two indexes, two fields with disjoint presence, from real events
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
    s
  }

  private def q(json: String) = TickQuery.fromJson(json)

  test("rollup answers equal direct aggregation for every reducer x level") {
    for {
      level <- Seq("minute", "hour", "day", "month")
      reducer <- Reducers.names
    } {
      val query = q(
        s"""{"index":"click","group":"$level","fields":{"value":{"reducer":"$reducer"}}}""")
      assert(Rollup.routable(query).isDefined, s"$level should be routable")
      val rolled = store.query(spark, "db", query, useRollups = true)
        .collect().map(r => (r.getTimestamp(0), r.get(1))).toSeq
      val direct = store.query(spark, "db", query, exact = true, useRollups = false)
        .collect().map(r => (r.getTimestamp(0), r.get(1))).toSeq
      assert(rolled == direct, s"mismatch at level=$level reducer=$reducer")
    }
  }

  test("multiplier re-merge: 2-hour rollup query equals direct") {
    val query = q("""{"index":"error","group":"2hours","fields":{"value":{"reducer":"max"}}}""")
    val rolled = store.query(spark, "db", query).collect().map(_.toSeq).toSeq
    val direct = store.query(spark, "db", query, exact = true, useRollups = false)
      .collect().map(_.toSeq).toSeq
    assert(rolled == direct)
  }

  test("routing rules: second-level and unaligned ranges fall back to points") {
    assert(Rollup.routable(
      q("""{"index":"x","group":"second","fields":{"v":{"reducer":"sum"}}}""")).isEmpty)
    assert(Rollup.routable(
      q("""{"index":"x","from":"2024-01-01T00:00:30Z","group":"minute",
          |"fields":{"v":{"reducer":"sum"}}}""".stripMargin)).isEmpty,
      "from not on a minute edge")
    assert(Rollup.routable(
      q("""{"index":"x","from":"2024-01-01T00:02:00Z","group":"minute",
          |"fields":{"v":{"reducer":"sum"}}}""".stripMargin)).isDefined)
    assert(Rollup.routable(
      q("""{"index":"x","fields":{"v":{"reducer":"sum"}}}""")).isEmpty,
      "raw-level query has no rollup")
  }

  test("incremental refresh: upserts and range deletes keep rollups == direct") {
    val root = s"${sys.props("java.io.tmpdir")}/graft_test_rollup_incr"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val s = new TickStore(root)
    s.createDb(spark, "db")
    def rec(t: String, v: Double) = TickIngestRecord("ix", t, Map("v" -> v))
    s.ingestRecords(spark, "db", Seq(
      rec("2024-03-01T10:00:00Z", 1.0), rec("2024-03-02T11:00:00Z", 2.0),
      rec("2024-04-05T09:30:00Z", 3.0)))
    Rollup.materialize(spark, s, "db")

    // upsert: new day + overwrite of an existing point, NO re-materialize
    s.ingestRecords(spark, "db", Seq(
      rec("2024-03-01T10:00:00Z", 10.0), // last-wins replacement
      rec("2024-03-03T08:00:00Z", 4.0),  // new day, same month
      rec("2024-05-01T00:00:00Z", 5.0))) // new month
    // delete a whole day and a partial range, NO re-materialize
    def ns(t: String) = java.time.Instant.parse(t).getEpochSecond * 1000000000L
    s.deleteRange(spark, "db", "ix", ns("2024-03-02T00:00:00Z"), ns("2024-03-02T23:59:59Z"))

    for (level <- Seq("minute", "hour", "day", "month", "year");
         reducer <- Seq("sum", "min", "max", "first", "last", "count", "avg")) {
      val query = q(
        s"""{"index":"ix","group":"$level","fields":{"v":{"reducer":"$reducer"}}}""")
      val rolled = s.query(spark, "db", query)
        .collect().map(r => (r.getTimestamp(0), r.get(1))).toSeq
      val direct = s.query(spark, "db", query, exact = true, useRollups = false)
        .collect().map(r => (r.getTimestamp(0), r.get(1))).toSeq
      assert(rolled == direct, s"incremental mismatch at level=$level reducer=$reducer")
    }
    // the replaced point's new value flowed through (10.0, not 1.0)
    val march = s.query(spark, "db", q(
      """{"index":"ix","group":"month","fields":{"v":{"reducer":"sum"}}}"""))
      .collect().map(r => (r.getTimestamp(0).toInstant.toString, r.getDouble(1))).toMap
    assert(march("2024-03-01T00:00:00Z") == 14.0) // 10 + 4 (day 2 deleted)
  }

  test("sparse fields: a field absent from a bucket stays null through rollups") {
    val query = q("""{"index":"click","group":"day","fields":{"k":{"reducer":"sum"}}}""")
    val rolled = store.query(spark, "db", query).collect()
    val direct = store.query(spark, "db", query, exact = true, useRollups = false).collect()
    assert(rolled.map(r => (r.getTimestamp(0), r.get(1))).toSeq ==
      direct.map(r => (r.getTimestamp(0), r.get(1))).toSeq)
  }

  test("numeric-looking index names stay distinct strings on the rollup tier") {
    val root = s"${sys.props("java.io.tmpdir")}/graft_test_rollup_numeric"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val s = new TickStore(root)
    s.createDb(spark, "db")
    s.ingestRecords(spark, "db", Seq(
      TickIngestRecord("7", "2024-03-01T10:00:00Z", Map("v" -> 100.0)),
      TickIngestRecord("007", "2024-03-01T10:00:00Z", Map("v" -> 1.0))))
    Rollup.materialize(spark, s, "db")
    Rollup.levels.foreach { level =>
      assert(Rollup.read(spark, s, "db", level).schema("index").dataType ==
        org.apache.spark.sql.types.StringType)
    }
    val query = q("""{"index":"7","group":"day","fields":{"v":{"reducer":"sum"}}}""")
    def routedSum = s.query(spark, "db", query).collect().map(_.getDouble(1)).toSeq
    def rawSum = s.query(spark, "db", query, exact = true, useRollups = false)
      .collect().map(_.getDouble(1)).toSeq
    assert(routedSum == Seq(100.0) && rawSum == Seq(100.0))

    // the refresh after an ingest reads the rollups back by index name
    s.ingestRecords(spark, "db", Seq(
      TickIngestRecord("7", "2024-03-01T11:00:00Z", Map("v" -> 10.0))))
    assert(routedSum == Seq(110.0) && rawSum == Seq(110.0))

    // the SQL rewrite reads the same rollups
    graft.plans.RollupRewrite.register(spark, s, "db")
    s.read(spark, "db").createOrReplaceTempView("numeric_pts")
    val sqlSum = spark.sql(
      """SELECT date_trunc('day', ts) AS b, sum(value['v']) AS s
        |FROM numeric_pts WHERE index = '7' GROUP BY 1""".stripMargin)
    assert(sqlSum.queryExecution.executedPlan.collectLeaves().map(_.toString)
      .mkString.contains("rollup/day"))
    assert(sqlSum.collect().map(_.getDouble(1)).toSeq == Seq(110.0))
  }
}
