package graft.tick

import graft.SparkSpec

class TickStoreSpec extends SparkSpec {

  private def freshStore(tag: String): TickStore = {
    val root = s"${sys.props("java.io.tmpdir")}/graft_test_$tag"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    new TickStore(root)
  }

  private def rec(index: String, time: String, fields: (String, Double)*) =
    TickIngestRecord(index, time, fields.toMap)

  test("catalog: create/list/drop database, list/drop index (A2-A5, A10)") {
    val s = freshStore("catalog")
    s.createDb(spark, "db1")
    s.createDb(spark, "db2")
    assert(s.listDbs(spark) == Seq("db1", "db2"))
    assertThrows[IllegalStateException](s.createDb(spark, "db1"))
    s.ingestRecords(spark, "db1", Seq(
      rec("ix1", "2024-03-01T00:00:00Z", "open" -> 1.0),
      rec("ix2", "2024-03-01T00:00:00Z", "open" -> 2.0)))
    assert(s.listIndexes(spark, "db1") == Seq("ix1", "ix2"))
    s.dropIndex(spark, "db1", "ix1")
    assert(s.listIndexes(spark, "db1") == Seq("ix2"))
    s.dropDb(spark, "db2")
    assert(s.listDbs(spark) == Seq("db1"))
  }

  test("ingest + exact-ns point lookup (A6, A7)") {
    val s = freshStore("get")
    s.createDb(spark, "db")
    s.ingestRecords(spark, "db", Seq(
      rec("ix", "2024-03-01T10:00:00.123456789Z", "open" -> 10.1, "close" -> 10.2),
      rec("ix", "2024-03-01T10:00:01Z", "open" -> 11.0)))
    val ns = java.time.Instant.parse("2024-03-01T10:00:00.123456789Z")
    val key = ns.getEpochSecond * 1000000000L + ns.getNano
    assert(s.get(spark, "db", "ix", key).contains(Map("open" -> 10.1, "close" -> 10.2)))
    // exact ns equality required (db.go:132-137): off-by-one-ns misses
    assert(s.get(spark, "db", "ix", key + 1).isEmpty)
    assert(s.get(spark, "db", "other", key).isEmpty)
  }

  test("upsert is last-write-wins with whole-map replacement (node.go:235-237)") {
    val s = freshStore("upsert")
    s.createDb(spark, "db")
    val t = "2024-03-01T10:00:00Z"
    val key = java.time.Instant.parse(t).getEpochSecond * 1000000000L
    // within one batch: later array position wins
    s.ingestRecords(spark, "db", Seq(
      rec("ix", t, "open" -> 1.0, "close" -> 2.0),
      rec("ix", t, "open" -> 3.0)))
    assert(s.get(spark, "db", "ix", key).contains(Map("open" -> 3.0)))
    // across batches: later batch wins, map replaced wholesale (no field merge)
    s.ingestRecords(spark, "db", Seq(rec("ix", t, "high" -> 9.0)))
    assert(s.get(spark, "db", "ix", key).contains(Map("high" -> 9.0)))
  }

  test("upsert touches only affected day partitions") {
    val s = freshStore("partitions")
    s.createDb(spark, "db")
    s.ingestRecords(spark, "db", Seq(
      rec("ix", "2024-03-01T10:00:00Z", "v" -> 1.0),
      rec("ix", "2024-03-02T10:00:00Z", "v" -> 2.0)))
    val fs = new org.apache.hadoop.fs.Path(s.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mtime(day: String) = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(s.root, s"db/points/index=ix/day=$day")).getModificationTime
    val day1Before = mtime("2024-03-01")
    Thread.sleep(1100)
    s.ingestRecords(spark, "db", Seq(rec("ix", "2024-03-02T11:00:00Z", "v" -> 3.0)))
    assert(mtime("2024-03-01") == day1Before, "untouched day partition was rewritten")
    assert(s.read(spark, "db").count() == 3)
  }

  test("compaction folds fragmented partitions, preserves content") {
    val s = freshStore("compact")
    s.createDb(spark, "db")
    s.ingestRecords(spark, "db", Seq(rec("ix", "2024-03-01T10:00:00Z", "v" -> 0.0)))
    // upserts rewrite whole partitions (1 file each), so fragmentation
    // comes from append-path writers (deleteRange survivors, external
    // producers): simulate with 5 direct single-row appends
    import spark.implicits._
    (1 to 5).foreach { i =>
      val ns = java.time.Instant.parse(f"2024-03-01T10:0$i:00Z").getEpochSecond * 1000000000L
      Seq((ns, Map("v" -> i.toDouble), 100L + i, "ix", "2024-03-01"))
        .toDF("ts_ns", "value", "ingest_seq", "index", "day")
        .write.partitionBy("index", "day")
        .mode(org.apache.spark.sql.SaveMode.Append)
        .parquet(s"${s.root}/db/points")
    }
    val fs = new org.apache.hadoop.fs.Path(s.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dayDir = new org.apache.hadoop.fs.Path(s.root, "db/points/index=ix/day=2024-03-01")
    def nFiles = fs.listStatus(dayDir)
      .count(x => x.isFile && !x.getPath.getName.startsWith("_"))
    assert(nFiles > 4, s"expected fragmentation, got $nFiles files")
    val before = s.read(spark, "db").select("ts_ns").collect().map(_.getLong(0)).sorted
    s.compact(spark, "db", maxFilesPerPartition = 4)
    assert(nFiles <= 4, s"compaction left $nFiles files")
    val after = s.read(spark, "db").select("ts_ns").collect().map(_.getLong(0)).sorted
    assert(before.toSeq == after.toSeq)
  }

  test("range delete: half-open [from,to), boundary trim + interior drop (A9)") {
    val s = freshStore("delete")
    s.createDb(spark, "db")
    // 10 days, 2 points each, plus another index that must be untouched
    val recs = (1 to 10).flatMap { d =>
      Seq(
        rec("ix", f"2024-03-$d%02dT06:00:00Z", "v" -> d.toDouble),
        rec("ix", f"2024-03-$d%02dT18:00:00Z", "v" -> (d.toDouble + 0.5)))
    } :+ rec("other", "2024-03-05T12:00:00Z", "v" -> 99.0)
    s.ingestRecords(spark, "db", recs)
    def ns(t: String) = java.time.Instant.parse(t).getEpochSecond * 1000000000L
    // delete [03-03 12:00, 03-08 06:00): trims day 3 (evening point),
    // drops days 4-7 entirely, trims day 8 (morning point == from-side
    // of half-open end... 06:00 is excluded as to-bound)
    s.deleteRange(spark, "db", "ix", ns("2024-03-03T12:00:00Z"), ns("2024-03-08T06:00:00Z"))
    val left = s.readIndex(spark, "db", "ix")
      .select("ts_ns").collect().map(_.getLong(0)).sorted
    val expected = (Seq(
      "2024-03-01T06:00:00Z", "2024-03-01T18:00:00Z",
      "2024-03-02T06:00:00Z", "2024-03-02T18:00:00Z",
      "2024-03-03T06:00:00Z", // 18:00 deleted
      "2024-03-08T06:00:00Z", // to-bound is exclusive: survives
      "2024-03-08T18:00:00Z",
      "2024-03-09T06:00:00Z", "2024-03-09T18:00:00Z",
      "2024-03-10T06:00:00Z", "2024-03-10T18:00:00Z").map(ns)).sorted
    assert(left.toSeq == expected.toSeq)
    // interior day directories are gone (subtree prune, node.go:344-368)
    val fs = new org.apache.hadoop.fs.Path(s.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (4 to 7).foreach { d =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s.root, f"db/points/index=ix/day=2024-03-$d%02d")), s"day $d dir should be dropped")
    }
    // other index untouched
    assert(s.readIndex(spark, "db", "other").count() == 1)
  }

  test("store query path: groupBy window over map fields (A8 on the store)") {
    val s = freshStore("query")
    s.createDb(spark, "db")
    s.ingestRecords(spark, "db", Seq(
      rec("ix", "2024-03-01T10:00:10Z", "open" -> 1.0),
      rec("ix", "2024-03-01T10:00:50Z", "open" -> 3.0),
      rec("ix", "2024-03-01T10:01:10Z", "open" -> 5.0),
      rec("ix", "2024-03-01T10:03:10Z", "open" -> 7.0)))
    val q = TickQuery.fromJson(
      """{"index":"ix","group":"2minutes","fields":{"open":{"reducer":"avg"}}}""")
    val rows = s.query(spark, "db", q).collect()
    assert(rows.map(r => (r.getTimestamp(0).toInstant.toString, r.getDouble(1))).toSeq == Seq(
      ("2024-03-01T10:00:00Z", 3.0), // (1+3+5)/3
      ("2024-03-01T10:02:00Z", 7.0)))
    // missing field -> null-correct aggregates (0.0 only at the legacy
    // compat layer, SURVEY 2.A.2 item 6)
    val q2 = TickQuery.fromJson(
      """{"index":"ix","group":"day","fields":{"nope":{"reducer":"sum"}}}""")
    val r2 = s.query(spark, "db", q2).collect()
    assert(r2.length == 1 && r2(0).isNullAt(1))
  }

  test("special-character index names survive the hive-escaped partition layout") {
    val s = freshStore("escape")
    s.createDb(spark, "db")
    val idx = "host:cpu 0%"
    s.ingestRecords(spark, "db", Seq(rec(idx, "2024-03-01T00:00:10Z", "v" -> 1.0)))
    // second ingest to the same (index, day): the collision check must
    // find the escaped directory, merge, and keep BOTH points
    s.ingestRecords(spark, "db", Seq(rec(idx, "2024-03-01T00:00:20Z", "v" -> 2.0)))
    assert(s.listIndexes(spark, "db") == Seq(idx))
    assert(s.readIndex(spark, "db", idx).count() == 2)
    s.dropIndex(spark, "db", idx)
    assert(s.readIndex(spark, "db", idx).count() == 0)
  }

  test("dropIndex invalidates the rollup tier too") {
    val s = freshStore("droproll")
    s.createDb(spark, "db")
    s.ingestRecords(spark, "db", Seq(
      rec("a", "2024-03-01T00:00:10Z", "v" -> 1.0),
      rec("b", "2024-03-01T00:00:10Z", "v" -> 2.0)))
    Rollup.materialize(spark, s, "db")
    s.dropIndex(spark, "db", "a")
    val q = TickQuery.fromJson(
      """{"index":"a","group":"hour","fields":{"v":{"reducer":"sum"}}}""")
    // routed and raw must agree: no rows for the dropped series
    assert(s.query(spark, "db", q).count() == 0)
    // the surviving series still routes
    val qb = TickQuery.fromJson(
      """{"index":"b","group":"hour","fields":{"v":{"reducer":"sum"}}}""")
    assert(s.query(spark, "db", qb).collect().map(_.getDouble(1)).toSeq == Seq(2.0))
  }

  test("materialize on an empty db is a no-op; reads stay usable") {
    val s = freshStore("emptyroll")
    s.createDb(spark, "db")
    Rollup.materialize(spark, s, "db") // must not write schema-less dirs
    s.ingestRecords(spark, "db", Seq(rec("ix", "2024-03-01T00:00:10Z", "v" -> 1.0)))
    val q = TickQuery.fromJson(
      """{"index":"ix","group":"hour","fields":{"v":{"reducer":"sum"}}}""")
    assert(s.query(spark, "db", q).collect().map(_.getDouble(1)).toSeq == Seq(1.0))
  }

  test("routed count of an absent field is 0, matching the raw path") {
    val s = freshStore("countzero")
    s.createDb(spark, "db")
    s.ingestRecords(spark, "db", Seq(rec("ix", "2024-03-01T00:00:10Z", "a" -> 1.0)))
    val q = TickQuery.fromJson(
      """{"index":"ix","group":"hour","fields":{"nope":{"reducer":"count"}}}""")
    val raw = s.query(spark, "db", q).collect()
    Rollup.materialize(spark, s, "db")
    val routed = Rollup.route(spark, s, "db", q).get.collect()
    assert(raw.map(_.getLong(1)).toSeq == Seq(0L))
    assert(routed.map(_.getLong(1)).toSeq == Seq(0L))
  }

  test("raw queries carry the exact ns key: ns-distinct points stay distinct") {
    val s = freshStore("nskey")
    s.createDb(spark, "db")
    // two points 998 ns apart inside the same microsecond
    s.ingest(spark, "db",
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          org.apache.spark.sql.Row("ix", 1709287200000000001L, Map("v" -> 1.0), 0L),
          org.apache.spark.sql.Row("ix", 1709287200000000999L, Map("v" -> 2.0), 1L))),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("index", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("ts_ns", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("value",
            org.apache.spark.sql.types.MapType(
              org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.DoubleType)),
          org.apache.spark.sql.types.StructField("seq", org.apache.spark.sql.types.LongType)))))
    val json = TickApi.query(spark, s, "db",
      """{"index":"ix","fields":{"v":{"reducer":"last"}}}""")
    assert(json.contains("1709287200000000001") && json.contains("1709287200000000999"),
      s"expected both exact ns keys in: $json")
  }
}
