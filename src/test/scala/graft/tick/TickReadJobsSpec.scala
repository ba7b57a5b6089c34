package graft.tick

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec

/** The fixed Spark cost of the tick paths, in jobs. A read: a raw scan
  * is one top-K collect, a rollup-routed read is its aggregation's
  * shuffle stage plus the collect, and reading a rollup level (fixed
  * schema, no footer inference) runs no job at all. A rollup write: a
  * one-day refresh and a full materialize are each one bottom-up pass
  * that pins and writes every level once.
  */
class TickReadJobsSpec extends SparkSpec {

  private lazy val store: TickStore = {
    val root = s"${sys.props("java.io.tmpdir")}/graft_test_read_jobs"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val s = new TickStore(root)
    s.createDb(spark, "db")
    s.ingestRecords(spark, "db", (0 until 48).map { h =>
      TickIngestRecord("ix", f"2024-03-${1 + h / 24}%02dT${h % 24}%02d:30:00Z",
        Map("v" -> h.toDouble))
    })
    Rollup.materialize(spark, s, "db")
    s
  }

  /** Spark jobs started while `body` runs (the store is built first). */
  private def jobsOf(body: => Unit): Int = {
    store
    val sc = spark.sparkContext
    GraftListenerBus.drain(sc)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try { body; GraftListenerBus.drain(sc) }
    finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("a raw scan through TickApi.query runs one job") {
    val json = """{"index":"ix","from":"2024-03-01T00:00:00Z","to":"2024-03-03T00:00:00Z",
                 |"fields":{"v":{"reducer":"avg"}}}""".stripMargin
    var out = ""
    assert(jobsOf { out = TickApi.query(spark, store, "db", json) } == 1)
    assert("\"Timestamp\"".r.findAllIn(out).length == 48, out)
  }

  test("a rollup-routed query runs at most two jobs") {
    val json = """{"index":"ix","group":"2hours","fields":{"v":{"reducer":"sum"}}}"""
    assert(Rollup.routable(TickQuery.fromJson(json)).isDefined)
    var out = ""
    val jobs = jobsOf { out = TickApi.query(spark, store, "db", json) }
    assert(jobs >= 1 && jobs <= 2, s"$jobs jobs")
    // first bucket holds hours 0 and 1 of March 1
    assert(out.startsWith("""[{"Timestamp":1709251200000000000,"Value":{"v":1.0}}"""), out)
    assert("\"Timestamp\"".r.findAllIn(out).length == 24, out)
  }

  test("reading a rollup level runs no job") {
    assert(jobsOf {
      Rollup.levels.foreach(level => Rollup.read(spark, store, "db", level).schema)
    } == 0)
  }

  // the write path: one bottom-up pass over the levels, each level
  // pinned once and written once (the refresh it replaced re-aggregated
  // the points per fine level and pinned each level twice)
  test("a one-day rollup refresh runs at most 20 jobs (42 before the one-pass rebuild)") {
    val jobs = jobsOf { Rollup.refresh(spark, store, "db", Seq("ix" -> "2024-03-02")) }
    assert(jobs <= 20, s"$jobs jobs")
  }

  test("materialize runs at most 20 jobs (21 before the one-pass rebuild)") {
    val jobs = jobsOf { Rollup.materialize(spark, store, "db") }
    assert(jobs <= 20, s"$jobs jobs")
  }
}
