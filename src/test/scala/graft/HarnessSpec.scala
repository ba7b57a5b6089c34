package graft

import org.apache.spark.sql.SparkSession

/** Pins the offline mains' shared harness: set-up failures come back
  * to the caller (Bench records them as `setup:<name>`), whether a
  * set-up built its fixture (Bench's `setup_built`), and the
  * parallelism rule for `SPARK_GRAFT_CPUS`. No test runs a job.
  */
class HarnessSpec extends SparkSpec {

  test("runSetups times every setup and returns only the throwing one as failed") {
    val runs = Harness.runSetups(spark, sf0001, Seq(
      "b_throws" -> { (_: SparkSession, _: String) =>
        Thread.sleep(20); throw new IllegalStateException("boom") },
      "a_passes" -> { (_: SparkSession, dir: String) =>
        Thread.sleep(20); assert(dir == sf0001); () }))
    assert(runs.map(_.name) == Seq("a_passes", "b_throws"))
    assert(runs.forall(_.seconds >= 0.02), s"untimed setup: $runs")
    assert(runs.head.failure.isEmpty)
    assert(runs(1).failure.map(_.getMessage).contains("boom"))
  }

  test("runSetups records whether each setup built a fixture or reused it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_harness_spec")
    java.nio.file.Files.write(dir.resolve("t.parquet"), Array[Byte](1, 2, 3))
    val setup = "fixture" -> { (s: SparkSession, d: String) =>
      Fixtures.cached(s, d, "harness_spec", "t")(_ => ()); () }
    val plain = "plain" -> { (_: SparkSession, _: String) => () }
    val first = Harness.runSetups(spark, dir.toString, Seq(setup, plain))
    assert(first.map(r => r.name -> r.built) == Seq("fixture" -> true, "plain" -> false))
    val again = Harness.runSetups(spark, dir.toString, Seq(setup))
    assert(again.map(r => r.name -> r.built) == Seq("fixture" -> false))
  }

  test("SPARK_GRAFT_CPUS must be a positive integer; unset means all processors") {
    assert(Harness.parseCpus(None) == Runtime.getRuntime.availableProcessors)
    assert(Harness.parseCpus(Some("4")) == 4)
    assert(Harness.parseCpus(Some(" 32 ")) == 32)
    Seq("0", "-2", "four", "", "4.5").foreach { v =>
      intercept[IllegalArgumentException](Harness.parseCpus(Some(v)))
    }
  }
}
