package graft

import org.apache.spark.sql.SparkSession

/** Pins the offline mains' shared harness: set-up failures come back
  * to the caller (Bench records them as `setup:<name>`), and the
  * parallelism rule for `SPARK_GRAFT_CPUS`. Neither test runs a job.
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

  test("SPARK_GRAFT_CPUS must be a positive integer; unset means all processors") {
    assert(Harness.parseCpus(None) == Runtime.getRuntime.availableProcessors)
    assert(Harness.parseCpus(Some("4")) == 4)
    assert(Harness.parseCpus(Some(" 32 ")) == 32)
    Seq("0", "-2", "four", "", "4.5").foreach { v =>
      intercept[IllegalArgumentException](Harness.parseCpus(Some(v)))
    }
  }
}
