package graft

/** Warm per-query timing at the driver's bench config: each named
  * query runs 3 laps in ONE session (run1 = cold/JIT — trust run2/3).
  * Passing several names keeps the JVM warm across them, which is the
  * honest steady-state number for envelope/regression reads.
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    // one data dir for BOTH the setup loop and the laps: a divergence
    // would make the setups build index caches for a different corpus
    // than the laps time (semanticHash key misses -> per-probe rebuild)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // queries with registered fixtures (cached index artifacts, store
    // builds) get them ONCE up front, exactly like the official bench,
    // so laps time the query path rather than fixture construction
    Harness.runSetups(spark, sfDir, SparkEntry.benchSetups.filter { case (n, _) => args.contains(n) })
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      val laps = (1 to 3).map { i =>
        // checkpoint blocks accumulate across laps and inflate later
        // runs (RddHygiene scaladoc); setup-built caches predate the
        // lap and stay. blocking=true: evict lap N's blocks BEFORE
        // lap N+1's timed region starts, not concurrently with it.
        val sec = RddHygiene.sweptAfter(spark, blocking = true) {
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"$name run$i: $sec%.2f s")
        sec
      }
      println(f"$name warm: ${laps.tail.min}%.2f s")
    }
    spark.stop()
  }
}
