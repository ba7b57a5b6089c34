package graft

import org.apache.spark.sql.SparkSession

/** The local session and the fixture set-up shared by the offline
  * mains: `Bench`, `Verify`, `TimeOne`, `GateStamp`, `AuditProbe` and
  * `ScaleGen`.
  *
  * Every session [[session]] starts is `local[n]` with
  * `spark.sql.shuffle.partitions = n`, session time zone UTC, the Spark
  * UI off, adaptive execution on and log level WARN. `n` is
  * `$SPARK_GRAFT_CPUS`, read once per JVM; it must be a positive
  * integer, and when it is unset `n` is the JVM's available
  * processors. A warm `TimeOne` ledger therefore runs at the same
  * parallelism as a `Bench` lap started in the same environment. The
  * test suites build from [[builder]] too, at a fixed `local[8]` and
  * with their own warehouse dir.
  *
  * `perfbench/` builds its own session: it is the benchmark's harness
  * and changes only together with the benchmark.
  */
object Harness {

  /** Parallelism for a `SPARK_GRAFT_CPUS` value (`None` = unset). */
  def parseCpus(value: Option[String]): Int = value match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) =>
      val n = v.trim.toIntOption.getOrElse(0)
      require(n > 0, s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'")
      n
  }

  lazy val cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  /** The harness config at parallelism `n`, not yet started. */
  def builder(n: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$n]")
    .config("spark.sql.shuffle.partitions", n.toLong)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")

  /** Start (or join) the session `b` describes, at log level WARN. */
  def start(b: SparkSession.Builder): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The offline mains' session, at [[cpus]]. */
  def session(): SparkSession = start(builder(cpus))

  /** One fixture set-up's outcome: wall seconds, and what it threw. */
  final case class SetupRun(name: String, seconds: Double, failure: Option[Throwable])

  /** Run `setups` against `dir` in name order, timing each one. A
    * failing set-up is reported on stderr and returned, not thrown, so
    * the caller decides what a missing fixture means for its run.
    */
  def runSetups(spark: SparkSession, dir: String,
      setups: Iterable[(String, (SparkSession, String) => Unit)]): Seq[SetupRun] =
    setups.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      val failure =
        try { fn(spark, dir); None }
        catch { case e: Throwable => Some(e) }
      val seconds = (System.nanoTime() - t0) / 1e9
      failure.foreach(e => System.err.println(s"[harness] setup $name failed: ${e.getMessage}"))
      SetupRun(name, seconds, failure)
    }
}
