package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Settings of one benchmark run, from `run.py`. */
final case class Conf(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    runDir: String, out: String, dataRoot: String, smoke: Boolean) {
  /** The tables the query surface reads. */
  def dataDir: String = s"$dataRoot/sf0.001"
  /** The events the tick store is built from. */
  def eventsDir: String = if (smoke) dataDir else s"$dataRoot/sf0.1"
}

/** The benchmark JVM: one workload, one seed, one result file.
  *
  * Usage: `perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  * <runDir> <outFile> <dataRoot> <smoke 0|1>`. `java.io.tmpdir` must
  * already point inside `runDir`, so every fixture the engine caches
  * there is built fresh by this run.
  */
object Main {

  val Cores = 4

  def main(argv: Array[String]): Unit =
    try run(argv)
    catch {
      case e: Throwable =>
        // the server's threads would keep a failed JVM alive: halt
        e.printStackTrace()
        Runtime.getRuntime.halt(1)
    }

  private def run(argv: Array[String]): Unit = {
    val conf = Conf(argv(0), argv(1).toLong, argv(2).toInt, argv(3) == "1",
      argv(4), argv(5), argv(6), argv(7) == "1")
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${conf.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${conf.runDir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = sinceJvmStartS()
    Log(f"session ready, $sessionS%.2f s after JVM start")
    val report = new Report
    val stop: () => Unit = conf.workload match {
      case "tick_query" => TickBench.run(spark, conf, sessionS, report)
      case "query_surface" => SurfaceBench.run(spark, conf, sessionS, report)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    if (!conf.trace) report.put("heap_live_mb", liveHeapMb(), "MiB")
    Files.write(Paths.get(conf.out), report.toJson.getBytes(StandardCharsets.UTF_8))
    // The HTTP server's handler pool is never shut down by its stop(), so
    // the JVM would not exit on its own: stop the listener, under a
    // deadline, then halt. The run directory is deleted by the caller.
    val closer = new Thread(() => stop())
    closer.setDaemon(true)
    closer.start()
    closer.join(10000L)
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }

  /** Seconds since this JVM started, launcher excluded. */
  def sinceJvmStartS(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  /** Heap still in use after full collections, in MiB. Spark's context
    * cleaner releases blocks of collected RDDs and broadcasts in the
    * background, so the collections are spaced out and the least reading
    * is kept.
    */
  def liveHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(300)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }.min
}
