package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters for one traced op: what the Spark listener and the
  * query-execution listener saw between two drains of the listener bus.
  */
final case class Counts(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskRunMs: Long = 0, taskCpuNs: Long = 0, gcMs: Long = 0,
    shuffleWriteBytes: Long = 0, bytesWritten: Long = 0,
    planMs: Long = 0, exchanges: Long = 0,
    // (start ms, end ms, whether Rollup.scala submitted the job)
    jobSpans: Vector[(Long, Long, Boolean)] = Vector.empty) {

  def +(o: Counts): Counts = Counts(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    taskRunMs + o.taskRunMs, taskCpuNs + o.taskCpuNs, gcMs + o.gcMs,
    shuffleWriteBytes + o.shuffleWriteBytes, bytesWritten + o.bytesWritten,
    planMs + o.planMs, exchanges + o.exchanges,
    jobSpans ++ o.jobSpans)

  /** Milliseconds of `[fromMs, toMs]` covered by at least one job. */
  def jobUnionMs(fromMs: Long, toMs: Long): Long = {
    val clipped = jobSpans.map { case (s, e, _) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

/** The benchmark's own listeners, registered only in traced runs: a
  * [[SparkListener]] for jobs, stages, tasks and task metrics, and a
  * [[QueryExecutionListener]] for planning time and exchange counts.
  * [[take]] drains the listener bus and returns everything seen since
  * the previous call.
  */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {

  /** While muted, events are dropped: the untraced half of the overhead
    * pairs.
    */
  @volatile var muted = false

  private var acc = Counts()
  private val jobStart = mutable.Map.empty[Int, (Long, Boolean)]

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def take(): Counts = {
    org.apache.spark.perfbenchbridge.ListenerBus.drain(spark.sparkContext)
    synchronized { val c = acc; acc = Counts(); c }
  }

  private def add(c: Counts): Unit = if (!muted) synchronized { acc = acc + c }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // the job's long call site: the local property when the caller set
    // one, else the stack the job's own result stage was created from
    val site = Option(e.properties).flatMap(p => Option(p.getProperty("callSite.long")))
      .orElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.details))
      .getOrElse("")
    if (!muted) synchronized { jobStart(e.jobId) = (e.time, site.contains("Rollup.scala")) }
    add(Counts(jobs = 1))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (!muted) synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, rollup) =>
      acc = acc.copy(jobSpans = acc.jobSpans :+ ((t0, e.time, rollup)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add(Counts(stages = 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) add(Counts(tasks = 1))
    else add(Counts(
      tasks = 1,
      taskRunMs = m.executorRunTime,
      taskCpuNs = m.executorCpuTime,
      gcMs = m.jvmGCTime,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
      bytesWritten = m.outputMetrics.bytesWritten))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = if (!muted) {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    add(Counts(planMs = planMs, exchanges = Probe.exchanges(qe.executedPlan)))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Probe {

  /** Exchanges in an executed plan, looking through adaptive wrappers
    * and query stages; reused exchanges are not counted again.
    */
  def exchanges(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case e: Exchange => 1L + e.children.map(exchanges).sum
    case other => other.children.map(exchanges).sum + other.subqueries.map(exchanges).sum
  }
}

/** The Spark-engine per-layer metrics of a traced run, from each op's
  * seconds, engine counters and wall-clock ms span.
  */
object Engine {
  def put(report: Report, ops: Seq[(Double, Counts, (Long, Long))]): Unit = {
    val n = ops.size.toDouble
    val t = ops.map(_._2).foldLeft(Counts())(_ + _)
    report.put("spark.jobs_per_op", t.jobs / n, "count", "latency_p50_s")
    report.put("spark.stages_per_op", t.stages / n, "count", "latency_p50_s")
    report.put("spark.tasks_per_op", t.tasks / n, "count", "latency_p50_s")
    report.put("spark.task_run_s_per_op", t.taskRunMs / 1000.0 / n, "s", "ops_per_s")
    report.put("spark.task_cpu_s_per_op", t.taskCpuNs / 1e9 / n, "s", "ops_per_s")
    report.put("spark.gc_s_per_op", t.gcMs / 1000.0 / n, "s", "ops_per_s")
    report.put("spark.shuffle_write_mb_per_op", t.shuffleWriteBytes / (1024.0 * 1024.0) / n, "MiB", "ops_per_s")
    report.put("sql.plan_s_per_op", t.planMs / 1000.0 / n, "s", "latency_p50_s")
    report.put("sql.exchanges_per_query", t.exchanges / n, "count", "latency_p50_s")
    // the fixed floor: op time not covered by any Spark job
    report.put("driver.residual_s_per_op", Stats.mean(ops.map { case (s, c, (w0, w1)) =>
      s - c.jobUnionMs(w0, w1) / 1000.0
    }), "s", "latency_p50_s")
  }
}
