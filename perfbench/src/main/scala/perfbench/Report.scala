package perfbench

import scala.collection.mutable

/** One span of the traced run: a timed call at one layer boundary. */
final case class Span(op: Int, name: String, parent: String, startNs: Long, endNs: Long)

/** What a run hands back: the result counts, the metrics with their
  * units, for per-layer metrics the end-to-end metric each should move,
  * and the traced run's spans.
  */
final class Report {
  var attempted: Long = 0
  var failed: Long = 0
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val moves = mutable.LinkedHashMap.empty[String, String]
  val spans = mutable.ArrayBuffer.empty[Span]

  def put(name: String, value: Double, unit: String, moves: String = ""): Unit = {
    metrics(name) = (value, unit)
    if (moves.nonEmpty) this.moves(name) = moves
  }

  /** Record an op outcome; a wrong or failed op is reported on stderr. */
  def outcome(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failed <= 20) System.err.println(s"[perfbench] FAILED: $what")
    }
  }

  def toJson: String = {
    def str(s: String) = Json.quote(s)
    val m = metrics.map { case (k, (v, u)) =>
      s"${str(k)}: {${str("value")}: ${Json.num(v)}, ${str("unit")}: ${str(u)}}"
    }.mkString("{", ", ", "}")
    val mv = moves.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ", ", "}")
    val sp = spans.map { s =>
      s"""{"op": ${s.op}, "name": ${str(s.name)}, "parent": ${str(s.parent)}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}"""
    }.mkString("[", ",\n", "]")
    s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, "failed": $failed, "metrics": $m, "moves": $mv, "spans": $sp}"""
  }
}

/** Phase timings on stderr, for sizing a run. */
object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.1f s  $msg")
}

object Json {
  def quote(s: String): String =
    com.fasterxml.jackson.databind.node.TextNode.valueOf(s).toString
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}

object Stats {
  /** Harrell-Davis estimate of the `p`-th percentile (`p` in [0, 100]):
    * a Beta-weighted mean of all order statistics. On a few dozen samples
    * of mixed request types it is far steadier than a single order
    * statistic, which jumps across the gaps between types.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val n = s.size
    if (n == 1) s.head
    else {
      val q = p / 100.0
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(q * (n + 1), (1 - q) * (n + 1))
      val cdf = (0 to n).map(i => beta.cumulativeProbability(i.toDouble / n))
      s.indices.map(i => (cdf(i + 1) - cdf(i)) * s(i)).sum
    }
  }
  def median(xs: Seq[Double]): Double = percentile(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  /** Median, or 0 when the layer did no work on this workload. */
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
}
