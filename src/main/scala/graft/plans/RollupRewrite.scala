package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.{coalesce, col, lit, max, min, sum, when}
import org.apache.spark.unsafe.types.UTF8String

import graft.tick.{GroupUnit, Rollup, TickStore}

/** Tier-3 pyramid routing (SURVEY §4.1): an optimizer rule that answers
  * eligible RAW-SQL aggregates from the materialized rollup tables,
  * the same rewrite the TickQuery front-end's router does for JSON
  * queries — but for users who bypass the front-end entirely and
  * `spark.sql(...)` against a registered store view.
  *
  * Matched shape (everything else is left untouched):
  *
  * {{{
  * SELECT date_trunc('<level>', ts) AS b,
  *        sum|min|max|count|avg(value['f']) ...
  * FROM <registered points view>
  * [WHERE index = '<lit>']
  * GROUP BY 1
  * }}}
  *
  * where `<level>` is a rollup level (minute/hour/day/month/year). The
  * rewrite reads `<db>/rollup/<level>` — a few rows per bucket —
  * instead of re-scanning raw points: the reference pyramid's
  * read-amplification win (`cursor.go:269-352`), applied to SQL text
  * the engine never saw coming.
  *
  * Semantics note: rollup sums accumulate in DECIMAL (exact), so a
  * rewritten sum/avg is the order-independent value — inside the
  * nondeterminism envelope of the double sum the un-rewritten plan
  * would produce, and equal to what the engine's own oracle-checked
  * paths return.
  *
  * Bucket-existence invariant: a bucket appears in the rollups iff some
  * point in it carries >= 1 field — guaranteed because
  * [[TickStore.ingest]] drops field-less points (they contribute to no
  * reducer), so routed and raw plans agree on the group set.
  */
object RollupRewrite {

  /** points-table location -> the (store, db) whose rollups answer it */
  private val registry = TrieMap[String, (TickStore, String)]()

  private def norm(p: String): String = new Path(p).toUri.getPath.stripSuffix("/")

  /** Register a store db for SQL rollup routing and install the rule
    * into the session (idempotent).
    */
  def register(spark: SparkSession, store: TickStore, db: String): Unit = {
    registry.put(norm(store.pointsLocation(db)), (store, db))
    val installed = spark.experimental.extraOptimizations
      .exists(_.isInstanceOf[RollupRewriteRule])
    if (!installed)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ new RollupRewriteRule(spark)
  }

  private[plans] def lookup(paths: Seq[Path]): Option[(TickStore, String)] =
    paths.headOption.flatMap(p => registry.get(norm(p.toString)))

  private[plans] val levels: Map[String, GroupUnit] = Map(
    "minute" -> GroupUnit.Minute, "hour" -> GroupUnit.Hour, "day" -> GroupUnit.Day,
    "month" -> GroupUnit.Month, "year" -> GroupUnit.Year)
}

class RollupRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {

  import RollupRewrite._

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case agg: Aggregate => rewrite(agg).getOrElse(agg)
  }

  /** What an agg output column needs from the rollup rows. */
  private sealed trait Out
  private case object BucketOut extends Out
  private final case class StatOut(stat: String, field: String) extends Out
  private final case class AvgOut(field: String) extends Out

  private def rewrite(agg: Aggregate): Option[LogicalPlan] = {
    // ---- collapse Project/Filter down to the relation ----
    var subst = Map.empty[ExprId, Expression]
    var filters = Seq.empty[Expression]
    var node: LogicalPlan = agg.child
    var relation: LogicalRelation = null
    while (relation == null) {
      node match {
        case l: LogicalRelation => relation = l
        case Project(list, child) =>
          subst ++= list.collect { case a: Alias => a.exprId -> a.child }
          node = child
        case Filter(cond, child) =>
          filters ++= splitConjunction(cond); node = child
        case _ => return None
      }
    }
    val (store, db) = relation.relation match {
      case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        lookup(fs.location.rootPaths).getOrElse(return None)
      case _ => return None
    }

    def resolve(e: Expression): Expression = {
      var cur = e
      var n = 0
      while (n < 8 && cur.references.exists(a => subst.contains(a.exprId))) {
        cur = cur.transformUp {
          case a: AttributeReference if subst.contains(a.exprId) => subst(a.exprId)
        }
        n += 1
      }
      cur
    }

    // ---- grouping: exactly date_trunc(<rollup level>, <canonical ts>) ----
    val unit = agg.groupingExpressions match {
      case Seq(g) => resolve(g) match {
        case TruncTimestamp(Literal(fmt: UTF8String, _), ts, _)
            if levels.contains(fmt.toString.toLowerCase) && isCanonicalTs(ts) =>
          levels(fmt.toString.toLowerCase)
        case _ => return None
      }
      case _ => return None
    }
    if (!Rollup.levelExists(spark, store, db, unit)) return None

    // ---- filters: at most ONE `index = <lit>` (+ its null guard);
    // conflicting equalities (`index='a' AND index='b'`) are left to
    // the raw path, which correctly returns nothing ----
    val indexVals = scala.collection.mutable.Set.empty[String]
    filters.map(resolve).foreach {
      case IsNotNull(a: AttributeReference) if a.name == "index" => ()
      case EqualTo(a: AttributeReference, Literal(v: UTF8String, _)) if a.name == "index" =>
        indexVals += v.toString
      case EqualTo(Literal(v: UTF8String, _), a: AttributeReference) if a.name == "index" =>
        indexVals += v.toString
      case _ => return None
    }
    if (indexVals.size > 1) return None
    val indexVal: Option[String] = indexVals.headOption

    // ---- outputs: the bucket, plus supported aggs over value['f'] ----
    val groupResolved = resolve(agg.groupingExpressions.head)
    val outs: Seq[Out] = agg.aggregateExpressions.map { ne =>
      val e = ne match { case a: Alias => a.child; case o => o }
      if (resolve(e).semanticEquals(groupResolved)) BucketOut
      else e match {
        case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
          ae.aggregateFunction match {
            case Sum(c, _)   => fieldOf(resolve(c)).map(StatOut("sum", _)).getOrElse(return None)
            case Min(c)      => fieldOf(resolve(c)).map(StatOut("min", _)).getOrElse(return None)
            case Max(c)      => fieldOf(resolve(c)).map(StatOut("max", _)).getOrElse(return None)
            case Count(Seq(c)) => fieldOf(resolve(c)).map(StatOut("count", _)).getOrElse(return None)
            case Average(c, _) => fieldOf(resolve(c)).map(AvgOut(_)).getOrElse(return None)
            case _ => return None
          }
        case _ => return None
      }
    }

    // ---- build the replacement over the rollup table ----
    val roll0 = Rollup.read(spark, store, db, unit)
    val roll1 = indexVal.map(v => roll0.where(col("index") === v)).getOrElse(roll0)
    val needed = Seq("bucket", "field") ++ outs.collect {
      case StatOut(s, _) => Seq(s)
      case AvgOut(_)     => Seq("sum", "count")
    }.flatten.distinct
    // grouping-only shapes (SELECT DISTINCT bucket) have nothing to
    // answer from the stats — leave them to the raw path
    if (!outs.exists(_ != BucketOut)) return None
    val aggCols = outs.zipWithIndex.collect {
      case (StatOut("sum", f), i) =>
        sum(when(col("field") === f, col("sum"))).cast("double").as(s"__a$i")
      case (StatOut("min", f), i) => min(when(col("field") === f, col("min"))).as(s"__a$i")
      case (StatOut("max", f), i) => max(when(col("field") === f, col("max"))).as(s"__a$i")
      case (StatOut("count", f), i) =>
        coalesce(sum(when(col("field") === f, col("count"))), lit(0L)).as(s"__a$i")
      case (AvgOut(f), i) =>
        (sum(when(col("field") === f, col("sum"))).cast("double") /
          sum(when(col("field") === f, col("count"))).cast("double")).as(s"__a$i")
    }
    val grouped = roll1
      .select(needed.map(col): _*)
      .groupBy(col("bucket").as("__bucket"))
      .agg(aggCols.head, aggCols.tail: _*)
    val ordered = grouped.select(outs.zipWithIndex.map {
      case (BucketOut, _) => col("__bucket")
      case (_, i)         => col(s"__a$i")
    }: _*)
    val newPlan = ordered.queryExecution.analyzed
    // graft the original output attr ids onto the rollup-read plan
    Some(Project(
      agg.aggregateExpressions.zip(newPlan.output).map { case (orig, attr) =>
        Alias(attr, orig.name)(exprId = orig.exprId)
      }, newPlan))
  }

  /** The store view's event-time: the raw `ts` attribute or its
    * canonical derivation `timestamp_micros(ts_ns DIV 1000)`.
    */
  private def isCanonicalTs(e: Expression): Boolean = e match {
    case a: AttributeReference => a.name == "ts"
    case mt: MicrosToTimestamp => mt.child match {
      case d: IntegralDivide =>
        (d.left match {
          case a: AttributeReference => a.name == "ts_ns"
          case _ => false
        }) && d.right.foldable && Seq[Any](1000, 1000L).contains(d.right.eval())
      case _ => false
    }
    case _ => false
  }

  /** value['f'] / element_at(value, 'f') over the store's map column. */
  private def fieldOf(e: Expression): Option[String] = e match {
    case ea: ElementAt => (ea.left, ea.right) match {
      case (a: AttributeReference, Literal(f: UTF8String, _)) if a.name == "value" =>
        Some(f.toString)
      case _ => None
    }
    case gm: GetMapValue => (gm.child, gm.key) match {
      case (a: AttributeReference, Literal(f: UTF8String, _)) if a.name == "value" =>
        Some(f.toString)
      case _ => None
    }
    case _ => None
  }

  private def splitConjunction(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjunction(l) ++ splitConjunction(r)
    case o => Seq(o)
  }
}
