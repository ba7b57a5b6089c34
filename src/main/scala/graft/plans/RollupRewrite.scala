package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.TimestampType
import org.apache.spark.unsafe.types.UTF8String

import graft.tick.{GroupSpec, GroupUnit, Rollup, TickQuery, TickQueryExec, TickStore}

/** Tier-3 pyramid routing (SURVEY §4.1): the SQL front end of the one
  * rollup router, [[Rollup.route]]. An optimizer rule recognizes an
  * aggregate over a registered store view, lowers it to a
  * [[TickQuery]] and lets the router answer it from the rollup tables
  * — for users who `spark.sql(...)` against the points directly.
  *
  * Matched shape (everything else is left untouched):
  *
  * {{{
  * SELECT date_trunc('<unit>', ts) AS b,
  *        sum|min|max|count|avg(value['f']) ...
  * FROM <registered points view>
  * WHERE index = '<lit>'
  *   [AND ts >= TIMESTAMP '<from>'] [AND ts < TIMESTAMP '<to>']
  * GROUP BY 1
  * }}}
  *
  * The router routes it when `<unit>` is a rollup level
  * (minute/hour/day/month/year), the bounds sit on that unit's grid,
  * the db is materialized and the session time zone is UTC; the plan
  * then reads `<db>/rollup/<unit>` — a few rows per bucket — instead
  * of the raw points (`cursor.go:269-352`). DataFrame-API aggregates of
  * the same shape over the store's relation route too.
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
}

class RollupRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] with PredicateHelper {

  import RollupRewrite._

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case agg: Aggregate => rewrite(agg).getOrElse(agg)
  }

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
          filters ++= splitConjunctivePredicates(cond); node = child
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

    // ---- grouping: exactly date_trunc(<group unit>, <canonical ts>) ----
    val (bucket, unit) = agg.groupingExpressions match {
      case Seq(g) => resolve(g) match {
        case t @ TruncTimestamp(Literal(fmt: UTF8String, _), ts, _) if isCanonicalTs(ts) =>
          (t, GroupUnit.forName(fmt.toString.toLowerCase).getOrElse(return None))
        case _ => return None
      }
      case _ => return None
    }

    // ---- filters: ONE `index = <lit>`, optional `ts >= <lit>` and
    // `ts < <lit>`, and the null guards the optimizer infers from them;
    // conflicting equalities (`index='a' AND index='b'`) are left to
    // the raw path, which correctly returns nothing ----
    val indexVals = scala.collection.mutable.Set.empty[String]
    var from, to = Option.empty[java.time.Instant]
    var tsGuard = false
    def instant(us: Long) = java.time.Instant.EPOCH.plus(us, java.time.temporal.ChronoUnit.MICROS)
    filters.map(resolve).foreach {
      case IsNotNull(a: AttributeReference) if a.name == "index" => ()
      case IsNotNull(a: AttributeReference) if a.name == "ts_ns" => tsGuard = true
      case IsNotNull(ts) if isCanonicalTs(ts) => tsGuard = true
      case EqualTo(a: AttributeReference, Literal(v: UTF8String, _)) if a.name == "index" =>
        indexVals += v.toString
      case EqualTo(Literal(v: UTF8String, _), a: AttributeReference) if a.name == "index" =>
        indexVals += v.toString
      case GreaterThanOrEqual(ts, Literal(us: Long, TimestampType))
          if isCanonicalTs(ts) && from.isEmpty => from = Some(instant(us))
      case LessThan(ts, Literal(us: Long, TimestampType))
          if isCanonicalTs(ts) && to.isEmpty => to = Some(instant(us))
      case _ => return None
    }
    // a bare `ts IS NOT NULL` is a filter of its own, not a range's guard
    if (indexVals.size != 1 || (tsGuard && from.isEmpty && to.isEmpty)) return None

    // ---- outputs: the bucket, plus supported aggs over value['f'] ----
    val outs: Seq[Option[(String, String)]] = agg.aggregateExpressions.map { ne =>
      val e = ne match { case a: Alias => a.child; case o => o }
      if (resolve(e).semanticEquals(bucket)) None
      else e match {
        case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
          val (c, reducer) = ae.aggregateFunction match {
            case Sum(c, _)     => (c, "sum")
            case Min(c)        => (c, "min")
            case Max(c)        => (c, "max")
            case Count(Seq(c)) => (c, "count")
            case Average(c, _) => (c, "avg")
            case _ => return None
          }
          Some(fieldOf(resolve(c)).getOrElse(return None) -> reducer)
        case _ => return None
      }
    }
    // grouping-only shapes (SELECT DISTINCT bucket) have nothing to
    // answer from the stats — leave them to the raw path
    val fields = outs.flatten.distinct
    if (fields.isEmpty) return None

    // ---- route, and graft the original output attr ids onto its plan ----
    val q = TickQuery(indexVals.head, from, to, Some(GroupSpec(1, unit)), fields)
    val routed = Rollup.route(spark, store, db, q).getOrElse(return None)
      .queryExecution.analyzed match {
        case s: Sort => s.child // SQL orders only by its own ORDER BY
        case p => p
      }
    Some(Project(agg.aggregateExpressions.zip(outs).map { case (orig, out) =>
      val name = out.fold("bucket") { case (f, r) => TickQueryExec.outName(f, r) }
      Alias(routed.output.find(_.name == name).get, orig.name)(exprId = orig.exprId)
    }, routed))
  }

  /** The store view's event-time: the raw `ts` attribute or its
    * canonical derivation `timestamp_micros(ts_ns DIV 1000)`.
    */
  private def isCanonicalTs(e: Expression): Boolean = e match {
    case a: AttributeReference => a.name == "ts"
    case MicrosToTimestamp(IntegralDivide(a: AttributeReference, d, _)) =>
      a.name == "ts_ns" && d.foldable && Seq[Any](1000, 1000L).contains(d.eval())
    case _ => false
  }

  /** value['f'] / element_at(value, 'f') over the store's map column. */
  private def fieldOf(e: Expression): Option[String] = e match {
    case ElementAt(a: AttributeReference, Literal(f: UTF8String, _), _, _) if a.name == "value" =>
      Some(f.toString)
    case GetMapValue(a: AttributeReference, Literal(f: UTF8String, _)) if a.name == "value" =>
      Some(f.toString)
    case _ => None
  }
}
