package graft.tick

import java.time.Instant

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Differential test of the incremental rollup refresh and of the
  * rollup router: after every step of a short random sequence of
  * writes, each rollup level of the refreshed store equals, row for
  * row, a from-scratch materialize of a copy of its points, and random
  * grouped queries answer the same through the router as from the raw
  * points, on both front ends. The steps are ingests (whose points sit
  * on a coarse time grid, so they also upsert existing points), range
  * deletes (whole day, part of a day, part of two days, a whole index),
  * `compact` and `dropIndex`. The days straddle a month and a year
  * boundary, so every level sees both rewritten and surviving buckets.
  */
class RollupRefreshPropertiesSpec extends SparkSpec {
  import RollupRefreshPropertiesSpec._

  private val indexes = Seq("a", "b", "7")
  private val days = Seq("2023-12-31", "2024-01-01", "2024-01-31", "2024-02-01")

  private val genPoint: Gen[TickIngestRecord] = for {
    index <- Gen.oneOf(indexes)
    day <- Gen.oneOf(days)
    hour <- Gen.oneOf("00", "12", "23")
    minute <- Gen.oneOf("00", "30")
    fields <- Gen.atLeastOne("v", "w")
    values <- Gen.listOfN(fields.size, Gen.chooseNum(-8, 8).map(_ * 0.25))
  } yield TickIngestRecord(index, s"${day}T$hour:$minute:00Z", fields.zip(values).toMap)

  private val genIngest: Gen[Op] = Gen.choose(1, 6).flatMap(Gen.listOfN(_, genPoint)).map(Ingest(_))

  private val genDelete: Gen[Op] = for {
    index <- Gen.oneOf(indexes)
    day <- Gen.oneOf(days)
    range <- Gen.oneOf(
      (s"${day}T00:00:00Z", java.time.LocalDate.parse(day).plusDays(1).toString + "T00:00:00Z"),
      (s"${day}T06:00:00Z", s"${day}T18:00:00Z"),
      (s"${day}T12:00:00Z", java.time.LocalDate.parse(day).plusDays(1).toString + "T12:00:00Z"),
      ("2020-01-01T00:00:00Z", "2030-01-01T00:00:00Z"))
  } yield Delete(index, range._1, range._2)

  private val genUpkeep: Gen[Op] = Gen.oneOf(Gen.const(Compact), Gen.oneOf(indexes).map(Drop(_)))

  /** A bound on a day start or noon of the store's days or the months
    * around them: on every unit's grid, or 1 ns off it.
    */
  private val genBound: Gen[Instant] = for {
    day <- Gen.oneOf(days ++ Seq("2023-12-01", "2024-03-01"))
    hour <- Gen.oneOf(0L, 0L, 12L)
    offNs <- Gen.oneOf(0L, 0L, 1L, -1L)
  } yield Instant.parse(s"${day}T00:00:00Z").plusSeconds(hour * 3600L).plusNanos(offNs)

  /** A grouped query, second through year with multipliers 1-3, whose
    * range is open, half-open, ordered, empty or inverted.
    */
  private val genQuery: Gen[TickQuery] = for {
    index <- Gen.oneOf(indexes)
    unit <- Gen.oneOf(GroupUnit.all)
    count <- Gen.oneOf(1, 1, 2, 3)
    a <- genBound
    b <- genBound
    (lo, hi) = if (a.isBefore(b)) (a, b) else (b, a)
    range <- Gen.oneOf[(Option[Instant], Option[Instant])](
      (None, None), (Some(a), None), (None, Some(a)),
      (Some(lo), Some(hi)), (Some(a), Some(a)), (Some(hi), Some(lo)))
    fields <- Gen.atLeastOne("v", "w", "x")
    reducers <- Gen.listOfN(fields.size,
      Gen.oneOf("sum", "min", "max", "first", "last", "count", "avg"))
  } yield TickQuery(index, range._1, range._2, Some(GroupSpec(count, unit)),
    fields.toSeq.zip(reducers))

  /** A base batch and the steps after it: each an op and the queries
    * checked after it.
    */
  private val genCase: Gen[(Seq[TickIngestRecord], Seq[(Op, Seq[TickQuery])])] = for {
    base <- Gen.listOfN(10, genPoint)
    // every kind of step in every sequence, plus one more, in a random order
    ops <- Gen.sequence[Seq[Op], Op](
      Seq(genIngest, genDelete, genUpkeep, Gen.oneOf(genIngest, genDelete, genUpkeep)))
    order <- Gen.long
    queries <- Gen.listOfN(ops.size, Gen.listOfN(4, genQuery))
  } yield (base, new scala.util.Random(order).shuffle(ops).zip(queries))

  private val sqlTs = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(java.time.ZoneOffset.UTC)

  /** The SQL text of a multiplier-1 query over the view `prop_pts`,
    * with the (1-based) positions of its columns in the query's answer:
    * the reducers SQL has, and bounds rounded up to the microsecond
    * (the same range over points on a whole-minute grid). None when the
    * query has no SQL form.
    */
  private def sqlOf(q: TickQuery): Option[(String, Seq[Int])] = {
    val spec = q.group.get
    val aggs = q.fields.zipWithIndex.filter { case ((_, r), _) =>
      Set("sum", "min", "max", "count", "avg")(r)
    }
    def ts(i: Instant) = s"TIMESTAMP '${sqlTs.format(
      Instant.EPOCH.plusNanos(Math.floorDiv(TickQuery.instantNs(i) + 999L, 1000L) * 1000L))}'"
    Option.when(spec.count == 1 && aggs.nonEmpty) {
      val cols = aggs.map { case ((f, r), _) => s"$r(value['$f']) AS ${TickQueryExec.outName(f, r)}" }
      val range = q.from.map(i => s" AND ts >= ${ts(i)}") ++ q.to.map(i => s" AND ts < ${ts(i)}")
      (s"SELECT date_trunc('${spec.unit.name}', ts) AS bucket, ${cols.mkString(", ")} " +
        s"FROM prop_pts WHERE index = '${q.index}'${range.mkString} GROUP BY 1 ORDER BY 1",
        aggs.map(_._2 + 1))
    }
  }

  private def fresh(name: String): TickStore = {
    val root = s"${sys.props("java.io.tmpdir")}/graft_test_rollup_diff_$name"
    val p = new Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val s = new TickStore(root)
    s.createDb(spark, "db")
    s
  }

  private def ns(t: String): Long = {
    val i = java.time.Instant.parse(t); i.getEpochSecond * 1000000000L + i.getNano
  }

  private def apply(s: TickStore, op: Op): Unit = op match {
    case Ingest(points)        => s.ingestRecords(spark, "db", points)
    case Delete(index, f, t)   => s.deleteRange(spark, "db", index, ns(f), ns(t))
    case Compact               => s.compact(spark, "db", maxFilesPerPartition = 0)
    case Drop(index)           => s.dropIndex(spark, "db", index)
  }

  /** Every row of every level of `s`, tagged with its level, in one job. */
  private def rows(s: TickStore): Seq[String] =
    Rollup.levels.map { level =>
      Rollup.read(spark, s, "db", level)
        .select(concat(lit(s"${level.name} "), to_json(struct(col("*")))))
    }.reduce(_ union _).collect().map(_.getString(0)).sorted.toSeq

  /** Every level of `s` against a from-scratch build over a copy of its
    * points; returns the copy, which is never registered for SQL routing.
    */
  private def assertMatchesRebuild(s: TickStore, after: String): TickStore = {
    val copy = fresh("copy")
    val conf = spark.sparkContext.hadoopConfiguration
    val points = new Path(s.pointsLocation("db"))
    val fs = points.getFileSystem(conf)
    FileUtil.copy(fs, points, fs, new Path(copy.pointsLocation("db")), false, conf)
    Rollup.materialize(spark, copy, "db")
    val (got, want) = (rows(s), rows(copy))
    assert(got == want, s"after $after:\n  refreshed only: ${got.diff(want)}\n  rebuilt only: ${want.diff(got)}")
    copy
  }

  /** How many checked queries read the rollups, per front end. */
  private var routed = Map("json" -> 0, "sql" -> 0)

  private def readsRollups(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.collectLeaves().exists(_.toString.contains("/rollup/"))

  /** Each query on the registered store `s`, through [[TickStore.query]]
    * and as SQL text, against the exact raw answer over `copy`'s points.
    */
  private def assertRoutedMatchesRaw(s: TickStore, copy: TickStore, queries: Seq[TickQuery],
      after: String): Unit = queries.foreach { q =>
    val want = copy.query(spark, "db", q, exact = true, useRollups = false).collect().toSeq
    val json = s.query(spark, "db", q)
    val got = json.collect().toSeq
    assert(got == want, s"$q after $after:\n  got: $got\n  raw: $want")
    if (readsRollups(json)) routed += "json" -> (routed("json") + 1)
    sqlOf(q).foreach { case (text, cols) =>
      s.read(spark, "db").createOrReplaceTempView("prop_pts")
      val sql = spark.sql(text)
      val gotSql = sql.collect().toSeq
      val wantSql = want.map(r => Row.fromSeq((0 +: cols).map(r.get)))
      assert(gotSql == wantSql, s"$text after $after:\n  got: $gotSql\n  raw: $wantSql")
      if (readsRollups(sql)) routed += "sql" -> (routed("sql") + 1)
    }
  }

  test("a refreshed rollup tier equals a from-scratch materialize after every step") {
    val prop = Prop.forAllNoShrink(genCase) { case (base, steps) =>
      val s = fresh("store")
      s.ingestRecords(spark, "db", base)
      Rollup.materialize(spark, s, "db")
      graft.plans.RollupRewrite.register(spark, s, "db")
      steps.zipWithIndex.foreach { case ((op, queries), i) =>
        apply(s, op)
        val after = s"step $i: $op (ops: ${steps.map(_._1)}, base: $base)"
        assertRoutedMatchesRaw(s, assertMatchesRebuild(s, after), queries, after)
      }
      true
    }
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(3).withWorkers(1).withInitialSeed(Seed(20241019L))
    val res = SCTest.check(params, prop)
    assert(res.passed, res.status.toString)
    // not vacuous: both front ends routed some of the 48 queries
    assert(routed.values.forall(_ >= 5), s"routed queries: $routed")
    info(s"routed queries: $routed")
  }
}

object RollupRefreshPropertiesSpec {
  private sealed trait Op
  private final case class Ingest(points: Seq[TickIngestRecord]) extends Op
  private final case class Delete(index: String, from: String, to: String) extends Op
  private case object Compact extends Op
  private final case class Drop(index: String) extends Op
}
