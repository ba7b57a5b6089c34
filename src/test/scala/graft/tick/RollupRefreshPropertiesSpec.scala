package graft.tick

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Differential test of the incremental rollup refresh: after every
  * step of a short random sequence of writes, each rollup level of the
  * refreshed store equals, row for row, a from-scratch materialize of a
  * copy of its points. The steps are ingests (whose points sit on a
  * coarse time grid, so they also upsert existing points), range
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

  private val genCase: Gen[(Seq[TickIngestRecord], Seq[Op])] = for {
    base <- Gen.listOfN(10, genPoint)
    // every kind of step in every sequence, plus one more, in a random order
    ops <- Gen.sequence[Seq[Op], Op](
      Seq(genIngest, genDelete, genUpkeep, Gen.oneOf(genIngest, genDelete, genUpkeep)))
    order <- Gen.long
  } yield (base, new scala.util.Random(order).shuffle(ops))

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

  /** Every level of `s` against a from-scratch build over a copy of its points. */
  private def assertMatchesRebuild(s: TickStore, after: String): Unit = {
    val copy = fresh("copy")
    val conf = spark.sparkContext.hadoopConfiguration
    val points = new Path(s.pointsLocation("db"))
    val fs = points.getFileSystem(conf)
    FileUtil.copy(fs, points, fs, new Path(copy.pointsLocation("db")), false, conf)
    Rollup.materialize(spark, copy, "db")
    val (got, want) = (rows(s), rows(copy))
    assert(got == want, s"after $after:\n  refreshed only: ${got.diff(want)}\n  rebuilt only: ${want.diff(got)}")
  }

  test("a refreshed rollup tier equals a from-scratch materialize after every step") {
    val prop = Prop.forAllNoShrink(genCase) { case (base, ops) =>
      val s = fresh("store")
      s.ingestRecords(spark, "db", base)
      Rollup.materialize(spark, s, "db")
      ops.zipWithIndex.foreach { case (op, i) =>
        apply(s, op)
        assertMatchesRebuild(s, s"step $i: $op (ops: $ops, base: $base)")
      }
      true
    }
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(3).withWorkers(1).withInitialSeed(Seed(20241019L))
    val res = SCTest.check(params, prop)
    assert(res.passed, res.status.toString)
  }
}

object RollupRefreshPropertiesSpec {
  private sealed trait Op
  private final case class Ingest(points: Seq[TickIngestRecord]) extends Op
  private final case class Delete(index: String, from: String, to: String) extends Op
  private case object Compact extends Op
  private final case class Drop(index: String) extends Op
}
