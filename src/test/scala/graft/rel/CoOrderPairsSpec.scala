package graft.rel

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** r18 pair-aggregation reformulation: the co-order pair counts (and
  * the common-neighbors wedge counts) moved from
  * distinct + self-equi-join + groupBy to ONE
  * groupBy(key).collect_set + an in-row sorted pair explode — fewer
  * exchanges, no sort-merge join, same pair multiset. These pins hold
  * the reformulation row-exact against the OLD self-join spelling on
  * real data, so the six consumer queries' oracle gates check
  * semantics while this spec checks the rewrite step itself.
  */
class CoOrderPairsSpec extends SparkSpec {

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map(String.valueOf).mkString("|")).sorted

  /** The r17 spelling, kept here as the reference implementation. */
  private def selfJoinPairCounts(d: String): DataFrame = {
    val p = Tables.lineitem(spark, d)
      .select(col("l_orderkey"), col("l_suppkey").cast("long").as("sk"))
      .distinct()
    p.as("a").join(p.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") && col("a.sk") < col("b.sk"))
      .groupBy(col("a.sk").as("u"), col("b.sk").as("v"))
      .agg(count(lit(1)).as("cnt"))
  }

  test("collect_set pair explode == distinct+self-join pair counts (sf0.001)") {
    val got = sortedRows(AnalyticsQueries.coOrderPairCounts(spark, sf0001))
    val ref = sortedRows(selfJoinPairCounts(sf0001))
    assert(got.nonEmpty, "empty pair set would make the pin vacuous")
    assert(got == ref, s"pair multisets diverged: ${got.size} vs ${ref.size} rows")
  }

  test("collect_set pair explode == distinct+self-join pair counts (sf0.01)") {
    val got = sortedRows(AnalyticsQueries.coOrderPairCounts(spark, sf001))
    val ref = sortedRows(selfJoinPairCounts(sf001))
    assert(got.size > 100, s"suspiciously small pair set: ${got.size}")
    assert(got == ref, s"pair multisets diverged: ${got.size} vs ${ref.size} rows")
  }

  test("pair explode emits nothing for singleton or empty supplier sets") {
    import spark.implicits._
    import graft.functions.GraftExpressions.packed_pairs
    val df = Seq(
      (1L, Seq(3L, 5L, 9L)), (2L, Seq(7L)), (3L, Seq.empty[Long])
    ).toDF("k", "sks")
    val pairs = df.select(explode(packed_pairs(col("sks"))).as("pk"))
      .select(shiftrightunsigned(col("pk"), 32), col("pk").bitwiseAND(lit(0xFFFFFFFFL)))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs == Seq((3L, 5L), (3L, 9L), (5L, 9L)),
      s"unexpected pair fan-out: $pairs")
  }

  test("packed_pairs: codegen and interpreted paths agree; both throw past 2^31") {
    import spark.implicits._
    import graft.functions.GraftExpressions.packed_pairs
    val sets = Seq(
      Seq(0L, 1L, 2L),                 // boundary low end
      Seq(5L, 17L, 0x7FFFFFFFL),       // boundary high end
      (1L to 60L).toSeq                 // a wide set (1770 pairs)
    ).toDF("sks")
    // interpreted path: force eval via a filter position Catalyst
    // won't codegen-fuse — simplest is to compare collect() of the
    // projection (codegen) against the HOF reference spelling
    val ref = sets.select(explode(expr(
        "flatten(transform(sks, (x, i) -> " +
          "transform(slice(sks, i + 2, size(sks)), y -> named_struct('u', x, 'v', y))))"
      )).as("p"))
      .select(col("p.u"), col("p.v"))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1))).sorted
    val got = sets.select(explode(packed_pairs(col("sks"))).as("pk"))
      .select(shiftrightunsigned(col("pk"), 32), col("pk").bitwiseAND(lit(0xFFFFFFFFL)))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got == ref, s"packed pairs diverged from HOF reference")
    // the eval (non-codegen) path, exercised directly on the expression
    val expr0 = graft.functions.GraftExpressions.PackedPairs(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(3L, 5L, 9L),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)))
    val evald = expr0.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq
    assert(evald == Seq((3L << 32) | 5L, (3L << 32) | 9L, (5L << 32) | 9L))
    // packing-contract violations throw rather than corrupt — assert
    // the CONTRACT error fired (not just any wrapper/codegen failure):
    // walk the cause chain for the packed_pairs range message (r19,
    // ADVICE tightening)
    def rootMessages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    val bad = Seq(Seq(1L, 0x80000000L)).toDF("sks")
    val ex = intercept[Exception] {
      bad.select(packed_pairs(col("sks"))).collect()
    }
    assert(rootMessages(ex).exists(m =>
      m.contains("packed_pairs") && m.contains("outside [0, 2^31)")),
      s"expected the packed_pairs range-contract error, got: ${rootMessages(ex)}")
    // the eval path rejects the same violation with the same message
    val badEval = intercept[Exception] {
      graft.functions.GraftExpressions.PackedPairs(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          Seq(1L, 0x80000000L),
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)))
        .eval(null)
    }
    assert(rootMessages(badEval).exists(m =>
      m.contains("packed_pairs") && m.contains("outside [0, 2^31)")),
      s"eval path: expected the packed_pairs range-contract error, got: ${rootMessages(badEval)}")
  }

  test("basket_lift packed index pairs == the string-HOF spelling (sf0.001)") {
    // r19: the pair fan-out packs INDEX pairs over each sorted brand set
    // so it rides the codegen'd packed_pairs path — pinned row-exact
    // against the r18 string/HOF formulation (which this reference
    // reproduces)
    val d = sf0001
    val bs = Tables.lineitem(spark, d)
      .join(Tables.part(spark, d), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_orderkey").as("o"))
      .agg(sort_array(collect_set(col("p_brand"))).as("brs"))
      .localCheckpoint()
    val n = bs.agg(count(lit(1)).as("total"))
    val m = bs.select(explode(col("brs")).as("br"))
      .groupBy("br").agg(count(lit(1)).as("cnt"))
    val pc = bs.select(explode(expr(
        "flatten(transform(brs, (x, i) -> " +
          "transform(slice(brs, i + 2, size(brs)), y -> named_struct('ba', x, 'bb', y))))"
      )).as("p"))
      .select(col("p.ba").as("ba"), col("p.bb").as("bb"))
      .groupBy("ba", "bb")
      .agg(count(lit(1)).as("nab"))
    val ref = pc
      .join(broadcast(m.select(col("br").as("ba"), col("cnt").as("ca"))), "ba")
      .join(broadcast(m.select(col("br").as("bb"), col("cnt").as("cb"))), "bb")
      .crossJoin(broadcast(n))
      .select(col("ba"), col("bb"), col("nab"),
        expr("nab * total * 1000000 div (ca * cb)").as("lift_ppm"))
      .orderBy("ba", "bb")
    val want = sortedRows(ref)
    val got = sortedRows(graft.SparkEntry.queries("basket_lift")(spark, d))
    assert(want.nonEmpty, "vacuous pin: empty basket pair space")
    assert(got == want, s"basket_lift diverged: ${got.size} vs ${want.size} rows")
    // and the plan must carry the codegen'd explode, not HOF lambdas
    val p = graft.SparkEntry.queries("basket_lift")(spark, d).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("packed_pairs"), s"expected packed_pairs in the plan:\n$p")
    assert(!p.contains("lambdafunction"), s"interpreted HOF lambda survives:\n$p")
  }

  test("plan carries no join below the pair count — one Generate, two exchanges") {
    val df = AnalyticsQueries.coOrderPairCounts(spark, sf0001)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("BroadcastHashJoin"),
      s"pair aggregation must not join the incidence list against itself:\n$p")
    assert(p.contains("Generate"), s"expected the pair explode:\n$p")
    // count in the TREE block only (operators repeat as details
    // headers below it — the FormattedMode pin gotcha)
    val tree = p.linesIterator.takeWhile(_.trim.nonEmpty).toSeq
    val exchanges = tree.count(l =>
      l.contains("Exchange") && !l.contains("ReusedExchange"))
    assert(exchanges == 2, s"expected exactly 2 exchanges, got $exchanges:\n$p")
  }
}
