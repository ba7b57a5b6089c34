package graft.rel

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Invariant pins for the round-6 engine changes. */
class R6OpsSpec extends SparkSpec {
  import spark.implicits._

  test("PageRank exits early at the exact integer fixed point") {
    // a 2-regular graph (6-cycle): uniform rank IS the fixed point in
    // exact integer arithmetic (U div 2 summed over 2 in-edges gives U
    // back; 150e9 + 85*U div 100 = U), so the very first convergence
    // probe must stop the loop — far before the iteration cap
    val n = 6
    val fwd = (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong))
    val und = (fwd ++ fwd.map(_.swap)).toDF("u", "v")
    val (pr, it) = PageRank.run(und, maxIter = 50, checkEvery = 1)
    assert(it < 50, s"must exit before the cap, ran $it")
    val ranks = pr.collect().map(r => r.getLong(1)).toSet
    assert(ranks == Set(1000000000000L),
      s"cycle fixed point is the uniform unit rank, got $ranks")
  }

  test("a period-2 integer orbit never triggers a false early exit") {
    // star graph (hub 0 <-> leaves 1..4): under floor arithmetic the
    // ranks settle into a PERIOD-2 cycle (hub and leaves alternate),
    // never an exact fixed point — precisely the case where comparing
    // r(it) against r(it - checkEvery) would falsely "converge". The
    // adjacent-step probe must keep iterating to the cap, and the
    // capped result must match the sequential integer recurrence.
    val fwd = (1L to 4L).map(l => (0L, l))
    val und = (fwd ++ fwd.map(_.swap)).toDF("u", "v")
    val (pr, it) = PageRank.run(und, maxIter = 20, checkEvery = 2)
    assert(it == 20, s"an orbiting graph must run the full cap, stopped at $it")

    val undSeq = fwd ++ fwd.map(_.swap)
    val deg = undSeq.groupBy(_._1).map { case (n, es) => n -> es.length.toLong }
    var r = deg.keys.map(_ -> 1000000000000L).toMap
    (1 to 20).foreach { _ =>
      val in = undSeq.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => r(u) / deg(u) }.sum
      }
      r = in.map { case (n, s) => n -> (150000000000L + 85 * s / 100) }
    }
    val got = pr.collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(got == r, s"capped run must equal the sequential recurrence: $got vs $r")
  }

  test("a probe on a changing node set never triggers a false early exit") {
    // a chain 1 -> 2 -> 3 -> 4 is not symmetric: each step drops the
    // source end (no in-edge) and adds the sink (no out-edge), while
    // every rank that survives stays at the unit. Comparing only the
    // nodes both vectors hold would stop after one round; the loop must
    // instead end on the vector the full cap computes (it empties)
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    Seq(GraphLoops.Broadcast, GraphLoops.CoPartitioned).foreach { strategy =>
      val (pr, it) = PageRank.run(chain.toDF("u", "v"), maxIter = 10, checkEvery = 1,
        strategy = strategy)
      val deg = chain.groupBy(_._1).map { case (n, es) => n -> es.length.toLong }
      var r = deg.keys.map(_ -> 1000000000000L).toMap
      (1 to 10).foreach { _ =>
        r = chain.filter(e => r.contains(e._1)).groupBy(_._2).map { case (v, es) =>
          v -> (150000000000L + 85 * es.map { case (u, _) => r(u) / deg(u) }.sum / 100)
        }
      }
      val got = pr.collect().map(x => (x.getLong(0), x.getLong(1))).toMap
      assert(got == r, s"$strategy stopped at $it with $got, the cap gives $r")
    }
  }

  test("approximate profile tracks the exact profile within the HLL error bound") {
    val approx = graft.SparkEntry.queries("profile_columns_approx")(spark, sf001)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = graft.SparkEntry.queries("profile_columns")(spark, sf001)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (c, (nulls, dist)) =>
      val (aNulls, aDist) = approx(c)
      assert(aNulls == nulls, s"$c null count is exact arithmetic, must match")
      // rsd 0.02 requested; allow 3 sigma
      assert(math.abs(aDist - dist) <= math.max(3, 0.06 * dist),
        s"$c approx distinct $aDist vs exact $dist beyond 6%")
    }
  }

  test("oriented triangle count equals brute force on random graphs") {
    // the degree-ordered orientation must count every triangle exactly
    // once regardless of degree skew — check against O(n^3) brute force
    // on random graphs including a hub-heavy one
    val rnd = new scala.util.Random(7)
    val graphs = Seq(
      (8, (for (u <- 0 until 8; v <- u + 1 until 8 if rnd.nextDouble() < 0.5)
        yield (u.toLong, v.toLong)).toSeq),
      // star + rim: hub 0 touches all, rim is a cycle — maximal skew
      (10, ((1 until 10).map(i => (0L, i.toLong)) ++
        (1 until 10).map(i => (i.toLong, if (i == 9) 1L else i + 1L))
          .map { case (a, b) => (math.min(a, b), math.max(a, b)) }).distinct.toSeq))
    graphs.foreach { case (n, edges) =>
      val eset = edges.toSet
      val brute = (for {
        a <- 0L until n.toLong; b <- a + 1 until n.toLong; c <- b + 1 until n.toLong
        if eset((a, b)) && eset((b, c)) && eset((a, c))
      } yield 1).size
      val got = Triangles.count(edges.toDF("u", "v"))
      assert(got == brute, s"n=$n: oriented $got vs brute $brute")
    }
  }

  test("distributed BFS equals sequential BFS on the sf0.001 graph") {
    val rows = graft.SparkEntry.queries("graph_bfs_hops")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // sequential reference over the same edges
    val eh = graft.Tables.orders(spark, sf0001)
      .join(graft.Tables.lineitem(spark, sf0001), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").cast("long"), -col("l_suppkey").cast("long"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (eh ++ eh.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSeq }
    var hop = Map(1L -> 0)
    var frontier = Set(1L)
    (1 to 3).foreach { h =>
      val next = frontier.flatMap(n => adj.getOrElse(n, Seq.empty[Long])).diff(hop.keySet)
      hop = hop ++ next.map(_ -> h)
      frontier = next
    }
    assert(rows == hop, s"got ${rows.size} nodes vs reference ${hop.size}")
  }

  test("bounded Bellman-Ford matches a sequential relaxation reference") {
    val rows = graft.SparkEntry.queries("graph_shortest_path")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val eh = graft.Tables.orders(spark, sf0001)
      .join(graft.Tables.lineitem(spark, sf0001), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").cast("long"), -col("l_suppkey").cast("long"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val ed = (eh ++ eh.map(_.swap)).map { case (a, b) =>
      (a, b, (math.abs(a) + math.abs(b)) % 9 + 1) }
    var dist = Map(1L -> 0L)
    (1 to 4).foreach { _ =>
      val relaxed = dist.toSeq ++ ed.flatMap { case (a, b, w) =>
        dist.get(a).map(da => b -> (da + w)) }
      dist = relaxed.groupBy(_._1).map { case (n, ds) => n -> ds.map(_._2).min }
    }
    assert(rows == dist, s"got ${rows.size} nodes vs reference ${dist.size}")
  }

  test("NOT IN over a subquery containing NULL yields no rows (three-valued logic)") {
    graft.Tables.customer(spark, sf001).createOrReplaceTempView("v_customer")
    val n = spark.sql(
      """SELECT COUNT(*) AS n FROM v_customer
        |WHERE c_custkey NOT IN (SELECT nullif(c_custkey, 1) FROM v_customer)""".stripMargin)
      .collect().head.getLong(0)
    assert(n == 0, s"one NULL in the NOT IN list must empty the result, got $n")
  }

  test("PQ encoding picks the per-subspace optimum, beating the average codebook entry") {
    // rebuild the (vec, sub, label) distance table and check the query's
    // chosen errors are exactly the per-(vec,sub) minima — and that the
    // argmin buys real compression quality vs an average codebook pick
    val q = graft.Tables.embeddings(spark, sf001)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        expr("CAST(dim AS BIGINT) div 8").as("sub"),
        expr("CAST(round(CAST(v AS DOUBLE) * 1048576) AS BIGINT)").as("qv"),
        col("label"))
    val cb = q.groupBy(col("label").as("c_label"), col("dim"))
      .agg(expr("sum(qv) div count(1)").as("m"))
    val d2 = q.join(cb, "dim")
      .groupBy("vec_id", "sub", "c_label")
      .agg(sum((col("qv") - col("m")) * (col("qv") - col("m"))).as("d2"))
    val stats = d2.groupBy("vec_id", "sub")
      .agg(min("d2").as("best"), avg("d2").as("mean"))
      .agg(sum("best").as("sum_best"), sum("mean").as("sum_mean"))
      .collect().head
    val got = graft.SparkEntry.queries("vec_pq_encode")(spark, sf001)
      .agg(sum("sq_err")).collect().head.getLong(0)
    assert(got == stats.getLong(0), "query errors must be the exact per-(vec,sub) minima")
    assert(stats.getLong(0) < stats.getDouble(1).toLong,
      s"argmin must beat the average codebook entry: ${stats}")
  }

  test("PQ-ADC shortlist + exact re-rank: exact distances, recall over half") {
    // brute-force integer-L2 top-5 per query on the same 2^20 grid
    val qv = graft.Tables.embeddings(spark, sf001)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        expr("CAST(round(CAST(v AS DOUBLE) * 1048576) AS BIGINT)").as("qv"))
    val qs = qv.where(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("dim"), col("qv").as("q_qv"))
    val exact = qv.join(qs, "dim").where(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id").as("id"))
      .agg(sum((col("qv") - col("q_qv")) * (col("qv") - col("q_qv"))).as("d2"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val top5 = exact.groupBy(_._1._1).values.flatMap(
      _.toSeq.sortBy { case ((_, id), d2) => (d2, id) }.take(5).map(_._1)).toSet
    val got = graft.SparkEntry.queries("sim_pq_adc_topk")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 50, s"10 queries x top-5, got ${got.length}")
    // the re-rank stage must report EXACT distances for what it returns
    got.foreach { case (q, id, d2) =>
      assert(exact((q, id)) == d2, s"re-ranked d2 for ($q,$id) must be exact")
    }
    // 2-round Lloyd-trained sub-codebooks (was label seeds at 0.58):
    // the shortlist (not the re-rank) is the only loss source
    val recall = got.count(g => top5((g._1, g._2))) / 50.0
    assert(recall >= 0.7, s"shortlist recall@5 collapsed: $recall")
    info(f"PQ-ADC shortlist recall@5 = $recall%.2f")
  }

  test("IVF-PQ: exact re-rank, probed lists under half the corpus, recall holds") {
    val qv = graft.Tables.embeddings(spark, sf001)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        expr("CAST(round(CAST(v AS DOUBLE) * 1048576) AS BIGINT)").as("qv"))
    val qs = qv.where(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("dim"), col("qv").as("q_qv"))
    val exact = qv.join(qs, "dim").where(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id").as("id"))
      .agg(sum((col("qv") - col("q_qv")) * (col("qv") - col("q_qv"))).as("d2"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val top5 = exact.groupBy(_._1._1).values.flatMap(
      _.toSeq.sortBy { case ((_, id), d2) => (d2, id) }.take(5).map(_._1)).toSet
    val got = graft.SparkEntry.queries("sim_ivf_pq_topk")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 50, s"10 queries x top-5, got ${got.length}")
    got.foreach { case (q, id, d2) =>
      assert(exact((q, id)) == d2, s"re-ranked d2 for ($q,$id) must be exact")
    }
    val recall = got.count(g => top5((g._1, g._2))) / 50.0
    assert(recall >= 0.7, s"IVF-PQ recall@5 collapsed: $recall")
    // the scan-cost claim: the inverted lists come from the TRAINED
    // coarse quantizer (2 Lloyd rounds, same as the query), and any 3
    // probed lists hold well under half the corpus — nprobe/nlist
    // really does bound the ADC stage's input at the recall above
    val qvl = graft.Tables.embeddings(spark, sf001)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("label"), col("dim").cast("long").as("dim"),
        expr("CAST(round(CAST(v AS DOUBLE) * 1048576) AS BIGINT)").as("qv"))
    val coarse = graft.vec.VecAnalytics.trainCoarse(qvl, rounds = 2)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("td"), col("c_label"))
    val sizes = qvl.join(broadcast(coarse), "dim")
      .groupBy("vec_id", "c_label")
      .agg(sum((col("qv") - col("m")) * (col("qv") - col("m"))).as("td"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .where(col("rn") === 1)
      .groupBy("c_label").count().collect().map(_.getLong(1)).sorted.reverse
    val frac = sizes.take(6).sum.toDouble / sizes.sum
    assert(frac < 0.5, s"top-6 of ${sizes.length} inverted lists hold $frac of the corpus")
    info(f"recall@5 = $recall%.2f, worst-case 6-list probe fraction = $frac%.2f")
  }

  test("levenshtein pair scan separates planted near-dups from background") {
    val rows = graft.SparkEntry.queries("text_levenshtein_pairs")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty, "the planted near-dup pairs must surface")
    assert(rows.forall(_._3 <= 8),
      s"everything under the 20-edit cut should be a planted pair (<= 8 edits): ${rows.toSeq}")
  }
}
