package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def freshBase(): String =
    Files.createTempDirectory("graft_snap_spec").toString

  test("earlier snapshots are isolated from later commits") {
    val base = freshBase()
    val v1rows = Seq(("a", "p1", 0L, 10L), ("b", "p1", 0L, 20L), ("c", "p2", 0L, 30L))
      .toDF("key", "part", "seq", "vc")
    assert(SnapshotStore.commit(spark, base, v1rows) == 1)
    val v2rows = Seq(("a", "p1", 1L, 99L)).toDF("key", "part", "seq", "vc")
    assert(SnapshotStore.commit(spark, base, v2rows) == 2)

    val v1 = SnapshotStore.readVersion(spark, base, 1)
      .collect().map(r => (r.getString(0), r.getLong(3))).toSet
    assert(v1 == Set(("a", 10L), ("b", 20L), ("c", 30L)),
      "v1 must be exactly the first commit, untouched by v2")
    val v2 = SnapshotStore.readVersion(spark, base, 2)
      .collect().map(r => (r.getString(0), r.getLong(3))).toSet
    assert(v2 == Set(("a", 99L), ("b", 20L), ("c", 30L)),
      "v2 upserts key a and inherits the rest")
  }

  test("untouched partitions are physically shared between versions") {
    val base = freshBase()
    SnapshotStore.commit(spark, base,
      Seq(("a", "p1", 0L, 1L), ("b", "p2", 0L, 2L)).toDF("key", "part", "seq", "vc"))
    SnapshotStore.commit(spark, base,
      Seq(("a", "p1", 1L, 5L)).toDF("key", "part", "seq", "vc"))
    val m1 = SnapshotStore.readManifest(spark, base, 1)
    val m2 = SnapshotStore.readManifest(spark, base, 2)
    assert(m1("p2") == m2("p2"), "untouched partition must keep the SAME directory")
    assert(m1("p1") != m2("p1"), "touched partition must move to the new commit's dir")
  }

  test("a concurrent committer losing the version race cleans up and leaves the winner intact") {
    // deterministic replay of the race's decided state: the winner has
    // already published v1 when the loser (which computed next=1 from
    // the stale empty store) reaches publish. The loser must (a) throw,
    // (b) remove ITS OWN attempt dir — and only that — and (c) leave
    // the winner's version byte-identical.
    val base = freshBase()
    SnapshotStore.commit(spark, base,
      Seq(("a", "p1", 0L, 10L)).toDF("key", "part", "seq", "vc")) // the winner's v1
    val winner = SnapshotStore.readManifest(spark, base, 1)
    val loserDir = s"$base/data/v1-loser000"
    Seq(("z", "p1", 0L, 99L)).toDF("key", "part", "seq", "vc")
      .write.mode("overwrite").partitionBy("part").parquet(loserDir)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    intercept[IllegalStateException] {
      SnapshotStore.publish(spark, base, 1,
        Map("p1" -> s"$loserDir/part=p1"), loserDir)
    }
    assert(!fs.exists(new org.apache.hadoop.fs.Path(loserDir)),
      "the loser's private attempt dir must be removed")
    assert(SnapshotStore.readManifest(spark, base, 1) == winner,
      "the winner's manifest must be untouched")
    val v1 = SnapshotStore.readVersion(spark, base, 1)
      .collect().map(r => (r.getString(0), r.getLong(3))).toSet
    assert(v1 == Set(("a", 10L)), "the winner's rows must be untouched")
    // and the store keeps working for the loser's NEXT attempt (retry
    // against the refreshed current version is the documented recovery)
    assert(SnapshotStore.commit(spark, base,
      Seq(("z", "p1", 1L, 99L)).toDF("key", "part", "seq", "vc")) == 2)
  }

  test("two publishers racing on one version: exactly one wins, its manifest intact") {
    // a real race, not a replay: both threads pass a barrier and then
    // publish v1 of the same fresh store. A create-if-absent that can
    // be overwritten shows up as two winners, or as the winner reading
    // back the loser's manifest.
    val fs = new org.apache.hadoop.fs.Path(freshBase())
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      (1 to 200).foreach { round =>
        val base = freshBase()
        val barrier = new java.util.concurrent.CyclicBarrier(2)
        val attempts = Seq("a", "b").map { who =>
          val dir = s"$base/data/v1-$who"
          fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
          who -> pool.submit(new java.util.concurrent.Callable[Boolean] {
            def call(): Boolean = {
              barrier.await()
              try { SnapshotStore.publish(spark, base, 1, Map("p" -> who), dir); true }
              catch { case _: SnapshotStore.CommitRaceException => false }
            }
          })
        }
        val winners = attempts.collect { case (who, f) if f.get() => who }
        assert(winners.size == 1, s"round $round: winners $winners")
        assert(SnapshotStore.readManifest(spark, base, 1) == Map("p" -> winners.head),
          s"round $round: the winner's manifest was overwritten")
      }
    } finally pool.shutdown()
  }

  test("commitWithRetry: the race loser rebases and converges to the serial history") {
    // deterministic race via the beforePublish seam: the loser has
    // written its attempt data for v2 when the winner publishes v2 in
    // the window before the loser's CAS. The retry must recompute
    // against the new head and land v3 — and the result must equal a
    // SERIAL twin store that ran winner-then-loser.
    val base = freshBase()
    val twin = freshBase()
    val init = Seq(("a", "p1", 0L, 10L)).toDF("key", "part", "seq", "vc")
    val winnerBatch = Seq(("a", "p1", 5L, 99L)).toDF("key", "part", "seq", "vc")
    // the loser ALSO rewrites key a (lower seq): a blind upsert applied
    // after the winner must still win — gen beats seq, so this checks
    // the rebase really is loser-AFTER-winner, not a seq-luck merge
    val loserBatch = Seq(("a", "p1", 0L, 50L), ("b", "p1", 0L, 51L))
      .toDF("key", "part", "seq", "vc")
    assert(SnapshotStore.commit(spark, base, init) == 1)
    var raced = false
    val got = SnapshotStore.commitWithRetry(spark, base, loserBatch, 5,
      () => { SnapshotStore.commit(spark, base, winnerBatch); raced = true })
    assert(raced && got == 3, s"loser must land v3 after one race, got v$got")
    // serial twin: init, winner, loser — histories must match per version
    SnapshotStore.commit(spark, twin, init)
    SnapshotStore.commit(spark, twin, winnerBatch)
    SnapshotStore.commit(spark, twin, loserBatch)
    def state(b: String, v: Int) = SnapshotStore.readVersion(spark, b, v)
      .collect().map(r => (r.getString(0), r.getLong(3))).toSet
    (1 to 3).foreach { v => assert(state(base, v) == state(twin, v),
      s"raced store must equal the serial twin at v$v") }
    assert(state(base, 3) == Set(("a", 50L), ("b", 51L)))
  }

  test("commitWithRetry: maxAttempts bounds the spinning") {
    val base = freshBase()
    SnapshotStore.commit(spark, base,
      Seq(("a", "p1", 0L, 1L)).toDF("key", "part", "seq", "vc"))
    val e = intercept[IllegalStateException] {
      SnapshotStore.commitWithRetry(spark, base,
        Seq(("b", "p1", 0L, 2L)).toDF("key", "part", "seq", "vc"),
        maxAttempts = 0, () => ())
    }
    assert(e.getMessage.contains("lost 0"))
  }

  test("mergeWithRetry: disjoint-partition race rebases; the merge re-runs cleanly") {
    val base = freshBase()
    SnapshotStore.commit(spark, base,
      Seq(("a", "p1", 0L, 10L), ("x", "p2", 0L, 20L))
        .toDF("key", "part", "seq", "vc"))
    // loser merges into p2; the racing winner commits into p1 only —
    // manifest diff is {p1}, disjoint from the merge's {p2, dv}
    val src = Seq(("x", "p2", 1L, 21L)).toDF("key", "part", "seq", "vc")
    val got = SnapshotStore.mergeWithRetry(spark, base, src,
      matchedDelete = lit(false), matchedUpdateVc = col("s.vc"), 5,
      () => SnapshotStore.commit(spark, base,
        Seq(("a", "p1", 7L, 77L)).toDF("key", "part", "seq", "vc")))
    assert(got == 3)
    val v3 = SnapshotStore.readVersion(spark, base, 3)
      .collect().map(r => (r.getString(0), r.getLong(3))).toSet
    assert(v3 == Set(("a", 77L), ("x", 21L)),
      "rebased merge must see the winner's p1 AND apply its own p2 update")
  }

  test("mergeWithRetry: overlapping-partition race aborts with the conflict") {
    val base = freshBase()
    SnapshotStore.commit(spark, base,
      Seq(("x", "p2", 0L, 20L)).toDF("key", "part", "seq", "vc"))
    val src = Seq(("x", "p2", 1L, 21L)).toDF("key", "part", "seq", "vc")
    val e = intercept[java.util.ConcurrentModificationException] {
      SnapshotStore.mergeWithRetry(spark, base, src,
        matchedDelete = lit(false), matchedUpdateVc = col("s.vc"), 5,
        () => SnapshotStore.commit(spark, base,
          Seq(("y", "p2", 0L, 5L)).toDF("key", "part", "seq", "vc")))
    }
    assert(e.getMessage.contains("p2"), e.getMessage)
    // the conflict left no new version behind the caller's back
    assert(SnapshotStore.currentVersion(spark, base) == 2)
  }

  test("mergeWithRetry: declared readPartitions widen the conflict check") {
    // r13 ADVICE: the write-set approximation misses a source derived
    // from READING other partitions. Without the declaration the same
    // race rebases (winner touched only p1, merge writes only p2);
    // with readPartitions = {p1} it must abort as a conflict.
    val base = freshBase()
    SnapshotStore.commit(spark, base,
      Seq(("a", "p1", 0L, 10L), ("x", "p2", 0L, 20L))
        .toDF("key", "part", "seq", "vc"))
    val src = Seq(("x", "p2", 1L, 21L)).toDF("key", "part", "seq", "vc")
    val e = intercept[java.util.ConcurrentModificationException] {
      SnapshotStore.mergeWithRetry(spark, base, src,
        matchedDelete = lit(false), matchedUpdateVc = col("s.vc"), 5,
        () => SnapshotStore.commit(spark, base,
          Seq(("a", "p1", 7L, 77L)).toDF("key", "part", "seq", "vc")),
        readPartitions = Set("p1"))
    }
    assert(e.getMessage.contains("p1"), e.getMessage)
  }

  test("mergeWithRetry: a concurrent deletion-vector change is a conflict too") {
    val base = freshBase()
    SnapshotStore.commit(spark, base,
      Seq(("x", "p2", 0L, 20L), ("z", "p3", 0L, 30L))
        .toDF("key", "part", "seq", "vc"))
    val src = Seq(("x", "p2", 1L, 21L)).toDF("key", "part", "seq", "vc")
    val e = intercept[java.util.ConcurrentModificationException] {
      SnapshotStore.mergeWithRetry(spark, base, src,
        matchedDelete = lit(false), matchedUpdateVc = col("s.vc"), 5,
        () => SnapshotStore.deleteRowsDv(spark, base,
          Seq(("z", "p3")).toDF("key", "part")))
    }
    assert(e.getMessage.contains("<deletion-vector>"), e.getMessage)
  }

  test("deleteRowsDvWithRetry: the DV union rebases over a racing commit") {
    val base = freshBase()
    SnapshotStore.commit(spark, base,
      Seq(("a", "p1", 0L, 10L), ("b", "p1", 0L, 11L))
        .toDF("key", "part", "seq", "vc"))
    val got = SnapshotStore.deleteRowsDvWithRetry(spark, base,
      Seq(("a", "p1")).toDF("key", "part"), 5,
      () => SnapshotStore.commit(spark, base,
        Seq(("c", "p1", 0L, 12L)).toDF("key", "part", "seq", "vc")))
    assert(got == 3)
    val v3 = SnapshotStore.readVersion(spark, base, 3)
      .collect().map(r => (r.getString(0), r.getLong(3))).toSet
    assert(v3 == Set(("b", 11L), ("c", 12L)),
      "rebased DV delete must drop a, keep b AND the winner's c")
  }

  test("within-batch duplicates resolve by highest seq") {
    val base = freshBase()
    SnapshotStore.commit(spark, base,
      Seq(("k", "p", 0L, 1L), ("k", "p", 2L, 3L), ("k", "p", 1L, 2L))
        .toDF("key", "part", "seq", "vc"))
    val got = SnapshotStore.readVersion(spark, base, 1)
      .collect().map(r => (r.getString(0), r.getLong(3)))
    assert(got.toSeq == Seq(("k", 3L)), s"highest seq must win: ${got.toSeq}")
  }

  test("random commit sequences match an in-memory LWW reference at every version") {
    // storage engines break on SEQUENCES, not single ops: replay random
    // upsert batches against a sequential reference map and check every
    // historical snapshot after every commit
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val genBatch = Gen.nonEmptyListOf(for {
      k <- Gen.oneOf("a", "b", "c", "d")
      p <- Gen.oneOf("p1", "p2", "p3")
      seq <- Gen.chooseNum(0L, 5L)
      vc <- Gen.chooseNum(1L, 100L)
    } yield (k, p, seq, vc)).map(_.take(6))
    val genRun = Gen.listOfN(3, genBatch)
    val prop = Prop.forAll(genRun) { batches =>
      val base = freshBase()
      var ref = Map.empty[(String, String), Long] // (key, part) -> vc
      val history = scala.collection.mutable.ArrayBuffer.empty[Map[(String, String), Long]]
      batches.foreach { b =>
        // reference LWW: within the batch, highest seq wins (stable on
        // ties by keeping the max-seq row's LAST occurrence like the
        // engine's deterministic row_number tie on nothing further —
        // avoid ties entirely by deduping (k,p,seq) keeping max vc)
        val dedup = b.groupBy(t => (t._1, t._2)).map { case (_, rows) =>
          rows.maxBy(r => (r._3, r._4))
        }
        ref = ref ++ dedup.map(t => (t._1, t._2) -> t._4)
        history += ref
        SnapshotStore.commit(spark, base, b.toDF("key", "part", "seq", "vc"))
      }
      history.zipWithIndex.forall { case (expected, i) =>
        val got = SnapshotStore.readVersion(spark, base, i + 1)
          .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
        got == expected
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }

  test("delete rewrites touched partitions and preserves prior snapshots") {
    val base = freshBase()
    SnapshotStore.commit(spark, base, Seq(
      ("a", "p1", 0L, 1L), ("b", "p1", 0L, 2L), ("c", "p2", 0L, 3L))
      .toDF("key", "part", "seq", "vc"))
    val v = SnapshotStore.delete(spark, base, Seq("p1"), col("key") === "a")
    assert(v == 2)
    val v2 = SnapshotStore.readVersion(spark, base, 2)
      .collect().map(r => (r.getString(0), r.getLong(3))).toSet
    assert(v2 == Set(("b", 2L), ("c", 3L)), s"v2 must lose only key a: $v2")
    // time travel still sees the deleted row
    val v1 = SnapshotStore.readVersion(spark, base, 1)
      .collect().map(_.getString(0)).toSet
    assert(v1 == Set("a", "b", "c"), "v1 must still contain the deleted key")
    // fully-deleting a partition removes it from the new manifest
    val v3 = SnapshotStore.delete(spark, base, Seq("p2"), lit(true))
    val m3 = SnapshotStore.readManifest(spark, base, v3)
    assert(!m3.contains("p2") && m3.contains("p1"), s"p2 must drop out: $m3")
  }

  test("readVersion is ONE multi-path scan, not a per-partition union") {
    val base = freshBase()
    SnapshotStore.commit(spark, base,
      (1 to 8).map(i => (s"k$i", s"p$i", 0L, i.toLong)).toDF("key", "part", "seq", "vc"))
    val df = SnapshotStore.readVersion(spark, base, 1)
    // count relation leaves in the optimized plan (AQE wraps the
    // physical tree, so look logical: one leaf per source scan; the
    // broadcast seg->part lookup is a LocalRelation, not a scan)
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    assert(scans.size == 1,
      s"8 partitions must resolve to a single scan node, got ${scans.size}")
    assert(df.collect().length == 8)
  }

  test("partition values survive escaping end to end (slash, space, plus, percent)") {
    val base = freshBase()
    val nasty = Seq("a/b", "a b", "a+b", "100%x", "x=y#z")
    SnapshotStore.commit(spark, base,
      nasty.zipWithIndex.map { case (p, i) => (s"k$i", p, 0L, i.toLong) }
        .toDF("key", "part", "seq", "vc"))
    val got = SnapshotStore.readVersion(spark, base, 1)
      .collect().map(r => (r.getString(1), r.getLong(3))).toSet
    assert(got == nasty.zipWithIndex.map { case (p, i) => (p, i.toLong) }.toSet,
      s"every escaped partition value must round-trip exactly: $got")
    // upsert into an escaped partition must match the manifest entry,
    // not create a parallel mangled one
    SnapshotStore.commit(spark, base,
      Seq(("k0", "a/b", 1L, 99L)).toDF("key", "part", "seq", "vc"))
    val v2 = SnapshotStore.readVersion(spark, base, 2)
      .where(col("part") === "a/b")
      .collect().map(r => (r.getString(0), r.getLong(3))).toSet
    assert(v2 == Set(("k0", 99L)), s"escaped-partition upsert must collapse: $v2")
  }

  test("delete with a NULL-valued predicate keeps the row (SQL DELETE semantics)") {
    val base = freshBase()
    SnapshotStore.commit(spark, base,
      Seq(("a", "p", 0L, 1L), ("b", "p", 0L, 2L), ("c", "p", 0L, 3L))
        .toDF("key", "part", "seq", "vc"))
    // nullif(vc,1) is NULL for key a: the predicate is TRUE only for
    // vc=2 (key b); a must SURVIVE even though the predicate is NULL
    val pred = expr("nullif(vc, 1) = 2")
    SnapshotStore.delete(spark, base, Seq("p"), pred)
    val got = SnapshotStore.readVersion(spark, base, 2)
      .collect().map(_.getString(0)).toSet
    assert(got == Set("a", "c"),
      s"only the definitively-true row may die, got survivors $got")
  }

  test("vacuum drops old versions but keeps every dir a retained snapshot shares") {
    val base = freshBase()
    // v1 writes p1+p2; v2 touches only p1; v3 touches only p1 again —
    // so v3 (the survivor) still references v1's p2 dir
    SnapshotStore.commit(spark, base,
      Seq(("a", "p1", 0L, 1L), ("b", "p2", 0L, 2L)).toDF("key", "part", "seq", "vc"))
    SnapshotStore.commit(spark, base,
      Seq(("a", "p1", 1L, 5L)).toDF("key", "part", "seq", "vc"))
    SnapshotStore.commit(spark, base,
      Seq(("a", "p1", 2L, 9L)).toDF("key", "part", "seq", "vc"))
    val before = SnapshotStore.readVersion(spark, base, 3)
      .collect().map(r => (r.getString(0), r.getLong(3))).toSet

    SnapshotStore.vacuum(spark, base, keepVersions = 1)

    // v3 still readable, byte-identical content
    val after = SnapshotStore.readVersion(spark, base, 3)
      .collect().map(r => (r.getString(0), r.getLong(3))).toSet
    assert(after == before && after == Set(("a", 9L), ("b", 2L)))
    assert(SnapshotStore.currentVersion(spark, base) == 3)
    // dropped versions fail loudly
    intercept[IllegalArgumentException] { SnapshotStore.readVersion(spark, base, 1) }
    intercept[IllegalArgumentException] { SnapshotStore.readVersion(spark, base, 2) }
    // v2's p1 dir (referenced by nothing retained) is physically gone;
    // v1's p2 dir (shared into v3) survives
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m3 = SnapshotStore.readManifest(spark, base, 3)
    val live = fs.globStatus(new org.apache.hadoop.fs.Path(s"$base/data/*/part=*"))
      .map(_.getPath.toUri.getPath).toSet
    assert(live == m3.values.map(d =>
      new org.apache.hadoop.fs.Path(d).toUri.getPath).toSet,
      s"exactly the retained manifest's dirs may remain, got $live")
  }

  test("merge updates, deletes, inserts, and carries the rest forward") {
    val base = freshBase()
    SnapshotStore.commit(spark, base, Seq(
      ("a", "p1", 0L, 10L), ("b", "p1", 0L, 20L), ("c", "p1", 0L, 30L),
      ("d", "p2", 0L, 40L)).toDF("key", "part", "seq", "vc"))
    // source: update a (+5), delete b (marker vc = -1), insert e; p2 untouched
    val src = Seq(("a", "p1", 1L, 5L), ("b", "p1", 1L, -1L), ("e", "p1", 1L, 50L))
      .toDF("key", "part", "seq", "vc")
    val v = SnapshotStore.merge(spark, base, src,
      matchedDelete = col("s.vc") === -1L,
      matchedUpdateVc = col("t.vc") + col("s.vc"))
    assert(v == 2)
    val got = SnapshotStore.readVersion(spark, base, 2)
      .collect().map(r => (r.getString(0), r.getLong(3))).toSet
    assert(got == Set(("a", 15L), ("c", 30L), ("d", 40L), ("e", 50L)),
      s"update/delete/insert/carry-forward: $got")
    // the untouched partition physically inherits; v1 is unharmed
    val m1 = SnapshotStore.readManifest(spark, base, 1)
    val m2 = SnapshotStore.readManifest(spark, base, 2)
    assert(m1("p2") == m2("p2"), "untouched partition must share its dir")
    assert(SnapshotStore.readVersion(spark, base, 1).count() == 4)
    // a NULL matchedDelete is NOT a delete (SQL three-valued semantics)
    val v3 = SnapshotStore.merge(spark, base,
      Seq(("a", "p1", 2L, 1L)).toDF("key", "part", "seq", "vc"),
      matchedDelete = expr("nullif(s.vc, 1) = 2"),
      matchedUpdateVc = col("t.vc") + col("s.vc"))
    val a3 = SnapshotStore.readVersion(spark, base, v3)
      .where(col("key") === "a").collect().map(_.getLong(3))
    assert(a3.toSeq == Seq(16L), s"NULL delete clause must fall through to update: ${a3.toSeq}")
  }

  test("merge into an empty store (or new partition) inserts everything") {
    val base = freshBase()
    SnapshotStore.commit(spark, base, Seq(("a", "p1", 0L, 1L)).toDF("key", "part", "seq", "vc"))
    val v = SnapshotStore.merge(spark, base,
      Seq(("x", "p9", 0L, 7L), ("y", "p9", 0L, 8L)).toDF("key", "part", "seq", "vc"),
      matchedDelete = lit(false), matchedUpdateVc = col("s.vc"))
    val got = SnapshotStore.readVersion(spark, base, v)
      .collect().map(r => (r.getString(0), r.getLong(3))).toSet
    assert(got == Set(("a", 1L), ("x", 7L), ("y", 8L)), s"$got")
  }

  test("changes classifies insert/delete/update and skips identical rewrites") {
    val base = freshBase()
    SnapshotStore.commit(spark, base, Seq(
      ("a", "p1", 0L, 10L), ("b", "p1", 0L, 20L), ("c", "p1", 0L, 30L),
      ("d", "p2", 0L, 40L)).toDF("key", "part", "seq", "vc"))
    SnapshotStore.merge(spark, base,
      Seq(("a", "p1", 1L, 5L), ("b", "p1", 1L, -1L), ("e", "p1", 1L, 50L))
        .toDF("key", "part", "seq", "vc"),
      matchedDelete = col("s.vc") === -1L,
      matchedUpdateVc = col("t.vc") + col("s.vc"))
    val got = SnapshotStore.changes(spark, base, 1, 2)
      .collect().map(r => (r.getString(0), r.getString(2), r.getLong(4))).toSet
    assert(got == Set(
      ("a", "update_preimage", 10L), ("a", "update_postimage", 15L),
      ("b", "delete", 20L), ("e", "insert", 50L)),
      s"c (identical rewrite) and d (untouched partition) must not appear: $got")
  }

  test("value-carrying changes: images hold each side's values, evolution reads NULL") {
    val base = freshBase()
    // v1 carries value column `a`; v2's batch evolves in `b` and
    // updates x, inserts z; v3 deletes y — every CDF branch with values
    SnapshotStore.commit(spark, base, Seq(
      ("x", "p1", 0L, 1L, "xa"), ("y", "p1", 0L, 2L, "ya"))
      .toDF("key", "part", "seq", "vc", "a"))
    SnapshotStore.commit(spark, base, Seq(
      ("x", "p1", 1L, 1L, "xa2", 7L), ("z", "p1", 1L, 3L, "za", 8L))
      .toDF("key", "part", "seq", "vc", "a", "b"))
    SnapshotStore.delete(spark, base, Seq("p1"), col("key") === "y")

    val d12 = SnapshotStore.changes(spark, base, 1, 2, withValues = true)
      .collect().map(r => (r.getString(0), r.getString(2),
        r.getString(r.fieldIndex("a")),
        Option(r.get(r.fieldIndex("b"))).map(_.asInstanceOf[Long]))).toSet
    assert(d12 == Set(
      ("x", "update_preimage", "xa", None), // b predates v1's schema -> NULL
      ("x", "update_postimage", "xa2", Some(7L)),
      ("z", "insert", "za", Some(8L))), s"got $d12")

    val d23 = SnapshotStore.changes(spark, base, 2, 3, withValues = true)
      .collect().map(r => (r.getString(0), r.getString(2),
        r.getString(r.fieldIndex("a")))).toSet
    assert(d23 == Set(("y", "delete", "ya")), s"got $d23")

    // plain changes keeps its historical 5-column surface
    assert(SnapshotStore.changes(spark, base, 1, 2).columns.toSeq ==
      Seq("key", "part", "change_type", "seq", "vc"))
  }

  test("a user value column named `seg` survives snapshot reads (internal name is reserved)") {
    val base = freshBase()
    SnapshotStore.commit(spark, base, Seq(
      ("k1", "p1", 0L, 1L, "BUILDING"), ("k2", "p2", 0L, 2L, "AUTO"))
      .toDF("key", "part", "seq", "vc", "seg"))
    val got = SnapshotStore.readVersion(spark, base, 1)
      .collect().map(r => (r.getString(0), r.getString(r.fieldIndex("seg")))).toSet
    assert(got == Set(("k1", "BUILDING"), ("k2", "AUTO")), s"got $got")
  }

  test("compact collapses to one file per partition, content-identical, prior version intact") {
    val base = freshBase()
    // spread rows over several write tasks so v1 has multiple files/part
    // (AQE would coalesce this tiny shuffle to one task — disable it for
    // the seed commit to reproduce the many-tasks layout of a real run)
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val oldCoalesce = spark.conf.get(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    try SnapshotStore.commit(spark, base,
      spark.range(200).selectExpr("CAST(id AS STRING) AS key",
        "CASE WHEN id % 2 = 0 THEN 'p1' ELSE 'p2' END AS part",
        "CAST(0 AS BIGINT) AS seq", "id AS vc").repartition(8))
    finally spark.conf.set(coalesceKey, oldCoalesce)
    val before = SnapshotStore.readVersion(spark, base, 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(3))).toSet
    def filesPerPart(v: Int): Map[String, Int] = {
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      SnapshotStore.readManifest(spark, base, v).map { case (p, dir) =>
        p -> fs.listStatus(new org.apache.hadoop.fs.Path(dir))
          .count(_.getPath.getName.endsWith(".parquet"))
      }
    }
    assert(filesPerPart(1).values.forall(_ > 1), s"need a fragmented v1: ${filesPerPart(1)}")
    val v = SnapshotStore.compact(spark, base)
    assert(v == 2)
    assert(filesPerPart(2).values.forall(_ == 1), s"compacted: ${filesPerPart(2)}")
    val after = SnapshotStore.readVersion(spark, base, 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(3))).toSet
    assert(after == before, "compaction must not change content")
    assert(SnapshotStore.readVersion(spark, base, 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(3))).toSet == before,
      "v1 must remain readable and identical")
  }

  test("schema evolution: new columns surface as NULL on old rows, old snapshots unchanged") {
    val base = freshBase()
    SnapshotStore.commit(spark, base,
      Seq(("a", "p1", 0L, 1L), ("b", "p2", 0L, 2L)).toDF("key", "part", "seq", "vc"))
    // v2 evolves: p2's row gains a `score` column (and a vc bump to win)
    SnapshotStore.commit(spark, base,
      Seq(("b", "p2", 1L, 20L, 7L)).toDF("key", "part", "seq", "vc", "score"))
    val v1 = SnapshotStore.readVersion(spark, base, 1)
    assert(!v1.columns.contains("score"), "v1 predates the column — it must be absent")
    val v2 = SnapshotStore.readVersion(spark, base, 2)
    assert(v2.columns.toSeq == Seq("key", "part", "seq", "vc", "score"))
    val rows = v2.collect().map(r =>
      r.getString(0) -> (r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4)))).toMap
    assert(rows == Map("a" -> (1L, None), "b" -> (20L, Some(7L))), rows.toString)
    // a delete rewrite must carry the evolved column through
    SnapshotStore.delete(spark, base, Seq("p2"), col("vc") > 100)
    val v3 = SnapshotStore.readVersion(spark, base, 3)
      .collect().map(r =>
        r.getString(0) -> (if (r.isNullAt(4)) None else Some(r.getLong(4)))).toMap
    assert(v3 == Map("a" -> None, "b" -> Some(7L)),
      s"evolved column lost in a delete rewrite: $v3")
  }

  test("incremental view refresh equals recompute across all four CDF branches") {
    val base = freshBase()
    SnapshotStore.commit(spark, base, Seq(
      ("a", "p1", 0L, 10L), ("b", "p1", 0L, 20L), ("c", "p2", 0L, 30L),
      ("d", "p3", 0L, 40L), ("x", "p4", 0L, 7L)).toDF("key", "part", "seq", "vc"))
    // one merge exercises every CDF branch: delete a (p1), update b
    // (p1, +5), insert e (p2), delete p4's only row; p3 untouched
    SnapshotStore.merge(spark, base, Seq(
      ("a", "p1", 1L, -1L), ("b", "p1", 1L, 5L),
      ("e", "p2", 1L, 50L), ("x", "p4", 1L, -1L)).toDF("key", "part", "seq", "vc"),
      matchedDelete = col("s.vc") === -1L,
      matchedUpdateVc = col("t.vc") + col("s.vc"))
    val mv = SnapshotStore.readVersion(spark, base, 1)
      .groupBy("part").agg(count(lit(1)).as("n"), sum("vc").as("total"))
    val refreshed = graft.rel.AnalyticsQueries.refreshCountSumView(spark, base, mv, 1, 2)
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    val recomputed = SnapshotStore.readVersion(spark, base, 2)
      .groupBy("part").agg(count(lit(1)).as("n"), sum("vc").as("total"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(refreshed == recomputed, s"refresh $refreshed != recompute $recomputed")
    assert(!refreshed.contains("p4"), "a partition refreshed to empty must leave the view")
    assert(refreshed("p1") == ((1L, 25L)), refreshed.toString)
    // the refresh must never OPEN the untouched partition: the manifest
    // diff prunes p3 before any file is read
    val opened = SnapshotStore.changes(spark, base, 1, 2).inputFiles.mkString("\n")
    assert(!opened.contains("part=p3"), s"untouched partition read during refresh:\n$opened")
  }

  test("restore rolls back manifest-only, preserves history, and is itself restorable") {
    val base = freshBase()
    SnapshotStore.commit(spark, base,
      Seq(("a", "p1", 0L, 1L), ("b", "p2", 0L, 2L)).toDF("key", "part", "seq", "vc"))
    SnapshotStore.commit(spark, base,
      Seq(("a", "p1", 1L, 99L), ("c", "p3", 0L, 3L)).toDF("key", "part", "seq", "vc"))
    assert(SnapshotStore.restore(spark, base, 1) == 3)
    def state(v: Int) = SnapshotStore.readVersion(spark, base, v)
      .collect().map(r => (r.getString(0), r.getLong(3))).toSet
    assert(state(3) == Set(("a", 1L), ("b", 2L)), "restored state must equal v1")
    assert(state(2) == Set(("a", 99L), ("b", 2L), ("c", 3L)),
      "rolled-over v2 must stay readable")
    // manifest-only: v3 points at v1's exact directories (zero copy)
    assert(SnapshotStore.readManifest(spark, base, 3) ==
      SnapshotStore.readManifest(spark, base, 1))
    // a restore is a normal version: restoring to v2 undoes the rollback
    assert(SnapshotStore.restore(spark, base, 2) == 4)
    assert(state(4) == state(2))
    // out-of-range target fails loudly
    intercept[IllegalArgumentException](SnapshotStore.restore(spark, base, 9))
  }

  test("shallow clone shares dirs zero-copy and evolves independently") {
    val base = freshBase()
    val cb = freshBase()
    SnapshotStore.commit(spark, base,
      Seq(("a", "p1", 0L, 1L), ("b", "p2", 0L, 2L)).toDF("key", "part", "seq", "vc"))
    SnapshotStore.commit(spark, base,
      Seq(("a", "p1", 1L, 10L)).toDF("key", "part", "seq", "vc"))
    assert(SnapshotStore.shallowClone(spark, base, cb) == 1)
    // zero copy: the clone's manifest references the SOURCE's dirs
    assert(SnapshotStore.readManifest(spark, cb, 1)
      == SnapshotStore.readManifest(spark, base, 2))
    // independent evolution: a clone commit must not move the source
    SnapshotStore.commit(spark, cb,
      Seq(("b", "p2", 2L, 99L)).toDF("key", "part", "seq", "vc"))
    val cloneNow = SnapshotStore.readVersion(spark, cb, 2)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toSet
    assert(cloneNow == Set("a" -> 10L, "b" -> 99L), cloneNow.toString)
    val srcNow = SnapshotStore.readVersion(spark, base, 2)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toSet
    assert(srcNow == Set("a" -> 10L, "b" -> 2L),
      s"clone commit leaked into the source: $srcNow")
    // and the clone's new dir lives under the CLONE's base, so
    // vacuuming the clone can never touch shared source dirs
    val p2dir = SnapshotStore.readManifest(spark, cb, 2)("p2")
    assert(p2dir.startsWith(cb), p2dir)
    intercept[IllegalArgumentException] {
      SnapshotStore.shallowClone(spark, base, cb) // target not empty
    }
  }

  test("source vacuum spares dirs a registered clone references; force overrides") {
    val base = freshBase()
    val cb = freshBase()
    // v1 writes p1+p2; v2 rewrites p1 — so after vacuum(keep=1) only
    // v2's dirs are manifest-referenced, but the clone (taken at v1)
    // still needs v1's p1 dir
    SnapshotStore.commit(spark, base,
      Seq(("a", "p1", 0L, 1L), ("b", "p2", 0L, 2L)).toDF("key", "part", "seq", "vc"))
    SnapshotStore.shallowClone(spark, base, cb)
    SnapshotStore.commit(spark, base,
      Seq(("a", "p1", 1L, 10L)).toDF("key", "part", "seq", "vc"))
    SnapshotStore.vacuum(spark, base, keepVersions = 1)
    // the clone still reads IN FULL — including the dir only it pins
    val cloneRows = SnapshotStore.readVersion(spark, cb, 1)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toSet
    assert(cloneRows == Set("a" -> 1L, "b" -> 2L),
      s"source vacuum corrupted the clone: $cloneRows")
    // and the source itself is unaffected
    val srcRows = SnapshotStore.readVersion(spark, base, 2)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toSet
    assert(srcRows == Set("a" -> 10L, "b" -> 2L), srcRows.toString)
    // releasing the registration (clone retired) lets a vacuum reclaim
    assert(SnapshotStore.dropCloneRegistration(spark, base, cb) == 1)
    SnapshotStore.vacuum(spark, base, keepVersions = 1)
    intercept[Exception] { // the pinned dir is gone now
      SnapshotStore.readVersion(spark, cb, 1).collect()
    }
  }

  test("forced vacuum ignores clone registrations") {
    val base = freshBase()
    val cb = freshBase()
    SnapshotStore.commit(spark, base,
      Seq(("a", "p1", 0L, 1L)).toDF("key", "part", "seq", "vc"))
    SnapshotStore.shallowClone(spark, base, cb)
    SnapshotStore.commit(spark, base,
      Seq(("a", "p1", 1L, 2L)).toDF("key", "part", "seq", "vc"))
    SnapshotStore.vacuum(spark, base, keepVersions = 1, force = true)
    intercept[Exception] {
      SnapshotStore.readVersion(spark, cb, 1).collect()
    }
  }

  test("reading a nonexistent version fails loudly") {
    val base = freshBase()
    intercept[IllegalArgumentException] {
      SnapshotStore.readVersion(spark, base, 1)
    }
    SnapshotStore.commit(spark, base, Seq(("a", "p", 0L, 1L)).toDF("key", "part", "seq", "vc"))
    intercept[IllegalArgumentException] {
      SnapshotStore.readVersion(spark, base, 2)
    }
  }

  private def kv(base: String, v: Int): Set[(String, Long)] =
    SnapshotStore.readVersion(spark, base, v)
      .collect().map(r => (r.getString(0), r.getLong(3))).toSet

  test("deletion vector hides rows without rewriting any data dir") {
    val base = freshBase()
    SnapshotStore.commit(spark, base,
      Seq(("a", "p1", 0L, 1L), ("b", "p1", 0L, 2L), ("c", "p2", 0L, 3L))
        .toDF("key", "part", "seq", "vc"))
    val m1 = SnapshotStore.readManifest(spark, base, 1)
    assert(SnapshotStore.deleteRowsDv(spark, base,
      Seq(("a", "p1"), ("c", "p2")).toDF("key", "part")) == 2)
    val m2 = SnapshotStore.readManifest(spark, base, 2)
    // every DATA pointer identical — the delete wrote only the sidecar
    assert((m2 - SnapshotStore.DvKey) == m1,
      "a DV delete must not move any partition directory")
    assert(m2.contains(SnapshotStore.DvKey))
    assert(kv(base, 2) == Set(("b", 2L)))
    // time travel to v1 still sees everything
    assert(kv(base, 1) == Set(("a", 1L), ("b", 2L), ("c", 3L)))
  }

  test("a commit re-inserting a DV'd key clears it from the vector") {
    val base = freshBase()
    SnapshotStore.commit(spark, base,
      Seq(("a", "p", 0L, 1L), ("b", "p", 0L, 2L)).toDF("key", "part", "seq", "vc"))
    SnapshotStore.deleteRowsDv(spark, base,
      Seq(("a", "p"), ("b", "p")).toDF("key", "part"))
    SnapshotStore.commit(spark, base,
      Seq(("a", "p", 1L, 100L)).toDF("key", "part", "seq", "vc"))
    // a resurfaces with its new value; b stays deleted
    assert(kv(base, 3) == Set(("a", 100L)))
    // clearing the LAST key drops the DV entry entirely
    SnapshotStore.commit(spark, base,
      Seq(("b", "p", 2L, 200L)).toDF("key", "part", "seq", "vc"))
    val m4 = SnapshotStore.readManifest(spark, base, 4)
    assert(!m4.contains(SnapshotStore.DvKey),
      "an emptied deletion vector must leave the manifest")
    assert(kv(base, 4) == Set(("a", 100L), ("b", 200L)))
  }

  test("compact materializes DV deletes and drops the sidecar") {
    val base = freshBase()
    SnapshotStore.commit(spark, base,
      Seq(("a", "p1", 0L, 1L), ("b", "p1", 0L, 2L), ("c", "p2", 0L, 3L))
        .toDF("key", "part", "seq", "vc"))
    SnapshotStore.deleteRowsDv(spark, base, Seq(("a", "p1")).toDF("key", "part"))
    val v3 = SnapshotStore.compact(spark, base)
    val m3 = SnapshotStore.readManifest(spark, base, v3)
    assert(!m3.contains(SnapshotStore.DvKey),
      "compaction must rematerialize deletes physically")
    assert(kv(base, v3) == Set(("b", 2L), ("c", 3L)))
  }

  test("CDF across a DV delete reports the deletions") {
    val base = freshBase()
    SnapshotStore.commit(spark, base,
      Seq(("a", "p1", 0L, 1L), ("b", "p1", 0L, 2L), ("c", "p2", 0L, 3L))
        .toDF("key", "part", "seq", "vc"))
    SnapshotStore.deleteRowsDv(spark, base, Seq(("a", "p1")).toDF("key", "part"))
    val ch = SnapshotStore.changes(spark, base, 1, 2)
      .collect().map(r => (r.getString(0), r.getString(2))).toSet
    assert(ch == Set(("a", "delete")), s"got $ch")
  }

  test("vacuum keeps a referenced DV sidecar and sweeps an orphaned one") {
    val base = freshBase()
    SnapshotStore.commit(spark, base,
      Seq(("a", "p", 0L, 1L), ("b", "p", 0L, 2L)).toDF("key", "part", "seq", "vc"))
    SnapshotStore.deleteRowsDv(spark, base, Seq(("a", "p")).toDF("key", "part"))
    val dvDir1 = SnapshotStore.readManifest(spark, base, 2)(SnapshotStore.DvKey)
    SnapshotStore.deleteRowsDv(spark, base, Seq(("b", "p")).toDF("key", "part"))
    val dvDir2 = SnapshotStore.readManifest(spark, base, 3)(SnapshotStore.DvKey)
    SnapshotStore.vacuum(spark, base, keepVersions = 1)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(dvDir2)),
      "the current version's DV must survive vacuum")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dvDir1)),
      "an unreferenced DV sidecar must be swept")
    assert(kv(base, 3) == Set.empty)
  }

  test("a shallow clone of a DV'd store applies the vector") {
    val base = freshBase()
    val cloneBase = freshBase() + "_clone"
    SnapshotStore.commit(spark, base,
      Seq(("a", "p", 0L, 1L), ("b", "p", 0L, 2L)).toDF("key", "part", "seq", "vc"))
    SnapshotStore.deleteRowsDv(spark, base, Seq(("a", "p")).toDF("key", "part"))
    SnapshotStore.shallowClone(spark, base, cloneBase)
    assert(kv(cloneBase, 1) == Set(("b", 2L)))
  }

  test("zone map prunes non-overlapping partitions at the manifest level") {
    val base = freshBase()
    // three partitions with disjoint vc bands
    SnapshotStore.commit(spark, base, Seq(
      ("a", "p1", 0L, 100L), ("b", "p1", 0L, 199L),
      ("c", "p2", 0L, 200L), ("d", "p2", 0L, 299L),
      ("e", "p3", 0L, 300L), ("f", "p3", 0L, 399L))
      .toDF("key", "part", "seq", "vc"))
    val stats = SnapshotStore.readStats(spark, base, 1)
    assert(stats == Map("p1" -> (100L, 199L), "p2" -> (200L, 299L),
      "p3" -> (300L, 399L)))
    val df = SnapshotStore.readVersionVcRange(spark, base, 1, 200L, 250L)
    // pre-scan pruning: the relation itself excludes p1/p3 dirs, so
    // even the PRE-pruning file listing shows only p2's files
    assert(df.inputFiles.forall(_.contains("part=p2")),
      s"files: ${df.inputFiles.mkString(",")}")
    assert(df.collect().map(_.getString(0)).toSet == Set("c"))
  }

  test("zone map inherits untouched partitions and refreshes touched ones") {
    val base = freshBase()
    SnapshotStore.commit(spark, base, Seq(
      ("a", "p1", 0L, 10L), ("b", "p2", 0L, 20L)).toDF("key", "part", "seq", "vc"))
    SnapshotStore.commit(spark, base, Seq(
      ("a2", "p1", 0L, 15L)).toDF("key", "part", "seq", "vc"))
    val s2 = SnapshotStore.readStats(spark, base, 2)
    assert(s2("p2") == (20L, 20L), "untouched partition stats inherit")
    assert(s2("p1") == (10L, 15L),
      "touched partition stats cover old AND carried-forward rows")
  }

  test("a version without stats reads conservatively but correctly") {
    val base = freshBase()
    SnapshotStore.commit(spark, base, Seq(
      ("a", "p1", 0L, 10L), ("b", "p2", 0L, 20L)).toDF("key", "part", "seq", "vc"))
    // delete() rewrites and does not maintain stats
    SnapshotStore.delete(spark, base, Seq("p1"), col("key") === "zzz")
    assert(SnapshotStore.readStats(spark, base, 2).isEmpty ||
      !SnapshotStore.readStats(spark, base, 2).contains("p1"))
    val got = SnapshotStore.readVersionVcRange(spark, base, 2, 15L, 25L)
      .collect().map(r => (r.getString(0), r.getLong(3))).toSet
    assert(got == Set(("b", 20L)), "unindexed partitions still filter exactly")
  }

  test("vacuum sweeps stats files with their manifests") {
    val base = freshBase()
    SnapshotStore.commit(spark, base,
      Seq(("a", "p", 0L, 1L)).toDF("key", "part", "seq", "vc"))
    SnapshotStore.commit(spark, base,
      Seq(("a", "p", 1L, 2L)).toDF("key", "part", "seq", "vc"))
    SnapshotStore.vacuum(spark, base, keepVersions = 1)
    assert(SnapshotStore.readStats(spark, base, 1).isEmpty,
      "v1 stats must die with the v1 manifest")
    assert(SnapshotStore.readStats(spark, base, 2)("p") == (2L, 2L))
  }
}
