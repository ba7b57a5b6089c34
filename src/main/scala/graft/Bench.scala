package graft

/** Driver-run benchmark: times every contract query on
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * A full warm-up lap runs first so the timed lap measures plan
  * execution, not JVM/codegen warm-up: identical queries cost ~10s
  * during the first minute of a fresh JVM and ~0.3-1s at steady state
  * (compare `lap1_queries` with `queries`) — on a long-lived cluster
  * the steady-state number is the honest one.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    // GRAFT_BENCH_ONLY=a,b,c restricts the lap to named queries — for
    // targeted variance experiments; the driver's official run never
    // sets it (an unset var is the full surface)
    val only = sys.env.get("GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // store-building entries split fixture construction from the
    // measured query: setups run (and are timed) ONCE here, so both
    // laps below time query plans — a regression in a store read can
    // no longer hide inside rebuild noise, and vice versa. A failed
    // setup is a failure of the run: its query would otherwise rebuild
    // the fixture inside the timed laps
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    val setupRuns = Harness.runSetups(spark, sfDir, SparkEntry.benchSetups)
    failed ++= setupRuns.collect { case r if r.failure.isDefined => s"setup:${r.name}" }
    val setups = setupRuns.map(r => r.name -> r.seconds)
    // noop sink: forces evaluation of EVERY output column (a bare
    // count() lets the optimizer prune projection-only work away and
    // times a fiction). After each query, drop every persistent RDD
    // the query itself created: localCheckpoint blocks (the
    // levenshtein shingle table, graph edge pins, the LPA adjacency)
    // are registered as persistent and only evict on GC — across hundreds of
    // queries x 2 laps they accumulate in the block manager and
    // squeeze unified memory out from under big-shuffle queries
    // (observed: graph_closeness 2.9s warm -> 7.7s official; TimeOne
    // laps on graph_kcore INCREASING 3.1 -> 4.4 -> 12.9 inside one
    // JVM — the leak signature). The diff against the pre-query id
    // set exempts setup-built artifacts (IVF/PQ index caches), which
    // must survive across laps by design — every lazily-cached index
    // is therefore registered in benchSetups (see VecAnalytics).
    def exec(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      RddHygiene.sweptAfter(spark) {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
    def lap(recordFailures: Boolean): Seq[(String, Double)] = queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      try exec(fn) catch { case e: Throwable =>
        // a partial time for a throwing query would read as a phantom
        // speedup — record the failure visibly instead of hiding it
        if (recordFailures) failed += name
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      name -> (System.nanoTime() - t0) / 1e9
    }
    // warm-up lap (codegen + JIT + parquet footer cache) is timed too:
    // the cold/warm spread per query is the variance evidence for
    // judging official-bench swings on untouched code.
    // GRAFT_BENCH_LAPS=1 is the mid-round iteration fast path: one lap
    // (~half the wall clock), every query still exercised end-to-end,
    // failures still recorded — but single-lap times carry this
    // sandbox's 6-20x phantom swings, so CLOSING evidence (the numbers
    // a round is judged on) must stay the default two-lap pair.
    val singleLap = sys.env.get("GRAFT_BENCH_LAPS").contains("1")
    val cold = lap(recordFailures = singleLap)
    val results = if (singleLap) cold else lap(recordFailures = true)
    def json(rs: Seq[(String, Any)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val coldTotal = if (cold.nonEmpty) cold.map(_._2).sum else 0.0
    // per-query min(lap1, lap2): single-lap reads in this sandbox show
    // 6-20x phantom swings on identical code (GC/THP noise); the min of
    // two laps is the steadier per-query estimator for regression reads
    val coldMap = cold.toMap
    val minLap = results.map { case (k, v) => k -> math.min(v, coldMap.getOrElse(k, v)) }
    val minTotal = if (minLap.nonEmpty) minLap.map(_._2).sum else 0.0
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val setupTotal = if (setups.nonEmpty) setups.map(_._2).sum else 0.0
    // provenance stamps: (i) "partial":true marks any GRAFT_BENCH_ONLY /
    // single-lap run so an experimental BENCH_LAST.json can never be
    // mistaken for (or silently overwrite the meaning of) closing
    // evidence — the driver and humans reject partial files on sight;
    // (ii) the ACTUAL heap ceiling the JVM ran with, because the 24g
    // build.sbt default is overridable via SPARK_DRIVER_MEM and an 8g
    // run GC-thrashes local[32] into 3-10x per-query phantom swings
    // (round-10 root cause) — any future variance excursion is
    // attributable, or ruled out, from the artifact alone
    val partial = only.nonEmpty || singleLap
    val heapMb = Runtime.getRuntime.maxMemory() / (1024L * 1024L)
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${json(results)},"failed":$failedJson,"sf":"$sfDir","lap1_total":$coldTotal,"lap1_queries":${json(cold)},"min_total":$minTotal,"min_queries":${json(minLap)},"setup_total":$setupTotal,"setup_sec":${json(setups)},"setup_built":${json(setupRuns.map(r => r.name -> r.built))},"partial":$partial,"laps":${if (singleLap) 1 else 2},"cpus":"${Harness.cpus}","heap_max_mb":$heapMb}"""
    // r19 measurement-contract fix (OPTIMIZATION_r19.md §bench-line):
    // at 357 queries the full line above is ~25 KB — four per-query
    // maps — and a launcher that keeps only a bounded tail of stdout
    // truncates it mid-line and parses nothing (BENCH_r17/r18:
    // rc=0 but parsed:null). The FINAL stdout line is therefore a
    // short summary (same metric/value/unit/sf/failed provenance,
    // well under any sane tail window); the complete per-query line
    // is still printed (first) and persisted in BENCH_LAST.json.
    val shortLine =
      s"""{"metric":"total","value":$total,"unit":"sec","failed":$failedJson,"sf":"$sfDir","lap1_total":$coldTotal,"min_total":$minTotal,"setup_total":$setupTotal,"partial":$partial,"laps":${if (singleLap) 1 else 2},"cpus":"${Harness.cpus}","heap_max_mb":$heapMb,"n_queries":${results.size},"queries_file":"BENCH_LAST.json"}"""
    // stop FIRST so the JSON is this process's final stdout output (a
    // launcher that reads the tail shouldn't trip over shutdown noise),
    // and drop file copies as a parse-proof fallback: a launcher such
    // as sbt still prints its own lines after the process's last one
    spark.stop()
    Seq("BENCH_LAST.json" -> line, "BENCH_SUMMARY.json" -> shortLine).foreach {
      case (file, text) =>
        try java.nio.file.Files.write(
          java.nio.file.Paths.get(file), (text + "\n").getBytes("UTF-8"))
        catch { case _: Throwable => () }
    }
    println(line)
    println(shortLine)
  }
}
