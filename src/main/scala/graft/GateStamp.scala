package graft

/** Gen-slice stamp runner for streaming gates and other evidence-
  * bearing queries (r16 — the r15 verdict's items 5 and 7): runs named
  * queries against an explicit data dir, 3 laps each, and prints BOTH
  * the wall times and the drained-row evidence (row count + per-long-
  * column sums) so a zero-row silent drain can never read as a fast
  * lap — the r15 streaming-layout bug (pathGlobFilter matching no
  * files on directory-layout tables → 0.99 s "drain" of NOTHING) baked
  * into the measurement harness as a non-vacuity print.
  *
  * Usage: runMain graft.GateStamp <dir> <query...>
  * Protocol: run the JVM twice per cell and take the min of the warm
  * laps (run1 = cold/JIT), like TimeOne.
  */
object GateStamp {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: GateStamp <dir> <query...>")
    val dir = args(0)
    val names = args.drop(1).toSeq
    // fail on unknown names BEFORE any setup or lap runs — a typo must
    // not throw mid-run after earlier queries were already timed
    val unknown = names.filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(", ")} — known names are " +
        s"SparkEntry.queries keys (${SparkEntry.queries.size} registered)")
    val spark = Harness.session()
    // setups are timed and printed: for fixture-building gates (e.g.
    // the versioned-ingest streaming drain) the setup IS the scaling
    // evidence — a cold-cell run shows the build wall, a re-run shows
    // the fixture cache hit
    Harness.runSetups(spark, dir, SparkEntry.benchSetups.filter { case (n, _) => names.contains(n) })
      .foreach(r => if (r.failure.isEmpty) println(f"${r.name} setup: ${r.seconds}%.2f s"))
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      var evidence = ""
      val laps = (1 to 3).map { i =>
        val sec = RddHygiene.sweptAfter(spark, blocking = true) {
          val t0 = System.nanoTime()
          val df = fn(spark, dir)
          val rows = df.collect()
          val dt = (System.nanoTime() - t0) / 1e9
          if (i == 1) {
            val longCols = df.schema.fields.zipWithIndex.collect {
              case (f, idx) if f.dataType ==
                  org.apache.spark.sql.types.LongType => (f.name, idx)
            }
            val sums = longCols.map { case (n, idx) =>
              val s = rows.iterator.filterNot(_.isNullAt(idx)).map(_.getLong(idx)).sum
              s"sum($n)=$s"
            }
            evidence = (s"rows=${rows.length}" +: sums).mkString(", ")
          }
          dt
        }
        println(f"$name run$i: $sec%.2f s")
        sec
      }
      println(f"$name warm: ${laps.tail.min}%.2f s  [$evidence]")
    }
    spark.stop()
  }
}
