package perfbench

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.{RddHygiene, SparkEntry}

/** The `query_surface` workload: a fixed sample of `SparkEntry.queries`
  * (within each query family, every `Stride`-th name in sorted order, so
  * no query is hand-picked in or out and every family is measured), each
  * run through a noop sink with the `RddHygiene` sweep, as `graft.Bench`
  * runs them. Only the sampled queries' `SparkEntry.benchSetups` run as
  * set-up. One warm-up lap, then timed laps; the seed fixes the order of
  * the queries in each lap.
  */
object SurfaceBench {

  /** One timed query: name, monotonic start and end, wall-clock ms span,
    * output rows and the engine counters of the traced run.
    */
  final case class Exec(name: String, t0: Long, t1: Long, wallMs: (Long, Long), rows: Long, counts: Counts) {
    def seconds: Double = (t1 - t0) / 1e9
  }

  val Stride = 48

  /** Seconds one timed lap takes on a 4-core host: a run times
    * `--seconds / LapSeconds` laps, at least one.
    */
  val LapSeconds = 6.0

  /** The query families, by the modules that define the queries:
    * `rel` is every query no other family defines.
    */
  val Families: Seq[String] = Seq("tick", "rel", "text", "vec", "mm", "streaming")

  private lazy val familyDefs: Map[String, Set[String]] = {
    val named = Map(
      "tick" -> (graft.tick.TickQueries.defs.keySet ++ graft.tick.StoreQueries.defs.keySet),
      "text" -> (graft.text.TextQueries.defs.keySet ++ graft.text.CorpusQueries.defs.keySet ++
        graft.text.QualityClassifier.defs.keySet),
      "vec" -> (graft.vec.VecQueries.defs.keySet ++ graft.vec.VecAnalytics.defs.keySet),
      "mm" -> graft.mm.MmQueries.defs.keySet,
      "streaming" -> graft.streaming.StreamingQueries.defs.keySet)
    named + ("rel" -> (SparkEntry.queries.keySet -- named.values.flatten))
  }

  def family(name: String): String = Families.find(f => familyDefs(f).contains(name)).get

  /** Every `Stride`-th query of each family, by sorted name. */
  def sample: Seq[String] = Families.flatMap { f =>
    val names = familyDefs(f).toSeq.sorted
    names.indices.filter(_ % Stride == 0).map(names)
  }

  /** Expected output rows per sampled query on the bundled data. */
  def expectedRows(dataDir: String): Map[String, Long] = {
    val f = new java.io.File(dataDir, "rows.tsv")
    scala.io.Source.fromFile(f).getLines().filter(_.nonEmpty).map { l =>
      val Array(n, r) = l.split("\t"); n -> r.toLong
    }.toMap
  }

  def zeroFamilies(report: Report): Unit = Families.foreach { f =>
    report.put(s"surface.${f}_s", 0.0, "s", "ops_per_s on query_surface")
  }

  def run(spark: SparkSession, conf: Conf, sessionS: Double, report: Report): () => Unit = {
    val queries = SparkEntry.queries
    val setups = SparkEntry.benchSetups
    val names = sample
    val probe = if (conf.trace) Some(new Probe(spark)) else None
    probe.foreach(_.install())

    // set-up: the sampled queries' fixture builders, once, into this
    // run's own temp directory (fixtures are cached under it)
    val f0 = System.nanoTime()
    names.flatMap(setups.get).foreach(_(spark, conf.dataDir))
    val fixturesS = (System.nanoTime() - f0) / 1e9
    Log(f"fixtures built: $fixturesS%.2f s")
    probe.foreach(_.take())

    val expected = expectedRows(conf.dataDir)
    val rng = new java.util.Random(conf.seed)
    // timed like graft.Bench: building the query's plan, running it into
    // the noop sink, and the sweep of the RDDs it persisted
    def exec(name: String): Exec = {
      val obs = Observation()
      probe.foreach(_.take())
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      RddHygiene.sweptAfter(spark) {
        queries(name)(spark, conf.dataDir)
          .observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
      }
      val t1 = System.nanoTime()
      val w1 = System.currentTimeMillis()
      Exec(name, t0, t1, (w0, w1), obs.get("n").asInstanceOf[Long],
        probe.map(_.take()).getOrElse(Counts()))
    }
    def lap(): Seq[Exec] = scala.util.Random.javaRandomToRandom(rng).shuffle(names).map(exec)

    lap() // warm-up
    Log("warm-up lap done")
    val laps = math.max(1, math.round(conf.seconds / LapSeconds).toInt)
    val t0 = System.nanoTime()
    val timed = (1 to laps).flatMap { l =>
      val r = lap()
      Log(f"lap $l: ${r.map(_.seconds).sum}%.2f s: " + r.map(e => f"${e.name} ${e.seconds}%.3f").mkString(", "))
      r
    }
    val wall = (System.nanoTime() - t0) / 1e9
    // traced runs then run every query twice more, once with the listeners
    // muted, in alternating order: the pairs give the tracing overhead
    val pairs = probe.toSeq.flatMap { p =>
      names.zipWithIndex.map { case (n, i) =>
        def quiet() = { p.muted = true; try exec(n).seconds finally { p.muted = false; p.take() } }
        if (i % 2 == 0) { val q = quiet(); (exec(n).seconds, q) }
        else { val t = exec(n).seconds; (t, quiet()) }
      }
    }
    timed.foreach { e =>
      report.outcome(expected.get(e.name).contains(e.rows),
        s"${e.name} returned ${e.rows} rows, expected ${expected.getOrElse(e.name, "no entry")}")
    }
    if (!conf.trace) {
      report.put("setup_s", sessionS + fixturesS, "s")
      report.put("ops_per_s", timed.size / wall, "1/s")
      report.put("latency_p50_s", Stats.median(timed.map(_.seconds)), "s")
      report.put("latency_p90_s", Stats.percentile(timed.map(_.seconds), 90), "s")
    } else {
      timed.zipWithIndex.foreach { case (e, i) =>
        report.spans += Span(i, s"query.${e.name}", "", e.t0, e.t1)
      }
      Families.foreach { f =>
        report.put(s"surface.${f}_s", timed.filter(e => family(e.name) == f).map(_.seconds).sum / laps,
          "s", "ops_per_s on query_surface")
      }
      TickBench.TickLayers.foreach { case (name, unit) =>
        report.put(name, 0.0, unit, "none here: the tick layers do not run on query_surface")
      }
      report.put("trace.overhead_ratio", pairs.map(_._1).sum / pairs.map(_._2).sum,
        "ratio", "none: traced over untraced time of the same queries")
      report.put("setup.session_s", sessionS, "s", "setup_s")
      report.put("setup.store_ingest_s", 0.0, "s", "none here: tick_query only")
      report.put("setup.rollup_materialize_s", 0.0, "s", "none here: tick_query only")
      report.put("setup.maintenance_s", 0.0, "s", "none here: tick_query only")
      report.put("setup.fixtures_s", fixturesS, "s", "setup_s")
      Engine.put(report, timed.map(e => (e.seconds, e.counts, e.wallMs)))
    }
    () => ()
  }
}
