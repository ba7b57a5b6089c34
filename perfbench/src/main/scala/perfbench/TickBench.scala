package perfbench

import java.io.File
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, element_at, get_json_object, lit, map}

import graft.Tables
import graft.tick.{GroupSpec, GroupUnit, Rollup, TickApi, TickHttpServer, TickQuery, TickStore}

/** The `tick_query` workload, driven over HTTP through `TickHttpServer`.
  *
  * Set-up builds a store from the first `days` days of the events table
  * (one index per `event_type`, fields `value` and `k`, rollups
  * materialized), then runs one maintenance step through the write
  * paths: a POST that merges new points and re-sent timestamps into an
  * existing day (read-back, last write wins, rollup refresh) and a range
  * DELETE that rewrites one day and drops the next. The measured phase
  * is a seeded read mix from two closed-loop clients; no write runs in
  * it. Every answer is checked against the events the store was built
  * from.
  */
object TickBench {

  val Db = "db"
  val DayNs: Long = 86400L * 1000000000L
  val HourNs: Long = 3600L * 1000000000L
  /** Day 0 of the events table: 2024-01-01 UTC. */
  val Day0Ns: Long = 19723L * DayNs
  val Reducers: Vector[String] = Vector("sum", "max", "min", "first", "last", "count", "avg")
  /** Bytes of user data per point: the ns key and two double fields. */
  val UserBytesPerPoint = 24L

  private val mapper = new ObjectMapper()

  /** Per-layer metrics of the tick layers, with their units; the
    * surface workload reports them as 0 (layer not exercised).
    */
  val TickLayers: Seq[(String, String)] = Seq(
    "http.overhead_s" -> "s", "http.rollup_p50_s" -> "s", "http.raw_p50_s" -> "s",
    "http.get_p50_s" -> "s", "http.ingest_p50_s" -> "s", "api.render_s" -> "s",
    "api.rows_per_query" -> "count", "rollup.routed_share" -> "ratio", "rollup.query_s" -> "s",
    "store.raw_query_s" -> "s", "store.get_s" -> "s", "store.ingest_s_per_ingest" -> "s",
    "store.ingest_jobs_per_ingest" -> "count", "rollup.refresh_s_per_ingest" -> "s",
    "rollup.refresh_jobs_per_ingest" -> "count", "store.delete_s" -> "s",
    "store.bytes_written_per_user_byte" -> "ratio", "store.points_per_s" -> "1/s",
    "store.space_amp" -> "ratio", "store.files_per_partition" -> "count", "rollup.files" -> "count")

  final case class Pt(ns: Long, value: Double, k: Double)
  type Data = Map[String, Vector[Pt]]

  /** Work per run: days of events in the store, warm-up ops, measured
    * ops per second of `--seconds` (a fixed count, so runs of one seed
    * do identical work), and the reads the traced run replays.
    */
  final case class Size(days: Int, warmOps: Int, opsPerSecond: Double, tracedOps: Int)

  private def size(conf: Conf): Size =
    if (conf.smoke) Size(3, 4, 0.4, 4) else Size(10, 40, 4.0, 16)

  // ---- input data ----

  /** The events table as a tick ingest batch, mapped as the store
    * fixtures of `graft.tick.StoreQueries` map it: index = event_type,
    * value = {"value": value, "k": props.k}, seq = event_id.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      col("event_type").as("index"),
      col("ts_ns"),
      map(
        lit("value"), col("value"),
        lit("k"), get_json_object(col("props"), "$.k").cast("double")).as("value"),
      col("event_id").as("seq"))

  /** The batch's points per index, sorted by ns. */
  def points(batch: DataFrame): Data =
    batch.select(col("index"), col("ts_ns"), element_at(col("value"), "value"), element_at(col("value"), "k"))
      .collect().toVector
      .map(r => r.getString(0) -> Pt(r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .groupBy(_._1).map { case (index, pts) => index -> pts.map(_._2).sortBy(_.ns) }

  def dayNs(d: Int): Long = Day0Ns + d * DayNs

  private def dayOf(ns: Long): Int = Math.floorDiv(ns - Day0Ns, DayNs).toInt

  // ---- set-up ----

  final case class Built(store: TickStore, ingestS: Double, materializeS: Double)

  /** Store the batch with one ingest, then materialize the rollups. */
  def build(spark: SparkSession, root: String, batch: DataFrame): Built = {
    val store = new TickStore(root)
    store.createDb(spark, Db)
    val t0 = System.nanoTime()
    store.ingest(spark, Db, batch)
    val t1 = System.nanoTime()
    Rollup.materialize(spark, store, Db)
    val t2 = System.nanoTime()
    Log(f"store built: ingest ${(t1 - t0) / 1e9}%.2f s, materialize ${(t2 - t1) / 1e9}%.2f s")
    Built(store, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  // ---- ops ----

  sealed trait Direct
  final case class DirectQuery(json: String) extends Direct
  final case class DirectGet(index: String, ns: Long) extends Direct

  /** A request, the same call made below HTTP (reads only), and the
    * check of its answer (None when the answer is right).
    */
  final case class Op(kind: String, req: Req, direct: Option[Direct], check: Resp => Option[String])

  private def iso(ns: Long): String =
    Instant.ofEpochSecond(Math.floorDiv(ns, 1000000000L), Math.floorMod(ns, 1000000000L)).toString

  private def queryJson(index: String, from: String, to: String, group: Option[String],
      fields: Seq[(String, String)]): String = {
    val n = mapper.createObjectNode()
    n.put("index", index)
    n.put("from", from)
    n.put("to", to)
    group.foreach(g => n.put("group", g))
    val f = n.putObject("fields")
    fields.foreach { case (name, red) => f.putObject(name).put("reducer", red) }
    mapper.writeValueAsString(n)
  }

  private def pickFields(rng: SplittableRandom): Seq[(String, String)] = {
    def red() = Reducers(rng.nextInt(Reducers.size))
    rng.nextInt(3) match {
      case 0 => Seq("value" -> red())
      case 1 => Seq("k" -> red())
      case _ => Seq("value" -> red(), "k" -> red())
    }
  }

  private def status(want: Int)(r: Resp): Option[String] =
    if (r.status == want) None else Some(s"status ${r.status}: ${r.body.take(300)}")

  private def checked(r: Resp)(body: => Option[String]): Option[String] =
    status(200)(r).orElse(scala.util.Try(body).fold(e => Some(s"unreadable answer: $e"), identity))

  /** (bucket or point ns, field values) rows of a `_query` response. */
  private def wireRows(body: String, fields: Seq[String]): Vector[(Long, Vector[Double])] =
    mapper.readTree(body).elements().asScala.map { n =>
      val v = n.get("Value")
      (n.get("Timestamp").asLong, fields.map(f => v.get(f).asDouble).toVector)
    }.toVector

  private def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))

  private def sameRows(got: Vector[(Long, Vector[Double])], want: Vector[(Long, Vector[Double])],
      exact: Boolean): Option[String] =
    if (got.size != want.size) Some(s"${got.size} rows, expected ${want.size}")
    else got.zip(want).collectFirst {
      case ((gt, gv), (wt, wv)) if gt != wt || gv.size != wv.size ||
          gv.zip(wv).exists { case (a, b) => if (exact) a != b else !close(a, b) } =>
        s"row at $gt: got $gv, expected row at $wt: $wv"
    }

  // ---- expected answers, computed from the stored points ----

  /** Bucket start (ns) of a point, as `GroupSpec.bucket` computes it on
    * the point's microsecond timestamp.
    */
  private def bucketNs(ns: Long, g: GroupSpec): Long = {
    val us = Math.floorDiv(ns, 1000L)
    def monthStart(m: Long): Long =
      LocalDate.of(1970 + Math.floorDiv(m, 12L).toInt, Math.floorMod(m, 12L).toInt + 1, 1)
        .atStartOfDay.toEpochSecond(ZoneOffset.UTC) * 1000000000L
    g.unit match {
      case GroupUnit.Month | GroupUnit.Year =>
        val t = LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L), 0, ZoneOffset.UTC)
        val months = g.count.toLong * (if (g.unit == GroupUnit.Year) 12 else 1)
        val m = (t.getYear - 1970) * 12L + t.getMonthValue - 1
        monthStart(Math.floorDiv(m, months) * months)
      case u =>
        val w = u.fixedSeconds * g.count * 1000000L
        (us - Math.floorMod(us, w)) * 1000L
    }
  }

  /** A grouped query's answer: one row per non-empty bucket, each field
    * reduced with exact decimal sums.
    */
  def expectedGrouped(data: Data, q: TickQuery): Vector[(Long, Vector[Double])] = {
    val from = q.from.map(TickQuery.instantNs).getOrElse(Long.MinValue)
    val to = q.to.map(TickQuery.instantNs).getOrElse(Long.MaxValue)
    val g = q.group.get
    data(q.index).filter(p => p.ns >= from && p.ns < to).groupBy(p => bucketNs(p.ns, g))
      .toVector.sortBy(_._1).map { case (b, pts) =>
        (b, q.fields.map { case (f, red) =>
          val v: Pt => Double = if (f == "value") _.value else _.k
          def exactSum = pts.map(p => BigDecimal(v(p))).sum
          red match {
            case "sum" => exactSum.toDouble
            case "max" => pts.map(v).max
            case "min" => pts.map(v).min
            case "first" => v(pts.minBy(_.ns))
            case "last" => v(pts.maxBy(_.ns))
            case "count" => pts.size.toDouble
            case "avg" => exactSum.toDouble / pts.size
          }
        }.toVector)
      }
  }

  private def groupedOp(kind: String, json: String, data: Data): Op = {
    val q = TickQuery.fromJson(json)
    Op(kind, Req("POST", s"/$Db/_query", json), Some(DirectQuery(json)), r => checked(r) {
      sameRows(wireRows(r.body, q.fields.map(_._1)), expectedGrouped(data, q), exact = false)
    })
  }

  /** A raw range scan; its answer is every point in range, exactly. */
  private def scanOp(index: String, from: Long, to: Long, data: Data): Op = {
    val json = queryJson(index, from.toString, to.toString, None, Seq("value" -> "last", "k" -> "last"))
    Op("scan", Req("POST", s"/$Db/_query", json), Some(DirectQuery(json)), r => checked(r) {
      sameRows(wireRows(r.body, Seq("value", "k")),
        data(index).filter(p => p.ns >= from && p.ns < to).map(p => (p.ns, Vector(p.value, p.k))),
        exact = true)
    })
  }

  private def getOp(index: String, p: Pt): Op =
    Op("get", Req("GET", s"/$Db/$index/${p.ns}"), Some(DirectGet(index, p.ns)), r => checked(r) {
      val n = mapper.readTree(r.body)
      val got = (n.get("value").asDouble, n.get("k").asDouble, n.size)
      if (got == ((p.value, p.k, 2))) None else Some(s"got ${r.body}, expected $p")
    })

  /** The read mix, as shares of the ops: rollup-routable grouped
    * queries (aligned bounds, hour/day/month units, multipliers 1-3),
    * grouped queries that fall back to raw points (unaligned bounds,
    * second/minute units), raw range scans of 1-4 hours, and exact-ns
    * point gets.
    */
  val Mix: Seq[(String, Double)] = Seq("rollup" -> 0.4, "rawgroup" -> 0.3, "scan" -> 0.2, "get" -> 0.1)

  /** `n` op kinds in the shares of [[Mix]], in seeded order. Every run of
    * `n` ops holds the same number of each kind, so the seed moves the
    * requests but not the mix.
    */
  private def kinds(rng: SplittableRandom, n: Int): Vector[String] = {
    val counts = Mix.map { case (k, share) => k -> math.round(n * share).toInt }
    val all = counts.flatMap { case (k, c) => Vector.fill(c)(k) }.toVector.padTo(n, Mix.head._1).take(n)
    scala.util.Random.javaRandomToRandom(new java.util.Random(rng.nextLong())).shuffle(all)
  }

  private def readOp(rng: SplittableRandom, days: Int, data: Data, kind: String): Op = {
    val indexes = data.keys.toVector.sorted
    val index = indexes(rng.nextInt(indexes.size))
    if (kind == "rollup") {
      val mult = 1 + rng.nextInt(3)
      val (group, from, to) = rng.nextInt(20) match {
        case x if x < 10 =>
          val f = dayNs(rng.nextInt(days)) + rng.nextInt(24) * HourNs
          (s"${mult}hours", f, f + (6 + rng.nextInt(43)) * HourNs)
        case x if x < 17 =>
          val d = rng.nextInt(days)
          (s"${mult}days", dayNs(d), dayNs(d + 1 + rng.nextInt(math.min(14, days - d))))
        case _ =>
          (s"${mult}months", Day0Ns, Day0Ns + 31 * DayNs)
      }
      val json = queryJson(index, iso(from), iso(to), Some(group), pickFields(rng))
      require(Rollup.routable(TickQuery.fromJson(json)).isDefined, s"not routable: $json")
      groupedOp("rollup", json, data)
    } else if (kind == "rawgroup") {
      val (group, width) =
        if (rng.nextBoolean()) (s"${Seq(10, 30, 60)(rng.nextInt(3))}seconds", (1 + rng.nextInt(3)) * HourNs)
        else (s"${Seq(1, 2, 5, 15)(rng.nextInt(4))}minutes", (2 + rng.nextInt(11)) * HourNs)
      val from = dayNs(rng.nextInt(days)) + rng.nextLong(DayNs - HourNs) + 1 + rng.nextLong(59000000000L)
      val to = from + width + rng.nextLong(1000000000L)
      val json = queryJson(index, from.toString, to.toString, Some(group), pickFields(rng))
      require(Rollup.routable(TickQuery.fromJson(json)).isEmpty, s"routable: $json")
      groupedOp("rawgroup", json, data)
    } else if (kind == "scan") {
      val from = dayNs(rng.nextInt(days)) + rng.nextLong(DayNs)
      scanOp(index, from, from + (1 + rng.nextInt(4)) * HourNs, data)
    } else {
      val pts = data(index)
      getOp(index, pts(rng.nextInt(pts.size)))
    }
  }

  /** The set-up's maintenance step on one index, and the points after
    * it: a POST of 50 new points plus 50 re-sent timestamps with new
    * values into an existing day (read-back and merge, last write wins,
    * rollup refresh), a GET of one re-sent timestamp, a DELETE from
    * noon of one day to the end of the next (boundary rewrite and
    * directory drop), and a scan of the deleted range that must come
    * back empty. The written points are events of the same index from
    * the day after the store's last (`donors`): the new ones moved by
    * whole days into the target day, and their values given to the
    * re-sent timestamps.
    */
  private def maintenance(rng: SplittableRandom, days: Int, data: Data, donors: Data): (Vector[Op], Data) = {
    val indexes = data.keys.toVector.sorted
    val index = indexes(rng.nextInt(indexes.size))
    val d0 = rng.nextInt(days)
    val old = data(index)
    val taken = old.map(_.ns).toSet
    val inDay = old.filter(p => dayOf(p.ns) == d0)
    val shuffle = scala.util.Random.javaRandomToRandom(new java.util.Random(rng.nextLong()))
    val pool = shuffle.shuffle(donors(index))
    val fresh = pool.map(p => p.copy(ns = p.ns - (dayOf(p.ns) - d0) * DayNs))
      .filterNot(p => taken(p.ns)).distinctBy(_.ns).take(50)
    val resent = shuffle.shuffle(inDay).take(50).zip(pool.reverse)
      .map { case (p, v) => Pt(p.ns, v.value, v.k) }
    val batch = (resent ++ fresh).sortBy(_.ns)
    val arr = mapper.createArrayNode()
    batch.foreach { p =>
      val n = arr.addObject()
      n.put("index", index)
      n.put("time", p.ns.toString)
      val v = n.putObject("value")
      v.put("value", p.value)
      v.put("k", p.k)
    }
    val d1 = rng.nextInt(days - 1)
    val (delFrom, delTo) = (dayNs(d1) + DayNs / 2, dayNs(d1 + 2))
    val merged = (old.filterNot(p => resent.exists(_.ns == p.ns)) ++ batch).sortBy(_.ns)
    val after = data.updated(index, merged.filterNot(p => p.ns >= delFrom && p.ns < delTo))
    val ops = Vector(
      Op("post", Req("POST", s"/$Db", mapper.writeValueAsString(arr)), None,
        r => status(200)(r).orElse(if (r.body == "\"success\"") None else Some(r.body))),
      getOp(index, resent.head),
      Op("delete", Req("DELETE", s"/$Db/$index", s"""{"from": "$delFrom", "to": "$delTo"}"""), None,
        status(201)),
      scanOp(index, delFrom, delTo, after))
    (ops, after)
  }

  // ---- store shape ----

  private def files(dir: File): Seq[File] =
    Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap { f =>
      if (f.isDirectory) files(f) else Seq(f)
    }

  private def isData(f: File): Boolean = !f.getName.startsWith("_") && !f.getName.startsWith(".")

  /** Store-shape metrics: bytes on disk over user bytes, data files per
    * (index, day) point partition, rollup data files.
    */
  private def shape(store: TickStore, livePoints: Long, report: Report): Unit = {
    val root = new File(store.root)
    val points = new File(root, s"$Db/points")
    val dayDirs = Option(points.listFiles()).toSeq.flatten
      .flatMap(i => Option(i.listFiles()).toSeq.flatten).filter(_.isDirectory)
    val pointFiles = files(points).count(isData)
    report.put("store.space_amp", files(root).map(_.length).sum.toDouble / (livePoints * UserBytesPerPoint),
      "ratio", "setup_s (bytes written at set-up)")
    report.put("store.files_per_partition", pointFiles.toDouble / math.max(1, dayDirs.size),
      "count", "latency_p50_s on tick_query (raw reads open every file of a partition)")
    report.put("rollup.files", files(new File(root, s"$Db/rollup")).count(isData).toDouble,
      "count", "latency_p50_s on tick_query (rollup-routed reads), setup_s")
  }

  // ---- workloads ----

  def run(spark: SparkSession, conf: Conf, sessionS: Double, report: Report): () => Unit = {
    val sz = size(conf)
    // the store's days, and the next day's events as donors of the
    // maintenance step's writes
    val all = events(spark, conf.eventsDir).where(col("ts_ns") < dayNs(sz.days + 1))
    val batch = all.where(col("ts_ns") < dayNs(sz.days))
    val (stored, donors) = points(all).map { case (index, pts) =>
      val (in, out) = pts.partition(p => dayOf(p.ns) < sz.days)
      (index -> in, index -> out)
    }.unzip match { case (a, b) => (a.toMap, b.toMap) }
    Log("events loaded")
    val rng = new SplittableRandom(conf.seed * 1000003L + 17L)
    val (upkeep, data) = maintenance(rng, sz.days, stored, donors)
    val warm = kinds(rng, sz.warmOps).map(readOp(rng, sz.days, data, _))
    val ops = kinds(rng, math.max(4, math.round(conf.seconds * sz.opsPerSecond).toInt))
      .map(readOp(rng, sz.days, data, _))
    val probe = if (conf.trace) Some(new Probe(spark)) else None
    probe.foreach(_.install())
    val built = build(spark, s"${conf.runDir}/store", batch)
    val server = new TickHttpServer(spark, built.store)
    val client = new Client(server.start())
    probe.foreach(_.take())
    if (!conf.trace) {
      upkeep.foreach { op =>
        val r = client.send(op.req)
        report.outcome(op.check(r).isEmpty, s"${op.kind} ${op.req.path}: ${op.check(r)}")
      }
      val setupS = Main.sinceJvmStartS()
      Log("maintenance done")
      client.closedLoop(warm.map(_.req), 2)
      Log("warm-up done")
      val t1 = System.nanoTime()
      val resps = client.closedLoop(ops.map(_.req), 2)
      val wall = (System.nanoTime() - t1) / 1e9
      Log(f"measured ${ops.size} ops in $wall%.2f s; ops/s per window of 12: " +
        resps.map(_.endNs).sorted.grouped(12).filter(_.size == 12).map(w => 11e9 / (w.last - w.head))
          .map(x => f"$x%.2f").mkString(" "))
      ops.zip(resps).foreach { case (op, r) =>
        report.outcome(op.check(r).isEmpty, s"${op.kind} ${op.req.body}: ${op.check(r)}")
      }
      report.put("setup_s", setupS, "s")
      report.put("ops_per_s", ops.size / wall, "1/s")
      report.put("latency_p50_s", Stats.median(resps.map(_.seconds)), "s")
      report.put("latency_p90_s", Stats.percentile(resps.map(_.seconds), 90), "s")
    } else {
      val traced = new Traced(spark, built.store, client, probe.get, report)
      val m0 = System.nanoTime()
      traced.run(upkeep, setup = true)
      val maintenanceS = (System.nanoTime() - m0) / 1e9
      warm.foreach(op => client.send(op.req))
      traced.run(ops.take(sz.tracedOps), setup = false)
      traced.report()
      report.put("setup.session_s", sessionS, "s", "setup_s")
      report.put("setup.store_ingest_s", built.ingestS, "s", "setup_s")
      report.put("setup.rollup_materialize_s", built.materializeS, "s", "setup_s")
      report.put("setup.maintenance_s", maintenanceS, "s", "setup_s (traced: reads run three times)")
      report.put("setup.fixtures_s", 0.0, "s", "none here: query_surface only")
      shape(built.store, data.values.map(_.size.toLong).sum, report)
    }
    () => server.stop()
  }

  /** The traced replay: one client; reads timed at each public entry
    * point in turn (HTTP, then `TickApi`, then `TickStore` plus
    * collect), writes over HTTP only. Every HTTP call of a read is also
    * made once with the listeners muted, in alternating order, which
    * gives the tracing overhead.
    */
  private final class Traced(spark: SparkSession, store: TickStore, client: Client,
      probe: Probe, report: Report) {

    final case class Rec(op: Op, setup: Boolean, http: Double, counts: Counts, wallMs: (Long, Long),
        api: Double = Double.NaN, lower: Double = Double.NaN, rows: Int = 0, quiet: Double = Double.NaN)

    val recs = scala.collection.mutable.ArrayBuffer.empty[Rec]

    private def timed[A](i: Int, name: String, parent: String)(body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      val t1 = System.nanoTime()
      report.spans += Span(i, name, parent, t0, t1)
      (a, (t1 - t0) / 1e9)
    }

    private var opId = 0
    private var inSetup = false

    /** Replay `ops`; set-up ops are kept out of the engine metrics. */
    def run(ops: IndexedSeq[Op], setup: Boolean): Unit = ops.foreach { op =>
      inSetup = setup
      timed(opId, s"op.${op.kind}", "")(one(op, opId))
      opId += 1
    }

    private var reads = 0

    private def one(op: Op, i: Int): Unit = {
      val quietFirst = op.direct.isDefined && { reads += 1; reads % 2 == 0 }
      def quiet(): Double = {
        probe.muted = true
        try client.send(op.req).seconds finally { probe.muted = false; probe.take() }
      }
      val q0 = if (op.direct.isDefined && quietFirst) quiet() else Double.NaN
      probe.take()
      val w0 = System.currentTimeMillis()
      val (resp, http) = timed(i, s"http.${op.kind}", s"op.${op.kind}")(client.send(op.req))
      val w1 = System.currentTimeMillis()
      val counts = probe.take()
      report.outcome(op.check(resp).isEmpty, s"${op.kind} ${op.req.path}: ${op.check(resp)}")
      val rec = Rec(op, inSetup, http, counts, (w0, w1))
      recs += (op.direct match {
        case Some(DirectQuery(json)) =>
          val (out, api) = timed(i, s"api.${op.kind}", s"op.${op.kind}")(TickApi.query(spark, store, Db, json))
          val (_, lower) = timed(i, s"store.${op.kind}", s"op.${op.kind}")(
            store.query(spark, Db, TickQuery.fromJson(json)).collect())
          val q1 = if (quietFirst) q0 else quiet()
          rec.copy(api = api, lower = lower, rows = mapper.readTree(out).size, quiet = q1)
        case Some(DirectGet(index, ns)) =>
          val (_, api) = timed(i, "api.get", "op.get")(TickApi.getPoint(spark, store, Db, index, ns.toString))
          val (_, lower) = timed(i, "store.get", "op.get")(store.get(spark, Db, index, ns))
          val q1 = if (quietFirst) q0 else quiet()
          rec.copy(api = api, lower = lower, quiet = q1)
        case None => rec
      })
      probe.take()
    }

    def report(): Unit = {
      val reads = recs.filter(_.op.direct.isDefined)
      val queries = reads.filter(_.op.kind != "get")
      val writes = recs.filter(_.op.direct.isEmpty)
      val posts = writes.filter(_.op.kind == "post")
      val deletes = writes.filter(_.op.kind == "delete")
      def of(kinds: String*) = recs.filter(r => kinds.contains(r.op.kind))
      def med(rs: Iterable[Rec], f: Rec => Double) = Stats.medianOr0(rs.map(f).toSeq)
      val onRead = "latency_p50_s on tick_query"
      val onWrite = "setup_s on tick_query (the set-up's maintenance writes)"
      val put = report.put _

      put("http.overhead_s", med(reads, r => r.http - r.api), "s", onRead + " (gets most)")
      put("http.rollup_p50_s", med(of("rollup"), _.http), "s", onRead)
      put("http.raw_p50_s", med(of("rawgroup", "scan"), _.http), "s", onRead)
      put("http.get_p50_s", med(of("get"), _.http), "s", onRead)
      put("http.ingest_p50_s", med(posts, _.http), "s", onWrite)
      put("api.render_s", med(queries, r => r.api - r.lower), "s", onRead + " (rollup and raw queries)")
      put("api.rows_per_query", Stats.mean(queries.map(_.rows.toDouble).toSeq), "count", onRead)
      put("rollup.routed_share", if (queries.isEmpty) 0.0 else
        queries.count(_.op.kind == "rollup").toDouble / queries.size, "ratio",
        onRead + " (share of queries on the rollup path)")
      put("rollup.query_s", med(of("rollup"), _.lower), "s", onRead)
      put("store.raw_query_s", med(of("rawgroup", "scan"), _.lower), "s", onRead)
      put("store.get_s", med(of("get"), _.lower), "s", onRead)

      // writes: the rollup refresh runs last, so it starts with the first
      // job submitted from Rollup.scala; the jobs and time before it are
      // the store's. (Jobs that adaptive execution submits from its own
      // threads carry no engine frame, hence the split by time.)
      def split(r: Rec): (Double, Double, Int, Int) = {
        val spans = r.counts.jobSpans
        val (w0, w1) = r.wallMs
        val firstRollup = spans.filter(_._3).map(_._1).minOption.getOrElse(w1)
        val refreshJobs = spans.count(_._1 >= firstRollup)
        ((firstRollup - w0) / 1000.0, (w1 - firstRollup) / 1000.0,
          spans.size - refreshJobs, refreshJobs)
      }
      val postSplit = posts.map(split)
      put("store.ingest_s_per_ingest", Stats.mean(postSplit.map(_._1).toSeq), "s", onWrite)
      put("store.ingest_jobs_per_ingest", Stats.mean(postSplit.map(_._3.toDouble).toSeq), "count", onWrite)
      put("rollup.refresh_s_per_ingest", Stats.mean(postSplit.map(_._2).toSeq), "s", onWrite)
      put("rollup.refresh_jobs_per_ingest", Stats.mean(postSplit.map(_._4.toDouble).toSeq), "count", onWrite)
      put("store.delete_s", Stats.mean(deletes.map(d => split(d)._1).toSeq), "s", onWrite)
      val postedPoints = posts.map(r => mapper.readTree(r.op.req.body).size.toLong).sum
      put("store.bytes_written_per_user_byte",
        writes.map(_.counts.bytesWritten).sum.toDouble / (postedPoints * UserBytesPerPoint), "ratio", onWrite)
      put("store.points_per_s", postedPoints / posts.map(_.http).sum, "1/s", onWrite)
      Engine.put(report, recs.filterNot(_.setup).map(r => (r.http, r.counts, r.wallMs)).toSeq)
      put("trace.overhead_ratio", {
        val pairs = reads.filter(r => !r.quiet.isNaN)
        if (pairs.isEmpty) 1.0 else pairs.map(_.http).sum / pairs.map(_.quiet).sum
      }, "ratio", "none: traced over untraced HTTP time of the same reads")
      SurfaceBench.zeroFamilies(report)
    }
  }
}
