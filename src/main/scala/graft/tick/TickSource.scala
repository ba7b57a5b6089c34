package graft.tick

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A tick-shaped input: a time-ordered series with named numeric
  * fields, addressable by a series id ("index" in the reference's
  * vocabulary, `database.go:20-28`).
  *
  * Implementations resolve field names to columns lazily so Catalyst
  * prunes unreferenced physical columns out of the scan — the analog of
  * the reference's projection-on-read (`cursor.go:274-288`), but pushed
  * all the way into the Parquet reader.
  */
trait TickSource {
  /** The raw frame (unfiltered). */
  def frame: DataFrame
  /** Event-time column (TimestampType, UTC). */
  def ts: Column
  /** Series-id predicate for a given index name. */
  def indexPredicate(index: String): Column
  /** Resolve a tick field name to a DoubleType column. */
  def field(name: String): Column
  /** Exact ns-epoch key (LONG), when the source carries one — raw
    * queries surface it so ns-distinct points stay distinct. NOTE:
    * when the underlying file only stores µs timestamps (the current
    * driver testdata), `ts_ns` is µs×1000 — point lookups and
    * half-open ranges behave identically, but sub-µs distinctness is
    * only real on sources that ingest true ns keys (StoreSource).
    */
  def tsNs: Option[Column] = None
  /** DuckDB mirror of [[tsNs]]. */
  def tsNsSql: Option[String] = None

  /** Half-open [from, to) predicate. Default filters the derived `ts`;
    * sources whose physical time column differs MUST override so the
    * range reaches the scan as a pushable filter (on a derived column
    * Parquet can neither row-group-skip nor partition-prune).
    */
  def rangePredicate(from: Option[java.time.Instant], to: Option[java.time.Instant]): Option[Column] = {
    val f = from.map(i => ts >= lit(java.sql.Timestamp.from(i)))
    val t = to.map(i => ts < lit(java.sql.Timestamp.from(i)))
    (f ++ t).reduceOption(_ && _)
  }

  // ---- oracle-SQL mirrors (DuckDB dialect, same semantics) ----
  def tableSql: String
  def tsSql: String
  def indexPredicateSql(index: String): String
  def fieldSql(name: String): String
}

/** The driver testdata `events` table viewed as a tick store
  * (FIXTURES.md: `event_type` = index, `ts` = time, `value` = the
  * numeric field, `props` = JSON side-fields).
  */
final case class EventsSource(spark: SparkSession, dir: String) extends TickSource {
  // lazy: the SQL-dialect half of this source is usable without a live
  // session (oracle-SQL generation at class-load time)
  override lazy val frame: DataFrame = graft.Tables.events(spark, dir)
  override def ts: Column = frame("ts")
  override def indexPredicate(index: String): Column = frame("event_type") === index
  override def field(name: String): Column = name match {
    case "value" => frame("value")
    case other   => get_json_object(frame("props"), s"$$.$other").cast("double")
  }

  /** Whether the parquet file's physical `ts` is the legacy LONG-nanos
    * encoding (vs a µs timestamp). Footer-only schema read, not a scan.
    */
  private lazy val tsIsLongNanos: Boolean = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType ==
      org.apache.spark.sql.types.LongType
  }

  /** Range on whichever time column is PHYSICAL in the file — that is
    * the one the parquet scan can row-group-skip on; a predicate on the
    * derived twin would read everything. ns bounds round to µs with
    * ceiling division: every stored µs value v satisfies
    * `v*1000 >= X  ⟺  v >= ceil(X/1000)` and
    * `v*1000 <  Y  ⟺  v <  ceil(Y/1000)`.
    */
  override def rangePredicate(from: Option[java.time.Instant], to: Option[java.time.Instant]): Option[Column] = {
    if (tsIsLongNanos) {
      val f = from.map(i => frame("ts_ns") >= lit(TickQuery.instantNs(i)))
      val t = to.map(i => frame("ts_ns") < lit(TickQuery.instantNs(i)))
      (f ++ t).reduceOption(_ && _)
    } else {
      def ceilUs(i: java.time.Instant): Column =
        timestamp_micros(lit(Math.floorDiv(TickQuery.instantNs(i) + 999L, 1000L)))
      val f = from.map(i => frame("ts") >= ceilUs(i))
      val t = to.map(i => frame("ts") < ceilUs(i))
      (f ++ t).reduceOption(_ && _)
    }
  }

  // NOTE: no tsNs override — DuckDB's parquet reader surfaces the
  // events TIMESTAMP(NANOS) column at µs precision, so an exact-ns
  // oracle mirror is impossible here; the ns-exact raw path is
  // exercised (and spec-pinned) on StoreSource, where reference parity
  // actually matters.

  override def tableSql: String = "events"
  override def tsSql: String = "ts"
  override def indexPredicateSql(index: String): String = s"event_type = '$index'"
  override def fieldSql(name: String): String = name match {
    case "value" => "\"value\""
    case other   => s"CAST(props->>'$$.$other' AS DOUBLE)"
  }
}
