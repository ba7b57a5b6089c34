package graft.tick

/** The fundamental tick row (reference `storage/point.go:8-11`:
  * `{Timestamp int64 unix-ns, Value map[string]float64}` plus the index
  * name the reference keys files by, `database.go:20-28`).
  *
  * `tsNs` is exact unix nanoseconds (Catalyst TimestampType is µs, so
  * the ns key is carried as a LONG, SURVEY §7.5); `value` is the
  * schemaless field map (`MAP<STRING,DOUBLE>`).
  */
final case class TickPoint(index: String, tsNs: Long, value: Map[String, Double])

/** Ingest wire record (reference `database.go:24-28`): time is any
  * layout [[TickQuery.parseTime]] accepts.
  */
final case class TickIngestRecord(index: String, time: String, value: Map[String, Double]) {
  def toPoint: TickPoint = TickPoint(index, TickQuery.parseTimeNs(time), value)
}
