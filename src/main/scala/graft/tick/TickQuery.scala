package graft.tick

import java.time.format.DateTimeFormatter
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import com.fasterxml.jackson.databind.ObjectMapper

import scala.jdk.CollectionConverters._

/** The analytical-query IR, mirroring the reference's `Query` struct
  * (reference `query.go:12-18`) and its JSON wire shape
  * (reference README.md:32-44):
  *
  * {{{
  * {"index": "index1",
  *  "from": "2016-08-28T08:00:00Z", "to": "2016-08-31T18:00:59Z",
  *  "group": "2minutes",
  *  "fields": {"open": {"reducer": "avg"}}}
  * }}}
  *
  * Fixed semantics vs the reference (SURVEY.md §2.A.2): `to` is honored
  * as a half-open upper bound (the reference drops it, `db.go:110-125`),
  * and `group` absent/empty means raw-level points.
  */
final case class TickQuery(
    index: String,
    from: Option[Instant],
    to: Option[Instant],
    group: Option[GroupSpec],
    fields: Seq[(String, String)]) // (field name, reducer), insertion-ordered

object TickQuery {
  private val mapper = new ObjectMapper()

  /** `MM/dd/yy` with Go's two-digit-year cutoff: Go's `time` package
    * (which timelib layouts resolve through) maps `yy >= 69` to 19xx
    * and `yy < 69` to 20xx, i.e. the window [1969, 2068] — whereas
    * Java's plain `yy` bases at 2000. `appendValueReduced` with base
    * 1969 reproduces the Go window exactly.
    */
  private val yyFormatter: DateTimeFormatter =
    new java.time.format.DateTimeFormatterBuilder()
      .appendPattern("MM/dd/")
      .appendValueReduced(java.time.temporal.ChronoField.YEAR, 2, 2, 1969)
      .toFormatter

  /** Lenient multi-layout time parsing, the role `timelib.ParseTime`
    * (dustin/seriesly) plays in the reference (`database.go:79`,
    * `query.go:75,82`). Accepted layouts — zone-less ones are UTC:
    *
    *  | layout | example |
    *  |---|---|
    *  | RFC3339, offset or Z, optional fraction | `2016-08-28T21:24:00.5Z` |
    *  | `yyyy-MM-dd'T'HH:mm[:ss[.fff]]`         | `2016-08-28T21:24` |
    *  | `yyyy-MM-dd HH:mm[:ss[.fff]]`           | `2016-08-28 21:24:00` |
    *  | `yyyy/MM/dd[ HH:mm[:ss]]`               | `2016/08/28 21:24` |
    *  | `MM/dd/yyyy[ HH:mm[:ss]]`               | `08/28/2016 21:24:00` |
    *  | `MM/dd/yy`                              | `08/28/16` |
    *  | bare date `yyyy-MM-dd`                  | `2016-08-28` |
    *  | unix seconds / millis / nanos           | 10 / 13 / 16-19 digits |
    */
  def parseTime(s: String): Instant = {
    val t = s.trim
    if (t.matches("^-?\\d{16,19}$")) {
      val ns = t.toLong
      Instant.ofEpochSecond(Math.floorDiv(ns, 1000000000L), Math.floorMod(ns, 1000000000L))
    } else if (t.matches("^\\d{13}$")) {
      Instant.ofEpochMilli(t.toLong) // unix millis
    } else if (t.matches("^\\d{10}$")) {
      Instant.ofEpochSecond(t.toLong) // unix seconds
    } else {
      def ldt(p: String): String => Instant =
        x => LocalDateTime.parse(x, DateTimeFormatter.ofPattern(p)).toInstant(ZoneOffset.UTC)
      def ld(p: String): String => Instant =
        x => LocalDate.parse(x, DateTimeFormatter.ofPattern(p)).atStartOfDay.toInstant(ZoneOffset.UTC)
      val attempts: Seq[String => Instant] = Seq(
        x => Instant.parse(x),
        x => java.time.OffsetDateTime.parse(x).toInstant,
        // ISO_LOCAL_TIME makes seconds/fraction optional, so these two
        // also cover the minute-precision wall-time layouts
        x => LocalDateTime.parse(x, DateTimeFormatter.ISO_LOCAL_DATE_TIME).toInstant(ZoneOffset.UTC),
        x => LocalDateTime.parse(x.replace(' ', 'T'), DateTimeFormatter.ISO_LOCAL_DATE_TIME).toInstant(ZoneOffset.UTC),
        x => LocalDate.parse(x).atStartOfDay.toInstant(ZoneOffset.UTC),
        // slash layouts, year-first before US-order (timelib tries in
        // this order too, so `2006/01/02` is y/M/d, never M/d/y)
        ldt("yyyy/MM/dd HH:mm:ss"), ldt("yyyy/MM/dd HH:mm"), ld("yyyy/MM/dd"),
        ldt("MM/dd/yyyy HH:mm:ss"), ldt("MM/dd/yyyy HH:mm"), ld("MM/dd/yyyy"),
        x => LocalDate.parse(x, yyFormatter).atStartOfDay.toInstant(ZoneOffset.UTC)
      )
      attempts.view.flatMap(f => scala.util.Try(f(t)).toOption).headOption.getOrElse(
        throw new IllegalArgumentException(s"unparseable time: '$s'"))
    }
  }

  /** The single home for the Instant→ns conversion the store's
    * ns-exact keys hinge on.
    */
  def instantNs(i: Instant): Long = i.getEpochSecond * 1000000000L + i.getNano

  /** [[parseTime]] straight to epoch nanoseconds. */
  def parseTimeNs(s: String): Long = instantNs(parseTime(s))

  /** Decode the reference's query JSON document. */
  def fromJson(json: String): TickQuery = {
    val root = mapper.readTree(json)
    def strOpt(k: String): Option[String] =
      Option(root.get(k)).filterNot(_.isNull).map(_.asText).filter(_.nonEmpty)
    val fields = Option(root.get("fields")).map { f =>
      f.properties().asScala.toSeq.map { e =>
        val red = Option(e.getValue.get("reducer")).map(_.asText).getOrElse("last")
        e.getKey -> red
      }
    }.getOrElse(Seq.empty)
    TickQuery(
      index = strOpt("index").getOrElse(throw new IllegalArgumentException("query requires 'index'")),
      from = strOpt("from").map(parseTime),
      to = strOpt("to").map(parseTime),
      group = strOpt("group").map(GroupSpec.parse),
      fields = fields)
  }
}
