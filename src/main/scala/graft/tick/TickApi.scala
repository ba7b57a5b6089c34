package graft.tick

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import scala.jdk.CollectionConverters._

/** Wire-parity façade: the reference's full HTTP surface
  * (reference `main.go:24-37` route table) as library calls over a
  * [[TickStore]], speaking the same JSON documents in and out — a user
  * of the reference can switch by replacing HTTP calls with these.
  *
  * Response shape matches the reference's actual marshaling: its
  * `Point` struct tags are malformed (`point.go:9-10` — backtick tags
  * without quoted values, which Go ignores), so points serialize with
  * the exported field names `Timestamp`/`Value`; we reproduce that.
  *
  * Legacy semantics applied ONLY at this layer (SURVEY §2.A.2 item 6):
  * a requested field absent from a bucket renders as 0.0, as the
  * reference's reducer fallbacks do (`cursor.go:281-283`); the engine
  * underneath stays NULL-correct.
  */
object TickApi {

  private val mapper = new ObjectMapper()

  /** Default row cap for [[query]] renders. Grouped queries are
    * naturally bounded by their bucket count, but a RAW-level range
    * query returns one row per stored point — unbounded in the range
    * width — so the render path needs an explicit ceiling to keep a
    * single HTTP request from exhausting the driver. 100k rows of
    * `{"Timestamp": ..., "Value": {...}}` is single-digit MB of JSON.
    */
  val DefaultMaxRows: Int = 100000

  /** Thrown when a query's result exceeds the render cap; the HTTP
    * layer maps it to 413 Payload Too Large.
    */
  final class ResultTooLargeException(val cap: Int)
    extends RuntimeException(
      s"query result exceeds the $cap-row render cap; narrow the time range")

  /** GET / (reference `handlers.go:15-21`). */
  def serverInfo: String =
    """{"tickdbspark": "Welcome", "version": "0.1.0"}"""

  /** PUT /{db} (A2). */
  def createDb(spark: SparkSession, store: TickStore, db: String): Unit =
    store.createDb(spark, db)

  /** GET /_all_dbs (A4). */
  def listDbs(spark: SparkSession, store: TickStore): String = {
    val arr = mapper.createArrayNode()
    store.listDbs(spark).foreach(arr.add)
    mapper.writeValueAsString(arr)
  }

  /** GET /{db} (A3, reference `handlers.go:34-41` — name + path; we add
    * the index list, which the reference lacks any API for).
    */
  def dbInfo(spark: SparkSession, store: TickStore, db: String): String = {
    val node = mapper.createObjectNode()
    node.put("db_name", db)
    node.put("db_path", s"${store.root}/$db")
    val arr = node.putArray("indexes")
    store.listIndexes(spark, db).foreach(arr.add)
    mapper.writeValueAsString(node)
  }

  /** DELETE /{db}/_all (A5). */
  def dropDb(spark: SparkSession, store: TickStore, db: String): Unit =
    store.dropDb(spark, db)

  /** DELETE /{db}/{index}/_all (A10). */
  def dropIndex(spark: SparkSession, store: TickStore, db: String, index: String): Unit =
    store.dropIndex(spark, db, index)

  /** POST /{db} — ingest a JSON array of
    * `{"index": ..., "time": ..., "value": {...}}` (A6,
    * `database.go:24-28`). Returns the number of points actually
    * stored: records with an empty/absent value map are dropped by the
    * store (nothing to reduce or return), so they don't count. Records
    * missing `index` or `time` fail with a validation error rather
    * than an NPE.
    */
  def ingest(spark: SparkSession, store: TickStore, db: String, json: String): Int = {
    val root = mapper.readTree(json)
    require(root.isArray, "ingest body must be a JSON array")
    val records = root.elements().asScala.map { n =>
      val value = Option(n.get("value")).map { v =>
        v.properties().asScala.map(e => e.getKey -> e.getValue.asDouble()).toMap
      }.getOrElse(Map.empty[String, Double])
      def str(k: String): String = Option(n.get(k)).filterNot(_.isNull)
        .map(_.asText)
        .getOrElse(throw new IllegalArgumentException(
          s"ingest record missing '$k': ${n.toString.take(200)}"))
      TickIngestRecord(str("index"), str("time"), value)
    }.toSeq
    store.ingestRecords(spark, db, records)
    records.count(_.value.nonEmpty)
  }

  /** POST /{db}/_query (A8) — returns the reference's `[]Point` JSON:
    * `[{"Timestamp": <bucket ns>, "Value": {field: reduced}}]`.
    *
    * Driver memory is BOUNDED by the cap: the query result is sorted,
    * so `limit(maxRows + 1)` plans as a top-K (`TakeOrderedAndProject`)
    * and one collect fetches it — each partition sends at most
    * `maxRows + 1` rows, merged on arrival into one queue of that size.
    * The rows render through a Jackson streaming generator, so no JSON
    * tree materializes. A result past `maxRows` throws
    * [[ResultTooLargeException]] (HTTP 413) instead of exhausting the
    * driver — the reference materializes unboundedly here
    * (`handlers.go` marshals the whole `[]Point`), which is the one
    * behavior of its daemon NOT worth wire parity at scale.
    */
  def query(spark: SparkSession, store: TickStore, db: String, json: String,
      maxRows: Int = DefaultMaxRows): String = {
    require(maxRows >= 0, s"maxRows must be >= 0, got $maxRows")
    val q = TickQuery.fromJson(json)
    val df = store.query(spark, db, q)
    // column 0 is the bucket (grouped) or point ts (raw); requested
    // fields follow in declaration order in both shapes
    // raw queries append the exact ns key as a trailing ts_ns column —
    // use it, or two ns-distinct points would render the same µs key
    val tsNsIdx = df.columns.indexOf("ts_ns")
    // one row past the cap tells "exactly maxRows" from "too many"
    val rows = df.limit(if (maxRows == Int.MaxValue) maxRows else maxRows + 1).collect()
    if (rows.length > maxRows) throw new ResultTooLargeException(maxRows)
    val sw = new java.io.StringWriter()
    val gen = mapper.getFactory.createGenerator(sw)
    gen.writeStartArray()
    rows.foreach { row =>
      val ns =
        if (tsNsIdx >= 0) row.getLong(tsNsIdx)
        else TickQuery.instantNs(row.getTimestamp(0).toInstant)
      gen.writeStartObject()
      gen.writeNumberField("Timestamp", ns)
      gen.writeObjectFieldStart("Value")
      q.fields.zipWithIndex.foreach { case ((f, _), i) =>
        val v = row.get(i + 1)
        // legacy zero-fill for absent fields (cursor.go:281-283)
        gen.writeNumberField(f, if (v == null) 0.0 else toDouble(v))
      }
      gen.writeEndObject()
      gen.writeEndObject()
    }
    gen.writeEndArray()
    gen.close()
    sw.toString
  }

  /** GET /{db}/{index}/{time} (A7) — the point's value map, or None
    * when no point sits at exactly that time.
    */
  def getPoint(
      spark: SparkSession, store: TickStore, db: String,
      index: String, time: String): Option[String] = {
    store.get(spark, db, index, TickQuery.parseTimeNs(time)).map { m =>
      val node = mapper.createObjectNode()
      m.foreach { case (k, v) => node.put(k, v) }
      mapper.writeValueAsString(node)
    }
  }

  /** DELETE /{db}/{index} with body `{"from": ..., "to": ...}` (A9). */
  def deleteRange(
      spark: SparkSession, store: TickStore, db: String,
      index: String, json: String): Unit = {
    val root = mapper.readTree(json)
    def ns(k: String): Long = TickQuery.parseTimeNs(root.get(k).asText())
    store.deleteRange(spark, db, index, ns("from"), ns("to"))
  }

  private def toDouble(v: Any): Double = v match {
    case d: java.lang.Double => d
    case l: java.lang.Long   => l.toDouble
    case i: java.lang.Integer => i.toDouble
    case b: java.math.BigDecimal => b.doubleValue()
    case other => other.toString.toDouble
  }
}
