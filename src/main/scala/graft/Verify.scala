package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Session TZ is UTC, so TIMESTAMP -> TIMESTAMP_NTZ keeps the wall
    * clock; writing NTZ makes the result parquet's timestamp columns
    * naive (isAdjustedToUTC=false), exactly like the DuckDB oracle's
    * output — removing tz-aware-vs-naive false mismatches.
    */
  def ntzNormalize(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.TimestampType
    val casts = df.schema.fields.map { f =>
      if (f.dataType == TimestampType) col(f.name).cast("timestamp_ntz").as(f.name)
      else col(f.name)
    }
    df.select(casts.toSeq: _*)
  }

  def main(args: Array[String]): Unit = {
    val (Array(sfDir, outDir), only) = (args.take(2), args.drop(2).toSet)
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // run registered fixtures up front, exactly like Bench/TimeOne:
    // lazily-built caches (the IVF index) must PREDATE the per-query
    // hygiene sweeps or the sweep unpersists their blocks while the
    // cache registry keeps the entry — later hits would silently serve
    // a storageLevel-NONE DataFrame and recompute per probe
    Harness.runSetups(spark, sfDir,
      SparkEntry.benchSetups.filter { case (n, _) => only.isEmpty || only(n) })
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // sweep each query's checkpoint blocks (RddHygiene scaladoc) —
      // the full-surface correctness pass leaks storage the same way the
      // bench laps did
      try RddHygiene.sweptAfter(spark) {
        fn(spark, sfDir).transform(Verify.ntzNormalize).coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // outDir is commonly reused across runs; a stale result parquet
        // from a previous (passing) run would make the oracle compare
        // false-pass a query that no longer executes.
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
          f.delete(); ()
        }
        rm(new java.io.File(s"$outDir/$name"))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
