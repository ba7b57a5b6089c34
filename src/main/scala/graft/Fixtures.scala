package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one owner of the on-disk fixtures queries build once and reuse
  * (stores, index artifacts, format copies of a testdata table) — the
  * role the reference's process-wide store map plays (`dbconn`,
  * `database.go:20-22, 49-69`).
  *
  * A fixture lives under
  * `java.io.tmpdir/graft_<tag>_<sanitized dir>_<fp>`, where `fp`
  * hashes the total bytes and max mtime of every named source table
  * (`<dir>/<table>.parquet`) together with the same stamp over the code
  * this JVM runs. A regenerated testdata table or any rebuild of the
  * engine therefore lands on a new root and builds afresh; nothing
  * ever reads a fixture keyed to other inputs.
  *
  * Completeness is one `_done` marker next to (not inside) the
  * directory handed to `build`, written only after `build` returns: no
  * store operation on the fixture (a vacuum, a compaction, a clone
  * registration) can remove it, and a build that dies anywhere leaves
  * no marker, so the next call deletes the partial tree and builds
  * from scratch.
  */
object Fixtures {

  /** Total bytes and max mtime of the files under `p`. */
  private def stamp(fs: FileSystem, p: Path): String = {
    var bytes = 0L; var mtime = 0L
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      bytes += f.getLen
      mtime = math.max(mtime, f.getModificationTime)
    }
    s"${bytes}_$mtime"
  }

  /** [[stamp]] of the classes dir or jar this object was loaded from:
    * taken once per JVM.
    */
  private lazy val buildStamp: String = {
    val code = new Path(getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    stamp(code.getFileSystem(new Configuration()), code)
  }

  private val buildCount = new java.util.concurrent.atomic.AtomicLong

  /** How many fixtures this JVM has built (not reused) so far. */
  def builds: Long = buildCount.get

  /** The fixture directory for (`dir`, `tag`, `sources`), running
    * `build` on it first unless a completed build is already there.
    * Calls are serialized on one reentrant lock, so a `build` may
    * itself call `cached` for a fixture it derives from.
    */
  def cached(spark: SparkSession, dir: String, tag: String, sources: String*)(
      build: String => Unit): String = synchronized {
    val conf = spark.sparkContext.hadoopConfiguration
    val stamps = sources.map { t =>
      val p = new Path(s"$dir/$t.parquet")
      stamp(p.getFileSystem(conf), p)
    } :+ buildStamp
    val fp = java.security.MessageDigest.getInstance("SHA-256")
      .digest(stamps.mkString(",").getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
    val root = new Path(
      s"${sys.props("java.io.tmpdir")}/graft_${tag}_${dir.replaceAll("[^a-zA-Z0-9]", "_")}_$fp")
    val fs = root.getFileSystem(conf)
    val done = new Path(root, "_done")
    val out = new Path(root, "fixture").toString
    if (!fs.exists(done)) {
      fs.delete(root, true)
      buildCount.incrementAndGet()
      build(out)
      fs.create(done, true).close()
    }
    out
  }
}
