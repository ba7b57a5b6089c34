package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path

import graft.sources.SnapshotStore

class FixturesSpec extends SparkSpec {
  import spark.implicits._

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A fresh sf dir holding one source table `t` (its bytes are all
    * the fingerprint reads).
    */
  private def freshDir(): String = {
    val dir = Files.createTempDirectory("graft_fixtures_spec")
    Files.write(dir.resolve("t.parquet"), Array[Byte](1, 2, 3))
    dir.toString
  }

  private def done(out: String) = new Path(new Path(out).getParent, "_done")

  test("a second call reuses the fixture without building") {
    val dir = freshDir()
    var builds = 0
    def get() = Fixtures.cached(spark, dir, "spec", "t") { out =>
      builds += 1
      fs.create(new Path(out, "f")).close()
    }
    val out = get()
    assert(get() == out)
    assert(builds == 1)
    assert(fs.exists(new Path(out, "f")) && fs.exists(done(out)))
  }

  test("a build that throws leaves no marker; the next call rebuilds from scratch") {
    val dir = freshDir()
    val partial = intercept[IllegalStateException] {
      Fixtures.cached(spark, dir, "spec", "t") { out =>
        fs.create(new Path(out, "partial")).close()
        throw new IllegalStateException(out)
      }
    }.getMessage
    assert(fs.exists(new Path(partial, "partial")) && !fs.exists(done(partial)))
    var sawPartial = true
    val out = Fixtures.cached(spark, dir, "spec", "t") { out =>
      sawPartial = fs.exists(new Path(out, "partial"))
    }
    assert(out == partial && !sawPartial, "the partial tree must be deleted before the rebuild")
    assert(fs.exists(done(out)))
  }

  test("a source's new length or mtime keys a new root and rebuilds") {
    val dir = freshDir()
    val src = Paths.get(dir, "t.parquet")
    var builds = 0
    def get() = Fixtures.cached(spark, dir, "spec", "t") { _ => builds += 1 }
    val first = get()
    Files.setLastModifiedTime(src, java.nio.file.attribute.FileTime.fromMillis(
      Files.getLastModifiedTime(src).toMillis - 60000L))
    val second = get()
    Files.write(src, Array[Byte](4), java.nio.file.StandardOpenOption.APPEND)
    val third = get()
    assert(Set(first, second, third).size == 3)
    assert(builds == 3)
    assert(get() == third && builds == 3)
  }

  test("a build may derive from another fixture (nested call)") {
    val dir = freshDir()
    var inner = ""
    val outer = Fixtures.cached(spark, dir, "spec_outer", "t") { out =>
      inner = Fixtures.cached(spark, dir, "spec_inner", "t") { in =>
        fs.create(new Path(in, "f")).close()
      }
      fs.create(new Path(out, "f")).close()
    }
    assert(inner.nonEmpty && inner != outer)
    assert(fs.exists(done(inner)) && fs.exists(done(outer)))
  }

  test("store operations on the fixture dir never remove its marker") {
    val dir = freshDir()
    var builds = 0
    def get() = Fixtures.cached(spark, dir, "spec_store", "t") { base =>
      builds += 1
      SnapshotStore.commit(spark, base, Seq(("a", "p", 0L, 1L)).toDF("key", "part", "seq", "vc"))
      SnapshotStore.commit(spark, base, Seq(("a", "p", 1L, 2L)).toDF("key", "part", "seq", "vc"))
    }
    val base = get()
    SnapshotStore.vacuum(spark, base, keepVersions = 1)
    SnapshotStore.compact(spark, base)
    assert(get() == base && builds == 1)
    assert(SnapshotStore.readVersion(spark, base, 3).select("vc").as[Long]
      .collect().toSeq == Seq(2L))
  }
}
