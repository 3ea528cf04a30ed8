package graft.sources

import java.io.{ByteArrayInputStream, OutputStream}
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.Downloader

/** Behavior matrix over every Store implementation — the same contract
  * the reference pins via its fake store
  * (/root/reference/download/common_test.go:23-82): prefix-scoped
  * listing with md5 metadata, streamed writes with on-the-fly digest,
  * copy, delete, hidden temp files.
  */
class StoreSpec extends AnyFunSuite {

  private def stores: Seq[(String, () => Store)] = Seq(
    ("InMemoryStore", () => new InMemoryStore),
    ("HadoopFsStore(file://)",
      () => new HadoopFsStore(
        "file://" + Files.createTempDirectory("graft_hstore").toString)),
    ("HadoopFsStore(file://, through Hadoop)",
      () => HadoopLocal.store(Files.createTempDirectory("graft_hlstore"))))

  for ((label, mk) <- stores) {
    test(s"$label: streamed write computes size+md5 on the fly") {
      val store = mk()
      val payload = Array.tabulate[Byte](100000)(i => (i * 31).toByte)
      val (n, md5) = store.writeStream("a/b/blob.bin", new ByteArrayInputStream(payload))
      assert(n == payload.length)
      assert(md5 == Store.md5Hex(payload)) // on-the-fly digest == full digest
      assert(store.read("a/b/blob.bin").toSeq == payload.toSeq)
      assert(store.list("a/").head.md5.contains(md5))
    }

    test(s"$label: empty stream yields empty object with the empty-input md5") {
      val store = mk()
      val (n, md5) = store.writeStream("x", new ByteArrayInputStream(Array.empty))
      assert(n == 0L && md5 == "d41d8cd98f00b204e9800998ecf8427e")
    }

    test(s"$label: prefix listing honors partial-filename prefixes, sorted") {
      val store = mk()
      store.write("d/2017/06/a.gz", "one".getBytes)
      store.write("d/2017/06/b.gz", "two".getBytes)
      store.write("d/2017/07/c.gz", "three".getBytes)
      store.write("other/x", "x".getBytes)
      assert(store.list("d/2017/06/").map(_.name) ==
        Seq("d/2017/06/a.gz", "d/2017/06/b.gz"))
      assert(store.list("d/2017/06/a").map(_.name) == Seq("d/2017/06/a.gz"))
      assert(store.list("d/").map(_.name).length == 3)
      assert(store.list("").map(_.name).length == 4)
    }

    test(s"$label: copy carries bytes+md5, delete removes object and metadata") {
      val store = mk()
      val payload = "promote-me".getBytes
      store.writeStream("src/file.gz", new ByteArrayInputStream(payload))
      store.copy("src/file.gz", "current/file.gz")
      assert(store.read("current/file.gz").toSeq == payload.toSeq)
      assert(store.list("current/").head.md5.contains(Store.md5Hex(payload)))
      store.delete("src/file.gz")
      assert(store.list("src/").isEmpty)
      assert(store.list("current/").map(_.name) == Seq("current/file.gz"))
      // deleting a nonexistent object is a no-op, not an error
      store.delete("src/file.gz")
    }

    test(s"$label: overwrite replaces bytes and digest") {
      val store = mk()
      store.writeStream("k", new ByteArrayInputStream("v1".getBytes))
      store.writeStream("k", new ByteArrayInputStream("v2-longer".getBytes))
      assert(new String(store.read("k")) == "v2-longer")
      assert(store.list("k").head.md5.contains(Store.md5Hex("v2-longer".getBytes)))
    }

    test(s"$label: failed stream leaves no committed object") {
      val store = mk()
      val bad = new java.io.InputStream {
        private var n = 0
        def read(): Int = {
          n += 1
          if (n > 10) throw new java.io.IOException("mid-stream failure") else 'x'
        }
      }
      intercept[java.io.IOException](store.writeStream("part/victim.bin", bad))
      assert(store.list("part/").isEmpty)
    }
  }

  test("HadoopFsStore: externally-written object still lists with computed md5") {
    val dir = Files.createTempDirectory("graft_hext")
    Files.createDirectories(dir.resolve("raw"))
    Files.write(dir.resolve("raw/outside.bin"), "external-bytes".getBytes)
    val store = new HadoopFsStore("file://" + dir.toString)
    val got = store.list("raw/")
    assert(got.map(_.name) == Seq("raw/outside.bin"))
    assert(got.head.md5.contains(Store.md5Hex("external-bytes".getBytes)))
  }

  test("HadoopFsStore: a write that fails mid-stream leaves the previous value readable") {
    val dir = Files.createTempDirectory("graft_hwrite")
    val store = new HadoopFsStore("file://" + dir)
    Downloader.saveWatermark(store, "ds", 5L)
    // same root, but every output stream fails after its first 2 bytes
    val failing = FailingLocalFileSystem.store(dir, FailingLocalFileSystem.FailAfterBytes -> "2")
    intercept[java.io.IOException](Downloader.saveWatermark(failing, "ds", 123456789L))
    assert(Downloader.loadWatermark(store, "ds") == 5L)
    assert(store.list("").map(_.name) == Seq("_meta/watermark/ds"))
    assert(!Files.exists(dir.resolve("_meta/watermark/.ds.part")))
    Downloader.saveWatermark(store, "ds", 7L)
    assert(Downloader.loadWatermark(store, "ds") == 7L)
  }

  test("HadoopFsStore: local writes leave no .crc and replace the .crc a Hadoop write left") {
    val dir = Files.createTempDirectory("graft_hcrc")
    val hadoop = HadoopLocal.store(dir) // checksummed: writes and verifies .crc files
    val store = new HadoopFsStore("file://" + dir)
    def crcs: Seq[String] = {
      val walk = Files.walk(dir)
      try walk.iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".crc")).toSeq
      finally walk.close()
    }
    Seq("rv/a.gz", "rv/current/a.gz", "rv/b.gz").foreach(n => hadoop.write(n, "old".getBytes))
    assert(crcs.nonEmpty)
    store.write("rv/a.gz", "new-bytes".getBytes)
    store.copy("rv/a.gz", "rv/current/a.gz")
    store.delete("rv/b.gz")
    store.write("rv/c.gz", "c".getBytes)
    // a bare local path resolves to the same fast path
    new HadoopFsStore(dir.toString).write("rv/d.gz", "d".getBytes)
    assert(crcs.isEmpty)
    // the checksummed reader takes the new bytes: no stale checksum left to fail
    assert(new String(hadoop.read("rv/a.gz")) == "new-bytes")
    assert(new String(hadoop.read("rv/current/a.gz")) == "new-bytes")
    val md5 = Some(Store.md5Hex("new-bytes".getBytes))
    assert(hadoop.list("rv/").map(o => o.name -> o.md5) == Seq(
      "rv/a.gz" -> md5, "rv/c.gz" -> Some(Store.md5Hex("c".getBytes)),
      "rv/current/a.gz" -> md5, "rv/d.gz" -> Some(Store.md5Hex("d".getBytes))))
  }

  test("HadoopFsStore: a sidecar write torn after the commit lists the new bytes' md5") {
    val dir = Files.createTempDirectory("graft_hsidecar")
    val store = new HadoopFsStore("file://" + dir)
    store.write("rv/k.gz", "v1".getBytes)
    // the object commits, then its new sidecar is left empty
    val torn = FailingLocalFileSystem.store(dir,
      FailingLocalFileSystem.FailAfterBytes -> "0", FailingLocalFileSystem.FailSuffix -> ".md5")
    intercept[java.io.IOException](torn.write("rv/k.gz", "v2".getBytes))
    assert(new String(store.read("rv/k.gz")) == "v2")
    assert(store.list("rv/").map(_.md5) == Seq(Some(Store.md5Hex("v2".getBytes))))
  }
}

/** The local filesystem, except that every output stream to a name
  * ending in [[FailingLocalFileSystem.FailSuffix]] (default: any name)
  * fails with an `IOException` once it has taken
  * [[FailingLocalFileSystem.FailAfterBytes]] bytes: a crash in the
  * middle of a write, as a store sees it. */
class FailingLocalFileSystem extends LocalFileSystem {
  override def create(f: HPath, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    val inner = super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
    if (!f.getName.endsWith(getConf.get(FailingLocalFileSystem.FailSuffix, ""))) return inner
    val limit = getConf.getInt(FailingLocalFileSystem.FailAfterBytes, Int.MaxValue)
    new FSDataOutputStream(new OutputStream {
      private var taken = 0
      override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        val n = math.min(len, limit - taken)
        inner.write(b, off, n)
        taken += n
        if (n < len) throw new java.io.IOException(s"injected failure after $taken bytes: $f")
      }
      override def close(): Unit = inner.close()
    }, statistics)
  }
}

/** Stores on the local filesystem that keep every call on Hadoop's
  * checksummed `LocalFileSystem` (an `fs.file.impl` override turns the
  * local fast path off). */
object HadoopLocal {
  def store(dir: java.nio.file.Path): HadoopFsStore =
    new HadoopFsStore("file://" + dir, Map("fs.file.impl" -> classOf[LocalFileSystem].getName))
}

object FailingLocalFileSystem {
  val FailAfterBytes = "graft.test.failAfterBytes"
  val FailSuffix = "graft.test.failSuffix"

  /** A store on `dir` whose filesystem is a fresh (uncached) instance of
    * this class, configured by `failure`. */
  def store(dir: java.nio.file.Path, failure: (String, String)*): HadoopFsStore =
    new HadoopFsStore("file://" + dir, Map(
      "fs.file.impl" -> classOf[FailingLocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true") ++ failure)
}
