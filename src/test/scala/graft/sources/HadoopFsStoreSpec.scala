package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import graft.SparkSpec
import graft.core.Metrics
import graft.plans.{ArchivePipeline, SourceConfig}

import scala.util.matching.Regex

/** [[HadoopFsStore]] proven OFF the local-FS fast path: every test runs
  * against [[GraftMemFileSystem]], an in-memory object-store-shaped
  * Hadoop `FileSystem` under `graftmem://` — the seam the cloud
  * deployment depends on (the reference's GCS binding,
  * /root/reference/file/api.go:44-87, behind the same Store trait).
  * Covers the trait contract (list/read/write/copy/delete/writeStream
  * with MD5 sidecars), the FileContext atomic-rename commit, and the
  * full ArchivePipeline + current-pointer-repair flows end to end.
  */
class HadoopFsStoreSpec extends SparkSpec {

  private def mkStore(authority: String): HadoopFsStore = {
    GraftMemFileSystem.clear(authority)
    new HadoopFsStore(s"graftmem://$authority/base", Map(
      "fs.graftmem.impl" -> classOf[GraftMemFileSystem].getName,
      "fs.AbstractFileSystem.graftmem.impl" -> classOf[GraftMemAbstractFs].getName))
  }

  /** Write an object straight through the filesystem, with no sidecar. */
  private def writeOutOfBand(authority: String, name: String, content: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(s"graftmem://$authority/base/$name")
    val fs = path.getFileSystem({
      val c = new org.apache.hadoop.conf.Configuration()
      c.set("fs.graftmem.impl", classOf[GraftMemFileSystem].getName)
      c
    })
    val out = fs.create(path, true)
    try out.write(content.getBytes(UTF_8)) finally out.close()
  }

  test("store contract on graftmem://: write/read/list/copy/delete with MD5 sidecars") {
    val store = mkStore("contract")
    store.write("rv/2024/01/a.gz", "alpha".getBytes(UTF_8))
    store.write("rv/2024/02/b.gz", "beta".getBytes(UTF_8))
    assert(new String(store.read("rv/2024/01/a.gz"), UTF_8) == "alpha")

    // list: prefix-scoped, sorted, md5 from the sidecar, dot-files hidden
    val all = store.list("rv/")
    assert(all.map(_.name) == Seq("rv/2024/01/a.gz", "rv/2024/02/b.gz"))
    assert(all.head.md5.contains(Store.md5Hex("alpha".getBytes(UTF_8))))
    assert(all.head.size == 5L)
    assert(store.list("rv/2024/02/").map(_.name) == Seq("rv/2024/02/b.gz"))
    assert(store.list("nope/").isEmpty)

    // copy carries the sidecar (no re-hash of the blob on later lists)
    store.copy("rv/2024/02/b.gz", "rv/current/b.gz")
    assert(new String(store.read("rv/current/b.gz"), UTF_8) == "beta")
    assert(store.list("rv/current/").head.md5
      .contains(Store.md5Hex("beta".getBytes(UTF_8))))

    // delete removes object + sidecar; deleting a missing object is a
    // no-op, but an undeletable one would raise PermanentError upstream
    store.delete("rv/2024/01/a.gz")
    assert(store.list("rv/2024/01/").isEmpty)
    store.delete("rv/2024/01/a.gz") // idempotent

    // an object written OUT-OF-BAND (no sidecar) still lists with a
    // correct md5 — hashed once through the drain fallback
    writeOutOfBand("contract", "rv/2024/03/external.gz", "gamma")
    val ext = store.list("rv/2024/03/")
    assert(ext.map(_.name) == Seq("rv/2024/03/external.gz"))
    assert(ext.head.md5.contains(Store.md5Hex("gamma".getBytes(UTF_8))))
  }

  test("copy of a sidecar-less object over an existing one lists the new bytes' md5") {
    val store = mkStore("stalecopy")
    val current = "rv/current/b.gz"
    store.write(current, "old-bytes".getBytes(UTF_8)) // has a sidecar
    writeOutOfBand("stalecopy", "rv/2024/02/external.gz", "new-bytes")
    store.copy("rv/2024/02/external.gz", current)
    assert(new String(store.read(current), UTF_8) == "new-bytes")
    assert(store.list(current).map(_.md5) ==
      Seq(Some(Store.md5Hex("new-bytes".getBytes(UTF_8)))))
  }

  test("writeStream commits via rename: success yields (len, md5) + sidecar; failure leaves nothing") {
    val store = mkStore("stream")
    val (len, md5) = store.writeStream("rv/2024/01/x.gz",
      new java.io.ByteArrayInputStream("stream-payload".getBytes(UTF_8)))
    assert(len == 14L && md5 == Store.md5Hex("stream-payload".getBytes(UTF_8)))
    assert(new String(store.read("rv/2024/01/x.gz"), UTF_8) == "stream-payload")
    assert(store.list("rv/").head.md5.contains(md5))

    // a mid-stream failure must leave NO object at the final name and
    // NO stray .part temp in the listing
    val boom = new java.io.InputStream {
      private var n = 0
      def read(): Int = { n += 1; if (n > 3) throw new java.io.IOException("cut") else 'x' }
    }
    intercept[java.io.IOException] { store.writeStream("rv/2024/01/y.gz", boom) }
    assert(store.list("rv/").map(_.name) == Seq("rv/2024/01/x.gz"))

    // overwrite of a committed object is atomic rename, not delete+write
    val (_, md5b) = store.writeStream("rv/2024/01/x.gz",
      new java.io.ByteArrayInputStream("v2".getBytes(UTF_8)))
    assert(new String(store.read("rv/2024/01/x.gz"), UTF_8) == "v2")
    assert(store.list("rv/").head.md5.contains(md5b))
  }

  test("ArchivePipeline end-to-end on graftmem://: fetch, dedup deletion, current promotion") {
    val store = mkStore("pipeline")
    val cfg = SourceConfig(
      dataset = "RouteViewIPv4",
      pathPrefix = "RouteViewIPv4/",
      currentName = "RouteViewIPv4/current/routeviews.pfx2as.gz",
      urlRegex = Some(new Regex(""".*(\d{4}/\d{2}/)(.*)""")),
      dedupScopeRegex = new Regex("""(.*/).*"""), // month scope: dedup fires
      retryInitialMs = 1, retryMaxMs = 0)
    val manifest = "# header\n" +
      "3363\t1497717708\t2017/06/routeviews-rv2-20170616-1200.pfx2as.gz\n" +
      "3364\t1497717709\t2017/06/routeviews-rv2-20170617-1200.pfx2as.gz"
    val fetcher = new graft.plans.ArchivePipelineSpec.MapFetcher(Map(
      "20170616-1200.pfx2as.gz" -> "same-bytes",
      "20170617-1200.pfx2as.gz" -> "same-bytes")) // duplicate content
    val r = ArchivePipeline.run(spark,
      manifest, "http://example.test/rv/pfx2as-creation.log",
      cfg, store, 0L, fetcher, new Metrics(spark))
    assert(r.newWatermark == 3364L && r.failed.isEmpty)
    // second file is a content-hash duplicate: deleted from the store
    assert(r.kept == Seq("RouteViewIPv4/2017/06/routeviews-rv2-20170616-1200.pfx2as.gz"))
    assert(r.duplicates.nonEmpty)
    val names = store.list("RouteViewIPv4/").map(_.name)
    assert(names.contains("RouteViewIPv4/2017/06/routeviews-rv2-20170616-1200.pfx2as.gz"))
    assert(!names.exists(_.contains("20170617")))
    assert(names.contains(cfg.currentName))
    assert(new String(store.read(cfg.currentName), UTF_8) == "same-bytes")
  }

  test("current-pointer repair works against the remote-FS seam") {
    val store = mkStore("repair")
    val current = "rv/current/routeview.pfx2as.gz"
    store.write("rv/2024/01/20240115-routeview.pfx2as.gz", "jan".getBytes(UTF_8))
    store.write("rv/2024/02/20240210-routeview.pfx2as.gz", "feb".getBytes(UTF_8))
    store.write(current, "jan".getBytes(UTF_8)) // stale
    val promoted = graft.operators.CurrentPointer.repair(
      store, "rv/", "routeview.pfx2as.gz", current)
    assert(promoted.contains("rv/2024/02/20240210-routeview.pfx2as.gz"))
    assert(new String(store.read(current), UTF_8) == "feb")
  }
}
