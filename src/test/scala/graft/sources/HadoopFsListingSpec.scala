package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.scalatest.funsuite.AnyFunSuite

/** [[HadoopFsStore.list]] walks only the directories a prefix can reach.
  * These specs pin that it still returns exactly what a whole-tree walk
  * filtered by the prefix returns, on `file://` and on the
  * object-store-shaped `graftmem://`, and that it does not list outside
  * the prefix's directory or build `LocatedFileStatus`es. */
class HadoopFsListingSpec extends AnyFunSuite {

  private val memConf = Map(
    "fs.graftmem.impl" -> classOf[GraftMemFileSystem].getName,
    "fs.AbstractFileSystem.graftmem.impl" -> classOf[GraftMemAbstractFs].getName)

  /** A filesystem under test: the store, a raw writer that bypasses the
    * store (no sidecar), and every file under the root as name -> bytes. */
  private case class Fixture(store: HadoopFsStore,
                             raw: (String, Array[Byte]) => Unit,
                             tree: () => Map[String, Array[Byte]])

  private def fileFixture(): Fixture = {
    val dir = Files.createTempDirectory("graft_hlist")
    def tree(): Map[String, Array[Byte]] = {
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => dir.relativize(f).toString -> Files.readAllBytes(f)).toMap
      finally walk.close()
    }
    def raw(name: String, bytes: Array[Byte]): Unit = {
      val f: JPath = dir.resolve(name)
      Files.createDirectories(f.getParent)
      Files.write(f, bytes)
    }
    Fixture(new HadoopFsStore("file://" + dir), raw, () => tree())
  }

  private def memFixture(authority: String): Fixture = {
    GraftMemFileSystem.clear(authority)
    val base = s"graftmem://$authority/base"
    val fs = new HPath(base).getFileSystem {
      val c = new Configuration()
      memConf.foreach { case (k, v) => c.set(k, v) }
      c
    }
    def raw(name: String, bytes: Array[Byte]): Unit = {
      val out = fs.create(new HPath(s"$base/$name"), true)
      try out.write(bytes) finally out.close()
    }
    def tree(): Map[String, Array[Byte]] =
      GraftMemFileSystem.data(authority).iterator.collect {
        case (k, v) if k.startsWith("base/") => k.stripPrefix("base/") -> v
      }.toMap
    Fixture(new HadoopFsStore(base, memConf), raw, () => tree())
  }

  /** The listing contract, computed the slow way: the whole tree, then
    * the prefix, then hide dot-named files, then sort. */
  private def reference(tree: Map[String, Array[Byte]], prefix: String): Seq[ObjectMeta] =
    tree.iterator
      .filter { case (n, _) => n.startsWith(prefix) && !n.split('/').last.startsWith(".") }
      .map { case (n, b) => ObjectMeta(n, Some(Store.md5Hex(b)), b.length.toLong) }
      .toSeq.sortBy(_.name)

  private def populate(f: Fixture): Unit = {
    Seq("d/2017/06/a.gz", "d/2017/06/a.gz.bak", "d/2017/06/b.gz", "d/2017/07/c.gz",
        "dd/x.gz", "d/.snap/y.gz", "other/z", "top.gz")
      .foreach(n => f.store.write(n, s"bytes of $n".getBytes(UTF_8)))
    f.raw("d/2017/06/.a.gz.part", "in flight".getBytes(UTF_8)) // uncommitted temp
    f.raw("d/2017/07/ext.gz", "external".getBytes(UTF_8))      // no sidecar
  }

  private val prefixes = Seq(
    "",                   // everything
    "d",                  // partial directory name: d/ and dd/
    "d/",                 // trailing slash
    "d/2017/06/",
    "d/2017/06/a",        // partial file name
    "d/2017/06/a.gz",     // exact name, and a.gz.bak beside it
    "d/2017/06/a.gz.bak",
    "d/2017/07/ext.gz",   // the sidecar-less object
    "d/.snap/",           // inside a dot-directory
    "d/.",
    "t",
    "missing/",           // missing directory
    "missing/deeper/x",
    "d/2017/06/a.gz/",    // directory part is a file
    "d/2017/06/a.gz/x",
    "d//2017/", "d/./2017/", "../", "/", "/d/", "x:y/")

  private def assertEquivalent(f: Fixture): Unit =
    prefixes.foreach { p =>
      val want = reference(f.tree(), p)
      assert(f.store.list(p) == want, s"prefix '$p'")
    }

  test("file://: list(p) equals a filtered whole-tree walk for every prefix shape") {
    val f = fileFixture()
    populate(f)
    assert(f.store.list("d/2017/06/").map(_.name) ==
      Seq("d/2017/06/a.gz", "d/2017/06/a.gz.bak", "d/2017/06/b.gz"))
    assertEquivalent(f)
  }

  test("graftmem://: list(p) equals a filtered whole-tree walk for every prefix shape") {
    val f = memFixture("equiv")
    populate(f)
    assert(f.store.list("d/2017/06/").map(_.name) ==
      Seq("d/2017/06/a.gz", "d/2017/06/a.gz.bak", "d/2017/06/b.gz"))
    assertEquivalent(f)
  }

  test("a missing root lists empty on file:// and graftmem://") {
    val gone = Files.createTempDirectory("graft_hlist_gone")
    Files.delete(gone)
    val stores = Seq(new HadoopFsStore("file://" + gone),
      { GraftMemFileSystem.clear("gone"); new HadoopFsStore("graftmem://gone/base", memConf) })
    for (s <- stores; p <- Seq("", "d/", "d/x")) assert(s.list(p).isEmpty, s"$s '$p'")
  }

  test("graftmem://: list touches only the prefix's directory and builds no located statuses") {
    val f = memFixture("traffic")
    Seq("rv/2024/01/a.gz", "rv/2024/02/b.gz", "rv/2024/02/c.gz", "rv/current/b.gz",
        "rvx/y.gz", "other/2024/02/z.gz")
      .foreach(n => f.store.write(n, n.getBytes(UTF_8)))

    GraftMemFileSystem.resetTraffic("traffic")
    assert(f.store.list("rv/2024/02/b").map(_.name) == Seq("rv/2024/02/b.gz"))
    assert(GraftMemFileSystem.listedKeys("traffic") == Seq("base/rv/2024/02"))
    assert(GraftMemFileSystem.locatedCount("traffic") == 0)

    GraftMemFileSystem.resetTraffic("traffic")
    assert(f.store.list("rv/").map(_.name) ==
      Seq("rv/2024/01/a.gz", "rv/2024/02/b.gz", "rv/2024/02/c.gz", "rv/current/b.gz"))
    val listed = GraftMemFileSystem.listedKeys("traffic")
    assert(listed.nonEmpty && listed.forall(k => k == "base/rv" || k.startsWith("base/rv/")),
      listed.mkString(", "))
    assert(GraftMemFileSystem.locatedCount("traffic") == 0)
  }
}
