package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The traced run must run the same program: the wrappers delegate every
  * call, including the streamed `fetchTo`/`writeStream` paths, so a wrapped
  * and an unwrapped run from one seed leave byte-identical stores and equal
  * metric snapshots. */
class TransparencySpec extends AnyFunSuite {

  private def tree(root: Path): Map[String, Seq[Byte]] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally walk.close()
  }

  private def run(traced: Boolean, work: Path): (Map[String, Seq[Byte]], Map[String, Long], Map[String, Double]) = {
    Trace.enabled = traced
    try {
      val w = new ArchiveWorkload(seed = 42L, work, nproc = 2)
      w.setUp()
      (1 to 2).foreach(_ => w.step())
      val out = (tree(w.storeRoot), w.metricsSnapshot,
        w.layers.metrics(0).map(m => m._1 -> m._2).toMap)
      w.tearDown()
      assert(w.mismatches.isEmpty, w.mismatches.mkString("\n"))
      out
    } finally Trace.enabled = false
  }

  test("wrapped and unwrapped runs leave identical stores and metrics") {
    val base = java.nio.file.Paths.get("target", "transparency").toAbsolutePath
    ArchiveWorkload.deleteTree(base)
    val (plainTree, plainMetrics, _) = run(traced = false, base.resolve("plain"))
    val (tracedTree, tracedMetrics, layers) = run(traced = true, base.resolve("traced"))
    assert(plainTree.keySet == tracedTree.keySet)
    plainTree.foreach { case (k, v) => assert(tracedTree(k) == v, s"$k differs") }
    assert(plainMetrics == tracedMetrics)
    // the streamed path went through the wrappers: fetches carried bytes,
    // and writeStream wrote every fetched byte
    assert(layers("sources.fetch.calls") > 0)
    assert(layers("sources.fetch.bytes") > 0)
    assert(layers("sources.store.write.bytes") >= layers("sources.fetch.bytes"))
  }

  test("the fetcher wrapper overrides and delegates both fetch and fetchTo") {
    val c = classOf[TracingFetcher]
    assert(c.getDeclaredMethod("fetch", classOf[String]) != null)
    assert(c.getDeclaredMethod("fetchTo", classOf[String], classOf[graft.sources.Store],
      classOf[String]) != null)
    assert(classOf[TracingStore].getDeclaredMethod("writeStream", classOf[String],
      classOf[java.io.InputStream]) != null)
  }
}
