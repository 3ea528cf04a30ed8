package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Compares the store's files on disk with the [[World]]'s model after an
  * iteration, without going through the program's store code. */
final class StoreCheck(root: Path, world: World) {
  /** object name -> (size, mtime) whose content md5 was already verified;
    * archived objects are immutable, so each is hashed once. */
  private val verified = mutable.HashMap.empty[String, (Long, Long)]

  /** Objects visible to `Store.list` in the last check. */
  var visibleObjects = 0L
  /** Bytes of every file under the root in the last check. */
  var diskBytes = 0L
  /** Bytes of the distinct payloads archived, in the last check. */
  var uniqueBytes = 0L

  private def md5File(p: Path): String = {
    val in = Files.newInputStream(p)
    try {
      val d = java.security.MessageDigest.getInstance("MD5")
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) { d.update(buf, 0, n); n = in.read(buf) }
      d.digest().map("%02x".format(_)).mkString
    } finally in.close()
  }

  /** Mismatches between the store and the model (empty when they agree). */
  def check(): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    val files: Seq[(String, Path)] =
      if (!Files.exists(root)) Nil
      else {
        val walk = Files.walk(root)
        try walk.iterator().asScala.filter(Files.isRegularFile(_))
          .map(p => root.relativize(p).toString -> p).toSeq
        finally walk.close()
      }
    diskBytes = files.map(f => Files.size(f._2)).sum
    val (hidden, visible) = files.partition { case (n, _) => n.split('/').last.startsWith(".") }
    visibleObjects = visible.size.toLong
    hidden.collect { case (n, _) if n.endsWith(".part") => bad += s"leftover temp file $n" }
    val sidecars = hidden.map(_._1).toSet
    def sidecarOf(n: String): String = {
      val i = n.lastIndexOf('/')
      n.substring(0, i + 1) + "." + n.substring(i + 1) + ".md5"
    }
    val archived = mutable.HashMap.empty[String, (String, Long)] // name -> (md5, size)
    visible.foreach { case (n, p) =>
      if (n.startsWith("_meta/watermark/")) {
        val ds = n.stripPrefix("_meta/watermark/")
        val got = new String(Files.readAllBytes(p), UTF_8).trim
        world.watermark.get(ds) match {
          case Some(w) if got == w.toString =>
          case other => bad += s"watermark $ds: store $got, model ${other.getOrElse("none")}"
        }
      } else if (n.contains("/current/")) {
        val got = md5File(p)
        if (!world.current.get(n).contains(got))
          bad += s"current $n holds $got, model ${world.current.get(n)}"
      } else {
        val sc = sidecarOf(n)
        if (!sidecars.contains(sc)) bad += s"object $n has no md5 sidecar"
        else {
          val md5 = new String(Files.readAllBytes(root.resolve(sc)), UTF_8)
          val stamp = (Files.size(p), Files.getLastModifiedTime(p).toMillis)
          if (!verified.get(n).contains(stamp)) {
            val real = md5File(p)
            if (real != md5) bad += s"object $n: sidecar $md5, content $real"
            else verified(n) = stamp
          }
          archived(n) = (md5, stamp._1)
          world.kept.get(n) match {
            case Some(m) if m == md5 =>
            case Some(m) => bad += s"object $n: md5 $md5, model $m"
            case None => bad += s"unexpected object $n"
          }
        }
      }
    }
    world.kept.keys.filterNot(archived.contains).toSeq.sorted.take(5)
      .foreach(n => bad += s"missing object $n")
    world.watermark.keys.filterNot(ds => visible.exists(_._1 == s"_meta/watermark/$ds"))
      .foreach(ds => bad += s"missing watermark $ds")
    world.current.keys.filterNot(c => visible.exists(_._1 == c))
      .foreach(c => bad += s"missing current pointer $c")
    // dedup: no two objects of one scope share an md5. RouteViews names
    // are their own scope; fixed-feed names share their month directory.
    archived.toSeq.groupBy { case (n, _) =>
      if (n.startsWith(world.fixedDataset + "/")) world.fixedScope(n) else n
    }.foreach { case (scope, objs) =>
      objs.groupBy(_._2._1).foreach { case (md5, same) =>
        if (same.size > 1) bad += s"scope $scope holds ${same.size} objects with md5 $md5"
      }
    }
    uniqueBytes = archived.values.groupBy(_._1).values.map(_.head._2).sum
    bad.toSeq
  }
}
