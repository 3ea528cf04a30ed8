package graft.sources

import java.io.{ByteArrayInputStream, FileNotFoundException, IOException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, Path => JPath}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, LocalFileSystem, Path => HPath}

/** Durable [[Store]] over any Hadoop `FileSystem` URI — `file://`,
  * `hdfs://`, `s3a://`, whatever the classpath provides — the cluster
  * deployment path for the archive pipeline (the reference's cloud
  * object store, /root/reference/file/api.go:44-87, behind the same
  * trait the tests fake).
  *
  * MD5 handling: unlike GCS (which serves an MD5 attribute per object,
  * file/api.go:61), generic filesystems store none — so the digest
  * computed on-the-fly during the streamed write is persisted in a
  * dot-prefixed sidecar (`.<name>.md5`) next to the object. Listing
  * reads the tiny sidecar instead of re-hashing the blob; a missing or
  * malformed sidecar (externally-written object, torn sidecar write)
  * falls back to streaming the object through the digest once.
  * Dot-prefixed names are invisible to [[list]] — the same convention
  * that hides in-flight `.part` temps. Every step that replaces an
  * object's bytes drops its old sidecar first, so a crash between the
  * steps leaves an object that lists with its recomputed digest, never
  * with the previous content's.
  *
  * Write semantics mirror the reference's GCS writer (commit on Close,
  * download/common.go:102-109): bytes stream to a `.part` temp and the
  * final name appears only via rename after a complete drain — a
  * mid-stream failure never leaves a truncated object. [[write]] goes
  * through the same commit, so a crash mid-save leaves the previously
  * committed value (a watermark, say) readable.
  *
  * Local fast path: on the local filesystem (a `file:` root with no
  * `fs.file.impl` override) [[writeStream]], [[copy]] and [[delete]] go
  * through `java.nio` with the same steps. Hadoop's local filesystem
  * without its native library forks a `chmod` for every file it creates
  * (the `.part` temp, the sidecar, and a `.crc` checksum file beside
  * each) and renames through a `FileContext` and several status calls,
  * so one 5-byte write through it takes 44-57 ms, most of it in child
  * processes, whose cost swings with the load on the host. Written
  * directly, a write creates no `.crc` and deletes the one a Hadoop
  * write may have left for the same name before the new bytes land, so
  * Hadoop's checksummed reads never check new bytes against an old
  * checksum.
  * Listing and reading stay on Hadoop, which forks for neither. An
  * `fs.file.impl` override keeps every call on the configured class.
  *
  * Listing cost: [[list]] walks with `listStatus`, starting at the
  * prefix's directory part (the prefix up to its last `/`) and entering
  * only subdirectories that can still hold a match — one `listStatus`
  * per such directory, so a scope's cost follows the scope, not the
  * size of the whole store. It builds no `LocatedFileStatus`, so the
  * local filesystem without native Hadoop never forks a per-entry
  * `ls -ld` to load permissions, and sidecar presence comes from the
  * same directory listing instead of one `exists` per object. On
  * object stores (s3a, gcs) the walk issues one LIST request per
  * directory under the prefix's directory where a flat recursive
  * listing would issue one paged LIST; a scope never lists more entries
  * than a whole-root walk would.
  *
  * Serializable by construction (executors write blobs task-side): the
  * handle carries only the root URI + conf overrides; `Configuration`
  * and the `FileSystem` client rebuild lazily per JVM.
  */
class HadoopFsStore(rootUri: String,
                    confOverrides: Map[String, String] = Map.empty) extends Store {

  @transient private lazy val conf: Configuration = {
    val c = new Configuration()
    confOverrides.foreach { case (k, v) => c.set(k, v) }
    c
  }
  @transient private lazy val root: HPath = new HPath(rootUri)
  @transient private lazy val fs: FileSystem = root.getFileSystem(conf)
  /** The root as a local path when the local fast path applies. */
  @transient private lazy val localRoot: Option[JPath] =
    if (fs.isInstanceOf[LocalFileSystem] && conf.get("fs.file.impl") == null)
      Some(Paths.get(fs.makeQualified(root).toUri))
    else None

  private def p(name: String): HPath = new HPath(root, name)
  private def sidecarName(name: String): String = "." + name + ".md5"
  private def sidecar(path: HPath): HPath =
    new HPath(path.getParent, sidecarName(path.getName))

  private def writeSidecar(path: HPath, md5: String): Unit = {
    val out = fs.create(sidecar(path), true)
    try out.write(md5.getBytes(UTF_8)) finally out.close()
  }

  /** The object's md5: its sidecar when `siblings` (the names listed in
    * its directory) holds a well-formed one, else the digest of its
    * bytes (conservative, like the reference's missing-hash ⇒
    * treat-as-new path it feeds into). */
  private def md5Of(path: HPath, siblings: Set[String]): String = {
    val recorded =
      if (!siblings(sidecarName(path.getName))) None
      else {
        val in = fs.open(sidecar(path))
        val s = try new String(in.readAllBytes(), UTF_8) finally in.close()
        Some(s).filter(HadoopFsStore.Md5Hex.matches)
      }
    recorded.getOrElse {
      val in = fs.open(path)
      try Store.drain(in, OutputStream.nullOutputStream())._2 finally in.close()
    }
  }

  def list(prefix: String): Seq[ObjectMeta] = {
    val rootPath = fs.makeQualified(root).toUri.getPath.stripSuffix("/") + "/"
    val buf = Seq.newBuilder[ObjectMeta]
    def walk(dir: HPath): Unit = {
      val entries =
        try fs.listStatus(dir) catch { case _: FileNotFoundException => Array.empty[FileStatus] }
      lazy val names = entries.iterator.map(_.getPath.getName).toSet
      entries.foreach { st =>
        val rel = st.getPath.toUri.getPath.stripPrefix(rootPath)
        if (st.isDirectory) {
          // below `rel/` a name can match only if one prefix extends the other
          if ((rel + "/").startsWith(prefix) || prefix.startsWith(rel + "/")) walk(st.getPath)
        } else if (!st.getPath.getName.startsWith(".") && rel.startsWith(prefix)) {
          buf += ObjectMeta(rel, Some(md5Of(st.getPath, names)), st.getLen)
        }
      }
    }
    walk(walkStart(prefix, rootPath))
    buf.result().sortBy(_.name)
  }

  /** The directory named by `prefix` up to its last `/`; the root when
    * that part is empty or does not name a path under the root (`..`, a
    * scheme-like `a:` segment), where the walk's filters alone decide. */
  private def walkStart(prefix: String, rootPath: String): HPath =
    Try(fs.makeQualified(p(prefix.substring(0, prefix.lastIndexOf('/') + 1)))).toOption
      .filter(d => (d.toUri.getPath + "/").startsWith(rootPath))
      .getOrElse(root)

  def read(name: String): Array[Byte] = {
    val in = fs.open(p(name))
    try in.readAllBytes() finally in.close()
  }

  def write(name: String, content: Array[Byte]): Unit =
    writeStream(name, new ByteArrayInputStream(content))

  override def writeStream(name: String, in: InputStream): (Long, String) = localRoot match {
    case Some(r) => HadoopFsStore.LocalOps.writeStream(r.resolve(name), in)
    case None => hadoopWriteStream(name, in)
  }

  private def hadoopWriteStream(name: String, in: InputStream): (Long, String) = {
    val target = p(name)
    val tmp = new HPath(target.getParent, "." + target.getName + ".part")
    val out = fs.create(tmp, true) // creates parent dirs
    try {
      val res = try Store.drain(in, out) finally out.close()
      fs.delete(sidecar(target), false)
      // FileContext rename with OVERWRITE is atomic where the filesystem
      // supports it (file://, hdfs://) — no delete-then-rename window in
      // which a crash loses the previously committed object
      org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, conf)
        .rename(fs.makeQualified(tmp), fs.makeQualified(target),
          org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      writeSidecar(target, res._2)
      res
    } catch {
      case e: Throwable => fs.delete(tmp, false); throw e
    }
  }

  /** Within-filesystem copy (the `CopyTo` promotion, file/api.go:81-87).
    * The generic `FileSystem` API has no server-side copy verb, so bytes
    * stream through this client — HDFS/S3A deployments can swap in
    * distcp / S3 multipart-copy behind the same trait method when the
    * current-pointer objects get large. The destination's sidecar is
    * the source's, or none when the source has none. */
  def copy(src: String, dst: String): Unit = localRoot match {
    case Some(r) => HadoopFsStore.LocalOps.copy(r.resolve(src), r.resolve(dst))
    case None => hadoopCopy(src, dst)
  }

  private def hadoopCopy(src: String, dst: String): Unit = {
    val dstSidecar = sidecar(p(dst))
    fs.delete(dstSidecar, false)
    if (!FileUtil.copy(fs, p(src), fs, p(dst), false, true, conf))
      throw PermanentError(s"copy failed: $src -> $dst")
    val sc = sidecar(p(src))
    if (fs.exists(sc)) FileUtil.copy(fs, sc, fs, dstSidecar, false, true, conf)
  }

  /** Delete failure is the reference's permanent error (common.go:128).
    * The sidecar goes first: an orphaned one could later describe an
    * externally-written object of the same name. */
  def delete(name: String): Unit = localRoot match {
    case Some(r) =>
      try HadoopFsStore.LocalOps.delete(r.resolve(name))
      catch { case e: IOException => throw PermanentError(s"delete failed: $name", e) }
    case None => hadoopDelete(name)
  }

  private def hadoopDelete(name: String): Unit = {
    fs.delete(sidecar(p(name)), false)
    if (!fs.delete(p(name), false) && fs.exists(p(name)))
      throw PermanentError(s"delete failed: $name")
  }
}

object HadoopFsStore {
  private val Md5Hex = "[0-9a-f]{32}".r

  /** The local fast path's steps, over the same file layout as the
    * Hadoop path: `.<name>.md5` sidecars, `.<name>.part` temps, and the
    * `.<name>.crc` checksums Hadoop keeps, which these steps remove and
    * never write. */
  private object LocalOps {
    private def hidden(p: JPath, suffix: String): JPath =
      p.resolveSibling("." + p.getFileName + suffix)
    private def sidecar(p: JPath): JPath = hidden(p, ".md5")

    /** Delete a file and its `.crc`; true when the file existed. */
    private def drop(p: JPath): Boolean = {
      Files.deleteIfExists(hidden(p, ".crc"))
      Files.deleteIfExists(p)
    }

    def writeStream(target: JPath, in: InputStream): (Long, String) = {
      Files.createDirectories(target.getParent)
      val tmp = hidden(target, ".part")
      try {
        val out = Files.newOutputStream(tmp)
        val res = try Store.drain(in, out) finally out.close()
        drop(sidecar(target))
        Files.deleteIfExists(hidden(target, ".crc"))
        // atomic on one filesystem: a crash leaves the old or the new bytes
        Files.move(tmp, target, REPLACE_EXISTING, ATOMIC_MOVE)
        Files.write(sidecar(target), res._2.getBytes(UTF_8))
        res
      } catch {
        case e: Throwable => Files.deleteIfExists(tmp); throw e
      }
    }

    def copy(src: JPath, dst: JPath): Unit = {
      drop(sidecar(dst))
      Files.deleteIfExists(hidden(dst, ".crc"))
      Files.createDirectories(dst.getParent)
      Files.copy(src, dst, REPLACE_EXISTING)
      if (Files.exists(sidecar(src))) Files.copy(sidecar(src), sidecar(dst), REPLACE_EXISTING)
    }

    def delete(target: JPath): Unit = {
      drop(sidecar(target))
      drop(target)
    }
  }
}
