package graft.sources

import java.io.{ByteArrayOutputStream, FileNotFoundException, IOException}
import java.net.URI
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** An IN-MEMORY Hadoop `FileSystem` under the `graftmem://` scheme — a
  * test double for a REMOTE object filesystem (the role GCS plays for
  * the reference, /root/reference/file/api.go:44-87), so
  * [[HadoopFsStore]]'s list/copy/delete/rename semantics are proven
  * through the generic `FileSystem`/`FileContext` API surface and not
  * the `java.nio` fast path it takes on a `file:` root, which the other
  * specs ride.
  *
  * Deliberately object-store-shaped: a flat key → bytes map per
  * authority; directories exist only implicitly (as key prefixes) plus
  * whatever `mkdirs` recorded — like S3/GCS prefixes, not inodes.
  */
object GraftMemFileSystem {
  /** authority → (path → bytes); keyed so concurrent suites isolate. */
  val stores = TrieMap.empty[String, TrieMap[String, Array[Byte]]]
  val dirs = TrieMap.empty[String, TrieMap[String, Unit]]
  def data(auth: String): TrieMap[String, Array[Byte]] =
    stores.getOrElseUpdate(auth, TrieMap.empty)
  def dirSet(auth: String): TrieMap[String, Unit] =
    dirs.getOrElseUpdate(auth, TrieMap.empty)

  /** Listing traffic per authority, so specs can pin what a listing
    * touches: the keys `listStatus` was called on, in call order, and
    * the number of `listLocatedStatus` calls (which `listFiles` makes). */
  val listed = TrieMap.empty[String, ConcurrentLinkedQueue[String]]
  val locatedCalls = TrieMap.empty[String, AtomicInteger]
  def listedKeys(auth: String): Seq[String] =
    listed.getOrElseUpdate(auth, new ConcurrentLinkedQueue).asScala.toSeq
  def locatedCount(auth: String): Int =
    locatedCalls.getOrElseUpdate(auth, new AtomicInteger).get
  def resetTraffic(auth: String): Unit = { listed.remove(auth); locatedCalls.remove(auth) }

  def clear(auth: String): Unit = {
    stores.remove(auth); dirs.remove(auth); resetTraffic(auth)
  }

  /** Seekable+PositionedReadable byte-array stream for FSDataInputStream. */
  class BytesIn(bytes: Array[Byte]) extends java.io.ByteArrayInputStream(bytes)
      with Seekable with PositionedReadable {
    def seek(p: Long): Unit = { pos = p.toInt }
    def getPos: Long = pos.toLong
    def seekToNewSource(targetPos: Long): Boolean = false
    def read(position: Long, buffer: Array[Byte], offset: Int, length: Int): Int = {
      if (position >= bytes.length) return -1
      val n = math.min(length, bytes.length - position.toInt)
      System.arraycopy(bytes, position.toInt, buffer, offset, n)
      n
    }
    def readFully(position: Long, buffer: Array[Byte], offset: Int, length: Int): Unit =
      if (read(position, buffer, offset, length) < length)
        throw new java.io.EOFException()
    def readFully(position: Long, buffer: Array[Byte]): Unit =
      readFully(position, buffer, 0, buffer.length)
  }
}

class GraftMemFileSystem extends FileSystem {
  import GraftMemFileSystem._

  private var uri: URI = _
  private var workDir: Path = _

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    uri = URI.create(s"graftmem://${name.getAuthority}")
    workDir = new Path(s"graftmem://${name.getAuthority}/")
    setConf(conf)
  }
  override def getScheme: String = "graftmem"
  override def getUri: URI = uri
  // FileContext's AbstractFileSystem binding requires a valid default
  // port when the URI carries an authority
  override def getDefaultPort: Int = 5555

  private def auth: String = uri.getAuthority
  private def key(f: Path): String =
    makeQualified(f).toUri.getPath.stripPrefix("/")

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val bytes = data(auth).getOrElse(key(f),
      throw new FileNotFoundException(f.toString))
    new FSDataInputStream(new BytesIn(bytes))
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    val k = key(f)
    if (!overwrite && data(auth).contains(k))
      throw new FileAlreadyExistsException(f.toString)
    // object-store semantics: the key appears only when the stream closes
    val buf = new ByteArrayOutputStream() {
      override def close(): Unit = { super.close(); data(auth).put(k, toByteArray) }
    }
    new FSDataOutputStream(buf, statistics)
  }

  override def append(f: Path, bufferSize: Int,
                      progress: Progressable): FSDataOutputStream =
    throw new IOException("append unsupported (object-store semantics)")

  override def rename(src: Path, dst: Path): Boolean =
    data(auth).remove(key(src)) match {
      case Some(bytes) => data(auth).put(key(dst), bytes); true
      case None => false
    }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    val k = key(f)
    if (data(auth).remove(k).isDefined) return true
    val children = data(auth).keys.filter(_.startsWith(k + "/")).toSeq
    if (children.nonEmpty) {
      if (!recursive) throw new IOException(s"non-empty directory: $f")
      children.foreach(data(auth).remove)
      return true
    }
    dirSet(auth).remove(k).isDefined
  }

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    locatedCalls.getOrElseUpdate(auth, new AtomicInteger).incrementAndGet()
    super.listLocatedStatus(f)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    val k = key(f)
    listed.getOrElseUpdate(auth, new ConcurrentLinkedQueue).add(k)
    if (data(auth).contains(k)) return Array(getFileStatus(f))
    val prefix = if (k.isEmpty) "" else k + "/"
    val names = (data(auth).keys ++ dirSet(auth).keys)
      .filter(n => n.startsWith(prefix) && n.length > prefix.length)
      .map(n => n.substring(prefix.length).split('/').head)
      .toSet
    if (names.isEmpty && k.nonEmpty && !dirSet(auth).contains(k))
      throw new FileNotFoundException(f.toString)
    names.toArray.sorted.map(n =>
      getFileStatus(new Path(s"graftmem://$auth/$prefix$n")))
  }

  override def setWorkingDirectory(d: Path): Unit = { workDir = d }
  override def getWorkingDirectory: Path = workDir

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    dirSet(auth).put(key(f), ()); true
  }

  override def getFileStatus(f: Path): FileStatus = {
    val k = key(f)
    data(auth).get(k) match {
      case Some(bytes) =>
        new FileStatus(bytes.length.toLong, false, 1, 128L * 1024 * 1024, 0L,
          makeQualified(f))
      case None =>
        val isDir = k.isEmpty || dirSet(auth).contains(k) ||
          data(auth).keys.exists(_.startsWith(k + "/"))
        if (!isDir) throw new FileNotFoundException(f.toString)
        new FileStatus(0L, true, 1, 128L * 1024 * 1024, 0L, makeQualified(f))
    }
  }
}

/** `FileContext` binding for graftmem:// (HadoopFsStore's atomic-rename
  * commit path goes through FileContext, which resolves
  * `fs.AbstractFileSystem.<scheme>.impl`, not `fs.<scheme>.impl`). */
class GraftMemAbstractFs(theUri: URI, conf: Configuration)
  extends DelegateToFileSystem(
    theUri, new GraftMemFileSystem(), conf, "graftmem", true)
