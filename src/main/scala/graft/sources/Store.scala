package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Object metadata row: the engine's core catalog relation
  * `(name STRING, md5 BINARY-as-hex)` — see /root/reference/file/api.go:52-65
  * (`NamesToMD5`). MD5 carried as lowercase hex so it joins directly
  * against Spark's `md5()` output.
  */
case class ObjectMeta(name: String, md5: Option[String], size: Long)

/** Object-store abstraction mirroring the mockable surface of the
  * reference (/root/reference/file/api.go:25-35: `Store`/`Object`) —
  * list-by-prefix, streamed write, server-side copy, delete — with the
  * *spec'd* prefix-scoped listing semantics (the tested behavior at
  * /root/reference/download/common_test.go:34-43; the GCS impl's
  * whole-bucket listing at file/api.go:53 is a known bug we do not
  * replicate). Scoped in cost as well as in result: [[HadoopFsStore]]
  * lists only the directories under the prefix's directory part, not
  * the whole root, so a dedup scope's listing does not grow with the
  * rest of the store.
  *
  * Implementations must be [[Serializable]]: writes fan out from
  * executors (`foreachPartition`), so the handle ships with the task
  * closure. Catalog reads surface as a DataFrame so dedup is a relational
  * anti-join, not a driver-side map probe.
  */
trait Store extends Serializable {
  def list(prefix: String): Seq[ObjectMeta]
  def read(name: String): Array[Byte]
  def write(name: String, content: Array[Byte]): Unit
  def copy(src: String, dst: String): Unit
  def delete(name: String): Unit

  /** Streamed write (the reference's `io.Copy` into the object writer,
    * download/common.go:102-109), returning (bytes, md5-hex) computed on
    * the fly so dedup never re-reads the payload. The DEFAULT buffers
    * the whole payload (write() takes bytes), so it is only suitable for
    * blobs that fit in memory — true O(buffer) streaming is up to the
    * impl (LocalFsStore streams straight to disk).
    */
  def writeStream(name: String, in: java.io.InputStream): (Long, String) = {
    val out = new java.io.ByteArrayOutputStream()
    val res = Store.drain(in, out)
    write(name, out.toByteArray)
    res
  }

  /** The catalog relation for a scope, as a DataFrame. */
  def catalog(spark: SparkSession, prefix: String): DataFrame = {
    import spark.implicits._
    spark.createDataset(list(prefix)).toDF()
  }
}

object Store {
  def md5Hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(bytes)
      .map("%02x".format(_)).mkString

  /** Drain `in` into `out` through a fixed buffer, returning
    * (bytes, md5-hex) computed on the fly. */
  private[sources] def drain(in: java.io.InputStream,
                             out: java.io.OutputStream): (Long, String) = {
    val digest = MessageDigest.getInstance("MD5")
    val buf = new Array[Byte](8192)
    var total = 0L
    var n = in.read(buf)
    while (n >= 0) {
      if (n > 0) { out.write(buf, 0, n); digest.update(buf, 0, n); total += n }
      n = in.read(buf)
    }
    (total, digest.digest().map("%02x".format(_)).mkString)
  }
}

/** In-memory store for tests (the fake-store pattern of
  * /root/reference/download/common_test.go:23-82, including failure
  * injection by name suffix). Single-JVM only — fine under local[*].
  *
  * State lives in a JVM-global map keyed by store id: task closures are
  * serialized even in local mode, so a plain field would make executor
  * writes land in a deserialized copy and vanish.
  */
object InMemoryStore {
  private val stores = TrieMap.empty[String, TrieMap[String, Array[Byte]]]
}

class InMemoryStore extends Store {
  private val id = java.util.UUID.randomUUID().toString
  private def objects = InMemoryStore.stores.getOrElseUpdate(id, TrieMap.empty)

  def list(prefix: String): Seq[ObjectMeta] =
    objects.iterator
      .filter { case (k, _) => k.startsWith(prefix) }
      .map { case (k, v) => ObjectMeta(k, Some(Store.md5Hex(v)), v.length.toLong) }
      .toSeq.sortBy(_.name)

  def read(name: String): Array[Byte] =
    objects.getOrElse(name, throw new NoSuchElementException(name))

  def write(name: String, content: Array[Byte]): Unit =
    objects.put(name, content)

  def copy(src: String, dst: String): Unit = {
    if (src.endsWith("copyFail")) throw PermanentError(s"injected copy failure: $src")
    objects.put(dst, read(src))
  }

  def delete(name: String): Unit = {
    if (name.endsWith("deleteFail")) throw PermanentError(s"injected delete failure: $name")
    objects.remove(name)
  }
}

/** Local-filesystem store: names are relative paths under `root`. The
  * production analog is an HDFS-/object-store-backed impl behind the same
  * trait.
  */
class LocalFsStore(rootDir: String) extends Store {
  private def root: Path = Paths.get(rootDir)
  private def p(name: String): Path = root.resolve(name)

  def list(prefix: String): Seq[ObjectMeta] = {
    if (!Files.exists(root)) return Seq.empty
    val walk = Files.walk(root)
    try {
      walk.iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(f => root.relativize(f).toString)
        // in-flight .part temp files are not committed objects
        .filterNot(_.split('/').last.startsWith("."))
        .filter(_.startsWith(prefix))
        .map { n =>
          val bytes = Files.readAllBytes(p(n))
          ObjectMeta(n, Some(Store.md5Hex(bytes)), bytes.length.toLong)
        }
        .toSeq.sortBy(_.name)
    } finally walk.close() // Files.walk holds open DirectoryStreams
  }

  def read(name: String): Array[Byte] = Files.readAllBytes(p(name))

  def write(name: String, content: Array[Byte]): Unit = {
    Files.createDirectories(p(name).getParent)
    Files.write(p(name), content)
  }

  /** True O(buffer) streaming: bytes flow disk-ward as they arrive, via
    * a dot-prefixed temp file committed by rename only on success — a
    * mid-stream failure never leaves a truncated blob at the final name
    * (the reference's GCS writer likewise commits on Close). */
  override def writeStream(name: String, in: java.io.InputStream): (Long, String) = {
    val target = p(name)
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling("." + target.getFileName + ".part")
    val out = Files.newOutputStream(tmp)
    try {
      val res = try Store.drain(in, out) finally out.close()
      Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
      res
    } catch {
      case e: Throwable => Files.deleteIfExists(tmp); throw e
    }
  }

  def copy(src: String, dst: String): Unit = {
    Files.createDirectories(p(dst).getParent)
    Files.copy(p(src), p(dst), StandardCopyOption.REPLACE_EXISTING)
  }

  def delete(name: String): Unit = Files.deleteIfExists(p(name))
}
