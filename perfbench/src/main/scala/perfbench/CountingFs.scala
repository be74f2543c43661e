package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem with call counters, registered as `fs.file.impl`
  * in traced runs. Hadoop's local-FS statistics count bytes but report
  * no operations, so this counts the calls Engine and Spark make on
  * paths under the warehouse root, and records a span for each call made
  * from the benchmark's client thread. */
class CountingFs extends LocalFileSystem {
  private def count[T](kind: String, p: Path)(body: => T): T =
    if (!CountingFs.active || !CountingFs.inWarehouse(p)) body
    else {
      val s = Clock.nowNs
      try body
      finally {
        CountingFs.counters(kind).incrementAndGet()
        val t = CountingFs.tracer
        if (t != null) t.fsCall(s"fs.$kind", s)
      }
    }

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    count("open", f)(super.open(f, bufferSize))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    count("create", f)(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean =
    count("rename", src)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    count("delete", f)(super.delete(f, recursive))
  override def listStatus(f: Path): Array[FileStatus] =
    count("list", f)(super.listStatus(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    count("mkdirs", f)(super.mkdirs(f, permission))
  override def getFileStatus(f: Path): FileStatus =
    count("stat", f)(super.getFileStatus(f))
}

object CountingFs {
  val kinds = Seq("open", "create", "rename", "delete", "list", "mkdirs", "stat")
  val counters: Map[String, AtomicLong] = kinds.map(_ -> new AtomicLong).toMap
  @volatile var active = false
  @volatile var root = "\u0000"
  @volatile var tracer: Tracer = null

  def inWarehouse(p: Path): Boolean = p.toUri.getPath.startsWith(root)
  def snapshot(): Map[String, Long] = counters.map { case (k, v) => k -> v.get }
  def delta(from: Map[String, Long]): Map[String, Long] =
    counters.map { case (k, v) => k -> (v.get - from.getOrElse(k, 0L)) }
}
