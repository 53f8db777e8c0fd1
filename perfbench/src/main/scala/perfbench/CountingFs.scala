package perfbench

import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Local file-system operation counts. Hadoop's local file system keeps
  * byte counts but no operation counts, so a traced run installs these
  * counting wrappers as the `file` scheme (both the FileSystem and the
  * FileContext API), checksum files included. */
object FsOps {
  val reads = new AtomicLong()
  val writes = new AtomicLong()

  /** Session settings that route the `file` scheme through the counters. */
  val conf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[CountingLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[CountingLocalFs].getName)

  def snapshot(): Map[String, Long] =
    Map("fs_read_ops" -> reads.get, "fs_write_ops" -> writes.get)
}

/** Raw local file system counting metadata reads, opens and writes. */
class CountingRawLocalFileSystem extends RawLocalFileSystem {
  import FsOps.{reads, writes}
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet(); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = {
    reads.incrementAndGet(); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    reads.incrementAndGet(); super.listStatus(f)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet(); super.append(f, bufferSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet(); super.delete(p, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.incrementAndGet(); super.mkdirs(f, permission)
  }
}

class CountingLocalFileSystem extends LocalFileSystem(new CountingRawLocalFileSystem)

class CountingRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new CountingRawLocalFileSystem, conf,
      "file", false) {
  override def getUriDefaultPort: Int = -1
}

class CountingLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new CountingRawLocalFs(uri, conf))
