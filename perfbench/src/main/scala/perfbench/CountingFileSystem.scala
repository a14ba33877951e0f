package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local `file` file system, counting the calls the program makes
  * through Hadoop. The traced run installs it with
  * `spark.hadoop.fs.file.impl`, so the scheme stays `file` and the program
  * cannot tell. Convenience overloads (`exists`, `open(Path)`,
  * `create(Path)`, iterators over listings) all funnel into the methods
  * counted here.
  *
  * Not counted: anything done through `java.nio` directly. The snapshot
  * commit coordinator publishes a local manifest with a `java.nio` atomic
  * move (`CommitCoordinator`), so that publish step does not show in the
  * `fs.*` counts. */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.incrementAndGet(); super.open(f, bufferSize)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet(); super.listStatus(f)
  }

  override def getFileStatus(f: Path): FileStatus = {
    stats.incrementAndGet(); super.getFileStatus(f)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    renames.incrementAndGet(); super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    deletes.incrementAndGet(); super.delete(f, recursive)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    mkdirCalls.incrementAndGet(); super.mkdirs(f, permission)
  }
}

object CountingFileSystem {
  val opens, lists, stats, creates, renames, deletes, mkdirCalls = new AtomicLong

  /** Call counts plus bytes read and written through the `file` scheme
    * (Hadoop's own per-scheme statistics, which the raw local streams
    * keep), in a fixed order matching [[Names]]. */
  def snapshot(): Array[Double] = {
    import scala.jdk.CollectionConverters._
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    Array(opens.get, lists.get, stats.get, creates.get, renames.get,
      deletes.get, mkdirCalls.get).map(_.toDouble) ++
      Array(st.map(_.getBytesRead).sum / 1e6, st.map(_.getBytesWritten).sum / 1e6)
  }

  val Names: Seq[String] = Seq("fs.open", "fs.list", "fs.stat", "fs.create",
    "fs.rename", "fs.delete", "fs.mkdirs", "fs.read_mb", "fs.written_mb")
}
