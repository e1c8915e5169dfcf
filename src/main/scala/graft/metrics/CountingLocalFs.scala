package graft.metrics

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream,
  FSDataOutputStream, GlobalStorageStatistics, LocalFileSystem, Path,
  StorageStatistics}
import org.apache.hadoop.fs.StorageStatistics.LongStatistic
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem with its calls counted by kind. Hadoop's own
  * local filesystem counts bytes only, where HDFS and S3A publish one
  * `op_<kind>` counter per call kind in the global storage statistics;
  * this class publishes the same kind of counters for `file:` under
  * the statistics name [[CountingLocalFs.Name]]. Use it as
  * `fs.file.impl` (`graft.Probe` does). One top-level call counts
  * once: calls the checksum layer makes on the raw filesystem
  * underneath are not counted, and `FileContext` calls (which go
  * through `AbstractFileSystem`) are not seen at all.
  */
final class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs.tick

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    tick("op_open"); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    tick("op_create")
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream = {
    tick("op_append"); super.append(f, bufferSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { tick("op_rename"); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    tick("op_delete"); super.delete(f, recursive)
  }
  override def listStatus(f: Path): Array[FileStatus] = { tick("op_list_status"); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = {
    tick("op_get_file_status"); super.getFileStatus(f)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    tick("op_mkdirs"); super.mkdirs(f, permission)
  }
}

object CountingLocalFs {
  val Name = "graft.file"

  private val counts = new ConcurrentHashMap[String, LongAdder]()

  private def tick(kind: String): Unit = counts.computeIfAbsent(kind, _ => new LongAdder).increment()

  private final class Stats extends StorageStatistics(Name) {
    override def getScheme: String = "file"
    override def getLongStatistics: java.util.Iterator[LongStatistic] =
      counts.asScala.toSeq.sortBy(_._1).map { case (k, v) => new LongStatistic(k, v.sum) }
        .iterator.asJava
    override def getLong(key: String): java.lang.Long =
      Option(counts.get(key)).map(a => java.lang.Long.valueOf(a.sum)).orNull
    override def isTracked(key: String): Boolean = counts.containsKey(key)
    override def reset(): Unit = counts.values.asScala.foreach(_.reset())
  }

  GlobalStorageStatistics.INSTANCE.put(Name, () => new Stats)
}
