package perfbench

import java.net.URI
import java.util.EnumSet
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FSDataInputStream,
  FSDataOutputStream, FSInputStream, FileStatus, FilterFs, LocalFileSystem,
  LocatedFileStatus, Options, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Filesystem counters shared by [[CountingFs]] and [[CountingAfs]]:
  * calls, busy nanoseconds and stream bytes per (layer, op kind). A
  * call is charged to the layer whose root is the longest prefix of
  * its path (state.dir -> state, source.path -> sources, output and
  * staging -> sink, state.dir/_locks -> runner).
  */
object FsCount {
  val Ops: IndexedSeq[String] =
    IndexedSeq("create", "rename", "open", "exists", "mkdirs", "delete", "list", "stat")
  val Layers: IndexedSeq[String] = IndexedSeq("runner", "state", "sources", "sink", "other")
  private val Other = Layers.indexOf("other")

  @volatile private var roots: Seq[(String, Int)] = Nil
  private val calls = Array.fill(Layers.size * Ops.size)(new LongAdder)
  private val nanos = Array.fill(Layers.size * Ops.size)(new LongAdder)
  private val readBytes = Array.fill(Layers.size)(new LongAdder)
  private val writtenBytes = Array.fill(Layers.size)(new LongAdder)
  private val filesWritten = Array.fill(Layers.size)(new LongAdder)

  /** Map absolute directory paths to layer names; replaces earlier roots. */
  def setRoots(m: Map[String, String]): Unit =
    roots = m.toSeq.map { case (dir, layer) => (dir.stripSuffix("/") + "/", Layers.indexOf(layer)) }
      .sortBy(-_._1.length)

  def layerOf(p: Path): Int = {
    val s = p.toUri.getPath + "/"
    roots.collectFirst { case (r, l) if s.startsWith(r) => l }.getOrElse(Other)
  }

  private val depth = new ThreadLocal[Array[Int]] {
    override def initialValue(): Array[Int] = Array(0)
  }

  /** Count and time `body` unless this thread is already inside a
    * counted call (wrappers delegate to overloads of themselves).
    */
  def op[T](p: Path, kind: String)(body: => T): T = {
    val d = depth.get
    if (d(0) > 0) body
    else {
      d(0) = 1
      val t0 = System.nanoTime()
      try body
      finally {
        d(0) = 0
        val i = layerOf(p) * Ops.size + Ops.indexOf(kind)
        calls(i).increment(); nanos(i).add(System.nanoTime() - t0)
      }
    }
  }

  def addRead(layer: Int, n: Long): Unit = readBytes(layer).add(n)
  def addWritten(layer: Int, n: Long): Unit = {
    writtenBytes(layer).add(n); filesWritten(layer).increment()
  }

  /** Flat snapshot: "<layer>.<op>" -> calls, "<layer>.<op>_ns" -> ns,
    * "<layer>.bytes_read", "<layer>.bytes_written", "<layer>.files_written".
    */
  def snapshot(): Map[String, Long] = {
    val b = Map.newBuilder[String, Long]
    for (l <- Layers.indices; o <- Ops.indices) {
      b += s"${Layers(l)}.${Ops(o)}" -> calls(l * Ops.size + o).sum()
      b += s"${Layers(l)}.${Ops(o)}_ns" -> nanos(l * Ops.size + o).sum()
    }
    for (l <- Layers.indices) {
      b += s"${Layers(l)}.bytes_read" -> readBytes(l).sum()
      b += s"${Layers(l)}.bytes_written" -> writtenBytes(l).sum()
      b += s"${Layers(l)}.files_written" -> filesWritten(l).sum()
    }
    b.result()
  }

  def diff(after: Map[String, Long], before: Map[String, Long]): Map[String, Long] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }

  private[perfbench] def wrapIn(p: Path, in: FSDataInputStream): FSDataInputStream =
    new FSDataInputStream(new CountingIn(in, layerOf(p)))

  private[perfbench] def wrapOut(p: Path, out: FSDataOutputStream): FSDataOutputStream =
    new CountingOut(out, layerOf(p))
}

private final class CountingIn(in: FSDataInputStream, layer: Int) extends FSInputStream {
  override def read(): Int = { val r = in.read(); if (r >= 0) FsCount.addRead(layer, 1); r }
  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    val n = in.read(b, off, len); if (n > 0) FsCount.addRead(layer, n); n
  }
  override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int = {
    val n = in.read(pos, b, off, len); if (n > 0) FsCount.addRead(layer, n); n
  }
  override def seek(pos: Long): Unit = in.seek(pos)
  override def getPos: Long = in.getPos
  override def seekToNewSource(target: Long): Boolean = in.seekToNewSource(target)
  override def available(): Int = in.available()
  override def close(): Unit = in.close()
}

private final class CountingOut(out: FSDataOutputStream, layer: Int)
    extends FSDataOutputStream(out, null) {
  private var closed = false
  override def close(): Unit = {
    if (!closed) { closed = true; FsCount.addWritten(layer, getPos) }
    super.close()
  }
}

/** `fs.file.impl` for traced runs: the local filesystem with every
  * namespace call and stream counted in [[FsCount]]. It stays a
  * LocalFileSystem so `FileSystem.getLocal` callers keep working.
  */
class CountingFs extends LocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    FsCount.op(f, "create")(FsCount.wrapOut(f,
      super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)))

  override def createNonRecursive(f: Path, permission: FsPermission, flags: EnumSet[CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    FsCount.op(f, "create")(FsCount.wrapOut(f,
      super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)))

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    FsCount.op(f, "open")(FsCount.wrapIn(f, super.open(f, bufferSize)))

  override def rename(src: Path, dst: Path): Boolean = FsCount.op(src, "rename")(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    FsCount.op(f, "delete")(super.delete(f, recursive))
  override def mkdirs(f: Path): Boolean = FsCount.op(f, "mkdirs")(super.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    FsCount.op(f, "mkdirs")(super.mkdirs(f, permission))
  override def listStatus(f: Path): Array[FileStatus] = FsCount.op(f, "list")(super.listStatus(f))
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] =
    FsCount.op(f, "list")(super.listStatusIterator(f))
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    FsCount.op(f, "list")(super.listLocatedStatus(f))
  override def exists(f: Path): Boolean = FsCount.op(f, "exists")(super.exists(f))
  override def getFileStatus(f: Path): FileStatus = FsCount.op(f, "stat")(super.getFileStatus(f))
}

/** `fs.AbstractFileSystem.file.impl` for traced runs: FileContext
  * calls (FsStateStore's overwrite rename) counted like [[CountingFs]].
  */
class CountingAfs(uri: URI, conf: Configuration) extends FilterFs(CountingAfs.local(uri, conf)) {
  override def renameInternal(src: Path, dst: Path): Unit =
    FsCount.op(src, "rename")(super.renameInternal(src, dst))
  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit =
    FsCount.op(src, "rename")(super.renameInternal(src, dst, overwrite))
  override def createInternal(f: Path, flag: EnumSet[CreateFlag], absolutePermission: FsPermission,
      bufferSize: Int, replication: Short, blockSize: Long, progress: Progressable,
      checksumOpt: Options.ChecksumOpt, createParent: Boolean): FSDataOutputStream =
    FsCount.op(f, "create")(FsCount.wrapOut(f, super.createInternal(f, flag, absolutePermission,
      bufferSize, replication, blockSize, progress, checksumOpt, createParent)))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    FsCount.op(f, "open")(FsCount.wrapIn(f, super.open(f, bufferSize)))
  override def delete(f: Path, recursive: Boolean): Boolean =
    FsCount.op(f, "delete")(super.delete(f, recursive))
  override def mkdir(dir: Path, permission: FsPermission, createParent: Boolean): Unit =
    FsCount.op(dir, "mkdirs")(super.mkdir(dir, permission, createParent))
  override def listStatus(f: Path): Array[FileStatus] = FsCount.op(f, "list")(super.listStatus(f))
  override def getFileStatus(f: Path): FileStatus = FsCount.op(f, "stat")(super.getFileStatus(f))
}

object CountingAfs {
  private def local(uri: URI, conf: Configuration): AbstractFileSystem = {
    val c = new Configuration(conf)
    c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    AbstractFileSystem.get(uri, c)
  }
}

/** One Spark job as the listener saw it; times are the scheduler's ms. */
final case class JobRec(start: Long, end: Long, module: String, stageIds: Seq[Int])

/** Executor-side totals of one completed stage. */
final case class StageRec(tasks: Int, runMs: Long, shuffleWrite: Long, spill: Long)

/** SparkListener that charges each job to the program module of the
  * first `graft.<module>.` frame in its call site (falling back to the
  * call site of the SQL execution it belongs to, for jobs submitted
  * from Spark's own threads), and keeps per-stage task totals.
  */
final class JobTracer extends org.apache.spark.scheduler.SparkListener {
  private val starts = mutable.HashMap.empty[Int, (Long, String, Seq[Int])]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.HashMap.empty[Int, StageRec]
  private val execModule = mutable.HashMap.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      JobTracer.moduleOf(s.details).foreach(m => execModule(s.executionId) = m)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execModule.get(id.toLong))
    val module = JobTracer.moduleOf(site).orElse(exec).getOrElse("other")
    starts(e.jobId) = (e.time, module, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    starts.remove(e.jobId).foreach { case (t0, m, st) => jobs += JobRec(t0, e.time, m, st) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    if (i.failureReason.isEmpty) {
      val m = i.taskMetrics
      stages(i.stageId) = StageRec(i.numTasks, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
    }
  }

  /** Jobs that started inside [t0, t1] (ms), with their completed stages. */
  def window(t0: Long, t1: Long): (Seq[JobRec], Seq[StageRec]) = synchronized {
    val js = jobs.filter(j => j.start >= t0 && j.start <= t1).toSeq
    (js, js.flatMap(_.stageIds).distinct.flatMap(stages.get))
  }
}

object JobTracer {
  private val Frame = """graft\.([a-z]\w*)\.[A-Z].*""".r

  /** The module of the first `graft.<module>.<Class>` frame of a call
    * site's long form, if any.
    */
  def moduleOf(callSite: String): Option[String] =
    Option(callSite).iterator.flatMap(_.split("\n")).map(_.trim.stripPrefix("at "))
      .collectFirst { case Frame(m) => m }

  /** Total length of the union of [start, end] intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
