package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

import graft.state.FsStateStore

/** Driver-side file-source planning: which paths does this run read?
  * Replaces the reference's WorkUnit generation for file sources with a
  * read-spec Spark consumes directly (`spark.read.parquet(paths: _*)`).
  *
  * Two strategies, mirroring the reference:
  *  - [[PartitionedFileSource]]: date-partitioned dir trees, select
  *    partitions strictly after the stored watermark, cap per run
  *    (PartitionedFileSourceBase.java:202, DatePartitionedNestedRetriever).
  *  - [[FileDiffSource]]: list files, diff against the previously-seen
  *    snapshot (FileBasedSource.java:88 — a manual Auto-Loader).
  *
  * Scale note: both are driver-side metadata operations on file
  * *listings* (thousands of entries), never data; listing uses the
  * Hadoop FS API so HDFS/S3A work unchanged.
  */
object PartitionedFileSource {

  final case class Plan(paths: Seq[String], highWatermark: Option[String])

  /** Partition dir names must be lexicographically ordered (e.g.
    * `date_key=yyyy-MM-dd` or `yyyy/MM/dd` flattened by the caller).
    * Returns dirs with partition value strictly greater than
    * `lowWatermark`, capped at maxPartitionsPerRun (oldest first, so
    * successive runs catch up in order).
    */
  def plan(baseDir: String, lowWatermark: Option[String],
      maxPartitionsPerRun: Int = Int.MaxValue,
      conf: Configuration = new Configuration()): Plan = {
    val base = new Path(baseDir)
    val fs = base.getFileSystem(conf)
    if (!fs.exists(base)) return Plan(Seq.empty, lowWatermark)
    val parts = fs.listStatus(base).toSeq
      .filter(_.isDirectory)
      .map(s => s.getPath.getName -> s.getPath.toString)
      .filter { case (name, _) => !name.startsWith(".") && !name.startsWith("_") }
      .sortBy(_._1)
    val selected = parts
      .filter { case (name, _) => lowWatermark.forall(wm => partitionValue(name) > wm) }
      .take(maxPartitionsPerRun)
    val high = selected.lastOption.map(p => partitionValue(p._1)).orElse(lowWatermark)
    Plan(selected.map(_._2), high)
  }

  /** `date_key=2024-01-02` -> `2024-01-02`; plain names pass through. */
  def partitionValue(dirName: String): String = {
    val i = dirName.indexOf('=')
    if (i >= 0) dirName.substring(i + 1) else dirName
  }
}

object FileDiffSource {

  final case class Plan(newFiles: Seq[String], snapshot: Map[String, String])

  /** Diff the current recursive listing against the `seen` snapshot
    * (path -> mtime:len). A file counts as new if unseen OR its
    * mtime/len changed (reference re-pulls changed files).
    */
  def plan(baseDir: String, seen: Map[String, String],
      conf: Configuration = new Configuration()): Plan = {
    val base = new Path(baseDir)
    val fs = base.getFileSystem(conf)
    if (!fs.exists(base)) return Plan(Seq.empty, seen)
    val files = scala.collection.mutable.ArrayBuffer[FileStatus]()
    val it = fs.listFiles(base, true)
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (!name.startsWith(".") && !name.startsWith("_")) files += f
    }
    val current = files.map(f => f.getPath.toString -> s"${f.getModificationTime}:${f.getLen}").toMap
    val newFiles = current.filter { case (p, sig) => !seen.get(p).contains(sig) }.keys.toSeq.sorted
    Plan(newFiles, current)
  }

  private val SnapshotStore = "filediff"

  def loadSnapshot(store: FsStateStore, job: String): Map[String, String] =
    store.getOrElse(SnapshotStore, job, Map.empty)

  def saveSnapshot(store: FsStateStore, job: String, snapshot: Map[String, String]): Unit =
    store.put(SnapshotStore, job, snapshot)
}

/** Kafka batch-offset planning (KafkaSource.java:82,190,419-447):
  * one read range per topic-partition, [prevOffset, latest), with
  * offset-out-of-range reset. Output feeds
  * `spark.read.format("kafka").option("startingOffsets"/"endingOffsets", json)`.
  * Pure planning logic — Spark's Kafka source does the reading; the
  * reference's bin-packing (KafkaWorkUnitPacker) is obsolete under
  * Spark's own partition→task mapping + AQE (SURVEY.md §4).
  */
object KafkaOffsets {

  final case class PartitionRange(topic: String, partition: Int, earliest: Long, latest: Long)

  sealed trait ResetPolicy
  case object ResetToEarliest extends ResetPolicy
  case object ResetToLatest extends ResetPolicy

  final case class OffsetPlan(
      startingOffsets: Map[(String, Int), Long],
      endingOffsets: Map[(String, Int), Long]) {
    def startingJson: String = toJson(startingOffsets)
    def endingJson: String = toJson(endingOffsets)
    private def toJson(m: Map[(String, Int), Long]): String =
      m.groupBy(_._1._1).toSeq.sortBy(_._1).map { case (topic, entries) =>
        val parts = entries.toSeq.sortBy(_._1._2)
          .map { case ((_, p), off) => s""""$p": $off""" }.mkString(", ")
        s""""$topic": {$parts}"""
      }.mkString("{", ", ", "}")
  }

  /** prev: committed next-offset-to-read per partition (from the state
    * store / MultiWatermark). New partitions start per resetPolicy;
    * committed offsets that fell out of range are reset likewise.
    */
  def plan(prev: Map[(String, Int), Long], current: Seq[PartitionRange],
      resetPolicy: ResetPolicy = ResetToEarliest): OffsetPlan = {
    val starts = current.map { pr =>
      val key = (pr.topic, pr.partition)
      val committed = prev.get(key)
      val start = committed match {
        case Some(o) if o >= pr.earliest && o <= pr.latest => o
        case _ => resetPolicy match {
          case ResetToEarliest => pr.earliest
          case ResetToLatest => pr.latest
        }
      }
      key -> start
    }.toMap
    val ends = current.map(pr => (pr.topic, pr.partition) -> pr.latest).toMap
    OffsetPlan(starts, ends)
  }
}
