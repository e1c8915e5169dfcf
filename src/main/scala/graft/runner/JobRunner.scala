package graft.runner

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.JobSpec
import graft.operators.Converters.Op
import graft.quality.Quality
import graft.sink.{Publisher, SinkSpec}
import graft.state.{FsStateStore, StateStore}

/** The batch job lifecycle (SURVEY.md §3.1) in one Spark action chain:
  *
  *   plan (watermark from state store) → read → converter chain →
  *   row policies (+quarantine) → staged write → task policies →
  *   publish → commit state
  *
  * replacing AbstractJobLauncher/Task/Fork/SafeDatasetCommit
  * (gobblin-runtime/.../AbstractJobLauncher.java:396,
  * StreamModelTaskRunner.java:78-165, SafeDatasetCommit.java:64-248).
  *
  * Key ordering guarantee carried over from the reference: state (the
  * watermark) commits only AFTER publish succeeds, so a failed or
  * partially-failed run re-reads the same range (at-least-once, exactly
  * -once when the sink is partition-overwrite idempotent).
  *
  * Row/byte counters ride the write via `observe()` — no second pass.
  * The quarantine side-output is staged like the data and published
  * only with it, so a vetoed run leaves no quarantine rows; an empty
  * staged write into an existing directory is dropped, not published.
  *
  * No-op shortcut: a caller that can fingerprint its source (see
  * `JobConfig.sourceFingerprint`) passes `sourceFingerprint`, and the
  * state write after a publish records it as `sourceFiles`. When the
  * committed record's `sourceFiles` equals it, a watermark exists and
  * the task policies pass on 0 rows, nothing can lie past the
  * watermark: the run returns the result a full no-op run returns
  * (0 rows, the same watermark, published) without starting Spark or
  * writing state. Without a fingerprint, or against a record that has
  * none, the run takes the full path.
  */
object JobRunner {

  final case class RunResult(
      rowsWritten: Long,
      highWatermark: Option[Long],
      quarantined: Long,
      published: Boolean,
      filesMoved: Int)

  private val WatermarkStore = "watermarks"

  /** The committed watermark; a run that extracted no row committed
    * `""`, which means none.
    */
  def lowWatermark(store: StateStore, job: JobSpec): Option[Long] =
    watermarkOf(store.get(WatermarkStore, job.name))

  private def watermarkOf(rec: Option[Map[String, String]]): Option[Long] =
    rec.flatMap(_.get("watermark")).filter(_.nonEmpty).map(_.toLong)

  def run(spark: SparkSession, store: StateStore, job: JobSpec,
      read: SparkSession => DataFrame,
      watermarkCol: String,
      ops: Seq[Op],
      rowPolicies: Seq[Quality.RowPolicy],
      taskPolicies: Seq[Quality.TaskPolicy],
      sink: (String, String, Seq[String]), // (stagingDir, outputDir, partitionBy)
      quarantineDir: Option[String] = None,
      sourceFingerprint: Option[String] = None): RunResult = {

    // 1. plan: incremental range from the committed watermark
    val committed = store.get(WatermarkStore, job.name)
    val low = watermarkOf(committed)
    // the source is what the committed run read: nothing lies past
    // the watermark, so the run would publish 0 rows — return that
    // result without starting Spark, unless 0 rows would be vetoed
    if (sourceFingerprint.isDefined && low.isDefined &&
        committed.flatMap(_.get("sourceFiles")) == sourceFingerprint &&
        Quality.checkTask(Map("rows" -> 0L, "quarantined" -> 0L), taskPolicies).isRight)
      return RunResult(0L, low, 0L, published = true, filesMoved = 0)

    val publisher = new Publisher(spark.sparkContext.hadoopConfiguration)
    val spec = SinkSpec(sink._1, sink._2, partitionBy = sink._3)
    // the quarantine side-output is staged too, and published only
    // with the data: a vetoed run leaves no quarantine rows behind.
    // Its staging dir is a dot-hidden sibling (same filesystem, so the
    // publish is a rename), not a child that would create the output.
    val qSpec = quarantineDir.map { d =>
      val q = new org.apache.hadoop.fs.Path(d)
      SinkSpec(new org.apache.hadoop.fs.Path(q.getParent, s".${q.getName}.staging").toString, d)
    }
    val source = read(spark)
    // the high watermark is the max over every row READ, as the
    // extractor watermark is: rows the converters filter or the
    // policies quarantine above the last published row must not be
    // re-read (and re-quarantined) by every later run. It rides
    // whichever write runs first (quarantine or staged), one pass.
    val wmObs = org.apache.spark.sql.Observation()
    val ranged = low.fold(source)(wm => source.filter(col(watermarkCol) > lit(wm)))
      .observe(wmObs, max(col(watermarkCol)).as("high_wm"))

    // 2-3. converter chain + row policies
    val transformed = ops.foldLeft(ranged)((df, op) => op(df))
    val checked = Quality.checkRows(transformed, rowPolicies)

    // quarantine side-output first (it reads the pre-filter frame);
    // the count rides the quarantine write via observe() — one pass,
    // same discipline as the main write below
    val quarantined = (checked.quarantined, qSpec) match {
      case (Some(q), Some(qs)) =>
        val qObs = org.apache.spark.sql.Observation()
        publisher.writeStaged(q.observe(qObs, count(lit(1)).as("rows")), qs)
        qObs.get.get("rows").map(_.asInstanceOf[Long]).getOrElse(0L)
      case (Some(q), None) => q.count()
      case (None, _) => 0L
    }

    // 4. staged write with observed metrics (single pass — Observation
    // attaches to the write action's execution)
    val obs = org.apache.spark.sql.Observation()
    val observed = checked.passed.observe(obs, count(lit(1)).as("rows"))
    publisher.writeStaged(observed, spec)
    val rows = obs.get.get("rows").map(_.asInstanceOf[Long]).getOrElse(0L)
    val highWm = wmObs.get.get("high_wm").flatMap(Option(_)).map {
      case l: Long => l
      case i: Int => i.toLong
      case other => other.toString.toLong
    }

    // an empty staged write into an output that already exists is
    // dropped, not published: it would add a 0-row file per run
    def publishRows(s: SinkSpec, n: Long): Int = {
      val out = new org.apache.hadoop.fs.Path(s.outputDir)
      if (n == 0 && out.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(out)) {
        publisher.abort(s); 0
      } else publisher.publish(s)
    }

    // 5. task-level policies gate the publish
    val metrics: Map[String, Any] = Map("rows" -> rows, "quarantined" -> quarantined)
    Quality.checkTask(metrics, taskPolicies) match {
      case Left(failed) =>
        publisher.abort(spec)
        qSpec.foreach(publisher.abort)
        RunResult(rows, highWm, quarantined, published = false, filesMoved = 0)
      case Right(()) =>
        qSpec.foreach(publishRows(_, quarantined))
        val moved = publishRows(spec, rows)
        // 6. commit state AFTER publish (watermark correctness on retry)
        val newWm = highWm.orElse(low)
        store.put(WatermarkStore, job.name, Map(
          "watermark" -> newWm.map(_.toString).getOrElse(""),
          "rows_last_run" -> rows.toString,
          "state" -> "COMMITTED") ++ sourceFingerprint.map("sourceFiles" -> _))
        RunResult(rows, newWm, quarantined, published = true, filesMoved = moved)
    }
  }
}
