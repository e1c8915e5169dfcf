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
  */
object JobRunner {

  final case class RunResult(
      rowsWritten: Long,
      highWatermark: Option[Long],
      quarantined: Long,
      published: Boolean,
      filesMoved: Int)

  private val WatermarkStore = "watermarks"

  def lowWatermark(store: StateStore, job: JobSpec): Option[Long] =
    store.get(WatermarkStore, job.name).flatMap(_.get("watermark")).map(_.toLong)

  def run(spark: SparkSession, store: StateStore, job: JobSpec,
      read: SparkSession => DataFrame,
      watermarkCol: String,
      ops: Seq[Op],
      rowPolicies: Seq[Quality.RowPolicy],
      taskPolicies: Seq[Quality.TaskPolicy],
      sink: (String, String, Seq[String]), // (stagingDir, outputDir, partitionBy)
      quarantineDir: Option[String] = None): RunResult = {

    val publisher = new Publisher(spark.sparkContext.hadoopConfiguration)
    val spec = SinkSpec(sink._1, sink._2, partitionBy = sink._3)

    // 1. plan: incremental range from the committed watermark
    val low = lowWatermark(store, job)
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
    val quarantined = checked.quarantined match {
      case Some(q) if quarantineDir.isDefined =>
        val qObs = org.apache.spark.sql.Observation()
        q.observe(qObs, count(lit(1)).as("rows"))
          .write.mode("append").parquet(quarantineDir.get)
        qObs.get.get("rows").map(_.asInstanceOf[Long]).getOrElse(0L)
      case Some(q) => q.count()
      case None => 0L
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

    // 5. task-level policies gate the publish
    val metrics: Map[String, Any] = Map("rows" -> rows, "quarantined" -> quarantined)
    Quality.checkTask(metrics, taskPolicies) match {
      case Left(failed) =>
        publisher.abort(spec)
        RunResult(rows, highWm, quarantined, published = false, filesMoved = 0)
      case Right(()) =>
        val moved = publisher.publish(spec)
        // 6. commit state AFTER publish (watermark correctness on retry)
        val newWm = highWm.orElse(low)
        store.put(WatermarkStore, job.name, Map(
          "watermark" -> newWm.map(_.toString).getOrElse(""),
          "rows_last_run" -> rows.toString,
          "state" -> "COMMITTED"))
        RunResult(rows, newWm, quarantined, published = true, filesMoved = moved)
    }
  }
}
