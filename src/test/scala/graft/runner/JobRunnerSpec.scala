package graft.runner

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.model.JobSpec
import graft.operators.Converters
import graft.quality.Quality
import graft.state.FsStateStore

/** End-to-end incremental ingestion on the sf0.001 events table:
  * watermark plan → transform → quality → staged write → publish →
  * state commit; second run reads only the new range; a failing
  * mandatory task policy blocks publish AND the watermark.
  */
class JobRunnerSpec extends SparkSpec {
  import spark.implicits._

  private def newEnv() = {
    val root = tmpDir("jobrunner")
    (new FsStateStore(s"$root/state"), s"$root/staging", s"$root/out", s"$root/quarantine")
  }

  private val job = JobSpec("events_ingest")
  private def readEvents = (s: org.apache.spark.sql.SparkSession) =>
    Tables.load(s, sf(), "events").withColumn("wm", unix_micros($"ts"))

  test("incremental runs: full range then empty; watermark advances; output partitioned") {
    val (store, staging, out, quarantine) = newEnv()
    val ops = Seq(
      Converters.withTimePartition("ts"),
      Converters.pickFields("event_id", "user_id", "event_type", "value", "wm", "date_key"))

    val r1 = JobRunner.run(spark, store, job, readEvents, "wm", ops,
      rowPolicies = Seq(Quality.RowPolicy("value_present", $"value".isNotNull, Quality.Fail)),
      taskPolicies = Seq(Quality.TaskPolicy("nonempty", mandatory = true,
        m => m("rows").asInstanceOf[Long] > 0)),
      sink = (staging, out, Seq("date_key")), quarantineDir = Some(quarantine))

    assert(r1.published && r1.rowsWritten == 1000)
    assert(r1.highWatermark.isDefined)
    val written = spark.read.parquet(out)
    assert(written.count() == 1000)
    assert(written.columns.contains("date_key")) // partition column round-trips
    // staging cleaned up
    assert(!new java.io.File(staging).exists())

    // run 2: nothing new past the committed watermark -> publishes 0 rows
    val r2 = JobRunner.run(spark, store, job, readEvents, "wm", ops,
      rowPolicies = Nil,
      taskPolicies = Nil,
      sink = (staging, out, Seq("date_key")))
    assert(r2.rowsWritten == 0)
    assert(r2.highWatermark == r1.highWatermark) // watermark survives empty run
    assert(spark.read.parquet(out).count() == 1000)
  }

  test("mid-range watermark resumes exactly where it left off") {
    val (store, staging, out, _) = newEnv()
    // simulate a previous run: commit a watermark at the median ts
    val median = Tables.load(spark, sf(), "events")
      .select(unix_micros($"ts")).orderBy($"unix_micros(ts)")
      .collect().map(_.getLong(0)).apply(499)
    store.put("watermarks", job.name, Map("watermark" -> median.toString))

    val r = JobRunner.run(spark, store, job, readEvents, "wm",
      ops = Seq(Converters.withTimePartition("ts")),
      rowPolicies = Nil, taskPolicies = Nil,
      sink = (staging, out, Seq("date_key")))
    assert(r.rowsWritten == 500) // exactly the rows after the median
  }

  test("mandatory task-policy failure aborts publish and leaves watermark untouched") {
    val (store, staging, out, _) = newEnv()
    val r = JobRunner.run(spark, store, job, readEvents, "wm",
      ops = Nil, rowPolicies = Nil,
      taskPolicies = Seq(Quality.TaskPolicy("impossible", mandatory = true,
        m => m("rows").asInstanceOf[Long] > 1000000)),
      sink = (staging, out, Nil))
    assert(!r.published)
    assert(JobRunner.lowWatermark(store, job).isEmpty) // nothing committed
    assert(!new java.io.File(out).exists() ||
      spark.read.parquet(out).count() == 0) // no data visible
    assert(!new java.io.File(staging).exists()) // staging aborted
  }

  test("catalog registration: published partitions are queryable by table name") {
    val (store, staging, out, _) = newEnv()
    val ops = Seq(
      Converters.withTimePartition("ts"),
      Converters.pickFields("event_id", "event_type", "value", "wm", "date_key"))
    val spec = graft.sink.SinkSpec(staging, out, partitionBy = Seq("date_key"))
    val cat = new graft.sink.CatalogPublisher(spark)
    val table = "events_registered"
    try {
      // first publish registers the table
      val r1 = JobRunner.run(spark, store, job, readEvents, "wm", ops,
        rowPolicies = Nil, taskPolicies = Nil, sink = (staging, out, Seq("date_key")))
      assert(r1.published)
      cat.register(spec, table)
      assert(spark.catalog.tableExists(table))
      assert(spark.table(table).count() == 1000)
      val parts1 = spark.sql(s"SHOW PARTITIONS $table").count()
      assert(parts1 > 1, "time-partitioned publish must register multiple partitions")

      // a later publish adds a NEW partition; re-register must pick it
      // up idempotently (no error, partition count grows)
      val extra = Seq((9999L, "synthetic", 1.0, Long.MaxValue, "2099-01-01"))
        .toDF("event_id", "event_type", "value", "wm", "date_key")
      val pub = new graft.sink.Publisher(spark.sparkContext.hadoopConfiguration)
      pub.writeStaged(extra, spec)
      cat.publishAndRegister(pub, spec, table)
      assert(spark.table(table).count() == 1001)
      assert(spark.sql(s"SHOW PARTITIONS $table").count() == parts1 + 1)
      // partition pruning by name works through the catalog
      assert(spark.table(table).filter($"date_key" === "2099-01-01").count() == 1)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("quarantine side-output receives failing rows") {
    val (store, staging, out, quarantine) = newEnv()
    val r = JobRunner.run(spark, store, job, readEvents, "wm",
      ops = Nil,
      rowPolicies = Seq(Quality.RowPolicy("high_value", $"value" >= 100, Quality.ErrFile)),
      taskPolicies = Nil,
      sink = (staging, out, Nil), quarantineDir = Some(quarantine))
    val q = spark.read.parquet(quarantine).count()
    assert(r.quarantined == q && q > 0)
    assert(r.rowsWritten + q == 1000)
  }

  test("watermark covers quarantined rows: a later run re-reads none of them") {
    val (store, staging, out, quarantine) = newEnv()
    val top = Tables.load(spark, sf(), "events").agg(max(unix_micros($"ts"))).head.getLong(0)
    // the top-watermark row (and only it) fails an ERR_FILE policy
    def run() = JobRunner.run(spark, store, job, readEvents, "wm", ops = Nil,
      rowPolicies = Seq(Quality.RowPolicy("below_top", $"wm" < top, Quality.ErrFile)),
      taskPolicies = Nil, sink = (staging, out, Nil), quarantineDir = Some(quarantine))
    val r1 = run()
    assert(r1.published && r1.quarantined >= 1)
    assert(r1.highWatermark === Some(top), "the watermark is the max extracted row")
    val r2 = run() // no new input
    assert(r2.quarantined === 0L && r2.rowsWritten === 0L)
    assert(r2.highWatermark === Some(top))
    assert(spark.read.parquet(quarantine).count() === r1.quarantined)
  }

  /** Non-hidden data files under `dir` (0 when it does not exist). */
  private def dataFiles(dir: String): Int = {
    val d = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(d)) 0
    else {
      val st = java.nio.file.Files.walk(d)
      try st.iterator.asScala.count { f =>
        java.nio.file.Files.isRegularFile(f) && !d.relativize(f).iterator.asScala
          .exists(c => c.toString.startsWith("_") || c.toString.startsWith("."))
      } finally st.close()
    }
  }

  private def runEvents(store: FsStateStore, staging: String, out: String, quarantine: String,
      taskPolicies: Seq[Quality.TaskPolicy] = Nil, fingerprint: Option[String] = None) =
    JobRunner.run(spark, store, job, readEvents, "wm", ops = Nil,
      rowPolicies = Seq(Quality.RowPolicy("low_value", $"value" < 100, Quality.ErrFile)),
      taskPolicies = taskPolicies, sink = (staging, out, Nil),
      quarantineDir = Some(quarantine), sourceFingerprint = fingerprint)

  test("a run that extracts no rows commits no watermark; later runs plan") {
    val (store, staging, out, _) = newEnv()
    val src = tmpDir("jobrunner_src") + "/events"
    Seq.empty[(Long, Double)].toDF("event_id", "value").write.parquet(src)
    def run() = JobRunner.run(spark, store, job, s => s.read.parquet(src), "event_id",
      ops = Nil, rowPolicies = Nil, taskPolicies = Nil, sink = (staging, out, Nil))
    val r1 = run()
    assert(r1.published && r1.rowsWritten == 0 && r1.highWatermark.isEmpty)
    assert(JobRunner.lowWatermark(store, job).isEmpty)
    val r2 = run() // threw NumberFormatException on the committed ""
    assert(r2.published && r2.rowsWritten == 0 && r2.highWatermark.isEmpty)
    Seq((7L, 1.0)).toDF("event_id", "value").write.mode("append").parquet(src)
    val r3 = run()
    assert(r3.rowsWritten == 1 && r3.highWatermark.contains(7L))
  }

  test("a vetoed run leaves no quarantine rows; a retry quarantines once") {
    val (store, staging, out, quarantine) = newEnv()
    val veto = runEvents(store, staging, out, quarantine,
      taskPolicies = Seq(Quality.TaskPolicy("never", mandatory = true, _ => false)))
    assert(!veto.published && veto.quarantined > 0)
    assert(dataFiles(quarantine) == 0, "a vetoed run must publish no quarantine rows")
    val retry = runEvents(store, staging, out, quarantine)
    assert(retry.published && retry.quarantined == veto.quarantined)
    assert(spark.read.parquet(quarantine).count() == retry.quarantined)
    assert(!new java.io.File(new java.io.File(quarantine).getParent, ".quarantine.staging").exists())
  }

  test("no-op runs add no files to quarantine or an unpartitioned output") {
    val (store, staging, out, quarantine) = newEnv()
    val r1 = runEvents(store, staging, out, quarantine)
    assert(r1.published && r1.rowsWritten > 0 && r1.quarantined > 0)
    val files = (dataFiles(out), dataFiles(quarantine))
    (1 to 2).foreach { _ =>
      val r = runEvents(store, staging, out, quarantine)
      assert(r.published && r.rowsWritten == 0 && r.quarantined == 0 && r.filesMoved == 0, s"$r")
      assert((dataFiles(out), dataFiles(quarantine)) == files)
    }
    assert(spark.read.parquet(out).count() == r1.rowsWritten)
    assert(spark.read.parquet(quarantine).count() == r1.quarantined)
  }

  test("fingerprint match: no-op result, no Spark job; else the full path") {
    val (store, staging, out, quarantine) = newEnv()
    // a record written without a fingerprint: the full path, which records it
    val r1 = runEvents(store, staging, out, quarantine)
    val (r2, j2) = sparkJobs(runEvents(store, staging, out, quarantine, fingerprint = Some("f1")))
    assert(j2 > 0 && r2.published && r2.rowsWritten == 0)
    assert(store.get("watermarks", job.name).flatMap(_.get("sourceFiles")).contains("f1"))
    val (r3, j3) = sparkJobs(runEvents(store, staging, out, quarantine, fingerprint = Some("f1")))
    assert(j3 == 0)
    assert(r3 == JobRunner.RunResult(0L, r1.highWatermark, 0L, published = true, filesMoved = 0))
    assert(r3 == r2.copy(filesMoved = 0), "the shortcut returns what a full no-op run returns")
    val (r4, j4) = sparkJobs(runEvents(store, staging, out, quarantine, fingerprint = Some("f2")))
    assert(j4 > 0 && r4 == r3)
    assert(spark.read.parquet(out).count() == r1.rowsWritten)
  }

  test("fingerprint match: a policy failing on zero rows still vetoes") {
    val (store, staging, out, quarantine) = newEnv()
    val nonEmpty = Seq(Quality.TaskPolicy("nonempty", mandatory = true,
      m => m("rows").asInstanceOf[Long] > 0))
    val r1 = runEvents(store, staging, out, quarantine, nonEmpty, Some("f1"))
    assert(r1.published && r1.rowsWritten > 0)
    val (r2, j2) = sparkJobs(runEvents(store, staging, out, quarantine, nonEmpty, Some("f1")))
    assert(j2 > 0 && !r2.published && r2.rowsWritten == 0)
    assert(JobRunner.lowWatermark(store, job) == r1.highWatermark)
  }
}
