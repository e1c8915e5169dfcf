package graft.runner

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
}
