package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** `Probe`: one record per query with its rows, Spark job/stage/task
  * profile and timings, complete once the listener bus has drained,
  * and readable back through the parse `Bench.isolated` uses.
  */
class ProbeSpec extends SparkSpec {
  private val name = "q_index_job" // three index epochs and a BM25 query: many Spark jobs

  test("probe record: rows match count, profile is consistent, stable, and parses back") {
    val rows = SparkEntry.queries(name)(spark, sf()).count()
    val a = Probe.profile(spark, sf(), name)
    // a slow listener ahead on the bus delays every event behind it;
    // the profile still sees all of them because it drains the bus
    val lag = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Thread.sleep(20)
    }
    spark.sparkContext.addSparkListener(lag)
    val b = try Probe.profile(spark, sf(), name)
      finally spark.sparkContext.removeSparkListener(lag)
    assert(a.name == name && a.rows == rows && a.error.isEmpty, a.json)
    assert(a.runs.size == Probe.Runs && a.min.exists(_ > 0))
    assert(a.jobs >= 1 && a.stages >= a.jobs && a.tasks >= a.stages, a.json)
    assert(a.jobStages.size == a.jobs && a.jobStages.forall(_ >= 1) && a.jobStages.sum >= a.stages,
      a.json)
    assert(a.gapS >= 0 && a.jobS.forall(_ >= 0), a.json)
    assert((a.jobs, a.jobStages.sorted, a.stages, a.tasks) ==
      ((b.jobs, b.jobStages.sorted, b.stages, b.tasks)),
      s"${a.json}\n${b.json}")
    assert(a.fsOps == b.fsOps, s"${a.json}\n${b.json}")

    val line = a.json
    val back = Probe.parse(line)
    assert(back.map(_.json).contains(line))
    assert(back.exists(p => p.rows == a.rows && p.error == a.error && p.jobs == a.jobs &&
      p.jobStages == a.jobStages && p.stages == a.stages &&
      p.tasks == a.tasks && p.shuffleReadB == a.shuffleReadB && p.shuffleWriteB == a.shuffleWriteB &&
      p.fsOps == a.fsOps))
    assert(back.flatMap(_.min).zip(a.min).exists { case (x, y) => math.abs(x - y) < 1e-3 })
  }

  test("probe main: fs_ops counts local filesystem calls by kind, stable") {
    // the main counts through its own session's filesystem; two
    // profiles of one query in one child JVM
    val recs = Probe.child(Seq(sf(), name, name))
    assert(recs.size == 2 && recs.forall(r => r.error.isEmpty && r.rows > 0), recs.map(_.json))
    val kinds = recs.head.fsOps.collect { case (k, v) if v > 0 => k.stripPrefix("graft.file.") }
    assert(Set("op_open", "op_create", "op_rename", "op_list_status").subsetOf(kinds.toSet),
      recs.head.json)
    assert(recs(0).fsOps == recs(1).fsOps, recs.map(_.json).mkString("\n"))
  }

  test("a failing query: null min, its error recorded and read back") {
    val p = Probe.profile(spark, "/nonexistent_sf_dir", "q_pricing_summary")
    assert(p.min.isEmpty && p.rows == -1L, p.json)
    assert(p.error.exists(_.contains("nonexistent_sf_dir")), p.json)
    assert(Probe.parse(p.json).map(_.json).contains(p.json))
  }

  test("parse: a failed query's null min reads back; other lines are not records") {
    val failed = Probe.Profile("q_x", None, Seq(0.5, 0.25), -1L, Some("boom: \"quoted\"\nline"),
      Seq.empty, Seq.empty, 0.75, 0, 0L, 0L, 0L, Map.empty)
    assert(Probe.parse(failed.json).contains(failed))
    assert(Probe.parse("12:00:01 WARN SparkContext: {\"probe\":").isEmpty)
    assert(Probe.parse("{\"probe\":\"q_x\",\"min\":").isEmpty)
  }
}
