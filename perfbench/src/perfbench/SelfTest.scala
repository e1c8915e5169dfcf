package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.functions._

import graft.sink.{Publisher, SinkSpec}
import graft.state.FsStateStore

/** Self-tests of the benchmark's own instruments:
  *
  * {{{
  * python3 perfbench/run.py --selftest
  * }}}
  */
object SelfTest {
  private var failures = 0

  private def expect(name: String, got: Any, want: Any): Unit =
    if (got == want) println(s"selftest $name: ok")
    else { failures += 1; println(s"selftest $name: FAILED: got $got, want $want") }

  /** The counted calls of the listed ops under `layer`, omitting zeros. */
  private def ops(d: Map[String, Long], layer: String): Map[String, Long] =
    FsCount.Ops.map(o => o -> d(s"$layer.$o")).filter(_._2 > 0).toMap

  private def counted[T](body: => T): Map[String, Long] = {
    val before = FsCount.snapshot()
    body
    FsCount.diff(FsCount.snapshot(), before)
  }

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(args.indexOf("--work") + 1)).toAbsolutePath.toString

    // percentile that reports its sample count
    expect("tail.100", Stats.tail((1 to 100).map(_.toDouble)), Stats.Tail(90, 90.0, 100))
    expect("tail.40", Stats.tail((1 to 40).map(_.toDouble)), Stats.Tail(75, 30.0, 40))
    expect("tail.5", Stats.tail(Seq(5.0, 1.0, 4.0, 2.0, 3.0)), Stats.Tail(50, 3.0, 5))
    expect("covered", JobTracer.covered(Seq((0L, 10L), (5L, 20L), (30L, 40L))), 30L)

    // call site -> module
    expect("callsite.first_graft_frame", JobTracer.moduleOf(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:10)\n" +
        "graft.sink.ShardedTable.commit(ShardedTable.scala:201)\n" +
        "graft.runner.JobConfig$.runAny(JobConfig.scala:481)"), Some("sink"))
    expect("callsite.skips_top_level", JobTracer.moduleOf(
      "graft.RunJob$.main(RunJob.scala:21)\n" +
        "graft.operators.Bm25$.topK(Bm25.scala:170)"), Some("operators"))
    expect("callsite.none", JobTracer.moduleOf("perfbench.Main$.run(Main.scala:1)"), None)

    val spark = Main.session(work, trace = true)
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      val tracer = new JobTracer
      spark.sparkContext.addSparkListener(tracer)
      val state = s"$work/state"
      val staging = s"$work/staging"
      val out = s"$work/out"
      FsCount.setRoots(Map(state -> "state", staging -> "sink", out -> "sink",
        s"$state/_locks" -> "runner"))

      // FsStateStore.put: mkdirs + create of the temp file + FileContext rename
      val store = new FsStateStore(state, conf)
      val put = counted(store.put("watermarks", "job", Map("watermark" -> "1")))
      expect("fs.state_put", ops(put, "state") - "stat",
        Map("mkdirs" -> 1L, "create" -> 1L, "rename" -> 1L))
      expect("fs.state_put_bytes", put("state.bytes_written"),
        java.nio.file.Files.size(Paths.get(s"$state/watermarks/job.json")))
      val get = counted(store.get("watermarks", "job"))
      expect("fs.state_get", ops(get, "state") - "stat", Map("exists" -> 1L, "open" -> 1L))

      // Publisher: a staged write of two partitions, published twice
      val spec = SinkSpec(staging, out, partitionBy = Seq("p"))
      val pub = new Publisher(conf)
      val df = spark.range(0, 100, 1, 1).select(col("id"), (col("id") % 2).as("p"))
      val ms0 = System.currentTimeMillis()
      pub.writeStaged(df, spec)
      val ms1 = System.currentTimeMillis()
      val first = counted(pub.publish(spec))
      // exists(staging) + exists(dest) per partition; partitions move as dirs
      expect("fs.publish_new", ops(first, "sink") - "stat", Map("exists" -> 3L, "mkdirs" -> 1L,
        "list" -> 1L, "rename" -> 2L, "delete" -> 1L))
      pub.writeStaged(df, spec)
      val second = counted(pub.publish(spec))
      // existing partitions: list each and move its one data file
      expect("fs.publish_merge", ops(second, "sink") - "stat", Map("exists" -> 3L, "mkdirs" -> 1L,
        "list" -> 3L, "rename" -> 2L, "delete" -> 1L))

      // live attribution: the staged write's jobs belong to sink,
      // a count issued from here to no module
      org.apache.spark.perfbenchshim.Bus.drain(spark.sparkContext)
      val (writeJobs, _) = tracer.window(ms0, ms1)
      expect("callsite.live_sink", writeJobs.nonEmpty && writeJobs.forall(_.module == "sink"), true)
      val ms2 = System.currentTimeMillis()
      spark.range(10).count()
      val ms3 = System.currentTimeMillis()
      org.apache.spark.perfbenchshim.Bus.drain(spark.sparkContext)
      expect("callsite.live_other", tracer.window(ms2, ms3)._1.map(_.module).distinct, Seq("other"))
    } finally spark.stop()

    if (failures == 0) println("selftest: all passed")
    else println(s"selftest: $failures failed")
    System.exit(if (failures == 0) 0 else 1)
  }
}
