package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.runner.JobConfig

/** One timed step of a run: a publishing epoch ("pub"), a scheduled
  * epoch that finds no new input ("noop"), or a query.
  */
final case class Step(kind: String, wallS: Double, cpuS: Double, gcS: Double, gcCount: Long,
    delta: Option[Delta], touched: Double, published: Long, written: Long, fs: Map[String, Long],
    jobs: Seq[JobRec], stages: Seq[StageRec], window: (Long, Long), query: Option[QueryOut])

/** Runs one workload closed-loop, single-process: each step starts when
  * the previous one has returned, as a scheduler would run the job.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * The epoch schedule is a fixed cycle repeated a number of times that
  * depends only on --seconds, so every run of a seed does identical
  * work. The last stdout line is the JSON result.
  */
object Main {
  /** Complete setups per run; setup_s is their median. */
  val Setups = 3
  /** Warm-up steps inside every setup (timed into setup_s). */
  val WarmUp = Seq("pub", "query", "query")
  /** The measured schedule repeats a workload's cycle a number of
    * times fixed by --seconds: round(seconds * rate).
    */
  val Cycles: Map[String, (Seq[String], Double)] = Map(
    "ingest_trickle" -> ((Seq("pub", "query", "noop", "pub", "query", "noop"), 0.3)),
    "index_bulk" -> ((Seq("pub", "noop", "noop", "query", "noop", "noop", "pub", "noop", "noop",
      "query", "noop", "noop", "pub", "noop", "noop", "query", "noop", "noop", "pub"), 0.1)),
    "cdc_trickle" -> ((Seq("pub", "query", "noop", "pub", "query"), 0.2)))

  def schedule(workload: String, seconds: Int): Seq[String] = {
    val (cycle, rate) = Cycles(workload)
    Seq.fill(math.max(1, math.round(seconds * rate).toInt))(cycle).flatten
  }

  def cpus: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  def session(work: String, trace: Boolean): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    graft.Tables.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    if (trace) b
      .config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[CountingAfs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (trace) {
      val conf = spark.sparkContext.hadoopConfiguration
      val uri = new java.net.URI("file:///")
      // a LocalFileSystem cached before the session existed would hide the counter
      if (!org.apache.hadoop.fs.FileSystem.get(uri, conf).isInstanceOf[CountingFs])
        org.apache.hadoop.fs.FileSystem.closeAll()
      require(org.apache.hadoop.fs.FileSystem.get(uri, conf).isInstanceOf[CountingFs],
        "counting filesystem not installed")
    }
    spark
  }

  /** Fixed single-thread integer kernel; its time tracks host speed. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < 100000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 0xff
      i += 1
    }
    val s = (System.nanoTime() - t0) / 1e9
    if (acc == 42) System.err.println("calibration sum " + acc)
    s
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = osBean.getProcessCpuTime
  def gcTotals(): (Long, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum)
  }
  def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) Runtime.getRuntime.totalMemory / 1048576.0
    else Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(0.0)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opts("workload")
    require(Workload.Names.contains(name), s"unknown workload $name")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath.toString
    // exit explicitly: a failed run must not wait on Spark's non-daemon threads
    val code =
      try run(name, seed, seconds, trace, work)
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  def run(name: String, seed: Long, seconds: Int, trace: Boolean, work: String): Int = {
    var attempted = 0L
    var failed = 0L
    def check(r: Option[String]): Unit = {
      attempted += 1
      r.foreach { e => failed += 1; System.err.println(s"perfbench: check failed: $e") }
    }

    val calib = Stats.median(Seq.fill(3)(calibrate()))
    val runT0 = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"perfbench: ${(System.nanoTime() - runT0) / 1e9}%.1f s: $what")
    phase(f"calibrated ($calib%.3f s)")
    var spark: SparkSession = null
    var w: Workload = null
    var tracer: JobTracer = null
    var deltas = 0

    def step(kind: String): Step = {
      val d = if (kind == "pub") { deltas += 1; Some(w.delta(spark, deltas - 1)) } else None
      System.gc()
      val snap0 = if (kind == "pub") Dirs.snapshot(w.writtenRoots) else Map.empty[String, (Long, Long, AnyRef)]
      val fs0 = if (trace) FsCount.snapshot() else Map.empty[String, Long]
      val cpu0 = cpuNs()
      val (gcT0, gcN0) = gcTotals()
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val (res, q) =
        if (kind == "query") (Map.empty[String, String], Some(w.query(spark)))
        else (JobConfig.runAny(spark, w.props), None)
      val t1 = System.nanoTime()
      val ms1 = System.currentTimeMillis()
      val cpu1 = cpuNs()
      val (gcT1, gcN1) = gcTotals()
      val fs = if (trace) FsCount.diff(FsCount.snapshot(), fs0) else Map.empty[String, Long]
      val written = if (kind == "pub") Dirs.written(snap0, Dirs.snapshot(w.writtenRoots)) else 0L
      val (jobs, stages) =
        if (trace) { org.apache.spark.perfbenchshim.Bus.drain(spark.sparkContext); tracer.window(ms0, ms1) }
        else (Nil, Nil)
      check(q.fold(w.checkEpoch(res, d))(w.checkQuery))
      System.err.println(f"perfbench: $kind%-5s ${(t1 - t0) / 1e9}%.3f s")
      val published = res.get("rowsWritten").orElse(res.get("deltaRows")).map(_.toLong).getOrElse(0L)
      Step(kind, (t1 - t0) / 1e9, (cpu1 - cpu0) / 1e9, (gcT1 - gcT0) / 1e3, gcN1 - gcN0,
        d, d.fold(0.0)(w.touchedRatio(res, _)), published, written, fs, jobs, stages, (ms0, ms1), q)
    }

    val setups = mutable.ArrayBuffer.empty[Double]
    for (k <- 0 until Setups) {
      if (spark != null) { spark.stop(); Dirs.delete(Paths.get(w.dir)) }
      val t0 = System.nanoTime()
      spark = session(work, trace)
      val sessionS = (System.nanoTime() - t0) / 1e9
      w = Workload(name, seed, s"$work/setup$k", s"$work/inputs")
      deltas = 0
      if (trace) {
        FsCount.setRoots(w.layerRoots)
        tracer = new JobTracer
        spark.sparkContext.addSparkListener(tracer)
      }
      phase("session")
      val b = w.bulk(spark)
      phase("bulk landed")
      System.gc()
      phase("gc")
      val t1 = System.nanoTime()
      val res = JobConfig.runAny(spark, w.props)
      val bulkS = (System.nanoTime() - t1) / 1e9
      check(w.checkEpoch(res, Some(b)))
      setups += sessionS + bulkS + WarmUp.map(step(_).wallS).sum
      System.err.println(f"perfbench: setup $k: session $sessionS%.3f s, bulk $bulkS%.3f s, total ${setups.last}%.3f s")
    }

    val steps = schedule(name, seconds).map(step)
    phase("measured")
    check(w.finalCheck(spark))
    phase("final check")

    val pubs = steps.filter(_.kind == "pub")
    val noops = steps.filter(_.kind == "noop")
    val queries = steps.filter(_.kind == "query")
    val deltaBytes = pubs.flatMap(_.delta).map(_.bytes).sum.toDouble
    val live = w.liveBytes(spark)
    val onDisk = Dirs.bytes(Seq(w.out, w.state))

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", Stats.median(setups.toSeq), "s"),
        ("epoch_p50_s", Stats.median(pubs.map(_.wallS)), "s"),
        ("noop_epoch_p50_s", Stats.median(noops.map(_.wallS)), "s"),
        ("query_p50_s", Stats.median(queries.map(_.wallS)), "s"),
        ("rows_per_s", pubs.map(_.published).sum / pubs.map(_.wallS).sum, "rows/s"),
        ("write_amp", pubs.map(_.written).sum / deltaBytes, "ratio"),
        ("space_amp", onDisk.toDouble / live, "ratio"),
        ("peak_rss_mb", peakRssMb(), "MB"))
      else Layers.metrics(pubs, noops, queries, calib)

    val checksum = w.digest.digest().take(8).map(b => f"$b%02x").mkString
    println(s"perfbench workload=$name seed=$seed steps=${steps.size} input_checksum=$checksum")
    println(Json.result(failed == 0, attempted, failed, metrics))
    spark.stop()
    Dirs.delete(Paths.get(work))
    if (failed == 0) 0 else 1
  }
}

/** Per-layer metrics of a traced run. Unless named otherwise, each is
  * the mean per publishing epoch.
  */
object Layers {
  private def mean(xs: Seq[Double]): Double = Stats.mean(xs)
  private def fsOps(s: Step, layer: String, ops: Seq[String] = FsCount.Ops): Double =
    ops.map(o => s.fs.getOrElse(s"$layer.$o", 0L)).sum.toDouble
  private def fsS(s: Step, layer: String): Double =
    FsCount.Ops.map(o => s.fs.getOrElse(s"$layer.${o}_ns", 0L)).sum / 1e9
  private def jobS(s: Step, module: String): Double =
    s.jobs.filter(_.module == module).map(j => j.end - j.start).sum / 1e3
  private def gapS(s: Step): Double =
    s.wallS - JobTracer.covered(s.jobs.map(j =>
      (math.max(j.start, s.window._1), math.min(j.end, s.window._2)))) / 1e3
  private val MB = 1048576.0

  def metrics(pubs: Seq[Step], noops: Seq[Step], queries: Seq[Step],
      calib: Double): Seq[(String, Double, String)] = {
    def per(f: Step => Double): Double = mean(pubs.map(f))
    val tail = Stats.tail(pubs.map(_.wallS))
    Seq(
      ("runner.driver_gap_s", per(gapS), "s"),
      ("runner.spark_jobs", per(_.jobs.size.toDouble), "count"),
      ("runner.noop_spark_jobs", mean(noops.map(_.jobs.size.toDouble)), "count"),
      ("runner.stages", per(_.stages.size.toDouble), "count"),
      ("runner.tasks", per(_.stages.map(_.tasks).sum.toDouble), "count"),
      ("runner.lock_fs_ops", per(fsOps(_, "runner")), "count"),
      ("runner.job_s", per(jobS(_, "runner")), "s"),
      ("runner.epoch_s", Stats.median(pubs.map(_.wallS)), "s"),
      ("runner.epoch_cpu_s", per(_.cpuS), "s"),
      ("runner.epoch_tail_s", tail.value, "s"),
      ("runner.epoch_samples", tail.samples.toDouble, "count"),
      ("state.fs_ops", per(fsOps(_, "state")), "count"),
      ("state.fs_ops.create", per(fsOps(_, "state", Seq("create"))), "count"),
      ("state.fs_ops.rename", per(fsOps(_, "state", Seq("rename"))), "count"),
      ("state.fs_ops.open", per(fsOps(_, "state", Seq("open"))), "count"),
      ("state.fs_ops.exists", per(fsOps(_, "state", Seq("exists"))), "count"),
      ("state.fs_ops.mkdirs", per(fsOps(_, "state", Seq("mkdirs"))), "count"),
      ("state.fs_s", per(fsS(_, "state")), "s"),
      ("sources.fs_ops", per(fsOps(_, "sources")), "count"),
      ("sources.fs_s", per(fsS(_, "sources")), "s"),
      ("sources.bytes_read", per(_.fs.getOrElse("sources.bytes_read", 0L) / MB), "MB"),
      ("sources.read_amp", pubs.map(_.fs.getOrElse("sources.bytes_read", 0L)).sum.toDouble /
        pubs.flatMap(_.delta).map(_.bytes).sum, "ratio"),
      ("operators.job_s", per(jobS(_, "operators")), "s"),
      ("operators.task_s", per(_.stages.map(_.runMs).sum / 1e3), "s"),
      ("operators.shuffle_mb", per(_.stages.map(_.shuffleWrite).sum / MB), "MB"),
      ("operators.spill_mb", per(_.stages.map(_.spill).sum / MB), "MB"),
      ("quality.pass_ratio", pubs.map(_.published).sum.toDouble / pubs.flatMap(_.delta).map(_.rows).sum, "ratio"),
      ("sink.job_s", per(jobS(_, "sink")), "s"),
      ("sink.fs_ops", per(fsOps(_, "sink")), "count"),
      ("sink.fs_ops.rename", per(fsOps(_, "sink", Seq("rename"))), "count"),
      ("sink.fs_ops.delete", per(fsOps(_, "sink", Seq("delete"))), "count"),
      ("sink.fs_ops.create", per(fsOps(_, "sink", Seq("create"))), "count"),
      ("sink.fs_ops.list", per(fsOps(_, "sink", Seq("list"))), "count"),
      ("sink.fs_ops.open", per(fsOps(_, "sink", Seq("open"))), "count"),
      ("sink.fs_s", per(fsS(_, "sink")), "s"),
      ("sink.files_written", per(_.fs.getOrElse("sink.files_written", 0L).toDouble), "count"),
      ("sink.bytes_written", per(_.fs.getOrElse("sink.bytes_written", 0L) / MB), "MB"),
      ("sink.touched_ratio", per(_.touched), "ratio"),
      ("sink.read_s", mean(queries.flatMap(_.query).map(_.readNs / 1e9)), "s"),
      ("sink.files_per_query", mean(queries.flatMap(_.query).map(_.files.toDouble)), "count"),
      ("other.job_s", per(jobS(_, "other")), "s"),
      ("jvm.gc_s", per(_.gcS), "s"),
      ("jvm.gc_count", per(_.gcCount.toDouble), "count"),
      ("host.calib_s", calib, "s"))
  }
}
