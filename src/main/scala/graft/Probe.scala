package graft

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftshim.ListenerBusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Per-query timing and Spark profile, and the bench's isolation leg.
  * `runMain graft.Probe <sfDir> [--plan] <query>...` (no query: the
  * whole catalog). Per query: one warm `.count()`, then [[Runs]] timed
  * `.count()`s, and one stdout line
  * `{"probe":name,"min","runs","rows","error","jobs","job_s",
  * "job_stages","gap_s","stages","tasks","shuffle_read_b",
  * "shuffle_write_b","fs_ops"}`. `min` is the fastest successful run (null if
  * none succeeded); `error` is the message of the last failed run, the
  * warm one included (null if none failed); the profile fields describe
  * the last run: its Spark jobs with their durations and stage counts
  * (skipped stages included),
  * the part of its wall time no job covered (planning and file-system
  * work between and around jobs), its completed stages, their tasks and
  * shuffle bytes, and `fs_ops`: the JVM's filesystem calls by kind
  * over the run (`<statistics name>.<counter>`, the non-zero deltas of
  * the operation counters in Hadoop's global storage statistics; in
  * local mode they include the tasks' calls, which run in the same
  * JVM). Hadoop's local filesystem counts no calls, so this main runs
  * its session on [[graft.metrics.CountingLocalFs]]; a profile taken
  * in another session reports what its filesystems count.
  * `--plan` first prints the formatted physical plan. [[Bench]] spawns
  * this main in a fresh JVM through [[child]], which reads the lines
  * back with [[parse]].
  */
object Probe {
  val Runs = 2
  private val Prefix = "{\"probe\":"
  private val Json = new com.fasterxml.jackson.databind.ObjectMapper

  final case class Profile(name: String, min: Option[Double], runs: Seq[Double], rows: Long,
      error: Option[String], jobS: Seq[Double], jobStages: Seq[Int], gapS: Double,
      stages: Int, tasks: Long, shuffleReadB: Long, shuffleWriteB: Long,
      fsOps: Map[String, Long]) {
    def jobs: Int = jobS.size

    def json: String = {
      def jd(d: Double) = f"$d%.3f"
      def arr(ds: Seq[Double]) = ds.map(jd).mkString("[", ",", "]")
      val err = error.map(Json.writeValueAsString).getOrElse("null")
      s"""$Prefix"$name","min":${min.map(jd).getOrElse("null")},"runs":${arr(runs)},""" +
        s""""rows":$rows,"error":$err,"jobs":$jobs,"job_s":${arr(jobS)},""" +
        s""""job_stages":${jobStages.mkString("[", ",", "]")},"gap_s":${jd(gapS)},""" +
        s""""stages":$stages,"tasks":$tasks,"shuffle_read_b":$shuffleReadB,""" +
        s""""shuffle_write_b":$shuffleWriteB,"fs_ops":""" +
        fsOps.toSeq.sorted.map { case (k, v) => s"${Json.writeValueAsString(k)}:$v" }
          .mkString("{", ",", "}") + "}"
    }
  }

  /** The record on a probe output line, None for any other line. */
  def parse(line: String): Option[Profile] =
    if (!line.startsWith(Prefix)) None
    else scala.util.Try {
      val n = Json.readTree(line)
      def ds(f: String) = n.get(f).elements.asScala.map(_.asDouble).toSeq
      def opt(f: String) = Option(n.get(f)).filterNot(_.isNull)
      Profile(n.get("probe").asText, opt("min").map(_.asDouble), ds("runs"),
        n.get("rows").asLong, opt("error").map(_.asText), ds("job_s"),
        n.get("job_stages").elements.asScala.map(_.asInt).toSeq, n.get("gap_s").asDouble,
        n.get("stages").asInt, n.get("tasks").asLong, n.get("shuffle_read_b").asLong,
        n.get("shuffle_write_b").asLong,
        n.get("fs_ops").fields.asScala.map(e => e.getKey -> e.getValue.asLong).toMap)
    }.toOption

  /** Jobs and stages of one run; read only after the listener bus drained. */
  private final class Recorder extends SparkListener {
    private val starts = mutable.HashMap.empty[Int, (Long, Int)] // (start ms, stages)
    val jobs = mutable.ArrayBuffer.empty[(Long, Long, Int)] // (start, end) epoch ms, stages
    var stages, tasks, shuffleRead, shuffleWrite = 0L

    def reset(): Unit = synchronized {
      starts.clear(); jobs.clear(); stages = 0; tasks = 0; shuffleRead = 0; shuffleWrite = 0
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      starts(e.jobId) = (e.time, e.stageInfos.size)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      starts.remove(e.jobId).foreach { case (t0, n) => jobs += ((t0, e.time, n)) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val m = e.stageInfo.taskMetrics
      stages += 1
      tasks += e.stageInfo.numTasks
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    }
  }

  /** Milliseconds of [t0, t1] covered by at least one of the intervals. */
  private def covered(t0: Long, t1: Long, ivs: Seq[(Long, Long)]): Long =
    ivs.map { case (a, b) => (a.max(t0), b.min(t1)) }.filter(i => i._1 < i._2).sorted
      .foldLeft((0L, t0)) { case ((sum, reach), (a, b)) =>
        if (b <= reach) (sum, reach) else (sum + b - a.max(reach), b)
      }._1

  /** Operation counts (not byte counts) of every filesystem scheme the
    * JVM has used, from Hadoop's global storage statistics.
    */
  private def fsOpCounts(): Map[String, Long] =
    org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator.asScala.flatMap { st =>
      st.getLongStatistics.asScala.collect {
        case l if l.getName.endsWith("Ops") || l.getName.startsWith("op_") =>
          s"${st.getName}.${l.getName}" -> l.getValue
      }
    }.toMap

  def profile(spark: SparkSession, sfDir: String, name: String): Profile = {
    val fn = SparkEntry.queries(name)
    var error = Option.empty[String]
    def count(): Option[Long] =
      try Some(fn(spark, sfDir).count())
      catch { case e: Throwable => error = Some(s"${e.getClass.getName}: ${e.getMessage}"); None }
    count()
    val sc = spark.sparkContext
    val rec = new Recorder
    sc.addSparkListener(rec)
    try {
      val runs = (1 to Runs).map { _ =>
        ListenerBusShim.drain(sc)
        rec.reset()
        val fs0 = fsOpCounts()
        val (t0, ms0) = (System.nanoTime(), System.currentTimeMillis())
        val rows = count()
        val t1 = System.nanoTime()
        val fs1 = fsOpCounts()
        ((t1 - t0) / 1e9, rows, (ms0, System.currentTimeMillis()),
          fs1.map { case (k, v) => k -> (v - fs0.getOrElse(k, 0L)) }.filter(_._2 != 0))
      }
      ListenerBusShim.drain(sc)
      val (w0, w1) = runs.last._3
      rec.synchronized {
        Profile(name, runs.collect { case (t, Some(_), _, _) => t }.minOption, runs.map(_._1),
          runs.flatMap(_._2).lastOption.getOrElse(-1L), error,
          rec.jobs.toSeq.map { case (a, b, _) => (b - a) / 1e3 }, rec.jobs.toSeq.map(_._3),
          (w1 - w0 - covered(w0, w1, rec.jobs.toSeq.map { case (a, b, _) => (a, b) })) / 1e3,
          rec.stages.toInt, rec.tasks, rec.shuffleRead, rec.shuffleWrite, runs.last._4)
      }
    } finally sc.removeSparkListener(rec)
  }

  /** Run this main in a fresh JVM (classpath, module flags and heap
    * inherited from this one) and return the records it printed.
    */
  private[graft] def child(args: Seq[String]): Seq[Profile] = {
    val javaBin = new java.io.File(
      new java.io.File(System.getProperty("java.home"), "bin"), "java").getAbsolutePath
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    // keep module opens + heap; drop agent/debug flags
    val keep = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < jvmArgs.length) {
      val a = jvmArgs(i)
      if (a == "--add-opens" && i + 1 < jvmArgs.length) {
        keep += a += jvmArgs(i + 1); i += 2
      } else if (a.startsWith("--add-opens=") || a.startsWith("-Xmx")) {
        keep += a; i += 1
      } else i += 1
    }
    val pb = new ProcessBuilder((Seq(javaBin) ++ keep ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.Probe") ++ args): _*)
    // merge stderr into stdout: Spark logs to stderr, and an undrained
    // stderr pipe fills its ~64KB buffer and deadlocks the child
    // (stdout then never reaches EOF). The records are picked out of
    // the merged stream below.
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    // belt-and-braces: stdout EOF means the child is done or dead;
    // never hang the caller on a wedged child JVM
    if (!p.waitFor(120, java.util.concurrent.TimeUnit.SECONDS)) p.destroyForcibly()
    out.linesIterator.flatMap(parse).toSeq
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val plan = args.contains("--plan")
    val names = args.drop(1).filter(_ != "--plan").toSeq
    // count local filesystem calls by kind (fs_ops)
    val spark = Tables.session(conf =
      Map("spark.hadoop.fs.file.impl" -> classOf[graft.metrics.CountingLocalFs].getName))
    (if (names.isEmpty) SparkEntry.queries.keys.toSeq.sorted else names).foreach { name =>
      if (plan) {
        println(s"========== $name ==========")
        SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      }
      println(profile(spark, sfDir, name).json)
    }
    spark.stop()
  }
}
