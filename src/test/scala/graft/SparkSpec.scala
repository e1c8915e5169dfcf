package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session per suite (guide: one lazy session, not per
  * test), built by the same [[Tables.session]] as Verify/Bench so
  * specs see the same semantics.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Tables.session(cpus = "4")

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `f`'s result and the Spark jobs started while it ran (the
    * listener bus is drained on both sides, so none is missed or
    * charged from before).
    */
  def sparkJobs[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graftshim.ListenerBusShim.drain(sc)
    sc.addSparkListener(listener)
    try {
      val a = f
      org.apache.spark.graftshim.ListenerBusShim.drain(sc)
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
