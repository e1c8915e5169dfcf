package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.graftshim.ListenerBusShim

/** The gates' thread pool for per-key units: results in key order, and a
  * failing unit stops its siblings and their Spark jobs before the error
  * reaches the caller.
  */
class ParallelByKeySpec extends SparkSpec {

  test("results keep the input key order") {
    val out = OperatorGates7.parallelByKey(spark, (1 to 12).toSeq, maxThreads = 4) { k =>
      Thread.sleep((12 - k) * 5L); k * k
    }
    assert(out == (1 to 12).map(k => k * k))
  }

  test("a failing unit is rethrown at once and no sibling is still running") {
    val running = new AtomicInteger
    val boom = new IllegalStateException("unit 3 failed")
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      OperatorGates7.parallelByKey(spark, (0 until 8).toSeq, maxThreads = 4) { k =>
        if (k == 3) { Thread.sleep(100); throw boom }
        running.incrementAndGet()
        try Thread.sleep(30000) finally running.decrementAndGet()
      }
    }
    val sec = (System.nanoTime() - t0) / 1e9
    assert(e eq boom)
    assert(running.get == 0, "a sibling unit outlived the failed call")
    assert(sec < 10, s"the call waited $sec s for siblings instead of stopping them")
  }

  test("a failing unit cancels a sibling's running Spark job") {
    val sc = spark.sparkContext
    val boom = new IllegalStateException("unit 0 failed")
    ParallelByKeySpec.ticks.set(0)
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      OperatorGates7.parallelByKey(spark, Seq(0, 1), maxThreads = 2) { k =>
        if (k == 0) {
          // fail only once the sibling's tasks are running
          val deadline = System.nanoTime() + 20e9
          while (ParallelByKeySpec.ticks.get == 0 && System.nanoTime() < deadline) Thread.sleep(10)
          throw boom
        }
        // each task ticks for up to 30 s unless its job is cancelled
        sc.parallelize(1 to 2, 2).foreach { _ =>
          val end = System.nanoTime() + 30e9
          while (System.nanoTime() < end) { ParallelByKeySpec.ticks.incrementAndGet(); Thread.sleep(5) }
        }
      }
    }
    val sec = (System.nanoTime() - t0) / 1e9
    assert(e eq boom)
    assert(sec < 15, s"the call waited $sec s for the sibling's job instead of cancelling it")
    // the scheduler fails the job before it posts the job's end event
    val deadline = System.nanoTime() + 10e9
    while ({ ListenerBusShim.drain(sc); sc.statusTracker.getActiveJobIds.nonEmpty } &&
        System.nanoTime() < deadline) Thread.sleep(20)
    assert(sc.statusTracker.getActiveJobIds.isEmpty, "a sibling's Spark job is still active")
    Thread.sleep(200)
    val settled = ParallelByKeySpec.ticks.get
    Thread.sleep(300)
    assert(ParallelByKeySpec.ticks.get == settled, "a sibling's tasks still run after the call")
  }
}

object ParallelByKeySpec {
  /** Ticks of the sibling job's tasks (local mode: same JVM as the test). */
  val ticks = new AtomicLong
}
