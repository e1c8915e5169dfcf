package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.metrics.GraftListener
import graft.sink.Throttle

/** In local mode executors share the JVM, so a static map works as the
  * fake object store.
  */
object FakeStore {
  val objects = new ConcurrentHashMap[String, Array[Byte]]()
  object Client extends ObjectStoreDelete.DeleteClient {
    def deleteBatch(keys: Seq[String]): Seq[String] =
      keys.filter(k => objects.remove(k) != null)
  }
}

class MiscOpsSpec extends SparkSpec {
  import spark.implicits._

  test("object-store delete: batched, idempotent, counts deletions") {
    FakeStore.objects.clear()
    (1 to 300).foreach(i => FakeStore.objects.put(s"obj-$i", Array[Byte](1)))
    // delete 1..200 (of which 1..300 exist) plus 100 unknown keys
    val df = (1 to 300).map(i => s"obj-$i").filter(_.length > 0)
      .take(200).++((1000 to 1099).map(i => s"obj-$i")).toDF("key")
    val stats = ObjectStoreDelete.delete(df, "key", FakeStore.Client, batchSize = 32)
    assert(stats.requested == 300 && stats.deleted == 200)
    assert(FakeStore.objects.size() == 100)
    // idempotent: re-running deletes nothing more, no error
    val again = ObjectStoreDelete.delete(df, "key", FakeStore.Client, batchSize = 32)
    assert(again.deleted == 0)
  }

  test("query-execution listener records action metrics") {
    // deliver the earlier tests' queued events first: the new listener
    // would receive them, and the poll below would stop before "count"
    org.apache.spark.graftshim.ListenerBusShim.drain(spark.sparkContext)
    val listener = GraftListener.install(spark)
    try {
      graft.Tables.load(spark, sf(), "nation").count()
      // listener callbacks are async; poll briefly
      var tries = 0
      while (listener.snapshot.isEmpty && tries < 50) { Thread.sleep(100); tries += 1 }
      val m = listener.snapshot
      assert(m.nonEmpty && !m.exists(_.failed))
      assert(m.exists(_.action == "count"))
    } finally spark.listenerManager.unregister(listener)
  }

  test("metrics report to file: JSON lines, atomic replace, failure flags survive") {
    val listener = GraftListener.install(spark)
    try {
      graft.Tables.load(spark, sf(), "nation").count()
      var tries = 0
      while (listener.snapshot.isEmpty && tries < 50) { Thread.sleep(100); tries += 1 }
      val dir = tmpDir("metrics")
      val path = s"$dir/metrics.jsonl"
      val conf = spark.sparkContext.hadoopConfiguration
      GraftListener.reportJsonLines(listener.snapshot, path, conf)
      // report twice: second report replaces, never appends or tears
      GraftListener.reportJsonLines(listener.snapshot, path, conf)
      val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path))
      assert(lines.size == listener.snapshot.size)
      assert(lines.get(0).startsWith("{\"action\":"))
      assert(lines.get(0).contains("\"failed\":false"))
      assert(!new java.io.File(dir).list().exists(_.endsWith(".tmp")))
    } finally spark.listenerManager.unregister(listener)
  }

  test("throttle: token bucket enforces the configured rate") {
    val t = Throttle.perSecond(100, burst = 1) // 10ms per permit after burst
    val t0 = System.nanoTime()
    (1 to 10).foreach(_ => t.acquire())
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(elapsedMs >= 80, s"10 permits at 100/s took ${elapsedMs}ms (< 80ms)")
    assert(t.tryAcquire(50) == false) // burst cap is 1, not 50
  }
}
