package graft.sink

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ShardedTableSpec extends SparkSpec {
  import spark.implicits._

  private def hconf = spark.sparkContext.hadoopConfiguration

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("commit/readCurrent round-trip; partition column survives as data") {
    val t = new ShardedTable(tmp("shtab") + "/t", "shard", hconf)
    val df = Seq((1L, 0, "a"), (2L, 1, "b"), (3L, 0, "c"))
      .toDF("id", "shard", "v")
    val v = t.commit(df, Seq("0", "1"))
    assert(v === 1L)
    assert(t.currentVersion === Some(1L))
    val back = t.readCurrent(spark).select("id", "shard", "v").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(back === Set((1L, 0, "a"), (2L, 1, "b"), (3L, 0, "c")))
  }

  test("partition-granular epoch: untouched partitions carry over by path") {
    val t = new ShardedTable(tmp("shtab") + "/t", "shard", hconf)
    t.commit((0 until 40).map(i => (i.toLong, i % 4, s"v$i"))
      .toDF("id", "shard", "v"), Seq("0", "1", "2", "3"))
    // epoch 2 replaces only shard 2's content
    t.commit(Seq((100L, 2, "new")).toDF("id", "shard", "v"), Seq("2"))
    val m1 = t.manifest(1L)
    val m2 = t.manifest(2L)
    Seq("0", "1", "3").foreach { s =>
      assert(m2(s) === m1(s), s"shard $s must be the SAME directory")
    }
    assert(m2("2") !== m1("2"))
    // replaced partition: delta-wins content; untouched: original rows
    val cur = t.readCurrent(spark)
    assert(cur.filter(col("shard") === 2).count() === 1L)
    assert(cur.count() === 31L) // 30 untouched + 1 replacement
    // time travel still serves the epoch-1 content
    assert(t.read(spark, 1L).count() === 40L)
  }

  test("touched partition with no rows is a partition delete") {
    val t = new ShardedTable(tmp("shtab") + "/t", "shard", hconf)
    t.commit(Seq((1L, 0), (2L, 1)).toDF("id", "shard"), Seq("0", "1"))
    t.commit(Seq((3L, 0)).toDF("id", "shard"), Seq("0", "1"))
    assert(t.manifest(2L).keySet === Set("0"))
    assert(t.readCurrent(spark).select("id").as[Long].collect().toSet === Set(3L))
  }

  test("rows outside the declared touched set are rejected") {
    val t = new ShardedTable(tmp("shtab") + "/t", "shard", hconf)
    intercept[IllegalArgumentException] {
      t.commit(Seq((1L, 0), (2L, 7)).toDF("id", "shard"), Seq("0"))
    }
  }

  test("rollback is a pointer flip; history and metadata survive") {
    val t = new ShardedTable(tmp("shtab") + "/t", "shard", hconf)
    t.commit(Seq((1L, 0)).toDF("id", "shard"), Seq("0"), Map("wm" -> "10"))
    t.commit(Seq((2L, 0)).toDF("id", "shard"), Seq("0"), Map("wm" -> "20"))
    assert(t.metaOf(t.currentVersion.get)("wm") === "20")
    t.rollback(1L)
    assert(t.currentVersion === Some(1L))
    assert(t.metaOf(t.currentVersion.get)("wm") === "10")
    assert(t.readCurrent(spark).select("id").as[Long].collect().toSeq === Seq(1L))
    assert(t.history === Seq(1L, 2L))
    // a commit after rollback continues the version sequence
    val v3 = t.commit(Seq((3L, 0)).toDF("id", "shard"), Seq("0"))
    assert(v3 === 3L)
  }

  test("an empty table has no current version; unknown versions raise") {
    val t = new ShardedTable(tmp("shtab") + "/t", "shard", hconf)
    assert(t.currentVersion.isEmpty && t.history.isEmpty)
    intercept[IllegalStateException](t.readCurrent(spark))
    t.commit(Seq((1L, 0)).toDF("id", "shard"), Seq("0"))
    intercept[IllegalArgumentException](t.read(spark, 0L))
    intercept[IllegalArgumentException](t.read(spark, 7L))
    intercept[IllegalArgumentException](t.rollback(7L))
    assert(t.currentVersion === Some(1L))
  }

  test("a crash before the pointer flip leaves the previous version live") {
    val root = tmp("shtab") + "/t"
    new ShardedTable(root, "shard", hconf)
      .commit(Seq((1L, 0), (2L, 1)).toDF("id", "shard"), Seq("0", "1"))
    // the commit's crash window: the v2 record landed, the pointer
    // never moved
    val store = new graft.state.FsStateStore(s"$root/_meta", hconf)
    store.put("manifests", "v00002", Map("p:0" -> s"$root/data/lost/_part=0"))
    val t = new ShardedTable(root, "shard", hconf)
    assert(t.currentVersion === Some(1L), "pointer must still be v1")
    assert(t.readCurrent(spark).select("id").as[Long].collect().toSet === Set(1L, 2L))
    // the orphan shows in history; the next commit numbers past it and
    // bases its record on the CURRENT version, not on the orphan
    assert(t.history === Seq(1L, 2L))
    assert(t.commit(Seq((3L, 1)).toDF("id", "shard"), Seq("1")) === 3L)
    assert(store.get("manifests", "v00003").get.get("base:") === Some("1"))
    assert(t.readCurrent(spark).select("id").as[Long].collect().toSet === Set(1L, 3L))
  }

  test("readPartitions opens only the named partitions (manifest pruning)") {
    val t = new ShardedTable(tmp("shtab") + "/t", "shard", hconf)
    t.commit((0 until 30).map(i => (i.toLong, i % 3)).toDF("id", "shard"),
      Seq("0", "1", "2"))
    val pruned = t.readPartitions(spark, Seq("1"))
    assert(pruned.select("shard").distinct().as[Int].collect().toSeq === Seq(1))
    // the plan reads exactly one directory
    val files = pruned.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.toSeq
      }).flatten
    assert(files.nonEmpty && files.forall(_.contains("_part=1")))
    // unknown values resolve to an empty frame with the right schema
    assert(t.readPartitions(spark, Seq("99")).count() === 0L)
    assert(t.readPartitions(spark, Seq("99")).columns.toSeq === Seq("id", "shard"))
  }

  test("full commit drops carry-over (rebuild after data loss)") {
    val root = tmp("shtab") + "/t"
    val t = new ShardedTable(root, "shard", hconf)
    t.commit(Seq((1L, 0), (2L, 1)).toDF("id", "shard"), Seq("0", "1"))
    val v = t.commit(Seq((9L, 1)).toDF("id", "shard"), Seq("1"), full = true)
    assert(t.manifest(v).keySet === Set("1"),
      "full commit must not reference the previous manifest's dirs")
    assert(t.readCurrent(spark).count() === 1L)
  }

  test("commit metadata is O(touched): delta record against a 100k-partition manifest") {
    val root = tmp("shtab") + "/t"
    val t = new ShardedTable(root, "shard", hconf)
    // synthesize a committed 10^5-partition FULL manifest directly in
    // the metadata store (actually writing 10^5 parquet dirs would
    // test the filesystem, not the manifest encoding)
    val store = new graft.state.FsStateStore(s"$root/_meta", hconf)
    val big = (0 until 100000).map(i => s"p:$i" -> s"$root/data/fake/_part=$i").toMap
    store.put("manifests", "v00001", big)
    store.put("pointer", "current", Map("version" -> "1"))
    val v2 = t.commit(Seq((1L, 5)).toDF("id", "shard"), Seq("5"))
    val rec = store.get("manifests", "v00002").get
    assert(rec.size < 10,
      s"delta record must be O(touched), got ${rec.size} entries")
    assert(rec.contains("base:") && rec.contains("del:5"))
    // resolution still sees the whole table: 99999 carried + 1 staged
    val m = t.manifest(v2)
    assert(m.size === 100000)
    assert(m("7") === big("p:7"), "untouched partitions carry by path")
    assert(m("5").contains("/data/"))
    assert(m("5") !== big("p:5"))
  }

  test("delta chains compact every ChainLimit commits; every version resolves") {
    val root = tmp("shtab") + "/t"
    val t = new ShardedTable(root, "shard", hconf)
    val store = new graft.state.FsStateStore(s"$root/_meta", hconf)
    (1 to 40).foreach { i =>
      t.commit(Seq((i.toLong, i % 4)).toDF("id", "shard"),
        Seq((i % 4).toString), Map("wm" -> i.toString))
    }
    val recs = (1 to 40).map(v => store.get("manifests", f"v$v%05d").get)
    val fulls = recs.count(!_.contains("base:"))
    assert(fulls >= 2 && fulls < 40,
      s"chain must COMPACT periodically (full records: $fulls)")
    // per-commit user meta never inherits through the chain
    assert(t.metaOf(40L) === Map("wm" -> "40"))
    assert(t.metaOf(17L) === Map("wm" -> "17"))
    // every shard serves its LATEST committed row; time travel exact
    val cur = t.readCurrent(spark).select("id").as[Long].collect().toSet
    assert(cur === Set(37L, 38L, 39L, 40L))
    assert(t.read(spark, 10L).select("id").as[Long].collect().toSet ===
      Set(7L, 8L, 9L, 10L))
  }

  test("expireVersions materializes surviving deltas before dropping their bases") {
    val root = tmp("shtab") + "/t"
    val t = new ShardedTable(root, "shard", hconf)
    (1 to 6).foreach { i =>
      t.commit(Seq((i.toLong, i % 2)).toDF("id", "shard"), Seq((i % 2).toString))
    }
    t.expireVersions(keepLast = 2) // v5/v6 are deltas chained through v1..v4
    assert(t.history === Seq(5L, 6L))
    assert(t.readCurrent(spark).select("id").as[Long].collect().toSet ===
      Set(5L, 6L))
    assert(t.read(spark, 5L).select("id").as[Long].collect().toSet ===
      Set(4L, 5L))
  }

  test("expireVersions reclaims unreferenced partition dirs, keeps shared ones") {
    val root = tmp("shtab") + "/t"
    val t = new ShardedTable(root, "shard", hconf)
    t.commit(Seq((1L, 0), (2L, 1)).toDF("id", "shard"), Seq("0", "1"))
    t.commit(Seq((3L, 1)).toDF("id", "shard"), Seq("1")) // v2 shares shard 0
    t.commit(Seq((4L, 1)).toDF("id", "shard"), Seq("1")) // v3 shares shard 0
    val deleted = t.expireVersions(keepLast = 1)
    // v1's shard-1 and v2's shard-1 dirs are unreferenced; shard 0 of
    // v1 is still referenced by v3's manifest and must survive
    assert(deleted === 2)
    assert(t.history === Seq(3L))
    assert(t.readCurrent(spark).select("id").as[Long].collect().toSet === Set(1L, 4L))
    intercept[IllegalArgumentException](t.read(spark, 1L))
  }

  private def dataFiles(dir: String): Seq[String] =
    new java.io.File(new java.net.URI(dir)).listFiles().map(_.getName)
      .filter(n => !n.startsWith(".") && !n.startsWith("_")).toSeq

  test("one data file per touched partition per commit, also over many epochs") {
    val t = new ShardedTable(tmp("shtab") + "/t", "shard", hconf)
    (1 to 5).foreach { e =>
      // 6 input partitions, each holding rows of every shard: without
      // the rebalance every task would write a file into every shard
      val df = spark.range(0, 600, 1, 6)
        .select((col("id") + e * 1000).as("id"), (col("id") % 8).cast("int").as("shard"))
      t.commit(df, (0 until 8).map(_.toString))
    }
    val m = t.manifest(t.currentVersion.get)
    assert(m.size === 8)
    m.foreach { case (part, dir) =>
      assert(dataFiles(dir).size === 1, s"partition $part: ${dataFiles(dir)}")
    }
    assert(t.readCurrent(spark).count() === 600L)
  }

  test("readCurrent runs no Spark job and returns the inferred schema") {
    val root = tmp("shtab") + "/t"
    val t = new ShardedTable(root, "shard", hconf)
    val df = Seq((1L, 0, "a", BigDecimal("1.50"), Seq(1, 2), java.sql.Timestamp.valueOf("2024-01-02 03:04:05")),
        (2L, 1, null, BigDecimal("2.25"), Seq(3), java.sql.Timestamp.valueOf("2024-02-03 04:05:06")))
      .toDF("id", "shard", "v", "amount", "xs", "ts")
      .withColumn("nested", struct(col("id").as("i"), col("v").as("s")))
    t.commit(df, Seq("0", "1"))
    t.commit(df.filter(col("shard") === 1), Seq("1"))
    val fresh = new ShardedTable(root, "shard", hconf)
    val (read, jobs) = sparkJobs(fresh.readCurrent(spark))
    assert(jobs === 0, "opening a version must not launch a schema-inference job")
    val inferred = spark.read.parquet(fresh.manifest(2L).values.toSeq.sorted: _*).schema
    assert(read.schema === inferred)
    assert(read.collect().toSet === spark.read.parquet(
      fresh.manifest(2L).values.toSeq.sorted: _*).collect().toSet)
    assert(fresh.readPartitions(spark, Seq("99")).schema === inferred)
  }

  test("a manifest record without schema: still reads (falls back to inference)") {
    val root = tmp("shtab") + "/t"
    val t = new ShardedTable(root, "shard", hconf)
    t.commit(Seq((1L, 0, "a"), (2L, 1, "b")).toDF("id", "shard", "v"), Seq("0", "1"))
    val store = new graft.state.FsStateStore(s"$root/_meta", hconf)
    val rec = store.get("manifests", "v00001").get
    assert(rec.contains("schema:"))
    store.put("manifests", "v00001", rec - "schema:")
    val old = new ShardedTable(root, "shard", hconf)
    assert(old.readCurrent(spark).select("id", "shard", "v").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet ===
      Set((1L, 0, "a"), (2L, 1, "b")))
    assert(old.readPartitions(spark, Seq("1")).select("id").as[Long].collect().toSeq === Seq(2L))
    // a delta committed on top of the schema-less record carries one
    old.commit(Seq((3L, 1, "c")).toDF("id", "shard", "v"), Seq("1"))
    assert(store.get("manifests", "v00002").get.contains("schema:"))
    assert(old.readCurrent(spark).count() === 2L)
  }
}
