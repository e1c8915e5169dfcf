package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.functions.Text
import graft.model.TableType
import graft.sink.{Publisher, SinkSpec}

/** Small operators not covered by the bigger suites. */
class SmallOpsSpec extends SparkSpec {
  import spark.implicits._

  test("mixtureTemperature: weights normalize, α=0.5 flattens the mix") {
    val df = (Seq.fill(90)("big") ++ Seq.fill(10)("small")).toDF("domain")
    val out = Converters.mixtureTemperature(df, "domain")
      .orderBy("domain").collect()
    val byDom = out.map(r => r.getString(0) ->
      (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val (nB, shB, wB, epB) = byDom("big")
    val (nS, shS, wS, epS) = byDom("small")
    assert(nB == 90 && nS == 10 && shB == 0.9 && shS == 0.1)
    assert(math.abs(wB + wS - 1.0) < 1e-12) // weights normalize
    // sqrt temperature: 0.75 vs 0.25 — flatter than 0.9/0.1
    assert(math.abs(wB - 0.75) < 1e-12 && math.abs(wS - 0.25) < 1e-12)
    assert(math.abs(epB - 0.75 * 100 / 90) < 1e-12) // big downsampled
    assert(math.abs(epS - 2.5) < 1e-12) // small repeated 2.5 epochs
  }

  test("temperatureResample repeats rare domains and thins common ones") {
    val df = ((0 until 90).map(i => (i.toLong, "big")) ++
      (100 until 110).map(i => (i.toLong, "small"))).toDF("id", "domain")
    val out = Converters.temperatureResample(df, "domain", "id")
    val counts = out.groupBy("domain").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // epochs: big = .75*100/90 = 0.833 (thins), small = .25*100/10 = 2.5
    assert(counts("big") < 90, s"big must thin: $counts")
    assert(counts("small") > 10 && counts("small") <= 30,
      s"small must repeat ~2.5x: $counts")
    // every small id appears at least floor(2.5) = 2 times
    val perId = out.filter($"domain" === "small").groupBy("id").count()
      .collect().map(_.getLong(1))
    assert(perId.forall(c => c == 2 || c == 3))
    // deterministic: second run is identical
    val again = Converters.temperatureResample(df, "domain", "id")
      .groupBy("domain").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == counts)
  }

  test("retrieveField extracts a nested field as the record") {
    val df = Seq((1L, ("x", 2.5))).toDF("id", "s")
      .select($"id", $"s".cast("struct<a:string,b:double>"))
    val out = Converters.retrieveField("s.b", "b")(df)
    assert(out.columns.toSeq == Seq("b") && out.head.getDouble(0) == 2.5)
  }

  test("splitToList keeps the list in one record") {
    val out = Converters.splitToList("csv", ",", "items")(Seq("a,b,c").toDF("csv"))
    assert(out.head.getSeq[String](1) == Seq("a", "b", "c"))
  }

  test("sampleKPerGroup: exactly k per group, deterministic across runs") {
    val docs = Tables.load(spark, sf(), "documents")
    val s1 = Converters.sampleKPerGroup(Seq("source"), "doc_id", 2)(docs)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val s2 = Converters.sampleKPerGroup(Seq("source"), "doc_id", 2)(docs.repartition(9))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(s1.sameElements(s2))
    val perGroup = Converters.sampleKPerGroup(Seq("source"), "doc_id", 2)(docs)
      .groupBy("source").count().agg(max("count")).head.getLong(0)
    assert(perGroup == 2)
    // a different seed selects a different sample
    val s3 = Converters.sampleKPerGroup(Seq("source"), "doc_id", 2, seed = "other")(docs)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(!s1.sameElements(s3))
  }

  test("text helpers: meanTokenLen, fingerprint64, bpeish count") {
    val r = Seq("ab cd!").toDF("t").select(
      Text.meanTokenLen($"t"), Text.fingerprint64($"t"), Text.bpeishTokenCount($"t")).head
    assert(r.getDouble(0) == 2.5)  // (6 chars - 2 tokens + 1) / 2
    assert(r.getLong(1) != 0L)
    assert(r.getInt(2) == 3)       // "ab", "cd", "!"
  }

  test("table types map to write modes") {
    assert(TableType.writeMode(TableType.SnapshotOnly) == "overwrite")
    assert(TableType.writeMode(TableType.AppendOnly) == "append")
  }

  test("publishPartial publishes staged branches, reports missing ones") {
    val root = tmpDir("partial")
    val pub = new Publisher(spark.sparkContext.hadoopConfiguration)
    val a = SinkSpec(s"$root/st/a", s"$root/out/a")
    val b = SinkSpec(s"$root/st/b", s"$root/out/b")
    pub.writeStaged(Seq((1, "x")).toDF("id", "v"), a)
    val (published, missing) = pub.publishPartial(Seq(a, b))
    assert(published == Seq(a) && missing == Seq(b))
    assert(spark.read.parquet(s"$root/out/a").count() == 1)
  }

  test("tsv and gzip tsv scan to identical rows (fixture A5 parity)") {
    import java.nio.file.{Files, Paths}
    val dir = tmpDir("gz")
    val tsv = "A\t1\nB\t2\nC\t3\n"
    Files.write(Paths.get(dir, "simple.tsv"), tsv.getBytes("UTF-8"))
    val gzOut = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(Paths.get(dir, "simple.tsv.gz")))
    gzOut.write(tsv.getBytes("UTF-8")); gzOut.close()
    def readRows(f: String) = spark.read
      .option("delimiter", "\t").csv(s"$dir/$f")
      .collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq
    val plain = readRows("simple.tsv")
    assert(plain == Seq(("A", "1"), ("B", "2"), ("C", "3")))
    assert(readRows("simple.tsv.gz") == plain) // codec transparent on scan
  }
}
