package perfbench

import java.nio.file.{Files, Path => JPath, Paths, StandardCopyOption}
import java.util.{Properties, SplittableRandom}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** What the benchmark wrote for one publishing epoch. */
final case class Delta(rows: Long, bytes: Long, touched: Double = 0.0)

/** What one timed query returned, and the table read it made. */
final case class QueryOut(rows: Seq[Row], readNs: Long, files: Int)

/** One workload: a job config for `JobConfig.runAny`, inputs generated
  * from the seed, and an oracle that knows the expected output from
  * those inputs alone (it never calls program code).
  */
abstract class Workload(val dir: String, cache: String) {
  val src = s"$dir/src"
  val out = s"$dir/out"
  val staging = s"$dir/staging"
  val state = s"$dir/state"
  val quarantine = s"$dir/quarantine"

  /** Job properties, as a scheduler would hand them to RunJob. */
  def props: Properties

  /** Path roots -> layer, for the counting filesystem. */
  def layerRoots: Map[String, String] = Map(
    src -> "sources", out -> "sink", staging -> "sink", quarantine -> "sink",
    state -> "state", s"$state/_locks" -> "runner")

  /** Directories whose new bytes count as written by the program. */
  def writtenRoots: Seq[String] = Seq(out, staging, state, quarantine)

  /** Write the seed input before the first (bulk) epoch. */
  def bulk(spark: SparkSession): Delta

  /** Write delta `i` (0-based over the run) before its epoch. */
  def delta(spark: SparkSession, i: Int): Delta

  /** Compare a publishing (`d` = Some) or noop (`d` = None) epoch's
    * result map with the oracle; None when it matches.
    */
  def checkEpoch(res: Map[String, String], d: Option[Delta]): Option[String]

  /** The workload's read of the published table (timed). */
  def query(spark: SparkSession): QueryOut
  def checkQuery(q: QueryOut): Option[String]

  /** End-of-run comparison of the whole published state. */
  def finalCheck(spark: SparkSession): Option[String]

  /** Touched partitions over all partitions, for a publishing epoch. */
  def touchedRatio(res: Map[String, String], d: Delta): Double = d.touched

  /** Bytes of the data files the current published version references. */
  def liveBytes(spark: SparkSession): Long

  val digest: java.security.MessageDigest = java.security.MessageDigest.getInstance("SHA-256")
  protected def note(s: String): Unit = digest.update(s.getBytes("UTF-8"))

  protected def baseProps(kv: (String, String)*): Properties = {
    val p = new Properties()
    (Seq("state.dir" -> state, "sink.output" -> out, "sink.staging" -> staging,
      "source.path" -> src, "source.format" -> "parquet") ++ kv).foreach { case (k, v) => p.setProperty(k, v) }
    p
  }

  /** Write `df` as parquet files named `<tag>-<n>.parquet` into the
    * source directory (via a scratch dir, so the program only ever sees
    * complete files) and return their total size. Files already written
    * for `tag` by an earlier setup of this run are copied from `cache`
    * instead, so repeated setups do not pay for generating them again.
    */
  protected def land(df: => DataFrame, tag: String): Long = {
    val cached = Paths.get(cache, tag)
    if (!Files.isDirectory(cached)) {
      val tmp = s"$cache/.$tag"
      df.write.mode("overwrite").parquet(tmp)
      Dirs.files(Paths.get(tmp)).map(_._1).filterNot(_.getFileName.toString.endsWith(".parquet"))
        .foreach(Files.delete)
      Files.move(Paths.get(tmp), cached, StandardCopyOption.ATOMIC_MOVE)
    }
    Files.createDirectories(Paths.get(src))
    val parts = Files.list(cached).iterator.asScala.toSeq.sortBy(_.getFileName.toString)
    parts.zipWithIndex.map { case (p, n) =>
      Files.copy(p, Paths.get(src, f"$tag-$n%02d.parquet"))
      Files.size(p)
    }.sum
  }

  protected def parquetBytes(dirs: Seq[String]): Long =
    dirs.map(d => Dirs.files(Paths.get(d.stripPrefix("file:"))).collect {
      case (p, a) if p.getFileName.toString.endsWith(".parquet") => a.size
    }.sum).sum
}

object Workload {
  val Names: Seq[String] = Seq("ingest_trickle", "index_bulk", "cdc_trickle")

  def apply(name: String, seed: Long, dir: String, cache: String): Workload = name match {
    case "ingest_trickle" => new IngestTrickle(seed, dir, cache)
    case "index_bulk" => new IndexBulk(seed, dir, cache)
    case "cdc_trickle" => new CdcTrickle(seed, dir, cache)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

/** Deterministic generators shared by the workloads. */
object Gen {
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + 1)

  /** Zipf(s) over ranks 0 until n by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Vocabulary word for rank i: six lowercase letters, distinct per i
    * (7919 is a unit mod 26^6).
    */
  def word(i: Int): String = {
    var v = (i.toLong * 7919L + 12345L) % 308915776L
    val c = new Array[Char](6)
    for (k <- 0 until 6) { c(k) = ('a' + (v % 26).toInt).toChar; v /= 26 }
    new String(c)
  }
}

/** Small file-tree helpers (java.nio, outside the program's filesystem). */
object Dirs {
  def files(root: JPath): Seq[(JPath, java.nio.file.attribute.BasicFileAttributes)] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map { p =>
        p -> Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
      }.toList
      finally s.close()
    }

  /** (path, size, mtime, file key) of every file under the roots. */
  def snapshot(roots: Seq[String]): Map[String, (Long, Long, AnyRef)] =
    roots.flatMap(r => files(Paths.get(r))).map { case (p, a) =>
      p.toString -> ((a.size, a.lastModifiedTime.toMillis, a.fileKey))
    }.toMap

  /** Bytes of files that are new or changed between two snapshots. */
  def written(before: Map[String, (Long, Long, AnyRef)],
      after: Map[String, (Long, Long, AnyRef)]): Long =
    after.collect { case (p, v) if !before.get(p).contains(v) => v._1 }.sum

  def bytes(roots: Seq[String]): Long = roots.flatMap(r => files(Paths.get(r))).map(_._2.size).sum

  def delete(root: JPath): Unit = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.iterator.asScala.toList.reverse.foreach(Files.delete)
    finally s.close()
  }
}

/** `job.type=ingest`: event deltas through filter, quarantine policy
  * and a date-partitioned staged publish. Source history is bounded by
  * keeping only the last [[Retain]] deltas, a count of epochs.
  */
final class IngestTrickle(seed: Long, dir: String, cache: String)
    extends Workload(dir, cache) {
  private val Rows = 3000
  private val Retain = 4
  private val BulkDeltas = 4
  private val Types = IndexedSeq("view", "click", "cart", "buy")
  private val SlotMicros = 6L * 3600 * 1000000
  private val BaseMicros = 1704078000L * 1000000 // 2024-01-01T03:00Z

  def props: Properties = baseProps(
    "job.name" -> "events_ingest",
    "source.watermark.expr" -> "unix_micros(cast(ts as timestamp))",
    "ops" -> "sqlExpr,timePartition,filter,pick",
    "op.sqlExpr.exprs" -> "event_id;ts;user_id;event_type;value;wm",
    "op.timePartition.column" -> "ts",
    "op.filter.predicate" -> "event_type <> 'error'",
    "op.pick.fields" -> "event_id,user_id,event_type,value,wm,date_key",
    "policy.row.value_ok.predicate" -> "value IS NOT NULL AND value >= 0",
    "policy.row.value_ok.type" -> "ERR_FILE",
    "policy.task.min.rows" -> "0",
    "sink.partitionBy" -> "date_key",
    "quarantine.dir" -> quarantine)

  // oracle: per event type (rows, sum id, sum user, sum cents)
  private val totals = mutable.HashMap.empty[String, Array[Long]]
  private val dates = mutable.HashSet.empty[Long]
  private var expect = 0L // rows the last delta publishes
  private var landed = 0

  private val schema = StructType(Seq(StructField("event_id", LongType),
    StructField("ts_us", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("cents", LongType)))

  private def gen(spark: SparkSession, slots: Range): Delta = {
    val rows = mutable.ArrayBuffer.empty[Row]
    var pub = 0L
    val touched = mutable.HashSet.empty[Long]
    for (i <- slots) {
      val r = Gen.rng(seed, 1000 + i)
      for (k <- 0 until Rows) {
        val id = i.toLong * Rows + k
        val ts = BaseMicros + i * SlotMicros + k * (SlotMicros / Rows) + r.nextLong(SlotMicros / Rows)
        val user = r.nextLong(50000)
        val typ = if (r.nextDouble() < 0.05) "error" else Types(r.nextInt(Types.size))
        val cents = if (r.nextDouble() < 0.03) -1L - r.nextLong(10000) else r.nextLong(100000)
        rows += Row(id, ts, user, typ, cents)
        note(s"$id,$ts,$user,$typ,$cents;")
        if (typ != "error" && cents >= 0) {
          pub += 1
          val t = totals.getOrElseUpdate(typ, new Array[Long](4))
          t(0) += 1; t(1) += id; t(2) += user; t(3) += cents
          touched += Math.floorDiv(ts, 86400L * 1000000)
        }
      }
    }
    dates ++= touched
    expect = pub
    val bytes = land(spark.createDataFrame(rows.asJava, schema)
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"), col("user_id"),
        col("event_type"), (col("cents") / 100.0).as("value")), f"d${slots.last}%06d")
    landed = slots.last
    // landed-data retention: the source keeps the last Retain deltas
    Files.list(Paths.get(src)).iterator.asScala.toList
      .filter(p => p.getFileName.toString.take(7).drop(1).toInt <= landed - Retain)
      .foreach(Files.delete)
    Delta(rows.size, bytes, touched.size.toDouble / dates.size)
  }

  def bulk(spark: SparkSession): Delta = gen(spark, 0 until BulkDeltas)
  def delta(spark: SparkSession, i: Int): Delta = gen(spark, (BulkDeltas + i) to (BulkDeltas + i))

  /** Published rows are exact. The quarantine count and the high
    * watermark are not compared: the watermark advances only over
    * published rows, so filtered or quarantined rows above it are read
    * (and quarantined) again by the next epoch.
    */
  def checkEpoch(res: Map[String, String], d: Option[Delta]): Option[String] = {
    val want = Map("published" -> "true", "rowsWritten" -> d.fold("0")(_ => expect.toString))
    val bad = want.filter { case (k, v) => !res.get(k).contains(v) }
    if (bad.isEmpty) None else Some(s"ingest epoch: want $want, got $res")
  }

  def query(spark: SparkSession): QueryOut = {
    val t0 = System.nanoTime()
    val df = spark.read.parquet(out)
    val readNs = System.nanoTime() - t0
    val rows = df.groupBy(col("event_type")).agg(count(lit(1)), sum(col("event_id")),
      sum(col("user_id")), sum(round(col("value") * 100).cast("long"))).collect().toSeq
    QueryOut(rows, readNs, df.inputFiles.length)
  }

  def checkQuery(q: QueryOut): Option[String] = {
    val got = q.rows.map(r => r.getString(0) -> Seq(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val want = totals.map { case (k, v) => k -> v.toSeq }.toMap
    if (got == want) None else Some(s"ingest query: want $want, got $got")
  }

  def finalCheck(spark: SparkSession): Option[String] = checkQuery(query(spark))

  def liveBytes(spark: SparkSession): Long = parquetBytes(Seq(out))
}

/** `job.type=index` at the sf1 surrogate's document count: a bulk
  * corpus of Zipf-vocabulary documents, epochs of new and redelivered
  * documents into a 32-shard index, and BM25 top-k queries on the
  * current version between epochs.
  */
final class IndexBulk(seed: Long, dir: String, cache: String)
    extends Workload(dir, cache) {
  private val BulkDocs = 50000
  private val NewPerEpoch = 2000
  private val RedeliveredPerEpoch = 1000
  private val Vocab = 20000
  private val Shards = 32
  private val K = 10
  private val zipf = new Gen.Zipf(Vocab, 1.0)

  def props: Properties = baseProps(
    "job.type" -> "index", "job.name" -> "docs_index",
    "index.id" -> "doc_id", "index.text" -> "text", "index.seq" -> "ingest_seq",
    "index.shards" -> Shards.toString)

  // oracle: the latest token ids of every document, by doc id
  private val docs = mutable.ArrayBuffer.empty[Array[Int]]
  private var seq = 0L

  /** Fixed query set: four mid-frequency terms each. */
  private val queries: Seq[(Long, Seq[Int])] = {
    val r = Gen.rng(seed, 7)
    (0 until 8).map(q => q.toLong -> Seq.fill(4)(50 + r.nextInt(1950)).distinct)
  }

  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("ingest_seq", LongType)))

  private def doc(r: SplittableRandom): Array[Int] = Array.fill(8 + r.nextInt(9))(zipf.sample(r))

  private def write(spark: SparkSession, batch: Seq[(Long, Array[Int])], tag: String): Delta = {
    val rows = batch.map { case (id, toks) =>
      seq += 1
      if (id < docs.size) docs(id.toInt) = toks else docs += toks
      val text = toks.map(Gen.word).mkString(" ")
      note(s"$id,$seq,$text;")
      Row(id, text, seq)
    }
    Delta(rows.size, land(spark.createDataFrame(rows.asJava, schema), tag))
  }

  def bulk(spark: SparkSession): Delta = {
    val r = Gen.rng(seed, 1)
    write(spark, (0 until BulkDocs).map(i => i.toLong -> doc(r)), "bulk")
  }

  def delta(spark: SparkSession, i: Int): Delta = {
    val r = Gen.rng(seed, 100 + i)
    val fresh = (0 until NewPerEpoch).map(k => (docs.size + k).toLong -> doc(r))
    val again = (0 until RedeliveredPerEpoch).map(_ => r.nextInt(docs.size).toLong -> doc(r))
    write(spark, fresh ++ again, f"d$i%06d")
  }

  def checkEpoch(res: Map[String, String], d: Option[Delta]): Option[String] = {
    val want = d.fold(Map("published" -> "false", "deltaRows" -> "0"))(x =>
      Map("published" -> "true", "deltaRows" -> x.rows.toString, "highWatermark" -> seq.toString))
    val bad = want.filter { case (k, v) => !res.get(k).contains(v) }
    if (bad.isEmpty) None else Some(s"index epoch: want $want, got $res")
  }

  private def queryDf(spark: SparkSession): DataFrame =
    spark.createDataFrame(queries.map { case (id, ts) => (id, ts.map(Gen.word).mkString(" ")) })
      .toDF("query_id", "qtext")

  def query(spark: SparkSession): QueryOut = {
    val table = new graft.sink.ShardedTable(out, "shard", spark.sparkContext.hadoopConfiguration)
    val t0 = System.nanoTime()
    val post = table.readCurrent(spark)
    val readNs = System.nanoTime() - t0
    val rows = graft.operators.Bm25.topKFromIndex(post, queryDf(spark), "query_id", "qtext", K)
      .collect().toSeq
    QueryOut(rows, readNs, post.inputFiles.length)
  }

  /** Driver-side BM25 with the program's documented integer scoring:
    * idfq = floor((2N - 2df + 1) * 2^20 / (2df + 1)); per term
    * floor(idfq * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))).
    */
  private def oracle(): Map[Long, Seq[(Long, Long)]] = {
    val k1 = 1.2
    val b = 0.75
    val n = docs.size.toLong
    val avgdl = docs.map(_.length.toLong).sum.toDouble / n
    val terms = queries.flatMap(_._2).toSet
    // one pass: tf of every query term in every document that has one
    val tfs = docs.indices.flatMap { d =>
      val hits = docs(d).filter(terms.contains)
      if (hits.isEmpty) None else Some(d -> hits.groupBy(identity).map { case (t, ts) => t -> ts.length })
    }
    val df = terms.map(t => t -> tfs.count(_._2.contains(t)).toLong).toMap
    queries.map { case (qid, qterms) =>
      val scored = tfs.flatMap { case (d, tf) =>
        val hits = qterms.filter(tf.contains)
        if (hits.isEmpty) None
        else {
          val dl = docs(d).length.toDouble
          Some(d.toLong -> hits.map { t =>
            val idfq = math.floor((2L * n - 2L * df(t) + 1L).toDouble * (1L << 20).toDouble /
              (2L * df(t) + 1L).toDouble).toLong
            math.floor(idfq.toDouble * (tf(t).toDouble * (k1 + 1.0)) /
              (tf(t).toDouble + k1 * ((1.0 - b) + b * (dl / avgdl)))).toLong
          }.sum)
        }
      }
      qid -> scored.sortBy { case (d, s) => (-s, d) }.take(K)
    }.toMap
  }

  def checkQuery(q: QueryOut): Option[String] = {
    val got = q.rows.groupBy(_.getLong(0)).map { case (qid, rs) =>
      qid -> rs.sortBy(_.getLong(1)).map(r => r.getLong(2) -> r.getLong(3))
    }
    val want = oracle()
    if (got == want) None else Some(s"index query: want $want, got $got")
  }

  def finalCheck(spark: SparkSession): Option[String] = checkQuery(query(spark))

  override def touchedRatio(res: Map[String, String], d: Delta): Double =
    res("touchedPartitions").toDouble / Shards

  def liveBytes(spark: SparkSession): Long = {
    val t = new graft.sink.ShardedTable(out, "shard", spark.sparkContext.hadoopConfiguration)
    parquetBytes(t.manifest(t.currentVersion.get).values.toSeq)
  }
}

/** `job.type=scd2`: a few hundred Zipf(1.1)-keyed upserts and deletes
  * per epoch over a 10k-key dimension in 32 shards; the query reads the
  * current rows of the hottest keys.
  */
final class CdcTrickle(seed: Long, dir: String, cache: String)
    extends Workload(dir, cache) {
  private val Keys = 10000
  private val Changes = 300
  private val Shards = 32
  private val Hot = 20
  private val zipf = new Gen.Zipf(Keys, 1.1)
  private val offset = Gen.rng(seed, 3).nextInt(Keys)
  private def keyOf(rank: Int): Long = ((rank.toLong * 7919L + offset) % Keys)
  private val hot = (0 until Hot).map(keyOf)

  def props: Properties = baseProps(
    "job.type" -> "scd2", "job.name" -> "orders_scd2",
    "scd2.key" -> "custkey", "scd2.seq" -> "seq", "scd2.op" -> "op", "scd2.attrs" -> "price",
    "scd2.shards" -> Shards.toString)

  // oracle: plain replay of the changelog
  private val live = mutable.LongMap.empty[(Long, Long)] // key -> (valid_from, price)
  private var upserts = 0L
  private var seq = 0L

  private val schema = StructType(Seq(StructField("custkey", LongType),
    StructField("seq", LongType), StructField("op", StringType), StructField("price", LongType)))

  private def write(spark: SparkSession, changes: Seq[(Long, String, Long)], tag: String): Delta = {
    val rows = changes.map { case (k, op, price) =>
      seq += 1
      if (op == "U") { live(k) = (seq, price); upserts += 1 } else live -= k
      note(s"$k,$seq,$op,$price;")
      Row(k, seq, op, price)
    }
    Delta(rows.size, land(spark.createDataFrame(rows.asJava, schema), tag))
  }

  def bulk(spark: SparkSession): Delta = {
    val r = Gen.rng(seed, 1)
    write(spark, (0 until Keys).map(k => (k.toLong, "U", r.nextLong(1000000))), "bulk")
  }

  def delta(spark: SparkSession, i: Int): Delta = {
    val r = Gen.rng(seed, 100 + i)
    val pending = mutable.LongMap.empty[Boolean]
    val changes = (0 until Changes).map { _ =>
      val k = keyOf(zipf.sample(r))
      val isLive = pending.getOrElse(k, live.contains(k))
      val op = if (isLive && r.nextDouble() < 0.15) "D" else "U"
      pending(k) = op == "U"
      (k, op, r.nextLong(1000000))
    }
    write(spark, changes, f"d$i%06d")
  }

  def checkEpoch(res: Map[String, String], d: Option[Delta]): Option[String] = {
    val want = d.fold(Map("published" -> "false", "deltaRows" -> "0"))(x =>
      Map("published" -> "true", "deltaRows" -> x.rows.toString, "highWatermark" -> seq.toString))
    val bad = want.filter { case (k, v) => !res.get(k).contains(v) }
    if (bad.isEmpty) None else Some(s"cdc epoch: want $want, got $res")
  }

  private def current(spark: SparkSession, keys: Option[Seq[Long]]): (DataFrame, Long) = {
    val table = new graft.sink.ShardedTable(out, "shard", spark.sparkContext.hadoopConfiguration)
    val t0 = System.nanoTime()
    val dim = table.readCurrent(spark)
    val readNs = System.nanoTime() - t0
    val cur = dim.filter(col("is_current"))
    (keys.fold(cur)(ks => cur.filter(col("custkey").isin(ks: _*))), readNs)
  }

  def query(spark: SparkSession): QueryOut = {
    val (df, readNs) = current(spark, Some(hot))
    val rows = df.select(col("custkey"), col("valid_from"), col("price")).collect().toSeq
    QueryOut(rows, readNs, df.inputFiles.length)
  }

  private def compare(rows: Seq[Row], keys: Option[Seq[Long]]): Option[String] = {
    val got = rows.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val want = keys.fold(live.toMap)(ks => ks.flatMap(k => live.get(k).map(k -> _)).toMap)
    if (rows.size == got.size && got == want) None
    else Some(s"cdc current rows differ: ${(want.toSet diff got.toSet).take(5)} vs ${(got.toSet diff want.toSet).take(5)}")
  }

  def checkQuery(q: QueryOut): Option[String] = compare(q.rows, Some(hot))

  def finalCheck(spark: SparkSession): Option[String] = {
    val (cur, _) = current(spark, None)
    val all = new graft.sink.ShardedTable(out, "shard", spark.sparkContext.hadoopConfiguration)
      .readCurrent(spark).count()
    compare(cur.select(col("custkey"), col("valid_from"), col("price")).collect().toSeq, None)
      .orElse(if (all == upserts) None else Some(s"cdc dimension has $all intervals, want $upserts"))
  }

  override def touchedRatio(res: Map[String, String], d: Delta): Double =
    res("touchedPartitions").toDouble / Shards

  def liveBytes(spark: SparkSession): Long = {
    val t = new graft.sink.ShardedTable(out, "shard", spark.sparkContext.hadoopConfiguration)
    parquetBytes(t.manifest(t.currentVersion.get).values.toSeq)
  }
}
