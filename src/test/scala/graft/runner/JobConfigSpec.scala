package graft.runner

import graft.SparkSpec

/** A reference-style .pull properties file runs the whole pipeline. */
class JobConfigSpec extends SparkSpec {

  test("properties job file runs end-to-end and is incremental on re-run") {
    val root = tmpDir("jobconfig")
    // encoding-aware: the driver has shipped events.ts as nanos INT64 and
    // as naive TIMESTAMP micros — the .pull expressions adapt like a user
    // writing against the schema their files actually have
    val rawTs = spark.read.parquet(s"${sf()}/events.parquet").schema("ts").dataType
    val (wmExpr, tsSel) = rawTs match {
      case org.apache.spark.sql.types.LongType =>
        ("ts div 1000", "timestamp_micros(ts div 1000) as ts")
      case _ => ("unix_micros(cast(ts as timestamp))", "cast(ts as timestamp) as ts")
    }
    val conf =
      s"""# events ingestion job (reference .pull style)
         |job.name=events_from_props
         |source.format=parquet
         |source.path=${sf()}/events.parquet
         |source.watermark.expr=$wmExpr
         |ops=sqlExpr,timePartition,filter,pick
         |op.sqlExpr.exprs=event_id;$tsSel;user_id;event_type;value;wm
         |op.timePartition.column=ts
         |op.filter.predicate=event_type <> 'error'
         |op.pick.fields=event_id,user_id,event_type,value,wm,date_key
         |policy.row.value_ok.predicate=value IS NOT NULL AND value >= 0
         |policy.row.value_ok.type=FAIL
         |policy.task.min.rows=1
         |sink.staging=$root/staging
         |sink.output=$root/out
         |sink.partitionBy=date_key
         |state.dir=$root/state
         |quarantine.dir=$root/quarantine
         |""".stripMargin
    val props = JobConfig.parse(conf)

    val r1 = JobConfig.run(spark, props)
    assert(r1.published)
    val out = spark.read.parquet(s"$root/out")
    assert(out.count() == r1.rowsWritten && r1.rowsWritten > 0)
    assert(out.columns.sorted.toSeq ==
      Seq("date_key", "event_id", "event_type", "user_id", "value", "wm"))
    assert(out.filter(org.apache.spark.sql.functions.col("event_type") === "error").count() == 0)

    // re-run: watermark committed, nothing new
    val r2 = JobConfig.run(spark, props)
    assert(r2.rowsWritten == 0)
    assert(spark.read.parquet(s"$root/out").count() == r1.rowsWritten)
  }

  test("source.format=zipnum: a declarative job consumes a ZipNum index drop") {
    import spark.implicits._
    val root = tmpDir("zipnumsrc")
    val idx = (0 until 25).map { i =>
      (f"site,ex$i%02d)/p", f"202601010${i % 10}0000", s"https://ex$i.site/p",
        if (i % 5 == 0) 404 else 200, "text/html", f"d$i%032d",
        "f.warc.gz", i * 100L, 90L)
    }.toDF("urlkey", "ts", "url", "status", "mime", "digest",
      "filename", "offset", "length")
    graft.operators.CdxIndex.exportZipnum(spark, idx, s"$root/zn",
      shards = 2, linesPerBlock = 4)
    def conf(extra: String) =
      s"""job.name=zipnum_src
         |source.format=zipnum
         |source.path=$root/zn
         |source.watermark.expr=cast(ts as long)
         |ops=filter
         |op.filter.predicate=status = 200
         |sink.staging=$root/staging
         |sink.output=$root/out
         |state.dir=$root/state
         |quarantine.dir=$root/q
         |$extra""".stripMargin
    val r1 = JobConfig.run(spark, JobConfig.parse(conf("")))
    assert(r1.published && r1.rowsWritten === 20L)
    val out = spark.read.parquet(s"$root/out")
    assert(out.count() === 20L)
    assert(out.filter(org.apache.spark.sql.functions
      .col("status") =!= 200).count() === 0L)
    // re-run: the index drop is fully below the watermark — a no-op
    val r2 = JobConfig.run(spark, JobConfig.parse(conf("")))
    assert(r2.rowsWritten === 0L)
    // urlkeyPrefix narrows the read to matching blocks
    val r3 = JobConfig.run(spark, JobConfig.parse(
      conf(s"source.urlkeyPrefix=site,ex01\n")
        .replace("job.name=zipnum_src", "job.name=zipnum_src_pfx")
        .replace(s"$root/out", s"$root/out2")
        .replace(s"$root/state", s"$root/state2")))
    assert(r3.rowsWritten === 1L)
  }

  test("declarative encrypt/decrypt ops roundtrip through a JSON keystore") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ks = java.nio.file.Files.createTempFile("ks", ".json")
    java.nio.file.Files.writeString(ks,
      """{"3": "000102030405060708090a0b0c0d0e0f", "8": "ffeeddccbbaa99887766554433221100"}""")
    val conf =
      s"""ops=encrypt,decrypt
         |op.encrypt.keystore=$ks
         |op.encrypt.column=secret
         |op.encrypt.idColumn=id
         |op.decrypt.keystore=$ks
         |op.decrypt.column=secret
         |""".stripMargin
    val ops = JobConfig.buildOps(JobConfig.parse(conf))
    val df = spark.range(20).select(col("id"), concat(lit("v"), col("id")).as("secret"))
    val out = ops.foldLeft(df)((d, op) => op(d)).collect()
    out.foreach(r => assert(r.getString(1) == s"v${r.getLong(0)}"))
  }

  test("declarative grok op parses with the pattern dictionary") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val conf =
      s"""ops=grok
         |op.grok.column=line
         |op.grok.pattern=^%{IP:client} %{WORD:method} %{INT:code:int}$$
         |""".stripMargin
    val ops = JobConfig.buildOps(JobConfig.parse(conf))
    val df = Seq("10.0.0.1 GET 200", "bad line").toDF("line")
    val out = ops.head(df).orderBy(col("code").asc_nulls_last).collect()
    assert(out(0).getAs[String]("client") == "10.0.0.1" && out(0).getAs[Int]("code") == 200)
    assert(out(1).isNullAt(out(1).fieldIndex("code"))) // unparseable -> nulls
  }

  test("declarative scrubPii + normalize + stratifiedSample ops") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // normalize BEFORE scrubPii: an accented local-part ("café@…")
    // defeats the ASCII email pattern until the accent is stripped
    val conf =
      """ops=normalize,scrubPii,stratifiedSample
        |op.scrubPii.column=text
        |op.normalize.column=text
        |op.normalize.stripAccents=true
        |op.stratifiedSample.groupColumn=lang
        |op.stratifiedSample.idColumn=id
        |op.stratifiedSample.fractions=en:0.0
        |op.stratifiedSample.defaultFraction=1.0
        |""".stripMargin
    val ops = JobConfig.buildOps(JobConfig.parse(conf))
    val df = Seq(
      (1L, "fr", "mail café@x.org ok"),
      (2L, "en", "dropped entirely"),
      (3L, "fr", "naïve 10.0.0.7 text"))
      .toDF("id", "lang", "text")
    val out = ops.foldLeft(df)((d, op) => op(d)).orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 3L), "en rows sampled out")
    assert(out(0).getString(2) == "mail <EMAIL> ok")
    assert(out(1).getString(2) == "naive <IP> text")
  }

  test("declarative extractDocText op dispatches PDF and HTML payloads") {
    import spark.implicits._
    val conf =
      """ops=extractDocText
        |op.extractDocText.idColumn=id
        |op.extractDocText.bytesColumn=payload
        |op.extractDocText.outColumn=doc_text
        |""".stripMargin
    val ops = JobConfig.buildOps(JobConfig.parse(conf))
    val pdf = graft.operators.PdfWriter.write(1L,
      graft.operators.PdfWriter.layout("alpha beta gamma", 2, 4), 2)
    val df = Seq(
      (1L, pdf),
      (2L, "<html>delta epsilon</html>".getBytes("UTF-8")),
      (3L, "plain zeta".getBytes("UTF-8")))
      .toDF("id", "payload")
    val out = ops.foldLeft(df)((d, op) => op(d)).orderBy("id").collect()
    assert(out.map(_.getAs[String]("doc_text")).toSeq ===
      Seq("alpha beta gamma", "delta epsilon", "plain zeta"))
    assert(!out.head.schema.fieldNames.contains("payload"))
  }

  test("declarative scrubExif op strips GPS and keeps pixels") {
    import spark.implicits._
    val conf =
      """ops=scrubExif
        |op.scrubExif.idColumn=id
        |op.scrubExif.bytesColumn=payload
        |""".stripMargin
    val ops = JobConfig.buildOps(JobConfig.parse(conf))
    val rgb = Array.tabulate(64 * 48 * 3)(i => ((20 + (i / 48) % 200) & 0xff).toByte)
    val plain = graft.operators.JpegCodec.encodeRgb(64, 48, rgb,
      quality = 100, subsample = true)
    val gps = graft.operators.JpegCodec.withExifGps(plain, 6, 1000, 2000)
    val df = Seq((1L, gps), (2L, "not an image".getBytes))
      .toDF("id", "payload")
    val out = ops.foldLeft(df)((d, op) => op(d)).orderBy("id").collect()
    assert(out(0).getAs[Boolean]("had_gps"))
    assert(!graft.operators.JpegCodec.exifHasGps(1L,
      out(0).getAs[Array[Byte]]("payload")))
    assert(graft.operators.JpegCodec.exifOrientation(1L,
      out(0).getAs[Array[Byte]]("payload")) == 6)
    assert(!out(1).getAs[Boolean]("had_gps"))
  }

  test("declarative trimAudio op cuts silence, carries other columns") {
    import spark.implicits._
    val conf =
      """ops=trimAudio
        |op.trimAudio.idColumn=id
        |op.trimAudio.bytesColumn=audio
        |op.trimAudio.threshold=50
        |""".stripMargin
    val ops = JobConfig.buildOps(JobConfig.parse(conf))
    val wav = graft.operators.Multimodal.WavCodec.synthesizeDepth(
      8000, 1, 16,
      Array.fill(10)(5) ++ Array.fill(30)(900) ++ Array.fill(7)(-3))
    val df = Seq((1L, "keep-me", wav)).toDF("id", "label", "audio")
    val out = ops.foldLeft(df)((d, op) => op(d)).collect().head
    assert(out.getAs[String]("label") == "keep-me")
    val f = graft.operators.Multimodal.WavCodec.parse(1L,
      out.getAs[Array[Byte]]("audio"))
    assert(f.n_samples == 30 && f.mean_abs_amp == 900.0)
  }

  test("declarative lmFilter + temperatureResample + zorderKey ops") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val conf =
      """ops=lmFilter,zorderKey
        |op.lmFilter.textColumn=text
        |op.lmFilter.idColumn=id
        |op.lmFilter.minHitRatio=0.9
        |op.lmFilter.trainPredicate=lang = 'en'
        |op.zorderKey.x=id
        |op.zorderKey.y=id * 3
        |op.zorderKey.as=z
        |""".stripMargin
    val ops = JobConfig.buildOps(JobConfig.parse(conf))
    val df = Seq(
      (1L, "en", "the cat sat on the mat"),
      (2L, "en", "the cat sat on the mat"),
      (3L, "de", "zz qq xx yy ww vv")) // fully OOV vs the en LM
      .toDF("id", "lang", "text")
    val out = ops.foldLeft(df)((d, op) => op(d)).orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L), "OOV row filtered")
    assert(out.head.schema.fieldNames.contains("z"))
    val resample = JobConfig.buildOps(JobConfig.parse(
      """ops=temperatureResample
        |op.temperatureResample.domainColumn=lang
        |op.temperatureResample.idColumn=id
        |""".stripMargin))
    val r = resample.foldLeft(df)((d, op) => op(d))
    assert(r.columns.contains("rep") && r.count() >= 3)
  }

  test("declarative substringDedup op rewrites the text column in place") {
    import spark.implicits._
    val ops = JobConfig.buildOps(JobConfig.parse(
      """ops=substringDedup
        |op.substringDedup.idColumn=id
        |op.substringDedup.textColumn=text
        |op.substringDedup.gramTokens=3
        |""".stripMargin))
    val df = Seq(
      (1L, "a b c d e f g"),
      (2L, "x c d e f y z")).toDF("id", "text")
    val out = ops.foldLeft(df)((d, op) => op(d)).orderBy("id").collect()
    assert(out.map(_.getString(1)).toSeq == Seq("a b g", "x y z"))
    assert(out.head.schema.fieldNames.toSeq == Seq("id", "text"))
    // colliding user columns fail fast instead of being clobbered
    val clash = df.withColumn("n_tokens", org.apache.spark.sql.functions.lit(1L))
    val err = intercept[IllegalArgumentException](
      ops.foldLeft(clash)((d, op) => op(d)).collect())
    assert(err.getMessage.contains("n_tokens"))
  }

  test("declarative importanceFilter keeps target-like docs, drops garble") {
    import spark.implicits._
    val ops = JobConfig.buildOps(JobConfig.parse(
      """ops=importanceFilter
        |op.importanceFilter.idColumn=id
        |op.importanceFilter.textColumn=text
        |op.importanceFilter.minAvgWeight=524288
        |op.importanceFilter.targetPredicate=lang = 'en'
        |""".stripMargin))
    val df = Seq(
      (1L, "en", "the cat sat on the mat"),
      (2L, "en", "the dog sat on the mat"),
      (3L, "xx", "zzq qzz zzq qzz zzq qzz")).toDF("id", "lang", "text")
    val out = ops.foldLeft(df)((d, op) => op(d)).orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L), "garble filtered")
  }

  test("stream job type: config-driven streaming ingest runs to completion") {
    import org.apache.spark.sql.functions._
    val root = tmpDir("streamjob")
    graft.Tables.load(spark, sf(), "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .write.parquet(s"$root/in")
    val n = spark.read.parquet(s"$root/in").filter(col("value") <= 100).count()
    val conf = JobConfig.parse(
      s"""job.type=stream
         |source.path=$root/in
         |ops=filter
         |op.filter.predicate=value <= 100
         |sink.output=$root/out
         |stream.checkpoint=$root/ck
         |stream.statePartitions=4
         |stream.maxFilesPerTrigger=1
         |""".stripMargin)
    val r = JobConfig.runAny(spark, conf)
    assert(r("published") == "true" && r("rowsWritten") == n.toString)
    // rerun: checkpoint remembers processed files -> no duplicates
    val r2 = JobConfig.runAny(spark, conf)
    assert(r2("rowsWritten") == n.toString, "checkpoint must make the rerun a no-op")
  }

  test("malformed stratifiedSample fractions fail with a naming error, not MatchError") {
    def conf(fractions: String) = JobConfig.parse(
      s"ops=stratifiedSample\nop.stratifiedSample.groupColumn=g\n" +
        s"op.stratifiedSample.idColumn=id\nop.stratifiedSample.fractions=$fractions\n")
    val noColon = intercept[IllegalArgumentException](JobConfig.buildOps(conf("en0.5")))
    assert(noColon.getMessage.contains("op.stratifiedSample.fractions"))
    val nonNum = intercept[IllegalArgumentException](JobConfig.buildOps(conf("en:lots")))
    assert(nonNum.getMessage.contains("non-numeric"))
  }

  test("unknown op and missing keys fail loudly") {
    val bad = JobConfig.parse("job.name=x\nops=teleport\n")
    intercept[IllegalArgumentException](JobConfig.buildOps(bad))
    intercept[IllegalArgumentException](JobConfig.run(spark, JobConfig.parse("job.name=x")))
  }

  test("job.type=index: incremental BM25 index; updates replace rows; empty delta no-op") {
    import spark.implicits._
    import graft.operators.Bm25
    val root = tmpDir("indexjob")
    val props = JobConfig.parse(
      s"""job.type=index
         |job.name=t_idx
         |source.path=$root/src
         |index.id=doc_id
         |index.text=text
         |index.seq=seq
         |sink.staging=$root/staging
         |sink.output=$root/idx
         |state.dir=$root/state
         |""".stripMargin)
    Seq((1L, 1L, "a b"), (2L, 2L, "b c")).toDF("doc_id", "seq", "text")
      .write.mode("append").parquet(s"$root/src")
    val r1 = JobConfig.runAny(spark, props)
    assert(r1("published") == "true" && r1("highWatermark") == "2")
    // epoch 2: doc 1 UPDATED (higher seq, new text) + new doc 3
    Seq((1L, 3L, "z z z"), (3L, 4L, "c d")).toDF("doc_id", "seq", "text")
      .write.mode("append").parquet(s"$root/src")
    val r2 = JobConfig.runAny(spark, props)
    assert(r2("published") == "true" && r2("highWatermark") == "4")
    val table = new graft.sink.ShardedTable(s"$root/idx", "shard",
      spark.sparkContext.hadoopConfiguration)
    def current() = table.readCurrent(spark)
      .select("doc_id", "dl", "token", "tf").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(1), r.getLong(3))).toSet
    def rebuild(docs: Seq[(Long, String)]) =
      Bm25.index(docs.toDF("doc_id", "text"), "doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(2), r.getLong(1), r.getLong(3))).toSet
    assert(current() === rebuild(Seq((1L, "z z z"), (2L, "b c"), (3L, "c d"))),
      "merged index must equal a rebuild from the final corpus")
    // PARTITION-GRANULAR publish: epoch 2 touched only docs {1, 3}'s
    // hash shards — every other shard's directory must carry over into
    // the new manifest BY REFERENCE (same path: physically unmodified)
    val m1 = table.manifest(1L)
    val m2 = table.manifest(2L)
    val touched2: Set[String] = Set(1L, 3L).map(id =>
      Seq((id, "x")).toDF("doc_id", "text")
        .select(Bm25.shardOf(org.apache.spark.sql.functions.col("doc_id"), 32))
        .head.getInt(0).toString)
    m1.keys.filterNot(touched2).foreach { shard =>
      assert(m2(shard) === m1(shard),
        s"untouched shard $shard must carry over by reference, not rewrite")
    }
    assert(r2("touchedPartitions").toInt <= touched2.size,
      "epoch 2 may rewrite at most the delta's shards")
    val r3 = JobConfig.runAny(spark, props)
    assert(r3("published") == "false" && r3("deltaRows") == "0")
    // epoch 3: the SAME doc updated TWICE within one delta — only the
    // latest version may survive (no doubled tf, no stale postings)
    Seq((2L, 5L, "m n"), (2L, 6L, "p q p")).toDF("doc_id", "seq", "text")
      .write.mode("append").parquet(s"$root/src")
    val r4 = JobConfig.runAny(spark, props)
    assert(r4("published") == "true" && r4("highWatermark") == "6")
    assert(current() === rebuild(Seq((1L, "z z z"), (2L, "p q p"), (3L, "c d"))),
      "multi-update delta must keep only the latest version")
    // TIME TRAVEL: epoch 1's index is still readable as version 1 and
    // equals a rebuild of the epoch-1 corpus; rollback = pointer flip
    val v1 = table.read(spark, 1L).select("doc_id", "dl", "token", "tf").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(1), r.getLong(3))).toSet
    assert(v1 === rebuild(Seq((1L, "a b"), (2L, "b c"))),
      "version 1 must remain the epoch-1 index")
    table.rollback(1L)
    assert(current() === v1, "rollback must serve version 1 as current")
    table.rollback(3L)
    // watermark rode each manifest: the rolled-back version's watermark
    // is the one its epoch committed
    assert(table.metaOf(1L)("highWatermark") === "2")
    assert(table.metaOf(3L)("highWatermark") === "6")
  }

  test("job.type=cdxfetch with source.format=zipnum: no index yet is a no-op") {
    val root = tmpDir("cdxfetchzip")
    def fetch(src: String) = JobConfig.runAny(spark, JobConfig.parse(
      s"""job.type=cdxfetch
         |job.name=t_cdxzip
         |source.path=$src
         |source.format=zipnum
         |cdx.warcDir=$root/warc
         |sink.output=$root/ledger
         |state.dir=$root/wm
         |""".stripMargin))
    val missing = fetch(s"$root/missing")
    assert(missing("published") == "false" && missing("deltaRows") == "0",
      s"a missing source dir must be a no-op: $missing")
    // shards landed, but neither cluster.idx nor cdx-*.idx yet: the
    // ZipNum read is empty, so the epoch publishes nothing
    val shards = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(root, "zipnum"))
    val gz = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(shards.resolve("cdx-00000.gz")))
    try gz.write("com,example)/ 20240101000000 {}\n".getBytes("UTF-8"))
    finally gz.close()
    val noIdx = fetch(shards.toString)
    assert(noIdx("published") == "false" && noIdx("deltaRows") == "0",
      s"shards without an index must be a no-op: $noIdx")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "ledger", "_meta")))
  }

  test("job.type=annindex: the codebook sidecar is written once per fit") {
    import spark.implicits._
    import graft.operators.AnnIndex
    val root = tmpDir("annjob")
    val props = JobConfig.parse(
      s"""job.type=annindex
         |job.name=t_ann
         |source.path=$root/src
         |annindex.id=vec_id
         |annindex.vec=embedding
         |annindex.seq=vec_id
         |annindex.centroids=4
         |sink.output=$root/idx
         |state.dir=$root/state
         |""".stripMargin)
    def vecs(ids: Range) = ids.map(i =>
      (i.toLong, Seq(math.sin(i), math.cos(i), (i % 5).toDouble)))
      .toDF("vec_id", "embedding")
    vecs(0 until 20).write.mode("append").parquet(s"$root/src")
    assert(JobConfig.runAny(spark, props)("published") == "true")
    val sidecar = java.nio.file.Paths.get(root, "idx", "_centroids", "annindex.json")
    val fitted = java.nio.file.Files.readAllBytes(sidecar)
    // an old, distinctive mtime: any rewrite moves it
    val planted = java.nio.file.attribute.FileTime.fromMillis(1000000L)
    java.nio.file.Files.setLastModifiedTime(sidecar, planted)
    def unchanged(): Unit = {
      assert(java.nio.file.Files.readAllBytes(sidecar).sameElements(fitted))
      assert(java.nio.file.Files.getLastModifiedTime(sidecar) === planted)
    }
    vecs(20 until 40).write.mode("append").parquet(s"$root/src")
    val r2 = JobConfig.runAny(spark, props)
    assert(r2("published") == "true" && r2("highWatermark") == "39")
    unchanged()
    val r3 = JobConfig.runAny(spark, props)
    assert(r3("published") == "false")
    unchanged()
    // data dirs deleted under the metadata: the rebuild refits the
    // codebook over the full source and rewrites the sidecar
    val data = new org.apache.hadoop.fs.Path(s"$root/idx/data")
    data.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(data, true)
    val r4 = JobConfig.runAny(spark, props)
    assert(r4("published") == "true")
    assert(java.nio.file.Files.getLastModifiedTime(sidecar) !== planted)
    assert(AnnIndex.encodeCentroids(AnnIndex.loadCodebook(s"$root/idx",
        spark.sparkContext.hadoopConfiguration)) ===
      AnnIndex.encodeCentroids(graft.functions.Ann.sampledIvf(
        spark.read.parquet(s"$root/src"), 4)))
  }

  test("job.type=curate: half-specified budget is a config error, not a silent full publish") {
    import spark.implicits._
    val root = tmpDir("curatehalf")
    Seq((1L, "en", 10L, "a b")).toDF("doc_id", "lang", "n_chars", "text")
      .write.parquet(s"$root/docs")
    val props = JobConfig.parse(
      s"""job.type=curate
         |job.name=t2
         |source.path=$root/docs
         |curate.id=doc_id
         |curate.budget.tokens=100
         |sink.staging=$root/staging
         |sink.output=$root/out
         |""".stripMargin)
    intercept[IllegalArgumentException] { JobConfig.runAny(spark, props) }
  }

  test("job.type=curate: filters, dedup, budget, and funnel accounting") {
    import spark.implicits._
    val root = tmpDir("curatejob")
    Seq(
      (1L, "en", 10L, "a b c d e"),       // kept
      (2L, "en", 10L, "a b c d e"),       // exact dup of 1 -> dropped
      (3L, "de", 10L, "x y"),             // wrong lang
      (4L, "en", 1L, "x y"),              // too short
      (5L, "en", 9L, "f g h i j k l m n") // kept (lower priority)
    ).toDF("doc_id", "lang", "n_chars", "text")
      .write.parquet(s"$root/docs")
    val props = JobConfig.parse(
      s"""job.type=curate
         |job.name=t
         |source.path=$root/docs
         |curate.id=doc_id
         |curate.filter.1.name=lang_ok
         |curate.filter.1.predicate=lang = 'en'
         |curate.filter.2.name=len_ok
         |curate.filter.2.predicate=n_chars >= 5
         |curate.dedup.text=text
         |curate.budget.text=text
         |curate.budget.priority=n_chars
         |curate.budget.tokens=6
         |sink.staging=$root/staging
         |sink.output=$root/out
         |""".stripMargin)
    val r = JobConfig.runAny(spark, props)
    assert(r("published") == "true")
    assert(r("rowsIn") == "5")
    assert(r("stage.lang_ok") == "5->4")
    assert(r("stage.len_ok") == "4->3")
    // survivors after dedup: 1, 5; budget 6 tokens: doc 1 (5 tokens,
    // prio 10) fits, doc 5 (9 tokens) straddles -> dropped
    val out = spark.read.parquet(s"$root/out").select("doc_id")
      .as[Long].collect().toSet
    assert(out === Set(1L))
    assert(r("rowsPublished") == "1")
  }

  test("job.type=compact runs the declarative compaction template") {
    val root = tmpDir("jobc")
    graft.Tables.load(spark, sf(), "lineitem")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      .repartition(4).write.parquet(s"$root/in")
    val conf =
      s"""job.type=compact
         |source.path=$root/in
         |compact.keys=l_orderkey
         |compact.delta=l_linenumber,l_partkey,l_quantity
         |sink.staging=$root/staging
         |sink.output=$root/out
         |""".stripMargin
    val r = JobConfig.runAny(spark, JobConfig.parse(conf))
    assert(r("published") == "true")
    val out = spark.read.parquet(s"$root/out")
    assert(out.count() == r("outputRows").toLong)
    assert(out.select("l_orderkey").distinct().count() == out.count(), "one survivor per key")
  }

  test("job.type=copy replicates a dataset tree (glob + window) declaratively") {
    val root = tmpDir("jobcp")
    Seq("ds1/2024-01-01", "ds1/2024-03-01", "ds2/2024-01-15").foreach { rel =>
      val dir = java.nio.file.Paths.get(root, "src", rel)
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.writeString(dir.resolve("f.txt"), rel)
    }
    val conf =
      s"""job.type=copy
         |source.glob=$root/src/ds*
         |copy.datePattern=yyyy-MM-dd
         |copy.window.from=2024-01-01 00:00:00
         |copy.window.to=2024-02-01 00:00:00
         |copy.dest=$root/dest
         |""".stripMargin
    val r = JobConfig.runAny(spark, JobConfig.parse(conf))
    assert(r("files") == "2") // 2024-03-01 outside the window
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, "dest", "ds1", "2024-01-01", "f.txt")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "dest", "ds1", "2024-03-01")))
  }

  test("job.type=retention deletes versions outside newest-k INTERSECT time window") {
    val root = tmpDir("jobr")
    Seq("dsA/2024-01-01", "dsA/2024-01-02", "dsA/2024-01-03", "dsA/2024-01-04").foreach { rel =>
      val dir = java.nio.file.Paths.get(root, "versions", rel)
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.writeString(dir.resolve("data"), rel)
    }
    val conf =
      s"""job.type=retention
         |source.path=$root/versions
         |retention.datePattern=yyyy-MM-dd
         |retention.newest.k=3
         |retention.minVersionTime=2024-01-02 00:00:00
         |retention.combine=intersect
         |retention.trash=$root/trash
         |""".stripMargin
    val r = JobConfig.runAny(spark, JobConfig.parse(conf))
    // newest-3 = {02,03,04}; newer-than = {03,04}; survivors = {03,04}
    assert(r("deletedVersions") == "2")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "versions", "dsA", "2024-01-01")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "versions", "dsA", "2024-01-02")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, "versions", "dsA", "2024-01-03")))
    // trash (not destroy): deleted versions moved under the trash root
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, "trash", "dsA", "2024-01-01", "data")))
  }

  test("job.type=scd2: watermarked incremental merge; empty delta is a no-op") {
    import spark.implicits._
    val root = tmpDir("jobscd2")
    val conf =
      s"""job.type=scd2
         |job.name=t_scd2
         |source.path=$root/ch
         |scd2.key=k
         |scd2.seq=seq
         |scd2.op=op
         |scd2.attrs=price
         |sink.staging=$root/staging
         |sink.output=$root/dim
         |state.dir=$root/state
         |""".stripMargin
    val props = JobConfig.parse(conf)
    Seq((1L, 10L, "U", 1.0), (1L, 20L, "U", 2.0), (2L, 15L, "U", 5.0))
      .toDF("k", "seq", "op", "price")
      .write.mode("append").parquet(s"$root/ch")
    val r1 = JobConfig.runAny(spark, props)
    assert(r1("published") == "true" && r1("highWatermark") == "20")
    // epoch 2: a delete for key 1 and an upsert for key 2
    Seq((1L, 30L, "D", 0.0), (2L, 40L, "U", 6.0))
      .toDF("k", "seq", "op", "price")
      .write.mode("append").parquet(s"$root/ch")
    val r2 = JobConfig.runAny(spark, props)
    assert(r2("published") == "true" && r2("deltaRows") == "2"
      && r2("highWatermark") == "40")
    val r3 = JobConfig.runAny(spark, props)
    assert(r3("published") == "false" && r3("deltaRows") == "0")
    val table = new graft.sink.ShardedTable(s"$root/dim", "shard",
      spark.sparkContext.hadoopConfiguration)
    val dim = table.readCurrent(spark).drop("shard")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getBoolean(4))).toSet
    assert(dim === Set(
      (1L, 1.0, 10L, Some(20L), false),
      (1L, 2.0, 20L, Some(30L), false), // closed by the epoch-2 delete
      (2L, 5.0, 15L, Some(40L), false),
      (2L, 6.0, 40L, None, true)))
    // partition physics: epoch 2 touched keys {1, 2} — only their hash
    // shards may differ between the two manifests
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    val touched = Seq(1L, 2L).map(k =>
      Seq(k).toDF("k").select(pmod(hash(col("k")), lit(32)))
        .head.getInt(0).toString).toSet
    val (m1, m2) = (table.manifest(1L), table.manifest(2L))
    m1.keys.filterNot(touched).foreach { sh =>
      assert(m2(sh) === m1(sh), s"untouched shard $sh must carry over")
    }
    // the watermark rode each manifest; epoch dims are time travelable
    assert(table.metaOf(1L)("highWatermark") === "20")
    assert(table.read(spark, 1L).count() === 3L) // epoch-1 dim rows
  }

  test("job.type=rollup: replay after a committed epoch cannot double-count") {
    import spark.implicits._
    val root = tmpDir("jobrollup")
    val props = JobConfig.parse(
      s"""job.type=rollup
         |job.name=t_rollup
         |source.path=$root/src
         |rollup.dims=g
         |rollup.measure=m
         |rollup.seq=seq
         |sink.staging=$root/staging
         |sink.output=$root/state
         |state.dir=$root/wm
         |""".stripMargin)
    Seq(("a", 5L, 1L), ("a", 7L, 2L), ("b", 100L, 3L))
      .toDF("g", "m", "seq").write.mode("append").parquet(s"$root/src")
    val r1 = JobConfig.runAny(spark, props)
    assert(r1("published") == "true" && r1("highWatermark") == "3")
    // the watermark lives ONLY in the committed manifest: no separate
    // state-store record exists whose loss could open a crash window,
    // and the additive merge must not re-apply the delta on replay
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "wm", "rollup", "t_rollup.json")))
    val r2 = JobConfig.runAny(spark, props)
    assert(r2("published") == "false" && r2("deltaRows") == "0",
      s"replay after a committed epoch must be a no-op: $r2")
    val sums = new graft.sink.ShardedTable(s"$root/state", "shard",
        spark.sparkContext.hadoopConfiguration)
      .readCurrent(spark).drop("shard")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(sums === Map("a" -> 12L, "b" -> 100L), "no double counting")
  }

  test("incremental jobs: missing source no-op; deleted data forces FULL rebuild; crashed commit leaves previous version live") {
    import spark.implicits._
    val root = tmpDir("jobrecov")
    val props = JobConfig.parse(
      s"""job.type=rollup
         |job.name=t_recov
         |source.path=$root/src
         |rollup.dims=g
         |rollup.measure=m
         |rollup.seq=seq
         |sink.staging=$root/staging
         |sink.output=$root/state
         |state.dir=$root/wm
         |""".stripMargin)
    // 1. source dir does not exist yet: scheduled run must no-op
    val r0 = JobConfig.runAny(spark, props)
    assert(r0("published") == "false" && r0("deltaRows") == "0", s"$r0")
    // 2. normal first epoch (int seq column: must not ClassCastException)
    Seq(("a", 5L, 1), ("b", 7L, 2)).toDF("g", "m", "seq")
      .write.mode("append").parquet(s"$root/src")
    val r1 = JobConfig.runAny(spark, props)
    assert(r1("published") == "true" && r1("highWatermark") == "2")
    // 3. crash INSIDE a commit: staged partition dirs landed but no
    // manifest references them and the pointer never flipped — the
    // table stays on the previous version, the replay sees an empty
    // delta, and expireVersions reclaims the orphan
    val fs = java.nio.file.Paths.get(root)
    def table() = new graft.sink.ShardedTable(s"$root/state", "shard",
      spark.sparkContext.hadoopConfiguration)
    val orphan = fs.resolve("state").resolve("data")
      .resolve("00000000-dead-beef-0000-000000000000").resolve("_part=0")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.writeString(orphan.resolve("part-junk.parquet"), "junk")
    val r2 = JobConfig.runAny(spark, props)
    assert(r2("published") == "false" && r2("deltaRows") == "0",
      s"crashed-commit leftovers must not disturb the replay: $r2")
    assert(table().readCurrent(spark).count() === 2L)
    assert(table().expireVersions(keepLast = 5) === 1,
      "exactly the orphaned partition dir is reclaimed")
    // 4. data dirs deliberately DELETED under surviving metadata: the
    // watermark is orphaned, so the job must rebuild from the FULL
    // source with no manifest carry-over to dead paths
    def deleteRec(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).iterator().asScala.toSeq.foreach(deleteRec)
      java.nio.file.Files.delete(p)
    }
    deleteRec(fs.resolve("state").resolve("data"))
    val r3 = JobConfig.runAny(spark, props)
    assert(r3("published") == "true" && r3("deltaRows") == "2",
      s"orphaned watermark must not shrink the rebuild: $r3")
    table().manifest(table().currentVersion.get).values.foreach { dir =>
      val p = new org.apache.hadoop.fs.Path(dir)
      assert(p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p),
        s"manifest must not reference dead paths: $dir")
    }
    val sums = table().readCurrent(spark).drop("shard")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(sums === Map("a" -> 5L, "b" -> 7L))
    // 5. the whole output root deleted (metadata included): same full
    // rebuild from scratch
    deleteRec(fs.resolve("state"))
    val r4 = JobConfig.runAny(spark, props)
    assert(r4("published") == "true" && r4("deltaRows") == "2", s"$r4")
    assert(table().currentVersion === Some(1L))
  }

  test("declarative quotaSample + heavyHitters + funnel ops") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = (1L to 100L).map { i =>
      (i, if (i <= 80) "web" else "books")
    }.toDF("id", "source")
    val quota = JobConfig.buildOps(JobConfig.parse(
      """ops=quotaSample
        |op.quotaSample.groupColumn=source
        |op.quotaSample.idColumn=id
        |op.quotaSample.k=10
        |""".stripMargin)).foldLeft(docs)((d, op) => op(d))
    assert(quota.count() === 10L)
    assert(quota.filter(col("source") === "web").count() === 8L) // 80/100 of 10
    val hh = JobConfig.buildOps(JobConfig.parse(
      """ops=heavyHitters
        |op.heavyHitters.key=source
        |op.heavyHitters.k=3
        |""".stripMargin)).foldLeft(docs)((d, op) => op(d)).collect()
    assert(hh.map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("web" -> 80L)) // books (20) is not > 100/3
    val events = Seq(
      (1L, "view", 1000L), (1L, "click", 2000L), (1L, "purchase", 3000L),
      (2L, "view", 1000L), (2L, "purchase", 1500L) // no click: stops at 1
    ).toDF("user_id", "event_type", "ms")
    val fun = JobConfig.buildOps(JobConfig.parse(
      """ops=funnel
        |op.funnel.keyColumn=user_id
        |op.funnel.typeColumn=event_type
        |op.funnel.msColumn=ms
        |op.funnel.steps=view,click,purchase
        |op.funnel.maxGapMs=10000
        |""".stripMargin)).foldLeft(events)((d, op) => op(d))
      .orderBy("user_id").collect()
    assert(fun.map(_.getLong(4)).toSeq === Seq(3L, 1L))
  }

  test("declarative tripletMine op with an embeddings side table") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 3 and 4 SHARE a token with the anchor (BM25 can propose them)
    // but point elsewhere in embedding space (the veto keeps them)
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta delta"),
      (3L, "alpha psi chi"), (4L, "alpha zz yy")
    ).toDF("doc_id", "text")
    // 1~2 near-identical, 3~4 pointing elsewhere
    val emb = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.99, 0.14)),
      (3L, Array(0.0, 1.0)), (4L, Array(-1.0, 0.05))
    ).toDF("vec_id", "embedding")
    val embPath = tmpDir("triplet-emb") + "/emb"
    emb.write.parquet(embPath)
    val out = JobConfig.buildOps(JobConfig.parse(
      s"""ops=tripletMine
         |op.tripletMine.anchorPredicate=doc_id = 1
         |op.tripletMine.embPath=$embPath
         |op.tripletMine.idColumn=doc_id
         |op.tripletMine.textColumn=text
         |op.tripletMine.embIdColumn=vec_id
         |op.tripletMine.embVecColumn=embedding
         |op.tripletMine.nNeg=2
         |op.tripletMine.negMaxSim=0.5
         |""".stripMargin)).foldLeft(docs)((d, op) => op(d)).collect()
    // anchor 1: positive = 2 (closest embedding); negatives must pass
    // the cosine veto (< 0.5) — doc 2 (sim ~0.99) can never slip in
    assert(out.nonEmpty)
    assert(out.forall(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
    assert(out.forall(_.getDouble(5) < 0.5))
  }

  test("job.type=classify: count-merge epochs equal full retrain; untouched shards carry over") {
    import spark.implicits._
    import graft.operators.TextClassifier
    val root = tmpDir("classifyjob")
    val props = JobConfig.parse(
      s"""job.type=classify
         |job.name=t_cls
         |source.path=$root/src
         |classify.text=text
         |classify.label=label
         |classify.seq=seq
         |classify.shards=32
         |sink.output=$root/model
         |state.dir=$root/state
         |""".stripMargin)
    val e1 = Seq((1L, "hi", "the cat sat"), (2L, "lo", "zz zz yy"))
    val e2 = Seq((3L, "hi", "cat naps"))
    e1.map { case (s1, l, t1) => (s1, l, t1) }.toDF("seq", "label", "text")
      .write.mode("append").parquet(s"$root/src")
    val r1 = JobConfig.runAny(spark, props)
    assert(r1("published") == "true" && r1("highWatermark") == "2")
    e2.toDF("seq", "label", "text").write.mode("append").parquet(s"$root/src")
    val r2 = JobConfig.runAny(spark, props)
    assert(r2("published") == "true" && r2("highWatermark") == "3")
    val table = new graft.sink.ShardedTable(s"$root/model", "shard",
      spark.sparkContext.hadoopConfiguration)
    // published state must equal a single retrain over the union
    val (counts, docCounts) = TextClassifier.fromState(table.readCurrent(spark))
    val all = (e1 ++ e2).toDF("seq", "label", "text")
    val (fullCounts, fullDocs) = TextClassifier.trainCounts(all, "text", "label")
    assert(counts.as[(String, String, Long)].collect().toSet ==
      fullCounts.as[(String, String, Long)].collect().toSet)
    assert(docCounts.as[(String, Long)].collect().toSet ==
      fullDocs.as[(String, Long)].collect().toSet)
    // epoch 2's delta tokens are {cat, naps} (+ the doc-count shard 32);
    // every untouched shard must carry over by reference
    val touched2 = Set("cat", "naps").map(tok =>
      Seq(tok).toDF("token")
        .select(org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.hash($"token"),
          org.apache.spark.sql.functions.lit(32)).cast("int"))
        .head.getInt(0).toString) + "32"
    val m1 = table.manifest(1L)
    val m2 = table.manifest(2L)
    m1.keys.filterNot(touched2).foreach { sh =>
      assert(m2(sh) === m1(sh), s"untouched shard $sh must carry over")
    }
    assert(r2("touchedPartitions").toInt <= touched2.size)
    // empty delta: no-op, no new version
    val r3 = JobConfig.runAny(spark, props)
    assert(r3("published") == "false" && r3("deltaRows") == "0")
    assert(table.currentVersion.contains(2L))
  }

  /** Land `df` as the single parquet file `dir/name`, replacing any
    * file of that name.
    */
  private def land(df: org.apache.spark.sql.DataFrame, dir: String, name: String): Unit = {
    val tmp = tmpDir("land") + "/d"
    df.coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(dir, name),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Rewrite `dir/name` with `df`, keeping its mtime: only the length
    * tells the two files apart.
    */
  private def rewriteSameMtime(df: org.apache.spark.sql.DataFrame, dir: String,
      name: String): Unit = {
    val f = java.nio.file.Paths.get(dir, name)
    val (mtime, len) = (java.nio.file.Files.getLastModifiedTime(f), java.nio.file.Files.size(f))
    land(df, dir, name)
    java.nio.file.Files.setLastModifiedTime(f, mtime)
    assert(java.nio.file.Files.size(f) != len)
  }

  test("job.type=index: unchanged source, no Spark job; any change reads it") {
    import spark.implicits._
    val root = tmpDir("indexnoop")
    val src = s"$root/src"
    def props(extra: String = "") = JobConfig.parse(
      s"""job.type=index
         |job.name=t_idx_noop
         |source.path=$src
         |index.id=doc_id
         |index.text=text
         |index.seq=seq
         |sink.staging=$root/staging
         |sink.output=$root/idx
         |state.dir=$root/state
         |$extra
         |""".stripMargin)
    def run(p: java.util.Properties = props()) = sparkJobs(JobConfig.runAny(spark, p))
    def docs(rows: (Long, Long, String)*) = rows.toDF("doc_id", "seq", "text")
    def table() = new graft.sink.ShardedTable(s"$root/idx", "shard",
      spark.sparkContext.hadoopConfiguration)
    def indexed() = table().readCurrent(spark).select("doc_id").distinct()
      .as[Long].collect().toSet
    val noop = (wm: Long) =>
      Map("published" -> "false", "deltaRows" -> "0", "highWatermark" -> wm.toString)

    land(docs((1L, 1L, "a b"), (2L, 2L, "b c")), src, "a.parquet")
    assert(run()._1("published") == "true")
    assert(run() == ((noop(2), 0)), "an unchanged source starts no Spark job")
    // an added file
    land(docs((3L, 3L, "c d")), src, "b.parquet")
    val (r3, j3) = run()
    assert(j3 > 0 && r3("deltaRows") == "1" && r3("highWatermark") == "3")
    assert(run() == ((noop(3), 0)))
    // a file rewritten under the same name with a different length
    rewriteSameMtime(docs((3L, 3L, "c d"), (4L, 4L, "e f g")), src, "b.parquet")
    val (r4, j4) = run()
    assert(j4 > 0 && r4("deltaRows") == "1" && r4("highWatermark") == "4")
    assert(indexed() == Set(1L, 2L, 3L, 4L))
    // a changed property reads the source; the old config still matches
    val (r5, j5) = run(props("job.owner=ops"))
    assert(j5 > 0 && r5 == noop(4))
    assert(run() == ((noop(4), 0)))
    // a version committed without sourceFiles takes the full path
    val t = table()
    t.commit(t.readCurrent(spark).limit(0), Nil, Map("highWatermark" -> "4"))
    val (r6, j6) = run()
    assert(j6 > 0 && r6 == noop(4))
    // deleted data dirs: a full rebuild, even from an unchanged source
    java.nio.file.Files.walk(java.nio.file.Paths.get(root, "idx", "data"))
      .sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
    val (r7, j7) = run()
    assert(j7 > 0 && r7("published") == "true" && r7("deltaRows") == "4")
    assert(indexed() == Set(1L, 2L, 3L, 4L))
    assert(run() == ((noop(4), 0)))
    // a deleted file: read again, nothing lies past the watermark; the
    // empty delta commits nothing, so the next run reads it again too
    java.nio.file.Files.delete(java.nio.file.Paths.get(src, "a.parquet"))
    val (r8, j8) = run()
    assert(j8 > 0 && r8 == noop(4))
    assert(run()._2 > 0)
    assert(indexed() == Set(1L, 2L, 3L, 4L))
  }

  test("job.type=ingest: unchanged source, no Spark job; any change reads it") {
    import spark.implicits._
    val root = tmpDir("ingestnoop")
    val src = s"$root/src"
    def props(extra: String = "") = JobConfig.parse(
      s"""job.name=t_ingest_noop
         |source.path=$src
         |source.watermark.column=event_id
         |policy.row.v.predicate=value >= 0
         |policy.row.v.type=ERR_FILE
         |sink.staging=$root/staging
         |sink.output=$root/out
         |state.dir=$root/state
         |quarantine.dir=$root/quarantine
         |$extra
         |""".stripMargin)
    def run(p: java.util.Properties = props()) = sparkJobs(JobConfig.run(spark, p))
    def events(rows: (Long, Double)*) = rows.toDF("event_id", "value")
    val noop = (wm: Long) => JobRunner.RunResult(0L, Some(wm), 0L, published = true, 0)

    land(events((1L, 1.0), (2L, -1.0), (3L, 3.0)), src, "a.parquet")
    val (r1, _) = run()
    assert(r1.published && r1.rowsWritten == 2 && r1.quarantined == 1)
    assert(run() == ((noop(3), 0)), "an unchanged source starts no Spark job")
    // an added file
    land(events((4L, 4.0)), src, "b.parquet")
    val (r3, j3) = run()
    assert(j3 > 0 && r3.rowsWritten == 1 && r3.highWatermark.contains(4L))
    assert(run() == ((noop(4), 0)))
    // a file rewritten under the same name with a different length
    rewriteSameMtime(events((4L, 4.0), (5L, -5.0), (6L, 6.0)), src, "b.parquet")
    val (r4, j4) = run()
    assert(j4 > 0 && r4.rowsWritten == 1 && r4.quarantined == 1 && r4.highWatermark.contains(6L))
    // a changed property, then a deleted file: each reads the source
    // and publishes nothing; the full no-op run records its listing
    val (r5, j5) = run(props("job.owner=ops"))
    assert(j5 > 0 && r5 == noop(6))
    java.nio.file.Files.delete(java.nio.file.Paths.get(src, "a.parquet"))
    val (r6, j6) = run()
    assert(j6 > 0 && r6 == noop(6))
    assert(run() == ((noop(6), 0)))
    val out = spark.read.parquet(s"$root/out").as[(Long, Double)].collect().toSet
    assert(out == Set((1L, 1.0), (3L, 3.0), (4L, 4.0), (6L, 6.0)))
    assert(spark.read.parquet(s"$root/quarantine").count() == 2)
  }
}
