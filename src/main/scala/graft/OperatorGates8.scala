package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-7 wave 2: CDC maintenance operators (SCD2 changelog merge,
  * incremental rollup), content-defined chunk dedup, and watermark
  * late-data accounting. Query side runs the real operators; oracles
  * replay interval construction, partial-aggregate algebra, rolling-
  * hash chunking, and the two-batch watermark trajectory in DuckDB.
  */
object OperatorGates8 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Stage the RAW parquet at `src` into `dir` as ONE file named
    * `name`. A single-file source (the driver's testdata layout) is
    * byte-copied, preserving its original encoding (the nanos-ts
    * pin); a Spark-written DIRECTORY (e.g. the sf1 ScaleUp replica)
    * is restaged through [[stageFile]] so it lands as one file —
    * multi-file staging would change batch-split semantics (watermark
    * advancement between per-file triggers could drop rows a
    * single-file source keeps).
    */
  private[graft] def copyRaw(s: SparkSession, src: String,
      dir: java.nio.file.Path, name: String): Unit = {
    val f = new java.io.File(src)
    if (f.isFile)
      java.nio.file.Files.copy(f.toPath, dir.resolve(name))
    else
      stageFile(s.read.parquet(src), dir, name, System.currentTimeMillis())
  }

  /** Write `df` as ONE parquet file named `name` in `dir` with a fixed
    * modification time — file-stream gates control batch ORDER through
    * mtimes (FileStreamSource processes oldest-first).
    */
  private[graft] def stageFile(df: DataFrame, dir: java.nio.file.Path, name: String,
      mtime: Long): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stage")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = new java.io.File(tmp.toString).listFiles()
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part written under $tmp"))
    val dst = dir.resolve(name)
    java.nio.file.Files.move(part.toPath, dst)
    require(dst.toFile.setLastModified(mtime), s"cannot set mtime on $dst")
  }

  def queries8: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- SCD2 changelog merge (operators/Scd2.scala): orders as a CDC
    //     stream per customer (seq = orderkey, every 50th a delete),
    //     split at the half-way seq; dim built from the first half,
    //     the second half MERGED in — only touched keys recompute.
    //     The oracle recomputes the dimension from the FULL changelog,
    //     so a green row proves merge == full rebuild ----------------
    "q_scd2_merge" -> ((s, dir) => {
      import graft.operators.Scd2
      val ch = t(s, dir, "orders").select(
        col("o_custkey").as("custkey"),
        col("o_orderkey").as("seq"),
        when(col("o_orderkey") % 50 === 0, "D").otherwise("U").as("op"),
        col("o_totalprice").as("price"))
      // O(1) driver scalar: the split point, not data
      val maxSeq = ch.agg(max("seq")).head.getLong(0)
      val split = maxSeq / 2
      val dim = Scd2.fromChangelog(ch.filter(col("seq") <= split),
        "custkey", "seq", "op", Seq("price"))
      Scd2.merge(dim, ch.filter(col("seq") > split),
          "custkey", "seq", "op", Seq("price"))
        .orderBy(col("custkey"), col("valid_from"))
    }),

    // --- incremental rollup maintenance (operators/IncrementalRollup
    //     .scala): events split by id parity into two "days"; each is
    //     partially aggregated alone, the states merged, THEN
    //     finalized. Exact-long summaries make merge associative
    //     bit-for-bit; the oracle is the full GROUP BY over all
    //     events, so green == incremental maintenance is lossless ----
    "q_incremental_rollup" -> ((s, dir) => {
      import graft.operators.IncrementalRollup
      val dims = Seq("event_type", "bucket")
      val ev = t(s, dir, "events").select(
        col("event_id"), col("event_type"),
        (col("user_id") % 10).as("bucket"),
        floor(col("value") * 1000).cast("long").as("v_milli"))
      val day1 = IncrementalRollup.init(
        ev.filter(col("event_id") % 2 === 0), dims, "v_milli")
      val day2 = IncrementalRollup.init(
        ev.filter(col("event_id") % 2 =!= 0), dims, "v_milli")
      IncrementalRollup.finalizeState(
          IncrementalRollup.merge(day1, day2, dims), dims)
        .orderBy(col("event_type"), col("bucket"))
    }),

    // --- content-defined chunk dedup (operators/ChunkDedup.scala):
    //     boilerplate planted mid-corpus (every 7th doc) chunks
    //     identically wherever it lands, so its chunks go cross-doc-
    //     shared; per-doc occurrence accounting. Oracle replays the
    //     rolling window hash, boundary cuts, per-chunk fingerprints
    //     and the shared-set in DuckDB list algebra ------------------
    "q_cdc_chunk_dedup" -> ((s, dir) => {
      import graft.operators.ChunkDedup
      val docs = t(s, dir, "documents")
      val planted = docs.select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 7 === 0,
            concat(lit(" "), lit(OperatorGates7.Boiler))).otherwise(lit("")))
          .as("txt"))
      ChunkDedup.sharedChunkStats(planted, "doc_id", col("txt"),
          window = 16, maskBits = 5)
        .orderBy(col("doc_id"))
    }),

    // --- watermark late-data accounting (§2.8): three-batch file
    //     stream (mtime-ordered), 30-minute watermark delay. Batch 1
    //     is the on-time bulk (sets the watermark), batch 2 a nudge of
    //     the freshest rows (Spark's late-event filter runs one batch
    //     behind eviction — the nudge batch is what arms it), batch 3
    //     delivers stragglers at least 3 h older than any watermark
    //     candidate, so every one is DROPPED under any boundary
    //     variant. Oracle: aggregate everything except the stragglers,
    //     emit windows closed under the final watermark ---------------
    "q_stream_late_drop" -> ((s, dir) => {
      import graft.streaming.StreamingIngest
      StreamingIngest.withStatePartitions(s, 8) {
        val raw = s.read.parquet(s"$dir/events.parquet")
        val ev = raw.withColumn("_ms",
          expr("unix_micros(" + Tables.tsExpr(raw.schema("ts").dataType) + ") div 1000"))
        val maxMs = ev.agg(max("_ms")).head.getLong(0) // O(1) driver scalar
        val isNudge = col("_ms") > maxMs - 1200000L
        val isStrag = col("_ms") <= maxMs - 10800000L && col("event_id") % 3 === 0
        val inDir = java.nio.file.Files.createTempDirectory("q_stream_late")
        val now = System.currentTimeMillis()
        stageFile(ev.filter(!isNudge && !isStrag).drop("_ms"), inDir,
          "a.parquet", now - 180000)
        stageFile(ev.filter(isNudge).drop("_ms"), inDir, "n.parquet", now - 120000)
        stageFile(ev.filter(isStrag).drop("_ms"), inDir, "b.parquet", now - 60000)
        val stream = StreamingIngest
          .readFileStream(s, raw.schema, inDir.toString, maxFilesPerTrigger = Some(1))
          .withColumn("ts", expr(Tables.tsExpr(raw.schema("ts").dataType)))
        val agg = stream
          .withWatermark("ts", "30 minutes")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(floor(col("value") * 1000).cast("long")).as("sum_v_milli"))
          .select(col("window.start").as("window_start"), col("event_type"),
            col("n"), col("sum_v_milli"))
        val tmp = tmpDir("q_stream_late_out")
        StreamingIngest.runAvailableNow(agg, s"$tmp/data", s"$tmp/ck")
        s.read.parquet(s"$tmp/data")
          .orderBy(col("window_start"), col("event_type"))
      }
    }),

    // --- training-shard export + manifest verification (operators/
    //     ShardExport.scala): publish documents as 8 deterministic
    //     shards with a manifest (count, chars, order-independent FNV
    //     XOR checksum), then VERIFY the manifest from the published
    //     files. The oracle recomputes every manifest figure from the
    //     source table — green means written == declared == replayed -
    "q_shard_manifest" -> ((s, dir) => {
      import graft.operators.ShardExport
      val out = tmpDir("q_shard_manifest")
      ShardExport.exportShards(t(s, dir, "documents"), "doc_id", "text",
        nShards = 8, outDir = out)
      ShardExport.verify(s, out, "doc_id", "text")
        .orderBy(col("shard"))
    }),

    // --- multi-format writer/source round-trip (the reference's
    //     writer.output.format matrix: CSV/JSON/ORC writers + the
    //     matching extractors): the same exact-typed slice of events
    //     is written and re-read in each format and aggregated — a
    //     format that drops or mangles a value breaks its row --------
    "q_format_roundtrip" -> ((s, dir) => {
      val slice = t(s, dir, "events").select(
        col("event_id"), col("event_type"),
        floor(col("value") * 1000).cast("long").as("v_milli"))
      val out = tmpDir("q_format_roundtrip")
      val parts = Seq("csv", "json", "orc").map { fmt =>
        val w = slice.write.mode("overwrite")
        (fmt match {
          // exact CSV round-trip: no write-side whitespace trimming,
          // and a null sentinel distinct from the empty string so ""
          // values survive (the reader's default nullValue is "")
          case "csv" => w.option("header", "true")
            .option("ignoreLeadingWhiteSpace", "false")
            .option("ignoreTrailingWhiteSpace", "false")
            .option("nullValue", "\\N")
          case _ => w
        }).format(fmt).save(s"$out/$fmt")
        val r = s.read
        val back = (fmt match {
          case "csv" => r.option("header", "true")
            .option("nullValue", "\\N")
            .schema(slice.schema).format(fmt)
          case _ => r.schema(slice.schema).format(fmt)
        }).load(s"$out/$fmt")
        back.agg(
            count(lit(1)).as("n"),
            sum(col("v_milli")).as("sum_v_milli"),
            countDistinct(col("event_type")).as("n_types"))
          .select(lit(fmt).as("format"), col("n"), col("sum_v_milli"),
            col("n_types"))
      }
      parts.reduce(_.unionByName(_)).orderBy(col("format"))
    }),

    // --- STREAMING CDC -> SCD2 dimension maintenance (the composed
    //     chain: changelog file-stream -> per-micro-batch Scd2.merge
    //     against the published dimension -> crash-safe snapshot swap
    //     via Publisher.publishSnapshot). Three mtime-ordered batches;
    //     only delta-touched keys recompute per batch. The oracle is
    //     the full-changelog rebuild — green proves batch boundaries
    //     don't leak into the dimension -------------------------------
    "q_stream_scd2" -> ((s, dir) => {
      import graft.operators.Scd2
      import graft.streaming.StreamingIngest
      val ch = t(s, dir, "orders").select(
        col("o_custkey").as("custkey"),
        col("o_orderkey").as("seq"),
        when(col("o_orderkey") % 50 === 0, "D").otherwise("U").as("op"),
        col("o_totalprice").as("price"))
      val maxSeq = ch.agg(max("seq")).head.getLong(0) // O(1) driver scalar
      val (c1, c2) = (maxSeq / 3, 2 * maxSeq / 3)
      val inDir = java.nio.file.Files.createTempDirectory("q_stream_scd2")
      val now = System.currentTimeMillis()
      stageFile(ch.filter(col("seq") <= c1), inDir, "b1.parquet", now - 180000)
      stageFile(ch.filter(col("seq") > c1 && col("seq") <= c2), inDir,
        "b2.parquet", now - 120000)
      stageFile(ch.filter(col("seq") > c2), inDir, "b3.parquet", now - 60000)
      val root = tmpDir("q_stream_scd2_dim")
      val dimPath = s"$root/dim"
      val stream = StreamingIngest.readFileStream(s, ch.schema,
        inDir.toString, maxFilesPerTrigger = Some(1))
      // each batch commits a key-hash ShardedTable version rewriting
      // ONLY the shards its delta's keys touch (same discipline as
      // the declarative scd2 job and the streaming index gates)
      val hconf = s.sparkContext.hadoopConfiguration
      val table = new graft.sink.ShardedTable(dimPath, "shard", hconf)
      val q = stream.writeStream
        .foreachBatch { (delta: DataFrame, _: Long) =>
          val shardOf = pmod(hash(col("custkey")), lit(32)).cast("int")
          val touched = delta.select(shardOf.as("shard")).distinct()
            .collect().map(_.getInt(0).toString).toSeq.sorted
          val hasCurrent = table.currentVersion.isDefined
          val dim =
            if (hasCurrent) table.readPartitions(s, touched).drop("shard")
            else Scd2.fromChangelog(delta.limit(0),
              "custkey", "seq", "op", Seq("price"))
          val merged = Scd2.merge(dim, delta,
            "custkey", "seq", "op", Seq("price"))
          table.commit(merged.withColumn("shard", shardOf), touched)
          ()
        }
        .option("checkpointLocation", s"$root/ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      table.readCurrent(s).drop("shard")
        .orderBy(col("custkey"), col("valid_from"))
    }),

    // --- corpus version diff (operators/CorpusDiff.scala): per-lang
    //     added/removed/changed/unchanged between two drops — v2 loses
    //     every 9th doc, gains back the 11th-excluded ones, rewrites
    //     every 13th; fingerprints are FNV-1a 64 so the oracle replays
    //     them exactly -----------------------------------------------
    "q_corpus_drift" -> ((s, dir) => {
      import graft.operators.CorpusDiff
      import graft.functions.Fnv64
      val docs = t(s, dir, "documents")
      val v1 = docs.filter(col("doc_id") % 11 =!= 0)
      val v2 = docs.filter(col("doc_id") % 9 =!= 0)
        .select(col("doc_id"), col("lang"),
          concat(col("text"),
            when(col("doc_id") % 13 === 0, " updated").otherwise(""))
            .as("text"))
      CorpusDiff.diff(v1, v2, "doc_id", Fnv64(col("text")), col("lang"))
        .orderBy(col("stratum"))
    }),

    // --- funnel / ordered-sequence matching (operators/Funnel.scala —
    //     the MATCH_RECOGNIZE capability): greedy-earliest
    //     view -> click -> purchase per user with a 24 h step gap.
    //     The oracle replays each anchor with correlated min-joins ----
    "q_funnel" -> ((s, dir) => {
      import graft.operators.Funnel
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"),
        expr("unix_micros(ts) div 1000").as("ms"))
      Funnel.funnel(ev, "user_id", "event_type", "ms",
          steps = Seq("view", "click", "purchase"), maxGapMs = 86400000L)
        .orderBy(col("user_id"))
    }),

    // --- k-anonymous aggregate release (compliance tier): per
    //     (event_type, user) cells, every cell under k=10 folded into
    //     ONE sentinel cell so no released row re-identifies a user;
    //     totals preserved exactly ------------------------------------
    "q_kanon_suppress" -> ((s, dir) => {
      import graft.operators.Compliance
      Compliance.kAnonymize(t(s, dir, "events"),
          Seq("event_type", "user_id"), k = 10)
        .orderBy(col("event_type"), col("user_id"))
    }),

    // --- FLAGSHIP: governed CDC pipeline — changelog -> SCD2 merge
    //     (incremental path!) -> current snapshot -> price-bucket
    //     aggregate -> k-anonymous release. One oracle replays the
    //     whole chain; the merge path (not a full rebuild) feeding it
    //     proves the incremental dimension is release-grade ----------
    "q_cdc_pipeline" -> ((s, dir) => {
      import graft.operators.{Compliance, Scd2}
      val ch = t(s, dir, "orders").select(
        col("o_custkey").as("custkey"),
        col("o_orderkey").as("seq"),
        when(col("o_orderkey") % 50 === 0, "D").otherwise("U").as("op"),
        col("o_totalprice").as("price"))
      val maxSeq = ch.agg(max("seq")).head.getLong(0)
      val split = maxSeq / 2
      val dim = Scd2.merge(
        Scd2.fromChangelog(ch.filter(col("seq") <= split),
          "custkey", "seq", "op", Seq("price")),
        ch.filter(col("seq") > split),
        "custkey", "seq", "op", Seq("price"))
      val current = dim.filter(col("is_current"))
        .select(col("custkey"), floor(col("price") / 50000).as("bucket"))
      Compliance.kAnonymize(current, Seq("bucket"), k = 25)
        .orderBy(col("bucket"))
    }),

    // --- the DECLARATIVE face of SCD2 maintenance (job.type=scd2):
    //     two watermark epochs of the same properties job — epoch 1
    //     sees the first half of the changelog, epoch 2 only the rows
    //     above the committed watermark; a third run publishes nothing
    //     (empty delta). Final dimension == full-changelog rebuild ----
    "q_scd2_job" -> ((s, dir) => {
      import graft.runner.JobConfig
      val ch = t(s, dir, "orders").select(
        col("o_custkey").as("custkey"),
        col("o_orderkey").as("seq"),
        when(col("o_orderkey") % 50 === 0, "D").otherwise("U").as("op"),
        col("o_totalprice").as("price"))
      val maxSeq = ch.agg(max("seq")).head.getLong(0)
      val split = maxSeq / 2
      val tmp = tmpDir("q_scd2_job")
      val props = JobConfig.parse(
        s"""job.type=scd2
           |job.name=orders_scd2
           |source.path=$tmp/changelog
           |scd2.key=custkey
           |scd2.seq=seq
           |scd2.op=op
           |scd2.attrs=price
           |sink.staging=$tmp/staging
           |sink.output=$tmp/dim
           |state.dir=$tmp/state
           |""".stripMargin)
      ch.filter(col("seq") <= split).write.mode("append")
        .parquet(s"$tmp/changelog")
      val r1 = JobConfig.runAny(s, props)
      require(r1("published") == "true", s"epoch 1 failed: $r1")
      ch.filter(col("seq") > split).write.mode("append")
        .parquet(s"$tmp/changelog")
      val r2 = JobConfig.runAny(s, props)
      require(r2("published") == "true" && r2("highWatermark") == maxSeq.toString,
        s"epoch 2 failed: $r2")
      val r3 = JobConfig.runAny(s, props) // empty delta: no publish
      require(r3("published") == "false" && r3("deltaRows") == "0",
        s"empty epoch must be a no-op: $r3")
      // the dimension is a key-hash ShardedTable since round 9
      new graft.sink.ShardedTable(s"$tmp/dim", "shard",
          s.sparkContext.hadoopConfiguration)
        .readCurrent(s).drop("shard")
        .orderBy(col("custkey"), col("valid_from"))
    }),

    // --- the DECLARATIVE face of incremental rollup (job.type=rollup):
    //     two watermark epochs over events split by event_id; the
    //     published state after epoch 2 finalizes to the full GROUP BY.
    //     Third run: empty delta, no publish -------------------------
    "q_rollup_job" -> ((s, dir) => {
      import graft.operators.IncrementalRollup
      import graft.runner.JobConfig
      val ev = t(s, dir, "events").select(
        col("event_id"), col("event_type"),
        (col("user_id") % 10).as("bucket"),
        floor(col("value") * 1000).cast("long").as("v_milli"))
      val maxId = ev.agg(max("event_id")).head.getLong(0)
      val split = maxId / 2
      val tmp = tmpDir("q_rollup_job")
      val props = JobConfig.parse(
        s"""job.type=rollup
           |job.name=events_rollup
           |source.path=$tmp/src
           |rollup.dims=event_type,bucket
           |rollup.measure=v_milli
           |rollup.seq=event_id
           |sink.staging=$tmp/staging
           |sink.output=$tmp/state
           |state.dir=$tmp/wm
           |""".stripMargin)
      ev.filter(col("event_id") <= split).write.mode("append")
        .parquet(s"$tmp/src")
      val r1 = JobConfig.runAny(s, props)
      require(r1("published") == "true", s"epoch 1 failed: $r1")
      ev.filter(col("event_id") > split).write.mode("append")
        .parquet(s"$tmp/src")
      val r2 = JobConfig.runAny(s, props)
      require(r2("published") == "true" && r2("highWatermark") == maxId.toString,
        s"epoch 2 failed: $r2")
      val r3 = JobConfig.runAny(s, props)
      require(r3("published") == "false", s"empty epoch must be a no-op: $r3")
      IncrementalRollup.finalizeState(
          new graft.sink.ShardedTable(s"$tmp/state", "shard",
              s.sparkContext.hadoopConfiguration)
            .readCurrent(s).drop("shard"),
          Seq("event_type", "bucket"))
        .orderBy(col("event_type"), col("bucket"))
    }),

    // --- stream-stream LEFT OUTER join (§2.8 — the last stream-join
    //     face: inner results emit on match, unmatched LEFT rows emit
    //     null-padded once the watermark passes their join window).
    //     Both sides file-streams; the compared result is post-filtered
    //     2 h clear of the final watermark so every retained left row's
    //     outer emission is boundary-variant-proof. All arithmetic in
    //     exact MICROS (ms truncation could flip a 10-min bound) ------
    "q_stream_outer_join" -> ((s, dir) => {
      import graft.streaming.StreamingIngest
      StreamingIngest.withStatePartitions(s, 8) {
        val raw = s.read.parquet(s"$dir/events.parquet")
        val ev = raw.withColumn("ts", expr(Tables.tsExpr(raw.schema("ts").dataType)))
          .select(col("event_id"), col("user_id"), col("ts"))
        val maxUs = ev.agg(max(expr("unix_micros(ts)"))).head.getLong(0)
        val lDir = java.nio.file.Files.createTempDirectory("q_soj_l")
        val rDir = java.nio.file.Files.createTempDirectory("q_soj_r")
        val now = System.currentTimeMillis()
        stageFile(raw.filter(col("event_id") % 2 === 0), lDir, "l.parquet", now)
        stageFile(raw.filter(col("event_id") % 2 =!= 0), rDir, "r.parquet", now)
        def side(dirP: java.nio.file.Path, prefix: String) =
          StreamingIngest.readFileStream(s, raw.schema, dirP.toString)
            .withColumn("ts", expr(Tables.tsExpr(raw.schema("ts").dataType)))
            .select(col("event_id").as(s"${prefix}_id"),
              col("user_id").as(s"${prefix}_user"),
              col("ts").as(s"${prefix}_ts"))
            .withWatermark(s"${prefix}_ts", "0 seconds")
        val joined = side(lDir, "l").join(side(rDir, "r"),
          expr("l_user = r_user AND r_ts >= l_ts AND " +
            "r_ts <= l_ts + interval 10 minutes"),
          "leftOuter")
          .select(col("l_id"), col("r_id"),
            expr("unix_micros(l_ts)").as("l_us"),
            expr("unix_micros(r_ts)").as("r_us"))
        val tmp = tmpDir("q_soj_out")
        StreamingIngest.runAvailableNow(joined, s"$tmp/data", s"$tmp/ck")
        s.read.parquet(s"$tmp/data")
          .filter(col("l_us") <= maxUs - 7200000000L)
          .orderBy(col("l_id"), col("r_id"))
      }
    }),

    // --- versioned-table commits with snapshot isolation, time
    //     travel, and rollback (sink/ShardedTable.scala — the Iceberg
    //     commit surface natively — with one constant partition, so
    //     every commit replaces the whole table): commit v1 (full
    //     agg), commit v2 (narrowed), time-travel both, roll back to
    //     v1, continue with v3. Output = the post-rollback current
    //     read, which must be v1's content with v3 in the history ----
    "q_versioned_table" -> ((s, dir) => {
      val tbl = new graft.sink.ShardedTable(tmpDir("q_vtable") + "/t",
        "_p", s.sparkContext.hadoopConfiguration)
      val ev = t(s, dir, "events")
      val full = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 1000).cast("long")).as("sum_v_milli"))
        .withColumn("_p", lit(0))
        .persist() // five actions below reuse the one aggregation
      val v1 = tbl.commit(full, Seq("0"))
      val v2 = tbl.commit(full.filter(col("event_type") =!= "error"), Seq("0"))
      require(v1 == 1L && v2 == 2L && tbl.currentVersion.contains(2L))
      require(tbl.read(s, 1L).count() == tbl.readCurrent(s).count() + 1,
        "time travel must see the un-narrowed v1")
      tbl.rollback(1L)
      val v3 = tbl.commit(full.limit(1), Seq("0")) // history continues after rollback
      require(v3 == 3L && tbl.history == Seq(1L, 2L, 3L))
      full.unpersist()
      tbl.rollback(1L)
      tbl.readCurrent(s).drop("_p").orderBy(col("event_type"))
    }),

    // --- term-distribution drift between corpus versions (the token-
    //     level companion to q_corpus_drift — what a tokenizer/mixture
    //     owner reads after a refresh): top-50 terms by absolute
    //     count change between v1 and v2, exact integers, ties by
    //     term. Two map-side-combined term counts + one full-outer
    //     hash join on the term --------------------------------------
    "q_term_drift" -> ((s, dir) => {
      import graft.functions.Text
      val docs = t(s, dir, "documents")
      def counts(df: DataFrame) = df
        .select(explode(Text.tokens(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("n"))
      val v1 = counts(docs.filter(col("doc_id") % 11 =!= 0))
      val v2 = counts(docs.filter(col("doc_id") % 9 =!= 0))
      v1.withColumnRenamed("n", "n_v1")
        .join(v2.withColumnRenamed("n", "n_v2"), Seq("term"), "full_outer")
        .select(col("term"),
          coalesce(col("n_v1"), lit(0L)).as("n_v1"),
          coalesce(col("n_v2"), lit(0L)).as("n_v2"))
        .withColumn("drift", abs(col("n_v2") - col("n_v1")))
        .orderBy(col("drift").desc, col("term"))
        .limit(50)
    }),

    // --- CUBE / grouping-sets rollup (the OLAP face of the rollup
    //     writer): pricing by returnflag x linestatus with all
    //     subtotal planes; null dims sentineled so both engines sort
    //     and hash identically ---------------------------------------
    "q_grouping_sets" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"), col("sum_qty"))
        .orderBy(col("returnflag"), col("linestatus"))
    })
  )

  private val Mersenne61 = "CAST('2305843009213693951' AS HUGEINT)"

  def oracleSql8: Map[String, String] = Map(

    "q_scd2_merge" ->
      // full-changelog SCD2 rebuild: interval end = next seq for the
      // key (any op — a delete closes without emitting), open interval
      // iff no later entry
      """WITH ch AS (
        |  SELECT o_custkey AS custkey, o_orderkey AS seq,
        |    CASE WHEN o_orderkey % 50 = 0 THEN 'D' ELSE 'U' END AS op,
        |    o_totalprice AS price
        |  FROM orders),
        |v AS (
        |  SELECT custkey, seq, op, price,
        |    lead(seq) OVER (PARTITION BY custkey ORDER BY seq) AS valid_to
        |  FROM ch)
        |SELECT custkey, price, seq AS valid_from, valid_to,
        |  (valid_to IS NULL) AS is_current
        |FROM v WHERE op <> 'D'
        |ORDER BY custkey, valid_from""".stripMargin,

    "q_incremental_rollup" ->
      // the incremental path must equal one full GROUP BY over all
      // events — partial-aggregate algebra on exact longs
      """SELECT event_type, user_id % 10 AS bucket,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sum_m,
        |  min(CAST(floor(value * 1000) AS BIGINT)) AS min_m,
        |  max(CAST(floor(value * 1000) AS BIGINT)) AS max_m,
        |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS DOUBLE) / count(*)
        |    AS avg_m
        |FROM events GROUP BY 1, 2
        |ORDER BY event_type, bucket""".stripMargin,

    "q_cdc_chunk_dedup" -> {
      val poly = s"(h, c) -> (h * 257 + c) % $Mersenne61"
      s"""WITH codes AS (
         |  SELECT doc_id,
         |    list_transform(range(1, len(txt) + 1),
         |      ch_i -> CAST(unicode(substring(txt, ch_i, 1)) + 1 AS HUGEINT)) AS cs
         |  FROM (SELECT doc_id,
         |          text || CASE WHEN doc_id % 7 = 0
         |                       THEN ' ${OperatorGates7.Boiler}'
         |                       ELSE '' END AS txt
         |        FROM documents)
         |), base AS (
         |  SELECT doc_id, cs,
         |    list_filter(range(15, len(cs)), w_i ->
         |      list_reduce(cs[w_i - 14 : w_i + 1], $poly) % 32 = 31) AS bounds
         |  FROM codes
         |), withtail AS (
         |  SELECT doc_id, cs, bounds,
         |    list_reduce(list_prepend(CAST(0 AS HUGEINT),
         |      cs[CASE WHEN len(bounds) > 0 THEN bounds[-1] + 2 ELSE 1 END : len(cs)]),
         |      $poly) AS tail_h
         |  FROM base
         |), ch AS (
         |  SELECT doc_id,
         |    list_concat(
         |      list_transform(range(len(bounds)), j ->
         |        CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
         |          cs[CASE WHEN j = 0 THEN 1 ELSE bounds[j] + 2 END : bounds[j + 1] + 1]),
         |          $poly) AS BIGINT)),
         |      CASE WHEN tail_h <> 0 THEN [CAST(tail_h AS BIGINT)]
         |           ELSE CAST([] AS BIGINT[]) END) AS chunks
         |  FROM withtail
         |), occ AS (
         |  SELECT doc_id, unnest(chunks) AS chunk FROM ch
         |), sh AS (
         |  SELECT chunk FROM occ GROUP BY chunk
         |  HAVING count(DISTINCT doc_id) >= 2)
         |SELECT o.doc_id, count(*) AS n_chunks,
         |  CAST(sum(CASE WHEN o.chunk IN (SELECT chunk FROM sh)
         |               THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
         |FROM occ o GROUP BY o.doc_id
         |ORDER BY o.doc_id""".stripMargin
    },

    "q_stream_late_drop" ->
      // the stragglers (>= 3h old when their batch runs, watermark
      // already at max - 30min) are all dropped; emitted cells are the
      // windows closed under the final watermark (end <= max ms-30min)
      """WITH ev AS (
        |  SELECT event_id, event_type, epoch_us(ts) // 1000 AS ms,
        |    CAST(floor(value * 1000) AS BIGINT) AS vm
        |  FROM events),
        |mx AS (SELECT max(ms) AS m FROM ev),
        |keep AS (
        |  SELECT ev.* FROM ev, mx
        |  WHERE NOT (ms <= m - 10800000 AND event_id % 3 = 0)),
        |agg AS (
        |  SELECT (ms // 3600000) * 3600000 AS ws, event_type,
        |    count(*) AS n, CAST(sum(vm) AS BIGINT) AS sum_v_milli
        |  FROM keep GROUP BY 1, 2)
        |SELECT CAST(epoch_ms(ws) AS TIMESTAMP) AS window_start,
        |  event_type, n, sum_v_milli
        |FROM agg, mx WHERE ws + 3600000 <= m - 1800000
        |ORDER BY window_start, event_type""".stripMargin,

    "q_shard_manifest" ->
      // every manifest figure recomputed from the source table; the
      // checksum replays FNV-1a 64 per doc and XOR-folds it (order-
      // independent, so parallel write order is irrelevant)
      s"""SELECT doc_id % 8 AS shard, count(*) AS n_docs,
         |  CAST(sum(len(text)) AS BIGINT) AS sum_chars,
         |  bit_xor(${OracleSql.fnvS("text")}) AS checksum,
         |  true AS verified
         |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin,

    "q_format_roundtrip" ->
      // a lossless round-trip means each format row carries the SAME
      // aggregate of the source slice
      """SELECT f.format, a.n, a.sum_v_milli, a.n_types
        |FROM (SELECT count(*) AS n,
        |        CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
        |          AS sum_v_milli,
        |        count(DISTINCT event_type) AS n_types
        |      FROM events) a
        |CROSS JOIN (VALUES ('csv'), ('json'), ('orc')) AS f(format)
        |ORDER BY f.format""".stripMargin,

    "q_stream_scd2" ->
      // identical to the full-changelog SCD2 rebuild: batch boundaries
      // must not be visible in the final dimension
      """WITH ch AS (
        |  SELECT o_custkey AS custkey, o_orderkey AS seq,
        |    CASE WHEN o_orderkey % 50 = 0 THEN 'D' ELSE 'U' END AS op,
        |    o_totalprice AS price
        |  FROM orders),
        |v AS (
        |  SELECT custkey, seq, op, price,
        |    lead(seq) OVER (PARTITION BY custkey ORDER BY seq) AS valid_to
        |  FROM ch)
        |SELECT custkey, price, seq AS valid_from, valid_to,
        |  (valid_to IS NULL) AS is_current
        |FROM v WHERE op <> 'D'
        |ORDER BY custkey, valid_from""".stripMargin,

    "q_corpus_drift" -> {
      val fp1 = OracleSql.fnvS("text")
      val fp2 = OracleSql.fnvS(
        "text || CASE WHEN doc_id % 13 = 0 THEN ' updated' ELSE '' END")
      s"""WITH o AS (
         |  SELECT doc_id, lang, $fp1 AS fp FROM documents
         |  WHERE doc_id % 11 <> 0),
         |n AS (
         |  SELECT doc_id, lang, $fp2 AS fp FROM documents
         |  WHERE doc_id % 9 <> 0),
         |j AS (
         |  SELECT coalesce(n.lang, o.lang) AS stratum,
         |    CASE WHEN o.fp IS NULL THEN 'added'
         |         WHEN n.fp IS NULL THEN 'removed'
         |         WHEN o.fp <> n.fp THEN 'changed'
         |         ELSE 'unchanged' END AS status
         |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
         |SELECT stratum,
         |  CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
         |  CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         |  CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
         |  CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
         |FROM j GROUP BY stratum ORDER BY stratum""".stripMargin
    },

    "q_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) // 1000 AS ms FROM events),
        |s1 AS (
        |  SELECT user_id, min(ms) AS t1 FROM ev
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, min(ms) AS t2 FROM ev e JOIN s1 USING (user_id)
        |  WHERE event_type = 'click' AND ms > t1 AND ms <= t1 + 86400000
        |  GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, min(ms) AS t3 FROM ev e JOIN s2 USING (user_id)
        |  WHERE event_type = 'purchase' AND ms > t2 AND ms <= t2 + 86400000
        |  GROUP BY e.user_id)
        |SELECT s1.user_id, t1, t2, t3,
        |  CAST(1 + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
        |         + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END AS BIGINT) AS n_steps
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin,

    "q_kanon_suppress" ->
      """WITH cells AS (
        |  SELECT event_type, user_id, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT CASE WHEN n >= 10 THEN event_type ELSE 'OTHER' END
        |      AS event_type,
        |    CASE WHEN n >= 10 THEN CAST(user_id AS VARCHAR) ELSE 'OTHER' END
        |      AS user_id,
        |    n FROM cells)
        |SELECT event_type, user_id, CAST(sum(n) AS BIGINT) AS n,
        |  (event_type = 'OTHER' AND user_id = 'OTHER') AS suppressed
        |FROM m GROUP BY 1, 2
        |HAVING NOT (event_type = 'OTHER' AND user_id = 'OTHER')
        |    OR sum(n) >= 10
        |ORDER BY event_type, user_id""".stripMargin,

    "q_cdc_pipeline" ->
      // chain replay: full-changelog SCD2, current rows, price bucket,
      // small-cell fold with the sub-k fold-cell withheld
      """WITH ch AS (
        |  SELECT o_custkey AS custkey, o_orderkey AS seq,
        |    CASE WHEN o_orderkey % 50 = 0 THEN 'D' ELSE 'U' END AS op,
        |    o_totalprice AS price
        |  FROM orders),
        |v AS (
        |  SELECT custkey, seq, op, price,
        |    lead(seq) OVER (PARTITION BY custkey ORDER BY seq) AS valid_to
        |  FROM ch),
        |cur AS (
        |  SELECT custkey, CAST(floor(price / 50000) AS BIGINT) AS bucket
        |  FROM v WHERE op <> 'D' AND valid_to IS NULL),
        |cells AS (SELECT bucket, count(*) AS n FROM cur GROUP BY bucket),
        |m AS (
        |  SELECT CASE WHEN n >= 25 THEN CAST(bucket AS VARCHAR)
        |              ELSE 'OTHER' END AS bucket, n
        |  FROM cells)
        |SELECT bucket, CAST(sum(n) AS BIGINT) AS n,
        |  (bucket = 'OTHER') AS suppressed
        |FROM m GROUP BY bucket
        |HAVING bucket <> 'OTHER' OR sum(n) >= 25
        |ORDER BY bucket""".stripMargin,

    "q_scd2_job" ->
      // the watermarked two-epoch declarative job must land exactly on
      // the full-changelog rebuild
      """WITH ch AS (
        |  SELECT o_custkey AS custkey, o_orderkey AS seq,
        |    CASE WHEN o_orderkey % 50 = 0 THEN 'D' ELSE 'U' END AS op,
        |    o_totalprice AS price
        |  FROM orders),
        |v AS (
        |  SELECT custkey, seq, op, price,
        |    lead(seq) OVER (PARTITION BY custkey ORDER BY seq) AS valid_to
        |  FROM ch)
        |SELECT custkey, price, seq AS valid_from, valid_to,
        |  (valid_to IS NULL) AS is_current
        |FROM v WHERE op <> 'D'
        |ORDER BY custkey, valid_from""".stripMargin,

    "q_rollup_job" ->
      // two watermark epochs must finalize to the one-shot GROUP BY
      """SELECT event_type, user_id % 10 AS bucket,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sum_m,
        |  min(CAST(floor(value * 1000) AS BIGINT)) AS min_m,
        |  max(CAST(floor(value * 1000) AS BIGINT)) AS max_m,
        |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS DOUBLE) / count(*)
        |    AS avg_m
        |FROM events GROUP BY 1, 2
        |ORDER BY event_type, bucket""".stripMargin,

    "q_stream_outer_join" ->
      // plain relational left join replay in exact micros, restricted
      // to left rows 2 h clear of the final watermark
      """WITH ev AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
        |mx AS (SELECT max(us) AS m FROM ev),
        |l AS (SELECT * FROM ev WHERE event_id % 2 = 0),
        |r AS (SELECT * FROM ev WHERE event_id % 2 <> 0)
        |SELECT l.event_id AS l_id, r.event_id AS r_id,
        |  l.us AS l_us, r.us AS r_us
        |FROM l LEFT JOIN r
        |  ON l.user_id = r.user_id AND r.us >= l.us
        |     AND r.us <= l.us + 600000000
        |CROSS JOIN mx
        |WHERE l.us <= m - 7200000000
        |ORDER BY l_id, r_id""".stripMargin,

    "q_versioned_table" ->
      // after two later commits and a rollback, the current read is
      // exactly version 1: the full per-type aggregate
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
        |    AS sum_v_milli
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q_term_drift" ->
      """WITH t1 AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> len(x) > 0))
        |    AS term
        |  FROM documents WHERE doc_id % 11 <> 0),
        |t2 AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> len(x) > 0))
        |    AS term
        |  FROM documents WHERE doc_id % 9 <> 0),
        |c1 AS (SELECT term, count(*) AS n FROM t1 GROUP BY term),
        |c2 AS (SELECT term, count(*) AS n FROM t2 GROUP BY term)
        |SELECT coalesce(c1.term, c2.term) AS term,
        |  CAST(coalesce(c1.n, 0) AS BIGINT) AS n_v1,
        |  CAST(coalesce(c2.n, 0) AS BIGINT) AS n_v2,
        |  CAST(abs(coalesce(c2.n, 0) - coalesce(c1.n, 0)) AS BIGINT) AS drift
        |FROM c1 FULL OUTER JOIN c2 ON c1.term = c2.term
        |ORDER BY drift DESC, term LIMIT 50""".stripMargin,

    "q_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin
  )
}
