package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-15 operator gates: Iceberg SCHEMA evolution (write + read),
  * the foreign-spec pruning conservatism fix, and the pywb-
  * interoperable CDXJ text export.
  */
object OperatorGates17 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def readMetadataJson(s: SparkSession, tableRoot: String)
      : com.fasterxml.jackson.databind.JsonNode = {
    val M = new com.fasterxml.jackson.databind.ObjectMapper()
    val fs = new org.apache.hadoop.fs.Path(tableRoot)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    def readAll(p: org.apache.hadoop.fs.Path): Array[Byte] = {
      val in = fs.open(p); try in.readAllBytes() finally in.close()
    }
    val v = new String(readAll(new org.apache.hadoop.fs.Path(
      s"$tableRoot/metadata/version-hint.text"))).trim.toLong
    M.readTree(readAll(new org.apache.hadoop.fs.Path(
      f"$tableRoot/metadata/v$v%05d.metadata.json")))
  }

  def queries17: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- Iceberg SCHEMA EVOLUTION (spec v2): snapshot 1 writes under
    //     schema 0 = (doc_id, shard); snapshot 2 rewrites shard 2
    //     WITH AN ADDED COLUMN — the metadata accumulates schema 1
    //     (stable field ids, fresh id for the added column, optional
    //     per the spec), `current-schema-id` bumps, and each snapshot
    //     records its own schema-id. The independent reader reads the
    //     CURRENT snapshot under schema 1 (old files null-fill the
    //     added column) and TIME TRAVEL under schema 0 (no leaked
    //     column). Probes: 1 = snapshot-1 visibility, 2 = current
    //     null-fill shape, 3 = partition-pruned current read, 4 = the
    //     added column's actual values. Oracle replays all four -----
    "q_iceberg_schema_evolution" -> ((s, dir) => {
      import graft.sink.{IcebergMeta, ShardedTable}
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_schemaevo").toString
      val table = new ShardedTable(s"$tmp/t", "shard",
        s.sparkContext.hadoopConfiguration)
      val docs = t(s, dir, "documents").filter(col("doc_id") < 240)
        .select(col("doc_id"),
          pmod(col("doc_id"), lit(4)).cast("long").as("shard"))
      val v1 = table.commit(docs, touched = Seq("0", "1", "2", "3"))
      IcebergMeta.mirror(s, table, v1) // schema 0: (doc_id, shard)
      // evolution arrives WITH new data: shard 2 rewritten carrying
      // an added nullable column
      val v2 = table.commit(
        docs.filter(col("shard") === 2)
          .withColumn("lang", concat(lit("l"), pmod(col("doc_id"), lit(3)))),
        touched = Seq("2"))
      IcebergMeta.mirror(s, table, v2) // schema 1: + lang (id 3)
      // metadata shape: accumulated schemas, per-snapshot schema ids
      val md = readMetadataJson(s, s"$tmp/t")
      require(md.get("current-schema-id").asInt() == 1 &&
        md.get("schemas").size() == 2 &&
        md.get("last-column-id").asInt() == 3,
        "metadata did not accumulate the evolved schema")
      val snapSchemaIds = md.get("snapshots").elements().asScala
        .map(n => n.get("snapshot-id").asLong() ->
          n.get("schema-id").asInt()).toSeq
      require(snapSchemaIds == Seq(1L -> 0, 2L -> 1),
        s"snapshots carry wrong schema ids: $snapSchemaIds")
      val snap1 = IcebergMeta.read(s, s"$tmp/t", snapshotId = Some(1L))
      require(!snap1.columns.contains("lang"),
        "time travel leaked a column added AFTER the snapshot")
      val cur = IcebergMeta.read(s, s"$tmp/t")
      require(cur.columns.toSeq == Seq("doc_id", "shard", "lang"),
        s"current read is not under the evolved schema: " +
          cur.columns.mkString(","))
      val p1 = snap1.groupBy(col("shard"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"))
        .select(lit(1L).as("probe"), col("shard").as("grp"),
          col("n"), col("sum_id"), lit(0L).as("n_lang"))
      def shardAgg(df: DataFrame, probe: Long) = df.groupBy(col("shard"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"),
          count(col("lang")).as("n_lang"))
        .select(lit(probe).as("probe"), col("shard").as("grp"),
          col("n"), col("sum_id"), col("n_lang"))
      val p2 = shardAgg(cur, 2L)
      val p3 = shardAgg(
        IcebergMeta.read(s, s"$tmp/t", partitions = Some(Seq("2"))), 3L)
      val p4 = cur.filter(col("lang").isNotNull).groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"))
        .select(lit(4L).as("probe"),
          substring(col("lang"), 2, 1).cast("long").as("grp"),
          col("n"), col("sum_id"), col("n").as("n_lang"))
      // DROP evolution (opt-in): shard 2 rewritten WITHOUT lang — the
      // new current schema omits it (schema 2, same last-column-id:
      // dropped ids are never reused), while snapshot 2 keeps lang
      // through its own schema-id. Probe 5 = the lang-less current
      // read, probe 6 = time travel to snapshot 2 STILL carrying it
      val v3 = table.commit(docs.filter(col("shard") === 2),
        touched = Seq("2"))
      IcebergMeta.mirror(s, table, v3, allowDrops = true)
      val md2 = readMetadataJson(s, s"$tmp/t")
      require(md2.get("current-schema-id").asInt() == 2 &&
        md2.get("schemas").size() == 3 &&
        md2.get("last-column-id").asInt() == 3,
        "drop evolution did not append a lang-less schema")
      val cur2 = IcebergMeta.read(s, s"$tmp/t")
      require(cur2.columns.toSeq == Seq("doc_id", "shard"),
        s"current read after drop still carries: " +
          cur2.columns.mkString(","))
      val snap2 = IcebergMeta.read(s, s"$tmp/t", snapshotId = Some(2L))
      require(snap2.columns.toSeq == Seq("doc_id", "shard", "lang"),
        "time travel lost the dropped column")
      val p5 = cur2.groupBy(col("shard"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"))
        .select(lit(5L).as("probe"), col("shard").as("grp"),
          col("n"), col("sum_id"), lit(0L).as("n_lang"))
      val p6 = shardAgg(snap2, 6L)
      p1.unionByName(p2).unionByName(p3).unionByName(p4)
        .unionByName(p5).unionByName(p6)
        .orderBy(col("probe"), col("grp"))
    }),

    // --- Foreign-spec pruning conservatism: tables written by an
    //     INDEPENDENT minimal Iceberg v2 writer (ForeignIceberg —
    //     shapes the native mirror never produces). Probe 0 reads a
    //     date-identity table unfiltered; probe 1 partition-filters it
    //     — date bounds are 4-byte LE epoch days and MUST decode to
    //     ISO and prune EXACTLY (the r14 judge's silent-row-loss bug:
    //     they decoded as UTF-8 garbage and dropped every manifest).
    //     Probes 2-4 partition-filter specs this reader cannot decode
    //     — timestamptz identity, bucket[4], truncate[3] — and must
    //     return ALL rows (resolve to not-prunable, never dropped).
    //     The shapes also fuzz non-zero spec/schema ids, multi-element
    //     `schemas`, a snapshot without `schema-id`, and file:///
    //     manifest paths -------------------------------------------
    "q_iceberg_foreign_prune" -> ((s, dir) => {
      import graft.sink.{ForeignIceberg, IcebergMeta}
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_foreignice").toString
      // the fixture writer runs 2 jobs per partition value (write +
      // count); pin the 240-row base once so none of them re-scan
      // parquet, and give every spec a 4-value partition source
      val docs = t(s, dir, "documents").filter(col("doc_id") < 240)
        .select(col("doc_id"),
          date_add(lit("2024-01-01").cast("date"),
            pmod(col("doc_id"), lit(4)).cast("int")).as("day"))
        .withColumn("ts", col("day").cast("timestamp"))
        .withColumn("cat", concat(lit("cat"), pmod(col("doc_id"), lit(4))))
        .coalesce(1).localCheckpoint(true)
      ForeignIceberg.write(s, s"$tmp/t_date", docs, Some("day"))
      ForeignIceberg.write(s, s"$tmp/t_ts", docs, Some("ts"),
        ForeignIceberg.Shape(specId = 3, schemaId = 2,
          historicalSchema = true, snapshotSchemaId = false,
          pathForm = "file"))
      ForeignIceberg.write(s, s"$tmp/t_bucket", docs, Some("cat"),
        ForeignIceberg.Shape(transform = "bucket[4]", pathForm = "file3"))
      ForeignIceberg.write(s, s"$tmp/t_trunc", docs, Some("cat"),
        ForeignIceberg.Shape(transform = "truncate[3]", specId = 1))
      // a foreign MERGE/DELETE shape: data files sort by all columns,
      // so position (ordinal, pos) deletes address the pos-th smallest
      // doc_id of day-group ordinal; equality deletes name doc_ids
      import s.implicits._
      ForeignIceberg.write(s, s"$tmp/t_del", docs, Some("day"),
        ForeignIceberg.Shape(pathForm = "file"),
        posDeletes = Seq((0, 0L), (0, 3L), (2, 3L)),
        eqDeletes = Some((Seq(7L, 13L, 26L).toDF("doc_id"), Seq("doc_id"))))
      def probe(root: String, parts: Option[Seq[String]], label: Long) =
        IcebergMeta.read(s, root, partitions = parts)
          .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"))
          .select(lit(label).as("probe"), col("n"), col("sum_id"))
      probe(s"$tmp/t_date", None, 0L)
        .unionByName(probe(s"$tmp/t_date", Some(Seq("2024-01-02")), 1L))
        .unionByName(probe(s"$tmp/t_ts", Some(Seq("2024-01-02")), 2L))
        .unionByName(probe(s"$tmp/t_bucket", Some(Seq("1")), 3L))
        .unionByName(probe(s"$tmp/t_trunc", Some(Seq("cat")), 4L))
        .unionByName(probe(s"$tmp/t_del", None, 5L))
        .unionByName(probe(s"$tmp/t_del", Some(Seq("2024-01-01")), 6L))
        .orderBy(col("probe"))
    }),

    // --- pywb-interoperable ZipNum export: the cdxindex job (run
    //     through a 2 KiB read window, exercising the window-growth
    //     walk on real member tilings) also emits the Common Crawl
    //     distribution layout — sorted cdx-NNNNN.gz text shards whose
    //     gzip BLOCKS (≤ linesPerBlock lines each) are addressed
    //     exactly by cluster.idx. The gate replays what a foreign
    //     ZipNum reader does: parse cluster.idx, require the blocks
    //     TILE each shard byte-exactly, range-read + gunzip every
    //     block, require global (urlkey, ts) order across the whole
    //     export and ≤ linesPerBlock lines per block, round-trip all
    //     lines through parseCdxj against the parquet index, and
    //     require identity with the WARC writer's ground truth.
    //     Output = the round-tripped captures (content-derived
    //     columns only; member lengths are gzip-encoder-dependent) --
    "q_cdx_zipnum" -> ((s, dir) => {
      import graft.runner.JobConfig
      import graft.operators.CdxIndex
      val tmp = java.nio.file.Files
        .createTempDirectory("q_cdxzipnum").toString
      val warcDir = s"$tmp/warc"
      val fixture = OperatorGates15.buildMiniCrawl(s, dir, warcDir)
      val r0 = JobConfig.runAny(s, JobConfig.parse(
        s"""job.type=cdxindex
           |job.name=cdxzipnum_gate
           |cdx.warcDir=$warcDir
           |cdx.digest=md5
           |cdx.windowBytes=2048
           |cdx.zipnumDir=$tmp/zipnum
           |cdx.zipnumShards=3
           |cdx.linesPerBlock=7
           |sink.output=$tmp/index
           |""".stripMargin))
      require(r0("published") == "true" && r0("zipnumDir") == s"$tmp/zipnum",
        s"cdxindex+zipnum failed: $r0")
      // --- what a foreign ZipNum reader does, replayed loudly
      val zn = java.nio.file.Paths.get(s"$tmp/zipnum")
      val clusterLines = java.nio.file.Files
        .readAllLines(zn.resolve("cluster.idx")).asScala.toSeq
      val blocks = clusterLines.map { l =>
        val Array(key, fname, off, len, seqNo) = l.split("\t")
        (key, fname, off.toLong, len.toLong, seqNo.toLong)
      }
      require(blocks.map(_._5) == (1L to blocks.length).toSeq,
        "cluster.idx seq is not the 1-based global block ordinal")
      // blocks tile each shard file byte-exactly
      blocks.groupBy(_._2).foreach { case (fname, bs) =>
        val size = java.nio.file.Files.size(zn.resolve(fname))
        val sorted = bs.sortBy(_._3)
        require(sorted.head._3 == 0L &&
          sorted.map(b => b._3 + b._4).zip(sorted.tail.map(_._3))
            .forall { case (e, n) => e == n } &&
          sorted.last._3 + sorted.last._4 == size,
          s"$fname: cluster.idx blocks do not tile the shard exactly")
      }
      // range-read every block exactly as addressed; check order + cap
      val allLines = blocks.sortBy(b => (b._2, b._3)).flatMap {
        case (key, fname, off, len, _) =>
          val ch = java.nio.file.Files.newByteChannel(zn.resolve(fname))
          val buf = java.nio.ByteBuffer.allocate(len.toInt)
          ch.position(off)
          while (buf.hasRemaining && ch.read(buf) >= 0) {}
          ch.close()
          require(!buf.hasRemaining, s"$fname: short read at $off")
          val gz = new java.util.zip.GZIPInputStream(
            new java.io.ByteArrayInputStream(buf.array()))
          val text = new String(gz.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8)
          val lines = text.split("\n").toSeq.filter(_.nonEmpty)
          require(lines.nonEmpty && lines.size <= 7,
            s"$fname@$off: block carries ${lines.size} lines (cap 7)")
          require(lines.head.startsWith(key),
            s"$fname@$off: cluster.idx key '$key' is not the block's first line")
          lines
      }
      require(allLines == allLines.sorted,
        "shard lines are not globally (urlkey, ts)-ordered")
      require(allLines.size == fixture.count(),
        s"${allLines.size} exported lines != ${fixture.count()} captures")
      // parseCdxj round-trips every line against the parquet index
      import s.implicits._
      val parsed = CdxIndex.parseCdxj(allLines.toDF("line"))
      val idx = s.read.parquet(s"$tmp/index")
      require(parsed.exceptAll(idx).isEmpty && idx.exceptAll(parsed).isEmpty,
        "ZipNum round-trip diverges from the parquet index")
      // the distributed CONSUMER reads the layout back identically,
      // and a prefix lookup touches only matching blocks
      val reread = CdxIndex.readZipnum(s, s"$tmp/zipnum")
      require(reread.exceptAll(idx).isEmpty && idx.exceptAll(reread).isEmpty,
        "readZipnum diverges from the parquet index")
      val prefix = "example,site1"
      val probe = CdxIndex.readZipnum(s, s"$tmp/zipnum",
        urlkeyPrefix = Some(prefix))
      val expectP = idx.filter(col("urlkey").startsWith(prefix))
      require(probe.exceptAll(expectP).isEmpty &&
        expectP.exceptAll(probe).isEmpty,
        "prefix lookup through cluster.idx diverges from a full filter")
      // the per-shard .idx layout variant (extreme-scale: secondary-
      // index writing parallelizes with the shards, no cluster.idx)
      // must read back IDENTICALLY through the same consumer
      CdxIndex.exportZipnum(s, idx, s"$tmp/zipnum2", shards = 3,
        linesPerBlock = 7, perShardIdx = true)
      val z2 = java.nio.file.Paths.get(s"$tmp/zipnum2")
      require(!java.nio.file.Files.exists(z2.resolve("cluster.idx")) &&
        java.nio.file.Files.exists(z2.resolve("shards.idx")) &&
        java.nio.file.Files.list(z2).iterator().asScala
          .count(_.getFileName.toString.matches("cdx-\\d{5}\\.idx")) == 3,
        "per-shard layout did not write cdx-*.idx + shards.idx")
      val reread2 = CdxIndex.readZipnum(s, s"$tmp/zipnum2")
      require(reread2.exceptAll(idx).isEmpty &&
        idx.exceptAll(reread2).isEmpty,
        "per-shard .idx layout diverges from the parquet index")
      val probe2 = CdxIndex.readZipnum(s, s"$tmp/zipnum2",
        urlkeyPrefix = Some(prefix))
      require(probe2.exceptAll(expectP).isEmpty &&
        expectP.exceptAll(probe2).isEmpty,
        "prefix lookup through per-shard .idx diverges from a full filter")
      // identity against the WARC writer's ground truth -> output
      val joined = parsed.join(
        fixture.select(col("url").as("f_url"), col("digest").as("f_digest"),
          col("length").as("f_len"), col("seq"), col("filename"),
          col("offset")),
        Seq("filename", "offset"))
      require(joined.count() == fixture.count(), "identity join lost rows")
      require(joined.filter(col("url") =!= col("f_url") ||
        col("digest") =!= col("f_digest") ||
        col("length") =!= col("f_len")).isEmpty,
        "ZipNum content disagrees with the writer's ground truth")
      joined.select(col("seq"), col("url"), col("urlkey"), col("ts"),
        col("digest")).orderBy(col("seq"))
    }),

    // --- cdxfetch straight off a ZipNum distribution (the layout
    //     Common Crawl actually publishes): index a crawl with
    //     job.type=cdxindex emitting ONLY the ZipNum face, then run
    //     job.type=cdxfetch with source.format=zipnum — readZipnum
    //     feeds the ledger pipeline with no parquet conversion, the
    //     capture timestamp is the watermark (cdx.seq=ts), and a
    //     second epoch over the SAME index is a watermark no-op.
    //     Single-epoch winner semantics: digest dedup then per-URL
    //     min-(filename,offset) — recaptures drop, ck winners land
    //     (the q_cdx_index_build oracle shape, constant ts seq) -----
    "q_cdxfetch_zipnum" -> ((s, dir) => {
      import graft.runner.JobConfig
      val tmp = java.nio.file.Files
        .createTempDirectory("q_cdxzipfetch").toString
      val warcDir = s"$tmp/warc"
      OperatorGates15.buildMiniCrawl(s, dir, warcDir)
      val r0 = JobConfig.runAny(s, JobConfig.parse(
        s"""job.type=cdxindex
           |job.name=zipfetch_index
           |cdx.warcDir=$warcDir
           |cdx.digest=md5
           |cdx.zipnumDir=$tmp/zipnum
           |cdx.zipnumShards=2
           |cdx.linesPerBlock=16
           |sink.output=$tmp/index
           |""".stripMargin))
      require(r0("published") == "true", s"index build failed: $r0")
      def fetchEpoch(): Map[String, String] = JobConfig.runAny(s,
        JobConfig.parse(
          s"""job.type=cdxfetch
             |job.name=zipfetch_gate
             |source.path=$tmp/zipnum
             |source.format=zipnum
             |cdx.seq=ts
             |cdx.warcDir=$warcDir
             |cdx.maxGap=512
             |cdx.shards=8
             |sink.output=$tmp/ledger
             |state.dir=$tmp/wm
             |""".stripMargin))
      val r1 = fetchEpoch()
      require(r1("published") == "true", s"zipnum fetch epoch failed: $r1")
      val r2 = fetchEpoch()
      require(r2("published") == "false",
        s"re-ingesting the same index must be a watermark no-op: $r2")
      new graft.sink.ShardedTable(s"$tmp/ledger", "shard",
          s.sparkContext.hadoopConfiguration)
        .readCurrent(s)
        .select(col("digest"), col("url"), col("seq"), col("n_chars"))
        .orderBy(col("digest"))
    }))

  def oracleSql17: Map[String, String] = Map(

    "q_iceberg_schema_evolution" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id % 4 AS shard FROM documents
        |  WHERE doc_id < 240),
        |l AS (
        |  SELECT doc_id, shard, 'l' || (doc_id % 3) AS lang
        |  FROM d WHERE shard = 2),
        |p1 AS (
        |  SELECT CAST(1 AS BIGINT) AS probe, shard AS grp,
        |    count(*) AS n, sum(doc_id) AS sum_id,
        |    CAST(0 AS BIGINT) AS n_lang
        |  FROM d GROUP BY shard),
        |p2 AS (
        |  SELECT CAST(2 AS BIGINT), shard,
        |    count(*), sum(doc_id),
        |    CASE WHEN shard = 2 THEN count(*) ELSE 0 END
        |  FROM d GROUP BY shard),
        |p3 AS (
        |  SELECT CAST(3 AS BIGINT), shard,
        |    count(*), sum(doc_id), count(*)
        |  FROM d WHERE shard = 2 GROUP BY shard),
        |p4 AS (
        |  SELECT CAST(4 AS BIGINT), doc_id % 3,
        |    count(*), sum(doc_id), count(*)
        |  FROM l GROUP BY doc_id % 3),
        |p5 AS (
        |  SELECT CAST(5 AS BIGINT), shard,
        |    count(*), sum(doc_id), CAST(0 AS BIGINT)
        |  FROM d GROUP BY shard),
        |p6 AS (
        |  SELECT CAST(6 AS BIGINT), shard,
        |    count(*), sum(doc_id),
        |    CASE WHEN shard = 2 THEN count(*) ELSE 0 END
        |  FROM d GROUP BY shard)
        |SELECT probe, CAST(grp AS BIGINT) AS grp, CAST(n AS BIGINT) AS n,
        |  CAST(sum_id AS BIGINT) AS sum_id, CAST(n_lang AS BIGINT) AS n_lang
        |FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2
        |  UNION ALL SELECT * FROM p3 UNION ALL SELECT * FROM p4
        |  UNION ALL SELECT * FROM p5 UNION ALL SELECT * FROM p6) u
        |ORDER BY probe, grp""".stripMargin,

    // probes 0, 2, 3, 4 see every row; probe 1 only day = 2024-01-02
    // (doc_id % 4 = 1) — the exact date-identity prune; probes 5/6
    // replay the foreign MERGE/DELETE: position deletes remove the
    // 1st and 4th smallest doc_id of day-group 0 and the 4th of
    // group 2 (files sort by doc_id), equality deletes remove
    // doc_ids 7/13/26, and pruning composes with both
    "q_iceberg_foreign_prune" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 240),
        |a AS (SELECT count(*) AS n, sum(doc_id) AS sum_id FROM d),
        |m AS (SELECT count(*) AS n, sum(doc_id) AS sum_id FROM d
        |      WHERE doc_id % 4 = 1),
        |posdel AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, doc_id % 4 AS g,
        |      row_number() OVER (PARTITION BY doc_id % 4
        |        ORDER BY doc_id) AS rn
        |    FROM d)
        |  WHERE (g = 0 AND rn IN (1, 4)) OR (g = 2 AND rn = 4)),
        |live AS (
        |  SELECT doc_id FROM d
        |  WHERE doc_id NOT IN (SELECT doc_id FROM posdel)
        |    AND doc_id NOT IN (7, 13, 26)),
        |l5 AS (SELECT count(*) AS n, sum(doc_id) AS sum_id FROM live),
        |l6 AS (SELECT count(*) AS n, sum(doc_id) AS sum_id FROM live
        |       WHERE doc_id % 4 = 0),
        |u AS (
        |  SELECT 0 AS probe, n, sum_id FROM a
        |  UNION ALL SELECT 1, n, sum_id FROM m
        |  UNION ALL SELECT 2, n, sum_id FROM a
        |  UNION ALL SELECT 3, n, sum_id FROM a
        |  UNION ALL SELECT 4, n, sum_id FROM a
        |  UNION ALL SELECT 5, n, sum_id FROM l5
        |  UNION ALL SELECT 6, n, sum_id FROM l6)
        |SELECT CAST(probe AS BIGINT) AS probe, CAST(n AS BIGINT) AS n,
        |  CAST(sum_id AS BIGINT) AS sum_id
        |FROM u ORDER BY probe""".stripMargin,

    // every capture of buildMiniCrawl: originals (seq = d) plus the
    // d < 40 recaptures (seq = 240 + d); urlkey is the SURT form,
    // ts the writer's constant WARC-Date
    "q_cdx_zipnum" ->
      """WITH d AS (
        |  SELECT doc_id AS d FROM documents WHERE doc_id < 240),
        |c AS (
        |  SELECT d, CASE WHEN d >= 120 AND d % 3 = 0
        |    THEN 40 + d % 40 ELSE d % 40 END AS ck FROM d),
        |caps AS (
        |  SELECT d AS seq,
        |    md5('<html><p>page c' || ck || ' body w' || (ck * 7 % 50) ||
        |      '</p></html>') AS digest, d AS site
        |  FROM c
        |  UNION ALL
        |  SELECT 240 + d,
        |    md5('<html><p>recrawl r' || d || ' body</p></html>'), d
        |  FROM d WHERE d < 40)
        |SELECT CAST(seq AS BIGINT) AS seq,
        |  'https://site' || site || '.example/p' AS url,
        |  'example,site' || site || ')/p' AS urlkey,
        |  '20260101000000' AS ts, digest
        |FROM caps ORDER BY seq""".stripMargin,

    // ck winners only (digest dedup then per-URL min-offset winner
    // drops the recaptures in one epoch); seq is the constant capture
    // timestamp — the ZipNum watermark column
    "q_cdxfetch_zipnum" ->
      """WITH d AS (
        |  SELECT doc_id AS d FROM documents WHERE doc_id < 240),
        |c AS (
        |  SELECT d, CASE WHEN d >= 120 AND d % 3 = 0
        |    THEN 40 + d % 40 ELSE d % 40 END AS ck FROM d),
        |p AS (
        |  SELECT d, ck,
        |    '<html><p>page c' || ck || ' body w' || (ck * 7 % 50) ||
        |      '</p></html>' AS payload
        |  FROM c),
        |w AS (
        |  SELECT *, row_number() OVER (PARTITION BY ck ORDER BY d) AS rn
        |  FROM p)
        |SELECT md5(payload) AS digest,
        |  'https://site' || d || '.example/p' AS url,
        |  CAST(20260101000000 AS BIGINT) AS seq,
        |  CAST(length(payload) AS BIGINT) AS n_chars
        |FROM w WHERE rn = 1 ORDER BY digest""".stripMargin)
}
