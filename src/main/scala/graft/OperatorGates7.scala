package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-4 wave 7: exact-substring dedup (the suffix-array dedup of
  * Lee et al. 2021, re-expressed as k-gram anchoring — see
  * operators/SubstringDedup.scala), the troubleshooter and dataset-
  * metadata surfaces, and image perceptual-hash near-dup. Query side
  * runs the real operators; the oracle replays gram fingerprints,
  * island merging, span removal, pixel sampling, and brute-force pair
  * definitions independently in DuckDB.
  */
object OperatorGates7 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Run an independent per-key unit of driver work (each submitting
    * its own Spark jobs into separate directories) on a small thread
    * pool, so one unit's task tail back-fills the cores instead of
    * serializing the whole sequence of tiny jobs. Results keep the
    * input key order. The first unit to fail is rethrown as soon as
    * it fails. Before that, the units' Spark jobs (running ones, and
    * any a unit would still submit) are cancelled with their tasks
    * interrupted, and the pool interrupts the other units and waits
    * (bounded) for them to stop, so no sibling thread or Spark job
    * outlives the call. A unit that starts a subprocess must destroy
    * it when interrupted.
    */
  private[graft] def parallelByKey[K, R](spark: SparkSession, keys: Seq[K], maxThreads: Int = 5)(
      unit: K => R): Seq[R] = {
    import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, TimeUnit}
    if (keys.isEmpty) return Seq.empty
    val sc = spark.sparkContext
    val group = s"graft-parallel-${java.util.UUID.randomUUID}"
    val pool = Executors.newFixedThreadPool(math.min(keys.size, maxThreads))
    val done = new ExecutorCompletionService[R](pool)
    var ok = false
    try {
      val futures = keys.map { k =>
        done.submit { () => sc.setJobGroup(group, "parallelByKey", interruptOnCancel = true); unit(k) }
      }
      keys.foreach(_ => done.take().get())
      ok = true
      futures.map(_.get())
    } catch { case e: ExecutionException => throw e.getCause }
    finally {
      if (!ok) sc.cancelJobGroupAndFutureJobs(group)
      pool.shutdownNow()
      pool.awaitTermination(60, TimeUnit.SECONDS)
    }
  }

  /** Shared boilerplate planted on every 7th document's tail — the
    * "terms of service" block that exact-substring dedup exists to
    * strip (26 tokens, >= 2 full k=10 grams).
    */
  val Boiler: String =
    "terms of service apply to all content herein all rights reserved " +
      "unauthorized reproduction strictly prohibited contact the webmaster " +
      "for licensing details subject to change without notice"

  /** Second, disjoint boilerplate prepended to every 5th document
    * (15 tokens) so gates see leading spans, trailing spans, and
    * both at once on doc_id % 35 == 0.
    */
  val Boiler2: String =
    "cookie consent banner please accept our cookie policy before " +
      "continuing to browse this site today"

  /** Repetition plants for q_repetition_clean: a 5-token phrase
    * repeated 12x (scrape-loop shape — dup-trigram ratio well above
    * the drop threshold on 10-99 token docs) and a 20-token phrase
    * repeated twice (salvageable — ratio lands between trim and drop).
    * Tokens are synthetic so they never collide with corpus trigrams.
    */
  val RepDrop: String = Seq.fill(12)(" zqa zqb zqc zqd zqe").mkString
  val RepTrim: String = {
    val phrase = (1 to 20).map(i => s" rp$i").mkString
    phrase + phrase
  }

  /** documents with both boilerplate plants applied (single source of
    * truth for the Spark side; the oracle restates it in SQL).
    */
  private def plantedDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        concat(
          when(col("doc_id") % 5 === 0, concat(lit(Boiler2), lit(" ")))
            .otherwise(lit("")),
          col("text"),
          when(col("doc_id") % 7 === 0, concat(lit(" "), lit(Boiler)))
            .otherwise(lit(""))).as("text"))

  /** The planted input restated for DuckDB. */
  private val plantedSql: String =
    s"""aug AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 5 = 0 THEN '$Boiler2 ' ELSE '' END || text ||
       |    CASE WHEN doc_id % 7 = 0 THEN ' $Boiler' ELSE '' END AS text
       |  FROM documents)""".stripMargin

  /** Gram/island replay shared by both substring gates (k = 10). */
  private val spanCtes: String =
    s"""$plantedSql,
       |tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM aug),
       |g AS (
       |  SELECT doc_id, unnest(generate_series(0, len(toks) - 10)) AS i, toks
       |  FROM tk WHERE len(toks) >= 10),
       |fp AS (
       |  SELECT doc_id, i, md5(array_to_string(toks[i + 1:i + 10], ' ')) AS fp
       |  FROM g),
       |dup AS (
       |  SELECT doc_id, i FROM (
       |    SELECT doc_id, i, count(*) OVER (PARTITION BY fp) AS cnt FROM fp)
       |  WHERE cnt > 1),
       |isl AS (
       |  SELECT doc_id, i, CASE WHEN i > coalesce(max(i + 9) OVER (
       |      PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
       |    THEN 1 ELSE 0 END AS starts
       |  FROM dup),
       |grp AS (
       |  SELECT doc_id, i, sum(starts) OVER (
       |    PARTITION BY doc_id ORDER BY i) AS grp FROM isl)""".stripMargin

  /** Planted BMP for doc `id`: pattern keyed by id % 40 so groups
    * share pixels, every 3rd doc lightly perturbed. Single source of
    * truth for every image gate; [[imageBitsCtes]] restates it.
    */
  private def synthBmp(id: Long): Array[Byte] = {
    val g = (id % 40).toInt
    val w = 8 + (g % 5) * 2
    val h = 8 + (g % 3) * 4
    val pert = id % 3 == 0
    graft.operators.Multimodal.BmpCodec.synthesize(w, h, { i =>
      val base = ((g + 1) * (i + 3) * 1103) % 256
      (base + (if (pert && i % 97 == 0) 128 else 0)) % 256
    })
  }

  /** Planted WAV for doc `id`: pattern keyed by id % 30, docs with
    * id % 4 == 1 head-perturbed (an ODD residue, so the perturbation
    * also fires when only odd ids carry audio, as in the flagship
    * gate). [[audioBitsCtes]] restates it.
    */
  private def synthWav(id: Long): Array[Byte] = {
    val g = (id % 30).toInt
    val pert = id % 4 == 1
    graft.operators.Multimodal.WavCodec.synthesize(8000,
      Array.tabulate(130) { tt =>
        ((((g + 1) * (tt + 7) * 2203) % 2003 - 1001) +
          (if (pert && tt < 6) 900 else 0)).toShort
      })
  }

  /** Image aHash replay shared by the image near-dup gates: planted
    * pixels → 8x8 nearest-neighbor samples → integer lumas → mean
    * threshold bits (one 0/1 list per doc), plus the brute-force
    * pair distances. `where` restricts which docs carry images.
    */
  private def imageBitsCtes(where: String = ""): String =
    s"""d AS (
      |  SELECT doc_id, doc_id % 40 AS g, doc_id % 3 = 0 AS pert,
      |    8 + (doc_id % 40) % 5 * 2 AS w, 8 + (doc_id % 40) % 3 * 4 AS h
      |  FROM documents$where),
      |lum AS (
      |  SELECT doc_id, list_transform(range(0, 64), j ->
      |    list_sum(list_transform(range(0, 3), c ->
      |      (((g + 1) *
      |          (((((j // 8) * h // 8) * w + ((j % 8) * w // 8)) * 3 + c)
      |            + 3) * 1103) % 256
      |       + CASE WHEN pert AND
      |           (((((j // 8) * h // 8) * w + ((j % 8) * w // 8)) * 3 + c)
      |             % 97 = 0)
      |         THEN 128 ELSE 0 END) % 256))) AS lumas
      |  FROM d),
      |tot AS (SELECT doc_id, lumas, list_sum(lumas) AS total FROM lum),
      |bits AS (
      |  SELECT doc_id, list_transform(range(0, 64), j ->
      |    CASE WHEN 64 * lumas[j + 1] > total THEN 1 ELSE 0 END) AS bits
      |  FROM tot),
      |allpairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    list_sum(list_transform(range(0, 64), j ->
      |      CASE WHEN a.bits[j + 1] <> b.bits[j + 1] THEN 1 ELSE 0 END))
      |      AS hamming
      |  FROM bits a JOIN bits b ON a.doc_id < b.doc_id)""".stripMargin

  /** Audio fingerprint replay shared by the audio gates: planted
    * samples → 65 window energies → delta bits, plus the brute-force
    * pair distances. `where` restricts which docs carry audio.
    */
  private def audioBitsCtes(where: String = ""): String =
    s"""ad AS (
      |  SELECT doc_id, doc_id % 30 AS g, doc_id % 4 = 1 AS pert
      |  FROM documents$where),
      |aen AS (
      |  SELECT doc_id, list_transform(range(0, 65), aw ->
      |    abs((((g + 1) * ((2 * aw) + 7) * 2203) % 2003 - 1001) +
      |        CASE WHEN pert AND (2 * aw) < 6 THEN 900 ELSE 0 END) +
      |    abs((((g + 1) * ((2 * aw + 1) + 7) * 2203) % 2003 - 1001) +
      |        CASE WHEN pert AND (2 * aw + 1) < 6 THEN 900 ELSE 0 END))
      |    AS en
      |  FROM ad),
      |abits AS (
      |  SELECT doc_id, list_transform(range(0, 64), j ->
      |    CASE WHEN en[j + 2] > en[j + 1] THEN 1 ELSE 0 END) AS bits
      |  FROM aen),
      |apairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    list_sum(list_transform(range(0, 64), j ->
      |      CASE WHEN a.bits[j + 1] <> b.bits[j + 1] THEN 1 ELSE 0 END))
      |      AS hamming
      |  FROM abits a JOIN abits b ON a.doc_id < b.doc_id)""".stripMargin

  /** Depth-aware audio-bits replay for q_audio_neardup: each doc
    * carries the shared recording in the container/depth keyed by
    * doc_id % 5 — 3 ships 24-bit FLAC storing base<<8 (the norm16
    * shift cancels EXACTLY, so the bits equal the 16-bit twins'), 4
    * ships 8-bit WAV storing base>>8 (norm16 yields the floor-
    * quantized samples this replay computes — quantization is
    * replayed, never assumed away).
    */
  private def audioDepthBitsCtes(where: String = ""): String =
    s"""ad AS (
      |  SELECT doc_id, doc_id % 30 AS g, doc_id % 4 = 1 AS pert,
      |    doc_id % 5 AS cont
      |  FROM documents$where),
      |asamp AS (
      |  SELECT doc_id, list_transform(range(0, 130), t ->
      |    CASE WHEN cont = 4 THEN
      |      CAST(floor(((((g + 1) * (t + 7) * 2203) % 2003 - 1001) +
      |        CASE WHEN pert AND t < 6 THEN 900 ELSE 0 END) / 256.0)
      |        AS BIGINT) * 256
      |    ELSE (((g + 1) * (t + 7) * 2203) % 2003 - 1001) +
      |      CASE WHEN pert AND t < 6 THEN 900 ELSE 0 END END) AS sm
      |  FROM ad),
      |aen AS (
      |  SELECT doc_id, list_transform(range(0, 65), aw ->
      |    abs(sm[2 * aw + 1]) + abs(sm[2 * aw + 2])) AS en
      |  FROM asamp),
      |abits AS (
      |  SELECT doc_id, list_transform(range(0, 64), j ->
      |    CASE WHEN en[j + 2] > en[j + 1] THEN 1 ELSE 0 END) AS bits
      |  FROM aen),
      |apairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    list_sum(list_transform(range(0, 64), j ->
      |      CASE WHEN a.bits[j + 1] <> b.bits[j + 1] THEN 1 ELSE 0 END))
      |      AS hamming
      |  FROM abits a JOIN abits b ON a.doc_id < b.doc_id)""".stripMargin

  def queries7: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- exact-substring dedup, span report (Lee et al. 2021
    //     ExactSubstr; scale notes in SubstringDedup.scala): plant
    //     shared head/tail boilerplate, find every maximal duplicated
    //     token span of >= 10 tokens. The oracle replays the md5 gram
    //     fingerprints and the gaps-and-islands merge bit-for-bit ----
    "q_substring_spans" -> ((s, dir) => {
      import graft.operators.SubstringDedup
      SubstringDedup
        .duplicatedSpans(plantedDocs(s, dir), "doc_id", "text", k = 10)
        .orderBy(col("doc_id"), col("span_start"))
    }),

    // --- automatic troubleshooter (ref gobblin-runtime/.../
    //     troubleshooter/ + AutoTroubleshooterLogAppender.java): one
    //     job context per nation; every 3rd job fails with a coded
    //     error TWICE (the retry dedups to one issue), every 3rd+1 job
    //     reports a kafka WARN (refined away), a runner WARN and a
    //     metrics INFO (refined to the bottom), the rest are healthy.
    //     Output = refined per-context issue rows; the oracle restates
    //     the expected classification from the nation table ----------
    "q_issues" -> ((s, dir) => {
      import graft.runner.Troubleshooter
      import graft.runner.Troubleshooter._
      val repo = new MultiContextIssueRepository()
      // nation is a fixed-size dimension (25 rows at every SF):
      // bounded driver metadata, same class as seeds/offsets elsewhere
      val nations = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
        .collect().map(r => (r.get(0).toString.toLong, r.getString(1)))
        .sortBy(_._1)
      nations.foreach { case (k, name) =>
        val ctx = contextIdForJob("gate", name, "1", "ingest")
        k % 3 match {
          case 0 =>
            // the job and its blind retry fail identically -> ONE issue
            (1 to 2).foreach { _ =>
              Troubleshooter.guarded(
                repo, ctx, "graft.sources.FileSources", "ingest run") {
                throw new CodedException(
                  "GRAFT_SOURCE_MISSING", s"no input for $name")
              }
            }
          case 1 =>
            repo.put(ctx, Issue(1L, Severity.Warn, "KAFKA_LAG",
              s"consumer lag on $name", "",
              "org.apache.kafka.clients.NetworkClient", ""))
            repo.put(ctx, Issue(2L, Severity.Warn, "GRAFT_SLOW_TASK",
              s"slow tasks on $name", "", "graft.runner.JobRunner", ""))
            repo.put(ctx, Issue(3L, Severity.Info, "METRICS_EMIT",
              s"metrics emitted for $name", "",
              "graft.metrics.GraftListener", ""))
          case _ => () // healthy run: no issues
        }
      }
      Troubleshooter.toDf(s, repo)
        .select(col("context"), col("ord"), col("code"), col("severity"),
          col("summary"), col("source_class"))
        .orderBy(col("context"), col("ord"))
    }),

    // --- Gopher repetition removal (RepetitionRemoval.clean): heavy
    //     repetition planted on doc_id % 11 (5-token phrase x12 ->
    //     dup-trigram ratio ~0.3-0.8 -> drop), moderate on doc_id % 5
    //     (20-token phrase x2 -> ratio ~0.1-0.4 -> trim unless the
    //     drop threshold fires first); natural corpus repetition tops
    //     out at ~0.07, safely under trimAbove = 0.1. The oracle
    //     replays signal, classification, within-doc islands, and the
    //     cleaned text token-by-token -------------------------------
    "q_repetition_clean" -> ((s, dir) => {
      import graft.operators.RepetitionRemoval
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 11 === 0, lit(RepDrop))
            .when(col("doc_id") % 5 === 0, lit(RepTrim))
            .otherwise(lit(""))).as("text"))
      RepetitionRemoval.clean(docs, "doc_id", "text",
          dupN = 3, dropAbove = 0.25, trimK = 10, trimAbove = 0.1)
        .select(col("doc_id"), col("dup_ratio"), col("action"),
          col("n_tokens"), col("n_dup_tokens"),
          md5(coalesce(col("clean_text"), lit("<dropped>"))).as("clean_fp"))
        .orderBy(col("doc_id"))
    }),

    // --- exact-substring dedup, removal (ALL occurrences dropped):
    //     per-document token counts plus an md5 of the cleaned text,
    //     which the oracle rebuilds token-by-token ------------------
    "q_substring_clean" -> ((s, dir) => {
      import graft.operators.SubstringDedup
      SubstringDedup
        .removeSpans(plantedDocs(s, dir), "doc_id", "text", k = 10)
        .select(
          col("doc_id"),
          col("n_tokens"),
          col("n_dup_tokens"),
          md5(col("clean_text")).as("clean_fp"))
        .orderBy(col("doc_id"))
    }),

    // --- image perceptual-hash near-dup (multimodal dedup): REAL
    //     synthesized BMPs — pattern keyed by doc_id % 40 so groups
    //     share pixel content, every 3rd doc lightly perturbed — are
    //     aHashed through the actual codec (8x8 nearest-neighbor
    //     sample, integer mean threshold) and paired with the banded
    //     hamming join. The oracle replays pixels, sampling, bits,
    //     and the BRUTE-FORCE pair definition the banding must equal -
    "q_image_neardup" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      import graft.functions.Similarity
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, synthBmp(id))))
        .toDF("media_id", "content")
      val hashes = Multimodal.aHashBmp(media).toDF()
        .withColumn("block", lit("all"))
      // collapsed shape: bit-identical groups -> star edges (hamming
      // 0), banding over distinct-hash representatives — linear output
      // on a hash-dominated corpus; the oracle replays exactly this
      Similarity.hammingPairs64(hashes, "media_id", "ahash", "block",
          maxHamming = 6, collapseIdentical = true)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // --- audio fingerprint near-dup (multimodal dedup, audio leg):
    //     REAL synthesized audio (pattern keyed by doc_id % 30, every
    //     4th doc head-perturbed) fingerprinted through the actual
    //     codecs (65-window energy deltas, exact integers) and paired
    //     with the banded hamming join. Containers/depths vary by
    //     doc_id % 5: 2 ships the SAME samples as a 16-bit FLAC, 3 as
    //     a 24-bit FLAC (base<<8 — the archival depth; norm16 cancels
    //     the shift EXACTLY so it collapses with its 16-bit twins), 4
    //     as an 8-bit legacy WAV (base>>8 — norm16 yields the floor-
    //     quantized samples the oracle replays). Oracle replays
    //     samples (incl. quantization) → energies → bits → the
    //     brute-force pair definition -------------------------------
    "q_audio_neardup" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.{FlacAudio, Multimodal}
      import graft.functions.Similarity
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val wav = synthWav(id)
          // the base PCM lives in the canonical 44-byte-header WAV's
          // data chunk; depth variants re-container the SAME recording
          lazy val pcm = Array.tabulate((wav.length - 44) / 2) { i =>
            ((wav(44 + 2 * i) & 0xff) | (wav(45 + 2 * i) << 8)).toShort.toInt
          }
          (id % 5) match {
            case 2 => (id, FlacAudio.encode(8000, 1, 16, pcm, blockSize = 64))
            case 3 => (id, FlacAudio.encode(8000, 1, 24,
              pcm.map(_ << 8), blockSize = 64))
            case 4 => (id, Multimodal.WavCodec.synthesizeDepth(8000, 1, 8,
              pcm.map(_ >> 8)))
            case _ => (id, wav)
          }
        })
        .toDF("media_id", "content")
      val hashes = Multimodal.fingerprintAudio(media).toDF()
        .withColumn("block", lit("all"))
      Similarity.hammingPairs64(hashes, "media_id", "ahash", "block",
          maxHamming = 8, collapseIdentical = true)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // --- multimodal dedup RESOLUTION: the image aHash pairs (strict
    //     hamming <= 2) feed the SAME distributed component resolver
    //     used for text/embedding near-dups; every medium reduces to
    //     (id, rep) with rep = component minimum, singletons resolve
    //     to themselves. Oracle = true transitive closure (recursive
    //     CTE) over the brute-force pair definition ------------------
    "q_media_dedup_resolve" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.{Dedup, Multimodal}
      import graft.functions.Similarity
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, synthBmp(id))))
        .toDF("media_id", "content")
      val hashes = Multimodal.aHashBmp(media).toDF()
        .withColumn("block", lit("all"))
      // component-preserving edges (stars for identical hashes), NOT
      // the full pair list — the oracle's transitive closure over the
      // brute-force pairs proves the components come out the same
      val edges = Similarity.hammingEdges64(hashes, "media_id", "ahash",
        "block", maxHamming = 2)
      val clusters = Dedup.clusterPairs(edges)
      media.select(col("media_id"))
        .join(clusters.withColumnRenamed("id", "media_id"),
          Seq("media_id"), "left")
        .select(col("media_id"),
          coalesce(col("rep"), col("media_id")).as("rep"))
        .orderBy(col("media_id"))
    }),

    // --- task-failure listener (the reference's troubleshooter
    //     log-appender seam, Spark-native): per nation, every 2nd job
    //     REALLY fails on executors (all partitions throw a coded
    //     error); the listener classifies ExceptionFailure end reasons
    //     into issues — many failing tasks, same site, ONE issue.
    //     Oracle restates the classification from the nation table ---
    "q_task_issues" -> ((s, dir) => {
      import graft.runner.Troubleshooter
      import graft.runner.Troubleshooter._
      import s.implicits._
      val repo = new MultiContextIssueRepository()
      val nations = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
        .collect().map(r => (r.get(0).toString.toLong, r.getString(1)))
        .sortBy(_._1)
      // ONE listener for the whole run; each nation's jobs are tagged
      // with its context via the job group, so a straggler task-end
      // delivered during a later nation's turn still files under the
      // stage's owning context (per-nation attach/remove was racy).
      val listener = new JobGroupIssueListener(repo)
      s.sparkContext.addSparkListener(listener)
      // the planted failures below log an ERROR stack + "aborting job"
      // per even nation; silence them for the gate's duration so a REAL
      // failure elsewhere in a bench run stands out in the log tail
      val priorLevel = org.apache.logging.log4j.LogManager.getRootLogger
        .getLevel.toString
      s.sparkContext.setLogLevel("FATAL")
      try {
        nations.foreach { case (k, name) =>
          val ctx = contextIdForJob("gate", name, "2", "task")
          s.sparkContext.setJobGroup(ctx, s"task-issues $name",
            interruptOnCancel = false)
          try {
            if (k % 2 == 0) {
              try s.range(0, 4, 1, numPartitions = 2).as[Long].mapPartitions { it =>
                throw new CodedException("GRAFT_TASK_BOOM", "planted failure")
                it
              }.count()
              catch { case _: org.apache.spark.SparkException => () }
              // listener bus is async: wait for THIS context's issue
              val deadline = System.currentTimeMillis() + 15000
              while (repo.getAll(ctx).isEmpty &&
                System.currentTimeMillis() < deadline) Thread.sleep(20)
            } else {
              s.range(0, 4, 1, numPartitions = 2).count() // healthy job
            }
          } finally s.sparkContext.clearJobGroup()
        }
      } finally {
        s.sparkContext.setLogLevel(priorLevel)
        s.sparkContext.removeSparkListener(listener)
      }
      Troubleshooter.toDf(s, repo)
        .select(col("context"), col("ord"), col("code"), col("severity"),
          col("exception_class"))
        .orderBy(col("context"))
    }),

    // --- incremental exact-substring dedup (the ongoing-ingest face):
    //     batch 1 = even docs builds the gram-fingerprint ledger;
    //     batch 2 = odd docs dedups against itself AND the ledger —
    //     a boilerplate seen only once in batch 2 is still caught
    //     because batch 1 recorded it. Oracle replays both batches'
    //     grams and the two duplication sources -------------------
    "q_substring_incremental" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.SubstringDedup
      val docs = plantedDocs(s, dir)
      val b1 = docs.filter(col("doc_id") % 2 === 0)
      val b2 = docs.filter(col("doc_id") % 2 === 1)
      val (_, ledger) = SubstringDedup.duplicatedSpansIncremental(
        b1, "doc_id", "text", k = 10, Seq.empty[String].toDF("fp"))
      val (spans, _) = SubstringDedup.duplicatedSpansIncremental(
        b2, "doc_id", "text", k = 10, ledger)
      spans.orderBy(col("doc_id"), col("span_start"))
    }),

    // --- FLAGSHIP multimodal dedup pipeline: a mixed binary corpus
    //     (even docs carry BMPs, odd docs WAVs — both via the planted
    //     group formulas of the leg gates) goes through REAL magic-
    //     byte dispatch (sniffModality), the per-modality perceptual
    //     hash (aHash / energy-delta fingerprint), ONE banded hamming
    //     join blocked by modality, and the shared component
    //     resolver. Output = per-modality dedup accounting. Oracle
    //     replays both codecs' bits, brute-force pairs, and the true
    //     transitive closure --------------------------------------
    "q_multimodal_dedup_pipeline" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.{Dedup, Multimodal}
      import graft.functions.Similarity
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id =>
          (id, if (id % 2 == 0) synthBmp(id) else synthWav(id))))
        .toDF("media_id", "content")
      // REAL dispatch: modality comes from the bytes, not the id
      val dispatched = media.as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, c) =>
          (id, c, Multimodal.sniffModality(c))
        }).toDF("media_id", "content", "modality")
      val hashes = Multimodal
        .aHashBmp(dispatched.filter(col("modality") === "image/bmp"))
        .toDF().withColumn("block", lit("image/bmp"))
        .union(Multimodal
          .fingerprintWav(dispatched.filter(col("modality") === "audio/wav"))
          .toDF().withColumn("block", lit("audio/wav")))
      val edges = Similarity.hammingEdges64(hashes, "media_id", "ahash",
        "block", maxHamming = 2)
      val clusters = Dedup.clusterPairs(edges)
      dispatched.select(col("media_id"), col("modality"))
        .join(clusters.withColumnRenamed("id", "media_id"),
          Seq("media_id"), "left")
        .groupBy(col("modality"))
        .agg(
          count(lit(1)).as("n_media"),
          count(col("rep")).as("n_clustered"),
          countDistinct(col("rep")).as("n_components"),
          (count(lit(1)) - count(col("rep")) + countDistinct(col("rep")))
            .as("n_survivors"))
        .orderBy(col("modality"))
    }),

    // --- DSIR hashed n-gram importance (Xie et al. 2023, exact-
    //     integer variant — functions/Importance.scala): weights fit
    //     on target = clean en docs vs raw = garble-planted corpus;
    //     every raw doc scored by its exact integer bucket-weight sum.
    //     Garbled docs' grams are raw-heavy and target-absent, so
    //     their scores sink. Oracle replays FNV bigram hashes,
    //     smoothed integer weights, and the sums bit-for-bit --------
    "q_importance_weights" -> ((s, dir) => {
      import graft.functions.Importance
      val docs = t(s, dir, "documents")
      val raw = docs.select(col("doc_id"), col("lang"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(OperatorGates6.Garble)))
          .otherwise(col("text")).as("text"))
      val target = docs.filter(col("lang") === "en")
      val w = Importance.bucketWeights(
        target, "text", raw, "text", n = 2, nBuckets = 4096)
      Importance.score(raw, "doc_id", "text", w, n = 2, nBuckets = 4096)
        .orderBy(col("doc_id"))
    }),

    // --- guaranteed heavy hitters (Misra-Gries candidates + exact
    //     confirm — operators/HeavyHitters.scala): every word holding
    //     > 1/35 of all token occurrences, with its exact count. The
    //     sketch bounds pass-1 state at k counters per partition and
    //     the confirm pass shuffles only candidate rows; the output
    //     is exact, so the oracle is a plain GROUP BY ... HAVING ----
    "q_heavy_hitters" -> ((s, dir) => {
      import graft.operators.HeavyHitters
      import graft.functions.Text
      val words = t(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("word"))
      HeavyHitters.heavyHitters(words, col("word"), k = 35)
        .withColumnRenamed("key", "word")
        .orderBy(col("word"))
    }),

    // --- DSIR SELECTION (the step after scoring — Xie et al. 2023):
    //     keep the top-k docs per language by exact-integer importance
    //     score, ties by ascending doc_id. One domain-keyed window;
    //     the constant rank bound rides WindowGroupLimit so a skewed
    //     domain never sorts in full. Oracle replays score + the
    //     row_number selection ----------------------------------------
    "q_importance_select" -> ((s, dir) => {
      import graft.functions.Importance
      val docs = t(s, dir, "documents")
      val raw = docs.select(col("doc_id"), col("lang"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(OperatorGates6.Garble)))
          .otherwise(col("text")).as("text"))
      val target = docs.filter(col("lang") === "en")
      val w = Importance.bucketWeights(
        target, "text", raw, "text", n = 2, nBuckets = 4096)
      val scored = Importance
        .score(raw, "doc_id", "text", w, n = 2, nBuckets = 4096)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      Importance.selectTopK(scored, "doc_id", "lang", "score", k = 40)
        .select(col("doc_id"), col("lang"), col("n_grams"), col("score"))
        .orderBy(col("lang"), col("doc_id"))
    }),

    // --- Kafka-shaped envelope ingestion END-TO-END (the composed
    //     KafkaStreamingExtractor chain, ref gobblin-modules/
    //     gobblin-kafka-common/.../KafkaStreamingExtractor.java:87-392
    //     + FlushingExtractor.java:79-151): a simulated topic
    //     directory carries Confluent-wire envelopes under TWO schema
    //     ids (v2 adds a column — additive evolution), a file stream
    //     consumes it one file per micro-batch (each batch = one
    //     flush/ack boundary), payloads decode against the registry,
    //     conform to the evolved schema, land in the sink; a SECOND
    //     run on the same checkpoint replays nothing (offset-commit
    //     semantics). Oracle replays the whole chain from events ----
    "q_kafka_envelope_e2e" -> ((s, dir) => {
      import graft.streaming.{Envelope, StreamingIngest}
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val tmp = tmpDir("graft_kenv")
      val ev = t(s, dir, "events").select(col("event_id"), col("event_type"),
        floor(col("value") * 1000).cast("long").as("v_milli"))
      // topic simulation: even event_ids arrive first as v1 payloads,
      // odd ones later as v2 (+src) — offsets are the event ids
      ev.filter(col("event_id") % 2 === 0)
        .select(col("event_id").as("offset"),
          Envelope.encode(1, to_json(struct(col("event_id"),
            col("event_type"), col("v_milli")))).as("envelope"))
        .coalesce(1).write.mode("append").parquet(s"$tmp/topic")
      ev.filter(col("event_id") % 2 =!= 0)
        .select(col("event_id").as("offset"),
          Envelope.encode(2, to_json(struct(col("event_id"),
            col("event_type"), col("v_milli"),
            lit("kafka2").as("src")))).as("envelope"))
        .coalesce(1).write.mode("append").parquet(s"$tmp/topic")
      val topicSchema = s.read.parquet(s"$tmp/topic").schema
      val v1 = StructType(Seq(StructField("event_id", LongType),
        StructField("event_type", StringType), StructField("v_milli", LongType)))
      val v2 = StructType(v1.fields :+ StructField("src", StringType))
      def conformedStream = {
        val stream = StreamingIngest.readFileStream(s, topicSchema,
          s"$tmp/topic", maxFilesPerTrigger = Some(1))
        Envelope.decode(stream, "envelope", Map(1 -> v1, 2 -> v2))
          .select(col("offset"), col("schema_id"),
            coalesce(col("decoded_1.event_id"), col("decoded_2.event_id")).as("event_id"),
            coalesce(col("decoded_1.event_type"), col("decoded_2.event_type")).as("event_type"),
            coalesce(col("decoded_1.v_milli"), col("decoded_2.v_milli")).as("v_milli"),
            col("decoded_2.src").as("src")) // additive: null before v2
      }
      StreamingIngest.runAvailableNow(conformedStream, s"$tmp/out", s"$tmp/ck")
      val afterFirst = s.read.parquet(s"$tmp/out").count()
      // same checkpoint: the commit log holds the consumed offsets —
      // the rerun must process zero new data
      StreamingIngest.runAvailableNow(conformedStream, s"$tmp/out", s"$tmp/ck")
      val afterSecond = s.read.parquet(s"$tmp/out").count()
      require(afterFirst == afterSecond,
        s"checkpoint replay duplicated rows: $afterFirst -> $afterSecond")
      s.read.parquet(s"$tmp/out")
        .groupBy(col("schema_id"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("v_milli")).as("sum_v_milli"),
          sum(when(col("src").isNull, 1L).otherwise(0L)).as("n_legacy"),
          max(col("offset")).as("max_offset"))
        .orderBy(col("schema_id"), col("event_type"))
    }),

    // --- copy-time schema parity guard (ref gobblin-data-management
    //     AvroSchemaCheckDefaultStrategy.java:34-105,
    //     SchemaCheckedCopySource): per event type, a REAL dataset dir
    //     gets one conforming file and one variant file (click/error:
    //     renamed column; signup: int-narrowed column; rest: both
    //     conforming); footer schemas are checked executor-side
    //     against the expected StructType. Oracle restates the
    //     verdict matrix -----------------------------------------
    "q_schema_parity" -> ((s, dir) => {
      import graft.quality.SchemaCheck
      val tmp = tmpDir("graft_schemacheck")
      val events = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val types = events.select(col("event_type")).distinct()
        .collect().map(_.getString(0)).sorted
      val expected = events.schema
      // per-type units are independent (separate dirs) — overlap the
      // write jobs from a thread pool so each job's task tail
      // back-fills the cores instead of serializing 2x|types| jobs;
      // within a type the two appends to one dir stay sequential
      // (concurrent appends to one path race on _temporary)
      val rows = parallelByKey(s, types.toSeq) { tp =>
        val d = s"$tmp/$tp"
        val part = events.filter(col("event_type") === tp)
        part.coalesce(1).write.mode("append").parquet(d)
        val variant = tp match {
          case "click" | "error" => part.withColumnRenamed("value", "amount")
          case "signup" => part.withColumn("event_id",
            col("event_id").cast("int"))
          case _ => part
        }
        variant.coalesce(1).write.mode("append").parquet(d)
        val checks = SchemaCheck.checkParquetTree(s, d, expected)
        (tp, checks.size.toLong, checks.count(_.ok).toLong)
      }
      import s.implicits._
      rows.toDF("event_type", "n_files", "n_ok")
        .orderBy(col("event_type"))
    }),

    // --- dataset metadata envelope (ref gobblin-modules/
    //     gobblin-metadata: GlobalMetadata.java, Collector, JsonMerger):
    //     per event type, a REAL two-file parquet write, per-file
    //     record counts recovered from footers executor-side, folded
    //     through the collector (defaults merge + by-id dedup) and the
    //     json merger into Num-Records/Num-Files totals. The oracle
    //     recomputes every total from the events table ---------------
    "q_global_metadata" -> ((s, dir) => {
      import graft.sink.DatasetMetadata
      import graft.sink.DatasetMetadata._
      val tmp = tmpDir("graft_meta")
      val events = t(s, dir, "events")
      // event types are a bounded enum (5 values): driver metadata
      val types = events.select(col("event_type")).distinct()
        .collect().map(_.getString(0)).sorted
      val defaults = empty.withDatasetList(TransferEncodingKey, Seq("gzip"))
      // same per-type independence as q_schema_parity: overlap the
      // 2x|types| tiny write jobs (jobs stay identical, just concurrent)
      val rows = parallelByKey(s, types.toSeq) { tp =>
        val d = s"$tmp/$tp"
        val part = events.filter(col("event_type") === tp)
        // two deterministic halves -> two files in one dataset dir
        Seq(0, 1).foreach { half =>
          part.filter(pmod(col("event_id"), lit(2)) === half)
            .coalesce(1).write.mode("append").parquet(d)
        }
        val metrics = DatasetMetadata.parquetFileMetrics(s, d)
        val own = {
          val base = empty
            .withDataset(DatasetUrnKey, s"urn:events:$tp")
            .withDataset(ContentTypeKey, "application/x-parquet")
          if (tp == "click" || tp == "error")
            base.withDatasetList(TransferEncodingKey, Seq("aes_rotating"))
          else base
        }
        val collector = new Collector(default = Some(defaults))
        // upstream re-sends the same metadata; only one admission
        val admissions = Seq(collector.process(Some(own)),
          collector.process(Some(own))).flatten
        val merger = new JsonMerger
        admissions.foreach(m => merger.update(m.toJson))
        merger.updateFiles(metrics)
        val m = merger.mergedMeta
        (tp, m.numFiles.toLong, m.numRecords,
          metrics.map(_._2).sorted.mkString(","),
          m.transferEncoding.getOrElse(Nil).mkString(","),
          admissions.size.toLong)
      }
      import s.implicits._
      rows.toDF("event_type", "num_files", "num_records",
        "file_counts", "transfer_encoding", "n_admitted")
        .orderBy(col("event_type"))
    }))

  def oracleSql7: Map[String, String] = Map(

    // collapsed-shape replay: star edges within identical-bit groups
    // (group min as hub, hamming 0) + the brute-force pair definition
    // restricted to the distinct-hash representatives
    "q_image_neardup" ->
      s"""WITH ${imageBitsCtes()},
         |hh AS (SELECT doc_id, array_to_string(bits, '') AS hs FROM bits),
         |hrep AS (SELECT hs, min(doc_id) AS rep FROM hh GROUP BY hs),
         |stars AS (
         |  SELECT r.rep AS id_a, g.doc_id AS id_b, CAST(0 AS BIGINT) AS hamming
         |  FROM hh g JOIN hrep r USING (hs) WHERE g.doc_id <> r.rep),
         |reppairs AS (
         |  SELECT p.id_a, p.id_b, CAST(p.hamming AS BIGINT) AS hamming
         |  FROM allpairs p
         |  WHERE p.hamming BETWEEN 1 AND 6
         |    AND p.id_a IN (SELECT rep FROM hrep)
         |    AND p.id_b IN (SELECT rep FROM hrep))
         |SELECT id_a, id_b, hamming FROM (
         |  SELECT * FROM stars UNION ALL SELECT * FROM reppairs) u
         |ORDER BY id_a, id_b""".stripMargin,

    "q_media_dedup_resolve" ->
      s"""WITH RECURSIVE ${imageBitsCtes()},
         |edges AS (
         |  SELECT id_a AS ea, id_b AS eb FROM allpairs WHERE hamming <= 2),
         |sym AS (
         |  SELECT ea AS va, eb AS vb FROM edges
         |  UNION SELECT eb, ea FROM edges),
         |reach(va, vb) AS (
         |  SELECT va, vb FROM sym
         |  UNION
         |  SELECT r.va, s.vb FROM reach r JOIN sym s ON r.vb = s.va),
         |rep AS (
         |  SELECT va AS id, least(min(vb), va) AS rep
         |  FROM reach GROUP BY va)
         |SELECT dd.doc_id AS media_id, coalesce(r.rep, dd.doc_id) AS rep
         |FROM documents dd LEFT JOIN rep r ON r.id = dd.doc_id
         |ORDER BY media_id""".stripMargin,

    "q_audio_neardup" ->
      s"""WITH ${audioDepthBitsCtes()},
         |ahh AS (SELECT doc_id, array_to_string(bits, '') AS hs FROM abits),
         |ahrep AS (SELECT hs, min(doc_id) AS rep FROM ahh GROUP BY hs),
         |astars AS (
         |  SELECT r.rep AS id_a, g.doc_id AS id_b, CAST(0 AS BIGINT) AS hamming
         |  FROM ahh g JOIN ahrep r USING (hs) WHERE g.doc_id <> r.rep),
         |areppairs AS (
         |  SELECT p.id_a, p.id_b, CAST(p.hamming AS BIGINT) AS hamming
         |  FROM apairs p
         |  WHERE p.hamming BETWEEN 1 AND 8
         |    AND p.id_a IN (SELECT rep FROM ahrep)
         |    AND p.id_b IN (SELECT rep FROM ahrep))
         |SELECT id_a, id_b, hamming FROM (
         |  SELECT * FROM astars UNION ALL SELECT * FROM areppairs) u
         |ORDER BY id_a, id_b""".stripMargin,

    "q_task_issues" ->
      """WITH n AS (SELECT n_nationkey AS k, n_name AS name FROM nation)
        |SELECT 'gate:' || name || ':2:task' AS context,
        |  CAST(0 AS BIGINT) AS ord,
        |  'GRAFT_TASK_BOOM' AS code, 'ERROR' AS severity,
        |  'graft.runner.Troubleshooter$CodedException' AS exception_class
        |FROM n WHERE k % 2 = 0 ORDER BY context""".stripMargin,

    "q_substring_incremental" ->
      s"""WITH $plantedSql,
         |tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM aug),
         |g AS (
         |  SELECT doc_id, unnest(generate_series(0, len(toks) - 10)) AS i, toks
         |  FROM tk WHERE len(toks) >= 10),
         |fpt AS (
         |  SELECT doc_id, i, md5(array_to_string(toks[i + 1:i + 10], ' ')) AS fp
         |  FROM g),
         |b2 AS (SELECT * FROM fpt WHERE doc_id % 2 = 1),
         |led AS (SELECT DISTINCT fp FROM fpt WHERE doc_id % 2 = 0),
         |b2d AS (SELECT fp FROM b2 GROUP BY fp HAVING count(*) > 1),
         |dup AS (
         |  SELECT DISTINCT doc_id, i FROM b2
         |  WHERE fp IN (SELECT fp FROM b2d) OR fp IN (SELECT fp FROM led)),
         |isl AS (
         |  SELECT doc_id, i, CASE WHEN i > coalesce(max(i + 9) OVER (
         |      PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
         |    THEN 1 ELSE 0 END AS starts
         |  FROM dup),
         |grp AS (
         |  SELECT doc_id, i, sum(starts) OVER (
         |    PARTITION BY doc_id ORDER BY i) AS grp FROM isl)
         |SELECT doc_id, min(i) AS span_start, max(i) + 9 AS span_end,
         |  max(i) + 9 - min(i) + 1 AS span_len
         |FROM grp GROUP BY doc_id, grp
         |ORDER BY doc_id, span_start""".stripMargin,

    "q_multimodal_dedup_pipeline" ->
      s"""WITH RECURSIVE ${imageBitsCtes(" WHERE doc_id % 2 = 0")},
         |${audioBitsCtes(" WHERE doc_id % 2 = 1")},
         |edges AS (
         |  SELECT id_a AS ea, id_b AS eb FROM allpairs WHERE hamming <= 2
         |  UNION ALL
         |  SELECT id_a, id_b FROM apairs WHERE hamming <= 2),
         |sym AS (
         |  SELECT ea AS va, eb AS vb FROM edges
         |  UNION SELECT eb, ea FROM edges),
         |reach(va, vb) AS (
         |  SELECT va, vb FROM sym
         |  UNION
         |  SELECT r.va, s.vb FROM reach r JOIN sym s ON r.vb = s.va),
         |rep AS (
         |  SELECT va AS id, least(min(vb), va) AS rep FROM reach GROUP BY va),
         |acc AS (
         |  SELECT 'image/bmp' AS modality, b.doc_id, r.rep
         |  FROM bits b LEFT JOIN rep r ON r.id = b.doc_id
         |  UNION ALL
         |  SELECT 'audio/wav', a.doc_id, r.rep
         |  FROM abits a LEFT JOIN rep r ON r.id = a.doc_id)
         |SELECT modality,
         |  count(*) AS n_media,
         |  count(rep) AS n_clustered,
         |  count(DISTINCT rep) AS n_components,
         |  count(*) - count(rep) + count(DISTINCT rep) AS n_survivors
         |FROM acc GROUP BY modality ORDER BY modality""".stripMargin,

    "q_importance_weights" -> OracleSql.importanceWeights(
      s"text || CASE WHEN doc_id % 7 = 0 THEN '${OperatorGates6.Garble}' " +
        "ELSE '' END",
      buckets = 4096),

    "q_heavy_hitters" ->
      """WITH w AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> len(x) > 0))
        |    AS word
        |  FROM documents),
        |tot AS (SELECT count(*) AS n FROM w)
        |SELECT word, count(*) AS cnt FROM w, tot
        |GROUP BY word, n HAVING count(*) * 35 > n
        |ORDER BY word""".stripMargin,

    "q_importance_select" -> OracleSql.importanceSelect(
      s"text || CASE WHEN doc_id % 7 = 0 THEN '${OperatorGates6.Garble}' " +
        "ELSE '' END",
      buckets = 4096, k = 40),

    "q_kafka_envelope_e2e" ->
      """SELECT CAST(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 2 END AS INTEGER)
        |    AS schema_id,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
        |    AS sum_v_milli,
        |  CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_legacy,
        |  max(event_id) AS max_offset
        |FROM events GROUP BY 1, 2 ORDER BY schema_id, event_type""".stripMargin,

    "q_schema_parity" ->
      """SELECT event_type, CAST(2 AS BIGINT) AS n_files,
        |  CASE WHEN event_type IN ('click', 'error', 'signup')
        |       THEN CAST(1 AS BIGINT) ELSE CAST(2 AS BIGINT) END AS n_ok
        |FROM (SELECT DISTINCT event_type FROM events)
        |ORDER BY event_type""".stripMargin,

    "q_global_metadata" ->
      """WITH c AS (
        |  SELECT event_type, count(*) AS n,
        |    sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS n0
        |  FROM events GROUP BY event_type)
        |SELECT event_type,
        |  CAST(2 AS BIGINT) AS num_files,
        |  n AS num_records,
        |  CAST(least(n0, n - n0) AS VARCHAR) || ',' ||
        |    CAST(greatest(n0, n - n0) AS VARCHAR) AS file_counts,
        |  CASE WHEN event_type IN ('click', 'error')
        |       THEN 'aes_rotating,gzip' ELSE 'gzip' END AS transfer_encoding,
        |  CAST(1 AS BIGINT) AS n_admitted
        |FROM c ORDER BY event_type""".stripMargin,

    "q_issues" ->
      """WITH n AS (SELECT n_nationkey AS k, n_name AS name FROM nation),
        |err AS (
        |  SELECT 'gate:' || name || ':1:ingest' AS context,
        |    CAST(0 AS BIGINT) AS ord,
        |    'GRAFT_SOURCE_MISSING' AS code, 'ERROR' AS severity,
        |    'CodedException: no input for ' || name || ' | ingest run'
        |      AS summary,
        |    'graft.sources.FileSources' AS source_class
        |  FROM n WHERE k % 3 = 0),
        |w AS (
        |  SELECT 'gate:' || name || ':1:ingest', CAST(0 AS BIGINT),
        |    'GRAFT_SLOW_TASK', 'WARN', 'slow tasks on ' || name,
        |    'graft.runner.JobRunner'
        |  FROM n WHERE k % 3 = 1),
        |i AS (
        |  SELECT 'gate:' || name || ':1:ingest', CAST(1 AS BIGINT),
        |    'METRICS_EMIT', 'INFO', 'metrics emitted for ' || name,
        |    'graft.metrics.GraftListener'
        |  FROM n WHERE k % 3 = 1)
        |SELECT * FROM err UNION ALL SELECT * FROM w UNION ALL SELECT * FROM i
        |ORDER BY context, ord""".stripMargin,

    "q_substring_spans" ->
      s"""WITH $spanCtes
         |SELECT doc_id, min(i) AS span_start, max(i) + 9 AS span_end,
         |  max(i) + 9 - min(i) + 1 AS span_len
         |FROM grp GROUP BY doc_id, grp
         |ORDER BY doc_id, span_start""".stripMargin,

    // replay of RepetitionRemoval.clean: dup-trigram signal over
    // FILTERED tokens, classification, within-doc (doc, fp) islands at
    // k=10 over RAW split tokens, and span-removal reconstruction
    "q_repetition_clean" ->
      s"""WITH raug AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 11 = 0 THEN '$RepDrop'
         |         WHEN doc_id % 5 = 0 THEN '$RepTrim'
         |         ELSE '' END AS text
         |  FROM documents),
         |rtok AS (
         |  SELECT doc_id, text,
         |    list_filter(string_split(text, ' '), x -> len(x) > 0) AS ft,
         |    string_split(text, ' ') AS rt
         |  FROM raug),
         |rsig AS (
         |  SELECT doc_id, text, rt,
         |    CASE WHEN len(ft) >= 3 THEN
         |      CAST(len(ft) - 2 - len(list_distinct(list_transform(
         |        range(1, len(ft) - 1),
         |        i -> array_to_string(ft[i:i+2], ' ')))) AS DOUBLE) / (len(ft) - 2)
         |      ELSE 0.0 END AS dup_ratio
         |  FROM rtok),
         |ract AS (
         |  SELECT *, CASE WHEN dup_ratio > 0.25 THEN 'drop'
         |                 WHEN dup_ratio > 0.1 THEN 'trim'
         |                 ELSE 'keep' END AS action
         |  FROM rsig),
         |rg AS (
         |  SELECT doc_id, rt AS toks,
         |    unnest(generate_series(0, len(rt) - 10)) AS i
         |  FROM ract WHERE action = 'trim' AND len(rt) >= 10),
         |rfp AS (
         |  SELECT doc_id, i, md5(array_to_string(toks[i + 1:i + 10], ' ')) AS fp
         |  FROM rg),
         |rdup AS (
         |  SELECT doc_id, i FROM (
         |    SELECT doc_id, i, count(*) OVER (PARTITION BY doc_id, fp) AS cnt
         |    FROM rfp)
         |  WHERE cnt > 1),
         |risl AS (
         |  SELECT doc_id, i, CASE WHEN i > coalesce(max(i + 9) OVER (
         |      PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
         |    THEN 1 ELSE 0 END AS starts
         |  FROM rdup),
         |rgrp AS (
         |  SELECT doc_id, i, sum(starts) OVER (
         |    PARTITION BY doc_id ORDER BY i) AS grp FROM risl),
         |rspans AS (
         |  SELECT doc_id, min(i) AS s, max(i) + 9 AS e
         |  FROM rgrp GROUP BY doc_id, grp),
         |rpos AS (
         |  SELECT doc_id, unnest(generate_series(0, len(rt) - 1)) AS p, rt AS toks
         |  FROM ract WHERE action = 'trim'),
         |rkeep AS (
         |  SELECT rpos.doc_id, rpos.p, rpos.toks[rpos.p + 1] AS tok
         |  FROM rpos LEFT JOIN rspans sp
         |    ON rpos.doc_id = sp.doc_id AND rpos.p BETWEEN sp.s AND sp.e
         |  WHERE sp.doc_id IS NULL),
         |ragg AS (
         |  SELECT doc_id, count(*) AS n_keep,
         |    md5(string_agg(tok, ' ' ORDER BY p)) AS clean_fp
         |  FROM rkeep GROUP BY doc_id)
         |SELECT a.doc_id, a.dup_ratio, a.action,
         |  CAST(len(a.rt) AS BIGINT) AS n_tokens,
         |  CAST(CASE WHEN a.action = 'keep' THEN 0
         |            WHEN a.action = 'drop' THEN len(a.rt)
         |            ELSE len(a.rt) - coalesce(g.n_keep, 0) END AS BIGINT)
         |    AS n_dup_tokens,
         |  CASE WHEN a.action = 'drop' THEN md5('<dropped>')
         |       WHEN a.action = 'keep' THEN md5(a.text)
         |       ELSE coalesce(g.clean_fp, md5('')) END AS clean_fp
         |FROM ract a LEFT JOIN ragg g USING (doc_id)
         |ORDER BY a.doc_id""".stripMargin,

    "q_substring_clean" ->
      s"""WITH $spanCtes,
         |spans AS (
         |  SELECT doc_id, min(i) AS s, max(i) + 9 AS e
         |  FROM grp GROUP BY doc_id, grp),
         |pos AS (
         |  SELECT doc_id, unnest(generate_series(0, len(toks) - 1)) AS p, toks
         |  FROM tk),
         |keep AS (
         |  SELECT pos.doc_id, pos.p, pos.toks[pos.p + 1] AS tok
         |  FROM pos LEFT JOIN spans sp
         |    ON pos.doc_id = sp.doc_id AND pos.p BETWEEN sp.s AND sp.e
         |  WHERE sp.doc_id IS NULL),
         |agg AS (
         |  SELECT doc_id, count(*) AS n_keep,
         |    md5(string_agg(tok, ' ' ORDER BY p)) AS clean_fp
         |  FROM keep GROUP BY doc_id)
         |SELECT t.doc_id,
         |  len(t.toks) AS n_tokens,
         |  len(t.toks) - coalesce(a.n_keep, 0) AS n_dup_tokens,
         |  coalesce(a.clean_fp, md5('')) AS clean_fp
         |FROM tk t LEFT JOIN agg a ON t.doc_id = a.doc_id
         |ORDER BY t.doc_id""".stripMargin)
}
