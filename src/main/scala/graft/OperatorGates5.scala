package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Converters

/** Round-4 wave 5: driver gates for the last ScalaTest-only components
  * of the SURVEY §2 inventory — the recursion eliminator, the generic
  * record-stream processor chain, instrumented metrics, and sketches —
  * plus the flow-compiler gate. Same discipline as every wave: the
  * query side executes the REAL operator machinery; the oracle replays
  * the semantics independently in DuckDB.
  */
object OperatorGates5 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  def queries5: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- recursion eliminator (ref AvroRecursionEliminatingConverter
    //     .java:42): a self-referencing record schema is rejected by
    //     the direct StructType mapping, made ingestable by
    //     eliminateRecursion + toParseStruct (recursive field REMOVED,
    //     the reference's behavior), then actually used to parse JSON
    //     payloads that DO carry the recursive subtree. sum_id proves
    //     the parser skips the dropped subtree cleanly (a desynced
    //     parse would leak reply.id = 2*doc_id into id) ----------------
    "q_recursive_schema" -> ((s, dir) => {
      import graft.functions.JsonSchema._
      val inner = Seq[(String, SType)](
        "id" -> SLong, "lang" -> SString,
        "score" -> SUnion(Seq(SNull, SLong)),
        "tags" -> SArray(SString))
      val comment = SRecord("comment",
        inner :+ ("reply" -> SRecord("comment", inner :+ ("reply" -> SNull))))
      val rejected =
        try { toSpark(comment); false }
        catch { case _: IllegalArgumentException => true }
      require(rejected, "recursive schema must be rejected before elimination")
      val schema = toParseStruct(comment)
      require(!schema.fieldNames.contains("reply"), "recursive field must be dropped")
      val js = format_string(
        """{"id": %s, "lang": "%s", "score": %s, "tags": %s, "reply": {"id": %s, "lang": "zz", "score": 1, "tags": [], "reply": null}}""",
        col("doc_id"), col("lang"),
        when(pmod(col("doc_id"), lit(5)) === 0, lit("null"))
          .otherwise(pmod(col("doc_id"), lit(7)).cast("string")),
        when(pmod(col("doc_id"), lit(2)) === 0, lit("""["a","b"]"""))
          .otherwise(lit("""["a"]""")),
        (col("doc_id") * 2).cast("string"))
      t(s, dir, "documents")
        .select(from_json(js, schema).as("p"))
        .groupBy(col("p.lang").as("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("p.id")).as("sum_id"),
          sum(col("p.score")).as("sum_score"),
          sum(size(col("p.tags")).cast("long")).as("n_tags"))
        .orderBy(col("lang"))
    }),

    // --- generic record-stream processor chain (ref
    //     RecordStreamProcessor.java, StreamModelTaskRunner.java:78):
    //     a 4-stage Converters.chain — predicate filter, 1->N record
    //     splitter, post-split filter, projection — run as ONE
    //     composed op, the way JobRunner executes converter chains ----
    "q_processor_chain" -> ((s, dir) => {
      val op = Converters.chain(
        Converters.filterWhere(col("lang").isin("en", "de")),
        Converters.splitToRecords("text", " ", "word"),
        Converters.filterWhere(length(col("word")) > 0),
        Converters.pickFields("doc_id", "lang", "word"))
      op(t(s, dir, "documents"))
        .groupBy(col("lang"), length(col("word")).as("wlen"))
        .agg(count(lit(1)).as("n"), min(col("word")).as("min_word"))
        .orderBy(col("lang"), col("wlen"))
    }),

    // --- instrumented metrics (ref gobblin-core-base instrumented
    //     decorators + JobMetrics): run a real JobRunner job and emit
    //     its OBSERVED counters as the result — rows written (from the
    //     write-riding Observation), quarantined rows, the committed
    //     high watermark, and the write's numOutputRows as seen by the
    //     QueryExecutionListener. The oracle recomputes every counter
    //     from the raw table ------------------------------------------
    "q_observed_metrics" -> ((s, dir) => {
      import graft.metrics.GraftListener
      import graft.model.JobSpec
      import graft.runner.JobRunner
      import graft.state.FsStateStore
      val tmp = tmpDir("graft_metrics")
      val listener = GraftListener.install(s)
      try {
        val rr = JobRunner.run(
          s, new FsStateStore(s"$tmp/state"), JobSpec("gate_metrics"),
          read = sess => Tables.load(sess, dir, "events")
            .select(col("event_id"), col("event_type"), col("value")),
          watermarkCol = "event_id",
          ops = Seq.empty,
          rowPolicies = Seq(graft.quality.Quality.RowPolicy(
            "vcap", col("value") <= 150, graft.quality.Quality.ErrFile)),
          taskPolicies = Nil,
          sink = (s"$tmp/staging", s"$tmp/out", Nil),
          quarantineDir = Some(s"$tmp/quarantine"))
        require(rr.published, s"metrics job must publish: $rr")
        // listener callbacks ride the async listener bus; poll until the
        // staged write's numOutputRows shows up (bounded)
        var tries = 0
        def writeRows: Option[Long] = listener.snapshot
          .find(m => !m.failed && m.outputRows.contains(rr.rowsWritten))
          .flatMap(_.outputRows)
        while (writeRows.isEmpty && tries < 100) { Thread.sleep(100); tries += 1 }
        val lr = writeRows.getOrElse(sys.error("listener never saw the staged write"))
        import s.implicits._
        Seq(
          ("high_watermark", rr.highWatermark.getOrElse(-1L)),
          ("listener_rows_out", lr),
          ("published_runs", 1L),
          ("quarantined", rr.quarantined),
          ("rows_written", rr.rowsWritten))
          .toDF("metric", "value").orderBy(col("metric"))
      } finally s.listenerManager.unregister(listener)
    }),

    // --- multicast flow DAG (ref Dag-of-JobSpecs compilation +
    //     DagManager): one landing ingest fans out to a compacted mart
    //     AND a replicated vault; the shared ingest hop compiles to
    //     ONE job both branches depend on, and a re-execute skips all
    //     three. Result = both branch outputs, branch-tagged ----------
    "q_flow_multicast" -> ((s, dir) => {
      import graft.runner.FlowCompiler
      import graft.runner.FlowCompiler._
      import graft.state.FsStateStore
      val tmp = tmpDir("graft_fanout")
      Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
        .write.parquet(s"$tmp/landing")
      val parquetD = DatasetDescriptor(format = "parquet")
      val edges = Seq(
        FlowEdge("ingest", "landing", "warehouse", parquetD, parquetD, Map(
          "job.type" -> "ingest",
          "source.path" -> "${flow.landing}",
          "source.watermark.expr" -> "event_id",
          "state.dir" -> "${flow.work}/state",
          "sink.staging" -> "${flow.work}/wh_staging",
          "sink.output" -> "${flow.work}/wh")),
        FlowEdge("compact", "warehouse", "mart", parquetD, parquetD, Map(
          "job.type" -> "compact",
          "source.path" -> "${flow.work}/wh",
          "compact.keys" -> "event_id",
          "sink.staging" -> "${flow.work}/mart_staging",
          "sink.output" -> "${flow.work}/mart")),
        FlowEdge("archive", "warehouse", "vault", parquetD, parquetD, Map(
          "job.type" -> "copy",
          "source.path" -> "${flow.work}/wh",
          "copy.dest" -> "${flow.work}/vault")))
      val flow = FlowSpec("gate_fanout", "landing", "unused", input = parquetD,
        config = Map("landing" -> s"$tmp/landing", "work" -> tmp))
      val dag = FlowCompiler.compileMulticast(edges, flow,
          Seq("mart" -> parquetD, "vault" -> parquetD))
        .fold(e => sys.error(e), identity)
      require(dag.nodes.map(_.edge.id) == Seq("ingest", "compact", "archive") &&
        dag.nodes.count(_.edge.id == "ingest") == 1,
        s"shared prefix must compile to ONE ingest: ${dag.nodes.map(_.jobName)}")
      val store = new FsStateStore(s"$tmp/flowstate")
      val r1 = FlowCompiler.executeDag(s, store, dag)
      require(r1.map(_.action) == Seq("ran", "ran", "ran"), s"first run executes: $r1")
      val r2 = FlowCompiler.executeDag(s, store, dag)
      require(r2.map(_.action).forall(_ == "skipped"), s"rerun resumes: $r2")
      val mart = s.read.parquet(s"$tmp/mart").withColumn("branch", lit("mart"))
      val vault = s.read.parquet(s"$tmp/vault").withColumn("branch", lit("vault"))
      mart.unionByName(vault)
        .groupBy(col("branch"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 1000).cast("long")).as("sum_v_milli"))
        .orderBy(col("branch"), col("event_type"))
    }),

    // --- GaaS flow compiler (ref MultiHopFlowCompiler.java:78,
    //     BFSPathFinder.java:70, Orchestrator.java:82): a 2-hop flow
    //     (landing -> warehouse ingest -> compacted mart) compiled by
    //     descriptor-typed BFS — a 1-hop decoy edge demands avro and
    //     must lose to the compatible 2-hop path — then executed
    //     hop-by-hop with per-hop completion records; a second execute
    //     skips every hop (resume contract). Result = the mart --------
    "q_flow_compile" -> ((s, dir) => {
      import graft.runner.FlowCompiler
      import graft.runner.FlowCompiler._
      import graft.state.FsStateStore
      val tmp = tmpDir("graft_flow")
      Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
        .write.parquet(s"$tmp/landing")
      val parquetD = DatasetDescriptor(format = "parquet")
      val tableD = DatasetDescriptor(format = "table")
      val edges = Seq(
        FlowEdge("direct", "landing", "mart",
          DatasetDescriptor(format = "avro"), tableD, Map.empty),
        FlowEdge("ingest", "landing", "warehouse", parquetD, parquetD, Map(
          "job.type" -> "ingest",
          "source.path" -> "${flow.landing}",
          "source.watermark.expr" -> "event_id",
          "ops" -> "filter",
          "op.filter.predicate" -> "value <= 180",
          "state.dir" -> "${flow.work}/state",
          "sink.staging" -> "${flow.work}/wh_staging",
          "sink.output" -> "${flow.work}/wh")),
        FlowEdge("compact", "warehouse", "mart", parquetD, tableD, Map(
          "job.type" -> "compact",
          "source.path" -> "${flow.work}/wh",
          "compact.keys" -> "event_id",
          "sink.staging" -> "${flow.work}/mart_staging",
          "sink.output" -> "${flow.work}/mart")))
      val flow = FlowSpec("gate_flow", "landing", "mart",
        input = parquetD, output = tableD,
        config = Map("landing" -> s"$tmp/landing", "work" -> tmp))
      val compiled = FlowCompiler.compile(edges, flow)
        .fold(e => sys.error(e), identity)
      require(compiled.hops.map(_.id) == Seq("ingest", "compact"),
        s"BFS must pick the compatible 2-hop path, got ${compiled.hops.map(_.id)}")
      val store = new FsStateStore(s"$tmp/flowstate")
      val r1 = FlowCompiler.execute(s, store, compiled)
      require(r1.map(_.action) == Seq("ran", "ran"), s"first run executes: $r1")
      val r2 = FlowCompiler.execute(s, store, compiled)
      require(r2.map(_.action) == Seq("skipped", "skipped"), s"rerun resumes: $r2")
      s.read.parquet(s"$tmp/mart")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 1000).cast("long")).as("sum_v_milli"))
        .orderBy(col("event_type"))
    }),

    // --- persisted flow catalog (ref gobblin-runtime spec_catalog/
    //     FlowCatalog.java + spec_store/FSSpecStore.java): a FlowSpec
    //     is STORED (v1), read back, compiled, executed; a revised
    //     spec is re-stored (v2, history kept, current pointer moves)
    //     and the re-execution RESUMES — same hop identities, so the
    //     state store's completion records skip both hops. Output =
    //     catalog + orchestration audit; the oracle restates it with
    //     the one data-derived row (mart rows) from events -----------
    "q_flow_catalog" -> ((s, dir) => {
      import graft.runner.{FlowCatalog, FlowCompiler}
      import graft.runner.FlowCompiler._
      import graft.state.FsStateStore
      val tmp = tmpDir("graft_flowcat")
      Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
        .write.parquet(s"$tmp/landing")
      val parquetD = DatasetDescriptor(format = "parquet")
      val tableD = DatasetDescriptor(format = "table")
      val edges = Seq(
        FlowEdge("ingest", "landing", "warehouse", parquetD, parquetD, Map(
          "job.type" -> "ingest",
          "source.path" -> "${flow.landing}",
          "source.watermark.expr" -> "event_id",
          "ops" -> "filter",
          "op.filter.predicate" -> "value <= ${flow.maxval}",
          "state.dir" -> "${flow.work}/state",
          "sink.staging" -> "${flow.work}/wh_staging",
          "sink.output" -> "${flow.work}/wh")),
        FlowEdge("compact", "warehouse", "mart", parquetD, tableD, Map(
          "job.type" -> "compact",
          "source.path" -> "${flow.work}/wh",
          "compact.keys" -> "event_id",
          "sink.staging" -> "${flow.work}/mart_staging",
          "sink.output" -> "${flow.work}/mart")))
      val catalog = new FlowCatalog(s"$tmp/catalog")
      val v1Spec = FlowSpec("cat_flow", "landing", "mart",
        input = parquetD, output = tableD,
        config = Map("landing" -> s"$tmp/landing", "work" -> tmp,
          "maxval" -> "180"))
      val v1 = catalog.put(v1Spec)
      val stored = catalog.get("cat_flow").getOrElse(sys.error("flow missing"))
      require(stored == v1Spec, s"catalog roundtrip drifted: $stored")
      val store = new FsStateStore(s"$tmp/flowstate")
      val c1 = FlowCompiler.compile(edges, stored).fold(e => sys.error(e), identity)
      val r1 = FlowCompiler.execute(s, store, c1)
      // revision: tighter threshold stored as v2 — history keeps v1,
      // the current pointer moves, and hop identity is unchanged so
      // the resume contract skips the already-done hops
      val v2 = catalog.put(v1Spec.copy(
        config = v1Spec.config.updated("maxval", "120")))
      val c2 = FlowCompiler.compile(edges,
        catalog.get("cat_flow").get).fold(e => sys.error(e), identity)
      val r2 = FlowCompiler.execute(s, store, c2)
      val martRows = s.read.parquet(s"$tmp/mart").count()
      import s.implicits._
      Seq(
        ("catalog_flows", catalog.list().size.toString),
        ("catalog_versions", catalog.versions("cat_flow").mkString(",")),
        ("current_version", catalog.currentVersion("cat_flow").getOrElse("")),
        ("mart_rows", martRows.toString),
        ("run1_actions", r1.map(_.action).mkString(",")),
        ("run2_actions", r2.map(_.action).mkString(",")),
        ("stored_versions", s"$v1,$v2"),
        ("v1_readable", catalog.get("cat_flow", "v1")
          .contains(v1Spec).toString))
        .toDF("metric", "value").orderBy(col("metric"))
    }),

    // --- Gopher-style repetition quality signals: mean word length,
    //     duplicate-trigram ratio, symbol-to-word ratio, and the
    //     top-bigram character-coverage fraction (TermStats
    //     .topNgramPerDoc — explode + (doc, gram) hash agg + per-doc
    //     window, never a per-row quadratic scan). Symbols are planted
    //     on doc_id % 7 so the signal actually fires ------------------
    "q_repetition_signals" -> ((s, dir) => {
      import graft.functions.{TermStats, Text}
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(7)) === 0, lit(" ## fin ... fin ##"))
            .otherwise(lit(""))).as("text2"))
      val base = docs.select(col("doc_id"),
        Text.meanTokenLen(col("text2")).as("mean_word_len"),
        Text.dupNgramRatio(col("text2"), 3).as("dup_tri_ratio"),
        Text.symbolWordRatio(col("text2")).as("sym_ratio"))
      val top = TermStats.topNgramPerDoc(docs, "doc_id", "text2", 2)
        .withColumnRenamed("id", "doc_id")
      base.join(top, Seq("doc_id")).orderBy(col("doc_id"))
    }),

    // --- whole-schema flatten (Converters.flattenAll — the reference's
    //     AvroFlattener): a doubly-nested payload built from events
    //     columns flattens to dotted-path columns in one projection --
    "q_flatten_all" -> ((s, dir) => {
      val nested = t(s, dir, "events").select(col("event_id"),
        struct(col("user_id").as("uid"),
          struct(col("event_type").as("etype"),
            floor(col("value") * 1000).cast("long").as("v_milli")).as("inner"))
          .as("payload"))
      Converters.flattenAll()(nested).orderBy(col("event_id"))
    }),

    // --- corpus-mix rebalance (Converters.rebalanceToTargetMix): the
    //     DoReMi-style static reweighting — every language downsampled
    //     to a uniform target mix, fractions DERIVED FROM THE DATA
    //     (one aggregate) and applied through the md5-threshold filter.
    //     The oracle recomputes shares, fractions, AND the 4-hex
    //     threshold (printf %04x of round(f*65536)) in SQL -----------
    "q_domain_rebalance" -> ((s, dir) => {
      Converters.rebalanceToTargetMix(t(s, dir, "documents"), "lang", "doc_id")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // --- edit-distance confirmation (Similarity.editDistanceConfirm):
    //     exact Levenshtein over ONLY the Jaccard candidate pairs —
    //     the affordable-because-candidates-are-few second stage of
    //     near-dup detection. Both engines ship levenshtein natively -
    "q_editdist_confirm" -> ((s, dir) => {
      import graft.functions.Similarity
      val docs = t(s, dir, "documents")
      val pairs = Similarity.ngramJaccardPairs(docs,
          "doc_id", "text", "source", n = 3, threshold = 0.02, maxDocFreq = 2)
        .select(col("id_a"), col("id_b"))
      Similarity.editDistanceConfirm(pairs, docs, "doc_id", "text", maxRel = 0.4)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // --- incremental ledger dedup (Dedup.incrementalExact): a new
    //     batch dedups against the corpus's fingerprint LEDGER (one
    //     narrow hash column — never a corpus rescan) then min-id
    //     within the batch. The ongoing-ingest face of exact dedup;
    //     ledger = fingerprints of docs with doc_id % 3 == 0 ----------
    "q_incremental_dedup" -> ((s, dir) => {
      import graft.functions.Text
      import graft.operators.Dedup
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), Text.fingerprint(col("text")).as("fp"))
      val ledger = docs.filter(pmod(col("doc_id"), lit(3)) === 0).select(col("fp"))
      val (kept, additions) = Dedup.incrementalExact(docs, ledger, "fp", "doc_id")
      // the ledger grows by exactly the kept fingerprints
      require(additions.count() == kept.count(), "one ledger addition per kept row")
      kept.select(col("doc_id"), col("lang")).orderBy(col("doc_id"))
    }),

    // --- SemDeDup (Abbas et al. 2023): semantic dedup over embeddings
    //     — deterministic sampled coarse quantizer, per-cluster
    //     pairwise cosine, min-id survivor. The pairwise test never
    //     leaves a cluster (candidate join keyed on cluster id), which
    //     is the paper's own scale trick. Oracle replays quantizer,
    //     assignment, and the drop rule exactly ------------------------
    "q_semantic_dedup" -> ((s, dir) => {
      import graft.functions.Ann
      val emb = t(s, dir, "embeddings")
      val index = Ann.sampledIvf(emb, k = 16)
      Ann.semanticDedup(emb, index, threshold = 0.9)
        .orderBy(col("vec_id"))
    }),

    // --- stream-stream event-time interval join (5th streaming gate):
    //     clicks joined to same-user purchases within the following
    //     hour, both sides watermarked so join state is bounded; inner
    //     matches emit as they arrive, so the AvailableNow run's output
    //     equals the batch join the oracle computes (µs arithmetic on
    //     both engines) ------------------------------------------------
    "q_stream_join" -> ((s, dir) => {
      import graft.streaming.StreamingIngest
      StreamingIngest.withStatePartitions(s, 8) {
        val src = s"$dir/events.parquet"
        val rawSchema = s.read.parquet(src).schema
        val inDir = java.nio.file.Files.createTempDirectory("q_stream_sj")
        OperatorGates8.copyRaw(s, src, inDir, "events.parquet")
        def stream = StreamingIngest.readFileStream(s, rawSchema, inDir.toString)
          .withColumn("ts", expr(Tables.tsExpr(rawSchema("ts").dataType)))
        val clicks = stream.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            col("ts").as("click_ts"))
        val purchases = stream.filter(col("event_type") === "purchase")
          .select(col("user_id").as("user_id_r"), col("event_id").as("purchase_id"),
            col("ts").as("purchase_ts"),
            floor(col("value") * 1000).cast("long").as("v_milli"))
        val joined = StreamingIngest.intervalJoin(clicks, purchases, "user_id",
            "click_ts", "purchase_ts", within = "1 hour")
          .select(col("user_id"), col("click_id"), col("purchase_id"), col("v_milli"))
        val tmp = java.nio.file.Files.createTempDirectory("q_stream_sj_out").toString
        StreamingIngest.runAvailableNow(joined, s"$tmp/data", s"$tmp/ck")
        s.read.parquet(s"$tmp/data")
          .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
      }
    }),

    // --- embedding FLAGSHIP pipeline: semantic dedup -> IVF-PQ index
    //     build over the SURVIVORS -> top-k retrieval, every stage the
    //     real operator and the whole chain replayed by ONE oracle
    //     (quantizer, assignments, drop rule, codebooks, ADC chain,
    //     re-rank — all derived from the deduped corpus) --------------
    "q_embedding_pipeline" -> ((s, dir) => {
      import graft.functions.Ann
      val emb = t(s, dir, "embeddings")
      val sem = Ann.semanticDedup(emb, Ann.sampledIvf(emb, k = 16), threshold = 0.9)
      // consumed by the IVF fit, the PQ fit, the probe slice and the
      // search corpus — materialize once so the semantic-dedup banded
      // join isn't re-run four times (the IVF fit's collect triggers
      // it). A lazy localCheckpoint, NOT persist: persist pins the
      // plan in the SQL CacheManager (never released — this gate has
      // no post-action hook) AND serves the warmup pass's blocks to
      // later timed passes of the identical plan, which under-reports
      // the query. Checkpoint blocks are GC-reclaimed and per-call.
      val survivors = sem.filter(col("kept")).select(col("vec_id")).join(emb, Seq("vec_id"))
        .localCheckpoint(false)
      val ivf = Ann.sampledIvf(survivors, k = 8)
      val pq = Ann.sampledPq(survivors, nSub = 8, nCents = 16)
      val probes = survivors.filter(pmod(col("vec_id"), lit(50)) === 0)
      Ann.ivfPqSearch(ivf, pq, probes, survivors, k = 5, nProbe = 4, prefilter = 20)
        .orderBy(col("query_id"), col("sim").desc, col("neighbor_id"))
    }),

    // --- Bloom-filter join pruning (functions.Bloom — Spark's own
    //     runtime-filter expressions surfaced): filter built over the
    //     purchase users, big side semi-filtered before any shuffle.
    //     No-false-negative is checked row-exactly (every exact match
    //     passes the bloom); the FPR flag bounds the surplus ----------
    "q_bloom_prefilter" -> ((s, dir) => {
      import graft.functions.Bloom
      val ev = t(s, dir, "events")
      val bits = Bloom.buildBloom(ev.filter(col("event_type") === "purchase"),
        xxhash64(col("user_id")), expectedItems = 20000L, numBits = 160000L)
      val tagged = ev
        .withColumn("_bloom_pass", Bloom.mightContain(bits, xxhash64(col("user_id"))))
        .join(ev.filter(col("event_type") === "purchase")
          .select(col("user_id")).distinct().withColumn("_exact", lit(true)),
          Seq("user_id"), "left")
      tagged.groupBy(col("event_type"))
        .agg(count(when(col("_exact"), 1)).as("n_exact"),
          (count(when(col("_exact") && !col("_bloom_pass"), 1)) === 0).as("no_false_neg"),
          (count(when(col("_bloom_pass") && col("_exact").isNull, 1)) <=
            count(lit(1)) * 0.05).as("fpr_ok"))
        .orderBy(col("event_type"))
    }),

    // --- approximate quantiles (percentile_approx — KLL-style rank
    //     sketch): per-language approximate median of token counts
    //     checked against the exact interpolated median at a 10%
    //     value bound; the oracle replays the exact side and the
    //     bound verdict (same pattern as q_approx_distinct) -----------
    "q_approx_quantile" -> ((s, dir) => {
      import graft.functions.Text
      t(s, dir, "documents")
        .select(col("lang"), Text.tokenCount(col("text")).cast("long").as("n"))
        .groupBy(col("lang"))
        .agg(percentile(col("n"), lit(0.5)).as("exact_med"),
          percentile_approx(col("n"), lit(0.5), lit(10000)).as("_approx"))
        .select(col("lang"), col("exact_med"),
          (abs(col("_approx") - col("exact_med")) <= col("exact_med") * 0.1)
            .as("approx_in_bound"))
        .orderBy(col("lang"))
    }),

    // --- HLL sketch (approx_count_distinct — Spark's HyperLogLog++):
    //     per-group estimate checked against the exact distinct count
    //     at 3x the requested rsd. The estimate is deterministic for
    //     fixed data, so the bound flag is stable; the oracle replays
    //     the exact side and asserts the bound --------------------------
    "q_approx_distinct" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"),
          approx_count_distinct(col("user_id"), 0.05).as("_est"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("_est") - col("n_exact")) <= col("n_exact") * 0.15)
            .as("est_in_bound"))
        .orderBy(col("event_type"))
    })
  )

  def oracleSql5: Map[String, String] = Map(

    "q_recursive_schema" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_id,
        |  CAST(sum(CASE WHEN doc_id % 5 = 0 THEN NULL ELSE doc_id % 7 END) AS BIGINT) AS sum_score,
        |  count(*) + count(*) FILTER (doc_id % 2 = 0) AS n_tags
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_processor_chain" ->
      """SELECT lang, CAST(len(word) AS INT) AS wlen, count(*) AS n, min(word) AS min_word
        |FROM (SELECT lang, unnest(string_split(text, ' ')) AS word
        |      FROM documents WHERE lang IN ('en', 'de'))
        |WHERE len(word) > 0
        |GROUP BY lang, len(word) ORDER BY lang, wlen""".stripMargin,

    "q_observed_metrics" ->
      """SELECT 'high_watermark' AS metric, max(event_id) AS value FROM events
        |UNION ALL SELECT 'listener_rows_out', count(*) FROM events WHERE value <= 150
        |UNION ALL SELECT 'published_runs', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'quarantined', count(*) FROM events WHERE value > 150
        |UNION ALL SELECT 'rows_written', count(*) FROM events WHERE value <= 150
        |ORDER BY metric""".stripMargin,

    "q_repetition_signals" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    text || CASE WHEN doc_id % 7 = 0 THEN ' ## fin ... fin ##' ELSE '' END AS text
        |  FROM documents
        |), tok AS (
        |  SELECT doc_id, text, list_filter(string_split(text, ' '), x -> len(x) > 0) AS t
        |  FROM d
        |), base AS (
        |  SELECT doc_id,
        |    CAST(len(text) - len(t) + 1 AS DOUBLE) / greatest(len(t), 1) AS mean_word_len,
        |    CASE WHEN len(t) >= 3 THEN
        |      CAST(len(t) - 2 - len(list_distinct(list_transform(range(1, len(t) - 1),
        |        i -> array_to_string(t[i:i+2], ' ')))) AS DOUBLE) / (len(t) - 2)
        |      ELSE 0.0 END AS dup_tri_ratio,
        |    CASE WHEN len(t) <= 0 THEN 0.0 ELSE
        |      CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS DOUBLE) / len(t)
        |      END AS sym_ratio
        |  FROM tok
        |), big AS (
        |  SELECT doc_id, len(text) AS chars,
        |    unnest(CASE WHEN len(t) >= 2
        |      THEN list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))
        |      ELSE [] END) AS gram
        |  FROM tok
        |), cnt AS (
        |  SELECT doc_id, chars, gram, count(*) AS n_occ FROM big GROUP BY ALL
        |), top AS (
        |  SELECT doc_id, gram AS top_gram, n_occ,
        |    CASE WHEN chars > 0 THEN CAST(n_occ * len(gram) AS DOUBLE) / chars
        |         ELSE 0.0 END AS char_frac
        |  FROM cnt
        |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY n_occ DESC, gram) = 1
        |)
        |SELECT b.doc_id, b.mean_word_len, b.dup_tri_ratio, b.sym_ratio,
        |  coalesce(top_gram, '') AS top_gram, coalesce(n_occ, 0) AS n_occ,
        |  coalesce(char_frac, 0.0) AS char_frac
        |FROM base b LEFT JOIN top USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q_flatten_all" ->
      """SELECT event_id, user_id AS payload_uid, event_type AS payload_inner_etype,
        |  CAST(floor(value * 1000) AS BIGINT) AS payload_inner_v_milli
        |FROM events ORDER BY event_id""".stripMargin,

    "q_domain_rebalance" ->
      """WITH c AS (
        |  SELECT lang, count(*) AS n FROM documents GROUP BY lang
        |), tot AS (
        |  SELECT CAST(sum(n) AS DOUBLE) AS total, count(*) AS k FROM c
        |), f AS (
        |  SELECT lang,
        |    least(CAST(1.0 AS DOUBLE),
        |      (CAST(1.0 AS DOUBLE) / k) / (CAST(n AS DOUBLE) / total)) AS frac
        |  FROM c, tot
        |), cuts AS (
        |  SELECT lang, CASE WHEN frac >= 1.0 THEN 'g'
        |    ELSE printf('%04x', CAST(least(round(frac * 65536), 65535) AS BIGINT))
        |    END AS cut
        |  FROM f
        |)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN cuts ON d.lang = cuts.lang
        |WHERE substring(md5('graft' || '|' || CAST(d.doc_id AS VARCHAR)), 1, 4) < cuts.cut
        |ORDER BY d.doc_id""".stripMargin,

    "q_editdist_confirm" ->
      """WITH docsh AS (
        |  SELECT doc_id, source AS block,
        |    unnest(list_distinct(CASE WHEN len(toks) >= 3
        |      THEN list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))
        |      ELSE [] END)) AS s
        |  FROM (
        |    SELECT doc_id, source,
        |      list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |    FROM documents
        |  )
        |), kept AS (
        |  SELECT * FROM docsh
        |  QUALIFY COUNT(*) OVER (PARTITION BY block, s) <= 2
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY doc_id
        |), inter AS (
        |  SELECT a.block, a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM kept a JOIN kept b ON a.block = b.block AND a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3
        |), pairs AS (
        |  SELECT i.id_a, i.id_b FROM inter i
        |  JOIN sizes sa ON i.id_a = sa.doc_id
        |  JOIN sizes sb ON i.id_b = sb.doc_id
        |  WHERE CAST(i.inter AS DOUBLE) / CAST(greatest(sa.n_sh + sb.n_sh - i.inter, 1) AS DOUBLE) >= 0.02
        |)
        |SELECT p.id_a, p.id_b,
        |  CAST(levenshtein(da.text, db.text) AS INT) AS edit_dist,
        |  CAST(levenshtein(da.text, db.text) AS DOUBLE)
        |    / greatest(len(da.text), len(db.text), 1) AS rel_dist,
        |  CAST(levenshtein(da.text, db.text) AS DOUBLE)
        |    / greatest(len(da.text), len(db.text), 1) <= 0.4 AS confirmed
        |FROM pairs p
        |JOIN documents da ON da.doc_id = p.id_a
        |JOIN documents db ON db.doc_id = p.id_b
        |ORDER BY id_a, id_b""".stripMargin,

    "q_incremental_dedup" ->
      """WITH fp AS (SELECT doc_id, lang, md5(text) AS f FROM documents),
        |led AS (SELECT DISTINCT f FROM fp WHERE doc_id % 3 = 0),
        |fresh AS (SELECT * FROM fp WHERE f NOT IN (SELECT f FROM led))
        |SELECT doc_id, lang FROM fresh
        |QUALIFY row_number() OVER (PARTITION BY f ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin,

    "q_semantic_dedup" -> OracleSql.semanticDedup(nCentroids = 16, threshold = 0.9),

    "q_stream_join" ->
      """SELECT c.user_id AS user_id, c.event_id AS click_id, p.event_id AS purchase_id,
        |  CAST(floor(p.value * 1000) AS BIGINT) AS v_milli
        |FROM events c JOIN events p
        |  ON c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.user_id = c.user_id
        |  AND epoch_us(p.ts) >= epoch_us(c.ts)
        |  AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000
        |ORDER BY c.user_id, click_id, purchase_id""".stripMargin,

    "q_flow_multicast" ->
      """SELECT b.branch, e.event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(e.value * 1000) AS BIGINT)) AS BIGINT) AS sum_v_milli
        |FROM events e CROSS JOIN (SELECT unnest(['mart', 'vault']) AS branch) b
        |GROUP BY b.branch, e.event_type ORDER BY b.branch, e.event_type""".stripMargin,

    "q_flow_compile" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sum_v_milli
        |FROM events WHERE value <= 180
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // mart_rows reflects v1's run (value <= 180): the v2 re-execution
    // resumes (skips) rather than recomputing with the new threshold
    "q_flow_catalog" ->
      """SELECT 'catalog_flows' AS metric, '1' AS value
        |UNION ALL SELECT 'catalog_versions', 'v1,v2'
        |UNION ALL SELECT 'current_version', 'v2'
        |UNION ALL SELECT 'mart_rows',
        |  CAST((SELECT count(*) FROM events WHERE value <= 180) AS VARCHAR)
        |UNION ALL SELECT 'run1_actions', 'ran,ran'
        |UNION ALL SELECT 'run2_actions', 'skipped,skipped'
        |UNION ALL SELECT 'stored_versions', 'v1,v2'
        |UNION ALL SELECT 'v1_readable', 'true'
        |ORDER BY metric""".stripMargin,

    "q_embedding_pipeline" -> OracleSql.embeddingPipeline(
      semClusters = 16, semThreshold = 0.9,
      k = 5, nProbe = 4, prefilter = 20, probeMod = 50),

    "q_bloom_prefilter" ->
      """WITH p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        |SELECT event_type,
        |  count(*) FILTER (user_id IN (SELECT user_id FROM p)) AS n_exact,
        |  true AS no_false_neg, true AS fpr_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_approx_quantile" ->
      """SELECT lang,
        |  quantile_cont(CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT), 0.5) AS exact_med,
        |  true AS approx_in_bound
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_exact, true AS est_in_bound
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  )
}
