package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec, SparkPlan}

/** Plan-quality regression guard: the physical plans the engine is
  * designed around must survive refactors — filters/projections pushed
  * to the parquet scan, dims broadcast, purges as broadcast anti-joins.
  * String-matching the executed plan is deliberate: it fails loudly if
  * an innocent-looking change silently de-optimizes a 100 TB query.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    // other suites cache tables in the shared session; a cached
    // relation would replace the parquet scan and hide pushdown
    spark.catalog.clearCache()
    SparkEntry.queries(name)(spark, sf()).queryExecution.executedPlan.toString
  }

  test("pricing summary: shipdate filter + projection pushed to scan") {
    val p = plan("q_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(p.contains("ReadSchema") && !p.contains("l_comment"))
  }

  test("filter+pick: predicate pushed, only picked columns read") {
    val p = plan("q_filter_pick")
    assert(p.contains("EqualTo(event_type,click)"))
    assert(!p.contains("props")) // column pruning reached the scan
  }

  test("join revenue: all dims broadcast, no sort-merge join") {
    val p = plan("q_join_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3)
    assert(!p.contains("SortMergeJoin"))
  }

  test("purge: broadcast LEFT ANTI join") {
    val p = plan("q_purge_antijoin")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"))
  }

  test("incremental watermark: timestamp range filter pushed to scan") {
    val p = plan("q_incremental_watermark")
    // nanos-long encoding pushes >=, timestamp encoding pushes strict >
    assert(p.contains("PushedFilters") &&
      "GreaterThan(OrEqual)?\\(ts".r.findFirstIn(p).isDefined)
  }

  test("heavy hitters: candidate INSET filter below the partial aggregate") {
    val p = plan("q_heavy_hitters")
    // the confirm pass must shuffle candidate rows only: the IN filter
    // sits under the partial HashAggregate, and the key never range-
    // shuffles before filtering
    val filterAt = p.indexOf("INSET")
    val partialAt = p.indexOf("partial_count")
    assert(filterAt >= 0 && partialAt >= 0 && partialAt < filterAt,
      s"INSET@$filterAt partial@$partialAt\n${p.take(600)}")
  }

  test("importance select: constant rank bound rides WindowGroupLimit") {
    val p = plan("q_importance_select")
    assert(p.contains("WindowGroupLimit"))
    assert(!p.contains("CartesianProduct"))
  }

  test("minhash incremental: banded equi-joins only, no pair blowup") {
    val p = plan("q_minhash_incremental")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("repetition clean: no cartesian anywhere in the trim path") {
    val p = plan("q_repetition_clean")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("dedup delta: partial aggregation before the exchange") {
    val p = plan("q_dedup_delta")
    assert(p.contains("partial_max_by") || p.contains("partial_"))
  }

  test("simhash pairs: banded equi-join, no cartesian/BNLJ pair blowup") {
    val p = plan("q_simhash_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("hyperplane LSH: one signature pass per side (no per-table scans)") {
    val p = plan("q_ann_hyperplane_lsh")
    // one Generate (explode of the 8-table signature array) per side;
    // the round-1 shape materialized the corpus once PER TABLE
    assert("\\bGenerate\\b".r.findAllIn(p).size <= 2, s"expected <=2 Generates:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("ann ivf: candidate generation is a bucket equi-join, windows rank-limited") {
    val p = plan("q_ann_ivf")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("WindowGroupLimit")) // top-k pushed before full sort
  }

  test("decontaminate: benchmark shingle set joins via broadcast, no shuffle join") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"benchmark join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("chunk tokens: one scan, pure projection + explode, sort is the only exchange") {
    val p = plan("q_chunk_tokens")
    assert("Scan parquet".r.findAllIn(p).size == 1)
    assert("\\bExchange\\b".r.findAllIn(p).size <= 1) // only the final orderBy
    assert(!p.contains("MapPartitions"))
  }

  test("stratified sample: md5-prefix filter is shuffle-free") {
    val p = plan("q_stratified_sample")
    assert("Scan parquet".r.findAllIn(p).size == 1)
    assert("\\bExchange\\b".r.findAllIn(p).size <= 1) // only the final orderBy
  }

  test("dup saturation: keyed joins only, partial aggregation before exchange") {
    val p = plan("q_dup_saturation")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("partial_count") || p.contains("partial_"),
      "doc-freq aggregation lost its map-side partial")
  }

  test("pq ann: gated broadcast code scan, prefilter pushed as WindowGroupLimit") {
    val p = plan("q_ann_pq")
    // the ADC scan is a DELIBERATE broadcast nested-loop (probe-count
    // gated); the prefilter/top-k windows must rank-limit before sort
    assert(p.contains("BroadcastNestedLoopJoin"), "gated probe broadcast missing")
    assert(p.contains("WindowGroupLimit"), "prefilter window not rank-limited")
    assert(!p.contains("SortMergeJoin"))
  }

  test("semantic dedup: pair generation is a cluster-keyed equi-join, never cartesian") {
    val p = plan("q_semantic_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"SemDeDup pairs must join on cluster id:\n$p")
  }

  test("repetition signals: (doc, gram) aggregation keeps its map-side partial") {
    val p = plan("q_repetition_signals")
    assert(p.contains("partial_count") || p.contains("partial_"),
      "top-ngram count lost its map-side combine")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("rotating aes: pure column projection — one scan, no extra exchange") {
    val p = plan("q_rotating_aes")
    // encrypt/decrypt stay column expressions: a single parquet scan
    // feeding projections, and the only exchange is the final sort
    assert(!p.contains("MapPartitions") && !p.contains("BatchEvalPython"))
    assert("Scan parquet".r.findAllIn(p).size == 1)
    assert("\\bExchange\\b".r.findAllIn(p).size <= 1)
  }

  test("lm quality: LM rides hash equi-joins, no cartesian/BNLJ") {
    val p = plan("q_lm_quality")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"LM scoring must stay equi-join shaped:\n$p")
    assert(!p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"))
  }

  test("config retention: config and dims broadcast onto the fact scan") {
    val p = plan("q_config_retention")
    // nation dim, max-watermark row, and the resolved-config table all
    // broadcast — the events scan shuffles only for the final group-by
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2)
    assert(!p.contains("SortMergeJoin"))
  }

  test("value audit: single-pass diff — one join, one aggregation") {
    val p = plan("q_value_audit")
    assert("\\bHashAggregate\\b".r.findAllIn(p).size <= 4, // partial+final x2 max
      "per-column diff must not fan out into per-column aggregations")
    assert(!p.contains("CartesianProduct"))
  }

  test("mix temperature: no window at all — quantized order-free denominator") {
    val p = plan("q_mix_temperature")
    // the corpus aggregation is materialized eagerly (localCheckpoint);
    // the returned plan reads the domain table, total/denom are
    // literals, and the old single-partition running-sum window is gone
    assert(!p.contains("Window"),
      s"mixture weights must not window at all (10M-domain corpora):\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      "mixture weights must never funnel into one task")
  }

  test("quota sample: largest-remainder rank never collapses to one task") {
    val p = plan("q_quota_sample")
    // the rank over groups rides GlobalOrder's range exchange +
    // _gpid-partitioned window; the only remaining windows are
    // per-group (draw) and per-range-partition (rank) — both keyed
    assert(!p.contains("Exchange SinglePartition"),
      s"group allocation must stay parallel at 10M+ domains:\n$p")
  }

  test("zorder: pure bit-op projection + one aggregation, no join") {
    val p = plan("q_zorder_layout")
    assert("Scan parquet".r.findAllIn(p).size == 1)
    assert(!p.contains("Join"))
    assert(p.contains("partial_min") || p.contains("partial_"),
      "bucket spans lost their map-side partial")
  }

  test("html/url clean: pure projection — one scan, sort is the only exchange") {
    val p = plan("q_html_url_clean")
    assert("Scan parquet".r.findAllIn(p).size == 1)
    assert(!p.contains("Join") && !p.contains("MapPartitions"))
    assert("\\bExchange\\b".r.findAllIn(p).size <= 1)
  }

  test("inverted index: single scan, bounded collect keeps map-side partial") {
    val p = plan("q_inverted_index")
    assert("Scan parquet".r.findAllIn(p).size == 1)
    assert(p.contains("min_k_longs"), "bounded posting aggregate missing")
    assert(p.contains("partial_min_k_longs") || p.contains("partial_"),
      "min-k must combine map-side (the whole point of the bound)")
  }

  test("scd2 merge: touched-key routing joins, no cartesian") {
    val p = plan("q_scd2_merge")
    // the anti/semi routing against the small distinct-delta-key set
    // and per-key windows — never a cartesian or nested-loop fallback
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("LeftAnti") && p.contains("LeftSemi"),
      s"untouched-slice routing lost its anti/semi shape:\n$p")
  }

  test("incremental rollup: both batch states combine map-side") {
    val p = plan("q_incremental_rollup")
    assert(!p.contains("Join"), "rollup merge must be union+agg, not a join")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "delta aggregation lost its map-side partial")
  }

  test("cdc chunk dedup: chunking stays codegen, shared-set join is hash") {
    val p = plan("q_cdc_chunk_dedup")
    assert(p.contains("content_chunk_hashes"), "native chunk expression missing")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("BatchEvalPython") && !p.contains("MapPartitions"))
  }

  test("funnel: one exchange, step-type filter at the scan, no joins") {
    val p = plan("q_funnel")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // single-pass shape: the step-type slice prunes at the parquet
    // scan (In filter), everything rides ONE hash exchange by key —
    // the old compositional shape paid one scan + exchange PER STEP
    assert(p.contains("In(event_type") || p.contains("event_type IN"),
      s"step-type filter not pushed:\n$p")
    // exactly one hash exchange (the funnel's, by key); the gate's
    // final orderBy adds its own range exchange on top
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"funnel must shuffle exactly once:\n$p")
    assert(!p.contains("Join"), "single-pass funnel must not join")
  }

  test("kanon: suppression regroups aggregated cells, not raw data") {
    val p = plan("q_kanon_suppress")
    assert(!p.contains("Join"), "suppression must not join back to data")
    // two aggregations total (cells, then regroup), each partial+final
    assert("\\bHashAggregate\\b".r.findAllIn(p).size <= 4)
  }

  test("bm25: scoring joins are equi-joins, the 1-row stats join is the only BNLJ") {
    val p = plan("q_bm25_topk")
    assert(!p.contains("CartesianProduct"))
    // join(broadcast(stats)) with no condition is deliberately the one
    // broadcast nested loop — a single-row build side
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1)
    assert(p.contains("partial_count"), "postings lost map-side partial agg")
    assert(p.contains("WindowGroupLimit"), "top-k must push before full sort")
  }

  /** BM25 df shape: df is a per-token window over the candidates the
    * left-semi join with the broadcast query tokens lets through, and
    * no aggregate is keyed by token alone (the full-vocabulary df).
    * Returns the leaves under the semi join's index side.
    */
  private def candidateScan(name: String): Seq[SparkPlan] = {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    spark.catalog.clearCache()
    val sp = SparkEntry.queries(name)(spark, sf()).queryExecution.sparkPlan
    def names(es: Seq[Expression]) =
      es.collect { case a: Attribute => a.name }
    val dfWindows = sp.collect {
      case w: WindowExec if names(w.partitionSpec) == Seq("token") => w
    }
    assert(dfWindows.size == 1, s"expected one per-token df window:\n$sp")
    val semi = dfWindows.head.collect {
      case j: BroadcastHashJoinExec if j.joinType == LeftSemi => j
    }
    assert(semi.size == 1, s"df window must sit over the query-token semi join:\n$sp")
    // the query-token distinct is token-keyed too, but over the queries
    def source(l: SparkPlan): String = l match {
      case f: FileSourceScanExec => f.relation.location.rootPaths.sorted.mkString(",")
      case r: RDDScanExec => s"rdd ${r.rdd.id}"
      case o => o.toString
    }
    val index = semi.head.left.collectLeaves()
    assert(sp.collect {
      case a: BaseAggregateExec if names(a.groupingExpressions) == Seq("token") &&
        a.collectLeaves().exists(l => index.map(source).contains(source(l))) => a
    }.isEmpty, s"full-vocabulary df aggregate is back:\n$sp")
    index
  }

  test("bm25: df counts only the query terms' postings (semi join, no vocabulary agg)") {
    val leaves = candidateScan("q_bm25_topk")
    assert(leaves.nonEmpty && leaves.forall(_.isInstanceOf[RDDScanExec]))
  }

  test("bm25 over a persisted index: the parquet scan feeds df through the semi join") {
    val leaves = candidateScan("q_index_job")
    assert(leaves.nonEmpty && leaves.forall(_.isInstanceOf[FileSourceScanExec]))
  }

  test("ann filtered: candidate generation stays a bucket equi-join") {
    val p = plan("q_ann_filtered")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("WindowGroupLimit"))
  }

  test("hybrid rrf: fusion joins only k-bounded ranked lists, no cartesian") {
    val p = plan("q_hybrid_rrf")
    assert(!p.contains("CartesianProduct"))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1) // bm25 stats row
    assert(p.contains("FullOuter"), "fusion must be a full outer equi-join")
  }

  test("budget select: running sum windows partition by range-partition id (never one task)") {
    val p = plan("q_budget_select")
    assert("windowspecdefinition\\(_pid".r.findFirstIn(p).isDefined,
      s"global-window fallback detected:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("filter funnel: one aggregation pass, no joins, stack stays a projection") {
    val p = plan("q_filter_funnel")
    assert(!p.contains("Join"), "funnel must not join")
    // one aggregate (partial+final), the stack unpivot is a Generate/Expand
    assert("\\bHashAggregate\\b".r.findAllIn(p).size <= 2)
  }

  test("link rank: every iteration is a keyed join, mass aggregation keeps its partial") {
    // the gate's executed plan is just the final checkpoint scan (the
    // loop checkpoints eagerly), so assert the ITERATION's plan
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val e = Tables.load(spark, sf(), "documents")
      .select(col("source").as("src"),
        concat(lit("s"), pmod(col("doc_id"), lit(7))).as("dst")).distinct()
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
    val eDeg = e.join(e.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
    val ranks = nodes.withColumn("rank", lit(operators.LinkRank.Q))
    val p = operators.LinkRank.step(nodes, eDeg, ranks)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the per-destination mass sum must map-side combine (hot
    // destinations at 100 TB: everyone links to the same hubs)
    assert(p.contains("partial_sum"), s"in-mass aggregation lost its partial:\n${p.take(800)}")
  }

  test("fetch list: host cap rides WindowGroupLimit, no TakeOrdered funnel, no one-task window") {
    // the gate's plan tail is the GlobalOrder checkpoint scan; assert
    // the pre-checkpoint stage (the capped frontier) and the gate plan
    import org.apache.spark.sql.functions._
    val f = Tables.load(spark, sf(), "documents").select(
      concat(lit("http://"), col("source"), lit("/p"), col("doc_id")).as("url"),
      col("source").as("host"), pmod(col("doc_id") * 37, lit(1000)).as("score"))
    val p = plan("q_fetch_list")
    assert(!p.contains("TakeOrderedAndProject"),
      "global top-N must not funnel through one task")
    val cappedPlan = {
      import org.apache.spark.sql.expressions.Window
      f.withColumn("_hr", row_number().over(
          Window.partitionBy(col("host")).orderBy(col("score").desc, col("url").asc)))
        .filter(col("_hr") <= 10).queryExecution.executedPlan.toString
    }
    assert(cappedPlan.contains("WindowGroupLimit"),
      "per-host cap lost its rank-limit pushdown")
  }

  test("anchor text: count agg keeps its partial, top-k rank bound pushes down") {
    val p = plan("q_anchor_text")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("partial_count"),
      "(dst, anchor) counting lost map-side partials (hub-target skew)")
  }

  test("frontier delta fold: per-URL state keeps map-side partials (hot-URL skew)") {
    // the gate's executed plan is the post-commit table read; assert
    // the DELTA-fold stage the frontier job runs per epoch
    import org.apache.spark.sql.functions._
    val delta = Tables.load(spark, sf(), "documents").select(
      functions.Text.canonicalizeUrl(
        concat(lit("http://h"), pmod(col("doc_id"), lit(13)), lit(".net/u"),
          col("doc_id") - pmod(col("doc_id"), lit(5)))).as("url"),
      col("n_chars").cast("long").as("score"),
      col("doc_id").as("seq"))
    val p = delta.groupBy(col("url"))
      .agg(min(col("seq")).as("first_seq"), max(col("score")).as("score"),
        count(lit(1)).as("n_seen"))
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_min") && p.contains("partial_max") &&
      p.contains("partial_count"),
      s"frontier fold lost map-side partials:\n${p.take(600)}")
  }
}
