package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text

/** BM25 ranked retrieval over a document corpus — the search substrate
  * a curation pipeline uses for retrieval-based decontamination ("which
  * training docs score highly against this benchmark query?") and
  * targeted corpus audits. Builds on the same inverted-index shape as
  * `q_inverted_index` (token postings bounded by vocabulary, not
  * corpus).
  *
  * Determinism contract (repo-wide oracle discipline — see NgramLm's
  * "no perplexity logarithms"): the classic BM25 `idf = ln((N-df+.5)/
  * (df+.5)+1)` is replaced by the exact-rational ratio idf quantized to
  * a 2^20 fixed-point integer:
  *
  *   idfq(t) = ((2N - 2df + 1) * 2^20) div (2df + 1)
  *
  * which is monotone-decreasing in df (same ranking direction as log
  * idf, saturating instead of compressing). The per-term contribution
  *
  *   floor( idfq * (tf * (k1+1)) / (tf + k1 * (1 - b + b * dl/avgdl)) )
  *
  * is ONE double multiply-divide chain per (term, doc) — identical
  * expression tree on both engines, bit-reproducible IEEE — floored to
  * an integer, so per-(query, doc) scores are order-free integer sums.
  *
  * Shape: scoring reads the index twice. One pass is the corpus stats
  * (N, avgdl), a map-side-combined one-row aggregation. The other
  * left-semi-joins the postings against the broadcast set of distinct
  * query tokens, so only the query terms' posting lists (the
  * candidates) survive the scan; df is then a count per token over
  * the candidates, exact because postings hold one row per (doc,
  * token). No aggregation ever runs over the full vocabulary, and no
  * shuffle carries postings of terms no query asks about. The
  * candidate shuffle's skew is bounded by `maxDf` (stopword posting
  * lists are both the skew risk and the least informative: idf → 0
  * as df → N, so capping df drops almost-zero-weight terms first, the
  * standard impact-ordered-index pruning move). Top-k is a per-query
  * rank window over scored docs, k-bounded output.
  *
  * Reference seam: gobblin has no ranked retrieval; this generalizes
  * the `q_inverted_index` decontamination substrate
  * (gobblin-core's converter/filter package carries only boolean filters).
  */
object Bm25 {

  val Scale: Long = 1L << 20

  /** Fixed-point ratio idf: floor(((2N - 2df + 1) * 2^20) / (2df + 1)),
    * computed as one IEEE double divide so the oracle replays it with
    * the identical expression tree. Exact while (2N+1)*2^20 < 2^53,
    * i.e. N < ~4.3e9 docs; past that both engines still agree (same
    * rounding), the quantization just stops being exact-integer.
    */
  def idfq(n: Column, df: Column): Column =
    floor((lit(2L) * n - lit(2L) * df + lit(1L)).cast("double") * lit(Scale.toDouble)
      / (lit(2L) * df + lit(1L)).cast("double")).cast("long")

  /** The persistable index: one row per (doc, distinct token) with the
    * term frequency `tf` and document length `dl` — document-granular,
    * so it supports incremental maintenance ([[mergeIndex]]). N/avgdl
    * are derived at query time in one stats pass, df in the candidate
    * pass over the query terms' postings only (see the object doc).
    */
  def index(corpus: DataFrame, idCol: String, textCol: String): DataFrame =
    postings(corpus, idCol, textCol)

  /** Incremental index maintenance: rows of changed/new docs REPLACE
    * that doc's old rows (delta-wins, same discipline as the SCD2/
    * rollup merges); untouched docs never recompute. An anti-join on
    * doc_id + a union — both hash-partitioned by key, no corpus scan.
    */
  def mergeIndex(idx: DataFrame, updatedDocs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val delta = postings(updatedDocs, idCol, textCol)
    val touched = updatedDocs.select(col(idCol).as("doc_id")).distinct()
    idx.join(touched, Seq("doc_id"), "left_anti").unionByName(delta)
  }

  // ------------------------------------------------- sharded persistence

  /** Doc-hash shard for partition-granular index storage. Sharding by
    * DOC (not term) is what makes maintenance O(delta): a changed
    * doc's OLD postings live in exactly its hash shard — computable
    * from the delta alone — whereas term-sharding scatters them across
    * every shard its old tokens hashed to, forcing either a full-index
    * scan or a doc→shards sidecar just to locate rows to retract.
    * Term-sharding's sole upside (pruning query-term lookups) doesn't
    * pay here: scoring reads candidate postings through a hash
    * equi-join, which shuffles by token regardless of file layout.
    */
  def shardOf(docId: Column, nShards: Int): Column =
    pmod(hash(docId), lit(nShards)).cast("int")

  /** [[index]] plus the storage shard — the layout persisted through
    * [[graft.sink.ShardedTable]] so an epoch rewrites only the shards
    * its delta touches.
    */
  def shardedIndex(corpus: DataFrame, idCol: String, textCol: String,
      nShards: Int): DataFrame =
    index(corpus, idCol, textCol)
      .withColumn("shard", shardOf(col("doc_id"), nShards))

  /** Partition-granular incremental merge: the replacement rows for
    * ONLY the shards the delta touches, plus the touched-shard list —
    * feed both to `ShardedTable.commit` so untouched shards' files are
    * never rewritten (they carry over by manifest reference). Same
    * delta-wins algebra as [[mergeIndex]]; `hasCurrent = false` means
    * full build (first epoch, or data deleted under the metadata).
    * The touched list is a driver-side collect bounded by nShards —
    * or pass `precomputedTouched` when the caller already aggregated
    * it (e.g. folded into a delta-stats job), skipping that job here.
    * `deltaIds` optionally supplies the distinct changed doc ids from
    * a CHEAPER plan than latestDocs (e.g. the raw pre-dedup delta,
    * whose id set is identical but carries no window): the retraction
    * anti-join only needs the id set.
    */
  def shardedMerge(table: graft.sink.ShardedTable, hasCurrent: Boolean,
      latestDocs: DataFrame, idCol: String, textCol: String,
      nShards: Int, precomputedTouched: Option[Seq[String]] = None,
      deltaIds: Option[DataFrame] = None): (DataFrame, Seq[String]) = {
    val spark = latestDocs.sparkSession
    val delta = shardedIndex(latestDocs, idCol, textCol, nShards)
    // from the DOC ids, not the delta postings: a doc updated to empty
    // text has no new postings but its old rows must still retract
    val touched = precomputedTouched.getOrElse(
      latestDocs.select(shardOf(col(idCol), nShards).as("shard"))
        .distinct().collect().map(_.getInt(0).toString).toSeq.sorted)
    if (!hasCurrent) (delta, touched)
    else {
      val ids = deltaIds.getOrElse(
        latestDocs.select(col(idCol).as("doc_id")).distinct())
      val kept = table.readPartitions(spark, touched)
        .join(ids, Seq("doc_id"), "left_anti")
      (kept.unionByName(delta), touched)
    }
  }

  /** Corpus postings: one row per (doc, distinct token) with the term
    * frequency `tf`, the document length `dl`, and document count /
    * average length attached as literal-free columns.
    */
  private def postings(corpus: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = corpus.select(col(idCol).as("doc_id"),
      Text.tokens(coalesce(col(textCol), lit(""))).as("toks"))
    toks
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("token"))
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
  }

  /** Top-k BM25 retrieval: for each query (qIdCol, distinct terms of
    * qTextCol's first `qTerms` tokens), the `k` highest-scoring corpus
    * docs (ties broken by doc_id; the query's own doc excluded when ids
    * share a domain). Terms with corpus df > `maxDf` are pruned from
    * scoring (skew cap; idf ≈ 0 there anyway).
    */
  def topK(corpus: DataFrame, queries: DataFrame, idCol: String, textCol: String,
      qIdCol: String, qTextCol: String, k: Int, qTerms: Int = 8,
      k1: Double = 1.2, b: Double = 0.75, maxDf: Long = Long.MaxValue,
      excludeSelf: Boolean = true): DataFrame =
    // materialize the freshly built postings once: topKFromIndex scans
    // its index twice (corpus stats, query-term candidates), and each
    // scan of a FRESH index re-runs the tokenize+explode+groupBy chain
    // — the dominant cost, re-shuffling every exploded token per pass.
    // A lazy localCheckpoint pays one aggregated-postings
    // materialization instead (blocks GC-reclaimed with the plan, no
    // CacheManager pinning, rebuilt per call). The persisted-index
    // face (topKFromIndex over a ShardedTable read) is unchanged:
    // checkpointing a parquet scan would only copy it.
    topKFromIndex(index(corpus, idCol, textCol).localCheckpoint(false),
      queries, qIdCol, qTextCol, k, qTerms, k1, b, maxDf, excludeSelf)

  /** [[topK]] over a prebuilt/incrementally-maintained [[index]].
    *
    * `excludeSelf` defaults to FALSE here (unlike [[topK]]): index
    * queries generally come from a DIFFERENT id domain than corpus
    * docs, and filtering `doc_id =!= query_id` across unrelated
    * domains would silently drop a legitimate hit on a coincidental
    * id collision. Pass `excludeSelf = true` only when queries are
    * drawn from the indexed corpus itself.
    */
  def topKFromIndex(post: DataFrame, queries: DataFrame,
      qIdCol: String, qTextCol: String, k: Int, qTerms: Int = 8,
      k1: Double = 1.2, b: Double = 0.75, maxDf: Long = Long.MaxValue,
      excludeSelf: Boolean = false): DataFrame = {
    // corpus-level stats: one row, broadcast into the scoring join
    val stats = post.groupBy().agg(
      countDistinct(col("doc_id")).as("n_docs"),
      (sum(col("tf")).cast("double") / countDistinct(col("doc_id"))).as("avgdl"))
    // NOTE: docs whose every token is empty (dl=0) carry no postings;
    // they can never match a term, and excluding them from N/avgdl is
    // the documented semantics (stats are over docs WITH tokens).
    val qterms = queries.select(col(qIdCol).as("query_id"),
        explode(array_distinct(slice(Text.tokens(coalesce(col(qTextCol), lit(""))), 1, qTerms)))
          .as("token"))
    // candidates: only the query terms' posting lists, df counted over
    // them (one posting per (doc, token), so the count is the exact df)
    val cand = post
      .join(broadcast(qterms.select(col("token")).distinct()), Seq("token"), "left_semi")
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("token"))))
      .filter(col("df") <= lit(maxDf))
    val scored = qterms
      .join(cand, Seq("token"))
      .join(broadcast(stats))
      .filter(if (excludeSelf) col("doc_id") =!= col("query_id") else lit(true))
      .withColumn("contrib",
        floor(idfq(col("n_docs"), col("df")).cast("double")
          * (col("tf").cast("double") * lit(k1 + 1.0))
          / (col("tf").cast("double")
             + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / col("avgdl"))))))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib")).cast("long").as("score"),
        count(lit(1)).as("n_terms"))
    scored
      .withColumn("rank",
        row_number().over(Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("doc_id"), col("score"), col("n_terms"))
  }
}
