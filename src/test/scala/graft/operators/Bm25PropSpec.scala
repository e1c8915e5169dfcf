package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.Text

/** Property suite: Bm25.topK against a from-scratch in-memory replay
  * of the documented scoring math on random corpora (same device as
  * SubstringDedupPropSpec / ImportancePropSpec — the operator's
  * distributed joins/aggregations must reproduce the naive
  * single-machine definition exactly, scores included).
  */
class Bm25PropSpec extends SparkSpec {
  import spark.implicits._

  private val vocab = Array("a", "b", "c", "d", "e", "f", "g", "h")

  private def naiveTopK(corpus: Seq[(Long, String)], queries: Seq[(Long, String)],
      k: Int, qTerms: Int, k1: Double, b: Double): Map[(Long, Long), (Long, Long)] = {
    val toks = corpus.map { case (id, t) => id -> t.split(" ").filter(_.nonEmpty).toSeq }
      .filter(_._2.nonEmpty)
    val n = toks.size.toLong
    if (n == 0) return Map.empty
    val avgdl = toks.map(_._2.size).sum.toDouble / n
    val dfm = toks.flatMap { case (_, ts) => ts.distinct }
      .groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    (for {
      (qid, qtext) <- queries
      qts = qtext.split(" ").filter(_.nonEmpty).take(qTerms).distinct.toSeq
      scored = toks.filter(_._1 != qid).flatMap { case (did, ts) =>
        val contribs = qts.flatMap { t =>
          val tf = ts.count(_ == t).toLong
          if (tf == 0 || !dfm.contains(t)) None
          else {
            val df = dfm(t)
            val idfq = math.floor(
              (2 * n - 2 * df + 1).toDouble * Bm25.Scale.toDouble / (2 * df + 1).toDouble)
            Some(math.floor((idfq * (tf.toDouble * (k1 + 1.0)))
              / (tf.toDouble + k1 * ((1.0 - b) + b * (ts.size.toDouble / avgdl)))).toLong)
          }
        }
        if (contribs.isEmpty) None
        else Some((did, contribs.sum, contribs.size.toLong))
      }
      ranked = scored.sortBy { case (did, s, _) => (-s, did) }.take(k).zipWithIndex
      ((did, score, nt), i) <- ranked
    } yield (qid, did) -> (score, i + 1L)).toMap
  }

  test("topK == naive replay on 30 random corpora (scores AND ranks)") {
    val rnd = new scala.util.Random(20260814)
    for (trial <- 1 to 30) {
      val nDocs = 2 + rnd.nextInt(30)
      val corpus = (0L until nDocs.toLong).map { id =>
        val len = rnd.nextInt(25) // may be zero-length
        (id, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val queries = corpus.filter(_._1 % 3 == 0)
      val k = 1 + rnd.nextInt(6)
      val got = Bm25.topK(corpus.toDF("doc_id", "text"), queries.toDF("doc_id", "text"),
          "doc_id", "text", "doc_id", "text", k = k, qTerms = 4)
        .collect()
        .map(r => (r.getLong(0), r.getLong(2)) -> (r.getLong(3), r.getLong(1))).toMap
      val want = naiveTopK(corpus, queries, k, qTerms = 4, k1 = 1.2, b = 0.75)
      assert(got === want, s"trial $trial: nDocs=$nDocs k=$k")
    }
  }

  /** The full-vocabulary df formulation topKFromIndex replaced: df by a
    * groupBy(token) over the WHOLE index, then (query terms) ⋈ df ⋈
    * postings. Kept here only as the reference the candidate-only df
    * must reproduce exactly.
    */
  private def fullDfTopK(post: DataFrame, queries: DataFrame, k: Int, qTerms: Int,
      maxDf: Long, excludeSelf: Boolean, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val stats = post.groupBy().agg(
      countDistinct(col("doc_id")).as("n_docs"),
      (sum(col("tf")).cast("double") / countDistinct(col("doc_id"))).as("avgdl"))
    val qterms = queries.select(col("query_id"),
      explode(array_distinct(slice(Text.tokens(coalesce(col("qtext"), lit(""))), 1, qTerms)))
        .as("token"))
    val df = post.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= lit(maxDf))
    qterms.join(df, Seq("token")).join(post, Seq("token")).join(broadcast(stats))
      .filter(if (excludeSelf) col("doc_id") =!= col("query_id") else lit(true))
      .withColumn("contrib",
        floor(Bm25.idfq(col("n_docs"), col("df")).cast("double")
          * (col("tf").cast("double") * lit(k1 + 1.0))
          / (col("tf").cast("double")
             + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / col("avgdl"))))))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib")).cast("long").as("score"), count(lit(1)).as("n_terms"))
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("doc_id"), col("score"), col("n_terms"))
  }

  test("topKFromIndex (query-term df) == full-vocabulary df reference on 30 random corpora") {
    val rnd = new scala.util.Random(20261019)
    def text(len: Int): String = Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    for (trial <- 1 to 30) {
      val nDocs = 1 + rnd.nextInt(40)
      // zero-length docs included; query texts mix in terms absent
      // from the corpus ("zz", "yy") and repeat terms
      val corpus = (0L until nDocs.toLong).map(id => (id, text(rnd.nextInt(20))))
      val qids = rnd.shuffle((0L until nDocs + 3L).toList).take(1 + rnd.nextInt(5))
      val queries = qids.map { q =>
        (q, text(rnd.nextInt(6)) + (if (rnd.nextBoolean()) " zz a a" else " yy"))
      }
      val post = Bm25.index(corpus.toDF("doc_id", "text"), "doc_id", "text")
      val qdf = queries.toDF("query_id", "qtext")
      val k = 1 + rnd.nextInt(6)
      val qTerms = 1 + rnd.nextInt(6)
      val maxDf = if (rnd.nextBoolean()) Long.MaxValue else 1L + rnd.nextInt(nDocs)
      val excludeSelf = rnd.nextBoolean()
      val got = Bm25.topKFromIndex(post, qdf, "query_id", "qtext", k, qTerms,
        maxDf = maxDf, excludeSelf = excludeSelf).collect().toSet
      val want = fullDfTopK(post, qdf, k, qTerms, maxDf, excludeSelf).collect().toSet
      assert(got === want,
        s"trial $trial: nDocs=$nDocs k=$k qTerms=$qTerms maxDf=$maxDf excludeSelf=$excludeSelf")
    }
  }
}
