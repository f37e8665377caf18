package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Par
import graft.functions.TextFunctions._

/** Public ranked-retrieval operators: BM25 over arbitrary corpus/query
  * frames. The q102/q105/q108 entries bind to these cores; scoring is
  * ONE definition, so the batch, incremental, and audit paths are
  * bit-identical by construction.
  */
object Retrieval {

  /** BM25 top-k retrieval of `corpus` documents for each `queries` row.
    * Terms are word 3-gram shingle hashes; scoring is real BM25
    * (k1=1.2, b=0.75) multiplied through to exact integer
    * parts-per-million with the integer-log2 idf surrogate — bit-exact
    * across engines (see the q102 entry comment for the derivation).
    * Candidate generation joins query terms only to df-capped posting
    * lists (`dfCap` — the WAND-style prune; a term in half the corpus
    * contributes ~nothing to BM25 but would drag the whole corpus into
    * the join; audit the recall cost with the q108 pattern).
    * `excludeSelf` drops corpus docs whose id equals the query id (for
    * corpus-sampled query sets). Output: (query_id, rank, doc_id,
    * score_ppm), k rows per query via the mergeable TopK aggregate —
    * k rows per query cross the wire, never a per-query corpus sort. */
  def bm25(corpus: DataFrame, queries: DataFrame, k: Int = 10,
      dfCap: Int = 16, corpusIdCol: String = "doc_id",
      corpusTextCol: String = "text", queryIdCol: String = "doc_id",
      queryTextCol: String = "text",
      excludeSelf: Boolean = false): DataFrame = {
    val c = corpus.select(col(corpusIdCol).as("doc_id"),
      col(corpusTextCol).as("text"))
    val q = queries.select(col(queryIdCol).as("doc_id"),
      col(queryTextCol).as("text"))
    Par.scope(q.sparkSession, "bm25") { p =>
      // the query-side term list is independent of the corpus tf/df
      // chain — materialize it on a concurrent task so its (small)
      // shingle pass overlaps the corpus-scale tf + stats actions
      // instead of serializing after them (guide §2.6; r18); a failed
      // corpus-side action cancels it
      val fQtf = p.async("query-terms") {
        shingleHashRows(q, 3)
          .select(col("doc_id").as("query_id"), col("h")).distinct()
          .localCheckpoint() // query-side term lists — query-set-bounded
      }
      val tf = shingleHashRows(c, 3)
        .groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("tf"))
        .localCheckpoint() // five consumers (dl/stats/tot/posting join/
        // scoring join) — re-deriving the shingle stream per consumer
        // measured slower than one executor-disk checkpoint
      val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      val stats = tf.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .localCheckpoint() // the df model — reused by prune + scoring
      val tot = tf.agg(sum(col("tf")).as("t_tok"),
        countDistinct(col("doc_id")).as("n_docs"))
      val qtf = fQtf.get
      val selfFilter =
        if (excludeSelf) col("doc_id") =!= col("query_id") else lit(true)
      val cand = qtf
        .join(stats.where(col("df") <= dfCap).select(col("h")), "h")
        .join(tf.select(col("doc_id"), col("h")), "h")
        .where(selfFilter)
        .select(col("query_id"), col("doc_id"))
        .distinct()
        .localCheckpoint() // df-cap-bounded: ≤ |query terms| · dfCap
      bm25Rank(cand
        .join(qtf, Seq("query_id"))
        .join(tf, Seq("doc_id", "h"))
        .join(stats, "h")
        .join(dl, "doc_id")
        .crossJoin(broadcast(tot)), k)
    }
  }

  /** The shared BM25 scoring tail: per-term integer-ppm scores summed
    * per (query, doc), then per-query top-k via the mergeable TopK.
    * Expects one row per shared term with columns (query_id, doc_id,
    * df, tf, dl, t_tok, n_docs). The incremental path's frozen-LM
    * parity with the batch path DEPENDS on the scoring expression being
    * this one definition. Output: (query_id, rank, doc_id, score_ppm),
    * ordered. */
  def bm25Rank(contrib0: DataFrame, k: Int): DataFrame = {
    val contrib = contrib0
      .select(col("query_id"), col("doc_id"),
        (length(bin(col("n_docs"))) - length(bin(col("df")))).as("idf"),
        least(col("tf"), lit(15)).as("tfp"),
        col("t_tok"), col("n_docs"), col("dl"))
      .select(col("query_id"), col("doc_id"),
        expr("""CAST((CAST(idf AS DECIMAL(38,0)) * 22 * tfp * t_tok
               |  * 1000000)
               | div (CAST(10 AS DECIMAL(38,0)) * t_tok * tfp
               |  + 3 * t_tok + 9 * dl * n_docs) AS BIGINT)"""
          .stripMargin).as("ppm"))
    topkTail(contrib.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("ppm")).as("score_ppm")), k)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009) —
    * the hybrid-retrieval default (sparse BM25 ⊕ dense ANN): each
    * input ranking contributes ⌊1e6 / (kRrf + rank)⌋ integer ppm per
    * (query, doc); contributions sum; the fused order is score DESC
    * with doc-id tie-break. Inputs are any frames carrying
    * (query_id, doc_id, rank) with rank 1 best — the whole retrieval
    * family emits the shape ([[bm25]], and the ANN ops after a
    * rename). Rank-only fusion deliberately ignores the raw scores:
    * BM25 ppm and cosine live on incomparable scales, and robustness
    * to that is RRF's entire point. Output: (query_id, rank, doc_id,
    * score_ppm), k rows per query.
    *
    * Scale shape: contributions are ≤ Σᵢ kᵢ rows per query — the
    * retrieval stages already reduced the corpus — so fusion is a
    * map-side-combinable integer sum plus the mergeable TopK tail;
    * nothing here rescans anything. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int = 10,
      kRrf: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking to fuse")
    require(k >= 1 && kRrf >= 0,
      s"need k >= 1 and kRrf >= 0 (got k=$k, kRrf=$kRrf)")
    val contrib = rankings.map(_.select(col("query_id"), col("doc_id"),
        floor(lit(1000000.0d) / (lit(kRrf) + col("rank").cast("double")))
          .cast("long").as("ppm")))
      .reduce(_ unionByName _)
    topkTail(contrib.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("ppm")).as("score_ppm")), k)
  }

  /** The shared final-ranking tail over a (query_id, doc_id,
    * score_ppm) frame: mergeable TopK aggregate, (score DESC, doc_id)
    * total order — ONE definition for BM25 and fused rankings. */
  private def topkTail(scored: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new graft.functions.TopK.TopKAgg(k),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[
        graft.functions.TopK.Scored]())
    scored
      .groupBy(col("query_id"))
      .agg(topk(col("score_ppm").cast("double"), col("doc_id"),
        lit(0L), lit(0L), lit(0L)).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "r")))
      .select(col("query_id"), (col("i") + 1).cast("long").as("rank"),
        col("r.k1").as("doc_id"),
        col("r.score").cast("long").as("score_ppm"))
      .orderBy("query_id", "rank")
  }
}
