package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TextPipeline
import graft.sources.Memo

/** Long-lived sessions must not accumulate cached tables from queries
  * that cache intermediates for their own internal self-joins: the
  * near-dup pipelines materialize reusable results via localCheckpoint
  * (RDD blocks freed when the frame is GC'd) and unpersist every cached
  * frame before returning. Without this, a Verify-style 91-query loop or
  * a user session piles cached tables up until LRU eviction starts
  * thrashing executor memory. */
class CacheHygieneSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-cache-hygiene")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("near-dup queries leave no cached tables behind") {
    for (q <- Seq("q27_minhash_lsh", "q28_simhash", "q29_ngram_jaccard",
        "q53_dedup_clusters", "q31_ann_lsh", "q60_embedding_dedup",
        "q62_containment", "q67_incremental_dedup",
        "q80_kmeans", "q81_semdedup", "q82_quantized_ann",
        "q83_neardup_decontam", "q85_cluster_sample",
        "q86_incremental_assign", "q87_dedup_threshold_audit",
        "q88_incremental_semdedup", "q89_bloom_audit",
        "q90_rerank_ann", "q91_batch_ood", "q92_shuffle_manifest",
        "q93_curation_ledger", "q94_source_attribution",
        "q95_incremental_source_report", "q96_hard_negatives",
        "q97_ivf_balance", "q98_vocab_growth", "q99_triplet_mining",
        "q101_incremental_vocab", "q102_bm25_retrieval",
        "q103_bigram_surprisal", "q104_dsir_selection",
        "q105_incremental_bm25", "q106_incremental_dsir",
        "q107_incremental_bigram_lm", "q108_bm25_recall_audit")) {
      spark.catalog.clearCache()
      SparkEntry.queries(q)(spark, dir).count()
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$q left cached tables behind")
    }
  }

  test("q53 reuses the session's q27 pair computation (memo populated)") {
    Memo.clearAll()
    val memo = Memo.named("pair")
    assert(memo.size === 0)
    // q27 computes and stores under (session, documents file, cap);
    // q53's read-through lookup then finds that entry instead of
    // re-deriving the LSH pipeline (the memo contract: compute not run
    // when the key is present — the entry count staying at 1 proves key
    // identity, the hit count that q53 was served from it).
    val pairs = TextPipeline.defs("q27_minhash_lsh")(spark, dir)
    val pairDocs = pairs.select("d1").union(pairs.select("d2"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(memo.size === 1)
    val hits = memo.hits
    val clustered = TextPipeline.defs("q53_dedup_clusters")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(memo.size === 1)
    assert(memo.hits === hits + 1)
    // and the shared frames give the identical doc universe
    assert(clustered === pairDocs)
    Memo.clearAll()
  }
}
