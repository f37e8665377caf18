package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TextPipeline
import graft.tools.DedupGuard

/** Degenerate-input behavior of the near-dup queries: dedup corpora are
  * duplicate-heavy by definition, and a bucket self-join without guards
  * goes quadratic on exactly the inputs dedup exists for. Two guards,
  * both asserted here end-to-end through the real q27/q29 plans:
  *
  *  - exact-duplicate pre-collapse (TextPipeline.exactGroups): identical
  *    documents never reach candidate generation — 10 000 byte-identical
  *    docs would otherwise put ~10⁸ candidate pairs through the verify
  *    join; collapsed, candidate generation sees ONE representative and
  *    the (inherently quadratic, but correct) within-group answer is
  *    reconstructed arithmetically, in bounded time.
  *  - bucket caps (ops.Dedup.capBuckets): distinct-content buckets over
  *    `graft.dedup.maxBucket` are dropped from candidate generation,
  *    loudly (DedupGuard counters + WARN) — never silently.
  */
class DedupGuardSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-dedup-guard")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Writes `texts` as a documents table in a fresh corpus dir. */
  private def corpus(texts: Seq[String]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-dedup").toFile.getAbsolutePath
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q27: 10k identical docs complete bounded via exact-dup collapse") {
    DedupGuard.reset()
    val n = 10000
    val dir = corpus(
      Seq.fill(n)("the same exact document body repeated verbatim") ++
        Seq("a completely different text about unrelated things entirely"))
    val out = TextPipeline.defs("q27_minhash_lsh")(spark, dir)
    // Every identical pair is a duplicate with jaccard exactly 1; the
    // unrelated doc pairs with nothing.
    assert(out.count() === n.toLong * (n - 1) / 2)
    assert(out.where(org.apache.spark.sql.functions.col("jac") =!= 1.0d)
      .count() === 0)
    // The collapse — not the cap — absorbed the degenerate input.
    assert(DedupGuard.skippedBuckets.get() === 0)
  }

  test("q53: clustering a duplicate-heavy corpus stays linear (star edges)") {
    DedupGuard.reset()
    val n = 10000
    val dir = corpus(
      Seq.fill(n)("the same exact document body repeated verbatim") ++
        Seq("a completely different text about unrelated things entirely"))
    // CC consumes star edges (member → rep), not the n²/2 expanded pair
    // list: one component of n docs, keep_id = min doc_id, in bounded
    // time. (Clustering the expanded q27 output would put ~5·10⁷ edges
    // through every propagation join here.)
    val out = TextPipeline.defs("q53_dedup_clusters")(spark, dir)
    val rows = out.collect()
    assert(rows.length === n)
    assert(rows.forall(r => r.getLong(1) === 0L && r.getLong(2) === n.toLong))
  }

  test("q29: oversized distinct-content blocks are dropped loudly") {
    DedupGuard.reset()
    // 50 DISTINCT documents sharing a blocking prefix (first three words):
    // one block of 50 > cap=10 — dropped, so no candidates survive, and
    // the drop is observable (counter + largest size).
    val dir = corpus(
      (0 until 50).map(i => s"common prefix words unique tail number $i"))
    spark.conf.set("graft.dedup.maxBucket", "10")
    try {
      val out = TextPipeline.defs("q29_ngram_jaccard")(spark, dir)
      assert(out.count() === 0)
      assert(DedupGuard.skippedBuckets.get() === 1)
      assert(DedupGuard.largestSkipped.get() === 50)
    } finally spark.conf.unset("graft.dedup.maxBucket")
  }

  test("q28: identical-signature floods trip the simhash chunk cap loudly") {
    DedupGuard.reset()
    import spark.implicits._
    // 50 near-identical documents (one trailing word varies) produce
    // identical or near-identical 48-bit signatures, so every chunk
    // bucket holds ~50 docs > cap=10: the self-join is dropped LOUDLY
    // instead of materializing ~8·50²/2 rows
    val docs = (0 until 50)
      .map(i => (i.toLong,
        "alpha beta gamma delta epsilon zeta eta theta anchor"))
      .toDF("doc_id", "text")
    spark.conf.set("graft.dedup.maxBucket", "10")
    try {
      val out = graft.ops.Dedup.simhashPairs(docs)
      assert(out.count() === 0)
      assert(DedupGuard.skippedBuckets.get() >= 1)
      assert(DedupGuard.largestSkipped.get() === 50)
    } finally spark.conf.unset("graft.dedup.maxBucket")
  }

  test("q53: 100-deep near-dup chain converges without tripping the guard") {
    DedupGuard.reset()
    // Sliding 41-word windows over one 440-word stream: consecutive docs
    // share all but one word, and 3-gram-shingle Jaccard stays ≥ 0.8 up
    // to a shift of 4 ((39−k)/(39+k) ≥ 0.8 ⟺ k ≤ 4), so the verified
    // pair graph is a ±4-neighbor chain of 400 docs. LSH banding
    // deterministically misses a handful of the weaker pairs (16 perms ×
    // 4 bands; a DuckDB replay of the identical arithmetic finds 1488
    // pairs forming chain components of 366 + 34 docs), so the pinned
    // property is the CONVERGENCE BOUND, not single-cluster membership:
    // a ~90-hop-diameter chain needs ~90 rounds of plain min-label
    // propagation (the 100-round guard's territory) but O(log d) ≈ 10
    // with the pointer-doubling accelerator.
    val stream = (0 until 440).map(i => s"w$i")
    val dir = corpus(
      (0 until 400).map(i => stream.slice(i, i + 41).mkString(" ")))
    val out = TextPipeline.defs("q53_dedup_clusters")(spark, dir)
    val rows = out.collect()
    assert(rows.length === 400) // every doc has ≥1 verified pair
    // the deep chain really chained (no quadratic blow-up, no guard trip)
    assert(rows.map(_.getLong(2)).max >= 300L)
    // pointer doubling closed a ~90-hop diameter in logarithmic rounds —
    // plain propagation would need one round per hop
    val it = graft.plans.Components.lastIterations
    assert(it <= 20, s"CC took $it rounds; pointer doubling regressed")
  }

  test("q67: bulk-duplicated corpus trips the band cap loudly, never quadratically") {
    DedupGuard.reset()
    // q67 deliberately has no exact-dup collapse (crawl batches are
    // small by definition), so the capBuckets guard is its ONLY defense
    // against a bulk-duplicated corpus: 3001 identical docs share every
    // band key, making each of the 4 band buckets 3001 > cap=2000 —
    // they must be dropped loudly (4 skipped keys) instead of putting
    // ~2400×601×4 pairs through the verify join.
    val n = 3001
    val dir = corpus(
      Seq.fill(n)("the same exact document body repeated verbatim") ++
        Seq("a completely different text about unrelated things entirely"))
    val out = TextPipeline.defs("q67_incremental_dedup")(spark, dir)
    assert(out.count() === 0)
    assert(DedupGuard.skippedBuckets.get() === 4)
    assert(DedupGuard.largestSkipped.get() === n.toLong)
  }

  test("q74: keep choice is exact at doc_id magnitudes past 2^40") {
    // The retired scalar argmax key (n_words·2^40 − doc_id) broke once
    // doc_id crossed 2^40: with doc_id_B = 2^40 + doc_id_A + 1 and one
    // extra word, B's key collapsed to nA·2^40 − doc_id_A − 1 — BELOW
    // A's — silently keeping the shorter doc. The struct-ordered key
    // has no arithmetic to overflow: the longer doc must win.
    import spark.implicits._
    val base = (0 until 20).map(i => s"tok$i").mkString(" ")
    val dir = Files.createTempDirectory("graft-dedup").toFile.getAbsolutePath
    Seq(
      (7L, base), // 20 words
      (1099511627784L + 1L, base + " extraword"), // 2^40 + 8 + 1; 21 words
      (9L, "a completely different text about unrelated things entirely"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextPipeline.defs("q74_quality_keep")(spark, dir).collect()
    assert(rows.length === 1)
    assert(rows.head.getLong(0) === 7L) // cluster_id = min doc_id
    assert(rows.head.getLong(1) === 2L)
    assert(rows.head.getLong(2) === 1099511627785L,
      "argmax kept the shorter doc — the overflow regression")
    assert(rows.head.getLong(3) === 21L)
  }

  test("q79: batch docs triage to exact / near / novel") {
    // ids 0..14 old corpus (cut = 19*4 div 5 = 15), 15..19 the batch:
    // 15 is a byte-identical re-crawl of old doc 2 (→ exact, even
    // though it also pairs in q67 — precedence), 16 is old doc 3 plus
    // one appended word (jaccard 18/19 → near), 17–19 are fresh
    // content (→ novel).
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-triage").toFile.getAbsolutePath
    def text(tag: String) = (0 until 20).map(i => s"$tag$i").mkString(" ")
    val docs = (0L until 20L).map {
      case 15L => 15L -> text("old2w")
      case 16L => 16L -> (text("old3w") + " appended")
      case 2L  => 2L -> text("old2w")
      case 3L  => 3L -> text("old3w")
      case i   => i -> text(s"fill${i}z")
    }
    docs.toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextPipeline.defs("q79_incremental_triage")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(15L -> "exact", 16L -> "near",
      17L -> "novel", 18L -> "novel", 19L -> "novel"))
  }

  test("q73: exact-dup group pairs audit at estimate exactly 1.0") {
    // Identical word sequences have identical signatures, so the
    // expanded within-group pairs must report est_jac = jac = 1.0 with
    // zero error — the signature-identity half of the expandRepPairs
    // exactness argument, observable through the audit.
    val dir = corpus(
      Seq.fill(5)("one exact duplicate body shared by the whole group") ++
        Seq("a completely different text about unrelated things entirely"))
    val rows = TextPipeline.defs("q73_minhash_est_audit")(spark, dir)
      .collect()
    assert(rows.length === 10) // C(5,2)
    assert(rows.forall(r => r.getDouble(2) === 1.0d &&
      r.getDouble(3) === 1.0d && r.getDouble(4) === 0.0d))
  }

  test("q81: a semantic mega-cluster drops from pairing loudly, never quadratically") {
    DedupGuard.reset()
    // q81's pairwise join is bounded per cluster; the deployment lever is
    // k ∝ N, and graft.semdedup.maxCluster is the backstop for the
    // degenerate case that lever can't anticipate (one semantic
    // mega-cluster). sf0.001 has 500 vectors over k=8 clusters (~62
    // each), so cap=10 makes real clusters oversized: they must drop
    // from candidate generation LOUDLY, their members surfacing as kept
    // — never a silent Σ|cluster|² blow-up, never lost rows.
    val dir = "/root/testdata/sf0.001"
    val dflt = graft.queries.Embeddings.defs("q81_semdedup")(spark, dir)
      .collect()
    assert(dflt.exists(!_.getBoolean(2))) // default run has real drops
    assert(DedupGuard.skippedBuckets.get() === 0) // ...without capping
    spark.conf.set("graft.semdedup.maxCluster", "10")
    try {
      val rows = graft.queries.Embeddings.defs("q81_semdedup")(spark, dir)
        .collect()
      assert(rows.length === dflt.length) // every member still reports
      assert(DedupGuard.skippedBuckets.get() > 0)
      val big = dflt.groupBy(_.getLong(1)).filter(_._2.length > 10).keySet
      assert(big.nonEmpty)
      // dropped clusters: all members kept (no pair evidence remains)
      rows.filter(r => big(r.getLong(1))).foreach { r =>
        assert(r.getBoolean(2) && r.isNullAt(3),
          s"vec ${r.getLong(0)} in a dropped cluster was not kept")
      }
      // clusters within the cap keep their exact default-run answer
      def small(a: Array[org.apache.spark.sql.Row]) = a
        .filter(r => !big(r.getLong(1)))
        .map(r => (r.getLong(0), r.getBoolean(2))).toSeq
      assert(small(rows) === small(dflt))
    } finally spark.conf.unset("graft.semdedup.maxCluster")
  }

  test("q88: the cap covers BOTH candidate sides — batch mates included") {
    DedupGuard.reset()
    // q88's earlier-id candidates (old members ∪ earlier batch mates)
    // pass through ONE capBuckets guard on the cluster's combined size:
    // an over-cap cluster generates no pairs from either side, so its
    // batch vectors surface as kept — q81's capped-cluster semantics,
    // with no silently-unguarded batch self-join left behind. cap=1
    // makes every ≥2-member cluster oversized: the drops must be loud
    // and the whole batch must report kept.
    val dir = "/root/testdata/sf0.001"
    val dflt = graft.queries.Embeddings
      .defs("q88_incremental_semdedup")(spark, dir).collect()
    assert(dflt.exists(!_.getBoolean(2))) // default run has real drops
    assert(DedupGuard.skippedBuckets.get() === 0) // ...without capping
    spark.conf.set("graft.semdedup.maxCluster", "1")
    try {
      val rows = graft.queries.Embeddings
        .defs("q88_incremental_semdedup")(spark, dir).collect()
      assert(rows.length === dflt.length) // every batch vec still reports
      assert(DedupGuard.skippedBuckets.get() > 0)
      rows.foreach { r =>
        assert(r.getBoolean(2) && r.isNullAt(3),
          s"vec ${r.getLong(0)} dropped by a capped cluster's pair")
      }
    } finally spark.conf.unset("graft.semdedup.maxCluster")
  }

  test("q27: band-bucket cap fires on real near-dup corpus when lowered") {
    DedupGuard.reset()
    // cap=1 makes EVERY ≥2-doc band bucket oversized: the sf0.001 corpus
    // has genuine near-dup pairs, so candidate generation must log drops
    // and emit nothing (no exact dups exist there to survive via the
    // within-group path).
    spark.conf.set("graft.dedup.maxBucket", "1")
    try {
      val out =
        TextPipeline.defs("q27_minhash_lsh")(spark, "/root/testdata/sf0.001")
      assert(out.count() === 0)
      assert(DedupGuard.skippedBuckets.get() > 0)
    } finally spark.conf.unset("graft.dedup.maxBucket")
  }
}
