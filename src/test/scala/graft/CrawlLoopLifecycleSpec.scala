package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Ingest
import graft.sources.{Memo, SideTable}

/** Lifecycle test of the public crawl loop — OpsApiSpec covers single
  * `Ingest` calls; this proves a USER can run multiple crawl epochs
  * purely through `graft.ops` + [[SideTable]] on a non-testdata schema
  * (page_id/site/body), with artifacts persisted, appended, and read
  * back between epochs, and that every epoch's record is IDENTICAL to
  * a from-scratch rebuild over the corpus-so-far:
  *
  *   - membership artifacts (signature bands, content keys, vocabulary)
  *     are ensured once and APPENDED per epoch — signatures are per-doc
  *     so an appended artifact equals a rebuilt one, and the key/term
  *     probes are semi-joins for which appended duplicates are harmless;
  *   - the snapshot family (BM25 postings/lexicon/lengths/stats, DSIR
  *     LMs, bigram LMs) is re-ensured per epoch under a VERSIONED key
  *     (counts cannot be appended as rows — the per-snapshot-rebuild
  *     discipline of q69/q105/q106/q107).
  *
  * Exact row equality across the parquet round-trip is the engine's
  * integer-exact scoring design (counts and ppm scores sum as longs;
  * doubles appear only in final per-row divisions).
  */
class CrawlLoopLifecycleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-crawl-lifecycle")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def docs(rows: (Long, String, String)*): DataFrame =
    rows.toDF("page_id", "site", "body")

  private val old = docs(
    (1L, "wiki", "the quick brown fox jumps over the lazy dog and " +
      "runs far away into the green forest where the small animals " +
      "live and play all day long under a warm summer sun"),
    (2L, "wiki", "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"),
    (3L, "crawl", "completely different content about spark catalyst " +
      "plans optimizers and shuffles with many extra words to pass " +
      "length gates and a few more of the usual tokens here"))

  private val batches = Seq(
    docs(
      (10L, "crawl", "the quick brown fox jumps over the lazy dog and " +
        "runs far away into the green forest where the small animals " +
        "live and play all day long under a warm summer sun"), // dup of 1
      (11L, "crawl", "entirely novel text mentioning catalyst " +
        "optimizers briefly while adding fresh unseen vocabulary like " +
        "zeppelin quasar nebula photon")),
    docs(
      (20L, "news", "entirely novel text mentioning catalyst " +
        "optimizers briefly while adding fresh unseen vocabulary like " +
        "zeppelin quasar nebula photon"), // dup of epoch-1's doc 11
      (21L, "news", "breaking report on weather patterns across the " +
        "mountain region with heavy snowfall expected through the " +
        "weekend and travel advisories posted for every northern pass")),
    docs(
      (30L, "wiki", "alpha beta gamma delta epsilon zeta eta theta " +
        "iota kappa lambda mu nu xi omicron pi rho sigma tau phi"), // near 2
      (31L, "wiki", "a fresh encyclopedia entry describing ancient " +
        "trade routes linking coastal harbors with inland markets " +
        "through caravan towns that prospered for many centuries")))

  test("3 epochs of build → score → append → score through " +
      "graft.ops + SideTable match a from-scratch rebuild per epoch") {
    val s = spark
    val dir = Files.createTempDirectory("graft_lifecycle_").toFile
    val prev = s.conf.getOption("graft.artifacts.dir")
    s.conf.set("graft.artifacts.dir", dir.getAbsolutePath)
    try {
      // epoch 0: build + persist the full index set from the old corpus
      val idx0 = Ingest.buildIndexes(old, target = "wiki", buckets = 64,
        idCol = "page_id", textCol = "body", srcCol = "site")
      val sigP = SideTable.ensure(s, "lc_sig", "base")(idx0.sigBands)
      val keyP = SideTable.ensure(s, "lc_keys", "base")(idx0.contentKeys)
      val vocP = SideTable.ensure(s, "lc_vocab", "base")(idx0.vocabTerms)

      def snapshot(k: Int, corpus: DataFrame): Map[String, String] = {
        val i = Ingest.buildIndexes(corpus, target = "wiki",
          buckets = 64, idCol = "page_id", textCol = "body",
          srcCol = "site")
        Map(
          "post" -> SideTable.ensure(s, "lc_post", s"snap$k")(
            i.bm25Postings),
          "lex" -> SideTable.ensure(s, "lc_lex", s"snap$k")(
            i.bm25Lexicon),
          "dl" -> SideTable.ensure(s, "lc_dl", s"snap$k")(i.bm25DocLens),
          "stats" -> SideTable.ensure(s, "lc_stats", s"snap$k")(
            i.bm25Stats),
          "ct" -> SideTable.ensure(s, "lc_ct", s"snap$k")(
            i.dsirTargetLm),
          "cr" -> SideTable.ensure(s, "lc_cr", s"snap$k")(i.dsirRawLm),
          "ctx" -> SideTable.ensure(s, "lc_ctx", s"snap$k")(
            i.bigramCtxLm),
          "big" -> SideTable.ensure(s, "lc_big", s"snap$k")(i.bigramLm))
      }

      var corpus = old
      for ((batch, k0) <- batches.zipWithIndex) {
        val k = k0 + 1
        // --- artifact-backed path: everything read back from parquet
        val snap = snapshot(k, corpus)
        val idx = Ingest.Indexes(
          sigBands = s.read.parquet(sigP),
          contentKeys = s.read.parquet(keyP),
          vocabTerms = s.read.parquet(vocP),
          bm25Postings = s.read.parquet(snap("post")),
          bm25Lexicon = s.read.parquet(snap("lex")),
          bm25DocLens = s.read.parquet(snap("dl")),
          bm25Stats = s.read.parquet(snap("stats")),
          dsirTargetLm = s.read.parquet(snap("ct")),
          dsirRawLm = s.read.parquet(snap("cr")),
          bigramCtxLm = s.read.parquet(snap("ctx")),
          bigramLm = s.read.parquet(snap("big")))
        val got = Ingest.scoreBatch(corpus, batch, idx, target = "wiki",
            buckets = 64, dfCap = 16, idCol = "page_id",
            textCol = "body", srcCol = "site")
          .orderBy("page_id").collect().toSeq
        // --- from-scratch path: rebuild everything in memory
        val fresh = Ingest.buildIndexes(corpus, target = "wiki",
          buckets = 64, idCol = "page_id", textCol = "body",
          srcCol = "site")
        val want = Ingest.scoreBatch(corpus, batch, fresh,
            target = "wiki", buckets = 64, dfCap = 16,
            idCol = "page_id", textCol = "body", srcCol = "site")
          .orderBy("page_id").collect().toSeq
        assert(got === want, s"epoch $k artifact-backed record diverged")
        // spot-check epoch semantics: batch 1 doc 10 duplicates old
        // doc 1; batch 2 doc 20 duplicates doc 11 ONLY once epoch 1's
        // append made the loop remember it
        if (k == 1) assert(got.find(_.getLong(0) == 10L).get
          .getAs[Int]("is_dup") === 1)
        if (k == 2) assert(got.find(_.getLong(0) == 20L).get
          .getAs[Int]("is_dup") === 1)
        if (k == 3) assert(got.find(_.getLong(0) == 31L).get
          .getAs[String]("triage") === "novel")
        // --- append: the membership artifacts absorb the batch delta
        SideTable.append(s, "lc_sig", "base")(
          Ingest.sigBandFrame(batch.selectExpr("page_id as doc_id",
            "site as source", "body as text")))
        SideTable.append(s, "lc_keys", "base")(
          Ingest.contentKeyFrame(batch.selectExpr("page_id as doc_id",
            "site as source", "body as text")))
        SideTable.append(s, "lc_vocab", "base")(
          Ingest.vocabTermFrame(batch.selectExpr("page_id as doc_id",
            "site as source", "body as text")))
        corpus = corpus.unionByName(batch)
      }
    } finally {
      prev.fold(s.conf.unset("graft.artifacts.dir"))(
        s.conf.set("graft.artifacts.dir", _))
      Memo.clearAll()
    }
  }

  test("3 epochs of span scoring vs the appended gram-set artifact " +
      "match a from-scratch rebuild per epoch") {
    val s = spark
    val dir = Files.createTempDirectory("graft_lifecycle_span_").toFile
    val prev = s.conf.getOption("graft.artifacts.dir")
    s.conf.set("graft.artifacts.dir", dir.getAbsolutePath)
    try {
      // the gram inventory is a membership set (h rows probed with a
      // semi-join), so the append discipline of contentKeys applies:
      // duplicate h rows from overlapping epochs are harmless
      val gP = SideTable.ensure(s, "lc_span", "base")(
        graft.ops.Dedup.spanGramFrame(old, k = 5, idCol = "page_id",
          textCol = "body"))
      var corpus = old
      for ((batch, k0) <- batches.zipWithIndex) {
        val k = k0 + 1
        val got = graft.ops.Dedup.spanDupScore(batch,
            s.read.parquet(gP), k = 5, idCol = "page_id",
            textCol = "body")
          .orderBy("page_id").collect().toSeq
        val want = graft.ops.Dedup.spanDupScore(batch,
            graft.ops.Dedup.spanGramFrame(corpus, k = 5,
              idCol = "page_id", textCol = "body"), k = 5,
            idCol = "page_id", textCol = "body")
          .orderBy("page_id").collect().toSeq
        assert(got === want, s"epoch $k span record diverged from " +
          "the from-scratch rebuild")
        val ratio = got.map(r => r.getLong(0) ->
          r.getAs[Double]("dup_ratio")).toMap
        // epoch semantics: doc 10 copies old doc 1 verbatim (ratio 1);
        // doc 20 copies EPOCH 1's doc 11 — dup only because epoch 1's
        // append taught the loop about it; doc 30 shares 19 of 20
        // words with old doc 2 (hits at gram positions 1..15 merge to
        // one 19-token extent → 19/20)
        if (k == 1) { assert(ratio(10L) === 1.0d)
          assert(ratio(11L) === 0.0d) }
        if (k == 2) { assert(ratio(20L) === 1.0d)
          assert(ratio(21L) === 0.0d) }
        if (k == 3) { assert(ratio(30L) === 0.95d)
          assert(ratio(31L) === 0.0d) }
        SideTable.append(s, "lc_span", "base")(
          graft.ops.Dedup.spanGramFrame(batch, k = 5,
            idCol = "page_id", textCol = "body"))
        corpus = corpus.unionByName(batch)
      }
    } finally {
      prev.fold(s.conf.unset("graft.artifacts.dir"))(
        s.conf.set("graft.artifacts.dir", _))
      Memo.clearAll()
    }
  }
}
