package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Conf, Graft}
import graft.functions.TextFunctions._
import graft.sources.Memo

/** LLM-training-data text pipeline over the `documents` table — the
  * north-star operator family beyond the reference's EL scope
  * (SURVEY.md §7.2 step 7): quality stats, language ID, fingerprinting,
  * exact + MinHash/LSH + SimHash + n-gram-Jaccard deduplication.
  *
  * Scale design (100 TB): every per-document computation is a columnar
  * expression (no UDFs, no collect); every pairwise comparison is blocked
  * — MinHash via LSH band bucket-join, SimHash via 6-bit chunk bucket-join
  * (pigeonhole: hamming ≤ 7 ⇒ ≥1 of 8 chunks equal, so the banded join is
  * EXACTLY equivalent to the O(n²) all-pairs join for the hamming ≤ 6
  * filter), n-gram Jaccard via prefix blocking. The only shuffles are the
  * bucket joins on small derived keys.
  */
object TextPipeline {

  /** (doc_id, h): word-n-gram shingle hashes as ROWS, one row per shingle
    * occurrence, with no higher-order functions anywhere in the plan.
    * Shingles are built by posexploding the token stream and stitching
    * each token to its n-1 successors with window `lead` — every operator
    * (split, explode, window sort, concat, md5) is whole-stage-codegen'd.
    * The HOF `transform`-based path (shingleHashes) computes the same set but
    * runs interpreted: lambda expressions are excluded from codegen, and
    * the megamorphic interpreted tree is also hostage to JIT mood — the
    * same query measured 3 s to 90 s run-to-run. Codegen'd plans are
    * small monomorphic classes and time stably. Only docs with ≥3 words
    * participate (matches every dedup query's filter). */
  private def shingleRowsAll(s: SparkSession, dir: String, n: Int = 3): DataFrame =
    shingleHashRows(Graft.parquetSource(s, dir).table("documents"), n)

  /** Candidate pairs from rare-feature blocking — the shared seam of the
    * blocked-verify family (q62 containment, q65 TF-IDF similarity):
    * features with document frequency in [lo, hi] are the blocking keys;
    * two docs become a candidate pair iff they share one. The df ceiling
    * is the degenerate-key guard (a boilerplate feature present in a
    * million docs generates NO candidates — any feature yields at most
    * C(hi, 2) pairs), the floor drops singletons. `keyed` feeds both
    * sides of the self-join so it must be materialized — via
    * localCheckpoint, never `.cache()`: its row count is bounded per
    * feature but grows linearly with distinct corpus content, the
    * storage class SCALE.md forbids caching (checkpoint blocks live on
    * executor disk, lineage-truncated, freed on GC — the memory-pressure
    * window of the self-join never competes with the executor heap).
    * Returns (cand, candDocs), cand eagerly checkpointed. */
  private[queries] def rareFeatureCandidates(features: DataFrame,
      dfTable: DataFrame, lo: Int, hi: Int): (DataFrame, DataFrame) = {
    val keyed = features.join(
        dfTable.where(col("df") >= lo && col("df") <= hi).select(col("h")),
        "h")
      .select(col("doc_id"), col("h"))
      .localCheckpoint()
    val cand = keyed.as("a").join(keyed.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
      .localCheckpoint() // eager + tiny: read to build the candDocs
      // broadcast AND by the verify join
    val candDocs = cand.select(col("d1").as("doc_id"))
      .unionByName(cand.select(col("d2").as("doc_id"))).distinct()
    (cand, candDocs)
  }

  /** Exact-duplicate pre-collapse for the near-dup queries. Dedup corpora
    * are duplicate-heavy BY DEFINITION, and word-identical documents share
    * every band/block key, so feeding them straight into a bucket
    * self-join makes one bucket quadratic (10⁶ identical docs → 10¹²
    * candidate pairs before any filter). Collapsing each
    * identical-word-sequence group to its min-doc_id representative first
    * keeps candidate generation linear in DISTINCT content — and the
    * doc-level answer is recovered EXACTLY by
    * [[graft.ops.Dedup.expandRepPairs]]:
    * identical word sequences have identical shingle sets, hence
    * jaccard 1 within a group (passes any threshold) and identical
    * minhash signatures / band keys / block keys, hence cross-group
    * candidacy and similarity equal to their representatives'. All joins
    * here are doc-level (narrow rows, one per document) — the expensive
    * shingle stream is only ever built for representatives.
    * Returns (gk, doc_id, rep) for docs with ≥ `minWords` words.
    * Core: [[graft.ops.Dedup.exactGroups]]. */
  private[queries] def exactGroups(d: DataFrame, minWords: Int): DataFrame =
    graft.ops.Dedup.exactGroups(d, "doc_id", "text", minWords)

  /** Session-level memo of [[computeRepPairs]] results, keyed by
    * (session, documents file, bucket cap) — the inputs that determine
    * the answer. q27, the pair DETECTOR, always recomputes and refreshes
    * its entry, so its benchmarked cost is the real pipeline and never a
    * memo read;
    * q53, the pair CONSUMER, reuses the session's last computation — the
    * pairs-then-clusters session pattern pays the LSH pipeline ONCE (the
    * r4/r5 advice item: q53 used to re-derive all of q27 back-to-back).
    * Entries hold localCheckpoint-materialized frames and zero cached
    * catalog tables (computeRepPairs unpersists its intermediates), so
    * `spark.catalog.clearCache()` cannot half-invalidate one. */
  private val pairMemo = Memo[(DataFrame, DataFrame)]("pair")

  /** Trained BPE merge sequences per (session, dir, nMerges): q125
    * trains, q126 encodes with the same sequence — the pairMemo
    * discipline (a merge list is <= nMerges driver rows, metadata
    * grain). */
  private val bpeMemo = Memo[Seq[(Long, String, String, Long)]]("bpe")

  /** Merge count of the q125/q126 bindings (and their unrolled
    * oracles — the two MUST agree). */
  private val BpeMerges = 24

  /** Merge count of the q192/q193/q194 WordPiece bindings (and their
    * unrolled oracles — the two MUST agree). */
  private val WpMerges = 24

  /** WordPiece max word length (the BERT max_input_chars_per_word
    * rule: longer words encode as [UNK]) — interpolated into the
    * unrolled oracles. */
  private val WpMaxW = 16

  /** Trained WordPiece merge tables per (session, dir, nMerges): q192
    * trains, q193 encodes with the same merges — the bpeMemo
    * discipline (≤ nMerges driver rows, metadata grain). */
  private val wpMemo = Memo[Seq[(Long, String, String, Long, Long)]]("wp")

  private def wpMergesOf(s: SparkSession,
      dir: String): Seq[(Long, String, String, Long, Long)] =
    wpMemo(s, docsFile(dir), WpMerges)(
      graft.ops.Text.wordpieceVocab(
          Graft.parquetSource(s, dir).table("documents"), WpMerges)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getLong(4)))
        .toSeq)

  /** Unigram-LM knobs of the q155/q156 bindings — interpolated into
    * the unrolled oracles (the q150 oracle-pin discipline; a
    * deployment passes its own values to the op). */
  private val UlmMaxW = 16
  private val UlmMaxP = 4
  private val UlmMinFreq = 2L
  private val UlmRounds = 2
  private val UlmVSize = 1024

  // Knobs of the span, chunking, collocation and curation bindings,
  // each read by its binding and by its oracle (the same pin
  // discipline); a deployment passes its own values to the ops.

  /** Word-gram length of the span family (q128–q160, q134–q144). */
  private val SpanK = 5
  /** A gram is duplicated from this many corpus occurrences on. */
  private val SpanMinCount = 2L
  /** ExactSubstr's longest exact span; longer spans chain, clamped. */
  private val SubstrMaxSpan = 64
  /** Winnowing window (q139/q144), in grams. */
  private val WinnowW = 4
  /** q127's chunk window and stride, in tokens. */
  private val ChunkWindow = 16
  private val ChunkStride = 12
  /** q141: the fewest occurrences a reported pair has, and how many
    * top pairs are reported. */
  private val PmiMinCount = 5L
  private val PmiTopK = 100
  /** q116: hard negatives kept per query. */
  private val NegativesN = 5
  /** q138's uniform per-source token budget: ~half of each source at
    * the test SFs, so the cut provably bites. */
  private val BudgetPerSource = 1000L
  /** q118's per-source doc cap. q119's sits just above the per-source
    * old-doc count at the test cut, so BOTH its saturation path and
    * its remaining-slot path execute. */
  private val CapPerKey = 15
  private val CapPerKeyIncr = 22
  /** q142/q143's mixture temperature (0.5: the common
    * up-sample-the-tail choice, one IEEE sqrt in both engines) and
    * q143's total token budget. */
  private val MixAlpha = 0.5
  private val MixBudget = 10000L
  /** q149's curriculum stages. */
  private val CurrBuckets = 8

  /** Trained unigram vocabularies per (session, dir) — ≤ vocabSize
    * driver rows (vocabulary grain, the bpeMemo discipline): q155
    * trains, q156 encodes with the same vocabulary. */
  private val ulmMemo = Memo[Seq[(String, Long)]]("ulm")

  /** Session-level memo of the q159 ExactSubstr span frame, keyed by
    * (session, documents file) — the pairMemo discipline
    * applied to the suffix-grade detector: q159, the DETECTOR, always
    * recomputes and refreshes its entry (its benchmarked cost is the real
    * prefix-doubling pipeline, never a memo read); q160, the trim
    * CONSUMER, reuses the session's last span set. Entries hold the
    * localCheckpoint-materialized span frame (span grain — duplicated
    * extents only, ≪ corpus). */
  private val substrMemo = Memo[DataFrame]("substr")

  private def substrSpansOf(s: SparkSession, dir: String,
      refresh: Boolean): DataFrame = {
    def compute = graft.ops.Dedup.exactSubstrSpans(
        Graft.parquetSource(s, dir).table("documents"), SpanK, SubstrMaxSpan)
      .localCheckpoint()
    if (refresh) substrMemo.put(s, docsFile(dir))(compute)
    else substrMemo(s, docsFile(dir))(compute)
  }

  private def ulmVocabOf(s: SparkSession,
      dir: String): Seq[(String, Long)] =
    ulmMemo(s, docsFile(dir))(
      graft.ops.Text.unigramVocab(
          Graft.parquetSource(s, dir).table("documents"),
          UlmMaxP, UlmMinFreq, UlmRounds, UlmVSize, UlmMaxW)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq)

  private def bpeMergesOf(s: SparkSession,
      dir: String): Seq[(Long, String, String, Long)] =
    bpeMemo(s, docsFile(dir), BpeMerges)(
      graft.ops.Text.bpeVocab(
          Graft.parquetSource(s, dir).table("documents"), BpeMerges)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3)))
        .toSeq)

  /** The session's documents file — the input every text memo is
    * fingerprinted on. */
  private def docsFile(dir: String) = Some(s"$dir/documents.parquet")

  /** The session's rep pairs: read-through, or recomputed and stored
    * (`refresh`, the detector's path). The bucket cap folds into the
    * key. */
  private def repPairsOf(s: SparkSession, dir: String,
      refresh: Boolean = false): (DataFrame, DataFrame) = {
    val cap = Conf.DedupMaxBucket(s)
    if (refresh) pairMemo.put(s, docsFile(dir), cap)(computeRepPairs(s, dir))
    else pairMemo(s, docsFile(dir), cap)(computeRepPairs(s, dir))
  }

  /** Physical plan of q83's last candidate join, captured for the plan
    * test that proves the eval bands broadcast (the train corpus's
    * bands never shuffle for candidate generation). */
  @volatile private[graft] var lastDecontamPlan: String = ""


  /** The shared MinHash+LSH candidate/verify pipeline (q27 + q53):
    * exact-dup collapse → 16-perm minhash over representatives → 4×4
    * banded bucket-join (capped) → exact-Jaccard verification ≥ 0.8.
    * Returns (members, repPairs): the exact-group membership frame (gk,
    * doc_id, rep) and the verified representative-level pairs (d1, d2,
    * jac). q27 expands these to the full doc-level pair answer; q53 feeds
    * them to connected components WITHOUT expansion (star edges keep the
    * CC input linear in duplicates).
    *
    * Runs EAGERLY: the returned frames are localCheckpoint-materialized
    * (lineage truncated, memo-reusable) and every cached intermediate is
    * unpersisted before returning — a long-lived session accumulates no
    * cached tables from this pipeline. */
  private def computeRepPairs(s: SparkSession,
      dir: String, minJac: Double = 0.8): (DataFrame, DataFrame) =
    graft.ops.Dedup.repPairs(
      Graft.parquetSource(s, dir).table("documents"), minJac)

  /** The persisted banded-signature artifact behind q67 — the
    * production shape of incremental dedup: the corpus's LSH index
    * (doc_id, band_idx, band_key) is written once per corpus snapshot
    * via [[graft.sources.SideTable]] and every subsequent crawl batch
    * dedups against the artifact without re-shingling the old corpus. */
  private[graft] def signatureIndex(s: SparkSession, dir: String,
      cut: Long): String =
    graft.sources.SideTable.ensure(s, "sig_index", s"$dir#$cut",
        Some(s"$dir/documents.parquet")) {
      val d = Graft.parquetSource(s, dir).table("documents")
      graft.ops.Ingest.sigBandFrame(d.where(col("doc_id") < cut))
    }

  /** The persisted distinct content-key artifact shared by q79's triage
    * and q95's dup counters (same name + identity ⇒ built once per
    * snapshot): md5 of each old-corpus doc's word sequence. */
  private[graft] def contentKeyIndex(s: SparkSession, dir: String,
      cut: Long): String =
    graft.sources.SideTable.ensure(s, "content_keys", s"$dir#$cut",
        Some(s"$dir/documents.parquet")) {
      graft.ops.Ingest.contentKeyFrame(
        Graft.parquetSource(s, dir).table("documents")
          .where(col("doc_id") < cut))
    }

  /** Physical plan of q67's last candidate bucket-join, captured for the
    * plan test that proves the old-corpus side reads the artifact (no
    * shingle generator above that scan). */
  @volatile private[graft] var lastIncrementalPlan: String = ""

  /** Post-append row count of q76's accumulated-state artifact after
    * each epoch — the observable behind StreamingSpec's pin that the
    * artifact really grows per epoch (i.e. the state transition is the
    * side-table append, not an in-session union chain). */
  private[graft] val streamSeenRows =
    new java.util.concurrent.atomic.AtomicReference[Vector[Long]](
      Vector.empty)

  // Stopword seeds / trigram profile live with the public lang-ID op;
  // the oracle-SQL builders below reference the same single definition.
  private def langs = graft.ops.Text.langs
  private def enTrigrams = graft.ops.Text.enTrigrams

  /** The q186/q187 benchmark set, derived deterministically from the
    * corpus so the oracle can rebuild it: the first 20 docs, odd ids
    * with their word order REVERSED (reversed 13-grams almost never
    * recur, so odds are the "clean" eval items; evens are verbatim
    * corpus text — fully contaminated). */
  private def contamBench(d: DataFrame): DataFrame = {
    val w = graft.functions.TextFunctions.words(col("text"))
    d.where(col("doc_id") < 20 && col("text").isNotNull)
      .select(col("doc_id").as("bench_id"),
        when(col("doc_id") % 2 === 1, concat_ws(" ", reverse(w)))
          .otherwise(col("text")).as("text"))
  }

  /** The q187 frozen gram inventory (k = 13 over the old corpus) —
    * persisted once per (dir, cut). */
  private[graft] def contamGramIndex(s: SparkSession, dir: String,
      cut: Long): String =
    graft.sources.SideTable.ensure(s, "contam_grams", s"$dir#$cut",
        Some(s"$dir/documents.parquet")) {
      graft.ops.Dedup.spanGramFrame(
        Graft.parquetSource(s, dir).table("documents")
          .where(col("doc_id") < cut), k = 13)
    }

  /** The q198 frozen blocking index (per-doc distinct 5-gram rows over
    * the old corpus) — persisted once per (dir, cut) via the public
    * frame definition ([[graft.ops.Dedup.docGramFrame]]). */
  private[graft] def auditGramIndex(s: SparkSession, dir: String,
      cut: Long): String =
    graft.sources.SideTable.ensure(s, "audit_doc_grams", s"$dir#$cut#k5",
        Some(s"$dir/documents.parquet")) {
      graft.ops.Dedup.docGramFrame(
        Graft.parquetSource(s, dir).table("documents")
          .where(col("doc_id") < cut), k = 5)
    }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- q186: benchmark decontamination (the 13-gram rule) ------------
    // [[graft.ops.Dedup.contamination]]: per eval item, the fraction
    // of its 13-grams present anywhere in the corpus (Brown et al.
    // 2020 App. C / Touvron et al. 2023 §5.1 — the published
    // decontamination convention). Even bench ids are verbatim corpus
    // docs (hit_ppm = 1e6); odd ids are word-reversed (≈ clean).
    "q186_contamination" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      graft.ops.Dedup.contamination(d, contamBench(d), k = 13)
        .orderBy("bench_id")
    }),

    // ---- q187: incremental contamination vs the frozen inventory -------
    // The crawl-loop form: the snapshot persists the k = 13 distinct-
    // gram inventory; each epoch unions the batch's own grams
    // (distinct hash sets — lossless) and re-checks the FIXED
    // benchmark against the grown corpus with zero old-document
    // reads. Union ≡ from-scratch, so the oracle is q186's.
    "q187_incremental_contamination" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      val cut = BatchCut.cut(s, d)
      val merged = s.read.parquet(contamGramIndex(s, dir, cut))
        .unionByName(graft.ops.Dedup.spanGramFrame(
          d.where(col("doc_id") >= cut), k = 13))
      graft.ops.Dedup.contaminationOf(merged, contamBench(d), k = 13)
        .orderBy("bench_id")
    }),

    // ---- q196: contamination audit (longest shared verbatim run) -------
    // The q70/q73 audit discipline applied to decontamination
    // ([[graft.ops.Dedup.contaminationAudit]]): q186 reports how much
    // of each eval item exists SOMEWHERE; this reports WHERE and how
    // LONG a verbatim span — per candidate pair (shared-5-gram
    // blocking, bounded top-3 per item by shared-gram count), the
    // exact longest common contiguous token run via diagonal
    // gaps-and-islands. Verbatim items report their source doc at
    // run_ppm = 1e6; reversed items share no 5-gram and are absent.
    "q196_contamination_audit" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      graft.ops.Dedup.contaminationAudit(d, contamBench(d), k = 5,
          topN = 3)
        .orderBy("bench_id", "doc_id")
    }),

    // ---- q198: incremental contamination audit vs the frozen index -----
    // q196 as the crawl loop runs it: the snapshot persists the
    // per-doc distinct-gram BLOCKING index ([[auditGramIndex]] —
    // (doc_id, h) rows, which union losslessly with the batch's own
    // over disjoint doc sets, so epoch-N ≡ from-scratch bit-for-bit);
    // committed documents are never re-hashed, and their TEXT is
    // re-read only for the ≤ |bench|·topN capped candidates the audit
    // must actually quote (broadcast-id point lookups).
    "q198_incremental_contamination_audit" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      val cut = BatchCut.cut(s, d)
      val merged = s.read.parquet(auditGramIndex(s, dir, cut))
        .unionByName(graft.ops.Dedup.docGramFrame(
          d.where(col("doc_id") >= cut), k = 5))
      graft.ops.Dedup.contaminationAuditOf(merged, d, contamBench(d),
          k = 5, topN = 3)
        .orderBy("bench_id", "doc_id")
    }),

    // ---- q23: per-document quality statistics --------------------------
    // Thin binding over the public op ([[graft.ops.Text.stats]]).
    "q23_text_stats" -> ((s, dir) =>
      graft.ops.Text.stats(
          Graft.parquetSource(s, dir).table("documents"))
        .withColumnRenamed("n_chars", "n_chars_calc")
        .orderBy("doc_id")),

    // ---- q24: stopword-ratio language ID, fixed-priority argmax --------
    // Thin binding over the public op ([[graft.ops.Text.langId]]): the
    // claimed-language column rides through the op's passthrough; see
    // the op for the codegen/distinct-once shape notes.
    "q24_lang_id" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      graft.ops.Text.langId(
          d.select(col("doc_id"), col("lang").as("lang_claimed"),
            col("text")))
        .orderBy("doc_id")
    }),

    // ---- q25: order-sensitive rolling document fingerprint -------------
    // Same value as TextFunctions.fingerprint's left fold
    // (acc·31 + h_i mod p), computed positionally: the fold expands to
    // Σ h_i·31^(n−1−i) mod p, so each exploded token contributes one
    // codegen'd term (h · 31^(n−pos−1) mod p via a precomputed power
    // table) and a SUM aggregate replaces the interpreted lambda fold.
    // Commutative terms also mean map-side partial aggregation — the
    // sequential fold shape couldn't partial-agg at all.
    "q25_fingerprint" -> ((s, dir) =>
      graft.ops.Text.fingerprint(
          Graft.parquetSource(s, dir).table("documents"))
        .orderBy("doc_id")),

    // ---- q26: exact dedup by normalized content hash -------------------
    // Thin binding over the public op ([[graft.ops.Dedup.exact]]).
    "q26_exact_dedup" -> ((s, dir) =>
      graft.ops.Dedup.exact(
          Graft.parquetSource(s, dir).table("documents"))
        .orderBy("keep_id")),

    // ---- q27: MinHash + LSH near-duplicate pairs -----------------------
    // 16 perms, 4 bands × 4 rows; candidates = band-bucket join among
    // exact-duplicate-group REPRESENTATIVES only ([[exactGroups]] — the
    // duplicate-heavy-input guard), buckets capped ([[capBuckets]] — the
    // degenerate-key guard); verified with exact Jaccard ≥ 0.8 on the
    // 3-gram shingle sets, then expanded back to the doc-level answer
    // ([[graft.ops.Dedup.expandRepPairs]] — exact, not approximate).
    "q27_minhash_lsh" -> ((s, dir) => {
      // The detector always recomputes (and refreshes the memo for q53):
      // its reported cost is the real pipeline, never a memo read.
      val pair = repPairsOf(s, dir, refresh = true)
      graft.ops.Dedup.expandRepPairs(pair._1, pair._2)
        .orderBy("d1", "d2")
    }),

    // ---- q28: SimHash near-duplicate pairs (banded, exact-equivalent) --
    // 48-bit simhash; join on 8 chunks of 6 bits; hamming ≤ 6 < 7 chunks'
    // pigeonhole bound ⇒ identical result to all-pairs (the oracle).
    // Thin binding over the public op ([[graft.ops.Dedup.simhashPairs]]
    // — see the op for the packed-vote codegen shape notes).
    "q28_simhash" -> ((s, dir) =>
      graft.ops.Dedup.simhashPairs(
          Graft.parquetSource(s, dir).table("documents"))
        .orderBy("d1", "d2")),

    // ---- q39: deterministic train/val/test split -----------------------
    // Hash-range assignment (80/10/10) — reproducible on any engine or
    // cluster size, unlike rand(): the split of a document never changes
    // when data is repartitioned or reprocessed. Core training-data op.
    // Thin binding over the public op ([[graft.ops.Curate.hashSplit]]).
    "q39_hash_split" -> ((s, dir) =>
      graft.ops.Curate.hashSplit(
          Graft.parquetSource(s, dir).table("documents"))
        .select(col("doc_id"), col("lang"), col("split"))
        .orderBy("doc_id")),

    // ---- q40: stratified sample — first k per language by hash order ---
    // Deterministic per-stratum sampling: rank by content hash (stable,
    // uniform) inside each language, keep 5. Shuffles only the small
    // (lang, hash) projection, never the payloads.
    "q40_stratified_sample" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      val w = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
      d.select(col("doc_id"), col("lang"), hash60(col("text")).as("h"))
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 5)
        .select(col("doc_id"), col("lang"), col("rnk"))
        .orderBy("lang", "rnk")
    }),

    // ---- q47: weighted source mixing -----------------------------------
    // Per-source sampling rates via hash ranges (even sources 80%, odd
    // 30%) — the deterministic "data mixing" step of a training pipeline:
    // reproducible at any parallelism, no rand(), restartable.
    "q47_weighted_mix" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      val srcNum = regexp_extract(col("source"), "src(\\d+)", 1).cast("int")
      val rate = when(srcNum % 2 === 0, 80).otherwise(30)
      val kept = pmod(hash60(concat(col("text"), col("source"))), lit(100L))
        .lt(rate)
      d.groupBy(col("source"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(kept, 1L).otherwise(0L)).as("n_kept"))
        .orderBy("source")
    }),

    // ---- q48: intra-document repetition score --------------------------
    // Fraction of repeated 3-grams (1 − distinct/total) — the classic
    // "repetitious text" quality filter of LLM-pretraining pipelines.
    // Pure partial-aggregatable counts; no pairwise work at all.
    "q48_repetition" -> ((s, dir) => {
      shingleRowsAll(s, dir)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_sh"), countDistinct(col("h")).as("n_uniq"))
        .select(col("doc_id"), col("n_sh"), col("n_uniq"),
          (lit(1) - col("n_uniq").cast("double") / col("n_sh").cast("double"))
            .as("rep_ratio"))
        .orderBy("doc_id")
    }),

    // ---- q49: deterministic sequence packing ---------------------------
    // Thin binding over the public op ([[graft.ops.Curate.pack]]): the
    // concat-and-chunk packing step of LLM pretraining — see the op for
    // the shard-parallel layout and restart-stability notes.
    "q49_sequence_pack" -> ((s, dir) =>
      graft.ops.Curate.pack(
          Graft.parquetSource(s, dir).table("documents"),
          seqLen = 512, shards = 32)
        .orderBy("shard", "start_off", "doc_id")),

    // ---- q52: benchmark-contamination detection ------------------------
    // Which training documents contain eval-set 5-grams? (doc_id < 20
    // stands in for the benchmark corpus.) The eval side of a real
    // pipeline is tiny versus 100 TB of training text, so its distinct
    // 5-gram hash set BROADCASTS; the training side streams through a
    // broadcast-hash left join and a map-side-combinable per-doc count —
    // the corpus is never shuffled at all (only the per-doc aggregate
    // moves). Catches both verbatim leaks (contamination = 1.0) and
    // partial quote-level overlap.
    "q52_contamination" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      val sg = shingleHashRows(d, 5).distinct()
      val ev = sg.where(col("doc_id") < 20).select(col("h")).distinct()
        .withColumn("hit", lit(1))
      val tr = sg.where(col("doc_id") >= 20)
      tr.join(broadcast(ev), Seq("h"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("hit"), lit(0))).as("n_shared"))
        .where(col("n_shared") > 0)
        .select(col("doc_id"), col("n_grams"), col("n_shared"),
          (col("n_shared").cast("double") / col("n_grams").cast("double"))
            .as("contamination"))
        .orderBy("doc_id")
    }),

    // ---- q53: near-dup pairs → dedup clusters + canonical keep list ----
    // The step that makes pair detection actionable: connected components
    // over the verified q27 pairs ([[graft.plans.Components]] — min-label
    // propagation with pointer doubling, O(log diameter) rounds,
    // checkpoint-per-iteration), then keep_id = the component's minimum
    // doc_id. Oracle: a DuckDB recursive-CTE transitive closure — an
    // independent formulation of the same components.
    "q53_dedup_clusters" -> ((s, dir) => {
      // CC consumes the UNEXPANDED near-dup graph: verified
      // representative pairs plus one STAR edge (member → rep) per
      // exact-duplicate group member. Components and min labels are
      // identical to clustering q27's expanded pair list (a group is a
      // clique there, a star here — same reachable sets), but the edge
      // count is |rep pairs| + |exact-dup docs|: LINEAR in duplicates,
      // where the expanded within-group pairs are quadratic per group —
      // exactly the blow-up the duplicate-heavy 100 TB input produces.
      // Pairs come from the session memo when q27 already derived them in
      // this session (the r4/r5 advice item — pairs-then-clusters used to
      // pay the full LSH pipeline twice back-to-back); a cold session
      // computes and stores them here.
      val (members, repPairs) = repPairsOf(s, dir)
      val starEdges = members.where(col("doc_id") =!= col("rep"))
        .select(col("doc_id").as("d1"), col("rep").as("d2"))
      val pairs = repPairs.select(col("d1"), col("d2"))
        .unionByName(starEdges)
      graft.plans.Components.keepList(pairs)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // ---- q55: per-document top-k term frequency ------------------------
    // The "characteristic terms" primitive of vocab/tokenizer pipelines:
    // explode → per-(doc, term) count (map-side combinable) → top-3 per
    // doc. The window partitions by doc_id with group size bounded by a
    // document's distinct-term count — per-key bounded windows distribute
    // evenly at any corpus size (unlike the per-QUERY windows q30/q46
    // replaced, whose partition count was tiny and data-proportional).
    "q55_term_frequency" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      val tf = d.select(col("doc_id"), explode(words(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("n").desc, col("term"))
      tf.withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk"), col("term"), col("n"))
        .orderBy("doc_id", "rnk")
    }),

    // ---- q56: corpus vocabulary with document frequency ----------------
    // The vocab-building step of tokenizer training: per-term document
    // frequency + total occurrences, min-df filtered, top-30. Pure
    // wordcount shape — every aggregate is map-side combinable and the
    // final top-30 is a TakeOrderedAndProject, so at 100 TB only
    // per-task partial (term, df, tf) triples cross the wire.
    "q56_vocabulary" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      d.select(col("doc_id"), explode(words(col("text"))).as("term"))
        .groupBy(col("term"))
        .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("tf"))
        .where(col("df") >= 5)
        .orderBy(col("df").desc, col("term"))
        .limit(30)
    }),

    // ---- q98: vocabulary-growth (Heaps-law) audit ----------------------
    // The tokenizer-sizing op: how fast does the vocabulary grow as the
    // corpus accretes? The corpus splits into 4 equal doc_id quartiles
    // (the crawl-order proxy — doc_id is ingest order) and every term is
    // charged to the quartile where it FIRST appears, so cumulative
    // vocab_size at quartile Q is exact without ever re-scanning prefix
    // Q's documents: first-seen = min(quartile) per term is ONE map-side
    // combinable groupBy over the token stream (quartile is monotone in
    // doc_id, so min(quartile) ≡ quartile(min doc_id)), vs the naive
    // per-prefix count(DISTINCT term) which rescans O(prefixes·corpus).
    // A flattening new_terms column is the "vocab saturated" signal; a
    // linear one means the tokenizer's vocab budget is undersized for
    // the incoming distribution. Everything is exact integers; the ≤
    // 4-row cumulative window is report-grain, never corpus-grain.
    "q98_vocab_growth" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      val mxF = d.agg(max(col("doc_id")).as("mx"))
      val db = d.crossJoin(broadcast(mxF))
        .select(col("doc_id"), col("text"),
          (expr("(doc_id * 4) div (mx + 1)").cast("int") + lit(1))
            .as("quartile"))
      val first = db
        .select(col("quartile"), explode(words(col("text"))).as("term"))
        .groupBy(col("term"))
        .agg(min(col("quartile")).as("quartile"))
      val newTerms = first.groupBy(col("quartile"))
        .agg(count(lit(1)).as("new_terms"))
      val docStats = db.groupBy(col("quartile"))
        .agg(count(lit(1)).as("d_docs"),
          sum(when(col("text").isNull, lit(0))
            .otherwise(size(words(col("text"))))).cast("long")
            .as("d_tokens"))
      val w = Window.orderBy("quartile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docStats.join(newTerms, Seq("quartile"), "left")
        .select(col("quartile"), col("d_docs"), col("d_tokens"),
          coalesce(col("new_terms"), lit(0L)).as("new_terms"))
        .select(col("quartile"),
          sum(col("d_docs")).over(w).cast("long").as("n_docs"),
          sum(col("d_tokens")).over(w).cast("long").as("n_tokens"),
          sum(col("new_terms")).over(w).cast("long").as("vocab_size"),
          col("new_terms"))
        .orderBy("quartile")
    }),

    // ---- q125: BPE vocabulary induction (tokenizer training) -----------
    // Thin binding over [[graft.ops.Text.bpeVocab]] — the iterative
    // pair-merge loop of subword tokenizer training. The oracle unrolls
    // the same loop as MATERIALIZED CTEs (the kmeans-oracle
    // discipline); both sides share the total tie-break (freq DESC,
    // left ASC, right ASC), so the merge sequence is byte-identical.
    "q125_bpe_vocab" -> ((s, dir) => {
      import s.implicits._
      bpeMergesOf(s, dir)
        .toDF("merge_rank", "left_sym", "right_sym", "pair_freq")
        .orderBy("merge_rank")
    }),

    // ---- q126: BPE tokenizer inference over the corpus -----------------
    // [[graft.ops.Text.bpeEncode]] with q125's trained merges (shared
    // via the session memo): one fully codegen'd chained-replace
    // projection per document; output compares the token count and the
    // md5 of the full token string, so the oracle checks the complete
    // tokenization without array columns.
    "q126_bpe_encode" -> ((s, dir) => {
      val merges = bpeMergesOf(s, dir).map(m => (m._2, m._3))
      graft.ops.Text.bpeEncode(
          Graft.parquetSource(s, dir).table("documents"), merges)
        .select(col("doc_id"),
          col("n_tokens").cast("long").as("n_tokens"),
          md5(col("tokens")).as("tok_md5"))
        .orderBy("doc_id")
    }),

    // ---- q127: sliding-window document chunking ------------------------
    // Thin binding over [[graft.ops.Text.chunk]] — overlapping
    // window/stride token chunks (the RAG / fixed-context splitting
    // primitive). Output pins position, length and the md5 of every
    // chunk's full text, so the oracle checks the complete chunking
    // without long string columns. Knobs: [[ChunkWindow]] /
    // [[ChunkStride]].
    "q127_chunk" -> ((s, dir) => {
      graft.ops.Text.chunk(Graft.parquetSource(s, dir).table("documents"),
          ChunkWindow, ChunkStride)
        .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
          col("n_tok"), md5(col("chunk_text")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // ---- q128: repeated-substring extents (span-level dedup) -----------
    // Thin binding over [[graft.ops.Dedup.spanDups]] — the Lee-et-al
    // span dedup signal at word-5-gram grain: per document, the
    // corpus-duplicated gram positions merged into maximal extents.
    // Knobs: [[SpanK]] / [[SpanMinCount]].
    "q128_span_dups" -> ((s, dir) => {
      graft.ops.Dedup.spanDups(Graft.parquetSource(s, dir).table("documents"),
          SpanK, SpanMinCount)
        .orderBy("doc_id")
    }),

    // ---- q129: incremental span scoring vs the persisted gram set ------
    // q128 as the crawl loop runs it (the q114 frozen-artifact shape):
    // the old corpus's distinct 5-gram inventory persists per snapshot
    // ([[graft.ops.Dedup.spanGramFrame]]); each batch doc reports the
    // merged extents of spans ALREADY PRESENT in the snapshot
    // ([[graft.ops.Dedup.spanDupScore]] — batch keys broadcast against
    // the artifact scan, hits broadcast back, zero old-document reads,
    // batch-proportional cost). Batch-internal repetition deliberately
    // does NOT count — novelty is judged against the committed corpus
    // alone (two batch docs sharing a novel span both score it fresh;
    // the NEXT snapshot owns it).
    "q129_incremental_span_dups" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      val cut = BatchCut.cut(s, d)
      val gPath = spanGramIndex(s, dir, cut)
      graft.ops.Dedup.spanDupScoreImpl(d.where(col("doc_id") >= cut),
          s.read.parquet(gPath), SpanK, "doc_id", "text",
          capture = true) // the q129 plan pin reads the capture
        .orderBy("doc_id")
    }),

    // ---- q132: span-dedup trimming (act on q128's signal) --------------
    // Thin binding over [[graft.ops.Dedup.spanTrim]] — rewrite every
    // document with its corpus-duplicated extents REMOVED (the
    // Lee-et-al remediation); fully-duplicated docs come out empty
    // with n_removed = n_words. Same knobs as q128.
    "q132_span_trim" -> ((s, dir) => {
      graft.ops.Dedup.spanTrim(Graft.parquetSource(s, dir).table("documents"),
          SpanK, SpanMinCount)
        .orderBy("doc_id")
    }),

    // ---- q155: unigram-LM tokenizer induction (SentencePiece-style) ----
    // Thin binding over [[graft.ops.Text.unigramVocab]] — hard-EM
    // unigram LM vocabulary induction (Kudo 2018) completing the
    // tokenizer family next to BPE (q125): substring seed, then
    // bounded rounds of deterministic Viterbi E-steps (integer
    // surprisal costs, total-order tie-breaks) and prune-to-size
    // M-steps. The oracle unrolls every DP position and EM round as
    // MATERIALIZED CTEs (the kmeans/clf oracle discipline).
    "q155_unigram_vocab" -> ((s, dir) => {
      import s.implicits._
      ulmVocabOf(s, dir).toDF("piece", "n").orderBy("piece")
    }),

    // ---- q156: unigram-LM tokenizer inference ---------------------------
    // [[graft.ops.Text.unigramEncode]] with q155's vocabulary (session
    // memo): every DISTINCT word Viterbi-segments once
    // (vocabulary-bounded), the corpus encode is a broadcast join of
    // the token stream against the segmentation table + per-doc
    // position-ordered reassembly. Output pins the complete
    // tokenization via md5 (the q126 convention).
    "q156_unigram_encode" -> ((s, dir) => {
      import s.implicits._
      val vocab = ulmVocabOf(s, dir).toDF("piece", "n")
      graft.ops.Text.unigramEncode(
          Graft.parquetSource(s, dir).table("documents"), vocab,
          UlmMaxP, UlmMaxW)
        .select(col("doc_id"),
          col("n_tokens"), md5(col("tokens")).as("tok_md5"))
        .orderBy("doc_id")
    }),

    // ---- q157: incremental unigram encode vs the persisted vocabulary --
    // q156 as the crawl loop runs it — the q133 discipline applied to
    // the unigram side: the snapshot's vocabulary persists (≤ vocabSize
    // rows via the public [[graft.ops.Text.unigramVocab]] frame;
    // retraining per batch would silently re-tokenize committed data),
    // each batch doc encodes through the FROZEN pieces, and fertility
    // (tokens/word) is the drift number a deployment watches. Closes
    // the {train, infer, incremental} triangle for BOTH tokenizer
    // algorithms.
    "q157_incremental_unigram_encode" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      val cut = BatchCut.cut(s, d)
      val vPath = ulmVocabIndex(s, dir, cut)
      val batch = d.where(col("doc_id") >= cut)
      val nw = batch
        .where(col("text").isNotNull && length(trim(col("text"))) > 0)
        .select(col("doc_id"), wordCount(col("text")).as("n_words"))
      graft.ops.Text.unigramEncode(batch, s.read.parquet(vPath),
          UlmMaxP, UlmMaxW)
        .join(nw, Seq("doc_id"))
        .select(col("doc_id"), col("n_words").cast("long").as("n_words"),
          col("n_tokens"),
          (col("n_tokens").cast("double") / col("n_words").cast("double"))
            .as("fertility"),
          md5(col("tokens")).as("tok_md5"))
        .orderBy("doc_id")
    }),

    // ---- q192: WordPiece tokenizer induction (BERT-style) --------------
    // Thin binding over [[graft.ops.Text.wordpieceVocab]] — the
    // likelihood-scored pair-merge loop (Schuster & Nakajima 2012)
    // completing the tokenizer trio next to BPE (q125, raw-count
    // argmax) and unigram-LM (q155, prune-down hard EM): same one
    // corpus collapse, but each round's argmax is
    // count(pair)/(count(l)·count(r)) in exact (freq·2^30) div (nl·nr)
    // integer arithmetic, total-order tie-broken. The oracle unrolls
    // the loop round-for-round as MATERIALIZED CTEs with the identical
    // BIGINT score.
    "q192_wordpiece_vocab" -> ((s, dir) => {
      import s.implicits._
      wpMergesOf(s, dir)
        .toDF("merge_rank", "left_sym", "right_sym", "pair_freq",
          "score")
        .orderBy("merge_rank")
    }),

    // ---- q193: WordPiece tokenizer inference ----------------------------
    // [[graft.ops.Text.wordpieceEncode]] under q192's trained
    // inventory (session memo → [[graft.ops.Text.wordpieceInventory]]):
    // greedy longest-match-first per DISTINCT word (the BERT
    // algorithm — NOT the merge replay: WordPiece inference matches
    // against the vocab directly), corpus assembly by broadcast join +
    // position-ordered reassembly. n_unk pins the [UNK] rule; the md5
    // pins the complete tokenization (the q126 convention).
    "q193_wordpiece_encode" -> ((s, dir) => {
      val docs = Graft.parquetSource(s, dir).table("documents")
      val merges = wpMergesOf(s, dir).map(m => (m._2, m._3))
      val inv = graft.ops.Text.wordpieceInventory(docs, merges)
      graft.ops.Text.wordpieceEncode(docs, inv, WpMaxW)
        .select(col("doc_id"), col("n_tokens"), col("n_unk"),
          md5(col("tokens")).as("tok_md5"))
        .orderBy("doc_id")
    }),

    // ---- q194: incremental WordPiece encode vs the frozen inventory ----
    // q193 as the crawl loop runs it — the q133/q157 discipline on the
    // WordPiece side: the snapshot's encode-time piece inventory
    // persists ([[wpInventoryIndex]], trained on the old slice via the
    // public ops), each batch doc encodes through the FROZEN pieces,
    // and the drift numbers a deployment watches are fertility
    // (tokens/word) AND n_unk — novel characters have no piece and
    // surface as [UNK], the out-of-vocabulary signal unique to this
    // tokenizer's contract. Closes the {train, infer, incremental}
    // triangle for all THREE tokenizer algorithms.
    "q194_incremental_wordpiece_encode" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      val cut = BatchCut.cut(s, d)
      val invP = wpInventoryIndex(s, dir, cut)
      val batch = d.where(col("doc_id") >= cut)
      val nw = batch
        .where(col("text").isNotNull && length(trim(col("text"))) > 0)
        .select(col("doc_id"), wordCount(col("text")).as("n_words"))
      graft.ops.Text.wordpieceEncode(batch, s.read.parquet(invP),
          WpMaxW)
        .join(nw, Seq("doc_id"))
        .select(col("doc_id"),
          col("n_words").cast("long").as("n_words"),
          col("n_tokens"), col("n_unk"),
          (col("n_tokens").cast("double") / col("n_words").cast("double"))
            .as("fertility"),
          md5(col("tokens")).as("tok_md5"))
        .orderBy("doc_id")
    }),

    // ---- q195: epoch schedule under a token budget ----------------------
    // Thin binding over [[graft.ops.Curate.epochSchedule]] — the
    // data-constrained scaling allocator (Muennighoff 2023): budget =
    // 3× the corpus tokens, maxEpochs = 4, weights = the source's
    // numeric ordinal + 1 (a deterministic skewed priority both
    // engines re-derive) — so the high-priority small sources CAP at
    // 4 epochs and their overflow water-fills into the others. The
    // oracle unrolls the waterfall rounds as MATERIALIZED CTEs with
    // the identical integer share/cap arithmetic.
    "q195_epoch_schedule" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      val total = d
        .agg(sum(bpeTokenCount(col("text")).cast("long"))).head()
        .getLong(0)
      val weights = d.select(col("source")).distinct()
        .select(col("source"),
          (regexp_extract(col("source"), "([0-9]+)", 1).cast("long") +
            1L).as("w"))
      // the oracle unrolls exactly 24 waterfall rounds (each non-final
      // round caps ≥1 source, so 24 rounds cover ≤23 sources + the
      // closing no-cap round); the engine loop runs |sources|+1 — fail
      // LOUDLY rather than diverge if a fixture ever exceeds the bound
      val nSrc = weights.count()
      require(nSrc <= 23L,
        s"q195 oracle unroll covers <= 23 sources, fixture has $nSrc")
      graft.ops.Curate.epochSchedule(d, weights, budget = 3L * total,
          maxEpochs = 4L)
        .orderBy("source")
    }),

    // ---- q154: span-extent fidelity audit (k-gram islands vs truth) ----
    // Thin binding over [[graft.ops.Dedup.spanExtentAudit]] — the q73
    // discipline applied to the span family: per q128 island extent,
    // how many times the FULL extent token sequence occurs corpus-wide
    // (occ) and whether it is duplicated AS A UNIT (exact), i.e. the
    // extent-grain precision of the k-gram approximation vs the
    // Lee-et-al suffix-array ground truth. Position-grain
    // recall/precision are exactly 1 by the covering theorem (see the
    // op's scaladoc; OpsApiSpec pins it on a constructed corpus), so
    // extent attribution is the one degree of freedom worth measuring.
    // Same knobs as q128.
    "q154_span_extent_audit" -> ((s, dir) => {
      graft.ops.Dedup.spanExtentAudit(
          Graft.parquetSource(s, dir).table("documents"),
          SpanK, SpanMinCount)
        .orderBy("doc_id", "start_tok")
    }),

    // ---- q159: ExactSubstr maximal duplicated spans (suffix grade) ----
    // Thin binding over [[graft.ops.Dedup.exactSubstrSpans]] — the
    // TRUE Lee-et-al ExactSubstr operator (prefix-doubling suffix
    // ranks): per document every MAXIMAL span of ≥ k tokens whose full
    // sequence occurs verbatim ≥ 2 times corpus-wide, exact boundaries
    // and exact lengths up to the maxSpan cap (clamped spans chain, so
    // covered positions stay exact). The suffix-grade exact path next
    // to the k-gram approximation (q128) its audit measures (q154).
    "q159_exact_substr_spans" -> ((s, dir) => {
      substrSpansOf(s, dir, refresh = true)
        .orderBy("doc_id", "start_tok")
    }),

    // ---- q160: ExactSubstr trimming (the suffix-grade remediation) ------
    // ACT on q159's exact spans: [[graft.ops.Dedup.trimSpans]] cuts
    // every covered token position and reassembles the survivors —
    // the Lee-et-al deployment action with EXACT boundaries (no
    // innocent neighbors cut, unlike the k-gram islands q132 trims;
    // the released deduplicate-text-datasets tool likewise removes
    // every occurrence of a duplicated range). Detector-consumer
    // session pattern (the q27/q53 memo discipline): q159 refreshes
    // the span memo, q160 reuses it, so the pair pays the
    // prefix-doubling pipeline once.
    "q160_exact_substr_trim" -> ((s, dir) => {
      graft.ops.Dedup.trimSpans(
          Graft.parquetSource(s, dir).table("documents"),
          substrSpansOf(s, dir, refresh = false))
        .orderBy("doc_id")
    }),

    // ---- q163: paragraph-grain exact dedup (C4/CC-Net line dedup) ------
    // Thin binding over [[graft.ops.Dedup.paraDedup]] — remove every
    // recurring paragraph except its first (minimal (doc, idx))
    // occurrence. The synthetic corpus has single-paragraph documents,
    // so this degrades to keep-first document dedup here; OpsApiSpec
    // exercises the true multi-paragraph semantics.
    "q163_para_dedup" -> ((s, dir) => {
      graft.ops.Dedup.paraDedup(
          Graft.parquetSource(s, dir).table("documents"))
        .orderBy("doc_id")
    }),

    // ---- q164: paragraph dedup with normalized census keys -------------
    // [[graft.ops.Dedup.paraDedup]] with `normalizeKeys = true` —
    // CC-Net's actual rule: the census key is the md5 of the
    // NORMALIZED paragraph (q162's canonicalization, single column
    // definition), so trivially-variant copies collapse, while the
    // output keeps the original text.
    "q164_para_dedup_norm" -> ((s, dir) => {
      graft.ops.Dedup.paraDedup(
          Graft.parquetSource(s, dir).table("documents"),
          normalizeKeys = true)
        .orderBy("doc_id")
    }),

    // ---- q165: incremental paragraph dedup vs the frozen census --------
    // The crawl-loop form ([[graft.ops.Dedup.paraDedupAppend]]): the
    // snapshot's distinct paragraph census persists
    // ([[graft.ops.Dedup.paraFrame]] via SideTable); each batch doc
    // drops every paragraph already committed (the snapshot keeps its
    // copy) plus batch-internal recurrences after the first — epoch-N
    // ≡ from-scratch q163 restricted to batch docs, by the cut
    // convention (old doc_ids < batch doc_ids).
    "q165_incremental_para_dedup" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      val cut = BatchCut.cut(s, d)
      val pPath = paraIndex(s, dir, cut)
      graft.ops.Dedup.paraDedupAppend(d.where(col("doc_id") >= cut),
          s.read.parquet(pPath))
        .orderBy("doc_id")
    }),

    // ---- q162: CC-Net-style dedup normalization -------------------------
    // Thin binding over [[graft.ops.Text.normalize]] — lowercase +
    // accent strip (the native UnaccentExpr, codegen'd) + digit fold
    // + punct-to-space + whitespace collapse, the canonicalization
    // hash-dedup runs first. One exchange-free projection riding the
    // scan.
    "q162_normalize" -> ((s, dir) => {
      graft.ops.Text.normalize(
          Graft.parquetSource(s, dir).table("documents"))
        .orderBy("doc_id")
    }),

    // ---- q161: tokenizer evaluation battery (BPE vs unigram vs WP) -----
    // The report a deployment reads to PICK a tokenizer:
    // [[graft.ops.Text.tokenizerEval]] over all THREE trained
    // tokenizers' encodes of the same corpus (q126's BPE merges,
    // q155/q156's unigram vocabulary and q192's WordPiece inventory,
    // all from the session memos) — fertility, compression, type
    // inventory, single-char-piece rate, one row per tokenizer
    // (WordPiece symbol lengths discount the ## continuation PREFIX
    // the way BPE's discount the </w> suffix). The oracle replays all
    // three training+encode chains (the q126, q156 and q193 CTE
    // builders composed — their CTE namespaces are disjoint) and
    // reduces each token stream with the same integer-ppm floor
    // divisions.
    "q161_tokenizer_eval" -> ((s, dir) => {
      import s.implicits._
      val d = Graft.parquetSource(s, dir).table("documents")
      val merges = bpeMergesOf(s, dir).map(m => (m._2, m._3))
      val vocab = ulmVocabOf(s, dir).toDF("piece", "n")
      val wpm = wpMergesOf(s, dir).map(m => (m._2, m._3))
      val inv = graft.ops.Text.wordpieceInventory(d, wpm)
      graft.ops.Text.tokenizerEval(d,
          graft.ops.Text.bpeEncode(d, merges), "bpe")
        .unionByName(graft.ops.Text.tokenizerEval(d,
          graft.ops.Text.unigramEncode(d, vocab, UlmMaxP, UlmMaxW),
          "unigram"))
        .unionByName(graft.ops.Text.tokenizerEval(d,
          graft.ops.Text.wordpieceEncode(d, inv, WpMaxW),
          "wordpiece", contMark = "##"))
        .orderBy("tokenizer")
    }),

    // ---- q133: incremental BPE encode vs the persisted merge table -----
    // q126 as the crawl loop runs it (the frozen-LM/frozen-template
    // discipline applied to the TOKENIZER): the snapshot's merge
    // sequence persists (≤ nMerges rows, trained on the old corpus via
    // the public [[graft.ops.Text.bpeVocab]] frame — retraining per
    // batch would silently re-tokenize committed data); each batch doc
    // encodes through the frozen merges as one codegen'd
    // chained-replace projection, and FERTILITY (tokens per word) is
    // the drift number a deployment watches — a rising batch fertility
    // means the frozen vocabulary no longer fits the incoming
    // distribution and the next snapshot should retrain.
    "q133_incremental_bpe_encode" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      val cut = BatchCut.cut(s, d)
      val mP = bpeMergeIndex(s, dir, cut)
      val merges = s.read.parquet(mP).orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val batch = d.where(col("doc_id") >= cut)
      val nw = batch.select(col("doc_id"),
        wordCount(col("text")).as("n_words"))
      graft.ops.Text.bpeEncode(batch, merges)
        .join(nw, Seq("doc_id"))
        .select(col("doc_id"), col("n_words").cast("long").as("n_words"),
          col("n_tokens").cast("long").as("n_tokens"),
          (col("n_tokens").cast("double") / col("n_words").cast("double"))
            .as("fertility"),
          md5(col("tokens")).as("tok_md5"))
        .orderBy("doc_id")
    }),

    // ---- q134: cross-source overlap matrix -----------------------------
    // Thin binding over [[graft.ops.Dedup.crossSourceOverlap]] — the
    // inter-source contamination report (shared distinct 5-grams and
    // gram-set Jaccard per source pair, full matrix). Knob:
    // [[SpanK]] (shared with the span family).
    "q134_source_overlap" -> ((s, dir) => {
      graft.ops.Dedup.crossSourceOverlap(
          Graft.parquetSource(s, dir).table("documents"), SpanK)
        .orderBy("src1", "src2")
    }),

    // ---- q136: incremental source-overlap matrix -----------------------
    // q134 as the crawl loop runs it: the per-source distinct-gram
    // inventory persists ([[graft.ops.Dedup.sourceGramFrame]], the
    // append-tolerated (src, h) artifact); each epoch refreshes the
    // matrix from the artifact plus ONE batch gram pass — old
    // documents are never re-read, and the re-distinct inside
    // [[graft.ops.Dedup.crossSourceOverlapOf]] makes appended
    // duplicates harmless (the lifecycle append discipline).
    "q136_incremental_source_overlap" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      val cut = BatchCut.cut(s, d)
      val sgP = sourceGramIndex(s, dir, cut)
      graft.ops.Dedup.crossSourceOverlapOf(
          s.read.parquet(sgP).unionByName(
            graft.ops.Dedup.sourceGramFrame(
              d.where(col("doc_id") >= cut), SpanK)))
        .orderBy("src1", "src2")
    }),

    // ---- q137: Flesch readability scoring ------------------------------
    // Thin binding over [[graft.ops.Text.readability]] — the classic
    // reading-ease signal (education-level proxy) with deterministic
    // sentence/syllable heuristics, identical in the oracle.
    "q137_readability" -> ((s, dir) => {
      graft.ops.Text.readability(
          Graft.parquetSource(s, dir).table("documents"))
        .orderBy("doc_id")
    }),

    // ---- q138: per-source token budgets (the mixture executor) ---------
    // Thin binding over [[graft.ops.Curate.sourceBudget]] — a uniform
    // per-source budget ([[BudgetPerSource]]) applied to every source;
    // the deployment shape passes the real mixture spec as the budgets
    // map.
    "q138_source_budget" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      val srcs = d.select(col("source")).distinct()
        .collect().map(_.getString(0)) // ≤ |sources| — metadata grain
      graft.ops.Curate.sourceBudget(d, srcs.map(_ -> BudgetPerSource).toMap)
        .orderBy("source", "cum", "doc_id")
    }),

    // ---- q139: winnowing fingerprint selection -------------------------
    // Thin binding over [[graft.ops.Dedup.winnow]] — the MOSS
    // fingerprint selector: rightmost-minimum gram hash per w-window,
    // the ~w/2× index-size lever for span/novelty artifacts (every
    // ≥(w+k−1)-token match still shares a fingerprint). Knobs:
    // [[SpanK]] / [[WinnowW]].
    "q139_winnow" -> ((s, dir) => {
      graft.ops.Dedup.winnow(Graft.parquetSource(s, dir).table("documents"),
          SpanK, WinnowW)
        .orderBy("doc_id", "pos")
    }),

    // ---- q140: Gopher repetition signals -------------------------------
    // Thin binding over [[graft.ops.Text.repetition]] — the within-doc
    // repetition battery (top-n-gram fraction for n=1..3, duplicated
    // k-gram fraction) Gopher-style quality filters threshold on.
    "q140_repetition" -> ((s, dir) => {
      graft.ops.Text.repetition(Graft.parquetSource(s, dir).table("documents"),
          Seq(1, 2, 3), SpanK)
        .orderBy("doc_id")
    }),

    // ---- q141: PMI collocations ----------------------------------------
    // Thin binding over [[graft.ops.Text.collocations]] — corpus-level
    // adjacent-pair association mining (Church-Hanks PMI, reported as
    // the engine-exact lift ratio); top pairs by (lift DESC, w1, w2)
    // through the TakeOrdered tail. Knobs: [[PmiMinCount]] /
    // [[PmiTopK]].
    "q141_collocations" -> ((s, dir) => {
      graft.ops.Text.collocations(
          Graft.parquetSource(s, dir).table("documents"), PmiMinCount)
        .orderBy(col("lift").desc, col("w1"), col("w2"))
        .limit(PmiTopK)
    }),

    // ---- q144: incremental winnow novelty ------------------------------
    // The winnowed artifact actually EXERCISED: the snapshot persists
    // only its distinct winnowed fingerprints
    // ([[graft.ops.Dedup.winnowFrame]] — the ~w/2× smaller index
    // q139 argues for) and each crawl batch scores its own
    // fingerprint selection against that frozen set
    // ([[graft.ops.Dedup.winnowScore]] — hit_ratio 0 = fully novel;
    // any ≥(w+k−1)-token span shared with the snapshot guarantees a
    // hit). Knobs: [[SpanK]] / [[WinnowW]].
    "q144_incremental_winnow" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      val cut = BatchCut.cut(s, d)
      val fpP = winnowFpIndex(s, dir, cut)
      graft.ops.Dedup.winnowScore(
          d.where(col("doc_id") >= cut), s.read.parquet(fpP), SpanK, WinnowW)
        .orderBy("doc_id")
    }),

    // ---- q148: the staged dedup cascade --------------------------------
    // Thin binding over [[graft.ops.Dedup.cascadeOf]] — the full
    // production dedup pipeline (exact → MinHash near-dup → clusters)
    // as ONE per-document verdict: (doc_id, keep_id, stage ∈
    // kept|exact|near). Pairs come from the session memo (the q53
    // pairs-then-clusters discipline — the LSH pipeline runs at most
    // once per session); components run on star edges + rep pairs,
    // linear in duplicates. The oracle clusters the EXPANDED doc-level
    // pair list with a recursive-CTE closure — an independent
    // formulation whose reachable sets provably match the star form.
    "q148_dedup_cascade" -> ((s, dir) => {
      val (members, repPairs) = repPairsOf(s, dir)
      graft.ops.Dedup.cascadeOf(
          Graft.parquetSource(s, dir).table("documents")
            .select(col("doc_id")),
          members, repPairs, "doc_id")
        .orderBy("doc_id")
    }),

    // ---- q167: per-document tf-idf keyword extraction ------------------
    // Thin binding over [[graft.ops.Text.keywords]] — top-5 terms per
    // document under the engine-exact fixed-point linear-idf score
    // (ln/pow are not cross-engine exact, the q142 lesson), total-order
    // tie-broken.
    "q167_keywords" -> ((s, dir) => {
      graft.ops.Text.keywords(
          Graft.parquetSource(s, dir).table("documents"), 5)
        .orderBy("doc_id", "rank")
    }),

    // ---- q166: leakage-safe split over the dedup-cascade clusters ------
    // [[graft.ops.Curate.leakSafeSplit]] on q148's verdict: every
    // cluster member splits with its representative (hash-range on
    // keep_id), so near-duplicates can never straddle train/test —
    // the eval-contamination guard q39's content-hash split lacks.
    // Session memo: shares q148's pair computation.
    "q166_leak_safe_split" -> ((s, dir) => {
      val (members, repPairs) = repPairsOf(s, dir)
      val d = Graft.parquetSource(s, dir).table("documents")
      graft.ops.Curate.leakSafeSplit(d,
          graft.ops.Dedup.cascadeOf(d.select(col("doc_id")),
            members, repPairs, "doc_id"))
        .orderBy("doc_id")
    }),

    // ---- q149: curriculum ordering (difficulty stages) -----------------
    // [[graft.ops.Curate.curriculum]] fed by the q137 readability
    // signal (high Flesch = easy = first): exact global difficulty
    // ranks, SQL-standard NTILE stages, and a deterministic
    // within-bucket hash shuffle — all via the q145 two-level
    // range-partition discipline (no single-partition window). Knob:
    // [[CurrBuckets]], which the oracle interpolates.
    "q149_curriculum" -> ((s, dir) => {
      graft.ops.Curate.curriculum(
          graft.ops.Text.readability(
              Graft.parquetSource(s, dir).table("documents"))
            .select(col("doc_id"), col("flesch")),
          CurrBuckets, scoreCol = "flesch", idCol = "doc_id",
          ascending = false)
        .orderBy("bucket", "ord")
    }),

    // ---- q142: temperature-scaled mixture weights ----------------------
    // Thin binding over [[graft.ops.Curate.mixtureWeights]] — the
    // c_i^alpha / sum renormalization that turns per-source token
    // counts into sampling weights (alpha = 0.5 here: the common
    // up-sample-the-tail temperature, engine-exact via one IEEE sqrt
    // + 20-bit fixed point + exact integer total). Knob:
    // [[MixAlpha]]; the op takes alpha in {0, 0.5, 1}.
    "q142_mixture_weights" -> ((s, dir) => {
      graft.ops.Curate.mixtureWeights(
          Graft.parquetSource(s, dir).table("documents"), MixAlpha)
        .orderBy("source")
    }),

    // ---- q143: solved-mixture pipeline (weights -> budgets -> cut) ------
    // The full mixture pipeline as ONE composition of public ops:
    // [[graft.ops.Curate.mixtureWeights]] SOLVES the per-source
    // sampling weights at metadata grain (α = [[MixAlpha]]), the
    // driver turns weight·total into a tokens-per-source budget map
    // (≤ |sources| rows — metadata grain), and
    // [[graft.ops.Curate.sourceBudget]] EXECUTES the cut at corpus
    // grain. Knobs: [[MixAlpha]] / [[MixBudget]].
    "q143_mixture_pipeline" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      val budgets = graft.ops.Curate.mixtureWeights(d, MixAlpha)
        .select(col("source"),
          floor(col("weight") * MixBudget).cast("long").as("budget"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      graft.ops.Curate.sourceBudget(d, budgets)
        .orderBy("source", "cum", "doc_id")
    }),

    // ---- q57: rare-token quality score ---------------------------------
    // The LM-filter proxy of CCNet-style pipelines without the
    // engine-divergent log arithmetic: a token is "rare" when its corpus
    // document frequency is under 10% of the corpus (integer compare —
    // df·10 < n_docs — so the threshold is SF-invariant and exactly
    // reproducible), and each document scores the fraction of its tokens
    // that are rare. The broadcast side is the COMMON set (df·10 ≥
    // n_docs): rare tokens are the Zipf TAIL — nearly the whole
    // vocabulary — so broadcasting them would ship a vocabulary-sized
    // table to every executor at 100 TB. The Zipf HEAD (common tokens)
    // is small and bounded (a term needs presence in ≥10% of documents),
    // so it broadcasts cheaply, rare ≡ not-common (every token in the
    // stream has df ≥ 1, so absence from the common set is exactly
    // df·10 < n_docs), and the corpus token stream never shuffles — only
    // per-doc count pairs move (map-side combine), the q52 shape.
    "q57_rare_token_score" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      val tok = d.select(col("doc_id"), explode(words(col("text"))).as("term"))
      val dfreq = tok.groupBy(col("term"))
        .agg(countDistinct(col("doc_id")).as("df"))
      val nDocs = d.select(countDistinct(col("doc_id")).as("n_docs"))
      val common = dfreq.crossJoin(broadcast(nDocs))
        .where(col("df") * 10 >= col("n_docs"))
        .select(col("term"), lit(1L).as("is_common"))
      tok.join(broadcast(common), Seq("term"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("is_common").isNull, 1L).otherwise(0L)).as("n_rare"))
        .select(col("doc_id"), col("n_tokens"), col("n_rare"),
          (col("n_rare").cast("double") / col("n_tokens").cast("double"))
            .as("rare_ratio"))
        .orderBy("doc_id")
    }),

    // ---- q29: 2-gram Jaccard dedup with prefix blocking ---------------
    // Deterministic blocking key = first three words; exact Jaccard ≥ 0.5
    // within blocks only (linear-ish at scale when blocks stay small).
    // Same guard stack as q27: exact-dup pre-collapse, capped blocks,
    // exact doc-level recovery.
    "q29_ngram_jaccard" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      val members = exactGroups(d, 3)
        .localCheckpoint() // one narrow row per doc — corpus-growth, so
        // checkpoint, never cache; read below and by the expansion
      // blocking key: first three words (slice/concat_ws are plain
      // codegen'd collection expressions, not lambda HOFs), built for
      // exact-dup-group representatives only
      val repBlocks = d.where(size(words(col("text"))) >= 3)
        .select(col("doc_id"),
          concat_ws(" ", slice(words(col("text")), 1, 3)).as("blk"))
        .join(members.where(col("doc_id") === col("rep"))
          .select(col("doc_id")), Seq("doc_id"), "left_semi")
        .localCheckpoint() // 2 narrow cols per rep (rep count grows
        // with distinct content — checkpoint class); read by the cap's
        // size job and both self-join sides
      val blocks = graft.ops.Dedup.capBuckets(repBlocks, Seq("blk"), s,
        "q29 prefix blocks", Conf.DedupMaxBucket(s))
      val a = blocks.as("a"); val b = blocks.as("b")
      val cand = a.join(b, col("a.blk") === col("b.blk") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .localCheckpoint() // eager + tiny: read to build the candDocs
        // broadcast AND by the verify join
      // distinct 2-gram sets are built for CANDIDATE docs only — the
      // semi-join prunes BEFORE shingling, so the n-gram stream is only
      // ever built for the docs that block together
      val candDocs = cand.select(col("d1").as("doc_id"))
        .unionByName(cand.select(col("d2").as("doc_id"))).distinct()
      val sh = shingleHashRows(
          d.join(broadcast(candDocs), Seq("doc_id"), "left_semi"), 2)
        .distinct()
        .cache() // pairJaccard reads it three times (e1, e2, sizes)
      val repPairs = graft.ops.Dedup.pairJaccard(cand, sh)
        .where(col("jac") >= 0.5)
        .localCheckpoint() // eager: allows unpersisting the cache NOW —
        // a long-lived session accumulates no cached tables from q29
      sh.unpersist()
      graft.ops.Dedup.expandRepPairs(members, repPairs)
        .orderBy("d1", "d2")
    }),

    // ---- q62: asymmetric containment dedup (short-doc-inside-long) -----
    // Jaccard misses the "quote" case: a short document wholly contained
    // in a long one has jac = |A|/|B| ≈ 0 but containment
    // |A∩B| / min(|A|,|B|) = 1. Candidates come from RARE-GRAM blocking —
    // two docs are compared iff they share a 5-gram that 2..8 distinct
    // contents contain. The df ceiling is the degenerate-key guard (a
    // boilerplate gram in a million docs generates no candidates — at
    // most C(8,2) pairs per gram), the df floor drops singletons, and
    // exact-dup pre-collapse keeps df counting DISTINCT content, so bulk-
    // duplicated docs neither inflate df past the ceiling nor flood the
    // bucket join (their answer is recovered arithmetically, as in q27).
    // Verification is exact: containment ≥ 0.9 over the candidates'
    // distinct 5-gram sets, built (like q27's verify) only for candidate
    // docs — the corpus-scale shingle stream is never cached or joined.
    "q62_containment" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      val members = exactGroups(d, 5)
        .localCheckpoint() // one narrow row per doc — corpus-growth, so
        // checkpoint, never cache; read below and by the expansion
      val reps = members.where(col("doc_id") === col("rep"))
        .select(col("doc_id"))
      val repDocs = d.join(broadcast(reps), Seq("doc_id"), "left_semi")
      // distinct 5-gram rows of representatives — LAZY: consumed once by
      // the df-filtered bucket join below (recomputing from the pruned
      // scan beats a corpus-scale cache; the q27 lesson)
      val sh = shingleHashRows(repDocs, 5).distinct()
      val dfT = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
      val (cand, candDocs) = rareFeatureCandidates(sh, dfT, 2, 8)
      val candSh = shingleHashRows(
          d.join(broadcast(candDocs), Seq("doc_id"), "left_semi"), 5)
        .distinct()
        .cache() // pairOverlap reads it three times (e1, e2, sizes)
      val repPairs = graft.ops.Dedup.pairOverlap(cand, candSh)
        .select(col("d1"), col("d2"),
          (col("inter").cast("double") /
            least(col("n1"), col("n2")).cast("double")).as("cont"))
        .where(col("cont") >= 0.9)
        .localCheckpoint()
      candSh.unpersist()
      graft.ops.Dedup.expandRepPairs(members, repPairs, "cont")
        .orderBy("d1", "d2")
    }),

    // ---- q67: incremental dedup against a persisted signature index ----
    // The production 100 TB shape of the near-dup family: a full-corpus
    // re-dedup per crawl batch re-shingles and re-minhashes 100 TB to
    // answer a question about the new 0.1%. Instead the corpus's banded
    // MinHash signatures are a PERSISTED parquet side-table
    // ([[signatureIndex]], built once per corpus snapshot); each new
    // batch (here: the top ~20% of doc ids, a data-relative cut exact in
    // both engines) is shingled/minhashed ALONE, bucket-joined against
    // the artifact ∪ its own bands (old-old pairs are excluded — they
    // were reported when the old corpus was deduped), and verified with
    // exact Jaccard over candidate docs only. Work scales with
    // |batch| + |candidates|, never with the old corpus: the only
    // old-corpus reads are the artifact scan and the verify's
    // candidate-pruned shingle pass. The bucket join is capBuckets-
    // guarded; the batch is NOT exact-collapsed (batches are small by
    // definition — the guard covers the degenerate case).
    "q67_incremental_dedup" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      val cut = BatchCut.cut(s, d)
      val idx = s.read.parquet(signatureIndex(s, dir, cut))
      val deltaBands =
        graft.ops.Dedup.minhashBands(d.where(col("doc_id") >= cut))
          .localCheckpoint() // probe side AND part of the build side; also
          // keeps the candidate plan free of the batch's shingle generator
      // Only band keys PRESENT IN THE BATCH can produce candidates (the
      // probe side has no other keys), so the artifact contributes just
      // the collision-relevant rows: a broadcast-semi-filtered scan —
      // no shuffle-aggregate of the full index — and the bucket cap
      // sizes only those keys. Keys untouched by the batch drop out
      // before any join, exactly as they would have after it.
      val deltaKeys = deltaBands
        .select(col("band_idx"), col("band_key")).distinct()
      val relevantLazy = idx
        .join(broadcast(deltaKeys), Seq("band_idx", "band_key"),
          "left_semi")
        .unionByName(deltaBands)
      val relevant = relevantLazy
        .localCheckpoint() // collision-relevant rows only — small by
        // construction (band keys are 60-bit hashes, so an old row
        // survives the semi only on a genuine collision). Both the
        // capBuckets stats job and the candidate join read it; without
        // the checkpoint each re-ran the artifact scan + broadcast
        // semi-join (measured 2.9 s → 2.5 s isolated at sf0.1).
        // r18 note: fusing the cap into this materialization via a
        // window bucket-count was tried and REVERTED on interleaved
        // A/B (q67 1.29× slower) — see OPTIMIZATION_r18.md.
      val allBands = graft.ops.Dedup.capBuckets(relevant,
        Seq("band_idx", "band_key"), s, "q67 incremental bands",
        Conf.DedupMaxBucket(s))
      val candLazy = allBands.as("a").join(deltaBands.as("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_key") === col("b.band_key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .distinct()
      // the pinned contract spans two stages now that `relevant` is
      // materialized: the OLD side enters via the artifact scan
      // (relevant's plan), and candidate generation stays an equi
      // bucket join with no shingle generator (candidate's plan)
      lastIncrementalPlan =
        relevantLazy.queryExecution.executedPlan.toString + "\n" +
          candLazy.queryExecution.executedPlan.toString
      val cand = candLazy.localCheckpoint() // eager + tiny: read to
        // build the candDocs broadcast AND by the verify join
      val candDocs = cand.select(col("d1").as("doc_id"))
        .unionByName(cand.select(col("d2").as("doc_id"))).distinct()
      val candSh = shingleHashRows(
          d.join(broadcast(candDocs), Seq("doc_id"), "left_semi"), 3)
        .distinct()
        .cache() // pairJaccard reads it three times (e1, e2, sizes)
      val out = graft.ops.Dedup.pairJaccard(cand, candSh)
        .where(col("jac") >= 0.8)
        .localCheckpoint()
      candSh.unpersist()
      out.orderBy("d1", "d2")
    }),

    // ---- q76: streaming incremental dedup (the crawl-ingest loop) ------
    // q67's batch shape as the Structured Streaming deployment it exists
    // for: crawl batches ARRIVE as a stream, and each micro-batch is
    // deduped inside `foreachBatch` against the accumulated-state
    // side-table — a per-run artifact (application id in its identity,
    // dropped when the stream ends) seeded from the persisted
    // signature index, into which each epoch's bands are
    // [[graft.sources.SideTable.append]]ed AFTER scoring. `seen` is
    // therefore always a plain parquet scan of the artifact: the
    // per-epoch plan is CONSTANT in epoch count (the r8 in-session
    // union chain grew linearly — epoch N's plan re-derived every
    // earlier epoch's union node). The seed build runs under a
    // transient refresh, so a rerun starts from the pre-stream state —
    // reruns are idempotent and bench reps don't compound state; a real
    // deployment that wants to RESUME accumulation keeps the artifact
    // and skips the refresh (the continuation `ensure` is a manifest
    // hit). Pairs between two stream docs in DIFFERENT micro-batches
    // are found when the later one arrives (feed order = doc_id
    // order), so the union of per-epoch outputs equals q67's one-shot
    // answer EXACTLY — the batch-parity property the oracle (q67's SQL
    // verbatim) certifies, and StreamingSpec pins the cross-micro-batch
    // case specifically. Per epoch the work is one
    // broadcast-semi-filtered scan of the accumulated index (only the
    // epoch's own band keys can collide — the q67 relevance
    // restriction; bucketing the artifact by band_key turns even that
    // scan into a pruned read, the documented deployment shape) plus
    // |micro-batch| + |candidates| for banding and verify. The
    // driver-side id collect is the MemoryStream harness seam
    // (bounded by |batch|; a deployment's source is Kafka/files).
    "q76_stream_incremental_dedup" -> ((s, dir) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val d = Graft.parquetSource(s, dir).table("documents")
      val cut = BatchCut.cut(s, d)
      val idx = s.read.parquet(signatureIndex(s, dir, cut))
      // the accumulated state is PER-RUN (seeded, appended to, then
      // dropped below) — fold the application id into its identity so
      // two JVMs sharing graft.artifacts.dir never seed/append/delete
      // each other's in-flight stream state
      val seenKey = s"$dir#$cut#stream#${s.sparkContext.applicationId}"
      val dataPath = Some(s"$dir/documents.parquet")
      val seenPath = graft.sources.SideTable.refreshing(s)(
        graft.sources.SideTable.ensure(s, "stream_seen", seenKey,
          dataPath) { idx })
      streamSeenRows.set(Vector.empty)
      val ids = d.where(col("doc_id") >= cut).select(col("doc_id"))
        .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
      val nEpochs = Conf.StreamEpochs(s)
      val chunks =
        if (ids.isEmpty) Seq.empty
        else ids.grouped(
          math.max(1, (ids.length + nEpochs - 1) / nEpochs)).toSeq
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[Long]
      val acc = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      val query = ms.toDF().toDF("doc_id").writeStream
        .outputMode("append")
        .foreachBatch { (epochIds: Dataset[Row], _: Long) =>
          val seen = s.read.parquet(seenPath)
          val epochDocs =
            d.join(broadcast(epochIds), Seq("doc_id"), "left_semi")
          val deltaBands =
            graft.ops.Dedup.minhashBands(epochDocs).localCheckpoint()
          // the q67 relevance restriction, per epoch: only the epoch's
          // own band keys can collide, so the seen side contributes a
          // broadcast-semi-filtered scan — never a per-epoch
          // shuffle-aggregate of the whole accumulated index
          val deltaKeys = deltaBands
            .select(col("band_idx"), col("band_key")).distinct()
          val relevant = seen
            .join(broadcast(deltaKeys), Seq("band_idx", "band_key"),
              "left_semi")
            .unionByName(deltaBands)
            .localCheckpoint() // the q67 seam: collision-relevant rows
            // only; read by the capBuckets stats job AND the candidate
            // join, so materialize once per epoch (window-count fusion
            // tried and REVERTED on r18 A/B — OPTIMIZATION_r18.md)
          val allBands = graft.ops.Dedup.capBuckets(relevant,
            Seq("band_idx", "band_key"), s, "q76 incremental bands",
            Conf.DedupMaxBucket(s))
          val cand = allBands.as("a").join(deltaBands.as("b"),
              col("a.band_idx") === col("b.band_idx") &&
                col("a.band_key") === col("b.band_key") &&
                col("a.doc_id") < col("b.doc_id"))
            .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
            .distinct()
            .localCheckpoint()
          val candDocs = cand.select(col("d1").as("doc_id"))
            .unionByName(cand.select(col("d2").as("doc_id"))).distinct()
          val candSh = shingleHashRows(
              d.join(broadcast(candDocs), Seq("doc_id"), "left_semi"), 3)
            .distinct()
            .cache() // pairJaccard reads it three times (e1, e2, sizes)
          val pairs = graft.ops.Dedup.pairJaccard(cand, candSh)
            .where(col("jac") >= 0.8)
            .localCheckpoint()
          candSh.unpersist()
          acc += pairs
          // the crawl-loop state transition: this epoch's bands join the
          // accumulated index, visible to every later epoch's scan
          graft.sources.SideTable.append(s, "stream_seen", seenKey,
            dataPath)(deltaBands)
          streamSeenRows.updateAndGet(_ :+
            graft.sources.SideTable.manifest(seenPath)
              .map(_._2).getOrElse(-1L))
          ()
        }
        .start()
      try chunks.foreach { c => ms.addData(c); query.processAllAvailable() }
      finally {
        query.stop()
        // per-run state ends with the run; every per-epoch result is
        // already localCheckpoint'd, so nothing re-reads the artifact
        graft.sources.SideTable.drop(s, "stream_seen", seenKey, dataPath)
      }
      acc.reduceOption(_ unionByName _)
        .getOrElse(s.createDataFrame(
          s.sparkContext.emptyRDD[Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("d1",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("d2",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("jac",
              org.apache.spark.sql.types.DoubleType)))))
        .orderBy("d1", "d2")
    }),

    // ---- q79: incremental crawl triage (exact / near / novel) ----------
    // The first routing decision a crawl pipeline makes per batch doc:
    // EXACT re-crawl of known content (drop, bump a counter), NEAR
    // duplicate (route to canonicalization), or NOVEL (ingest). Both
    // signals come from persisted artifacts: exact = membership of the
    // doc's content key (md5 of the word sequence) in the old corpus's
    // distinct-key side-table; near = membership in the q67 incremental
    // pair set (vs the signature artifact ∪ earlier batch docs — a
    // batch doc duplicating only another batch doc triages 'near').
    // Precedence exact > near > novel, mirrored in the oracle. Scale
    // shape: the content-key artifact is corpus-growth so it is NEVER
    // broadcast — the tiny batch key set broadcasts against the
    // artifact scan (left-semi), and the surviving ≤|batch| hit keys
    // broadcast back; work ∝ one narrow artifact scan + |batch|. With
    // `graft.artifacts.bloom=true` the key artifact also compiles to a
    // bloom filter: bloom-negative batch keys are proven novel and drop
    // from the semi-join probe before it runs (no false negatives), so
    // a mostly-novel batch sends a near-empty probe set; positives
    // still verify against the exact artifact scan, keeping the answer
    // bit-identical in both modes (CorpusEquivalenceSpec).
    "q79_incremental_triage" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      val cut = BatchCut.cut(s, d)
      val keyPath = contentKeyIndex(s, dir, cut)
      val oldKeys = s.read.parquet(keyPath)
      val pairs = defs("q67_incremental_dedup")(s, dir)
        .localCheckpoint() // tiny; read for both pair sides
      val nearDocs = pairs.select(col("d1").as("doc_id"))
        .unionByName(pairs.select(col("d2").as("doc_id")))
        .where(col("doc_id") >= cut).distinct()
        .withColumn("near_hit", lit(1))
      val batchKeys = d.where(col("doc_id") >= cut && col("text").isNotNull)
        .select(col("doc_id"),
          md5(concat_ws(" ", words(col("text")))).as("gk"))
        .localCheckpoint() // |batch| rows; read by the hit-key semi-join
        // AND the final classification join
      val bkeys = batchKeys.select(col("gk")).distinct()
      val probeKeys =
        if (Conf.ArtifactsBloom(s)) {
          val bf = graft.sources.SideTable.ensureBloomOf(s, "content_keys",
            s"$dir#$cut", Some(s"$dir/documents.parquet"), keyPath, "gk")
          bkeys.where(graft.functions.Bloom.mightContain(bf, col("gk")))
        } else bkeys
      val hitKeys = oldKeys
        .join(broadcast(probeKeys), Seq("gk"), "left_semi")
        .withColumn("exact_hit", lit(1))
        .localCheckpoint() // ≤ |batch| rows — broadcastable by construction
      batchKeys
        .join(broadcast(hitKeys), Seq("gk"), "left")
        .join(broadcast(nearDocs), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("exact_hit") === 1, "exact")
            .when(col("near_hit") === 1, "near")
            .otherwise("novel").as("triage"))
        .orderBy("doc_id")
    }),

    // ---- q73: MinHash estimate fidelity audit --------------------------
    // The dedup-side sibling of q70's ANN recall audit: for every
    // verified near-dup pair, the Jaccard ESTIMATE the 16-component
    // signatures imply (matching components / 16) next to the exact
    // value — the number that justifies permutation count and band
    // layout (estimate variance shrinks as 1/√k). Consumes the session
    // pair memo like q53; signatures are recomputed for PAIR docs only
    // (a semi-join-pruned scan, bounded by the verified-pair volume),
    // so the audit never re-shingles the corpus.
    "q73_minhash_est_audit" -> ((s, dir) => {
      val pair = repPairsOf(s, dir)
      val pairs = graft.ops.Dedup.expandRepPairs(pair._1, pair._2)
        .localCheckpoint() // tiny; read by pairDocs AND the final join
      val d = Graft.parquetSource(s, dir).table("documents")
      val pairDocs = pairs.select(col("d1").as("doc_id"))
        .unionByName(pairs.select(col("d2").as("doc_id"))).distinct()
      val mh = graft.ops.Dedup.minhashSignatures(
          d.join(broadcast(pairDocs), Seq("doc_id"), "left_semi"))
        .localCheckpoint() // pair-doc-bounded; read by both join sides
      val est = (0 until 16).map(j =>
        when(col(s"a.m$j") === col(s"b.m$j"), 1).otherwise(0))
        .reduce(_ + _)
      pairs.join(mh.as("a"), col("a.doc_id") === col("d1"))
        .join(mh.as("b"), col("b.doc_id") === col("d2"))
        .select(col("d1"), col("d2"), col("jac"),
          (est.cast("double") / lit(16.0d)).as("est_jac"))
        .withColumn("abs_err", abs(col("jac") - col("est_jac")))
        .orderBy("d1", "d2")
    }),

    // ---- q75: verbatim-span decontamination flags ----------------------
    // The GPT-3-style exact-window check next to q52's overlap RATIO: a
    // training doc is flagged when it contains a VERBATIM n-token run
    // from the eval set (doc_id < 20), probed at two window sizes
    // (8 and 16 — the doubling ladder; production pipelines use 13/32,
    // scaled here to the synthetic doc lengths). An 8-gram hit with no
    // 16-gram hit is phrase-level quotation; a 16-gram hit is verbatim
    // copying — the flags feed different remediation (mask vs drop).
    // Scale shape: ONE corpus pass feeds both window sizes — the dual
    // generator emits each position's 8-gram hash next to its (nullable)
    // 16-gram hash, so the train side is a single documents scan instead
    // of one per window (at 100 TB the second full-corpus tokenize/scan
    // pass was real money; plan-pinned single-scan). Each eval set's
    // distinct gram hashes broadcast (tiny vs the corpus — the q52
    // argument) and the train stream flows through two broadcast-hash
    // left joins into one map-side-combinable per-doc MAX pair; the
    // corpus never shuffles. No distinct() on the train stream: MAX
    // over duplicated gram rows equals MAX over their support, so the
    // dedup shuffle the per-window formulation paid is dropped too.
    "q75_verbatim_contamination" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      val ev = dualShingleHashRows(d.where(col("doc_id") < 20), 8, 16)
        .localCheckpoint() // tiny (eval slice, predicate-pruned scan);
        // read twice to build the two broadcast sets
      val ev8 = ev.select(col("h1").as("h8")).distinct()
        .withColumn("hit8m", lit(1)).localCheckpoint()
      val ev16 = ev.where(col("h2").isNotNull)
        .select(col("h2").as("h16")).distinct()
        .withColumn("hit16m", lit(1)).localCheckpoint()
      dualShingleHashRows(d.where(col("doc_id") >= 20), 8, 16)
        .select(col("doc_id"), col("h1").as("h8"), col("h2").as("h16"))
        .join(broadcast(ev8), Seq("h8"), "left")
        .join(broadcast(ev16), Seq("h16"), "left") // null h16 keys match
        // nothing — exactly the "no 16-gram at this position" semantics
        .groupBy(col("doc_id"))
        .agg(max(coalesce(col("hit8m"), lit(0))).cast("int").as("hit8"),
          max(coalesce(col("hit16m"), lit(0))).cast("int").as("hit16"))
        .orderBy("doc_id")
    }),

    // ---- q74: quality-canonical dedup keep list ------------------------
    // q53 keeps each cluster's MINIMUM doc_id — simple, but production
    // pipelines keep the BEST member (longest, cleanest; dropping a rich
    // original in favor of a truncated mirror copy is a real data-loss
    // mode). Same connected components (session pair memo + star
    // edges), then a per-cluster argmax by (n_words, lowest doc_id as
    // tiebreak) — one map-side-combinable max_by over a STRUCT key
    // (n_words DESC, doc_id ASC via negation): struct ordering is
    // lexicographic, so no arithmetic composite is needed and the key
    // stays deterministic at ANY n_words/doc_id magnitude. (The earlier
    // scalar key n_words·2^40 − doc_id silently flipped the keep choice
    // once n_words ≥ 2^23 — a ~50 MB document, reachable in an
    // uncapped 100 TB crawl.) The key is unique per doc, so the argmax
    // is deterministic under any partitioning — the q46 discipline.
    "q74_quality_keep" -> ((s, dir) =>
      clusterComp(s, dir).join(wordCounts(s, dir), "doc_id")
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          max_by(col("doc_id"),
            struct(col("n_words"), negate(col("doc_id"))))
            .as("keep_id"),
          max(col("n_words")).as("keep_n_words"))
        .orderBy("cluster_id")),

    // ---- q83: cross-corpus near-dup decontamination --------------------
    // The third decontamination member: q52 catches quote-level 5-gram
    // overlap RATIOS, q75 verbatim 8/16-token spans — this one catches
    // REWRITES: whole-document near-duplicates of an eval doc (MinHash
    // 3-gram jaccard ≥ 0.5) that exact-window methods miss entirely.
    // Eval docs (doc_id < 20, the q52 convention) are banded and
    // BROADCAST (a production eval suite is ~1e5 docs → MBs of bands),
    // so the train corpus computes signatures (16 longs/doc, map-side
    // combined — shingles never cross the wire) and bucket-joins
    // against the broadcast without shuffling; degenerate eval band
    // keys are capped loudly ([[capBuckets]] on the TINY side — the
    // only side whose bucket size multiplies the candidate count);
    // exact-Jaccard verification touches candidate docs' shingles only.
    // Per flagged train doc: match count + the best-matching eval doc
    // (deterministic (jac, −eval_id) argmax).
    "q83_neardup_decontam" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      val evBands = graft.ops.Dedup.capBuckets(
        graft.ops.Dedup.minhashBands(d.where(col("doc_id") < 20))
          .localCheckpoint(), // tiny: the cap's size job + the join
        Seq("band_idx", "band_key"), s, "q83 eval bands",
        Conf.DedupMaxBucket(s))
        .select(col("doc_id").as("eval_id"),
          col("band_idx"), col("band_key"))
      val candLazy = graft.ops.Dedup.minhashBands(d.where(col("doc_id") >= 20))
        .join(broadcast(evBands), Seq("band_idx", "band_key"))
        .select(col("doc_id").as("d1"), col("eval_id").as("d2"))
        .distinct()
      lastDecontamPlan = candLazy.queryExecution.executedPlan.toString
      val cand = candLazy
        .localCheckpoint() // tiny: read for candDocs AND the verify join
      val candDocs = cand.select(col("d1").as("doc_id"))
        .unionByName(cand.select(col("d2").as("doc_id"))).distinct()
      val candSh = shingleHashRows(
          d.join(broadcast(candDocs), Seq("doc_id"), "left_semi"), 3)
        .distinct()
        .cache() // pairJaccard reads it three times (e1, e2, sizes)
      val ver = graft.ops.Dedup.pairJaccard(cand, candSh)
        .where(col("jac") >= 0.5d)
        .localCheckpoint() // candidate-bounded; read twice below
      candSh.unpersist()
      ver.groupBy(col("d1"))
        .agg(count(lit(1)).as("n_matches"),
          max_by(struct(col("d2"), col("jac")),
            struct(col("jac"), (-col("d2")).as("nd"))).as("r"))
        .select(col("d1").as("doc_id"), col("n_matches"),
          col("r.d2").as("best_eval_id"), col("r.jac").as("best_jac"))
        .orderBy("doc_id")
    }),

    // ---- q87: dedup threshold-sensitivity audit ------------------------
    // "Measure, don't guess" for the jaccard cutoff itself (the q70/q73/
    // q82 audit family): the SAME candidate generation as q27 (rep
    // collapse, banded buckets, caps) verified with NO threshold, then
    // histogrammed by floor(jac·10) — the pair-volume-vs-threshold curve
    // a pipeline owner reads before pinning 0.8. LSH candidate recall is
    // band-layout-bound, so the curve is exact for every threshold the
    // bands can see (pairs below the bands' collision floor are absent
    // by design — the same blind spot q73 quantifies from the other
    // side). Rep-level pairs, deliberately unexpanded: the tuning signal
    // is distinct-content pair volume, not duplicate-group multiplicity.
    // Runs the detector pipeline fresh (threshold 0) and leaves the
    // session memo's ≥ 0.8 contract untouched.
    "q87_dedup_threshold_audit" -> ((s, dir) => {
      val pairs = computeRepPairs(s, dir, minJac = 0.0d)._2
      pairs.select(floor(col("jac") * lit(10.0d)).cast("long").as("bin"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("bin")
    }),

    // ---- q92: deterministic epoch shuffle → shard manifest -------------
    // The training-order step after curation: every pretraining epoch
    // needs a reproducible GLOBAL shuffle of the corpus into ordered
    // shards, re-randomizable per epoch by a seed — with no rand()
    // (restart kills it) and no global sort materialized on one node.
    // The shuffle key is hash60(text # seed): changing
    // `graft.shuffle.seed` re-permutes the corpus; the same seed is
    // bit-reproducible at any parallelism. Shard = the key's top bits
    // (the q63 bit-prefix trick), so shards are CONTIGUOUS hash ranges:
    // the 100 TB realization is repartitionByRange(h) +
    // sortWithinPartitions — one shuffle, no driver sort, and
    // (shard, h, doc_id) order ≡ the global (h, doc_id) order. The
    // MANIFEST this query emits never even needs the sort: count / token
    // sum / order-extremal docs (min_by/max_by on the (h, doc_id) key)
    // / content checksum are all map-side-combinable aggregates — the
    // audit row a trainer checks against yesterday's epoch before
    // launching. 'first_doc'/'last_doc' pin the realized order's
    // endpoints; the checksum pins membership.
    "q92_shuffle_manifest" -> ((s, dir) => {
      val nShards = { // next power of two ⇒ shard key is a bit-prefix
        val want = Conf.ShuffleShards(s).max(1).min(1 << 24)
        Integer.highestOneBit(want * 2 - 1)
      }
      val bits = Integer.numberOfTrailingZeros(nShards)
      val d = Graft.parquetSource(s, dir).table("documents")
      d.select(col("doc_id"),
          // NULL-text guard: legacy sizeOfNull would make size() return
          // -1 and silently shrink the shard's token sum; DuckDB skips
          // the NULL — 0 matches it under any conf (the q98/q100 rule)
          when(col("text").isNull, lit(0L))
            .otherwise(bpeTokenCount(col("text")).cast("long"))
            .as("n_tokens"),
          hash60(concat_ws("#", col("text"), lit(Conf.ShuffleSeed(s)))).as("h"))
        .withColumn("shard", shiftright(col("h"), 60 - bits))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          min_by(col("doc_id"), struct(col("h"), col("doc_id")))
            .as("first_doc"),
          max_by(col("doc_id"), struct(col("h"), col("doc_id")))
            .as("last_doc"),
          sum(pmod(col("h"), lit(1000003L))).as("checksum"))
        .orderBy("shard")
    }),

    // ---- q94: cross-source duplication attribution ---------------------
    // Crawl forensics over the verified near-dup graph: which SOURCE
    // pairs duplicate each other, and how much of the corpus's total
    // duplication each pair explains — the mirror-detection /
    // who-copies-whom report a crawl operator reads next to q84's
    // per-source reputation (a source whose duplication concentrates
    // against ONE partner is a mirror; spread evenly, boilerplate).
    // Memo consumer: the verified pair set comes from the session's
    // single LSH derivation (never re-derived — the q53/q73/q74
    // counter-pinned contract). Sources are fetched for PAIR ENDPOINTS
    // only — the pair-doc id set broadcasts against the corpus's thin
    // (doc_id, source) projection as a semi-join, the corpus never
    // shuffles — then the unordered (src_a ≤ src_b) labeling
    // aggregates to ≤ |sources|² rows. Exact-integer counts until the
    // one final share division (the q84 bit-stability discipline).
    "q94_source_attribution" -> ((s, dir) => {
      val pair = repPairsOf(s, dir)
      val pairs = graft.ops.Dedup.expandRepPairs(pair._1, pair._2)
        .select(col("d1"), col("d2"))
        .localCheckpoint() // pair-bounded; read by pairDocs AND the label join
      val pairDocs = pairs.select(col("d1").as("doc_id"))
        .unionByName(pairs.select(col("d2").as("doc_id"))).distinct()
      val srcs = Graft.parquetSource(s, dir).table("documents")
        .select(col("doc_id"), col("source"))
        .join(broadcast(pairDocs), Seq("doc_id"), "left_semi")
        .localCheckpoint() // pair-doc-bounded; both label-join sides
      val agg = pairs
        .join(srcs.select(col("doc_id").as("d1"), col("source").as("sa")),
          Seq("d1"))
        .join(srcs.select(col("doc_id").as("d2"), col("source").as("sb")),
          Seq("d2"))
        .select(least(col("sa"), col("sb")).as("src_a"),
          greatest(col("sa"), col("sb")).as("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .localCheckpoint() // ≤ |sources|² rows; read by total AND report
      val tot = agg.agg(sum(col("n_pairs")).cast("long").as("total_pairs"))
      agg.crossJoin(broadcast(tot))
        .select(col("src_a"), col("src_b"), col("n_pairs"),
          (col("n_pairs").cast("double") / col("total_pairs").cast("double"))
            .as("pair_share"))
        .orderBy("src_a", "src_b")
    }),

    // ---- q112: PII / blocklist scrub -----------------------------------
    // Thin binding over [[graft.ops.Text.scrub]]: the built-in PII
    // battery (email/ssn/phone/ipv4 — structurally absent from the
    // synthetic corpus, so those counts pin the zero case against the
    // oracle) plus a corpus-term blocklist pass that actually fires on
    // most documents. Pure map-side codegen'd regex work on the scan —
    // no shuffle, no UDFs; the oracle nests the identical replace chain
    // (patterns restricted to the Java∩RE2-identical syntax subset).
    "q112_pii_scrub" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      graft.ops.Text.scrub(d, scrubPatterns).orderBy("doc_id")
    }),

    // ---- q113: cross-document boilerplate scoring ----------------------
    // Thin binding over [[graft.ops.Text.boilerplate]]: per-source
    // recurring 3-grams (df ≥ max(2, ⌈5%·|source docs|⌉)) are template
    // chrome; each doc reports what fraction of its distinct grams is
    // source-boilerplate — the cross-doc signal q48's within-doc
    // repetition and q65's pairwise similarity cannot see. See the op
    // for the corpus-linear plan shape.
    "q113_boilerplate" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      graft.ops.Text.boilerplate(d).orderBy("doc_id")
    }),

    // ---- q114: incremental boilerplate vs persisted template grams ----
    // q113 as the crawl loop runs it (the q69/q105 frozen-LM rule
    // applied to template detection): the old corpus's per-source
    // boilerplate gram set persists once per snapshot; each batch doc
    // reports what fraction of its grams the FROZEN inventory already
    // marks as template chrome — zero old-document reads, the batch's
    // gram keys broadcast against the artifact scan and the hits
    // broadcast back (the q79/q101 membership discipline). A source
    // new since the snapshot scores 0: its ratios jumping after the
    // next snapshot owns its templates is the rebuild-drift signal.
    "q114_incremental_boilerplate" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      val cut = BatchCut.cut(s, d)
      val bPath = boilerGramIndex(s, dir, cut)
      graft.ops.Text.boilerScoreImpl(d.where(col("doc_id") >= cut),
          s.read.parquet(bPath), 3, "doc_id", "text", "source",
          capture = true) // the q114 plan pin reads the capture
        .orderBy("doc_id")
    }),

    // ---- q115: incremental sequence packing after frozen tails --------
    // q49 as the crawl loop runs it: the snapshot's per-shard tail
    // offsets persist (≤ 32 rows), and each batch packs APPEND-ONLY
    // after them — settled shards are never rewritten (their docs keep
    // their offsets and pack ids across every ingest), the batch lays
    // out in its own (hash, id) order from each frozen tail. The
    // deliberate divergence from a full q49 re-run over old∪batch IS
    // the operator's point: re-sorting rewrites 100 TB of layout to
    // admit a batch. Batch-proportional: one batch scan + a ≤ 32-row
    // broadcast; the old corpus contributes via the tail artifact only.
    "q115_incremental_pack" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      val cut = BatchCut.cut(s, d)
      val tPath = packTailIndex(s, dir, cut)
      graft.ops.Curate.packAppend(d.where(col("doc_id") >= cut),
          s.read.parquet(tPath), seqLen = 512, shards = 32)
        .orderBy("shard", "start_off", "doc_id")
    }),

    // ---- q116: BM25 hard negatives minus near-dups ---------------------
    // The text-side sibling of q96/q99 (embedding-space contrastive
    // mining): per sampled query doc, the top BM25 hits that are NOT
    // near-duplicates of the query. A near-dup ranked high by BM25 is
    // a FALSE negative — it is semantically the query — and training a
    // retriever against it teaches the model to push true matches
    // away; the verified near-dup pair set (q27's, from the session
    // memo, so a mining session after a dedup pass pays the LSH
    // pipeline once) filters the candidate list before the negatives
    // are cut. Ranking and sample rule are exactly q102's (same ops
    // core); the pair set broadcasts into an anti-join on the k·|q|
    // hit spine, and the re-rank window partitions per query over ≤ k
    // rows. Output: (query_id, neg_rank, doc_id, score_ppm).
    "q116_bm25_negatives" -> ((s, dir) => {
      val k = Conf.Bm25K(s)
      val d = Graft.parquetSource(s, dir).table("documents")
      val queries = d.where(pmod(hash60(col("text")), lit(20)) === 0)
        .select(col("doc_id"), col("text"))
      val hits = graft.ops.Retrieval.bm25(d, queries, k, CorpusQuality.Bm25DfCap,
          excludeSelf = true)
        .localCheckpoint() // k·|queries| rows; anti-join spine + window
      val (members, repPairs) = repPairsOf(s, dir)
      val pairs = graft.ops.Dedup.expandRepPairs(members, repPairs)
        .select(col("d1"), col("d2"))
      val sym = pairs.unionByName(
          pairs.select(col("d2").as("d1"), col("d1").as("d2")))
        .select(col("d1").as("query_id"), col("d2").as("doc_id"))
      val w = Window.partitionBy("query_id").orderBy("rank")
      hits.join(broadcast(sym), Seq("query_id", "doc_id"), "left_anti")
        .withColumn("neg_rank", row_number().over(w).cast("long"))
        .where(col("neg_rank") <= NegativesN)
        .select(col("query_id"), col("neg_rank"), col("doc_id"),
          col("score_ppm"))
        .orderBy("query_id", "neg_rank")
    }),

    // ---- q118: per-domain frequency cap --------------------------------
    // Thin binding over [[graft.ops.Curate.capPerKey]] — the "at most n
    // docs per domain" rule that stops over-crawled domains from
    // dominating a training mix: a deterministic hash-priority sample
    // per source via the mergeable bounded TopK aggregate (map-side
    // partial top-n, ≤ n rows per source cross the shuffle — never the
    // per-key full sort a row_number window pays; q40's window form is
    // the contrast, kept there because its per-lang k=5 output IS the
    // window shape). Cap knob: [[CapPerKey]].
    "q118_domain_cap" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      graft.ops.Curate.capPerKey(d, CapPerKey).orderBy("source", "doc_id")
    }),

    // ---- q119: incremental per-domain cap vs persisted kept-counts -----
    // q118 as the crawl loop runs it: the snapshot's per-source kept
    // counts persist (≤ |sources| rows); each batch competes only for
    // the REMAINING slots per source — already-kept documents stay kept
    // (the q115 append-only discipline; a full re-cap could evict
    // committed docs and rewrite downstream state), batch docs rank by
    // the same hash priority, keep_rank continues the snapshot's
    // numbering. Batch-proportional: one batch scan + a tiny broadcast;
    // the old corpus contributes via the count artifact only. The cap
    // is [[CapPerKeyIncr]].
    "q119_incremental_domain_cap" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      val cut = BatchCut.cut(s, d)
      val cPath = capCountIndex(s, dir, cut)
      graft.ops.Curate.capPerKeyAppend(d.where(col("doc_id") >= cut),
          s.read.parquet(cPath), CapPerKeyIncr)
        .orderBy("source", "doc_id")
    })
  )

  /** The persisted per-source kept-count artifact behind q119 — built
    * via the public frame definition ([[graft.ops.Curate.capCounts]]). */
  private[graft] def capCountIndex(s: SparkSession, dir: String,
      cut: Long): String =
    graft.sources.SideTable.ensure(s, "cap_counts",
        s"$dir#$cut#n$CapPerKeyIncr", Some(s"$dir/documents.parquet")) {
      graft.ops.Curate.capCounts(
        Graft.parquetSource(s, dir).table("documents")
          .where(col("doc_id") < cut), CapPerKeyIncr)
    }

  /** The persisted per-shard pack-tail artifact behind q115 — built via
    * the public frame definition ([[graft.ops.Curate.packTailFrame]]). */
  private[graft] def packTailIndex(s: SparkSession, dir: String,
      cut: Long): String =
    // key versioned "dense": the frame definition became dense (one
    // row per shard) so packAppend's modulus check is exact — a stale
    // sparse artifact from the earlier definition must rebuild
    graft.sources.SideTable.ensure(s, "pack_tails", s"$dir#$cut#dense",
        Some(s"$dir/documents.parquet")) {
      graft.ops.Curate.packTailFrame(
        Graft.parquetSource(s, dir).table("documents")
          .where(col("doc_id") < cut))
    }

  /** The persisted per-source gram inventory behind q136 — built via
    * the public frame definition ([[graft.ops.Dedup.sourceGramFrame]]). */
  private[graft] def sourceGramIndex(s: SparkSession, dir: String,
      cut: Long): String =
    graft.sources.SideTable.ensure(s, "source_grams", s"$dir#$cut#k$SpanK",
        Some(s"$dir/documents.parquet")) {
      graft.ops.Dedup.sourceGramFrame(
        Graft.parquetSource(s, dir).table("documents")
          .where(col("doc_id") < cut), SpanK)
    }

  /** The persisted BPE merge-table artifact behind q133 — built via
    * the public frame definition ([[graft.ops.Text.bpeVocab]]). */
  /** The persisted frozen-vocabulary artifact behind q157 — built via
    * the public op (the bpeMergeIndex discipline). */
  private[graft] def ulmVocabIndex(s: SparkSession, dir: String,
      cut: Long): String =
    graft.sources.SideTable.ensure(s, "ulm_vocab",
        s"$dir#$cut#p$UlmMaxP-f$UlmMinFreq-r$UlmRounds-v$UlmVSize" +
          s"-w$UlmMaxW", Some(s"$dir/documents.parquet")) {
      graft.ops.Text.unigramVocab(
        Graft.parquetSource(s, dir).table("documents")
          .where(col("doc_id") < cut),
        UlmMaxP, UlmMinFreq, UlmRounds, UlmVSize, UlmMaxW)
    }

  /** The persisted frozen WordPiece inventory behind q194 — trained on
    * the old slice via the public ops ([[graft.ops.Text.wordpieceVocab]]
    * → [[graft.ops.Text.wordpieceInventory]]), the bpeMergeIndex
    * discipline: what a deployment freezes is the encode-time piece
    * inventory. */
  private[graft] def wpInventoryIndex(s: SparkSession, dir: String,
      cut: Long): String =
    graft.sources.SideTable.ensure(s, "wp_inventory",
        s"$dir#$cut#n$WpMerges", Some(s"$dir/documents.parquet")) {
      val old = Graft.parquetSource(s, dir).table("documents")
        .where(col("doc_id") < cut)
      val merges = graft.ops.Text.wordpieceVocab(old, WpMerges)
        .orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.ops.Text.wordpieceInventory(old, merges)
    }

  private[graft] def bpeMergeIndex(s: SparkSession, dir: String,
      cut: Long): String =
    graft.sources.SideTable.ensure(s, "bpe_merges",
        s"$dir#$cut#n$BpeMerges", Some(s"$dir/documents.parquet")) {
      graft.ops.Text.bpeVocab(
        Graft.parquetSource(s, dir).table("documents")
          .where(col("doc_id") < cut), BpeMerges)
    }

  /** The persisted winnowed-fingerprint artifact behind q144 — built
    * via the public frame definition ([[graft.ops.Dedup.winnowFrame]]),
    * the ~w/2× smaller index of the span family. */
  private[graft] def winnowFpIndex(s: SparkSession, dir: String,
      cut: Long): String =
    graft.sources.SideTable.ensure(s, "winnow_fps",
        s"$dir#$cut#k$SpanK#w$WinnowW", Some(s"$dir/documents.parquet")) {
      graft.ops.Dedup.winnowFrame(
        Graft.parquetSource(s, dir).table("documents")
          .where(col("doc_id") < cut), SpanK, WinnowW)
    }

  /** The persisted distinct-gram-set artifact behind q129 — built via
    * the public frame definition ([[graft.ops.Dedup.spanGramFrame]]). */
  /** The persisted distinct-paragraph census behind q165 — built via
    * the SAME frame definition the public API exposes
    * ([[graft.ops.Dedup.paraFrame]]). */
  private[graft] def paraIndex(s: SparkSession, dir: String,
      cut: Long): String =
    graft.sources.SideTable.ensure(s, "para_set", s"$dir#$cut",
        Some(s"$dir/documents.parquet")) {
      graft.ops.Dedup.paraFrame(
        Graft.parquetSource(s, dir).table("documents")
          .where(col("doc_id") < cut))
    }

  private[graft] def spanGramIndex(s: SparkSession, dir: String,
      cut: Long): String =
    graft.sources.SideTable.ensure(s, "span_grams", s"$dir#$cut#k$SpanK",
        Some(s"$dir/documents.parquet")) {
      graft.ops.Dedup.spanGramFrame(
        Graft.parquetSource(s, dir).table("documents")
          .where(col("doc_id") < cut), SpanK)
    }

  /** The persisted per-source boilerplate gram artifact behind q114 —
    * built via the SAME frame definition the public API exposes
    * ([[graft.ops.Text.boilerGramFrame]]). */
  private[graft] def boilerGramIndex(s: SparkSession, dir: String,
      cut: Long): String =
    graft.sources.SideTable.ensure(s, "boiler_grams", s"$dir#$cut",
        Some(s"$dir/documents.parquet")) {
      graft.ops.Text.boilerGramFrame(
        Graft.parquetSource(s, dir).table("documents")
          .where(col("doc_id") < cut))
    }

  /** q112's pattern battery: built-in PII plus a corpus-word blocklist. */
  private lazy val scrubPatterns: Seq[(String, String)] =
    graft.ops.Text.piiPatterns :+
      ("blocked" -> graft.ops.Text.blocklistPattern(Seq("customer", "vector")))

  /** (doc_id, cluster_id) for every near-dup cluster member — the
    * connected components over the session pair memo plus star edges,
    * shared by q74's keep list and q77's drop set. */
  private def clusterComp(s: SparkSession, dir: String): DataFrame = {
    val (members, repPairs) = repPairsOf(s, dir)
    val starEdges = members.where(col("doc_id") =!= col("rep"))
      .select(col("doc_id").as("d1"), col("rep").as("d2"))
    val pairs = repPairs.select(col("d1"), col("d2"))
      .unionByName(starEdges)
    graft.plans.Components.keepList(pairs)
      .select(col("id").as("doc_id"), col("keep_id").as("cluster_id"))
  }

  private def wordCounts(s: SparkSession, dir: String): DataFrame =
    Graft.parquetSource(s, dir).table("documents")
      .select(col("doc_id"), wordCount(col("text")).cast("long").as("n_words"))

  /** doc_ids the quality-canonical keep list (q74) DROPS: every cluster
    * member except its cluster's best doc (longest, lowest-id tiebreak).
    * The q77 curation pipeline anti-joins this; unclustered docs are
    * untouched. Memo consumer — never re-derives the pair set. */
  private[graft] def qualityDropList(s: SparkSession,
      dir: String): DataFrame = {
    val comp = clusterComp(s, dir)
    val keep = comp.join(wordCounts(s, dir), "doc_id")
      .groupBy(col("cluster_id"))
      .agg(max_by(col("doc_id"),
        struct(col("n_words"), negate(col("doc_id")))).as("keep_id"))
    comp.join(keep, "cluster_id")
      .where(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"))
  }

  // ---------------------------------------------------------------- oracle

  /** Shared DuckDB CTEs: words + distinct n-gram shingle hashes. */
  private def shingleCte(n: Int): String = {
    val last = n - 1
    s"""WITH ws AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') w FROM documents
       |), sh AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    list_transform(range(1, len(w)-${last - 1}), i ->
       |      array_to_string(list_slice(w, i, i+$last), ' ')),
       |    s -> ('0x' || substr(md5(s),1,15))::bigint % 2147483647)) hs
       |  FROM ws WHERE len(w) >= $n
       |)""".stripMargin
  }

  private val langScoreSql: String = langs.map { case (l, sw) =>
    val set = sw.map(w => s"'$w'").mkString("[", ",", "]")
    s"CASE WHEN len(w) > 0 THEN len(list_filter(w, x -> list_contains($set, x)))::double / len(w) ELSE 0.0 END AS score_$l"
  }.mkString(",\n  ")

  private val langPredSql: String = {
    val arms = langs.map { case (l, _) =>
      val beats = langs.filter(_._1 != l)
        .map(o => s"score_$l >= score_${o._1}").mkString(" AND ")
      s"WHEN score_$l > 0 AND $beats THEN '$l'"
    }.mkString("\n    ")
    s"CASE $arms\n    ELSE 'und' END"
  }

  /** Shared DuckDB CTEs: 16-perm MinHash + 4×4 banded keys over the
    * distinct-shingle sets — the prefix of q27's pipeline and of q67's
    * incremental formulation. */
  private val minhashEbCte: String =
    shingleCte(3) +
      """, mh AS (
        |  SELECT doc_id, hs, list_transform(range(0, 16),
        |    j -> list_min(list_transform(hs, h -> ((2*j+3)*h + j*j+1) % 2147483647))) m
        |  FROM sh
        |), eb AS (
        |  SELECT doc_id, unnest(range(0, 4)) band_idx,
        |    unnest(list_transform(range(0, 4), b ->
        |      ('0x' || substr(md5(array_to_string(list_slice(m, b*4+1, b*4+4), ',')),1,15))::bigint)) band_key
        |  FROM mh
        |)""".stripMargin

  /** Exact-Jaccard verification over a `cand(d1, d2)` CTE — the shared
    * tail of the MinHash formulations. */
  private val jaccardVerifyTail: String =
    """SELECT d1, d2,
      |  len(list_intersect(s1.hs, s2.hs))::double
      |    / len(list_distinct(s1.hs || s2.hs)) AS jac
      |FROM cand JOIN sh s1 ON s1.doc_id = d1 JOIN sh s2 ON s2.doc_id = d2
      |WHERE len(list_intersect(s1.hs, s2.hs))::double
      |    / len(list_distinct(s1.hs || s2.hs)) >= 0.8
      |ORDER BY d1, d2""".stripMargin

  /** q27's full oracle SQL — also embedded as the `pairs` CTE of the
    * q53/q74 connected-components oracles and q77's curation oracle. */
  private[queries] val minhashPairsSql: String =
    minhashEbCte +
      """, cand AS (
        |  SELECT DISTINCT a.doc_id d1, b.doc_id d2
        |  FROM eb a JOIN eb b ON a.band_idx = b.band_idx
        |    AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        |)
        |""".stripMargin + jaccardVerifyTail

  /** Unrolled BPE-training CTE chain (the kmeans-oracle discipline):
    * w0 is the word-frequency symbol table (chars space-joined, end
    * marker, boundary spaces); per merge i, m$i picks the argmax pair
    * under the total tie-break and w$(i+1) applies it with the same
    * greedy left-to-right literal replace the Spark op uses.
    * MATERIALIZED throughout — DuckDB re-inlines multiply-referenced
    * CTEs otherwise (the q120 lesson). */
  private def bpeCtes(n: Int, pre: String = "",
      where: String = ""): String = {
    val head =
      s"""WITH ${pre}w0 AS MATERIALIZED (
        |  SELECT ' ' || array_to_string(string_split(word, ''), ' ')
        |           || ' </w> ' AS w,
        |         count(*)::bigint AS cnt
        |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+'))
        |          AS word FROM documents$where)
        |  WHERE word <> '' GROUP BY 1
        |)""".stripMargin
    head + (0 until n).map { i =>
      s""", m$i AS MATERIALIZED (
         |  SELECT l, r, freq FROM (
         |    SELECT s[i] AS l, s[i+1] AS r, sum(cnt)::bigint AS freq
         |    FROM (SELECT string_split(trim(w), ' ') AS s, cnt FROM w$i),
         |         (SELECT unnest(generate_series(1, len(s)-1)) AS i)
         |    GROUP BY 1, 2
         |  ) ORDER BY freq DESC, l, r LIMIT 1
         |), w${i + 1} AS MATERIALIZED (
         |  SELECT replace(w, ' '||l||' '||r||' ', ' '||l||r||' ') AS w, cnt
         |  FROM w$i, m$i
         |)""".stripMargin
    }.mkString
  }

  private def bpeVocabSql: String =
    bpeCtes(24) + "\n" +
      (0 until 24).map(i =>
        s"SELECT ($i+1)::bigint AS merge_rank, l AS left_sym, " +
          s"r AS right_sym, freq AS pair_freq FROM m$i")
        .mkString(" UNION ALL ") +
      "\nORDER BY merge_rank"

  /** q126: the training CTEs plus a chained-replace encode over every
    * document; LEFT JOIN ON true keeps documents intact if a merge CTE
    * comes up empty (merge exhaustion), mirroring the Spark op's
    * fold over however many merges were learned. */
  /** The training CTEs plus the chained-replace encode chain up
    * through e24 — shared by q126 (whole corpus) and q133 (frozen
    * merges from the old slice, batch-only encode). */
  private def bpeEncodeChain(pre: String, trainWhere: String,
      encodeWhere: String): String =
    bpeCtes(24, pre, trainWhere) +
      s""", e0 AS MATERIALIZED (
        |  SELECT doc_id,
        |    ' ' || replace(regexp_replace(replace(
        |        regexp_replace(trim(text), '\\s+', ' '), ' ', chr(1)),
        |      '(.)', '\\1 ', 'g'), chr(1), '</w> ') || '</w> ' AS w
        |  FROM documents$encodeWhere
        |)""".stripMargin +
      (0 until 24).map { i =>
        s""", e${i + 1} AS MATERIALIZED (
           |  SELECT doc_id, CASE WHEN m.l IS NULL THEN e.w
           |    ELSE replace(e.w, ' '||m.l||' '||m.r||' ',
           |                 ' '||m.l||m.r||' ') END AS w
           |  FROM e$i e LEFT JOIN m$i m ON true
           |)""".stripMargin
      }.mkString +
      // word-bounded double boundary spaces (the engine-side contract)
      // normalize away before token extraction
      """, ef AS (
        |  SELECT doc_id, trim(regexp_replace(w, ' +', ' ', 'g')) AS w
        |  FROM e24
        |)""".stripMargin

  /** Viterbi-DP CTE chain of the unigram family: dp<tag>_p per
    * position against vocabulary CTE `vocab` ((piece, bits)) with
    * unknown-single-char fallback cost from `vt` ((mb)); ends in
    * seg<tag> (word, cnt, path). Reused CTEs are MATERIALIZED (the
    * clf-oracle lesson: the chain references dp_{p−j} up to maxPiece
    * times — default inlining would blow up exponentially). */
  private def ulmDpCtes(tag: String, vocab: String, vt: String,
      wl: String = "wl"): String = {
    val dp0 = s""", dp${tag}_0 AS (
      |  SELECT word, cnt, len, 0::bigint AS bits, 0::bigint AS np,
      |    0 AS back, []::varchar[] AS path
      |  FROM $wl)""".stripMargin
    val steps = (1 to UlmMaxW).map { p =>
      val cands = (math.max(0, p - UlmMaxP) until p).map { j =>
        val plen = p - j
        if (plen == 1)
          s"""  SELECT d.word, d.cnt, d.len,
             |    d.bits + coalesce(v.bits, (SELECT mb FROM $vt)) AS bits,
             |    d.np + 1 AS np, $j AS back,
             |    list_append(d.path, substr(d.word, ${j + 1}, 1)) AS path
             |  FROM dp${tag}_$j d LEFT JOIN $vocab v
             |    ON v.piece = substr(d.word, ${j + 1}, 1)
             |  WHERE d.len >= $p""".stripMargin
        else
          s"""  SELECT d.word, d.cnt, d.len,
             |    d.bits + v.bits AS bits, d.np + 1 AS np, $j AS back,
             |    list_append(d.path, substr(d.word, ${j + 1}, $plen)) AS path
             |  FROM dp${tag}_$j d JOIN $vocab v
             |    ON v.piece = substr(d.word, ${j + 1}, $plen)
             |  WHERE d.len >= $p""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s""", dp${tag}_$p AS MATERIALIZED (
        |  SELECT word, cnt, len, bits, np, back, path FROM (
        |    SELECT *, row_number() OVER (PARTITION BY word
        |      ORDER BY bits, np, back) AS rn
        |    FROM (
        |$cands
        |    )
        |  ) WHERE rn = 1)""".stripMargin
    }.mkString
    val segs = (1 to UlmMaxW)
      .map(p => s"SELECT word, cnt, path FROM dp${tag}_$p WHERE len = $p")
      .mkString(" UNION ALL ")
    dp0 + steps + s", seg$tag AS MATERIALIZED ($segs)"
  }

  /** The unigram training chain: word table, substring seed, and
    * UlmRounds unrolled hard-EM rounds ending in vocabulary CTEs
    * keep<R>/vb<R>/vt<R>. */
  private def ulmTrainCtes: String = ulmTrainCtesFrom("", "")

  /** `pre` opens extra leading CTEs; `docWhere` restricts the TRAINING
    * corpus (the q157 old slice, the clfTrainCtes convention). */
  private def ulmTrainCtesFrom(pre: String, docWhere: String): String = {
    val base = s"""WITH ${pre}wf AS MATERIALIZED (
      |  SELECT t AS word, count(*)::bigint AS cnt, length(t) AS len
      |  FROM (
      |    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
      |    FROM documents
      |    WHERE text IS NOT NULL AND len(trim(text)) > 0$docWhere
      |  ) WHERE t <> '' GROUP BY t
      |), wl AS MATERIALIZED (
      |  SELECT word, cnt, len FROM wf WHERE len <= $UlmMaxW
      |), sub AS (
      |  SELECT substr(word, i, l) AS piece, sum(cnt)::bigint AS n
      |  FROM wl CROSS JOIN range(1, ${UlmMaxW + 1}) r(i)
      |    CROSS JOIN range(1, ${UlmMaxP + 1}) s(l)
      |  WHERE i + l - 1 <= len
      |  GROUP BY 1
      |), v0 AS MATERIALIZED (
      |  SELECT piece, n FROM sub
      |  WHERE n >= $UlmMinFreq OR length(piece) = 1
      |), vb0 AS MATERIALIZED (
      |  SELECT piece, length(bin((SELECT sum(n + 1) FROM v0)))
      |    - length(bin(n + 1)) AS bits
      |  FROM v0
      |), vt0 AS MATERIALIZED (
      |  SELECT length(bin((SELECT sum(n + 1) FROM v0)))::bigint AS mb
      |)""".stripMargin
    val rounds = (1 to UlmRounds).map { r =>
      ulmDpCtes(s"r$r", s"vb${r - 1}", s"vt${r - 1}") +
        s""", cnt$r AS MATERIALIZED (
          |  SELECT piece, sum(cnt)::bigint AS n FROM (
          |    SELECT word, cnt, unnest(path) AS piece FROM segr$r
          |  ) GROUP BY piece
          |), keep$r AS MATERIALIZED (
          |  SELECT piece, n FROM (
          |    SELECT piece, n, row_number() OVER (ORDER BY n DESC, piece)
          |      AS rk
          |    FROM cnt$r
          |  ) WHERE rk <= $UlmVSize OR length(piece) = 1
          |), vb$r AS MATERIALIZED (
          |  SELECT piece, length(bin((SELECT sum(n + 1) FROM keep$r)))
          |    - length(bin(n + 1)) AS bits
          |  FROM keep$r
          |), vt$r AS MATERIALIZED (
          |  SELECT length(bin((SELECT sum(n + 1) FROM keep$r)))::bigint
          |    AS mb
          |)""".stripMargin
    }.mkString
    base + rounds
  }

  private def bpeEncodeSql: String =
    bpeEncodeChain("", "", "") +
      """
        |SELECT doc_id,
        |  len(string_split(w, ' '))::bigint AS n_tokens,
        |  md5(w) AS tok_md5
        |FROM ef ORDER BY doc_id""".stripMargin

  /** q133: the q126 replay with the merge table trained on the OLD
    * slice only and the encode restricted to the batch — fertility
    * (tokens per word) is the drift number a tokenizer deployment
    * watches across crawls. */
  private def bpeIncrEncodeSql: String =
    bpeEncodeChain(
      "cut AS MATERIALIZED (SELECT (max(doc_id) * 4) // 5 AS c" +
        " FROM documents), ",
      " WHERE doc_id < (SELECT c FROM cut)",
      " WHERE doc_id >= (SELECT c FROM cut)") +
      """
        |SELECT e.doc_id,
        |  len(regexp_split_to_array(trim(d.text), '\s+'))::bigint
        |    AS n_words,
        |  len(string_split(e.w, ' '))::bigint AS n_tokens,
        |  len(string_split(e.w, ' '))::double
        |    / len(regexp_split_to_array(trim(d.text), '\s+'))
        |    AS fertility,
        |  md5(e.w) AS tok_md5
        |FROM ef e JOIN documents d ON d.doc_id = e.doc_id
        |ORDER BY e.doc_id""".stripMargin

  /** The unrolled WordPiece training loop: wp0 (symbol streams — bare
    * first char + "##"-continuations) then per round i the symbol
    * counts (wps$i), the likelihood-scored argmax pair (wpm$i — the
    * exact (freq·2^30) // (nl·nr) BIGINT score with the engine's total
    * tie-break) and the merged stream (wp${i+1}; LEFT JOIN ON true
    * keeps streams intact past merge exhaustion, the bpeEncodeChain
    * convention). `where` restricts the training corpus. */
  private def wpCtes(n: Int, pre: String = "",
      where: String = ""): String = {
    val head = s"""WITH ${pre}wp0 AS MATERIALIZED (
      |  SELECT ' ' || substr(word, 1, 1) || ' ' ||
      |      regexp_replace(substr(word, 2), '(.)', '##\\1 ', 'g') AS w,
      |    count(*)::bigint AS cnt
      |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+'))
      |          AS word FROM documents$where)
      |  WHERE word <> '' GROUP BY 1
      |)""".stripMargin
    head + (0 until n).map { i =>
      s""", wps$i AS MATERIALIZED (
         |  SELECT sym, sum(cnt)::bigint AS n FROM (
         |    SELECT unnest(string_split(trim(w), ' ')) AS sym, cnt
         |    FROM wp$i)
         |  GROUP BY 1
         |), wpm$i AS MATERIALIZED (
         |  SELECT l, r, freq, (freq * 1073741824) // (nl * nr) AS score
         |  FROM (
         |    SELECT p.l, p.r, p.freq, a.n AS nl, b.n AS nr FROM (
         |      SELECT s[i] AS l, s[i+1] AS r, sum(cnt)::bigint AS freq
         |      FROM (SELECT string_split(trim(w), ' ') AS s, cnt
         |            FROM wp$i),
         |           (SELECT unnest(generate_series(1, len(s)-1)) AS i)
         |      GROUP BY 1, 2
         |    ) p JOIN wps$i a ON a.sym = p.l JOIN wps$i b ON b.sym = p.r
         |  ) ORDER BY score DESC, freq DESC, l, r LIMIT 1
         |), wp${i + 1} AS MATERIALIZED (
         |  SELECT CASE WHEN m.l IS NULL THEN t.w
         |    ELSE replace(t.w, ' '||m.l||' '||m.r||' ',
         |                 ' '||m.l||substr(m.r, 3)||' ') END AS w, cnt
         |  FROM wp$i t LEFT JOIN wpm$i m ON true
         |)""".stripMargin
    }.mkString
  }

  private def wpVocabSql: String =
    wpCtes(WpMerges) + "\n" +
      (0 until WpMerges).map(i =>
        s"SELECT ($i+1)::bigint AS merge_rank, l AS left_sym, " +
          s"r AS right_sym, freq AS pair_freq, score FROM wpm$i")
        .mkString(" UNION ALL ") +
      "\nORDER BY merge_rank"

  /** The training CTEs plus the greedy longest-match-first encode —
    * inventory (seed singles + merged pieces), per-(word, position)
    * longest inventory match (ed), a recursive walk consuming ≥ 1
    * char per step, [UNK] for stuck or over-long words, and the
    * per-document reassembly base (dw). `encodeAnd` restricts the
    * encoded corpus (an AND clause — the train/encode split of the
    * bpeEncodeChain convention). */
  private def wpEncodeChain(pre: String, trainWhere: String,
      encodeAnd: String): String = {
    val merged = (0 until WpMerges)
      .map(i => s"SELECT l || substr(r, 3) AS piece FROM wpm$i")
      .mkString("\n    UNION ALL\n    ")
    wpCtes(WpMerges, pre, trainWhere) + s""", wpinv AS MATERIALIZED (
      |  SELECT DISTINCT piece FROM (
      |    SELECT unnest(string_split(trim(w), ' ')) AS piece FROM wp0
      |    UNION ALL
      |    $merged
      |  ) WHERE piece <> ''
      |), wpmc AS MATERIALIZED (
      |  SELECT max(length(piece) -
      |    CASE WHEN piece LIKE '##%' THEN 2 ELSE 0 END) AS m FROM wpinv
      |), wpall AS MATERIALIZED (
      |  SELECT word, length(word) AS len FROM (
      |    SELECT DISTINCT unnest(regexp_split_to_array(trim(text),
      |      '\\s+')) AS word
      |    FROM documents
      |    WHERE text IS NOT NULL AND len(trim(text)) > 0$encodeAnd
      |  ) WHERE word <> ''
      |), wpwl AS MATERIALIZED (
      |  SELECT word, len FROM wpall WHERE len <= $WpMaxW
      |), wped AS MATERIALIZED (
      |  SELECT word, j, max(l)::BIGINT AS ml FROM (
      |    SELECT wl.word, t.j, s.l
      |    FROM wpwl wl, range(0, $WpMaxW) t(j),
      |         range(1, ${WpMaxW + 1}) s(l), wpinv inv
      |    WHERE t.j < wl.len AND s.l <= wl.len - t.j
      |      AND s.l <= (SELECT m FROM wpmc)
      |      AND inv.piece = CASE WHEN t.j = 0
      |        THEN substr(wl.word, 1, s.l::INT)
      |        ELSE '##' || substr(wl.word, (t.j + 1)::INT, s.l::INT)
      |        END
      |  ) GROUP BY 1, 2
      |), wpwk AS MATERIALIZED (
      |  WITH RECURSIVE g AS (
      |    SELECT word, len, 0::BIGINT AS pos, ''::VARCHAR AS toks,
      |      0::BIGINT AS np
      |    FROM wpwl
      |    UNION ALL
      |    SELECT g.word, g.len, g.pos + e.ml,
      |      g.toks || CASE WHEN g.pos = 0 THEN '' ELSE ' ' END ||
      |        CASE WHEN g.pos = 0 THEN substr(g.word, 1, e.ml::INT)
      |             ELSE '##' || substr(g.word, (g.pos + 1)::INT,
      |               e.ml::INT)
      |        END,
      |      g.np + 1
      |    FROM g JOIN wped e ON e.word = g.word AND e.j = g.pos
      |    WHERE g.pos < g.len
      |  )
      |  SELECT word, toks, np FROM g WHERE pos = len
      |), wptok AS MATERIALIZED (
      |  SELECT wl.word, coalesce(wk.toks, '[UNK]') AS toks,
      |    coalesce(wk.np, 1)::BIGINT AS np,
      |    (CASE WHEN wk.word IS NULL THEN 1 ELSE 0 END)::BIGINT AS nunk
      |  FROM wpwl wl LEFT JOIN wpwk wk ON wk.word = wl.word
      |  UNION ALL
      |  SELECT word, '[UNK]', 1::BIGINT, 1::BIGINT
      |  FROM wpall WHERE len > $WpMaxW
      |), wpdw AS (
      |  SELECT doc_id, i AS pos, w[i] AS word FROM (
      |    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
      |    FROM documents
      |    WHERE text IS NOT NULL AND len(trim(text)) > 0$encodeAnd
      |  ), unnest(range(1, len(w) + 1)) AS t(i)
      |)""".stripMargin
  }

  private def wpEncodeSql: String =
    wpEncodeChain("", "", "") + """
      |SELECT d.doc_id,
      |  sum(t.np)::bigint AS n_tokens,
      |  sum(t.nunk)::bigint AS n_unk,
      |  md5(string_agg(t.toks, ' ' ORDER BY d.pos)) AS tok_md5
      |FROM wpdw d JOIN wptok t USING (word)
      |GROUP BY d.doc_id ORDER BY doc_id""".stripMargin

  /** q194: the q193 replay with the inventory trained on the OLD slice
    * only and the encode restricted to the batch — fertility AND the
    * [UNK] rate are the drift numbers (novel characters have no piece
    * and surface as [UNK]). */
  private def wpIncrEncodeSql: String =
    wpEncodeChain(
      "cut AS MATERIALIZED (SELECT (max(doc_id) * 4) // 5 AS c" +
        " FROM documents), ",
      " WHERE doc_id < (SELECT c FROM cut)",
      " AND doc_id >= (SELECT c FROM cut)") + """
      |SELECT e.doc_id,
      |  len(regexp_split_to_array(trim(d.text), '\s+'))::bigint
      |    AS n_words,
      |  sum(t.np)::bigint AS n_tokens,
      |  sum(t.nunk)::bigint AS n_unk,
      |  sum(t.np)::double
      |    / len(regexp_split_to_array(trim(d.text), '\s+'))
      |    AS fertility,
      |  md5(string_agg(t.toks, ' ' ORDER BY e.pos)) AS tok_md5
      |FROM wpdw e JOIN wptok t USING (word)
      |JOIN documents d ON d.doc_id = e.doc_id
      |GROUP BY e.doc_id, d.text ORDER BY e.doc_id""".stripMargin

  /** q161: all THREE tokenizer chains composed — the full BPE
    * train+encode CTE list (w0…w24, m0…m24, e0…e24, ef) opens the
    * WITH as the `pre` of the unigram train chain (wf, wl, sub, and
    * the per-round v/vb/vt/dp/seg/cnt/keep CTEs), then the WordPiece
    * train+greedy-encode chain (wp0…wp24, wps/wpm per round, wpinv,
    * wpwl/wped/wpwk/wptok/wpdw); the namespaces are disjoint, so all
    * three token streams reduce in one statement with the same
    * integer-ppm floor divisions as the engine op (WordPiece symbol
    * lengths discount the ## continuation prefix the way BPE's
    * discount the </w> suffix). */
  private def tokenizerEvalSql: String =
    // concatenate, don't interpolate: the BPE chain carries
    // line-leading `||` concats that a second stripMargin would eat
    bpeEncodeChain("", "", "") + ", " +
      ulmTrainCtesFrom("", "").stripPrefix("WITH ") +
      ulmDpCtes("e", s"vb$UlmRounds", s"vt$UlmRounds") + ", " +
      wpEncodeChain("", "", "").stripPrefix("WITH ") +
      s""", wtok AS MATERIALIZED (
        |  SELECT word, array_to_string(path, ' ') AS toks
        |  FROM sege
        |  UNION ALL
        |  SELECT word,
        |    array_to_string(list_filter(regexp_split_to_array(word, ''),
        |      x -> x <> ''), ' ') AS toks
        |  FROM wf WHERE len > $UlmMaxW
        |), dw AS (
        |  SELECT doc_id, i AS pos, w[i] AS word FROM (
        |    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        |    FROM documents WHERE text IS NOT NULL AND len(trim(text)) > 0
        |  ), unnest(range(1, len(w) + 1)) AS t(i)
        |), tkb AS (
        |  SELECT tok FROM (
        |    SELECT unnest(string_split(e.w, ' ')) AS tok
        |    FROM ef e JOIN documents d ON d.doc_id = e.doc_id
        |    WHERE d.text IS NOT NULL AND len(trim(d.text)) > 0
        |  ) WHERE tok <> ''
        |), tku AS (
        |  SELECT tok FROM (
        |    SELECT unnest(string_split(t.toks, ' ')) AS tok
        |    FROM dw d JOIN wtok t USING (word)
        |  ) WHERE tok <> ''
        |), tkw AS (
        |  SELECT tok FROM (
        |    SELECT unnest(string_split(t.toks, ' ')) AS tok
        |    FROM wpdw d JOIN wptok t USING (word)
        |  ) WHERE tok <> ''
        |), mb AS (
        |  SELECT count(*)::bigint AS n_tokens,
        |    count(DISTINCT tok)::bigint AS n_token_types,
        |    sum(CASE WHEN (CASE WHEN tok LIKE '%</w>'
        |        THEN length(tok) - 4 ELSE length(tok) END) = 1
        |      THEN 1 ELSE 0 END)::bigint AS n_char_tokens
        |  FROM tkb
        |), mu AS (
        |  SELECT count(*)::bigint AS n_tokens,
        |    count(DISTINCT tok)::bigint AS n_token_types,
        |    sum(CASE WHEN (CASE WHEN tok LIKE '%</w>'
        |        THEN length(tok) - 4 ELSE length(tok) END) = 1
        |      THEN 1 ELSE 0 END)::bigint AS n_char_tokens
        |  FROM tku
        |), mw AS (
        |  SELECT count(*)::bigint AS n_tokens,
        |    count(DISTINCT tok)::bigint AS n_token_types,
        |    sum(CASE WHEN (CASE WHEN tok LIKE '##%'
        |        THEN length(tok) - 2 ELSE length(tok) END) = 1
        |      THEN 1 ELSE 0 END)::bigint AS n_char_tokens
        |  FROM tkw
        |), tot AS (
        |  SELECT
        |    (SELECT count(*) FROM documents
        |     WHERE text IS NOT NULL AND len(trim(text)) > 0)::bigint
        |      AS n_docs,
        |    (SELECT sum(cnt) FROM wf)::bigint AS n_words,
        |    (SELECT sum(len * cnt) FROM wf)::bigint AS n_chars
        |), u AS (
        |  SELECT 'bpe' AS tokenizer, m.* FROM mb m
        |  UNION ALL
        |  SELECT 'unigram' AS tokenizer, m.* FROM mu m
        |  UNION ALL
        |  SELECT 'wordpiece' AS tokenizer, m.* FROM mw m
        |)
        |SELECT tokenizer, n_docs, n_words, n_chars, n_tokens,
        |  n_token_types, n_char_tokens,
        |  (CASE WHEN n_words = 0 THEN 0
        |    ELSE n_tokens * 1000000 // n_words END)::bigint AS fert_ppm,
        |  (CASE WHEN n_tokens = 0 THEN 0
        |    ELSE n_chars * 1000000 // n_tokens END)::bigint
        |    AS chars_per_tok_ppm,
        |  (CASE WHEN n_tokens = 0 THEN 0
        |    ELSE n_char_tokens * 1000000 // n_tokens END)::bigint
        |    AS char_tok_ppm
        |FROM u, tot ORDER BY tokenizer""".stripMargin

  /** q195: the epoch-schedule waterfall unrolled — per round, the
    * active-weight sum and remaining budget (ew), per-row floor
    * shares (es), the any-source-caps probe (ea), and the state
    * transition (e): cappers freeze AT the cap, a no-cap round adds
    * shares and sets done, exhaustion (bw = 0 or r ≤ 0) halts.
    * Integer arithmetic identical to the engine's driver loop.
    *
    * Unroll depth: 24 fixed rounds. Every non-final round caps at
    * least one source (else it is the closing no-cap round and the
    * state freezes via `done`), so 24 rounds exactly replay the
    * engine's |sources|+1-round loop for ≤ 23 sources; the q195
    * binding `require`s that bound against the live fixture so a
    * wider corpus fails loudly instead of diverging. */
  private def epochScheduleSql: String = {
    val tok =
      "len(regexp_extract_all(text, " +
        "'[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\\s]'))"
    val head = s"""WITH cs AS MATERIALIZED (
      |  SELECT source AS src, sum($tok)::BIGINT AS c
      |  FROM documents GROUP BY 1
      |), bb AS MATERIALIZED (
      |  SELECT 3 * sum(c)::BIGINT AS b FROM cs
      |), e0 AS MATERIALIZED (
      |  SELECT src, c,
      |    (regexp_extract(src, '([0-9]+)', 1)::BIGINT + 1) AS w,
      |    4 * c AS cap, 0::BIGINT AS alloc,
      |    (regexp_extract(src, '([0-9]+)', 1)::BIGINT + 1) > 0
      |      AS active,
      |    false AS done
      |  FROM cs
      |)""".stripMargin
    val rounds = (1 to 24).map { k =>
      s""", ew$k AS MATERIALIZED (
         |  SELECT coalesce((SELECT sum(w) FROM e${k - 1} WHERE active),
         |      0)::BIGINT AS bw,
         |    ((SELECT b FROM bb) -
         |      (SELECT sum(alloc) FROM e${k - 1}))::BIGINT AS r
         |), es$k AS MATERIALIZED (
         |  SELECT e.*,
         |    CASE WHEN e.active AND NOT e.done AND ew.bw > 0
         |          AND ew.r > 0
         |         THEN (ew.r * e.w) // ew.bw ELSE 0 END AS share,
         |    (ew.bw = 0 OR ew.r <= 0) AS halt
         |  FROM e${k - 1} e, ew$k ew
         |), ea$k AS MATERIALIZED (
         |  SELECT coalesce(bool_or(active AND NOT done AND NOT halt
         |      AND alloc + share >= cap), false) AS anycap
         |  FROM es$k
         |), e$k AS MATERIALIZED (
         |  SELECT src, c, w, cap,
         |    CASE WHEN done OR halt THEN alloc
         |         WHEN NOT active THEN alloc
         |         WHEN anycap AND alloc + share >= cap THEN cap
         |         WHEN anycap THEN alloc
         |         ELSE alloc + share END AS alloc,
         |    CASE WHEN done OR halt THEN active
         |         WHEN active AND anycap AND alloc + share >= cap
         |           THEN false
         |         ELSE active END AS active,
         |    (done OR halt OR NOT anycap) AS done
         |  FROM es$k, ea$k
         |)""".stripMargin
    }.mkString
    head + rounds + """
      |SELECT src AS source, c AS unique_tokens, w AS weight,
      |  cap AS cap_tokens, alloc AS alloc_tokens,
      |  CASE WHEN c = 0 THEN 0
      |       ELSE alloc * 1000000 // c END AS epochs_ppm,
      |  alloc = cap AS capped
      |FROM e24 ORDER BY source""".stripMargin
  }

  /** q196/q198 shared replay (union of per-doc distinct gram rows
    * over disjoint doc sets ≡ the from-scratch blocking index, so the
    * incremental audit replays identically): gram hashes + blocking +
    * bounded top-3 + diagonal gaps-and-islands longest common
    * substring at token grain. */
  private val contamAuditSql: String =
    """WITH ws AS MATERIALIZED (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') w
        |  FROM documents WHERE text IS NOT NULL
        |), be AS MATERIALIZED (
        |  SELECT doc_id AS bench_id,
        |    CASE WHEN doc_id % 2 = 1 THEN list_reverse(w) ELSE w END AS w
        |  FROM ws WHERE doc_id < 20
        |), bg AS MATERIALIZED (
        |  SELECT DISTINCT bench_id,
        |    ('0x' || substr(md5(array_to_string(w[i:i+4], ' ')),1,15))::BIGINT
        |      % 2147483647 AS h
        |  FROM be, unnest(range(1, len(w) - 3)) AS t(i)
        |  WHERE len(w) >= 5
        |), cgd AS MATERIALIZED (
        |  SELECT DISTINCT doc_id,
        |    ('0x' || substr(md5(array_to_string(w[i:i+4], ' ')),1,15))::BIGINT
        |      % 2147483647 AS h
        |  FROM ws, unnest(range(1, len(w) - 3)) AS t(i)
        |  WHERE len(w) >= 5
        |), cand AS (
        |  SELECT bench_id, doc_id, count(*)::BIGINT AS n_shared
        |  FROM cgd JOIN bg USING (h) GROUP BY 1, 2
        |), top AS MATERIALIZED (
        |  SELECT bench_id, doc_id, n_shared AS n_shared_grams FROM (
        |    SELECT *, row_number() OVER (PARTITION BY bench_id
        |      ORDER BY n_shared DESC, doc_id) AS rk
        |    FROM cand
        |  ) WHERE rk <= 3
        |), bt AS MATERIALIZED (
        |  SELECT bench_id, i, w[i] AS tok
        |  FROM be, unnest(range(1, len(w) + 1)) AS t(i)
        |), ct AS MATERIALIZED (
        |  SELECT s.doc_id, j, s.w[j] AS tok
        |  FROM ws s JOIN (SELECT DISTINCT doc_id FROM top) USING (doc_id),
        |       unnest(range(1, len(s.w) + 1)) AS t(j)
        |), m AS MATERIALIZED (
        |  SELECT t.bench_id, t.doc_id, t.n_shared_grams,
        |    b.i - c.j AS d, b.i
        |  FROM top t
        |  JOIN ct c ON c.doc_id = t.doc_id
        |  JOIN bt b ON b.bench_id = t.bench_id AND b.tok = c.tok
        |), runs AS (
        |  SELECT bench_id, doc_id, n_shared_grams, max(run) AS max_run
        |  FROM (
        |    SELECT bench_id, doc_id, n_shared_grams, count(*)::BIGINT
        |      AS run
        |    FROM (SELECT *, i - row_number() OVER (PARTITION BY bench_id,
        |        doc_id, d ORDER BY i) AS grp FROM m)
        |    GROUP BY bench_id, doc_id, n_shared_grams, d, grp
        |  ) GROUP BY 1, 2, 3
        |), bn AS (
        |  SELECT bench_id, len(w)::BIGINT AS bench_tokens FROM be
        |)
        |SELECT r.bench_id, r.doc_id, r.n_shared_grams, bn.bench_tokens,
        |  r.max_run::BIGINT AS max_run,
        |  (r.max_run * 1000000 // bn.bench_tokens)::BIGINT AS run_ppm
        |FROM runs r JOIN bn USING (bench_id)
        |ORDER BY bench_id, doc_id""".stripMargin

  /** q186/q187 shared replay: distinct corpus 13-gram hashes, the
    * derived benchmark (first 20 docs, odds word-reversed), per-item
    * hit stats. The incremental form's union of distinct hash sets ≡
    * this from-scratch inventory, so both queries share it. */
  private val contamSql: String =
    """WITH ws AS MATERIALIZED (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') w
      |  FROM documents WHERE text IS NOT NULL
      |), cg AS MATERIALIZED (
      |  SELECT DISTINCT
      |    ('0x' || substr(md5(array_to_string(w[i:i+12], ' ')),1,15))::bigint
      |      % 2147483647 AS h
      |  FROM ws, unnest(range(1, len(w) - 11)) AS t(i)
      |  WHERE len(w) >= 13
      |), be AS (
      |  SELECT doc_id AS bench_id,
      |    CASE WHEN doc_id % 2 = 1 THEN list_reverse(w) ELSE w END AS w
      |  FROM ws WHERE doc_id < 20
      |), bg AS (
      |  SELECT bench_id,
      |    ('0x' || substr(md5(array_to_string(w[i:i+12], ' ')),1,15))::bigint
      |      % 2147483647 AS h
      |  FROM be, unnest(range(1, len(w) - 11)) AS t(i)
      |  WHERE len(w) >= 13
      |)
      |SELECT bench_id, count(*)::BIGINT AS n_grams,
      |  sum(CASE WHEN cg.h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
      |    AS n_hit,
      |  ((sum(CASE WHEN cg.h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
      |    * 1000000) // count(*)::BIGINT)::BIGINT AS hit_ppm
      |FROM bg LEFT JOIN cg ON cg.h = bg.h
      |GROUP BY bench_id ORDER BY bench_id""".stripMargin

  val oracles: Map[String, String] = Map(

    "q186_contamination" -> contamSql,

    // union of distinct gram-hash inventories == the from-scratch
    // inventory, so the incremental replay IS q186's
    "q187_incremental_contamination" -> contamSql,
    "q23_text_stats" ->
      """SELECT doc_id,
        |  length(text) AS n_chars_calc,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
        |  len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]')) AS n_tokens,
        |  CASE WHEN length(text) > 0
        |    THEN length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))::double / length(text)
        |    ELSE 0.0 END AS punct_ratio,
        |  CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) > 0
        |    THEN length(regexp_replace(text, '\s+', '', 'g'))::double
        |         / len(regexp_split_to_array(trim(text), '\s+'))
        |    ELSE 0.0 END AS mean_word_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q24_lang_id" ->
      s"""WITH ws AS (
         |  SELECT doc_id, lang AS lang_claimed,
         |    regexp_split_to_array(trim(text), '\\s+') w,
         |    list_distinct(list_transform(range(1, length(lower(text))-1),
         |      i -> substr(lower(text), i, 3))) tg
         |  FROM documents
         |), scored AS (
         |  SELECT doc_id, lang_claimed,
         |  CASE WHEN len(tg) > 0 THEN
         |    len(list_intersect(tg, [${enTrigrams.map(t => s"'$t'").mkString(",")}]))::double / len(tg)
         |  ELSE 0.0 END AS score_en_3g,
         |  $langScoreSql
         |  FROM ws
         |)
         |SELECT doc_id, lang_claimed, score_en_3g,
         |  score_en, score_es, score_de, score_fr,
         |  $langPredSql AS lang_pred
         |FROM scored ORDER BY doc_id""".stripMargin,

    "q25_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(0::bigint,
        |      list_transform(regexp_split_to_array(trim(text), '\s+'),
        |        s -> ('0x' || substr(md5(s),1,15))::bigint % 2147483647)),
        |    (acc, x) -> (acc * 31 + x) % 2147483647) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q26_exact_dedup" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM (SELECT doc_id, md5(lower(trim(text))) dup_key FROM documents)
        |GROUP BY dup_key ORDER BY keep_id""".stripMargin,

    "q27_minhash_lsh" -> minhashPairsSql,

    // Independent cascade formulation: components via transitive closure
    // over the EXPANDED doc-level pairs (within-group cliques + member
    // pairs) — same reachable sets as the engine's star-edge form.
    "q148_dedup_cascade" ->
      s"""WITH RECURSIVE pairs AS ($minhashPairsSql),
         |ws AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') w
         |  FROM documents
         |), keyed AS (
         |  SELECT doc_id, md5(array_to_string(w, ' ')) gk FROM ws
         |  WHERE len(w) >= 3
         |), reps AS (SELECT gk, min(doc_id) rep FROM keyed GROUP BY gk),
         |mem AS (
         |  SELECT keyed.doc_id, reps.rep FROM keyed JOIN reps USING (gk)
         |), edges AS (
         |  SELECT d1 a, d2 b FROM pairs UNION SELECT d2, d1 FROM pairs
         |), reach(a, b) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
         |), comp AS (
         |  SELECT a AS doc_id, min(b) AS keep_id FROM reach GROUP BY a
         |)
         |SELECT d.doc_id,
         |  coalesce(comp.keep_id, d.doc_id) AS keep_id,
         |  CASE WHEN mem.rep IS NULL THEN 'kept'
         |       WHEN d.doc_id != mem.rep THEN 'exact'
         |       WHEN coalesce(comp.keep_id, d.doc_id) < d.doc_id
         |         THEN 'near'
         |       ELSE 'kept' END AS stage
         |FROM documents d
         |LEFT JOIN mem ON mem.doc_id = d.doc_id
         |LEFT JOIN comp ON comp.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "q166_leak_safe_split" ->
      s"""WITH RECURSIVE pairs AS ($minhashPairsSql),
         |edges AS (
         |  SELECT d1 a, d2 b FROM pairs UNION SELECT d2, d1 FROM pairs
         |), reach(a, b) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
         |), comp AS (
         |  SELECT a AS doc_id, min(b) AS keep_id FROM reach GROUP BY a
         |), casc AS (
         |  SELECT d.doc_id,
         |    coalesce(comp.keep_id, d.doc_id) AS keep_id
         |  FROM documents d
         |  LEFT JOIN comp ON comp.doc_id = d.doc_id
         |)
         |SELECT doc_id, keep_id::bigint AS keep_id,
         |  CASE WHEN ('0x' || substr(md5(keep_id::varchar),1,15))::bigint
         |         % 100 < 80 THEN 'train'
         |       WHEN ('0x' || substr(md5(keep_id::varchar),1,15))::bigint
         |         % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM casc ORDER BY doc_id""".stripMargin,

    "q53_dedup_clusters" ->
      s"""WITH RECURSIVE pairs AS ($minhashPairsSql),
         |edges AS (SELECT d1 a, d2 b FROM pairs UNION SELECT d2, d1 FROM pairs),
         |reach(a, b) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
         |)
         |SELECT a AS doc_id, min(b) AS keep_id,
         |  count(DISTINCT b) AS cluster_size
         |FROM reach GROUP BY a ORDER BY a""".stripMargin,

    "q28_simhash" ->
      (shingleCte(3) +
        """, sim AS (
          |  SELECT doc_id, list_sum(list_transform(range(0, 48), b ->
          |    CASE WHEN list_sum(list_transform(hs,
          |        h -> 2*(((h*(2*b+1)+b) % 2147483647) & 1) - 1)) > 0
          |    THEN 1::bigint << b ELSE 0 END))::bigint s
          |  FROM sh
          |)
          |SELECT a.doc_id d1, b.doc_id d2, bit_count(xor(a.s, b.s)) AS ham
          |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
          |WHERE bit_count(xor(a.s, b.s)) <= 6
          |ORDER BY d1, d2""".stripMargin),

    "q39_hash_split" ->
      """SELECT doc_id, lang,
        |  CASE WHEN ('0x' || substr(md5(text),1,15))::bigint % 100 < 80 THEN 'train'
        |       WHEN ('0x' || substr(md5(text),1,15))::bigint % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q40_stratified_sample" ->
      """SELECT doc_id, lang, rnk FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY ('0x' || substr(md5(text),1,15))::bigint, doc_id) AS rnk
        |  FROM documents
        |) WHERE rnk <= 5 ORDER BY lang, rnk""".stripMargin,

    "q47_weighted_mix" ->
      """SELECT source, count(*) AS n_total,
        |  sum(CASE WHEN ('0x' || substr(md5(text || source),1,15))::bigint % 100
        |    < (CASE WHEN regexp_extract(source, 'src(\d+)', 1)::int % 2 = 0
        |       THEN 80 ELSE 30 END)
        |  THEN 1 ELSE 0 END)::bigint AS n_kept
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q118_domain_cap" ->
      s"""SELECT source, doc_id, keep_rank FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY (('0x' || substr(md5(doc_id::varchar),1,15))::bigint
        |        % 2147483647), doc_id) AS keep_rank
        |  FROM documents
        |) WHERE keep_rank <= $CapPerKey ORDER BY source, doc_id""".stripMargin,

    "q119_incremental_domain_cap" ->
      s"""WITH cut AS (SELECT (max(doc_id) * 4) // 5 AS c FROM documents),
        |oldr AS (
        |  SELECT source, doc_id, row_number() OVER (PARTITION BY source
        |    ORDER BY (('0x' || substr(md5(doc_id::varchar),1,15))::bigint
        |      % 2147483647), doc_id) AS rnk
        |  FROM documents WHERE doc_id < (SELECT c FROM cut)
        |), oldc AS (
        |  SELECT source, count(*) AS n0 FROM oldr WHERE rnk <= $CapPerKeyIncr
        |  GROUP BY source
        |), bat AS (
        |  SELECT source, doc_id, row_number() OVER (PARTITION BY source
        |    ORDER BY (('0x' || substr(md5(doc_id::varchar),1,15))::bigint
        |      % 2147483647), doc_id) AS rnk
        |  FROM documents WHERE doc_id >= (SELECT c FROM cut)
        |)
        |SELECT b.source, b.doc_id,
        |  (coalesce(o.n0, 0) + b.rnk)::bigint AS keep_rank
        |FROM bat b LEFT JOIN oldc o USING (source)
        |WHERE coalesce(o.n0, 0) + b.rnk <= $CapPerKeyIncr
        |ORDER BY source, doc_id""".stripMargin,

    "q52_contamination" ->
      """WITH ws AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') w FROM documents
        |), sg AS (
        |  SELECT DISTINCT doc_id,
        |    ('0x' || substr(md5(s),1,15))::bigint % 2147483647 h FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(w)-3), i ->
        |      array_to_string(list_slice(w, i, i+4), ' '))) s
        |    FROM ws WHERE len(w) >= 5
        |  )
        |), ev AS (SELECT DISTINCT h FROM sg WHERE doc_id < 20),
        |tr AS (SELECT doc_id, h FROM sg WHERE doc_id >= 20)
        |SELECT tr.doc_id,
        |  count(*) AS n_grams,
        |  sum(CASE WHEN ev.h IS NOT NULL THEN 1 ELSE 0 END)::bigint AS n_shared,
        |  sum(CASE WHEN ev.h IS NOT NULL THEN 1 ELSE 0 END)::double
        |    / count(*) AS contamination
        |FROM tr LEFT JOIN ev ON tr.h = ev.h
        |GROUP BY tr.doc_id
        |HAVING n_shared > 0
        |ORDER BY tr.doc_id""".stripMargin,

    "q48_repetition" ->
      """WITH ws AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') w FROM documents
        |), sg AS (
        |  SELECT doc_id, ('0x' || substr(md5(s),1,15))::bigint % 2147483647 h FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(w)-1), i ->
        |      array_to_string(list_slice(w, i, i+2), ' '))) s
        |    FROM ws WHERE len(w) >= 3
        |  )
        |)
        |SELECT doc_id, count(*) AS n_sh, count(DISTINCT h) AS n_uniq,
        |  1 - (count(DISTINCT h)::double / count(*)::double) AS rep_ratio
        |FROM sg GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q49_sequence_pack" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]')) AS n_tokens,
        |    ('0x' || substr(md5(text),1,15))::bigint AS h
        |  FROM documents
        |), pos AS (
        |  SELECT doc_id, n_tokens, h, h % 32 AS shard,
        |    sum(n_tokens) OVER (PARTITION BY h % 32 ORDER BY h, doc_id
        |      ROWS UNBOUNDED PRECEDING)::bigint AS cum
        |  FROM base
        |)
        |SELECT doc_id, shard, n_tokens, cum - n_tokens AS start_off,
        |  (cum - n_tokens) // 512 AS pack_id
        |FROM pos ORDER BY shard, start_off, doc_id""".stripMargin,

    "q55_term_frequency" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS n FROM tok GROUP BY doc_id, term
        |)
        |SELECT doc_id, rnk, term, n FROM (
        |  SELECT doc_id, term, n,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, term) AS rnk
        |  FROM tf
        |) WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,

    "q56_vocabulary" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents
        |)
        |SELECT term, count(DISTINCT doc_id) AS df, count(*) AS tf
        |FROM tok GROUP BY term
        |HAVING count(DISTINCT doc_id) >= 5
        |ORDER BY df DESC, term LIMIT 30""".stripMargin,

    "q98_vocab_growth" ->
      """WITH mx AS (SELECT max(doc_id) AS m FROM documents),
        |db AS (
        |  SELECT doc_id, text,
        |    (((doc_id * 4) // (m + 1)) + 1)::int AS quartile
        |  FROM documents CROSS JOIN mx
        |), tok AS (
        |  SELECT quartile,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM db
        |), first AS (
        |  SELECT term, min(quartile) AS quartile FROM tok GROUP BY term
        |), nt AS (
        |  SELECT quartile, count(*)::bigint AS new_terms
        |  FROM first GROUP BY quartile
        |), ds AS (
        |  SELECT quartile, count(*)::bigint AS d_docs,
        |    sum(coalesce(len(regexp_split_to_array(trim(text), '\s+')), 0))::bigint
        |      AS d_tokens
        |  FROM db GROUP BY quartile
        |)
        |SELECT d.quartile,
        |  (sum(d.d_docs) OVER w)::bigint AS n_docs,
        |  (sum(d.d_tokens) OVER w)::bigint AS n_tokens,
        |  (sum(coalesce(n.new_terms, 0)) OVER w)::bigint AS vocab_size,
        |  coalesce(n.new_terms, 0)::bigint AS new_terms
        |FROM ds d LEFT JOIN nt n ON n.quartile = d.quartile
        |WINDOW w AS (ORDER BY d.quartile
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY d.quartile""".stripMargin,

    "q125_bpe_vocab" -> bpeVocabSql,

    "q126_bpe_encode" -> bpeEncodeSql,

    "q161_tokenizer_eval" -> tokenizerEvalSql,

    "q163_para_dedup" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE text IS NOT NULL AND len(trim(text)) > 0
        |), p AS (
        |  SELECT doc_id, i AS idx, arr[i] AS para,
        |    md5(trim(arr[i])) AS k
        |  FROM (SELECT doc_id, regexp_split_to_array(text, '\n+') AS arr
        |        FROM base), unnest(range(1, len(arr) + 1)) t(i)
        |  WHERE trim(arr[i]) <> ''
        |), r AS (
        |  SELECT doc_id, idx, para,
        |    count(*) OVER (PARTITION BY k) AS occ,
        |    row_number() OVER (PARTITION BY k ORDER BY doc_id, idx)
        |      AS rn
        |  FROM p
        |), kept AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(para, chr(10) ORDER BY idx) AS ct
        |  FROM r WHERE occ < 2 OR rn = 1 GROUP BY doc_id
        |), tot AS (
        |  SELECT doc_id, count(*) AS n_paras FROM p GROUP BY doc_id
        |)
        |SELECT t.doc_id, t.n_paras::bigint AS n_paras,
        |  (t.n_paras - coalesce(k.n_kept, 0))::bigint AS n_removed,
        |  coalesce(k.ct, '') AS clean_text
        |FROM tot t LEFT JOIN kept k USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q167_keywords" ->
      """WITH b AS (
        |  SELECT doc_id, word FROM (
        |    SELECT doc_id,
        |      unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |    FROM documents
        |    WHERE text IS NOT NULL AND len(trim(text)) > 0
        |  ) WHERE word <> ''
        |), tf AS (
        |  SELECT doc_id, word, count(*)::bigint AS tf
        |  FROM b GROUP BY 1, 2
        |), dft AS (
        |  SELECT word, count(*)::bigint AS df FROM tf GROUP BY 1
        |), n AS (
        |  SELECT count(DISTINCT doc_id)::bigint AS n_docs FROM tf
        |), sc AS (
        |  SELECT t.doc_id, t.word, t.tf, d.df,
        |    (t.tf * ((n.n_docs * 1048576) // d.df))::bigint AS score_fp
        |  FROM tf t JOIN dft d USING (word), n
        |), rk AS (
        |  SELECT doc_id, word, tf, df, score_fp,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score_fp DESC, word) AS rank
        |  FROM sc
        |)
        |SELECT doc_id, rank::bigint AS rank, word, tf, df, score_fp
        |FROM rk WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,

    "q164_para_dedup_norm" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE text IS NOT NULL AND len(trim(text)) > 0
        |), p AS (
        |  SELECT doc_id, i AS idx, arr[i] AS para,
        |    md5(trim(regexp_replace(regexp_replace(regexp_replace(
        |      strip_accents(lower(trim(arr[i]))),
        |      '[0-9]', '0', 'g'), '[!-/:-@\[-`{-~]', ' ', 'g'),
        |      '\s+', ' ', 'g'))) AS k
        |  FROM (SELECT doc_id, regexp_split_to_array(text, '\n+') AS arr
        |        FROM base), unnest(range(1, len(arr) + 1)) t(i)
        |  WHERE trim(arr[i]) <> ''
        |), r AS (
        |  SELECT doc_id, idx, para,
        |    count(*) OVER (PARTITION BY k) AS occ,
        |    row_number() OVER (PARTITION BY k ORDER BY doc_id, idx)
        |      AS rn
        |  FROM p
        |), kept AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(para, chr(10) ORDER BY idx) AS ct
        |  FROM r WHERE occ < 2 OR rn = 1 GROUP BY doc_id
        |), tot AS (
        |  SELECT doc_id, count(*) AS n_paras FROM p GROUP BY doc_id
        |)
        |SELECT t.doc_id, t.n_paras::bigint AS n_paras,
        |  (t.n_paras - coalesce(k.n_kept, 0))::bigint AS n_removed,
        |  coalesce(k.ct, '') AS clean_text
        |FROM tot t LEFT JOIN kept k USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q165_incremental_para_dedup" ->
      """WITH cut AS MATERIALIZED (
        |  SELECT (max(doc_id) * 4) // 5 AS c FROM documents
        |), base AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE text IS NOT NULL AND len(trim(text)) > 0
        |), p AS (
        |  SELECT doc_id, i AS idx, arr[i] AS para,
        |    md5(trim(arr[i])) AS k
        |  FROM (SELECT doc_id, regexp_split_to_array(text, '\n+') AS arr
        |        FROM base), unnest(range(1, len(arr) + 1)) t(i)
        |  WHERE trim(arr[i]) <> ''
        |), old AS (
        |  SELECT DISTINCT k FROM p WHERE doc_id < (SELECT c FROM cut)
        |), b AS (
        |  SELECT * FROM p WHERE doc_id >= (SELECT c FROM cut)
        |), r AS (
        |  SELECT doc_id, idx, para, k,
        |    row_number() OVER (PARTITION BY k ORDER BY doc_id, idx)
        |      AS rn
        |  FROM b
        |), kept AS (
        |  SELECT r.doc_id, count(*) AS n_kept,
        |    string_agg(r.para, chr(10) ORDER BY r.idx) AS ct
        |  FROM r ANTI JOIN old o ON o.k = r.k
        |  WHERE r.rn = 1 GROUP BY r.doc_id
        |), tot AS (
        |  SELECT doc_id, count(*) AS n_paras FROM b GROUP BY doc_id
        |)
        |SELECT t.doc_id, t.n_paras::bigint AS n_paras,
        |  (t.n_paras - coalesce(k.n_kept, 0))::bigint AS n_removed,
        |  coalesce(k.ct, '') AS clean_text
        |FROM tot t LEFT JOIN kept k USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q162_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(regexp_replace(
        |    strip_accents(lower(text)),
        |    '[0-9]', '0', 'g'), '[!-/:-@\[-`{-~]', ' ', 'g'),
        |    '\s+', ' ', 'g')) AS norm_text,
        |  length(text)::bigint AS n_chars_raw,
        |  length(trim(regexp_replace(regexp_replace(regexp_replace(
        |    strip_accents(lower(text)),
        |    '[0-9]', '0', 'g'), '[!-/:-@\[-`{-~]', ' ', 'g'),
        |    '\s+', ' ', 'g')))::bigint AS n_chars_norm
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q133_incremental_bpe_encode" -> bpeIncrEncodeSql,

    "q192_wordpiece_vocab" -> wpVocabSql,

    "q193_wordpiece_encode" -> wpEncodeSql,

    "q194_incremental_wordpiece_encode" -> wpIncrEncodeSql,

    "q195_epoch_schedule" -> epochScheduleSql,

    // the audit replay: identical gram hashes + blocking + bounded
    // top-3 (shared DESC, doc ASC — the TopKAgg tie-break) + the
    // diagonal gaps-and-islands longest-common-substring at token
    // grain; 1-based positions vs the engine's 0-based cancel in the
    // diagonal difference
    "q196_contamination_audit" -> contamAuditSql,

    // per-doc distinct gram rows over disjoint doc sets union
    // losslessly, so the snapshot ∪ batch blocking index ≡ the
    // from-scratch index — the incremental replay IS q196's
    "q198_incremental_contamination_audit" -> contamAuditSql,


    "q127_chunk" ->
      raw"""WITH ws AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') w
        |  FROM documents WHERE text IS NOT NULL AND len(trim(text)) > 0
        |), ch AS (
        |  SELECT doc_id, len(w)::bigint AS n, w,
        |    unnest(range(0, greatest((len(w) - $ChunkWindow + ${ChunkStride - 1}) // $ChunkStride, 0) + 1))
        |      AS chunk_idx
        |  FROM ws
        |)
        |SELECT doc_id, chunk_idx::bigint AS chunk_idx,
        |  (chunk_idx * $ChunkStride)::bigint AS start_tok,
        |  least($ChunkWindow, n - chunk_idx * $ChunkStride)::bigint AS n_tok,
        |  md5(array_to_string(w[chunk_idx*$ChunkStride+1 : chunk_idx*$ChunkStride+$ChunkWindow], ' '))
        |    AS chunk_md5
        |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,

    "q128_span_dups" ->
      """WITH ws AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') w
        |  FROM documents WHERE text IS NOT NULL
        |), g AS (
        |  SELECT doc_id, i AS pos,
        |    ('0x' || substr(md5(array_to_string(w[i:i+4], ' ')),1,15))::bigint
        |      % 2147483647 AS h
        |  FROM ws, unnest(range(1, len(w) - 3)) AS t(i)
        |  WHERE len(w) >= 5
        |), dup AS (
        |  SELECT h FROM g GROUP BY h HAVING count(*) >= 2
        |), hits AS (
        |  SELECT doc_id, pos FROM g JOIN dup USING (h)
        |), isl AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
        |      <= 5 THEN 0 ELSE 1 END AS f
        |  FROM hits
        |), isl2 AS (
        |  SELECT doc_id, pos, sum(f) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS UNBOUNDED PRECEDING) AS isl
        |  FROM isl
        |), ext AS (
        |  SELECT doc_id, isl, max(pos) - min(pos) + 5 AS cov
        |  FROM isl2 GROUP BY doc_id, isl
        |), per AS (
        |  SELECT doc_id, count(*)::bigint AS n_dup_spans,
        |    sum(cov)::bigint AS dup_tokens
        |  FROM ext GROUP BY doc_id
        |)
        |SELECT ws.doc_id, (len(w) - 4)::bigint AS n_grams,
        |  coalesce(n_dup_spans, 0)::bigint AS n_dup_spans,
        |  coalesce(dup_tokens, 0)::bigint AS dup_tokens,
        |  coalesce(dup_tokens, 0)::double / len(w) AS dup_ratio
        |FROM ws LEFT JOIN per USING (doc_id)
        |WHERE len(w) >= 5
        |ORDER BY doc_id""".stripMargin,

    "q155_unigram_vocab" ->
      (ulmTrainCtes +
        s" SELECT piece, n FROM keep$UlmRounds ORDER BY piece"),

    "q156_unigram_encode" ->
      (ulmTrainCtes +
        ulmDpCtes("e", s"vb$UlmRounds", s"vt$UlmRounds") +
        s""", wtok AS MATERIALIZED (
          |  SELECT word, array_to_string(path, ' ') AS toks,
          |    len(path)::bigint AS npieces
          |  FROM sege
          |  UNION ALL
          |  SELECT word,
          |    array_to_string(list_filter(regexp_split_to_array(word, ''),
          |      x -> x <> ''), ' ') AS toks,
          |    length(word)::bigint AS npieces
          |  FROM wf WHERE len > $UlmMaxW
          |), dw AS (
          |  SELECT doc_id, i AS pos, w[i] AS word FROM (
          |    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
          |    FROM documents WHERE text IS NOT NULL AND len(trim(text)) > 0
          |  ), unnest(range(1, len(w) + 1)) AS t(i)
          |)
          |SELECT d.doc_id, sum(t.npieces)::bigint AS n_tokens,
          |  md5(string_agg(t.toks, ' ' ORDER BY d.pos)) AS tok_md5
          |FROM dw d JOIN wtok t USING (word)
          |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin),

    // Trains the vocabulary on the OLD slice only; the batch's own word
    // table drives the encode DP (the artifact rows ARE that converged
    // vocabulary, persisted).
    "q157_incremental_unigram_encode" ->
      (ulmTrainCtesFrom(
          "cut AS MATERIALIZED (SELECT (max(doc_id) * 4) // 5 AS c" +
            " FROM documents), ",
          " AND doc_id < (SELECT c FROM cut)") +
        s""", wfE AS MATERIALIZED (
          |  SELECT t AS word, count(*)::bigint AS cnt, length(t) AS len
          |  FROM (
          |    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
          |    FROM documents
          |    WHERE text IS NOT NULL AND len(trim(text)) > 0
          |      AND doc_id >= (SELECT c FROM cut)
          |  ) WHERE t <> '' GROUP BY t
          |), wlE AS MATERIALIZED (
          |  SELECT word, cnt, len FROM wfE WHERE len <= $UlmMaxW
          |)""".stripMargin +
        ulmDpCtes("e", s"vb$UlmRounds", s"vt$UlmRounds", "wlE") +
        s""", wtok AS MATERIALIZED (
          |  SELECT word, array_to_string(path, ' ') AS toks,
          |    len(path)::bigint AS npieces
          |  FROM sege
          |  UNION ALL
          |  SELECT word,
          |    array_to_string(list_filter(regexp_split_to_array(word, ''),
          |      x -> x <> ''), ' ') AS toks,
          |    length(word)::bigint AS npieces
          |  FROM wfE WHERE len > $UlmMaxW
          |), dw AS (
          |  SELECT doc_id, nw, i AS pos, w[i] AS word FROM (
          |    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w,
          |      len(regexp_split_to_array(trim(text), '\\s+'))::bigint AS nw
          |    FROM documents WHERE text IS NOT NULL AND len(trim(text)) > 0
          |      AND doc_id >= (SELECT c FROM cut)
          |  ), unnest(range(1, len(w) + 1)) AS t(i)
          |)
          |SELECT d.doc_id, max(d.nw)::bigint AS n_words,
          |  sum(t.npieces)::bigint AS n_tokens,
          |  sum(t.npieces)::bigint::double / max(d.nw)::double AS fertility,
          |  md5(string_agg(t.toks, ' ' ORDER BY d.pos)) AS tok_md5
          |FROM dw d JOIN wtok t USING (word)
          |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin),

    // Ground truth for ExactSubstr is brute-forceable at oracle scale:
    // every window of every length in [k, cap], duplicated per-length,
    // max duplicated length per start, then the same running-max
    // maximal filter the engine applies.
    "q159_exact_substr_spans" ->
      s"""WITH ws AS MATERIALIZED (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        |  FROM documents WHERE text IS NOT NULL AND len(trim(text)) > 0
        |), dd AS (SELECT doc_id, w, len(w) AS n FROM ws WHERE len(w) >= $SpanK),
        |win AS MATERIALIZED (
        |  SELECT doc_id, n, i AS s, m, array_to_string(w[i:i+m-1], ' ') AS gram
        |  FROM dd, unnest(range(1, n + 1)) AS t(i),
        |    unnest(range($SpanK, ${SubstrMaxSpan + 1})) AS r(m)
        |  WHERE i + m - 1 <= n
        |), dupw AS (
        |  SELECT m, gram FROM win GROUP BY m, gram HAVING count(*) >= 2
        |), lmax AS (
        |  SELECT win.doc_id, win.s, win.n, max(win.m)::bigint AS L
        |  FROM win JOIN dupw d ON d.m = win.m AND d.gram = win.gram
        |  GROUP BY win.doc_id, win.s, win.n
        |), fin AS (
        |  SELECT doc_id, s, n, L,
        |    max(s + L) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
        |  FROM lmax
        |)
        |SELECT doc_id, s::bigint AS start_tok, L AS n_tok,
        |  (L = ${SubstrMaxSpan} AND n - s + 1 > ${SubstrMaxSpan}) AS clamped
        |FROM fin WHERE pe IS NULL OR s + L > pe
        |ORDER BY doc_id, start_tok""".stripMargin,

    "q160_exact_substr_trim" ->
      s"""WITH wsall AS MATERIALIZED (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        |  FROM documents WHERE text IS NOT NULL AND len(trim(text)) > 0
        |), dd AS (SELECT doc_id, w, len(w) AS n FROM wsall WHERE len(w) >= $SpanK),
        |win AS MATERIALIZED (
        |  SELECT doc_id, n, i AS s, m, array_to_string(w[i:i+m-1], ' ') AS gram
        |  FROM dd, unnest(range(1, n + 1)) AS t(i),
        |    unnest(range($SpanK, ${SubstrMaxSpan + 1})) AS r(m)
        |  WHERE i + m - 1 <= n
        |), dupw AS (
        |  SELECT m, gram FROM win GROUP BY m, gram HAVING count(*) >= 2
        |), lmax AS (
        |  SELECT win.doc_id, win.s, max(win.m)::bigint AS L
        |  FROM win JOIN dupw d ON d.m = win.m AND d.gram = win.gram
        |  GROUP BY win.doc_id, win.s
        |), cov AS (
        |  SELECT DISTINCT doc_id, s + i AS tpos
        |  FROM lmax, unnest(range(0, L)) t(i)
        |), tok AS (
        |  SELECT doc_id, i AS tpos, w[i] AS tok
        |  FROM wsall, unnest(range(1, len(w) + 1)) AS t(i)
        |), kept AS (
        |  SELECT t.doc_id, t.tpos, t.tok
        |  FROM tok t ANTI JOIN cov c
        |    ON t.doc_id = c.doc_id AND t.tpos = c.tpos
        |), per AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY tpos) AS ct
        |  FROM kept GROUP BY doc_id
        |)
        |SELECT wsall.doc_id, len(w)::bigint AS n_words,
        |  (len(w) - coalesce(n_kept, 0))::bigint AS n_removed,
        |  coalesce(ct, '') AS clean_text
        |FROM wsall LEFT JOIN per USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q154_span_extent_audit" ->
      """WITH ws AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') w
        |  FROM documents WHERE text IS NOT NULL
        |), tk AS MATERIALIZED (
        |  SELECT doc_id, w FROM ws WHERE len(w) >= 5
        |), g AS (
        |  SELECT doc_id, i AS pos,
        |    ('0x' || substr(md5(array_to_string(w[i:i+4], ' ')),1,15))::bigint
        |      % 2147483647 AS h
        |  FROM tk, unnest(range(1, len(w) - 3)) AS t(i)
        |), dup AS (
        |  SELECT h FROM g GROUP BY h HAVING count(*) >= 2
        |), hits AS (
        |  SELECT doc_id, pos FROM g JOIN dup USING (h)
        |), isl AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
        |      <= 5 THEN 0 ELSE 1 END AS f
        |  FROM hits
        |), isl2 AS (
        |  SELECT doc_id, pos, sum(f) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS UNBOUNDED PRECEDING) AS isl
        |  FROM isl
        |), ext AS MATERIALIZED (
        |  SELECT doc_id, min(pos) AS start_tok,
        |    max(pos) - min(pos) + 5 AS n_tok
        |  FROM isl2 GROUP BY doc_id, isl
        |), exth AS (
        |  SELECT e.doc_id, e.start_tok, e.n_tok,
        |    ('0x' || substr(md5(array_to_string(
        |        w[e.start_tok:e.start_tok+e.n_tok-1], ' ')),1,15))::bigint
        |      % 2147483647 AS eh
        |  FROM ext e JOIN tk USING (doc_id)
        |), lens AS (SELECT DISTINCT n_tok AS m FROM ext),
        |wins AS (
        |  SELECT l.m,
        |    ('0x' || substr(md5(array_to_string(w[i:i+l.m-1], ' ')),1,15))::bigint
        |      % 2147483647 AS h
        |  FROM tk CROSS JOIN lens l, unnest(range(1, len(w) - l.m + 2)) AS t(i)
        |  WHERE len(w) >= l.m
        |), occ AS (
        |  SELECT m, h, count(*)::bigint AS occ FROM wins GROUP BY 1, 2
        |)
        |SELECT e.doc_id, e.start_tok::bigint AS start_tok,
        |  e.n_tok::bigint AS n_tok, o.occ, (o.occ >= 2) AS exact
        |FROM exth e JOIN occ o ON o.m = e.n_tok AND o.h = e.eh
        |ORDER BY doc_id, start_tok""".stripMargin,

    "q134_source_overlap" ->
      """WITH ws AS (
        |  SELECT source, regexp_split_to_array(trim(text), '\s+') w
        |  FROM documents
        |), g AS (
        |  SELECT DISTINCT source,
        |    ('0x' || substr(md5(array_to_string(w[i:i+4], ' ')),1,15))::bigint
        |      % 2147483647 AS h
        |  FROM ws, unnest(range(1, len(w) - 3)) AS t(i)
        |  WHERE len(w) >= 5
        |), sizes AS (
        |  SELECT source, count(*)::bigint AS n FROM g GROUP BY source
        |), shared AS (
        |  SELECT a.source AS src1, b.source AS src2,
        |    count(*)::bigint AS n_shared
        |  FROM g a JOIN g b ON a.h = b.h AND a.source < b.source
        |  GROUP BY 1, 2
        |)
        |SELECT x.source AS src1, y.source AS src2,
        |  coalesce(n_shared, 0)::bigint AS n_shared,
        |  x.n AS n1, y.n AS n2,
        |  coalesce(n_shared, 0)::double /
        |    (x.n + y.n - coalesce(n_shared, 0)) AS jaccard
        |FROM sizes x JOIN sizes y ON x.source < y.source
        |LEFT JOIN shared ON shared.src1 = x.source AND shared.src2 = y.source
        |ORDER BY src1, src2""".stripMargin,

    // Incremental derivation expressed in SQL: old-slice inventory ∪
    // batch inventory, re-distincted — the appended-artifact
    // semantics; the resulting matrix equals q134's full-corpus one.
    "q136_incremental_source_overlap" ->
      """WITH cut AS (SELECT (max(doc_id) * 4) // 5 AS c FROM documents),
        |ws AS (
        |  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') w
        |  FROM documents
        |), gold AS (
        |  SELECT DISTINCT source,
        |    ('0x' || substr(md5(array_to_string(w[i:i+4], ' ')),1,15))::bigint
        |      % 2147483647 AS h
        |  FROM ws, unnest(range(1, len(w) - 3)) AS t(i)
        |  WHERE len(w) >= 5 AND doc_id < (SELECT c FROM cut)
        |), gbat AS (
        |  SELECT DISTINCT source,
        |    ('0x' || substr(md5(array_to_string(w[i:i+4], ' ')),1,15))::bigint
        |      % 2147483647 AS h
        |  FROM ws, unnest(range(1, len(w) - 3)) AS t(i)
        |  WHERE len(w) >= 5 AND doc_id >= (SELECT c FROM cut)
        |), g AS (
        |  SELECT DISTINCT source, h FROM (
        |    SELECT * FROM gold UNION ALL SELECT * FROM gbat)
        |), sizes AS (
        |  SELECT source, count(*)::bigint AS n FROM g GROUP BY source
        |), shared AS (
        |  SELECT a.source AS src1, b.source AS src2,
        |    count(*)::bigint AS n_shared
        |  FROM g a JOIN g b ON a.h = b.h AND a.source < b.source
        |  GROUP BY 1, 2
        |)
        |SELECT x.source AS src1, y.source AS src2,
        |  coalesce(n_shared, 0)::bigint AS n_shared,
        |  x.n AS n1, y.n AS n2,
        |  coalesce(n_shared, 0)::double /
        |    (x.n + y.n - coalesce(n_shared, 0)) AS jaccard
        |FROM sizes x JOIN sizes y ON x.source < y.source
        |LEFT JOIN shared ON shared.src1 = x.source AND shared.src2 = y.source
        |ORDER BY src1, src2""".stripMargin,

    "q139_winnow" ->
      raw"""WITH ws AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') w
        |  FROM documents WHERE text IS NOT NULL
        |), g AS (
        |  SELECT doc_id, i AS pos,
        |    ('0x' || substr(md5(array_to_string(w[i:i+4], ' ')),1,15))::bigint
        |      % 2147483647 AS h
        |  FROM ws, unnest(range(1, len(w) - 3)) AS t(i)
        |  WHERE len(w) >= 5
        |), ng AS (
        |  SELECT doc_id, max(pos) AS ng FROM g GROUP BY doc_id
        |), w1 AS (
        |  SELECT doc_id, pos, min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS mh
        |  FROM g
        |), sel AS (
        |  SELECT w1.doc_id, max(g2.pos) AS pos, w1.mh AS h
        |  FROM w1
        |  JOIN ng ON ng.doc_id = w1.doc_id
        |  JOIN g g2 ON g2.doc_id = w1.doc_id
        |    AND g2.pos BETWEEN w1.pos AND w1.pos + ${WinnowW - 1} AND g2.h = w1.mh
        |  WHERE w1.pos <= ng.ng - ${WinnowW - 1}
        |  GROUP BY w1.doc_id, w1.pos, w1.mh
        |)
        |SELECT DISTINCT doc_id, pos, h FROM sel
        |ORDER BY doc_id, pos""".stripMargin,

    "q140_repetition" ->
      """WITH ws AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') w
        |  FROM documents WHERE text IS NOT NULL AND len(trim(text)) > 0
        |), base AS (
        |  SELECT doc_id, len(w)::bigint AS n_words, w FROM ws
        |), g1 AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(array_to_string(w[i:i], ' ')),1,15))::bigint h
        |  FROM base, unnest(range(1, len(w) + 1)) AS t(i)
        |), a1 AS (
        |  SELECT doc_id, max(c)::bigint AS top1_cnt
        |  FROM (SELECT doc_id, h, count(*) c FROM g1 GROUP BY 1,2)
        |  GROUP BY doc_id
        |), g2 AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(array_to_string(w[i:i+1], ' ')),1,15))::bigint h
        |  FROM base, unnest(range(1, len(w))) AS t(i) WHERE len(w) >= 2
        |), a2 AS (
        |  SELECT doc_id, max(c)::bigint AS top2_cnt
        |  FROM (SELECT doc_id, h, count(*) c FROM g2 GROUP BY 1,2)
        |  GROUP BY doc_id
        |), g3 AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(array_to_string(w[i:i+2], ' ')),1,15))::bigint h
        |  FROM base, unnest(range(1, len(w) - 1)) AS t(i) WHERE len(w) >= 3
        |), a3 AS (
        |  SELECT doc_id, max(c)::bigint AS top3_cnt
        |  FROM (SELECT doc_id, h, count(*) c FROM g3 GROUP BY 1,2)
        |  GROUP BY doc_id
        |), g5 AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(array_to_string(w[i:i+4], ' ')),1,15))::bigint h
        |  FROM base, unnest(range(1, len(w) - 3)) AS t(i) WHERE len(w) >= 5
        |), a5 AS (
        |  SELECT doc_id, sum(c)::bigint AS kg,
        |    sum(CASE WHEN c >= 2 THEN c ELSE 0 END)::bigint AS dup_cnt
        |  FROM (SELECT doc_id, h, count(*) c FROM g5 GROUP BY 1,2)
        |  GROUP BY doc_id
        |)
        |SELECT base.doc_id, n_words,
        |  least(1.0, coalesce(top1_cnt::double * 1 / n_words::double, 0.0))
        |    AS top1_frac,
        |  least(1.0, coalesce(top2_cnt::double * 2 / n_words::double, 0.0))
        |    AS top2_frac,
        |  least(1.0, coalesce(top3_cnt::double * 3 / n_words::double, 0.0))
        |    AS top3_frac,
        |  coalesce(dup_cnt::double / kg::double, 0.0) AS dup5_frac
        |FROM base
        |LEFT JOIN a1 USING (doc_id) LEFT JOIN a2 USING (doc_id)
        |LEFT JOIN a3 USING (doc_id) LEFT JOIN a5 USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q141_collocations" ->
      raw"""WITH ws AS (
        |  SELECT regexp_split_to_array(trim(text), '\s+') w
        |  FROM documents WHERE text IS NOT NULL AND len(trim(text)) > 0
        |), bg AS (
        |  SELECT w[i] AS w1, w[i+1] AS w2
        |  FROM ws, unnest(range(1, len(w))) AS t(i) WHERE len(w) >= 2
        |), pc AS (
        |  SELECT w1, w2, count(*)::bigint c_pair FROM bg GROUP BY 1, 2
        |), lm AS (SELECT w1, sum(c_pair)::bigint c_left FROM pc GROUP BY 1),
        |rm AS (SELECT w2, sum(c_pair)::bigint c_right FROM pc GROUP BY 1),
        |n AS (SELECT sum(c_pair)::bigint n_pairs FROM pc)
        |SELECT w1, w2, c_pair, c_left, c_right, n_pairs,
        |  (c_pair::double * n_pairs::double) /
        |    (c_left::double * c_right::double) AS lift
        |FROM pc JOIN lm USING (w1) JOIN rm USING (w2) CROSS JOIN n
        |WHERE c_pair >= $PmiMinCount
        |ORDER BY lift DESC, w1, w2 LIMIT $PmiTopK""".stripMargin,

    "q144_incremental_winnow" ->
      raw"""WITH cut AS (SELECT (max(doc_id) * 4) // 5 AS c FROM documents),
        |ws AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') w
        |  FROM documents WHERE text IS NOT NULL
        |), g AS MATERIALIZED (
        |  SELECT doc_id, i AS pos,
        |    ('0x' || substr(md5(array_to_string(w[i:i+4], ' ')),1,15))::bigint
        |      % 2147483647 AS h
        |  FROM ws, unnest(range(1, len(w) - 3)) AS t(i)
        |  WHERE len(w) >= 5
        |), ng AS (
        |  SELECT doc_id, max(pos) AS ng FROM g GROUP BY doc_id
        |), w1 AS (
        |  SELECT doc_id, pos, min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS mh
        |  FROM g
        |), sel AS (
        |  SELECT w1.doc_id, max(g2.pos) AS pos, w1.mh AS h
        |  FROM w1
        |  JOIN ng ON ng.doc_id = w1.doc_id
        |  JOIN g g2 ON g2.doc_id = w1.doc_id
        |    AND g2.pos BETWEEN w1.pos AND w1.pos + ${WinnowW - 1} AND g2.h = w1.mh
        |  WHERE w1.pos <= ng.ng - ${WinnowW - 1}
        |  GROUP BY w1.doc_id, w1.pos, w1.mh
        |), fp AS MATERIALIZED (
        |  SELECT DISTINCT doc_id, pos, h FROM sel
        |), old AS (
        |  SELECT DISTINCT h FROM fp WHERE doc_id < (SELECT c FROM cut)
        |), bat AS (
        |  SELECT * FROM fp WHERE doc_id >= (SELECT c FROM cut)
        |)
        |SELECT bat.doc_id, count(*)::bigint AS n_fp,
        |  sum(CASE WHEN old.h IS NOT NULL THEN 1 ELSE 0 END)::bigint
        |    AS n_hit,
        |  sum(CASE WHEN old.h IS NOT NULL THEN 1 ELSE 0 END)::double /
        |    count(*)::double AS hit_ratio
        |FROM bat LEFT JOIN old ON bat.h = old.h
        |GROUP BY bat.doc_id
        |ORDER BY bat.doc_id""".stripMargin,

    "q142_mixture_weights" ->
      """WITH c AS (
        |  SELECT source, sum(len(regexp_extract_all(text,
        |    '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]')))::bigint AS n_tokens
        |  FROM documents GROUP BY source
        |), s AS (
        |  SELECT source, n_tokens,
        |    floor(sqrt(n_tokens::double) * 1048576)::bigint AS s_fp FROM c
        |), t AS (SELECT sum(s_fp)::bigint AS tot FROM s)
        |SELECT source, n_tokens, s_fp, s_fp::double / tot::double AS weight
        |FROM s CROSS JOIN t ORDER BY source""".stripMargin,

    "q143_mixture_pipeline" ->
      raw"""WITH c AS (
        |  SELECT source, sum(len(regexp_extract_all(text,
        |    '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]')))::bigint AS n_tokens
        |  FROM documents GROUP BY source
        |), s AS MATERIALIZED (
        |  SELECT source, floor(sqrt(n_tokens::double) * 1048576)::bigint
        |    AS s_fp FROM c
        |), t AS (SELECT sum(s_fp)::bigint AS tot FROM s),
        |b AS (
        |  SELECT source,
        |    floor((s_fp::double / tot::double) * $MixBudget)::bigint AS budget
        |  FROM s CROSS JOIN t
        |), base AS (
        |  SELECT doc_id, d.source,
        |    len(regexp_extract_all(text,
        |      '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]'))::bigint AS n_tokens,
        |    ('0x' || substr(md5(text),1,15))::bigint AS h, budget
        |  FROM documents d JOIN b USING (source)
        |), r AS (
        |  SELECT doc_id, source, n_tokens, budget,
        |    sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM base
        |)
        |SELECT doc_id, source, n_tokens, cum::bigint AS cum FROM r
        |WHERE cum <= budget
        |ORDER BY source, cum, doc_id""".stripMargin,

    "q138_source_budget" ->
      raw"""WITH base AS (
        |  SELECT doc_id, source,
        |    len(regexp_extract_all(text,
        |      '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]'))::bigint AS n_tokens,
        |    ('0x' || substr(md5(text),1,15))::bigint AS h
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, source, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM base
        |)
        |SELECT doc_id, source, n_tokens, cum::bigint AS cum FROM r
        |WHERE cum <= $BudgetPerSource
        |ORDER BY source, cum, doc_id""".stripMargin,

    "q137_readability" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    len(regexp_split_to_array(trim(text), '\s+'))::bigint AS n_words,
        |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1)::bigint
        |      AS n_sents,
        |    len(regexp_extract_all(lower(text), '[aeiouy]+'))::bigint
        |      AS n_syll
        |  FROM documents
        |)
        |SELECT doc_id, n_words, n_sents, n_syll,
        |  (206.835 - 1.015 * (n_words::double / n_sents::double)
        |    - 84.6 * (n_syll::double / n_words::double)) AS flesch
        |FROM base ORDER BY doc_id""".stripMargin,

    "q149_curriculum" ->
      raw"""WITH base AS (
        |  SELECT doc_id,
        |    len(regexp_split_to_array(trim(text), '\s+'))::bigint AS nw,
        |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1)::bigint
        |      AS ns,
        |    len(regexp_extract_all(lower(text), '[aeiouy]+'))::bigint
        |      AS nsy
        |  FROM documents
        |), sc AS (
        |  SELECT doc_id,
        |    (206.835 - 1.015 * (nw::double / ns::double)
        |      - 84.6 * (nsy::double / nw::double)) AS flesch
        |  FROM base
        |), r AS (
        |  SELECT doc_id, flesch,
        |    row_number() OVER (ORDER BY flesch DESC, doc_id)::bigint
        |      AS rank,
        |    ntile(${CurrBuckets}) OVER (ORDER BY flesch DESC, doc_id)::bigint
        |      AS bucket
        |  FROM sc
        |)
        |SELECT doc_id, flesch, rank, bucket,
        |  row_number() OVER (PARTITION BY bucket ORDER BY
        |    ('0x' || substr(md5(doc_id::varchar),1,15))::bigint
        |      % 2147483647, doc_id)::bigint AS ord
        |FROM r ORDER BY bucket, ord""".stripMargin,

    "q132_span_trim" ->
      """WITH ws AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') w
        |  FROM documents WHERE text IS NOT NULL AND len(trim(text)) > 0
        |), g AS (
        |  SELECT doc_id, i AS pos,
        |    ('0x' || substr(md5(array_to_string(w[i:i+4], ' ')),1,15))::bigint
        |      % 2147483647 AS h
        |  FROM ws, unnest(range(1, len(w) - 3)) AS t(i)
        |  WHERE len(w) >= 5
        |), dup AS (
        |  SELECT h FROM g GROUP BY h HAVING count(*) >= 2
        |), cov AS (
        |  SELECT DISTINCT doc_id, pos + i AS tpos
        |  FROM (SELECT doc_id, pos FROM g JOIN dup USING (h)),
        |    unnest(range(0, 5)) t(i)
        |), tok AS (
        |  SELECT doc_id, i AS tpos, w[i] AS tok
        |  FROM ws, unnest(range(1, len(w) + 1)) AS t(i)
        |), kept AS (
        |  SELECT t.doc_id, t.tpos, t.tok
        |  FROM tok t ANTI JOIN cov c
        |    ON t.doc_id = c.doc_id AND t.tpos = c.tpos
        |), per AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY tpos) AS ct
        |  FROM kept GROUP BY doc_id
        |)
        |SELECT ws.doc_id, len(w)::bigint AS n_words,
        |  (len(w) - coalesce(n_kept, 0))::bigint AS n_removed,
        |  coalesce(ct, '') AS clean_text
        |FROM ws LEFT JOIN per USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q129_incremental_span_dups" ->
      """WITH cut AS (SELECT (max(doc_id) * 4) // 5 AS c FROM documents),
        |ws AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') w
        |  FROM documents WHERE text IS NOT NULL
        |), g AS (
        |  SELECT doc_id, i AS pos,
        |    ('0x' || substr(md5(array_to_string(w[i:i+4], ' ')),1,15))::bigint
        |      % 2147483647 AS h
        |  FROM ws, unnest(range(1, len(w) - 3)) AS t(i)
        |  WHERE len(w) >= 5
        |), base AS (
        |  SELECT DISTINCT h FROM g WHERE doc_id < (SELECT c FROM cut)
        |), hits AS (
        |  SELECT doc_id, pos FROM g JOIN base USING (h)
        |  WHERE doc_id >= (SELECT c FROM cut)
        |), isl AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
        |      <= 5 THEN 0 ELSE 1 END AS f
        |  FROM hits
        |), isl2 AS (
        |  SELECT doc_id, pos, sum(f) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS UNBOUNDED PRECEDING) AS isl
        |  FROM isl
        |), ext AS (
        |  SELECT doc_id, isl, max(pos) - min(pos) + 5 AS cov
        |  FROM isl2 GROUP BY doc_id, isl
        |), per AS (
        |  SELECT doc_id, count(*)::bigint AS n_dup_spans,
        |    sum(cov)::bigint AS dup_tokens
        |  FROM ext GROUP BY doc_id
        |)
        |SELECT ws.doc_id, (len(w) - 4)::bigint AS n_grams,
        |  coalesce(n_dup_spans, 0)::bigint AS n_dup_spans,
        |  coalesce(dup_tokens, 0)::bigint AS dup_tokens,
        |  coalesce(dup_tokens, 0)::double / len(w) AS dup_ratio
        |FROM ws LEFT JOIN per USING (doc_id)
        |WHERE len(w) >= 5 AND doc_id >= (SELECT c FROM cut)
        |ORDER BY doc_id""".stripMargin,

    "q57_rare_token_score" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents
        |), rare AS (
        |  SELECT term FROM (
        |    SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term
        |  ) WHERE df * 10 < (SELECT count(DISTINCT doc_id) FROM documents)
        |)
        |SELECT tok.doc_id,
        |  count(*) AS n_tokens,
        |  sum(CASE WHEN rare.term IS NOT NULL THEN 1 ELSE 0 END)::bigint AS n_rare,
        |  sum(CASE WHEN rare.term IS NOT NULL THEN 1 ELSE 0 END)::double
        |    / count(*) AS rare_ratio
        |FROM tok LEFT JOIN rare ON tok.term = rare.term
        |GROUP BY tok.doc_id ORDER BY tok.doc_id""".stripMargin,

    "q29_ngram_jaccard" ->
      """WITH ws AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') w FROM documents
        |), base AS (
        |  SELECT doc_id, array_to_string(list_slice(w, 1, 3), ' ') blk,
        |    list_distinct(list_transform(
        |      list_transform(range(1, len(w)), i ->
        |        array_to_string(list_slice(w, i, i+1), ' ')),
        |      s -> ('0x' || substr(md5(s),1,15))::bigint % 2147483647)) hs
        |  FROM ws WHERE len(w) >= 3
        |)
        |SELECT a.doc_id d1, b.doc_id d2,
        |  len(list_intersect(a.hs, b.hs))::double
        |    / len(list_distinct(a.hs || b.hs)) AS jac
        |FROM base a JOIN base b ON a.blk = b.blk AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.hs, b.hs))::double
        |    / len(list_distinct(a.hs || b.hs)) >= 0.5
        |ORDER BY d1, d2""".stripMargin,

    // Unlike q27's oracle (where collapse+expansion is invisible — band
    // keys of identical docs coincide, so the naive formulation gives the
    // same answer), q62's blocking df counts DISTINCT contents by design,
    // so the oracle models the rep collapse explicitly: df over rep
    // 5-gram sets, containment over rep pairs, then the same exact
    // expansion (within-group pairs at 1.0, cross pairs at their reps'
    // containment).
    "q62_containment" ->
      """WITH ws AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') w FROM documents
        |), keyed0 AS (
        |  SELECT doc_id, md5(array_to_string(w, ' ')) gk FROM ws WHERE len(w) >= 5
        |), reps AS (
        |  SELECT gk, min(doc_id) rep FROM keyed0 GROUP BY gk
        |), members AS (
        |  SELECT keyed0.doc_id, keyed0.gk, reps.rep FROM keyed0 JOIN reps USING (gk)
        |), sg AS (
        |  SELECT DISTINCT doc_id,
        |    ('0x' || substr(md5(s),1,15))::bigint % 2147483647 h FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(w)-3), i ->
        |      array_to_string(list_slice(w, i, i+4), ' '))) s
        |    FROM ws WHERE len(w) >= 5
        |  ) WHERE doc_id IN (SELECT rep FROM reps)
        |), blockg AS (
        |  SELECT h FROM (SELECT h, count(*) df FROM sg GROUP BY h)
        |  WHERE df BETWEEN 2 AND 8
        |), cand AS (
        |  SELECT DISTINCT a.doc_id d1, b.doc_id d2
        |  FROM sg a JOIN sg b ON a.h = b.h AND a.doc_id < b.doc_id
        |  WHERE a.h IN (SELECT h FROM blockg)
        |), sizes AS (SELECT doc_id, count(*) n FROM sg GROUP BY doc_id),
        |rp AS (
        |  SELECT d1, d2, i::double / least(n1.n, n2.n)::double AS cont
        |  FROM (
        |    SELECT d1, d2, count(*) i FROM cand
        |    JOIN sg s1 ON s1.doc_id = d1
        |    JOIN sg s2 ON s2.doc_id = d2 AND s1.h = s2.h
        |    GROUP BY d1, d2
        |  ) JOIN sizes n1 ON n1.doc_id = d1 JOIN sizes n2 ON n2.doc_id = d2
        |  WHERE i::double / least(n1.n, n2.n)::double >= 0.9
        |), within AS (
        |  SELECT x.doc_id d1, y.doc_id d2, 1.0::double AS cont
        |  FROM members x JOIN members y
        |    ON x.gk = y.gk AND x.doc_id < y.doc_id
        |), crossp AS (
        |  SELECT least(m1.doc_id, m2.doc_id) d1,
        |    greatest(m1.doc_id, m2.doc_id) d2, rp.cont
        |  FROM rp JOIN members m1 ON m1.rep = rp.d1
        |    JOIN members m2 ON m2.rep = rp.d2
        |)
        |SELECT d1, d2, cont FROM within
        |UNION ALL SELECT d1, d2, cont FROM crossp
        |ORDER BY d1, d2""".stripMargin,

    // The oracle recomputes every signature from scratch (it has no
    // artifact); equivalence holds because the artifact rows ARE the
    // same banded-minhash computation over doc_id < cut, and the
    // candidate restriction `b.doc_id >= cut` (with d1 < d2) selects
    // exactly the pairs that involve ≥1 batch document.
    // A doc with ≥8 words but <16 has 8-gram rows and no 16-gram rows —
    // the left join keeps it with hit16 = 0, identically in both
    // engines.
    "q75_verbatim_contamination" ->
      """WITH ws AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') w FROM documents
        |), g8 AS (
        |  SELECT DISTINCT doc_id,
        |    ('0x' || substr(md5(s),1,15))::bigint % 2147483647 h FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(w)-6), i ->
        |      array_to_string(list_slice(w, i, i+7), ' '))) s
        |    FROM ws WHERE len(w) >= 8
        |  )
        |), g16 AS (
        |  SELECT DISTINCT doc_id,
        |    ('0x' || substr(md5(s),1,15))::bigint % 2147483647 h FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(w)-14), i ->
        |      array_to_string(list_slice(w, i, i+15), ' '))) s
        |    FROM ws WHERE len(w) >= 16
        |  )
        |), e8 AS (SELECT DISTINCT h FROM g8 WHERE doc_id < 20),
        |e16 AS (SELECT DISTINCT h FROM g16 WHERE doc_id < 20),
        |t8 AS (
        |  SELECT g8.doc_id, max(CASE WHEN e8.h IS NOT NULL THEN 1 ELSE 0 END) AS hit8
        |  FROM g8 LEFT JOIN e8 ON g8.h = e8.h WHERE g8.doc_id >= 20 GROUP BY g8.doc_id
        |), t16 AS (
        |  SELECT g16.doc_id, max(CASE WHEN e16.h IS NOT NULL THEN 1 ELSE 0 END) AS hit16
        |  FROM g16 LEFT JOIN e16 ON g16.h = e16.h WHERE g16.doc_id >= 20 GROUP BY g16.doc_id
        |)
        |SELECT t8.doc_id, t8.hit8::int AS hit8,
        |  coalesce(t16.hit16, 0)::int AS hit16
        |FROM t8 LEFT JOIN t16 ON t16.doc_id = t8.doc_id
        |ORDER BY t8.doc_id""".stripMargin,

    // Same components as q53's oracle, then a per-cluster quality
    // argmax — DuckDB's ordered-aggregate `first(x ORDER BY ...)` is
    // the lexicographic (n_words DESC, doc_id ASC) argmax that Spark's
    // struct-keyed max_by computes.
    "q74_quality_keep" ->
      s"""WITH RECURSIVE pairs AS ($minhashPairsSql),
         |edges AS (SELECT d1 a, d2 b FROM pairs UNION SELECT d2, d1 FROM pairs),
         |reach(a, b) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
         |),
         |comp AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
         |nw AS (
         |  SELECT doc_id,
         |    len(regexp_split_to_array(trim(text), '\\s+'))::bigint AS n_words
         |  FROM documents
         |)
         |SELECT cluster_id, count(*) AS n_members,
         |  first(comp.doc_id ORDER BY n_words DESC, comp.doc_id ASC) AS keep_id,
         |  max(n_words) AS keep_n_words
         |FROM comp JOIN nw ON nw.doc_id = comp.doc_id
         |GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,

    // Same candidate/verify arithmetic as q27's oracle, extended with
    // the signature-implied estimate per surviving pair.
    "q73_minhash_est_audit" ->
      (minhashEbCte +
        """, cand AS (
          |  SELECT DISTINCT a.doc_id d1, b.doc_id d2
          |  FROM eb a JOIN eb b ON a.band_idx = b.band_idx
          |    AND a.band_key = b.band_key AND a.doc_id < b.doc_id
          |)
          |SELECT d1, d2,
          |  len(list_intersect(s1.hs, s2.hs))::double
          |    / len(list_distinct(s1.hs || s2.hs)) AS jac,
          |  len(list_filter(range(0, 16), j -> m1.m[j+1] = m2.m[j+1]))::double / 16 AS est_jac,
          |  abs(len(list_intersect(s1.hs, s2.hs))::double
          |    / len(list_distinct(s1.hs || s2.hs))
          |    - len(list_filter(range(0, 16), j -> m1.m[j+1] = m2.m[j+1]))::double / 16) AS abs_err
          |FROM cand JOIN sh s1 ON s1.doc_id = d1 JOIN sh s2 ON s2.doc_id = d2
          |  JOIN mh m1 ON m1.doc_id = d1 JOIN mh m2 ON m2.doc_id = d2
          |WHERE len(list_intersect(s1.hs, s2.hs))::double
          |    / len(list_distinct(s1.hs || s2.hs)) >= 0.8
          |ORDER BY d1, d2""".stripMargin),

    "q67_incremental_dedup" -> incrementalDedupSql,

    // q76 is q67's answer computed by the micro-batched streaming loop —
    // batch parity is the whole claim, so the oracle is q67's verbatim.
    "q76_stream_incremental_dedup" -> incrementalDedupSql,

    // The oracle recomputes both membership sets from scratch (it has
    // no artifacts): old content keys over doc_id < cut, and q67's
    // pair SQL as a nested CTE (the q53 embedding pattern). Precedence
    // exact > near > novel matches the engine's `when` chain.
    "q79_incremental_triage" ->
      s"""WITH cut AS (SELECT (max(doc_id) * 4) // 5 AS c FROM documents),
         |keys AS (
         |  SELECT doc_id,
         |    md5(array_to_string(regexp_split_to_array(trim(text), '\\s+'), ' ')) gk
         |  FROM documents WHERE text IS NOT NULL
         |),
         |oldk AS (
         |  SELECT DISTINCT gk FROM keys WHERE doc_id < (SELECT c FROM cut)
         |),
         |p67 AS ($incrementalDedupSql),
         |near AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT d1 AS doc_id FROM p67
         |    UNION ALL SELECT d2 FROM p67
         |  ) WHERE doc_id >= (SELECT c FROM cut)
         |)
         |SELECT k.doc_id,
         |  CASE WHEN oldk.gk IS NOT NULL THEN 'exact'
         |       WHEN near.doc_id IS NOT NULL THEN 'near'
         |       ELSE 'novel' END AS triage
         |FROM keys k
         |LEFT JOIN oldk ON k.gk = oldk.gk
         |LEFT JOIN near ON near.doc_id = k.doc_id
         |WHERE k.doc_id >= (SELECT c FROM cut)
         |ORDER BY k.doc_id""".stripMargin,

    "q83_neardup_decontam" ->
      (minhashEbCte +
        """, cand AS (
          |  SELECT DISTINCT b.doc_id AS d1, a.doc_id AS d2
          |  FROM eb a JOIN eb b ON a.band_idx = b.band_idx
          |    AND a.band_key = b.band_key
          |  WHERE a.doc_id < 20 AND b.doc_id >= 20
          |), ver AS (
          |  SELECT d1, d2,
          |    len(list_intersect(s1.hs, s2.hs))::double
          |      / len(list_distinct(s1.hs || s2.hs)) AS jac
          |  FROM cand JOIN sh s1 ON s1.doc_id = d1 JOIN sh s2 ON s2.doc_id = d2
          |  WHERE len(list_intersect(s1.hs, s2.hs))::double
          |      / len(list_distinct(s1.hs || s2.hs)) >= 0.5
          |), ranked AS (
          |  SELECT d1, d2, jac,
          |    row_number() OVER (PARTITION BY d1 ORDER BY jac DESC, d2) rnk
          |  FROM ver
          |)
          |SELECT v.d1 AS doc_id, c.n_matches, r.d2 AS best_eval_id,
          |  r.jac AS best_jac
          |FROM (SELECT DISTINCT d1 FROM ver) v
          |JOIN (SELECT d1, count(*)::bigint AS n_matches
          |      FROM ver GROUP BY d1) c ON c.d1 = v.d1
          |JOIN ranked r ON r.d1 = v.d1 AND r.rnk = 1
          |ORDER BY doc_id""".stripMargin),

    "q87_dedup_threshold_audit" ->
      (minhashEbCte +
        """, reps AS (
          |  SELECT doc_id FROM (
          |    SELECT doc_id, min(doc_id) OVER (
          |      PARTITION BY md5(array_to_string(w, ' '))) rep
          |    FROM ws WHERE len(w) >= 3
          |  ) WHERE doc_id = rep
          |), ebr AS (SELECT eb.* FROM eb JOIN reps USING (doc_id)),
          |cand AS (
          |  SELECT DISTINCT a.doc_id d1, b.doc_id d2
          |  FROM ebr a JOIN ebr b ON a.band_idx = b.band_idx
          |    AND a.band_key = b.band_key AND a.doc_id < b.doc_id
          |), ver AS (
          |  SELECT d1, d2,
          |    len(list_intersect(s1.hs, s2.hs))::double
          |      / len(list_distinct(s1.hs || s2.hs)) AS jac
          |  FROM cand JOIN sh s1 ON s1.doc_id = d1 JOIN sh s2 ON s2.doc_id = d2
          |)
          |SELECT floor(jac * 10.0)::bigint AS bin, count(*)::bigint AS n_pairs
          |FROM ver GROUP BY bin ORDER BY bin""".stripMargin),

    // Default confs interpolated: graft.shuffle.seed, and
    // graft.shuffle.shards as the top log2(shards) of 60 hash bits. concat_ws skips NULL text in both engines, so NULL-text
    // docs land in the seed-only key's shard, tie-broken by doc_id.
    "q92_shuffle_manifest" ->
      raw"""WITH base AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]'))::bigint AS n_tokens,
        |    ('0x' || substr(md5(concat_ws('#', text, '${Conf.ShuffleSeed.default}')),1,15))::bigint AS h
        |  FROM documents
        |), shd AS (SELECT *, h >> ${60 - Integer.numberOfTrailingZeros(Conf.ShuffleShards.default)} AS shard FROM base)
        |SELECT shard, count(*)::bigint AS n_docs, sum(n_tokens)::bigint AS sum_tokens,
        |  first(doc_id ORDER BY h, doc_id) AS first_doc,
        |  last(doc_id ORDER BY h, doc_id) AS last_doc,
        |  sum(h % 1000003)::bigint AS checksum
        |FROM shd GROUP BY shard ORDER BY shard""".stripMargin,

    "q94_source_attribution" ->
      (s"""WITH pairs AS ($minhashPairsSql),
         |lab AS (
         |  SELECT least(a.source, b.source) src_a,
         |    greatest(a.source, b.source) src_b
         |  FROM pairs p JOIN documents a ON a.doc_id = p.d1
         |    JOIN documents b ON b.doc_id = p.d2
         |), agg AS (
         |  SELECT src_a, src_b, count(*)::bigint AS n_pairs
         |  FROM lab GROUP BY src_a, src_b
         |)
         |SELECT src_a, src_b, n_pairs,
         |  n_pairs::double / (SELECT sum(n_pairs) FROM agg)::double AS pair_share
         |FROM agg ORDER BY src_a, src_b""".stripMargin),

    "q112_pii_scrub" -> {
      val counts = scrubPatterns.map { case (l, re) =>
        s"coalesce(len(regexp_extract_all(text, '$re')), 0)::bigint AS n_$l"
      }
      val clean = scrubPatterns.foldLeft("text") { case (acc, (l, re)) =>
        s"regexp_replace($acc, '$re', '[${l.toUpperCase}]', 'g')"
      }
      val tot = scrubPatterns.map(p => s"n_${p._1}").mkString(" + ")
      s"""SELECT doc_id, ${scrubPatterns.map(p => s"n_${p._1}").mkString(", ")},
         |  ($tot)::bigint AS n_redactions, clean_text
         |FROM (SELECT doc_id, ${counts.mkString(",\n  ")},
         |  $clean AS clean_text FROM documents)
         |ORDER BY doc_id""".stripMargin
    },

    "q113_boilerplate" ->
      """WITH ws AS (
        |  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') w
        |  FROM documents
        |), sg AS (
        |  SELECT DISTINCT doc_id, source,
        |    ('0x' || substr(md5(s),1,15))::bigint % 2147483647 h FROM (
        |    SELECT doc_id, source,
        |      unnest(list_transform(range(1, len(w)-1), i ->
        |        array_to_string(list_slice(w, i, i+2), ' '))) s
        |    FROM ws WHERE len(w) >= 3)
        |), nd AS (
        |  SELECT source, count(DISTINCT doc_id) nd FROM sg GROUP BY source
        |), dfs AS (
        |  SELECT source, h, count(*) df FROM sg GROUP BY source, h
        |), boiler AS (
        |  SELECT d.source, d.h FROM dfs d JOIN nd USING(source)
        |  WHERE df >= greatest(2, ceil(nd * 0.05))
        |)
        |SELECT s.doc_id, s.source, count(*)::bigint AS n_grams,
        |  sum(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END)::bigint
        |    AS n_boiler,
        |  sum(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END)::double
        |    / count(*)::double AS boiler_ratio
        |FROM sg s LEFT JOIN boiler b
        |  ON s.source = b.source AND s.h = b.h
        |GROUP BY s.doc_id, s.source ORDER BY s.doc_id""".stripMargin,

    "q114_incremental_boilerplate" ->
      """WITH cut AS (SELECT (max(doc_id) * 4) // 5 AS c FROM documents),
        |ws AS (
        |  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') w
        |  FROM documents
        |), sg AS (
        |  SELECT DISTINCT doc_id, source,
        |    ('0x' || substr(md5(s),1,15))::bigint % 2147483647 h FROM (
        |    SELECT doc_id, source,
        |      unnest(list_transform(range(1, len(w)-1), i ->
        |        array_to_string(list_slice(w, i, i+2), ' '))) s
        |    FROM ws WHERE len(w) >= 3)
        |), old AS (
        |  SELECT * FROM sg WHERE doc_id < (SELECT c FROM cut)
        |), nd AS (
        |  SELECT source, count(DISTINCT doc_id) nd FROM old GROUP BY source
        |), dfs AS (
        |  SELECT source, h, count(*) df FROM old GROUP BY source, h
        |), boiler AS (
        |  SELECT d.source, d.h FROM dfs d JOIN nd USING(source)
        |  WHERE df >= greatest(2, ceil(nd * 0.05))
        |), batch AS (
        |  SELECT * FROM sg WHERE doc_id >= (SELECT c FROM cut)
        |)
        |SELECT b.doc_id, b.source, count(*)::bigint AS n_grams,
        |  sum(CASE WHEN bl.h IS NOT NULL THEN 1 ELSE 0 END)::bigint
        |    AS n_boiler,
        |  sum(CASE WHEN bl.h IS NOT NULL THEN 1 ELSE 0 END)::double
        |    / count(*)::double AS boiler_ratio
        |FROM batch b LEFT JOIN boiler bl
        |  ON b.source = bl.source AND b.h = bl.h
        |GROUP BY b.doc_id, b.source ORDER BY b.doc_id""".stripMargin,

    "q115_incremental_pack" ->
      """WITH cut AS (SELECT (max(doc_id) * 4) // 5 AS c FROM documents),
        |base AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]')) AS n_tokens,
        |    ('0x' || substr(md5(text),1,15))::bigint AS h
        |  FROM documents
        |), tails AS (
        |  SELECT h % 32 AS shard, sum(n_tokens)::bigint AS tail
        |  FROM base WHERE doc_id < (SELECT c FROM cut) GROUP BY h % 32
        |), pos AS (
        |  SELECT doc_id, n_tokens, h, h % 32 AS shard,
        |    sum(n_tokens) OVER (PARTITION BY h % 32 ORDER BY h, doc_id
        |      ROWS UNBOUNDED PRECEDING)::bigint AS cum
        |  FROM base WHERE doc_id >= (SELECT c FROM cut)
        |)
        |SELECT p.doc_id, p.shard, p.n_tokens,
        |  coalesce(t.tail, 0) + cum - n_tokens AS start_off,
        |  (coalesce(t.tail, 0) + cum - n_tokens) // 512 AS pack_id
        |FROM pos p LEFT JOIN tails t ON p.shard = t.shard
        |ORDER BY p.shard, start_off, p.doc_id""".stripMargin,

    "q116_bm25_negatives" ->
      (CorpusQuality.bm25RankedCtes +
        s""", topk AS (
           |  SELECT query_id, doc_id, score_ppm, rank
           |  FROM ranked WHERE rank <= 10
           |), nd_pairs AS ($minhashPairsSql),
           |neg AS (
           |  SELECT t.query_id, t.doc_id, t.score_ppm, t.rank FROM topk t
           |  WHERE NOT EXISTS (SELECT 1 FROM nd_pairs p
           |    WHERE (p.d1 = t.query_id AND p.d2 = t.doc_id)
           |       OR (p.d2 = t.query_id AND p.d1 = t.doc_id))
           |), rer AS (
           |  SELECT query_id, doc_id, score_ppm,
           |    row_number() OVER (PARTITION BY query_id ORDER BY rank)
           |      AS neg_rank
           |  FROM neg
           |)
           |SELECT query_id, neg_rank::bigint AS neg_rank, doc_id,
           |  score_ppm
           |FROM rer WHERE neg_rank <= $NegativesN
           |ORDER BY query_id, neg_rank""".stripMargin)
  )

  private[graft] lazy val incrementalDedupSql: String =
    minhashEbCte +
      """, cut AS (SELECT (max(doc_id) * 4) // 5 AS c FROM documents),
        |cand AS (
        |  SELECT DISTINCT a.doc_id d1, b.doc_id d2
        |  FROM eb a JOIN eb b ON a.band_idx = b.band_idx
        |    AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        |  WHERE b.doc_id >= (SELECT c FROM cut)
        |)
        |""".stripMargin + jaccardVerifyTail
}
