package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Conf, Graft, Par}
import graft.functions.TextFunctions._

/** q109 — the composed crawl-ingest batch job: the incremental family's
  * members (q67 dedup, q79 triage, q95 reputation flags, q101 vocabulary,
  * q105 BM25 routing, q106 DSIR scoring, q107 bigram surprisal) run
  * TOGETHER over one batch, the way a real ingest loop runs them. Run
  * separately, each member re-derives its own gram stream from the same
  * batch — seven tokenize/scan passes over identical text. Here ONE
  * [[graft.functions.TriShinglesExpr]] pass derives the shared gram frame
  * (unigram term + hash, bigram hash, word-3-gram hash per token
  * position) and every member consumes a slice of it; the only other
  * batch reads are one narrow per-doc metadata projection (content key +
  * quality battery — whole-doc grain, not derivable from position rows)
  * and the dedup verify's candidate-bounded re-shingle of OLD candidate
  * docs (batch candidates reuse the gram frame).
  *
  * Every member scores against the SAME persisted snapshot artifacts as
  * its standalone query (shared builder defs ⇒ shared name + identity ⇒
  * bit-identity by construction), so q109's per-doc record columns equal
  * the member outputs exactly — the oracle recomputes each member
  * batch-unaware and CrawlIngestSpec pins member parity and the
  * single-derivation plan shape.
  *
  * The job also FEEDS the artifacts: each run ensures the batch's delta
  * artifacts (`sig_index_delta`, `content_keys_delta`,
  * `vocab_terms_delta`, `bm25_postings_delta`, keyed by the same
  * snapshot identity — memoized, so reruns are idempotent). Snapshot ∪
  * delta is bit-equal to a from-scratch build over old+batch
  * (spec-asserted), which is what the NEXT batch reads: at 100 TB you
  * never rewrite the index to ingest a batch — deltas accumulate and
  * compact into the next snapshot (the
  * [[graft.sources.SideTable.compactIfNeeded]] discipline), while
  * frozen-LM scoring statistics (BM25 df/dl/stats, DSIR and bigram LMs)
  * stay pinned to the snapshot between rebuilds (the q69/q105 rule).
  *
  * Scale shape: work is |batch| + |candidates| everywhere — the old
  * corpus is touched only through narrow artifact scans, every one
  * broadcast-semi-filtered down to the batch's keys before any join
  * (the q67/q79/q101 membership discipline); all final assembly joins
  * are broadcasts of batch-bounded member frames onto the batch spine.
  */
object CrawlIngest {

  /** Physical plans captured for CrawlIngestSpec: the shared gram
    * derivation (must contain exactly ONE generator), the dedup
    * candidate join (must contain none), and the verify's old-side
    * re-shingle (generator allowed, but candidate-pruned with the cut
    * pushed to the scan). */
  @volatile private[graft] var lastIngestPlans: String = ""

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q109_crawl_ingest" -> ((s, dir) => run(s, dir)),
    "q111_stream_crawl_ingest" -> ((s, dir) => runStream(s, dir)))

  // ------------------------------------------------- shared member cores
  // One definition per member, shared by the batch job (q109) and the
  // streaming loop (q111) — the composed/streaming parity claims depend
  // on these being single definitions, exactly as the standalone members
  // share their cores with the full-corpus recomputes.

  /** The snapshot artifacts every composed-ingest variant scores
    * against — ensured via the standalone members' OWN builder defs. */
  private[graft] case class Snapshots(sigPath: String, keyPath: String,
    termPath: String, postPath: String, lexPath: String, dlPath: String,
    totPath: String, ctPath: String, crPath: String, ctxPath: String,
    bigPath: String)

  private[graft] def ensureSnapshots(s: SparkSession, dir: String,
      cut: Long, target: String, buckets: Int): Snapshots = {
    val sigPath = TextPipeline.signatureIndex(s, dir, cut)
    val keyPath = TextPipeline.contentKeyIndex(s, dir, cut)
    val termPath = CorpusQuality.vocabTermIndex(s, dir, cut)
    val (postPath, lexPath, dlPath, totPath) =
      CorpusQuality.bm25Index(s, dir, cut)
    val (ctPath, crPath) =
      CorpusQuality.dsirLmIndex(s, dir, cut, target, buckets)
    val (ctxPath, bigPath) = CorpusQuality.bigramLmIndex(s, dir, cut)
    Snapshots(sigPath, keyPath, termPath, postPath, lexPath, dlPath,
      totPath, ctPath, crPath, ctxPath, bigPath)
  }

  /** Per-doc whole-doc metadata: content key (q79/q95's md5 of the word
    * sequence) + the q66 flag battery; word count gates the q95 dup
    * rule (<3-word docs never form content groups). */
  private[graft] def metaFrame(docs: DataFrame): DataFrame =
    graft.ops.Text.qualityFlags(
        docs.select(col("doc_id"), col("source"), col("text"),
          when(col("text").isNotNull,
            md5(concat_ws(" ", words(col("text"))))).as("gk"),
          size(words(col("text"))).as("nw")),
        "doc_id", "text", Seq("source", "gk", "nw"))
      .select(col("doc_id"), col("source"), col("gk"), col("nw"),
        col("keep"))

  /** Vocabulary member (q101 semantics + per-doc attribution):
    * `knownTerms` is every term already owned — the snapshot vocab
    * artifact, plus the accumulated stream terms in the streaming form.
    * Returns (newTermsCp, perDocNew). */
  private[graft] def vocabMember(knownTerms: DataFrame,
      grams: DataFrame): (DataFrame, DataFrame) = {
    val btermFirst = grams.groupBy(col("term"))
      .agg(min(col("doc_id")).as("owner"))
      .localCheckpoint() // ≤ |delta vocab| rows; probe + anti + owner
    val termHits = knownTerms
      .join(broadcast(btermFirst.select(col("term"))), Seq("term"),
        "left_semi")
    val newTerms = btermFirst
      .join(broadcast(termHits), Seq("term"), "left_anti")
      .localCheckpoint() // genuinely-new terms + first delta owner
    (newTerms, newTerms.groupBy(col("owner").as("doc_id"))
      .agg(count(lit(1)).as("n_new_terms")))
  }

  /** Near-dup member (q67 semantics): bands the delta from its gram
    * slice, collides against `seen` (the snapshot signature artifact,
    * or the accumulated stream index), verifies with exact Jaccard.
    * `priorShOf(candDocs)` supplies shingle rows for candidate docs NOT
    * covered by `sh3` (the cut-pushed old-corpus scan in the batch
    * form; the everything-before-this-epoch scan in the streaming
    * form) — delta candidates always reuse the gram frame. Returns
    * (deltaBandsCp, pairsCp, candPlan, priorShPlan). */
  private[graft] def dedupMember(s: SparkSession, seen: DataFrame,
      sh3: DataFrame, capWhat: String)
      (priorShOf: DataFrame => DataFrame)
      : (DataFrame, DataFrame, String, String) = {
    // stage timing under the q111 decomposition flag: the dedup member
    // is the epoch barrier, so ITS phase split must be measurable too
    val timer = new PhaseTimer("q111-timing")
    def timed[T](l: String)(b: => T): T = timer(f"    dedup.$l%-8s")(b)
    val deltaBands = timed("sig")(graft.ops.Dedup.bandRows(
        graft.ops.Dedup.minhashSignaturesOf(sh3))
      .localCheckpoint()) // 4 narrow rows per delta doc
    val deltaKeys = deltaBands
      .select(col("band_idx"), col("band_key")).distinct()
    // NOTE (r18, measured): fusing the cap's stats job into this
    // materialization via a window bucket-count (capBucketsFused) was
    // tried and REVERTED — interleaved A/B at sf0.1 (9 queries, 3
    // rounds, fresh-JVM minima) measured the fused shape SLOWER
    // (q67 1.29×, q27 1.20×, q62 1.41×; this path ~1.02-1.08×): the
    // window's shuffle+sort inside the probe job costs more than the
    // one stats job it saves. See OPTIMIZATION_r18.md.
    val relevant = timed("probe")(seen
      .join(broadcast(deltaKeys), Seq("band_idx", "band_key"),
        "left_semi")
      .unionByName(deltaBands)
      .localCheckpoint()) // collision-relevant index rows only (q67)
    val allBands = timed("cap")(graft.ops.Dedup.capBuckets(relevant,
      Seq("band_idx", "band_key"), s, capWhat, Conf.DedupMaxBucket(s)))
    val candLazy = allBands.as("a").join(deltaBands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    val cand = timed("cand")(candLazy.localCheckpoint())
    val candDocs = cand.select(col("d1").as("doc_id"))
      .unionByName(cand.select(col("d2").as("doc_id"))).distinct()
    val priorShLazy = priorShOf(candDocs)
    val candSh = priorShLazy
      .unionByName(sh3.join(broadcast(candDocs), Seq("doc_id"),
        "left_semi"))
    // no .distinct()/.cache(): pairJaccardArrays' collect_set
    // aggregation dedupes shingles map-side and reads the frame once
    val pairs = timed("verify")(
      graft.ops.Dedup.pairJaccardArrays(cand, candSh)
      .where(col("jac") >= 0.8)
      .localCheckpoint())
    (deltaBands, pairs,
      candLazy.queryExecution.executedPlan.toString,
      priorShLazy.queryExecution.executedPlan.toString)
  }

  /** The pure content-key membership probe: the delta's key set
    * broadcasts against the snapshot key frame, hits broadcast back.
    * Shared by [[keysMember]] (the artifact+bloom path) and
    * [[graft.ops.Ingest.scoreBatch]] (caller-supplied frames). */
  private[graft] def keyProbe(oldKeys: DataFrame,
      probeKeys: DataFrame): DataFrame =
    oldKeys.join(broadcast(probeKeys), Seq("gk"), "left_semi")
      .withColumn("exact_hit", lit(1))
      .localCheckpoint() // ≤ |delta| rows — broadcastable

  /** Content-key probe shared by triage (q79) and dup flags (q95):
    * [[keyProbe]] against the snapshot artifact scan (bloom-pruned
    * when compiled). */
  private[graft] def keysMember(s: SparkSession, dir: String, cut: Long,
      keyPath: String, bkeys: DataFrame): DataFrame = {
    val probeKeys =
      if (Conf.ArtifactsBloom(s)) {
        val bf = graft.sources.SideTable.ensureBloomOf(s, "content_keys",
          s"$dir#$cut", Some(s"$dir/documents.parquet"), keyPath, "gk")
        bkeys.where(graft.functions.Bloom.mightContain(bf, col("gk")))
      } else bkeys
    keyProbe(s.read.parquet(keyPath), probeKeys)
  }

  /** DSIR member (q106 semantics) over the frozen LM frames — fully
    * lazy: both LMs broadcast, no materialization until assembly. */
  private[graft] def dsirMember(ct: DataFrame, cr: DataFrame,
      grams: DataFrame, target: String, buckets: Int): DataFrame = {
    val dsPerDoc = grams.where(col("source") =!= target)
      .select(col("doc_id"),
        pmod(hash60(col("term")), lit(buckets)).as("h"))
      .groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("k"))
    graft.ops.Select.score(dsPerDoc, ct, cr)
      .select(col("doc_id"), col("n_tokens").as("dsir_tokens"),
        col("sum_bits").as("dsir_bits"), col("score").as("dsir_score"))
  }

  /** Bigram-surprisal member (q107 semantics) over the frozen LM
    * frames, broadcast-semi-filtered to the delta's gram keys. */
  private[graft] def bigramMember(ctx: DataFrame, big: DataFrame,
      grams: DataFrame): DataFrame = {
    val bgPerDoc = grams.where(col("h2").isNotNull)
      .groupBy(col("doc_id"), col("h1"), col("h2"))
      .agg(count(lit(1)).as("k"))
      .localCheckpoint() // delta-bounded; feeds both key sets + scoring
    val ctxC = ctx
      .join(broadcast(bgPerDoc.select(col("h1")).distinct()),
        Seq("h1"), "left_semi")
      .localCheckpoint() // ≤ |delta contexts|
    val bigC = big
      .join(broadcast(bgPerDoc.select(col("h2")).distinct()),
        Seq("h2"), "left_semi")
      .localCheckpoint() // ≤ |delta bigrams|
    bgPerDoc
      .join(broadcast(ctxC), Seq("h1"), "left")
      .join(broadcast(bigC), Seq("h2"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_bigrams"),
        sum(when(col("c2").isNull, col("k")).otherwise(0L))
          .as("n_oov"),
        sum(col("k") *
          (length(bin(coalesce(col("c1"), lit(0L)) + 1)) -
           length(bin(coalesce(col("c2"), lit(0L)) + 1))))
          .as("lm_bits"))
      .select(col("doc_id"), col("n_bigrams"), col("n_oov"),
        col("lm_bits"),
        (col("lm_bits").cast("double") /
          col("n_bigrams").cast("double")).as("lm_mean"))
  }

  /** BM25 top-1 routing member (q105 semantics, k=1) over the four
    * frozen index frames. */
  private[graft] def bm25Member(post: DataFrame, lex: DataFrame,
      dl: DataFrame, tot: DataFrame, grams: DataFrame,
      dfCap: Int): DataFrame = {
    val qtf = grams.where(col("h3").isNotNull)
      .select(col("doc_id").as("query_id"), col("h3").as("h"))
      .distinct()
      .localCheckpoint() // delta term lists — delta-bounded
    val qDf = lex
      .join(broadcast(qtf.select(col("h")).distinct()), Seq("h"),
        "left_semi")
      .localCheckpoint() // ≤ |delta terms| rows
    val rare = qtf.join(broadcast(qDf.where(col("df") <= dfCap)
        .select(col("h"))), Seq("h"), "left_semi")
      .withColumn("bucket", pmod(col("h"), lit(64)).cast("int"))
    val cand105 = post.join(broadcast(rare), Seq("bucket", "h"))
      .select(col("query_id"), col("doc_id"))
      .distinct()
      .localCheckpoint() // rare-df-bounded
    val candDocs105 = cand105.select(col("doc_id")).distinct()
    val candPost = post
      .join(broadcast(candDocs105), Seq("doc_id"), "left_semi")
      .localCheckpoint() // candidate docs' full postings
    val dlC = dl
      .join(broadcast(candDocs105), Seq("doc_id"), "left_semi")
      .localCheckpoint() // ≤ |candidate docs| rows
    graft.ops.Retrieval.bm25Rank(cand105
        .join(qtf, Seq("query_id"))
        .join(candPost.select(col("doc_id"), col("h"), col("tf")),
          Seq("doc_id", "h"))
        .join(broadcast(qDf), Seq("h"))
        .join(broadcast(dlC), Seq("doc_id"))
        .crossJoin(broadcast(tot)), 1)
      .select(col("query_id").as("doc_id"),
        col("doc_id").as("top1_doc"),
        col("score_ppm").as("top1_ppm"))
  }

  /** The per-doc ingest record: every member frame is delta-bounded, so
    * every assembly join broadcasts onto the spine. Members that
    * exclude a doc (no bigrams, target-source, no retrieval candidates)
    * contribute nulls — the same row sets as their standalone forms. */
  private[graft] def record(meta: DataFrame, triage: DataFrame,
      bdup: DataFrame, perDocNew: DataFrame, bigram: DataFrame,
      dsir: DataFrame, top1: DataFrame): DataFrame =
    meta.select(col("doc_id"), col("source"), col("keep"))
      .join(broadcast(triage), Seq("doc_id"), "left")
      .join(broadcast(bdup), Seq("doc_id"), "left")
      .join(broadcast(perDocNew), Seq("doc_id"), "left")
      .join(broadcast(bigram), Seq("doc_id"), "left")
      .join(broadcast(dsir), Seq("doc_id"), "left")
      .join(broadcast(top1), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("triage"), col("keep"),
        coalesce(col("is_dup"), lit(0)).cast("int").as("is_dup"),
        coalesce(col("n_new_terms"), lit(0L)).as("n_new_terms"),
        col("n_bigrams"), col("n_oov"), col("lm_bits"), col("lm_mean"),
        col("dsir_tokens"), col("dsir_bits"), col("dsir_score"),
        col("top1_doc"), col("top1_ppm"))

  private[graft] def run(s: SparkSession, dir: String): DataFrame = {
    val target = CorpusQuality.DsirTargetSource
    val buckets = Conf.DsirBuckets(s)
    val dfCap = CorpusQuality.Bm25DfCap

    val d = Graft.parquetSource(s, dir).table("documents")
    val cut = BatchCut.cut(s, d)
    val fp = Some(s"$dir/documents.parquet")

    // ---- snapshot artifacts: the members' own builders (memoized) ----
    val snaps = ensureSnapshots(s, dir, cut, target, buckets)

    val batch = d.where(col("doc_id") >= cut)

    Par.scope(s, "q109") { p =>
      // ---- per-doc metadata: ONE narrow whole-doc projection ----------
      // materializes concurrently with the gram frame — two independent
      // batch-slice scans.
      val fMeta = p.async("meta")(metaFrame(batch).localCheckpoint())
        // |batch| narrow rows; read by triage, dup flags, and the spine

      // ---- THE gram frame: ONE TriShingles generator pass -------------
      // (doc_id, source, term, h1, h2, h3): every member's gram stream is
      // a projection of this frame — the non-null h3 rows are exactly
      // shingleHashRows(batch, 3), the (h1, h2) pairs exactly
      // dualShingleHashRows(batch, 1, 2), the term column exactly the
      // exploded word stream.
      val gramsLazy = triShingleHashRows(batch, Seq("source"))
      val grams = gramsLazy.localCheckpoint() // |batch tokens| rows; read
        // by all seven members — the whole point of the composed job
      val meta = fMeta.get

      // The members below are independent given (grams, meta) — each
      // task runs one member's eager steps (checkpoint
      // materializations, the cap's stats job, its delta-artifact write)
      // as concurrent Spark actions, so member B's candidate join
      // overlaps member A's artifact probe instead of queueing behind it
      // (measured 14.2 s serialized → 10.0 s overlapped at sf0.1); the
      // delta ensures also feed the artifacts here, inside the member
      // that derives the delta frame.

      // ---- vocabulary (q101) + per-doc new-term attribution -----------
      val fVocab = p.async("vocab") {
        val (newTerms, perDocNew) =
          vocabMember(s.read.parquet(snaps.termPath), grams)
        graft.sources.SideTable.ensure(s, "vocab_terms_delta",
          s"$dir#$cut", fp) { newTerms.select(col("term")) }
        perDocNew
      }

      // ---- incremental near-dup (q67), batch side from the gram frame -
      val sh3 = grams.where(col("h3").isNotNull)
        .select(col("doc_id"), col("h3").as("h"))
      val fDedup = p.async("dedup") {
        // verify: OLD candidates re-shingle under a candidate-pruned,
        // cut-pushed scan; BATCH candidates reuse the gram frame.
        val (deltaBands, pairs, candPlan, verifyPlan) =
          dedupMember(s, s.read.parquet(snaps.sigPath), sh3,
            "q109 ingest bands") { candDocs =>
            shingleHashRows(d.where(col("doc_id") < cut)
              .join(broadcast(candDocs), Seq("doc_id"), "left_semi"), 3)
          }
        graft.sources.SideTable.ensure(s, "sig_index_delta", s"$dir#$cut",
          fp) { deltaBands }
        val nearDocs = pairs.select(col("d1").as("doc_id"))
          .unionByName(pairs.select(col("d2").as("doc_id")))
          .where(col("doc_id") >= cut).distinct()
          .withColumn("near_hit", lit(1))
        (nearDocs, candPlan, verifyPlan)
      }

      // ---- key probe shared by triage (q79) and dup flags (q95) -------
      val batchKeys = meta.where(col("gk").isNotNull)
        .select(col("doc_id"), col("gk"))
      val bkeys = batchKeys.select(col("gk")).distinct()
      val fKeys = p.async("keys") {
        val hitKeys = keysMember(s, dir, cut, snaps.keyPath, bkeys)
        graft.sources.SideTable.ensure(s, "content_keys_delta",
          s"$dir#$cut", fp) {
          bkeys.join(broadcast(hitKeys.select(col("gk"))), Seq("gk"),
            "left_anti")
        }
        hitKeys
      }

      // ---- DSIR (q106): fully lazy, both frozen LMs broadcast ---------
      val dsir = dsirMember(s.read.parquet(snaps.ctPath),
        s.read.parquet(snaps.crPath), grams, target, buckets)

      // ---- bigram surprisal (q107) against the frozen LM artifacts ----
      val fBigram = p.async("bigram")(bigramMember(
        s.read.parquet(snaps.ctxPath), s.read.parquet(snaps.bigPath), grams))

      // ---- BM25 top-1 routing (q105) against the index artifacts ------
      val fBm25 = p.async("bm25") {
        graft.sources.SideTable.ensure(s, "bm25_postings_delta",
          s"$dir#$cut", fp, Seq("bucket")) {
          sh3.groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("tf"))
            .withColumn("bucket", pmod(col("h"), lit(64)).cast("int"))
        }
        bm25Member(s.read.parquet(snaps.postPath),
          s.read.parquet(snaps.lexPath), s.read.parquet(snaps.dlPath),
          s.read.parquet(snaps.totPath), grams, dfCap)
      }

      // ---- await the members, capture the pinned plans ----------------
      val perDocNew = fVocab.get
      val (nearDocs, candPlan, verifyPlan) = fDedup.get
      val hitKeys = fKeys.get
      val bigram = fBigram.get
      val top1 = fBm25.get
      lastIngestPlans =
        gramsLazy.queryExecution.executedPlan.toString +
          "\n-- cand --\n" + candPlan +
          "\n-- verify-old --\n" + verifyPlan

      // ---- triage (q79) + dup flags (q95) over the shared key probe ---
      val (triage, bdup) =
        batchTriageAndDup(batchKeys, meta, hitKeys, nearDocs)

      record(meta, triage, bdup, perDocNew, bigram, dsir, top1)
        .orderBy("doc_id")
    }
  }

  /** The exact/near/novel triage labeling alone — the arrival-time
    * (q111) and batch-view (q109) forms differ ONLY in the `nearDocs`
    * they pass, so the CASE lives once. */
  private[graft] def triageOf(batchKeys: DataFrame, hitKeys: DataFrame,
      nearDocs: DataFrame): DataFrame =
    batchKeys
      .join(broadcast(hitKeys), Seq("gk"), "left")
      .join(broadcast(nearDocs), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_hit") === 1, "exact")
          .when(col("near_hit") === 1, "near")
          .otherwise("novel").as("triage"))

  /** Triage (q79) + dup flags (q95) over the shared key probe. q109's
    * batch view passes `nearDocs` with BOTH sides of a verified
    * within-batch pair; q111's arrival-time view passes the later side
    * only, plus `priorKeys` (`prior_hit` rows: keys that arrived in an
    * earlier epoch). Shared by [[run]], [[runStream]] and
    * [[graft.ops.Ingest.scoreBatch]]. */
  private[graft] def batchTriageAndDup(batchKeys: DataFrame,
      meta: DataFrame, hitKeys: DataFrame, nearDocs: DataFrame,
      priorKeys: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val triage = triageOf(batchKeys, hitKeys, nearDocs)
    val bkeys3 = meta.where(col("nw") >= 3)
      .select(col("doc_id"), col("gk"))
    val firstIds = bkeys3.groupBy(col("gk"))
      .agg(min(col("doc_id")).as("first_id"))
    val probed = (hitKeys +: priorKeys.toSeq)
      .foldLeft(bkeys3)((f, k) => f.join(broadcast(k), Seq("gk"), "left"))
    val prior =
      if (priorKeys.isEmpty) lit(false) else col("prior_hit").isNotNull
    val bdup = probed
      .join(broadcast(firstIds), Seq("gk"))
      .select(col("doc_id"),
        (col("exact_hit").isNotNull || prior ||
          col("doc_id") > col("first_id")).cast("int").as("is_dup"))
    (triage, bdup)
  }

  /** q111 — the composed crawl-ingest loop as the Structured Streaming
    * deployment it exists for (the q76↔q67 relationship lifted to the
    * WHOLE ingest pipeline): crawl batches ARRIVE as a stream, and each
    * micro-batch runs every member — one TriShingles pass per epoch,
    * the same member cores, the same frozen snapshot artifacts — while
    * the accumulated per-run state evolves between epochs via
    * [[graft.sources.SideTable.append]]: the banded signature index
    * (seeded from the snapshot artifact — near-dup candidates against
    * old corpus AND earlier arrivals), the arrived content-key set, and
    * the arrived new-term set (both seeded empty).
    *
    * Semantics are ARRIVAL-TIME, the view the loop itself acts on:
    * `triage` marks a doc 'near' iff it duplicates something PRIOR
    * (old corpus or an earlier arrival — the doc is the d2 side of a
    * verified pair), where q109's whole-batch view marks BOTH sides;
    * every other column is per-doc under frozen-LM semantics and
    * therefore IDENTICAL to q109's (is_dup decomposes exactly:
    * old hit ∨ key-in-earlier-epoch ∨ smaller-id-in-this-epoch ≡ "a
    * smaller-id same-key doc exists"; a new term's owner is its first
    * arrival — feed order is doc order, so the earliest epoch's
    * minimum id IS the batch minimum). The oracle is q109's composed
    * SQL with only the near CTE changed to the arrival form; the union
    * of per-epoch records equals it exactly, which CrawlIngestSpec
    * pins per column against q109 as well. Per-epoch work is
    * |epoch| + |candidates| — the accumulated index is only ever read
    * through the epoch's own band keys (the q67 relevance
    * restriction), and the per-epoch plan is constant in epoch count
    * (the artifact-scan discipline q76 established). */
  private[graft] def runStream(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{Dataset, Row}
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    // Phase timing: q111 is the bench's single most expensive line
    // item, so its cost must be decomposable (see PhaseTimer).
    val timed = new PhaseTimer("q111-timing")
    val target = CorpusQuality.DsirTargetSource
    val buckets = Conf.DsirBuckets(s)
    val dfCap = CorpusQuality.Bm25DfCap
    val d = Graft.parquetSource(s, dir).table("documents")
    val cut = BatchCut.cut(s, d)
    val fp = Some(s"$dir/documents.parquet")
    val snaps = timed("ensure-snapshots")(
      ensureSnapshots(s, dir, cut, target, buckets))

    // per-run accumulated state (the q76 discipline): seeded under a
    // transient refresh so reruns are idempotent, application id in the
    // identity so concurrent JVMs never share in-flight state, dropped
    // when the stream ends. A deployment that RESUMES ingestion keeps
    // the artifacts and skips the refresh.
    import org.apache.spark.sql.types.StructType
    val runKey = s"$dir#$cut#ingest#${s.sparkContext.applicationId}"
    def emptyOf(field: String): DataFrame = Seq.empty[String].toDF(field)
    val (seenPath, keysPath, termsPath) = timed("seed-state") {
      graft.sources.SideTable.refreshing(s)((
        graft.sources.SideTable.ensure(s, "ingest_seen", runKey, fp) {
          s.read.parquet(snaps.sigPath) },
        graft.sources.SideTable.ensure(s, "ingest_keys", runKey, fp) {
          emptyOf("gk") },
        graft.sources.SideTable.ensure(s, "ingest_terms", runKey, fp) {
          emptyOf("term") }))
    }

    // the driver-side id collect is the MemoryStream harness seam
    // (bounded by |batch|; a deployment's source is Kafka/files)
    val ids = d.where(col("doc_id") >= cut).select(col("doc_id"))
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    val nEpochs = Conf.StreamEpochs(s)
    val chunks =
      if (ids.isEmpty) Seq.empty
      else ids.grouped(
        math.max(1, (ids.length + nEpochs - 1) / nEpochs)).toSeq
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Long]
    Par.scope(s, "q111") { p =>
      val acc = scala.collection.mutable.ArrayBuffer
        .empty[Par.Task[DataFrame]]
      // earlier epochs' shingle projections (over their checkpointed
      // gram frames) — the dedup member's prior-candidate shingle source
      val priorEpochSh = scala.collection.mutable.ArrayBuffer
        .empty[DataFrame]
      val query = ms.toDF().toDF("doc_id").writeStream
        .outputMode("append")
        .foreachBatch { (epochIds: Dataset[Row], epochNo: Long) =>
          timed(s"epoch-body-$epochNo") {
          val bodyT0 = System.nanoTime()
          def mark(l: String): Unit = timed.since(bodyT0, f"  +$l%-10s")
          val epochDocs =
            d.join(broadcast(epochIds), Seq("doc_id"), "left_semi")
          val fMeta = p.async(s"e$epochNo/meta")(
            metaFrame(epochDocs).localCheckpoint())
          val grams = triShingleHashRows(epochDocs, Seq("source"))
            .localCheckpoint() // ONE generator pass per epoch
          mark("grams")
          val meta = fMeta.get
          mark("meta")

          val fVocab = p.async(s"e$epochNo/vocab") {
            // known = snapshot vocabulary ∪ terms arrived in earlier
            // epochs — so an epoch owns only genuinely-first arrivals
            vocabMember(s.read.parquet(snaps.termPath)
              .unionByName(s.read.parquet(termsPath)), grams)
          }
          val sh3 = grams.where(col("h3").isNotNull)
            .select(col("doc_id"), col("h3").as("h"))
          val fDedup = p.async(s"e$epochNo/dedup") {
            dedupMember(s, s.read.parquet(seenPath), sh3,
              "q111 ingest bands") { candDocs =>
              // prior candidates = old corpus OR an earlier epoch. The
              // old-corpus side re-shingles under a candidate-pruned,
              // CUT-PUSHED scan (doc_id < cut reaches the parquet
              // reader); earlier-epoch candidates reuse that epoch's
              // already-checkpointed gram projection instead of
              // re-tokenizing raw text — the shingle analogue of the
              // seenPath band-index accumulation. (A restartable
              // deployment persists the shingle deltas as a SideTable
              // artifact like ingest_seen; in-session the checkpoint
              // blocks are the same rows at zero recompute.)
              val priorCand = candDocs.join(broadcast(epochIds),
                Seq("doc_id"), "left_anti")
              val fromOld = shingleHashRows(
                d.where(col("doc_id") < cut)
                  .join(broadcast(priorCand), Seq("doc_id"), "left_semi"),
                3)
              priorEpochSh.foldLeft(fromOld) { (u, pSh) =>
                u.unionByName(pSh.join(broadcast(priorCand),
                  Seq("doc_id"), "left_semi"))
              }
            }
          }
          val batchKeys = meta.where(col("gk").isNotNull)
            .select(col("doc_id"), col("gk"))
          val bkeys = batchKeys.select(col("gk")).distinct()
          val fKeys = p.async(s"e$epochNo/keys") {
            (keysMember(s, dir, cut, snaps.keyPath, bkeys),
              // earlier-arrival key membership from the accumulated set
              s.read.parquet(keysPath)
                .join(broadcast(bkeys), Seq("gk"), "left_semi")
                .withColumn("prior_hit", lit(1))
                .localCheckpoint())
          }
          // dsir is the one member whose core is fully lazy; checkpoint it
          // HERE, overlapped behind the dedup critical path, so the
          // deferred record assembly is pure broadcast composition
          val fDsir = p.async(s"e$epochNo/dsir")(dsirMember(
            s.read.parquet(snaps.ctPath), s.read.parquet(snaps.crPath),
            grams, target, buckets).localCheckpoint())
          val fBigram = p.async(s"e$epochNo/bigram")(bigramMember(
            s.read.parquet(snaps.ctxPath), s.read.parquet(snaps.bigPath),
            grams))
          val fBm25 = p.async(s"e$epochNo/bm25")(bm25Member(
            s.read.parquet(snaps.postPath), s.read.parquet(snaps.lexPath),
            s.read.parquet(snaps.dlPath), s.read.parquet(snaps.totPath),
            grams, dfCap))

          val (newTerms, perDocNew) = fVocab.get
          mark("vocab")
          val (deltaBands, pairs, _, _) = fDedup.get
          mark("dedup")
          val (hitKeys, priorKeys) = fKeys.get
          mark("keys")
          val bigram = fBigram.get
          mark("bigram")
          val top1 = fBm25.get
          mark("bm25")
          val dsir = fDsir.get
          mark("dsir")

          // arrival-time triage: 'near' iff the doc is the LATER side of
          // a verified pair (prior = old corpus or earlier arrival; d2 is
          // always the delta side by construction)
          val nearDocs = pairs.select(col("d2").as("doc_id")).distinct()
            .withColumn("near_hit", lit(1))
          val (triage, bdup) = batchTriageAndDup(batchKeys, meta, hitKeys,
            nearDocs, Some(priorKeys))

          // state transitions AFTER scoring: this epoch's bands, content
          // keys and new terms join the accumulated state, visible to
          // every later epoch's probes — three independent artifacts, so
          // the writes overlap each other and the record materialization
          val fAppends = Seq(
            "ingest_seen" -> deltaBands,
            "ingest_keys" ->
              meta.where(col("nw") >= 3).select(col("gk")).distinct(),
            "ingest_terms" -> newTerms.select(col("term"))).map {
              case (n, rows) => p.async(s"e$epochNo/append-$n")(
                graft.sources.SideTable.append(s, n, runKey, fp)(rows)) }
          // The record frame is PURE COMPOSITION over member frames that
          // are already localCheckpointed (or that read persistent snapshot
          // artifacts, never the dropped per-run state), so its ~3 s
          // assembly job does NOT have to serialize inside the epoch: it
          // materializes on a background task that overlaps the NEXT
          // epoch's member work, and only the final epoch's assembly is
          // paid as a tail (measured 8.3 s -> ~5.8 s per epoch at sf0.1,
          // q111 ~32 s -> ~27 s). The state appends stay inside the epoch
          // barrier — later epochs read them.
          acc += p.async(s"e$epochNo/record")(record(meta, triage, bdup,
            perDocNew, bigram, dsir, top1).localCheckpoint())
          mark("record")
          fAppends.foreach(_.get)
          mark("appends")
          priorEpochSh += sh3 // visible to later epochs' dedup members
          ()
          }
        }
        .start()
      try {
        chunks.zipWithIndex.foreach { case (c, i) =>
          timed(s"epoch-drive-$i") {
            ms.addData(c); query.processAllAvailable() }
        }
        // the final epoch's assembly is the one paid as a tail: its rows
        // are the result (record tasks run under their own job groups,
        // so stop() could not cancel them)
        timed("assembly-tail")(acc.foreach(_.get))
      }
      finally timed("stop-drop") {
        query.stop()
        Seq("ingest_seen", "ingest_keys", "ingest_terms")
          .foreach(graft.sources.SideTable.drop(s, _, runKey, fp))
      }
      acc.map(_.get).reduceOption(_ unionByName _)
        .getOrElse(s.createDataFrame(s.sparkContext.emptyRDD[Row],
          StructType.fromDDL("doc_id BIGINT, source STRING, " +
            "triage STRING, keep INT, is_dup INT, n_new_terms BIGINT, " +
            "n_bigrams BIGINT, n_oov BIGINT, lm_bits BIGINT, " +
            "lm_mean DOUBLE, dsir_tokens BIGINT, dsir_bits BIGINT, " +
            "dsir_score DOUBLE, top1_doc BIGINT, top1_ppm BIGINT")))
        .orderBy("doc_id")
    }
  }

  // ---------------------------------------------------------------- oracle

  /** The composed oracle: each member's batch-unaware recompute (their
    * own oracle CTEs, uniquely prefixed) LEFT JOINed onto the batch
    * spine — bit-identical member semantics is the whole claim. The
    * near CTE is the one point where the batch (q109, both pair sides)
    * and streaming (q111, arrival-time: later side only) contracts
    * differ; everything else is shared verbatim. */
  val oracles: Map[String, String] = Map(
    "q109_crawl_ingest" -> composedSql(
      """
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT d1 AS doc_id FROM p67
        |    UNION ALL SELECT d2 FROM p67
        |  ) WHERE doc_id >= (SELECT c FROM cut)
        |""".stripMargin),
    "q111_stream_crawl_ingest" -> composedSql(
      """
        |  SELECT DISTINCT d2 AS doc_id FROM p67
        |""".stripMargin))

  private def composedSql(nearBody: String): String =
    s"""WITH cut AS (SELECT (max(doc_id) * 4) // 5 AS c FROM documents),
         |flags AS (
         |  SELECT doc_id,
         |    CASE WHEN n_words >= 20 AND n_words <= 1000
         |      AND mean_word_len >= 3.0 AND mean_word_len <= 5.0
         |      AND punct_ratio <= 0.3 AND stopword_ratio >= 0.02
         |      THEN 1 ELSE 0 END::int AS keep
         |  FROM (
         |    SELECT doc_id,
         |      len(regexp_split_to_array(trim(text), '\\s+'))::int AS n_words,
         |      CASE WHEN length(text) > 0
         |        THEN length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::double / length(text)
         |        ELSE 0.0 END AS punct_ratio,
         |      CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) > 0
         |        THEN length(regexp_replace(text, '\\s+', '', 'g'))::double
         |             / len(regexp_split_to_array(trim(text), '\\s+'))
         |        ELSE 0.0 END AS mean_word_len,
         |      len(regexp_extract_all(text, '\\b(the|a|of|and|is)\\b'))::double
         |        / len(regexp_split_to_array(trim(text), '\\s+')) AS stopword_ratio
         |    FROM documents WHERE doc_id >= (SELECT c FROM cut)
         |  )
         |),
         |keys AS (
         |  SELECT doc_id,
         |    md5(array_to_string(regexp_split_to_array(trim(text), '\\s+'), ' ')) gk
         |  FROM documents WHERE text IS NOT NULL
         |),
         |oldk AS (
         |  SELECT DISTINCT gk FROM keys WHERE doc_id < (SELECT c FROM cut)
         |),
         |p67 AS (${TextPipeline.incrementalDedupSql}),
         |near AS ($nearBody),
         |tri AS (
         |  SELECT k.doc_id,
         |    CASE WHEN oldk.gk IS NOT NULL THEN 'exact'
         |         WHEN near.doc_id IS NOT NULL THEN 'near'
         |         ELSE 'novel' END AS triage
         |  FROM keys k
         |  LEFT JOIN oldk ON k.gk = oldk.gk
         |  LEFT JOIN near ON near.doc_id = k.doc_id
         |  WHERE k.doc_id >= (SELECT c FROM cut)
         |),
         |grp AS (
         |  SELECT doc_id, min(doc_id) OVER (PARTITION BY gk) AS rep FROM (
         |    SELECT doc_id,
         |      md5(array_to_string(regexp_split_to_array(trim(text), '\\s+'), ' ')) gk
         |    FROM documents
         |    WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 3
         |  )
         |),
         |isdup AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id <> rep THEN 1 ELSE 0 END::int AS is_dup
         |  FROM grp
         |),
         |tok AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
         |  FROM documents
         |),
         |newt AS (
         |  SELECT term, min(doc_id) AS owner FROM tok GROUP BY term
         |  HAVING min(doc_id) >= (SELECT c FROM cut)
         |),
         |nnew AS (
         |  SELECT owner AS doc_id, count(*)::bigint AS n_new_terms
         |  FROM newt GROUP BY owner
         |),
         |bgpos AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(g[1]),1,15))::bigint % 2147483647 AS h1,
         |    ('0x' || substr(md5(g[1] || ' ' || g[2]),1,15))::bigint % 2147483647 AS h2
         |  FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(w)), i ->
         |      list_slice(w, i, i+1))) g
         |    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') w
         |          FROM documents) WHERE len(w) >= 2
         |  )
         |),
         |bgctx AS (
         |  SELECT h1, count(*)::bigint AS c1 FROM bgpos
         |  WHERE doc_id < (SELECT c FROM cut) GROUP BY h1
         |),
         |bgbig AS (
         |  SELECT h2, count(*)::bigint AS c2 FROM bgpos
         |  WHERE doc_id < (SELECT c FROM cut) GROUP BY h2
         |),
         |bgper AS (
         |  SELECT doc_id, h1, h2, count(*)::bigint AS k FROM bgpos
         |  WHERE doc_id >= (SELECT c FROM cut) GROUP BY 1, 2, 3
         |),
         |bg AS (
         |  SELECT doc_id, sum(k)::bigint AS n_bigrams,
         |    sum(CASE WHEN c2 IS NULL THEN k ELSE 0 END)::bigint AS n_oov,
         |    sum(k * (length(bin(coalesce(c1, 0) + 1))
         |           - length(bin(coalesce(c2, 0) + 1))))::bigint AS lm_bits,
         |    sum(k * (length(bin(coalesce(c1, 0) + 1))
         |           - length(bin(coalesce(c2, 0) + 1))))::double
         |      / sum(k)::double AS lm_mean
         |  FROM bgper LEFT JOIN bgctx USING (h1) LEFT JOIN bgbig USING (h2)
         |  GROUP BY doc_id
         |),
         |dstok AS (
         |  SELECT doc_id, source,
         |    ('0x' || substr(md5(t),1,15))::bigint % 10000 AS h
         |  FROM (
         |    SELECT doc_id, source,
         |      unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
         |    FROM documents
         |  )
         |),
         |dsct AS (
         |  SELECT h, count(*)::bigint AS ct FROM dstok
         |  WHERE source = '${CorpusQuality.DsirTargetSource}' AND doc_id < (SELECT c FROM cut) GROUP BY h
         |),
         |dscr AS (
         |  SELECT h, count(*)::bigint AS cr FROM dstok
         |  WHERE source <> '${CorpusQuality.DsirTargetSource}' AND doc_id < (SELECT c FROM cut) GROUP BY h
         |),
         |dsper AS (
         |  SELECT doc_id, h, count(*)::bigint AS k FROM dstok
         |  WHERE source <> '${CorpusQuality.DsirTargetSource}' AND doc_id >= (SELECT c FROM cut)
         |  GROUP BY doc_id, h
         |),
         |ds AS (
         |  SELECT doc_id, sum(k)::bigint AS dsir_tokens,
         |    sum(k * (length(bin(coalesce(ct, 0) + 1))
         |           - length(bin(coalesce(cr, 0) + 1))))::bigint AS dsir_bits,
         |    sum(k * (length(bin(coalesce(ct, 0) + 1))
         |           - length(bin(coalesce(cr, 0) + 1))))::double
         |      / sum(k)::double AS dsir_score
         |  FROM dsper LEFT JOIN dscr USING (h) LEFT JOIN dsct USING (h)
         |  GROUP BY doc_id
         |),
         |bmocc AS (
         |  SELECT doc_id, ('0x' || substr(md5(s),1,15))::bigint % 2147483647 h FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(w)-1), i ->
         |      array_to_string(list_slice(w, i, i+2), ' '))) s
         |    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') w
         |          FROM documents) WHERE len(w) >= 3
         |  )
         |),
         |bmtfo AS (
         |  SELECT doc_id, h, count(*)::bigint AS tf FROM bmocc
         |  WHERE doc_id < (SELECT c FROM cut) GROUP BY doc_id, h
         |),
         |bmtfb AS (
         |  SELECT DISTINCT doc_id, h FROM bmocc
         |  WHERE doc_id >= (SELECT c FROM cut)
         |),
         |bmdl AS (
         |  SELECT doc_id, sum(tf)::bigint AS dl FROM bmtfo GROUP BY doc_id
         |),
         |bmstats AS (
         |  SELECT h, count(*)::bigint AS df FROM bmtfo GROUP BY h
         |),
         |bmtot AS (
         |  SELECT sum(tf)::bigint AS t_tok,
         |    count(DISTINCT doc_id)::bigint AS n_docs FROM bmtfo
         |),
         |bmcand AS (
         |  SELECT DISTINCT b.doc_id AS query_id, t2.doc_id AS doc_id
         |  FROM bmtfb b
         |  JOIN bmstats s ON s.h = b.h AND s.df <= ${CorpusQuality.Bm25DfCap}
         |  JOIN bmtfo t2 ON t2.h = b.h
         |),
         |bmcontrib AS (
         |  SELECT c.query_id, c.doc_id,
         |    ((length(bin(n_docs)) - length(bin(st.df)))::hugeint
         |      * 22 * least(t2.tf, 15) * t_tok * 1000000)
         |    // (10*t_tok*least(t2.tf,15) + 3*t_tok + 9*d.dl*n_docs) AS ppm
         |  FROM bmcand c
         |  JOIN bmtfb tq ON tq.doc_id = c.query_id
         |  JOIN bmtfo t2 ON t2.doc_id = c.doc_id AND t2.h = tq.h
         |  JOIN bmstats st ON st.h = tq.h
         |  JOIN bmdl d ON d.doc_id = c.doc_id
         |  CROSS JOIN bmtot
         |),
         |bmscored AS (
         |  SELECT query_id, doc_id, sum(ppm)::bigint AS score_ppm
         |  FROM bmcontrib GROUP BY query_id, doc_id
         |),
         |bmtop AS (
         |  SELECT query_id, doc_id, score_ppm,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY score_ppm DESC, doc_id) AS rank
         |  FROM bmscored
         |),
         |bm AS (
         |  SELECT query_id AS doc_id, doc_id AS top1_doc,
         |    score_ppm AS top1_ppm
         |  FROM bmtop WHERE rank = 1
         |)
         |SELECT d.doc_id, d.source, tri.triage, f.keep,
         |  coalesce(isdup.is_dup, 0)::int AS is_dup,
         |  coalesce(nnew.n_new_terms, 0)::bigint AS n_new_terms,
         |  bg.n_bigrams, bg.n_oov, bg.lm_bits, bg.lm_mean,
         |  ds.dsir_tokens, ds.dsir_bits, ds.dsir_score,
         |  bm.top1_doc, bm.top1_ppm
         |FROM documents d
         |LEFT JOIN tri ON tri.doc_id = d.doc_id
         |LEFT JOIN flags f ON f.doc_id = d.doc_id
         |LEFT JOIN isdup ON isdup.doc_id = d.doc_id
         |LEFT JOIN nnew ON nnew.doc_id = d.doc_id
         |LEFT JOIN bg ON bg.doc_id = d.doc_id
         |LEFT JOIN ds ON ds.doc_id = d.doc_id
         |LEFT JOIN bm ON bm.doc_id = d.doc_id
         |WHERE d.doc_id >= (SELECT c FROM cut)
         |ORDER BY d.doc_id""".stripMargin
}
