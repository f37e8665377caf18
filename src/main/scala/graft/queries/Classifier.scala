package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Graft
import graft.functions.TextFunctions._
import graft.sources.Memo

/** The trained model-based quality classifier (q151–q153) — the
  * fastText/DCLM/FineWeb-Edu-style discriminator that modern curation
  * pipelines run as their primary filter, bound to
  * [[graft.ops.Select.classifierTrain]]/[[graft.ops.Select.classifierScore]]:
  *
  *  - q151 trains on a BALANCED seed (all target-source positives plus a
  *    deterministic hash-sample of negatives at the pos/neg ratio — the
  *    practice fastText curation classifiers follow, and the q104
  *    target-source convention for what "quality domain" means in this
  *    corpus) and outputs the model itself;
  *  - q152 scores the FULL corpus under that model (threshold filter
  *    columns p20/prob/keep);
  *  - q153 is the frozen-model incremental path (the q69/q133
  *    discipline): the model trains on the committed corpus
  *    (doc_id < cut), persists as a SideTable artifact, and each crawl
  *    batch scores against the frozen artifact with zero old-corpus
  *    reads — batch-proportional, the 100 TB loop shape.
  *
  * Fixed-point determinism: training is full-batch per-coordinate-
  * normalized gradient descent on exact integers with ONE fixed-shape
  * IEEE probability expression per doc (see the op's scaladoc); the
  * oracles replay every iteration as unrolled MATERIALIZED CTEs (the
  * kmeans-oracle discipline), so model weights AND scores hash-match
  * bit-for-bit.
  *
  * Knob pins (the q150 oracle-pin discipline): the bindings and the
  * oracles read the same constants, [[ClfBuckets]]/[[ClfIters]]/
  * [[ClfLr20]]/[[ClfThreshold20]]/[[ClfTarget]]; a deployment that
  * wants other values calls the ops with them.
  */
object Classifier {

  /** Hash buckets for the tf feature space (model rows ≤ buckets+1). */
  private val ClfBuckets = 8192
  /** Full-batch training iterations (each unrolled in the oracle). */
  private val ClfIters = 16
  /** Learning rate in 2²⁰ fixed point (2.0 — measured stable where 4.0
    * overshoots on the sf0.01 corpus; per-coordinate normalization
    * makes the same lr serve bias and word features). */
  private val ClfLr20 = 2L * 1048576L
  /** keep threshold: p ≥ 0.5. */
  private val ClfThreshold20 = 524288L
  /** The positive-class source (the q104 target-source convention). */
  private val ClfTarget = "src0"

  private val Fp = 1048576L
  private val Fp40 = 1099511627776L

  /** Trained models per (session, dir, variant) — model-grain driver
    * rows (≤ buckets+1), the bpeMemo discipline: q151/q152 share one
    * training run per session instead of re-deriving it. */
  private val clfMemo = Memo[Array[(Long, Long)]]("clf")

  /** The balanced training seed over `d`: all docs of the target source
    * (y=1) plus negatives hash-sampled at rate 1/r, r = ⌊neg/pos⌋
    * clamped ≥ 1 — ONE 1-row driver probe (the BatchCut metadata
    * grain), exact integers so the oracle's ratio CTE reproduces r. */
  private def balancedSeed(d: DataFrame, tgt: String): DataFrame = {
    val lab = d.select(col("doc_id"), col("text"),
      when(col("source") === tgt, 1L).otherwise(0L).as("y"))
    val Array(nPos, nNeg) = lab
      .agg(sum(col("y")), sum(lit(1L) - col("y"))).head() match {
        case r => Array(r.getLong(0), r.getLong(1))
      }
    val r = math.max(1L, nNeg / math.max(nPos, 1L))
    lab.where(col("y") === 1L ||
      pmod(hash60(col("doc_id").cast("string")), lit(r)) === 0L)
  }

  /** Every knob the training reads, as the q153 artifact key carries
    * them (an artifact is keyed by the inputs that determine it). */
  private val Knobs = s"b${ClfBuckets}i${ClfIters}l${ClfLr20}t$ClfTarget"

  private def trainedModel(s: SparkSession, dir: String,
      maxId: Option[Long]): Array[(Long, Long)] = {
    val variant = maxId.map(c => s"cut$c").getOrElse("full")
    clfMemo(s, Some(s"$dir/documents.parquet"), variant) {
      val d0 = Graft.parquetSource(s, dir).table("documents")
      val d = maxId.map(c => d0.where(col("doc_id") < c)).getOrElse(d0)
      graft.ops.Select.classifierTrain(
          balancedSeed(d, ClfTarget), "y", "doc_id", "text",
          ClfBuckets, ClfIters, ClfLr20)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }
  }

  private def modelDf(s: SparkSession,
      m: Array[(Long, Long)]): DataFrame = {
    import s.implicits._
    m.toSeq.toDF("h", "w20")
  }

  /** The persisted frozen-model artifact behind q153 — built via the
    * public op (the bpeMergeIndex discipline). */
  private[graft] def clfModelIndex(s: SparkSession, dir: String,
      cut: Long): String =
    graft.sources.SideTable.ensure(s, "clf_model", s"$dir#$cut#$Knobs",
        Some(s"$dir/documents.parquet")) {
      modelDf(s, trainedModel(s, dir, Some(cut)))
    }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- q151: quality-classifier training (the model itself) ----------
    // The model is the verified output: ≤ buckets+1 (h, w20) rows, h=−1
    // the bias. Training data = the balanced seed; the oracle replays
    // ratio probe, seed selection, feature build, and all
    // ClfIters iterations with exact integers.
    "q151_clf_train" -> ((s, dir) => {
      modelDf(s, trainedModel(s, dir, None)).orderBy("h")
    }),

    // ---- q152: classifier scoring / threshold filter over the corpus --
    // [[graft.ops.Select.classifierScore]] with q151's model (session
    // memo — one training run feeds both queries): per doc the
    // fixed-point probability and the keep flag at p ≥ 0.5. The
    // model-quality caveat is the corpus's, not the op's: the synthetic
    // 31-word vocabulary gives a real but modest separation (measured
    // sf0.01: 80% recall at 30% FPR), which is exactly what a linear
    // tf model can extract here.
    "q152_clf_score" -> ((s, dir) => {
      graft.ops.Select.classifierScore(
          Graft.parquetSource(s, dir).table("documents"),
          modelDf(s, trainedModel(s, dir, None)),
          ClfThreshold20, "doc_id", "text", ClfBuckets)
        .orderBy("doc_id")
    }),

    // ---- q153: frozen-model incremental scoring ------------------------
    // The crawl-loop shape (q69/q133 discipline): model trained on the
    // committed corpus (doc_id < cut) persists as a SideTable artifact;
    // the batch scores against the frozen model — batch-proportional,
    // zero old-corpus reads, and re-training cadence becomes a
    // deployment decision (watch the keep-rate drift, the q133
    // fertility analogue). The oracle retrains from scratch on the old
    // slice — equivalence holds because the artifact rows ARE that
    // converged model, persisted.
    "q153_clf_incremental_score" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      val cut = BatchCut.cut(s, d)
      val mPath = clfModelIndex(s, dir, cut)
      graft.ops.Select.classifierScore(
          d.where(col("doc_id") >= cut), s.read.parquet(mPath),
          ClfThreshold20, "doc_id", "text", ClfBuckets)
        .orderBy("doc_id")
    }),

    // ---- q158: classifier eval audit (threshold sweep) -----------------
    // [[graft.ops.Select.classifierEval]] — the q73/q121 audit
    // discipline applied to the classifier: score the full corpus under
    // the q151 model (session memo — one training run feeds the whole
    // family), label against the target source, and sweep the nine
    // probability deciles for confusion counts + integer-ppm
    // precision/recall/F1/keep-rate. This is the curve that PICKS
    // threshold20 in a real deployment; on the synthetic corpus it
    // quantifies the q152 scaladoc's "real but modest separation"
    // claim instead of asserting it.
    "q158_clf_eval" -> ((s, dir) => {
      val d = Graft.parquetSource(s, dir).table("documents")
      val scored = graft.ops.Select.classifierScore(
        d, modelDf(s, trainedModel(s, dir, None)),
        ClfThreshold20, "doc_id", "text", ClfBuckets)
      val labels = d.select(col("doc_id"),
        when(col("source") === ClfTarget, 1L).otherwise(0L).as("y"))
      graft.ops.Select.classifierEval(scored, labels)
    })
  )

  // --------------------------------------------------------- oracles

  /** The training CTE chain: seed/features/labels plus n unrolled
    * gradient iterations ending in w<n>, n = [[ClfIters]]. `pre` opens
    * extra leading CTEs; `docWhere` restricts the TRAINING corpus
    * (the q153 old slice). Reused CTEs are MATERIALIZED — the chain
    * references w{i−1} twice per round, which default CTE inlining
    * would blow up exponentially. */
  private def clfTrainCtes(pre: String, docWhere: String): String = {
    val base = s"""WITH ${pre}lab0 AS (
      |  SELECT doc_id, CASE WHEN source = '${ClfTarget}' THEN 1 ELSE 0
      |    END::bigint AS y
      |  FROM documents$docWhere
      |), ratio AS (
      |  SELECT greatest(1, sum(CASE WHEN y = 0 THEN 1 ELSE 0 END)
      |    // greatest(sum(y), 1))::bigint AS r
      |  FROM lab0
      |), seed AS MATERIALIZED (
      |  SELECT doc_id, y FROM lab0 CROSS JOIN ratio
      |  WHERE y = 1 OR
      |    ('0x' || substr(md5(doc_id::varchar),1,15))::bigint % r = 0
      |), tok AS (
      |  SELECT d.doc_id,
      |    ('0x' || substr(md5(t),1,15))::bigint % ${ClfBuckets} AS h
      |  FROM (
      |    SELECT doc_id,
      |      unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
      |    FROM documents$docWhere
      |  ) d JOIN seed s ON s.doc_id = d.doc_id
      |), perdoc AS (
      |  SELECT doc_id, h, count(*)::bigint AS k FROM tok GROUP BY 1, 2
      |), nn AS (
      |  SELECT doc_id, sum(k)::bigint AS n FROM perdoc GROUP BY 1
      |), feats AS MATERIALIZED (
      |  SELECT p.doc_id, p.h, (p.k * $Fp) // nn.n AS t20
      |  FROM perdoc p JOIN nn USING (doc_id)
      |  UNION ALL
      |  SELECT doc_id, -1::bigint AS h, $Fp::bigint AS t20 FROM nn
      |), lab AS MATERIALIZED (SELECT doc_id, y FROM seed),
      |w0 AS MATERIALIZED (
      |  SELECT CAST(NULL AS BIGINT) AS h, CAST(NULL AS BIGINT) AS w20
      |  WHERE false
      |)""".stripMargin
    val iters = (1 to ClfIters).map { i =>
      val p = i - 1
      s""", z$i AS (
        |  SELECT f.doc_id, sum(coalesce(w.w20, 0) * f.t20)::bigint AS zn
        |  FROM feats f LEFT JOIN w$p w USING (h) GROUP BY f.doc_id
        |), e$i AS (
        |  SELECT z.doc_id,
        |    (floor($Fp * (0.5 + 0.5 * (zn::double / $Fp40.0)
        |       / (1.0 + abs(zn::double / $Fp40.0))))::bigint
        |     - l.y * $Fp) AS e
        |  FROM z$i z JOIN lab l USING (doc_id)
        |), g$i AS (
        |  SELECT f.h, sum(e.e * f.t20) AS g, sum(f.t20)::bigint AS s
        |  FROM feats f JOIN e$i e USING (doc_id) GROUP BY f.h
        |), w$i AS MATERIALIZED (
        |  SELECT g.h,
        |    (coalesce(w.w20, 0) - (CASE WHEN g.g < 0
        |       THEN -(((-g.g) * ${ClfLr20}) // (g.s * $Fp))
        |       ELSE ((g.g * ${ClfLr20}) // (g.s * $Fp)) END))::bigint AS w20
        |  FROM g$i g LEFT JOIN w$p w USING (h)
        |)""".stripMargin
    }.mkString
    base + iters
  }

  /** The scoring CTE chain against w<n>: tf features of
    * `scoreWhere`-restricted docs, zn, and the `scored` CTE
    * (doc_id, n_tokens, p20, prob, keep) shared by the q152/q153
    * per-doc tails and the q158 eval rollup. */
  private def clfScoreCtes(scoreWhere: String): String =
    s""", allt AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(t),1,15))::bigint % ${ClfBuckets} AS h
      |  FROM (
      |    SELECT doc_id,
      |      unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
      |    FROM documents$scoreWhere
      |  )
      |), apd AS (
      |  SELECT doc_id, h, count(*)::bigint AS k FROM allt GROUP BY 1, 2
      |), ann AS (SELECT doc_id, sum(k)::bigint AS n FROM apd GROUP BY 1),
      |afeats AS MATERIALIZED (
      |  SELECT p.doc_id, p.h, (p.k * $Fp) // ann.n AS t20
      |  FROM apd p JOIN ann USING (doc_id)
      |  UNION ALL SELECT doc_id, -1::bigint, $Fp::bigint FROM ann
      |), zf AS (
      |  SELECT f.doc_id, sum(coalesce(w.w20, 0) * f.t20)::bigint AS zn,
      |    max(ann.n)::bigint AS n_tokens
      |  FROM afeats f LEFT JOIN w${ClfIters} w USING (h)
      |    JOIN ann ON ann.doc_id = f.doc_id
      |  GROUP BY f.doc_id
      |), scored AS MATERIALIZED (
      |  SELECT doc_id, n_tokens,
      |    floor($Fp * (0.5 + 0.5 * (zn::double / $Fp40.0)
      |      / (1.0 + abs(zn::double / $Fp40.0))))::bigint AS p20
      |  FROM zf
      |)""".stripMargin

  private def clfScoreSql(scoreWhere: String): String =
    clfScoreCtes(scoreWhere) +
      s"""
      |SELECT doc_id, n_tokens, p20, p20::double / $Fp.0 AS prob,
      |  (p20 >= $ClfThreshold20) AS keep
      |FROM scored ORDER BY doc_id""".stripMargin

  private val cutPre: String =
    "cut AS MATERIALIZED (SELECT (max(doc_id) * 4) // 5 AS c" +
      " FROM documents), "

  val oracles: Map[String, String] = Map(

    "q151_clf_train" ->
      (clfTrainCtes("", "") +
        s"\nSELECT h, w20 FROM w${ClfIters} ORDER BY h"),

    "q152_clf_score" ->
      (clfTrainCtes("", "") + clfScoreSql("")),

    "q153_clf_incremental_score" ->
      (clfTrainCtes(cutPre, " WHERE doc_id < (SELECT c FROM cut)") +
        clfScoreSql(" WHERE doc_id >= (SELECT c FROM cut)")),

    // lab0 (full-corpus labels) comes from the training chain; scored
    // from the score chain — the sweep reads only the (p20, y)
    // histogram, mirroring the op's histogram-grain design.
    "q158_clf_eval" ->
      (clfTrainCtes("", "") + clfScoreCtes("") +
        s""", hist AS MATERIALIZED (
          |  SELECT s.p20, l.y, count(*)::bigint AS c
          |  FROM scored s JOIN lab0 l USING (doc_id) GROUP BY 1, 2
          |), thr AS (
          |  SELECT (i * $Fp) // 10 AS thr20 FROM range(1, 10) t(i)
          |), conf AS (
          |  SELECT thr20,
          |    sum(CASE WHEN p20 >= thr20 AND y = 1 THEN c ELSE 0
          |      END)::bigint AS tp,
          |    sum(CASE WHEN p20 >= thr20 AND y = 0 THEN c ELSE 0
          |      END)::bigint AS fp,
          |    sum(CASE WHEN p20 < thr20 AND y = 1 THEN c ELSE 0
          |      END)::bigint AS fn,
          |    sum(CASE WHEN p20 < thr20 AND y = 0 THEN c ELSE 0
          |      END)::bigint AS tn
          |  FROM hist CROSS JOIN thr GROUP BY thr20
          |), met AS (
          |  SELECT thr20, tp, fp, fn, tn,
          |    CASE WHEN tp + fp = 0 THEN 0
          |      ELSE (tp * 1000000) // (tp + fp) END AS precision_ppm,
          |    CASE WHEN tp + fn = 0 THEN 0
          |      ELSE (tp * 1000000) // (tp + fn) END AS recall_ppm,
          |    CASE WHEN tp + fp + fn + tn = 0 THEN 0 ELSE
          |      ((tp + fp) * 1000000) // (tp + fp + fn + tn)
          |    END AS keep_ppm
          |  FROM conf
          |)
          |SELECT thr20, tp, fp, fn, tn, precision_ppm, recall_ppm,
          |  CASE WHEN precision_ppm + recall_ppm = 0 THEN 0 ELSE
          |    (2 * precision_ppm * recall_ppm)
          |      // (precision_ppm + recall_ppm) END AS f1_ppm,
          |  keep_ppm
          |FROM met ORDER BY thr20""".stripMargin)
  )
}
