package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Conf, Par}
import graft.functions.EmbeddingFunctions.dotNative

/** Public embedding operators over arbitrary `id`/`vector` frames:
  * brute-force cosine top-k (the ANN recall baseline) and the
  * deterministic distributed k-means behind SemDeDup/IVF. The
  * q30/q80-family entries bind to the same cores
  * ([[graft.queries.Embeddings]] keeps the memoized / artifact
  * orchestration).
  */
object Embed {

  /** (vec_id, v, nrm): id + double vector + its L2 norm. Cosines are
    * computed as dot(a,b)/(‖a‖·‖b‖) rather than normalizing each
    * vector up front: per-element normalization needs an interpreted
    * lambda `transform`, while dot and norm are the native codegen
    * [[graft.functions.DotProductExpr]]. */
  def normalize(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // integral ids only, checked at the API boundary: the top-k and
    // assignment aggregates key on long ids, and letting a string id
    // through surfaces as an opaque Catalyst UpCast failure deep in
    // the plan instead of here
    val idType = emb.schema(idCol).dataType
    require(Seq("ByteType", "ShortType", "IntegerType", "LongType")
        .contains(idType.toString),
      s"$idCol must be an integral id column, got $idType — hash or " +
        "zip non-integral ids to longs before calling graft.ops.Embed")
    val s = emb.sparkSession
    emb.repartition(s.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol).cast("long").as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .select(col("vec_id"), col("v"),
        sqrt(dotNative(col("v"), col("v"))).as("nrm"))
  }

  /** Exact brute-force cosine top-k of `corpus` vectors per `queries`
    * row — the baseline every ANN variant's recall is audited against
    * (the q70 discipline). The query side broadcasts; per-query top-k
    * rides the mergeable TopK aggregate (k·|tasks| rows shuffle,
    * independent of corpus size — never a per-query corpus sort).
    * Output: (q_id, vec_id, cos, rank), ordered. */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "vec_id", queryVecCol: String = "embedding",
      excludeSelf: Boolean = false): DataFrame = {
    val e = normalize(corpus, idCol, vecCol)
    val q = normalize(queries, queryIdCol, queryVecCol)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val joinCond =
      if (excludeSelf) col("vec_id") =!= col("q_id") else lit(true)
    val scored = e.join(broadcast(q), joinCond)
      .select(col("q_id"), col("vec_id"),
        (dotNative(col("qv"), col("v")) / (col("qn") * col("nrm")))
          .as("cos"))
    graft.queries.Embeddings.topkPerQuery(scored, k)
  }

  /** Deterministic distributed k-means (Lloyd's): seedless uniform
    * hash-sample init, exact fixed-point centroid accumulation (bit-
    * stable under any partitioning — see the q80 entry docs), `iters`
    * assign/update rounds. Returns the k-row centroid table
    * (cid, cv, cn). */
  def kmeansCentroids(emb: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    graft.queries.Embeddings.kmeansCentroids(
      normalize(emb, idCol, vecCol).localCheckpoint(), k, iters,
      capture = false)

  /** [[kmeansCentroids]] plus the final assignment pass. Output:
    * (<id>, cluster, score) — score is the assignment objective
    * v·c − ‖c‖²/2 (monotone in −‖v−c‖²). */
  def kmeans(emb: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val e = normalize(emb, idCol, vecCol).localCheckpoint()
    val cents = graft.queries.Embeddings.kmeansCentroids(e, k, iters,
      capture = false)
    graft.queries.Embeddings.kmAssignSlim(e, cents)
      .select(col("vec_id").as(idCol), col("cid").as("cluster"),
        col("score"))
  }

  /** Session IVF cosine top-k: a k-means codebook (`nlist` cells,
    * deterministic — see [[kmeansCentroids]]), corpus assigned to its
    * nearest cell, each query probing its `nprobe` nearest cells (same
    * Euclidean assignment objective as the corpus side), exact cosine
    * only within probed cells, mergeable per-query top-k. Recall is
    * bounded by the probe set — audit against [[cosineTopK]], the q70
    * discipline. Scale shape: centroids broadcast (nlist rows), the
    * corpus shuffles once to materialize cells, probes join cell-keyed.
    * For the crawl-loop deployment where the cell-partitioned index
    * PERSISTS and batches probe it with dynamic partition pruning, see
    * the q78/q110 artifact path. Output: (q_id, vec_id, cos, rank). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
      nlist: Int = 16, nprobe: Int = 2, iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "vec_id", queryVecCol: String = "embedding",
      excludeSelf: Boolean = false): DataFrame = {
    require(nlist >= 1 && nprobe >= 1 && iters >= 1,
      s"need nlist/nprobe/iters >= 1 (got $nlist/$nprobe/$iters)")
    val e = normalize(corpus, idCol, vecCol).localCheckpoint()
    val cents = graft.queries.Embeddings.kmeansCentroids(e, nlist, iters,
      capture = false)
    // kmAssign carries (v, nrm) through the argmax struct — no
    // join-back, the corpus shuffles once for the assignment
    val cells = graft.queries.Embeddings.kmAssign(e, cents)
      .select(col("vec_id"), col("v"), col("nrm"),
        col("cid").as("cell"))
      .localCheckpoint() // one row per corpus vector; probe-join side
    val q = normalize(queries, queryIdCol, queryVecCol)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("qsim").desc, col("cid"))
    val probes = q.join(broadcast(cents), lit(true))
      .select(col("q_id"), col("qv"), col("qn"), col("cid"),
        (dotNative(col("qv"), col("cv")) -
          lit(0.5d) * (col("cn") * col("cn"))).as("qsim"))
      .withColumn("rnk", row_number().over(wProbe))
      .where(col("rnk") <= nprobe)
      .select(col("q_id"), col("qv"), col("qn"), col("cid").as("cell"))
    val joinCond =
      if (excludeSelf) col("vec_id") =!= col("q_id") else lit(true)
    val scored = probes.join(cells, Seq("cell"))
      .where(joinCond)
      .select(col("q_id"), col("vec_id"),
        (dotNative(col("qv"), col("v")) / (col("qn") * col("nrm")))
          .as("cos"))
    graft.queries.Embeddings.topkPerQuery(scored, k)
  }

  /** All XOR masks over `bits` positions with popcount ≤ `radius` —
    * the multi-probe set of [[lshTopK]], generated at metadata grain
    * (Σ_{m≤radius} C(bits, m) masks; mask 0 is the exact bucket). */
  private[graft] def lshProbeMasks(bits: Int, radius: Int): Seq[Long] =
    (0 to radius).flatMap(m => (0 until bits).combinations(m)
      .map(_.foldLeft(0L)((acc, b) => acc | (1L << b))).toSeq)

  /** Per-table sign buckets: one [[randomProject]] pass at
    * outDim = tables·bits, sliced so table t owns projection dims
    * t·bits+1 .. (t+1)·bits (table 0 therefore hashes exactly like
    * the single-table form — the index is append-stable across a
    * `tables` widening). Output: (<id>, t, bucket). */
  private[graft] def lshBuckets(src: DataFrame, bits: Int, tables: Int,
      idCol: String, vecCol: String): DataFrame =
    randomProject(src, tables * bits, idCol, vecCol)
      .groupBy(col(idCol),
        expr(s"CAST((dim - 1) DIV $bits AS INT)").as("t"))
      .agg(sum(when(col("y_fp") >= 0L,
        expr(s"shiftleft(1L, CAST((dim - 1) % $bits AS INT))"))
        .otherwise(lit(0L))).as("bucket"))

  /** The candidate-pair surface of [[lshTopK]] — DISTINCT
    * (q_id, vec_id) pairs whose per-table buckets collide with any
    * probe, exposed separately so recall/cost audits (q189's sweep)
    * can count candidates without paying the re-rank. Because the
    * re-rank is an EXACT cosine, a ground-truth top-5 member among
    * the candidates can be outranked only by other global top-4
    * members — so recall@5 of this set IS recall@5 of the re-ranked
    * top-k for any k ≥ 9. */
  def lshCandidatePairs(corpus: DataFrame, queries: DataFrame,
      bits: Int = 16, tables: Int = 1, radius: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "vec_id", queryVecCol: String = "embedding",
      excludeSelf: Boolean = false): DataFrame = {
    require(tables >= 1 && tables <= 16,
      s"need 1 <= tables <= 16 (got $tables)")
    val cb = lshBuckets(corpus, bits, tables, idCol, vecCol)
      .select(col(idCol).cast("long").as("vec_id"), col("t"),
        col("bucket"))
    val qb = lshBuckets(queries, bits, tables, queryIdCol, queryVecCol)
      .select(col(queryIdCol).cast("long").as("q_id"), col("t"),
        col("bucket"))
    lshCandidatePairsFrom(cb, qb, bits, tables, radius, excludeSelf)
  }

  /** [[lshCandidatePairs]] over PREBUILT bucket frames — the
    * persisted-index deployment shape (index once with
    * [[lshBuckets]], probe many) and the sweep-audit shape (q201
    * builds the widest index once; narrower cells are `t < tables`
    * prefixes of it, by the table-slicing construction). Inputs:
    * corpusBuckets (vec_id, t, bucket), queryBuckets (q_id, t,
    * bucket); both may carry MORE tables than `tables` — the probe
    * restricts to `t < tables`. */
  def lshCandidatePairsFrom(corpusBuckets: DataFrame,
      queryBuckets: DataFrame, bits: Int, tables: Int = 1,
      radius: Int = 1, excludeSelf: Boolean = false): DataFrame = {
    require(bits >= 1 && bits <= 30, s"need 1 <= bits <= 30 (got $bits)")
    require(tables >= 1 && tables <= 16,
      s"need 1 <= tables <= 16 (got $tables)")
    require(radius >= 0 && radius <= 3,
      s"need 0 <= radius <= 3 (got $radius)")
    val masks = lshProbeMasks(bits, radius)
    require(masks.size.toLong * tables <= 8192L,
      s"probe fan-out ${masks.size}x$tables tables exceeds 8192 — " +
        "lower radius/bits/tables (broadcast probe frame bound)")
    val probes = queryBuckets.where(col("t") < tables)
      .select(col("q_id"), col("t"),
        col("bucket"), explode(array(masks.map(lit): _*)).as("m"))
      .select(col("q_id"), col("t"),
        col("bucket").bitwiseXOR(col("m")).as("bucket"))
    val joinCond =
      if (excludeSelf) col("vec_id") =!= col("q_id") else lit(true)
    // within ONE table a vector lives in exactly one bucket and a
    // query's probe buckets are pairwise distinct (distinct masks), so
    // duplicates only arise ACROSS tables — dedup only then
    val pairs = corpusBuckets.where(col("t") < tables)
      .join(broadcast(probes), Seq("t", "bucket"))
      .where(joinCond)
      .select(col("q_id"), col("vec_id"))
    if (tables > 1) pairs.distinct() else pairs
  }

  /** [[lshTopK]] over PREBUILT bucket frames — the persisted-index
    * SEARCH of the index-once-probe-many deployment: candidates from
    * [[lshCandidatePairsFrom]], then the exact cosine re-rank against
    * the raw vector tables. Because the bucket function is a pure
    * function of the vector (hash-derived signs, no training), a
    * snapshot index UNIONed with per-batch bucket appends IS the
    * from-scratch index bit-for-bit — the zero-drift crawl-loop
    * property, exercised by q203. Plan shape: the candidate-pair
    * frame (bounded by the probe fan-out — the number the q201 audit
    * prices) broadcasts against the corpus scan, so the corpus never
    * shuffles for the search. */
  def lshTopKFrom(corpusBuckets: DataFrame, queryBuckets: DataFrame,
      corpus: DataFrame, queries: DataFrame, k: Int = 10,
      bits: Int = 16, tables: Int = 1, radius: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "vec_id", queryVecCol: String = "embedding",
      excludeSelf: Boolean = false): DataFrame = {
    require(k >= 1, s"need k >= 1 (got $k)")
    val cand = lshCandidatePairsFrom(corpusBuckets, queryBuckets,
      bits, tables, radius, excludeSelf)
    val qn = normalize(queries, queryIdCol, queryVecCol)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val scored = normalize(corpus, idCol, vecCol)
      .join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(qn), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dotNative(col("qv"), col("v")) / (col("qn") * col("nrm")))
          .as("cos"))
    graft.queries.Embeddings.topkPerQuery(scored, k)
  }

  /** Random-hyperplane LSH-bucketed ANN (Charikar, "Similarity
    * estimation techniques from rounding algorithms", STOC 2002 — the
    * SimHash family for cosine): each vector's bucket per table is
    * `bits` SIGN BITS of its deterministic JL projections
    * ([[randomProject]] — the hash-derived ±1 matrix, so no RNG and
    * no stored artifact; the index is a pure function of the
    * vector), candidates are corpus vectors whose bucket in ANY of
    * the `tables` independent tables matches any of the query's
    * MULTI-PROBE set (all Hamming-≤`radius` flips of the query's
    * bucket — the standard recall/cost trades: more tables OR wider
    * probes both raise recall, tables at index cost, radius at probe
    * cost), and candidates alone get the exact cosine re-rank.
    * Recall is probe-bounded: audit against [[cosineTopK]] ground
    * truth (the q70 discipline — q189 sweeps (tables, radius) and
    * reports recall AND candidate cost per cell). y_fp = 0 counts as
    * a set bit on both engines (one deterministic rule). Output:
    * (q_id, vec_id, cos, rank ≤ k) — a query whose probe set matches
    * nothing emits no rows, exactly like an empty IVF probe.
    *
    * Scale shape: the corpus contributes one [[randomProject]] pass
    * (broadcast sign frame, map-side sums; tables share the one pass
    * — table t is projection dims t·bits..(t+1)·bits−1) and one
    * hash-join of its (id, t, bucket) table against the BROADCAST
    * (tables·Σ C(bits,≤radius))·|queries| probe frame; the exact
    * re-rank touches candidates only, through the bounded mergeable
    * TopK tail. Cross-table duplicate candidates dedup at CANDIDATE
    * grain (the frame the audit bounds), never corpus grain. The
    * checkpointed cell frame carries (v, nrm) per (vector, table) —
    * a `tables`-fold replication bounded by tables ≤ 16; a persisted
    * deployment stores the narrow (id, t, bucket) index instead and
    * re-reads vectors at fetch. Never all-pairs, and — unlike
    * [[ivfTopK]] — ZERO training passes: the bucket function is
    * corpus-independent, so the index survives any append without
    * drift (the crawl-loop property, free).
    *
    * @note 100 TB deployments: do NOT call this session form on a
    *       persisted corpus. Its checkpointed cell frame replicates
    *       every (vector, norm) once per table — a ≤16× corpus copy
    *       in executor storage. Build the narrow (id, t, bucket)
    *       index ONCE with [[lshBuckets]], persist it (it is a pure
    *       function of each vector, so appends are per-batch index
    *       deltas — the q203 shape), and serve queries with
    *       [[lshTopKFrom]], which joins the index and re-reads
    *       vectors only for candidates. This form is the
    *       small/medium-corpus and exploratory path. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
      bits: Int = 16, idCol: String = "vec_id",
      vecCol: String = "embedding", queryIdCol: String = "vec_id",
      queryVecCol: String = "embedding",
      excludeSelf: Boolean = false, tables: Int = 1,
      radius: Int = 1): DataFrame = {
    require(k >= 1, s"need k >= 1 (got $k)")
    require(bits >= 1 && bits <= 30, s"need 1 <= bits <= 30 (got $bits)")
    require(tables >= 1 && tables <= 16,
      s"need 1 <= tables <= 16 (got $tables)")
    require(radius >= 0 && radius <= 3,
      s"need 0 <= radius <= 3 (got $radius)")
    val masks = lshProbeMasks(bits, radius)
    require(masks.size.toLong * tables <= 8192L,
      s"probe fan-out ${masks.size}x$tables tables exceeds 8192 — " +
        "lower radius/bits/tables (broadcast probe frame bound)")
    val cells = normalize(corpus, idCol, vecCol)
      .join(lshBuckets(corpus, bits, tables, idCol, vecCol)
        .select(col(idCol).cast("long").as("vec_id"), col("t"),
          col("bucket")),
        Seq("vec_id"))
      .localCheckpoint() // tables rows per corpus vector; probe-join side
    val qn = normalize(queries, queryIdCol, queryVecCol)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"))
      .localCheckpoint() // tiny; read by probes and the re-rank
    val probes = lshBuckets(queries, bits, tables, queryIdCol,
        queryVecCol)
      .select(col(queryIdCol).cast("long").as("q_id"), col("t"),
        col("bucket"), explode(array(masks.map(lit): _*)).as("m"))
      .select(col("q_id"), col("t"),
        col("bucket").bitwiseXOR(col("m")).as("bucket"))
    val joinCond =
      if (excludeSelf) col("vec_id") =!= col("q_id") else lit(true)
    val scoredRaw = cells.join(broadcast(probes), Seq("t", "bucket"))
      .where(joinCond)
      .join(broadcast(qn), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dotNative(col("qv"), col("v")) / (col("qn") * col("nrm")))
          .as("cos"))
    // within one table candidates are already unique (one bucket per
    // vector, pairwise-distinct probes); across tables the same pair
    // recurs with a BIT-IDENTICAL cos (same inputs, same expression),
    // so a distinct at candidate grain dedups exactly
    val scored = if (tables > 1) scoredRaw.distinct() else scoredRaw
    graft.queries.Embeddings.topkPerQuery(scored, k)
  }

  /** Two-stage int8-candidates / exact-re-rank cosine top-k (the q90
    * shape as a public op): stage 1 searches ONLY the symmetric-int8
    * quantized corpus (8× smaller than the doubles, the codegen'd
    * [[graft.functions.QuantizeExpr]] grid) for `c` candidates per
    * query; stage 2 fetches exact vectors for CANDIDATES ALONE
    * (broadcast semi-join — the full-precision corpus is never scanned
    * for scoring) and re-ranks to the final top-`k`. Recall is bounded
    * by `c` — audit with [[cosineTopK]] (the q70/q82 discipline). Zero
    * vectors carry no quantization scale and are excluded from stage 1;
    * for a zero QUERY vector that means NO output rows (where
    * [[cosineTopK]] would emit NaN-cosine rows) — cosine against a
    * zero vector is undefined either way. Output:
    * (q_id, vec_id, cos, rank). */
  def rerankTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
      c: Int = 50, idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "vec_id", queryVecCol: String = "embedding",
      excludeSelf: Boolean = false): DataFrame = {
    require(c >= k, s"candidate pool c=$c must be >= k=$k")
    val e = normalize(corpus, idCol, vecCol)
      .localCheckpoint() // read by the quantizer AND the exact fetch
    val nq = normalize(queries, queryIdCol, queryVecCol)
      .localCheckpoint() // read by the quantized probe AND the re-rank
    val qz = graft.queries.Embeddings.quantizedOf(e)
    val qq = graft.queries.Embeddings.quantizedOf(nq)
      .select(col("vec_id").as("q_id"), col("qv").as("qqv"),
        col("qn").as("qqn"))
      .localCheckpoint() // tiny; probe side of the stage-1 scan
    val joinCond =
      if (excludeSelf) col("vec_id") =!= col("q_id") else lit(true)
    val cand = graft.queries.Embeddings.topkPerQuery(
        qz.join(broadcast(qq), joinCond)
          .select(col("q_id"), col("vec_id"),
            (dotNative(col("qqv"), col("qv")) / (col("qqn") * col("qn")))
              .as("cos")), c)
      .select(col("q_id"), col("vec_id"))
      .localCheckpoint() // ≤ c·|queries| rows; fetch probe + spine
    val fetch = e.join(
      broadcast(cand.select(col("vec_id")).distinct()),
      Seq("vec_id"), "left_semi")
    val eq = nq
      .select(col("vec_id").as("q_id"), col("v").as("ev"),
        col("nrm").as("en"))
    val scored = cand
      .join(fetch, Seq("vec_id"))
      .join(broadcast(eq), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dotNative(col("ev"), col("v")) / (col("en") * col("nrm")))
          .as("cos"))
    graft.queries.Embeddings.topkPerQuery(scored, k)
  }

  /** Margin-based mutual-kNN pair mining over two embedding sides —
    * the parallel-corpus / cross-source alignment criterion of Artetxe
    * & Schwenk ("Margin-based Parallel Corpus Mining with Multilingual
    * Sentence Embeddings", arXiv:1811.01136; the CCMatrix recipe):
    * raw cosine overrates "hub" vectors that are close to everything,
    * so each candidate pair is scored by its RATIO margin —
    * cos(x, y) / ((mean_k cos(x, kNN_Y(x)) + mean_k cos(y, kNN_X(y))) / 2)
    * — and a pair is emitted only when it is MUTUAL (x's top-1 in Y is
    * y AND y's top-1 in X is x) with margin ≥ `tau`. Output: (x_id,
    * y_id, cos, margin), at most one pair per x and per y.
    *
    * This form is the exact brute-force baseline ([[cosineTopK]] both
    * directions — |X|·|Y| pair cosines, query side broadcast). At
    * 100 TB mine through [[marginPairsOf]] instead, feeding it any
    * retrieval op's top-k frames ([[ivfTopK]], [[pqTopK]],
    * [[ivfPqTopK]] over persisted artifacts) — the margin criterion
    * only needs the two top-k lists, so the ANN family's cell-pruned /
    * compressed scans carry the mining cost, exactly like FAISS under
    * CCMatrix. */
  def marginPairs(x: DataFrame, y: DataFrame, k: Int = 4,
      tau: Double = 1.05, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    marginPairsOf(
      cosineTopK(y, x, k, idCol, vecCol, idCol, vecCol),
      cosineTopK(x, y, k, idCol, vecCol, idCol, vecCol), k, tau)

  /** [[marginPairs]] over PRECOMPUTED directional top-k frames —
    * `xy` = X queried against corpus Y, `yx` = Y queried against
    * corpus X, both in the retrieval-family shape (q_id, vec_id, cos,
    * rank) with rank 1 the best (any of [[cosineTopK]] / [[ivfTopK]] /
    * [[pqTopK]] / [[ivfPqTopK]] emits it). Ranks beyond `k` are
    * ignored, so a deeper retrieval pass can be reused. Determinism:
    * the k-NN mean folds the per-rank cosines in FIXED rank order (a
    * rank-pivot aggregate, not a float `avg` whose merge order floats
    * with partitioning), so margins are bit-stable and oracle-exact.
    *
    * Scale shape: means and top-1 frames are one map-side-combinable
    * aggregate / filter over the top-k rows (≤ k·|side| rows, never
    * the corpus); the mutual join and the two mean joins are narrow
    * id-keyed equi-joins. Nothing here touches raw vectors — the
    * retrieval stage already paid that cost. */
  def marginPairsOf(xy: DataFrame, yx: DataFrame, k: Int = 4,
      tau: Double = 1.05): DataFrame =
    marginPairsOfImpl(xy, yx, k, tau, capture = false)

  /** [[marginPairsOf]] with the q131 plan-pin capture of the two
    * directional ranking plans (pre-checkpoint) — `capture` costs two
    * extra executedPlan compilations and a shared @volatile write, so
    * ONLY the q131 binding/spec turns it on (the boilerScoreImpl
    * capture-flag convention). */
  private[graft] def marginPairsOfImpl(xy: DataFrame, yx: DataFrame,
      k: Int, tau: Double, capture: Boolean): DataFrame = {
    require(k >= 1, s"need k >= 1 (got $k)")
    require(tau >= 0.0, s"need tau >= 0 (got $tau)")
    if (capture) lastMarginPlans =
      xy.queryExecution.executedPlan.toString +
        "\n-- yx --\n" + yx.queryExecution.executedPlan.toString
    val xyC = xy.localCheckpoint() // read by the mean agg AND top-1
    val yxC = yx.localCheckpoint()
    val mx = knnMean(xyC, k, "x_id", "mean_x")
    val my = knnMean(yxC, k, "y_id", "mean_y")
    val t1x = xyC.where(col("rank") === 1)
      .select(col("q_id").as("x_id"), col("vec_id").as("y_id"),
        col("cos"))
    val t1y = yxC.where(col("rank") === 1)
      .select(col("vec_id").as("x_id"), col("q_id").as("y_id"))
    t1x.join(t1y, Seq("x_id", "y_id"))
      .join(mx, "x_id").join(my, "y_id")
      .select(col("x_id"), col("y_id"), col("cos"),
        (col("cos") / ((col("mean_x") + col("mean_y")) / 2))
          .as("margin"))
      .where(col("margin") >= tau)
  }

  /** [[marginPairs]] in its crawl-batch form: mine a (small) new batch
    * against a (large) frozen corpus — the per-crawl alignment job a
    * deployment actually runs. Both directional top-k frames derive
    * from ONE pair construction — the corpus scan joined against the
    * BROADCAST batch — ranked twice (per batch vector over the corpus,
    * per corpus vector over the batch), each ranking a mergeable
    * map-side TopK aggregate (k·|tasks| rows shuffle, never the pair
    * frame). The pair frame itself is never materialized: the two
    * rankings re-run the scan (two corpus passes per batch, both
    * embarrassingly parallel) rather than checkpointing a
    * |corpus|·|batch| intermediate that cannot exist at 100 TB.
    * `corpus` is typically the persisted normalized payload read back
    * from an artifact (the q131 binding ensures it via the public
    * [[normalize]] frame definition), so raw old embeddings are never
    * re-read. Output: (x_id = batch id, y_id = corpus id, cos,
    * margin), mutual top-1 only, margin ≥ `tau`. */
  def marginPairsBatch(corpus: DataFrame, batch: DataFrame, k: Int = 4,
      tau: Double = 1.05, idCol: String = "vec_id",
      vecCol: String = "embedding", batchIdCol: String = "vec_id",
      batchVecCol: String = "embedding"): DataFrame =
    marginPairsBatchImpl(corpus, batch, k, tau, idCol, vecCol,
      batchIdCol, batchVecCol, capture = false)

  /** [[marginPairsBatch]] with the q131 plan-pin capture (see
    * [[marginPairsOfImpl]]). */
  private[graft] def marginPairsBatchImpl(corpus: DataFrame,
      batch: DataFrame, k: Int, tau: Double, idCol: String,
      vecCol: String, batchIdCol: String, batchVecCol: String,
      capture: Boolean): DataFrame = {
    require(k >= 1, s"need k >= 1 (got $k)")
    require(tau >= 0.0, s"need tau >= 0 (got $tau)")
    val y = normalize(corpus, idCol, vecCol)
    val x = normalize(batch, batchIdCol, batchVecCol)
      .select(col("vec_id").as("x_id"), col("v").as("xv"),
        col("nrm").as("xn"))
      .localCheckpoint() // the broadcast side; scanned by both rankings
    val scored = y.join(broadcast(x), lit(true))
      .select(col("x_id"), col("vec_id").as("y_id"),
        (dotNative(col("xv"), col("v")) / (col("xn") * col("nrm")))
          .as("cos"))
    val xy = graft.queries.Embeddings.topkPerQuery(
      scored.select(col("x_id").as("q_id"), col("y_id").as("vec_id"),
        col("cos")), k)
    val yx = graft.queries.Embeddings.topkPerQuery(
      scored.select(col("y_id").as("q_id"), col("x_id").as("vec_id"),
        col("cos")), k)
    marginPairsOfImpl(xy, yx, k, tau, capture)
  }

  /** Physical plans of the two directional rankings (captured
    * pre-checkpoint when `capture` is on), for the q131 plan pin: the
    * corpus side is the persisted payload scan with the batch
    * broadcast against it, both rankings mergeable aggregates. */
  @volatile private[graft] var lastMarginPlans: String = ""

  /** Fixed-order k-NN cosine mean per query: one rank-pivot aggregate
    * (max over the single row at each rank), then a left-to-right sum
    * over the k pivots divided by the present count — bit-identical
    * under any partitioning and to the oracle's identical fold. */
  private def knnMean(topk: DataFrame, k: Int, outId: String,
      outMean: String): DataFrame = {
    val picks = (1 to k).map(i =>
      max(when(col("rank") === i, col("cos"))).as(s"c$i"))
    val total = (1 to k).map(i => coalesce(col(s"c$i"), lit(0.0d)))
      .reduce(_ + _)
    val n = (1 to k).map(i =>
      when(col(s"c$i").isNotNull, 1).otherwise(0)).reduce(_ + _)
    topk.groupBy(col("q_id")).agg(picks.head, picks.tail: _*)
      .select(col("q_id").as(outId), (total / n.cast("double"))
        .as(outMean))
  }

  /** Product-quantization (PQ) two-stage cosine top-k — the FAISS-style
    * IVFPQ compressed-index design re-expressed as DataFrames: the
    * vector dimension splits into `m` subspaces, each learns its own
    * `ksub`-centroid codebook (the engine's deterministic fixed-point
    * k-means — bit-stable under any partitioning), and every corpus
    * vector compresses to `m` small codes. Stage 1 scans ONLY the code
    * table with asymmetric-distance computation (ADC): per query, an
    * `m`·`ksub`-entry partial-dot table broadcasts, each corpus row's
    * approximate score is `m` table lookups summed in fixed expression
    * order (bit-stable — no shuffle-order float sums), and the top-`c`
    * candidates surface through the mergeable TopK aggregate. Stage 2
    * fetches exact vectors for candidates ALONE (broadcast semi-join)
    * and re-ranks to the final top-`k` by exact cosine.
    *
    * Scale shape (100 TB): the scanned index is `m` smallints per
    * vector — for m=8 on 64-dim floats, 32× smaller than the raw
    * vectors — so the stage-1 scan is bandwidth-light and embarrassingly
    * parallel; the per-query tables are |q|·m·ksub rows (broadcast);
    * nothing pairwise ever shuffles, and the exact corpus is touched
    * only for ≤ c·|q| candidate rows. Compose with [[ivfTopK]]'s cell
    * partitioning to prune the code scan itself (IVF routes, PQ
    * compresses — orthogonal levers). Codes are learned on the RAW
    * vectors (ADC approximates the raw dot product); ranking within a
    * query is unaffected by the query's own norm, and stage 2 re-ranks
    * by exact cosine, so norm spread in the corpus costs recall (tune
    * `c`), never correctness of the surfaced ranking. Recall audits:
    * [[cosineTopK]] ground truth (the q70 discipline).
    * Output: (q_id, vec_id, cos, rank). */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
      m: Int = 4, ksub: Int = 16, iters: Int = 3, c: Int = 50,
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "vec_id", queryVecCol: String = "embedding",
      excludeSelf: Boolean = false): DataFrame = {
    require(c >= k, s"candidate pool c=$c must be >= k=$k")
    val e = normalize(corpus, idCol, vecCol)
      .localCheckpoint() // codebook training + codes + exact fetch
    val sub = subDimOf(e, m)
    val q = normalize(queries, queryIdCol, queryVecCol)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"))
      .localCheckpoint() // ADC tables + the exact re-rank
    val cb = pqCodebooksOf(e, m, sub, ksub, iters)
    val codes = pqEncodeOf(e, cb, m, sub).localCheckpoint()
    pqSearchOf(codes, cb, e, q, k, c, m, sub, excludeSelf)
  }

  /** The per-subspace PQ codebook frame — (sub, cid, cv, cn), m·ksub
    * rows: subspace `sub`'s `ksub` centroids over the corpus's
    * `slice(v, sub·d/m+1, d/m)` subvectors, trained by the engine's
    * deterministic fixed-point k-means. This IS the frozen-index frame
    * definition the q120 snapshot builder persists — the session op
    * ([[pqTopK]]) derives through the same code, so artifact and
    * in-session answers cannot drift. */
  def pqCodebooks(corpus: DataFrame, m: Int = 4, ksub: Int = 16,
      iters: Int = 3, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val e = normalize(corpus, idCol, vecCol).localCheckpoint()
    pqCodebooksOf(e, m, subDimOf(e, m), ksub, iters)
  }

  /** PQ-encode a corpus against trained codebooks: one narrow row per
    * vector holding all m codes — (vec_id, c0..c{m-1}), the compressed
    * index (m·log2(ksub) bits of information per vector). */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame, m: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val e = normalize(corpus, idCol, vecCol).localCheckpoint()
    pqEncodeOf(e, codebooks.localCheckpoint(), m, subDimOf(e, m))
  }

  /** Search FROZEN PQ artifacts: ADC stage 1 over a persisted code
    * table + codebooks, exact re-rank against a persisted exact-payload
    * frame (vec_id, v, nrm — [[normalize]]'s layout). The incremental
    * crawl-loop form (q120): per batch, cost is the code-table scan
    * (m smallints/vector) + ≤ c·|queries| exact fetches — raw corpus
    * vectors are never scanned for scoring. Output:
    * (q_id, vec_id, cos, rank). */
  def pqSearch(codes: DataFrame, codebooks: DataFrame, exact: DataFrame,
      queries: DataFrame, k: Int = 10, c: Int = 50, m: Int = 4,
      queryIdCol: String = "vec_id", queryVecCol: String = "embedding",
      probes: Option[DataFrame] = None): DataFrame =
    pqSearchImpl(codes, codebooks, exact, queries, k, c, m, queryIdCol,
      queryVecCol, capture = false, probes = probes)

  /** IVF cell assignment of a corpus against a (frozen) centroid table
    * (cid, cv, cn) — (vec_id, cell), the routing column a persisted
    * code table partitions by. Single definition: the q123 artifact
    * builder and [[ivfPqTopK]]'s in-session routing share it. */
  def assignCells(corpus: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    graft.queries.Embeddings.kmAssignSlim(
        normalize(corpus, idCol, vecCol), centroids)
      .select(col("vec_id"), col("cid").as("cell"))

  /** Each query's `nprobe` best cells against a (frozen) centroid
    * table — (q_id, cell), the probe frame [[pqSearch]] takes to
    * restrict the code scan (IVF routing). */
  def cellProbes(queries: DataFrame, centroids: DataFrame,
      nprobe: Int = 2, queryIdCol: String = "vec_id",
      queryVecCol: String = "embedding"): DataFrame =
    cellProbesOf(normalize(queries, queryIdCol, queryVecCol)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn")), centroids, nprobe)

  private def cellProbesOf(q: DataFrame, cents: DataFrame,
      nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"need nprobe >= 1 (got $nprobe)")
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("qsim").desc, col("cid"))
    q.join(broadcast(cents), lit(true))
      .select(col("q_id"), col("cid"),
        (dotNative(col("qv"), col("cv")) -
          lit(0.5d) * (col("cn") * col("cn"))).as("qsim"))
      .withColumn("rnk", row_number().over(wProbe))
      .where(col("rnk") <= nprobe)
      .select(col("q_id"), col("cid").as("cell"))
  }

  /** [[pqSearch]] with the q120 plan-pin capture (the boilerScore
    * capture-flag convention: only the q120 binding/spec pays the
    * extra plan compilations). */
  private[graft] def pqSearchImpl(codes: DataFrame, codebooks: DataFrame,
      exact: DataFrame, queries: DataFrame, k: Int, c: Int, m: Int,
      queryIdCol: String, queryVecCol: String, capture: Boolean,
      probes: Option[DataFrame] = None): DataFrame = {
    require(c >= k, s"candidate pool c=$c must be >= k=$k")
    val qLazy = normalize(queries, queryIdCol, queryVecCol)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    // the query scan and the codebook read truncate behind
    // localCheckpoint below, so the plan pin captures them HERE
    if (capture) lastPqSearchPlans =
      qLazy.queryExecution.executedPlan.toString +
        "\n-- codebooks --\n" +
        codebooks.queryExecution.executedPlan.toString
    val q = qLazy.localCheckpoint()
    val sub = subDimOf(q.select(col("q_id").as("vec_id"),
      col("qv").as("v"), col("qn").as("nrm")), m)
    pqSearchOf(codes, codebooks.localCheckpoint(), exact, q, k, c, m,
      sub, excludeSelf = false, capture = capture,
      probes = probes.map(_.localCheckpoint()))
  }

  /** Physical plans of the frozen-PQ search's ADC stage (lookup-table
    * build + candidate generation) and exact fetch, captured
    * pre-checkpoint when the capture flag is on — the q120 plan pin:
    * stage 1 reads codebook + code artifacts only (batch cut pushed),
    * raw vectors surface solely through the candidate-pruned fetch. */
  @volatile private[graft] var lastPqSearchPlans: String = ""

  /** The full IVFPQ composition — IVF routes, PQ compresses, in one
    * operator: a trained `nlist`-cell router (the engine's
    * deterministic k-means over full vectors) assigns every corpus
    * vector a cell; each query probes its `nprobe` best cells and the
    * ADC stage scans ONLY the probed cells' codes. At 100 TB the two
    * levers multiply: the scan reads nprobe/nlist of the corpus, at
    * m smallints per vector — FAISS's billion-scale default shape,
    * here as a declarative plan (cell-partition the persisted code
    * table and the probe join prunes partitions, the q78/q110
    * machinery). Recall compounds router misses with quantization
    * misses — audit against [[cosineTopK]] like everything else.
    * Output: (q_id, vec_id, cos, rank). */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
      nlist: Int = 8, nprobe: Int = 2, m: Int = 4, ksub: Int = 16,
      iters: Int = 3, c: Int = 50,
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "vec_id", queryVecCol: String = "embedding",
      excludeSelf: Boolean = false): DataFrame = {
    require(nlist >= 1 && nprobe >= 1,
      s"need nlist/nprobe >= 1 (got $nlist/$nprobe)")
    require(c >= k, s"candidate pool c=$c must be >= k=$k")
    val e = normalize(corpus, idCol, vecCol)
      .localCheckpoint() // router + codebooks + codes + exact fetch
    val sub = subDimOf(e, m)
    val cents = graft.queries.Embeddings.kmeansCentroids(e, nlist,
      iters, capture = false)
    val cells = graft.queries.Embeddings.kmAssignSlim(e, cents)
      .select(col("vec_id"), col("cid").as("cell"))
    val cb = pqCodebooksOf(e, m, sub, ksub, iters)
    val codes = pqEncodeOf(e, cb, m, sub).join(cells, Seq("vec_id"))
      .localCheckpoint() // the cell-routed compressed index
    val q = normalize(queries, queryIdCol, queryVecCol)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"))
      .localCheckpoint() // probes + ADC tables + the exact re-rank
    val probes = cellProbesOf(q, cents, nprobe)
      .localCheckpoint() // nprobe rows per query
    pqSearchOf(codes, cb, e, q, k, c, m, sub, excludeSelf,
      probes = Some(probes))
  }

  /** Metadata-grain dimension probe (+ m-divides + ragged check):
    * ragged vectors would slice silently wrong, so they fail here. */
  private def subDimOf(e: DataFrame, m: Int): Int = {
    require(m >= 1, s"need m >= 1 (got $m)")
    val dims = e.agg(min(size(col("v"))).as("mn"),
      max(size(col("v"))).as("mx")).head()
    require(!dims.isNullAt(1),
      "PQ needs a non-empty vector frame (no rows to probe a dimension from)")
    val dim = dims.getInt(1)
    require(dims.getInt(0) == dim,
      s"ragged vector lengths (${dims.getInt(0)}..$dim) — PQ needs one " +
        "dimension")
    require(dim % m == 0, s"m=$m must divide the vector dimension $dim")
    dim / m
  }

  /** Subspace j's (vec_id, v, nrm) slice frame off a normalized corpus. */
  private def pqSliceOf(e: DataFrame, j: Int, sub: Int): DataFrame =
    e.select(col("vec_id"), slice(col("v"), j * sub + 1, sub).as("v"))
      .select(col("vec_id"), col("v"),
        sqrt(dotNative(col("v"), col("v"))).as("nrm"))

  private def pqCodebooksOf(e: DataFrame, m: Int, sub: Int, ksub: Int,
      iters: Int): DataFrame = {
    require(ksub >= 1 && iters >= 1,
      s"need ksub/iters >= 1 (got $ksub/$iters)")
    // the m codebooks are independent small jobs — train them
    // CONCURRENTLY (each k-means iteration is an eager checkpointed
    // action, so serial training pays m·(iters+1) sequential job
    // launches of mostly fixed overhead; overlapping them cut q117's
    // wall ~2× at test SFs and the results are identical — each
    // subspace's arithmetic is self-contained and deterministic)
    Par.scope(e.sparkSession, "pq-train") { p =>
      (0 until m).map { j =>
        p.async(s"sub$j")(graft.queries.Embeddings.kmeansCentroids(
            pqSliceOf(e, j, sub).localCheckpoint(), ksub, iters,
            capture = false)
          .select(lit(j).as("sub"), col("cid"), col("cv"), col("cn")))
      }.map(_.get).reduce(_ unionByName _)
    }
  }

  private def pqEncodeOf(e: DataFrame, cb: DataFrame, m: Int,
      sub: Int): DataFrame = {
    Par.scope(e.sparkSession, "pq-encode") { p =>
      (0 until m).map { j =>
        // the slice feeds ONE assignment pass — no checkpoint needed
        // (training slices checkpoint because k-means re-reads them);
        // the m assignments are independent — overlap them like training
        p.async(s"sub$j")(
          graft.queries.Embeddings.kmAssignSlim(pqSliceOf(e, j, sub),
              cb.where(col("sub") === j)
                .select(col("cid"), col("cv"), col("cn")))
            .select(col("vec_id"), col("cid").as(s"c$j"))
            .localCheckpoint()) // the compressed index slice: 1 code/vector
      }.map(_.get).reduce(_.join(_, Seq("vec_id")))
    }
  }

  /** ADC + exact re-rank over (codes, codebooks, exact) frames —
    * shared by the session op and the frozen-artifact search. */
  private def pqSearchOf(codes: DataFrame, cb: DataFrame,
      exact: DataFrame, q: DataFrame, k: Int, c: Int, m: Int, sub: Int,
      excludeSelf: Boolean, capture: Boolean = false,
      probes: Option[DataFrame] = None): DataFrame = {
    val tabLazies = (0 until m).map { j =>
      q.select(col("q_id"), slice(col("qv"), j * sub + 1, sub).as("qs"))
        .join(broadcast(cb.where(col("sub") === j)
          .select(col("cid"), col("cv"))), lit(true))
        .select(col("q_id"), col("cid").as(s"c$j"),
          dotNative(col("qs"), col("cv")).as(s"p$j"))
    }
    val tabs = tabLazies
      .map(_.localCheckpoint()) // |q|·ksub rows — the ADC lookup table
    // IVF routing (when probes are given): the code scan restricts to
    // each query's probed cells BEFORE any lookup — codes must carry a
    // `cell` column, and every later join pins q_id
    val routed = probes.map(p =>
      codes.join(broadcast(p), Seq("cell"))).getOrElse(codes)
    // ADC: m broadcast lookups; approx = p0 + p1 + … in FIXED order
    val looked = tabs.zipWithIndex.foldLeft(routed) {
      case (acc, (tab, j)) =>
        acc.join(broadcast(tab),
          if (j == 0 && probes.isEmpty) Seq(s"c$j")
          else Seq(s"c$j", "q_id"))
    }
    val selfCond =
      if (excludeSelf) col("vec_id") =!= col("q_id") else lit(true)
    val approx = looked.where(selfCond)
      .select(col("q_id"), col("vec_id"),
        (0 until m).map(j => col(s"p$j")).reduce(_ + _).as("cos"))
    val candLazy = graft.queries.Embeddings.topkPerQuery(approx, c)
      .select(col("q_id"), col("vec_id"))
    val cand = candLazy
      .localCheckpoint() // ≤ c·|q| rows; fetch probe + re-rank spine
    val fetch = exact.join(
      broadcast(cand.select(col("vec_id")).distinct()),
      Seq("vec_id"), "left_semi")
    if (capture) lastPqSearchPlans +=
      "\n-- cand --\n" + candLazy.queryExecution.executedPlan.toString +
        "\n-- fetch --\n" + fetch.queryExecution.executedPlan.toString
    val scored = cand
      .join(fetch, Seq("vec_id"))
      .join(broadcast(q.select(col("q_id"), col("qv"), col("qn"))),
        Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dotNative(col("qv"), col("v")) / (col("qn") * col("nrm")))
          .as("cos"))
    graft.queries.Embeddings.topkPerQuery(scored, k)
  }

  /** SemDeDup keep/drop labeling: k-means clusters, then an ε-ball
    * dominance pass WITHIN each cluster — a vector is dropped iff a
    * lower-id cluster-mate sits at cosine ≥ `tau` (one matrix pass, no
    * transitivity bookkeeping, matching reference SemDeDup semantics —
    * see the q81 entry docs). Pairwise work is Σ|cluster|²: grow `k`
    * with N to hold expected cluster size constant, and `maxCluster`
    * (the `graft.semdedup.maxCluster` default unless given) caps
    * degenerate clusters LOUDLY (DedupGuard counters; capped members
    * surface as kept). Output: (<id>, cluster, kept, dropped_by). */
  def semdedupKeep(emb: DataFrame, k: Int, iters: Int, tau: Double,
      maxCluster: Int = Conf.SemdedupMaxCluster.default,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val s = emb.sparkSession
    val e = normalize(emb, idCol, vecCol).localCheckpoint()
    val cents = graft.queries.Embeddings.kmeansCentroids(e, k, iters,
      capture = false)
    val km = graft.queries.Embeddings.kmAssign(e, cents)
      .select(col("vec_id"), col("cid").as("cluster"), col("v"),
        col("nrm"))
      .localCheckpoint() // cap scan + both pairwise sides + final left join
    val capped = Dedup.capBuckets(km, Seq("cluster"), s,
      "semdedup clusters", maxCluster)
    val b = capped.select(col("vec_id").as("b_id"), col("cluster"),
      col("v").as("bv"), col("nrm").as("bn"))
    val dom = capped.join(b, Seq("cluster"))
      .where(col("b_id") < col("vec_id") &&
        (dotNative(col("v"), col("bv")) / (col("nrm") * col("bn")))
          >= lit(tau))
      .groupBy(col("vec_id")).agg(min(col("b_id")).as("dropped_by"))
    km.select(col("vec_id"), col("cluster"))
      .join(dom, Seq("vec_id"), "left")
      .select(col("vec_id").as(idCol), col("cluster"),
        col("dropped_by").isNull.as("kept"), col("dropped_by"))
  }

  /** Per-dimension embedding health report — the QA pass run before
    * trusting a vector column at scale: per coordinate, count, mean,
    * (quantized) population variance, min/max, and a `dead` flag for
    * constant dimensions (the classic symptom of a truncated or
    * mis-strided encode). Exactness discipline: each component
    * quantizes to 24-bit fixed point (`floor(x·2^24)` — double×2^24
    * is an exponent shift, floor exact), sums and sums-of-squares
    * accumulate as EXACT decimal(38,0) integers (no float
    * accumulation order anywhere; |x| < 128 and n < 1e10 keep every
    * product inside 38 digits), and mean/variance are single
    * correctly-rounded conversions + divisions at the end — the
    * variance is the variance OF THE QUANTIZED values (documented;
    * quantization bias is < 2^−24·range, irrelevant for a health
    * report and exactly reproducible in the oracle). min/max compare
    * raw doubles (exact). Scale shape: one generator posexplode —
    * (dim, x) rows shuffle once into a |dims|-key map-side-combinable
    * aggregate; nothing is per-vector stateful. Output: (dim 1-based,
    * n, mean, var_q, min_x, max_x, dead). */
  def dimStats(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    dimStatsFinalize(dimStatsFrame(emb, idCol, vecCol))

  /** The MERGEABLE accumulator form of [[dimStats]] — the artifact a
    * crawl loop persists: per dimension the raw exact state (n, sfp,
    * ssq as decimal(38,0) fixed-point sums, raw-double min/max).
    * Because every field is an exact integer/decimal sum or a min/max,
    * the merge ([[dimStatsMerge]]) is associative, commutative and
    * LOSSLESS: merging any partition of the corpus — snapshot +
    * batches, in any order — reproduces the from-scratch frame
    * bit-for-bit. Output: (dim, n, sfp, ssq, min_x, max_x). */
  def dimStatsFrame(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val sc = 16777216.0d // 2^24
    emb
      .select(posexplode(col(vecCol).cast("array<double>"))
        .as(Seq("p", "x")))
      .select((col("p") + 1).cast("long").as("dim"), col("x"),
        floor(col("x") * lit(sc)).cast("long").as("xfp"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("xfp").cast("decimal(38,0)")).as("sfp"),
        sum((col("xfp").cast("decimal(38,0)") *
          col("xfp").cast("decimal(38,0)"))).as("ssq"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"))
  }

  /** Merge two [[dimStatsFrame]] accumulator frames (e.g. the
    * persisted snapshot artifact + a fresh batch frame) into one —
    * exact component-wise sums/min/max per dimension; no float
    * arithmetic anywhere, so the result equals the from-scratch frame
    * over the union of the inputs' rows. */
  def dimStatsMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("dim"))
      .agg(sum(col("n")).as("n"), sum(col("sfp")).as("sfp"),
        sum(col("ssq")).as("ssq"),
        min(col("min_x")).as("min_x"), max(col("max_x")).as("max_x"))

  /** Finalize a [[dimStatsFrame]] accumulator frame into the
    * [[dimStats]] report shape — the only step with float division,
    * applied once per dimension at the very end. */
  def dimStatsFinalize(frame: DataFrame): DataFrame = {
    val sc = 16777216.0d // 2^24
    val sc2 = 281474976710656.0d // 2^48
    frame.select(col("dim"), col("n"),
      (col("sfp").cast("double") / (col("n").cast("double") * sc))
        .as("mean"),
      ((col("n").cast("decimal(38,0)") * col("ssq") -
        col("sfp") * col("sfp")).cast("double") /
        (col("n").cast("double") * col("n").cast("double") * sc2))
        .as("var_q"),
      col("min_x"), col("max_x"),
      (col("min_x") === col("max_x")).as("dead"))
  }

  /** Exact rank-quantile L2-norm outlier flagging — the embedding-side
    * sanity filter (degenerate/zero vectors and runaway magnitudes are
    * the classic symptoms of failed encodes): every vector gets its
    * EXACT global rank in the (nrm, id) total order, the bottom
    * `loPct`% flag "low", the top (100−`hiPct`)% flag "high". Rank
    * quantiles (not value thresholds) make the flags
    * distribution-free and deterministic — no percentile
    * interpolation arithmetic to drift between engines.
    *
    * Scale shape: the global order comes from a RANGE partitioning +
    * per-partition window + broadcast offsets — the q63 two-level
    * prefix discipline pointed at a sort key instead of a hash shard:
    * one range-shuffle of narrow (id, nrm) rows, per-partition
    * row_numbers (each window sees one partition, never the corpus),
    * and a ≤|partitions|-row driver read for the offsets. No
    * single-partition global window anywhere. Partition boundaries
    * come from Spark's range sampler, but ranks are
    * boundary-invariant (offset + within-partition position in the
    * same total order), so the output is deterministic under any
    * sampling. Output: (<id>, nrm, rank, flag ∈ low|keep|high). */
  /** Exact fixed-point PCA — top-`k` principal components by power
    * iteration with deflation, in the engine's deterministic grade:
    * NOTHING here depends on float summation order. The corpus
    * contributes exactly two aggregates (per-dim sums Sᵢ and pair
    * sums Sᵢⱼ over the dimStats 2^24 grid, both exact decimal(38)
    * sums); the scaled Gram G = n·Sᵢⱼ − Sᵢ·Sⱼ (= n²·covariance,
    * EXACT integers, no mean division) is a d²-cell metadata-grain
    * matrix the driver iterates with BigInt arithmetic: rescale to
    * 20-bit fixed point against max|G|, then `iters` rounds of
    * matvec → downshift → one correctly-rounded IEEE sqrt (the q142
    * sqrt rule: identical in every engine for identical integer
    * input) → fixed-point renormalize; Rayleigh λ and rank-1
    * deflation stay in exact integers (all divisions are
    * sign-handled floor-on-magnitude, so `div`-vs-`//` truncation
    * semantics can never diverge across engines). Convergence is the
    * usual power-iteration story (gap-dependent); the CONTRACT is
    * the kmeans one — the output is defined as the result of exactly
    * `iters` deterministic rounds, bit-equal under any partitioning
    * and in the DuckDB oracle.
    *
    * Output: (comp, dim, w_fp, lam_fp) — comp 0 carries the
    * fixed-point dimension means (lam_fp = n, the corpus count);
    * comps 1..k the component directions at 2^20 scale with their
    * Rayleigh eigenvalue (in rescaled-Gram units).
    *
    * Scale shape: ONE corpus pass for Sᵢ (posexplode + |dims|-key
    * map-side aggregate) and one vid-keyed self-join pass for Sᵢⱼ
    * (output collapses into d(d+1)/2 groups immediately — the d²/2
    * per-row products are PCA's inherent cost); everything after is
    * driver-side BigInt on a d×d matrix (d ≤ 512 ⇒ ≤ 256k cells). */
  def pca(emb: DataFrame, k: Int = 2, iters: Int = 6,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    // literally its own documented identity — ONE definition of the
    // corpus statistics ([[pcaFrame]]) and one of the driver math
    pcaFromFrame(pcaFrame(emb, idCol, vecCol), k, iters)

  /** The MERGEABLE accumulator form of [[pca]] — the artifact a crawl
    * loop persists (the dimStatsFrame discipline applied to the Gram):
    * one row per statistic, every value an EXACT decimal(38,0) sum —
    * (0, 0) carries n, (0, j) the per-dim sums Sⱼ, (i, j) with
    * 1 ≤ i ≤ j the pair sums Sᵢⱼ. Because every cell is an exact sum,
    * [[pcaMerge]] is associative, commutative and LOSSLESS: merging
    * any partition of the corpus — snapshot + batches, in any order —
    * reproduces the from-scratch frame bit-for-bit, so
    * [[pcaFromFrame]] over the merged artifact equals from-scratch
    * [[pca]] exactly (the q147 argument). */
  def pcaFrame(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val s = emb.sparkSession
    val sc = 16777216.0d // 2^24
    // ONE source scan: posexplode_outer keeps empty arrays as a single
    // null-position row so the raggedness guard below still sees them
    // (size 0), while NULL vectors stay excluded up front (the pre-r14
    // behavior — under the legacy sizeOfNull they would otherwise read
    // as size −1 and false-trip the check).
    val f0 = emb.where(col(vecCol).isNotNull)
      .repartition(s.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol).as("__vid"),
        posexplode_outer(col(vecCol).cast("array<double>"))
          .as(Seq("p", "xv")))
      .localCheckpoint() // read by the guard and by n, Si, Sij
    // contract check at the single entry of every PCA form: ragged
    // (mixed-length) vectors would SILENTLY skew the Gram — each cell
    // would sum over a different effective n — rather than crash, so
    // they must be rejected here, not discovered as wrong components.
    // Derived from the already-checkpointed explode (count of positions
    // per vector = its length), NOT a second scan of the source: the
    // r14 guard ran its own eager min/max(size) aggregate over the full
    // embedding frame — a separate corpus pass per call.
    val szs = f0.groupBy(col("__vid"))
      .agg(count(col("p")).as("sz"))
      .agg(min(col("sz")).as("mn"), max(col("sz")).as("mx")).head()
    if (!szs.isNullAt(0))
      require(szs.getLong(0) == szs.getLong(1),
        s"vectors must have uniform dimensionality: $vecCol lengths " +
          s"range ${szs.getLong(0)}..${szs.getLong(1)} — pad or filter " +
          "ragged embedding arrays before graft.ops.Embed.pca*")
    val f = f0.where(col("p").isNotNull)
      .select(col("__vid"), (col("p") + 1).cast("long").as("d"),
        floor(col("xv") * lit(sc)).cast("long").as("xfp"))
    val n = f.select(col("__vid")).distinct()
      .agg(count(lit(1)).cast("decimal(38,0)").as("sv"))
      .select(lit(0L).as("i"), lit(0L).as("j"), col("sv"))
    val si = f.groupBy(col("d"))
      .agg(sum(col("xfp").cast("decimal(38,0)")).as("sv"))
      .select(lit(0L).as("i"), col("d").as("j"), col("sv"))
    val a = f.select(col("__vid"), col("d").as("i"),
      col("xfp").as("xi"))
    val b = f.select(col("__vid"), col("d").as("j"),
      col("xfp").as("xj"))
    val sij = a.join(b, Seq("__vid")).where(col("i") <= col("j"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("xi").cast("decimal(38,0)") *
        col("xj").cast("decimal(38,0)")).as("sv"))
    n.unionByName(si).unionByName(sij)
  }

  /** Merge two [[pcaFrame]] accumulator frames — exact cell-wise
    * sums; no float arithmetic anywhere.
    *
    * CONTRACT: both frames must come from corpora of the SAME
    * dimensionality. A mixed-d merge is not detectable downstream
    * (every cell of the union exists, but low-d cells sum over a
    * different effective n than high-d cells) and silently skews the
    * Gram — [[pcaFrame]]'s uniform-dimensionality check guards each
    * side at build time; keep artifacts dimension-keyed. */
  def pcaMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("i"), col("j"))
      .agg(sum(col("sv")).as("sv"))

  /** [[pcaFrame]] fed from SPARSE cells — the accumulator for matrices
    * (PPMI co-occurrence, tf-idf, one-hot features) whose rows are
    * mostly zero, where materializing dense `array<double>` vectors
    * would square the vocabulary for nothing. `cells` holds the
    * NONZERO entries of an `nVecs`×`d` matrix, already on an integer
    * grid (for the word-vector family: xfp = L·2¹⁴, the exact 2²⁴
    * quantization of L/2¹⁰ — see [[graft.ops.Text.ppmiCells]]).
    *
    * Contract: at most one cell per (id, dim); dims in 1..`d`; ids
    * with NO cells are legal (all-zero rows — they contribute nothing
    * to any sum but DO count toward the mean centering, which is why
    * `nVecs` is explicit rather than counted from the cells). Output
    * is the exact accumulator frame shape of [[pcaFrame]] — (0,0,n),
    * every (0,j,Sⱼ) zero-filled, and only the NONZERO (i,j,Sᵢⱼ) pair
    * sums (the driver treats missing pairs as 0) — so [[pcaMerge]],
    * [[pcaFromFrame]] and [[pcaExplained]] all work on it unchanged,
    * and for the same underlying matrix it is cell-for-cell equal to
    * the dense [[pcaFrame]] minus its zero Sᵢⱼ cells: pcaFromFrame
    * over either is bit-identical.
    *
    * Scale shape: one cell-keyed self-join on the row id for the pair
    * sums — Σ_rows nnz(row)², the inherent cost of a sparse Gram and
    * far below the dense V·d² when rows are narrow; everything else
    * is a map-side-combinable aggregate. The driver-side object
    * [[pcaFromFrame]] builds is the d×d Gram — the documented memory
    * bound (d ≤ 4096 ⇒ ≤ 16.8M BigInt cells, ~1.5 GB transient). */
  def pcaFrameSparse(cells0: DataFrame, nVecs: Long, d: Int,
      idCol: String = "vec_id", dimCol: String = "dim",
      valCol: String = "xfp"): DataFrame = {
    require(nVecs >= 1L, s"need nVecs >= 1 (got $nVecs)")
    require(d >= 1 && d <= 65536,
      s"need 1 <= d <= 65536 (got $d): finalize with " +
        "[[pcaFromFrame]] (dense driver Gram, d <= 4096, the " +
        "oracle-pinned bits) or [[pcaFromFrameLargeV]] (implicit " +
        "Gram, distributed matvec) — [[pcaFinalize]] dispatches")
    val s = cells0.sparkSession
    val cells = cells0
      .select(col(idCol).as("__vid"), col(dimCol).cast("long").as("d"),
        col(valCol).cast("long").as("xfp"))
      .where(col("xfp") =!= 0L)
      .localCheckpoint() // read by Si and both sides of the pair join
    val n = s.range(1).select(lit(0L).as("i"), lit(0L).as("j"),
      lit(nVecs).cast("decimal(38,0)").as("sv"))
    // zero-fill every (0, j): pcaStats reads a missing per-dim sum as
    // raggedness, and the sparse matrix semantics say dim j exists
    // with sum 0 even when no cell touches it
    val si = s.range(1, d + 1L).select(col("id").as("j"))
      .join(cells.groupBy(col("d").as("j"))
        .agg(sum(col("xfp").cast("decimal(38,0)")).as("s0")), Seq("j"),
        "left")
      .select(lit(0L).as("i"), col("j"),
        coalesce(col("s0"), lit(0L).cast("decimal(38,0)")).as("sv"))
    val a = cells.select(col("__vid"), col("d").as("i"),
      col("xfp").as("xi"))
    val b = cells.select(col("__vid"), col("d").as("j"),
      col("xfp").as("xj"))
    val sij = a.join(b, Seq("__vid")).where(col("i") <= col("j"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("xi").cast("decimal(38,0)") *
        col("xj").cast("decimal(38,0)")).as("sv"))
    n.unionByName(si).unionByName(sij)
  }

  /** Finalize a [[pcaFrame]] accumulator into components — the same
    * driver BigInt power iteration as [[pca]], fed from the artifact
    * instead of a fresh corpus pass. [[pca]] ≡
    * pcaFromFrame(pcaFrame(emb)) bit-for-bit. */
  def pcaFromFrame(frame: DataFrame, k: Int = 2,
      iters: Int = 6): DataFrame = {
    require(k >= 1 && k <= 16, s"need 1 <= k <= 16 (got $k)")
    require(iters >= 1 && iters <= 64,
      s"need 1 <= iters <= 64 (got $iters)")
    val (n, d, si, sij) = pcaStats(frame)
    pcaIterate(n, d, si, sij, k, iters)
  }

  /** Finalize a PCA accumulator at ANY vocabulary: the bit-pinned
    * driver path ([[pcaFromFrame]] — the oracle-replayed semantics)
    * up to its d ≤ 4096 dense-Gram bound, the implicit-Gram
    * distributed path ([[pcaFromFrameLargeV]]) above it. The
    * threshold can only change low-bit floor placement, never the
    * algorithm (both run the identical fixed-point power iteration);
    * callers that need the oracle-pinned bits stay ≤ 4096. */
  def pcaFinalize(frame: DataFrame, d: Int, k: Int = 2,
      iters: Int = 6): DataFrame =
    if (d <= 4096) pcaFromFrame(frame, k, iters)
    else pcaFromFrameLargeV(frame, k, iters)

  /** Large-vocabulary twin of [[pcaFromFrame]] — the SAME power
    * iteration with the Gram left IMPLICIT, so the driver never
    * materializes d² cells and the vocabulary ceiling lifts from
    * 4096 to 65536. G = n·S − s·sᵀ splits into a SPARSE term (the
    * pair-sum cells, rescaled once per cell and iterated as ONE
    * distributed map-side-combinable aggregate per matvec round) and
    * rank-1 terms (mean centering and per-component deflation) whose
    * matvec contribution is a single dot product — applied at ROW
    * grain on the driver, Θ(d) per round with only the d-vector held.
    *
    * Semantics note (why this is a twin, not the same function): the
    * dense path floors EVERY rescaled Gram cell and every deflation
    * cell individually; an implicit Gram cannot (the −sᵢ·sⱼ term is
    * dense), so here the floor divisions sit at row grain —
    *   (Gq·v)ᵢ := Σⱼ ⌊n·Sᵢⱼ·2²⁰/m⌋·vⱼ − ⌊sᵢ·(Σⱼ sⱼ·vⱼ)·2²⁰/m⌋
    *              − Σ_c ⌊λ_c·v_c(i)·(Σⱼ v_c(j)·vⱼ)/den_c⌋
    * with m = max(maxₛₚₐᵣₛₑ|n·Sᵢⱼ − sᵢ·sⱼ|, (maxᵢ|sᵢ|)²) — a
    * deterministic upper bound of the dense max (absent cells are
    * −sᵢ·sⱼ). Different low bits than [[pcaFromFrame]], identical
    * algorithm and fixed-point grid; deterministic and
    * partition-invariant (every distributed sum is exact decimal).
    * Components agree with the dense path to float-noise grain on
    * separated spectra (spec-pinned); the dense path stays the
    * oracle-replayed one at d ≤ 4096.
    *
    * Scale shape: per matvec round ONE broadcast-join aggregate over
    * the symmetrized sparse cells (Θ(nnz) work, the v-frame is a
    * broadcast d-vector) returning d rows; everything else is Θ(d)
    * driver BigInt. k·(iters+1) rounds total. */
  def pcaFromFrameLargeV(frame: DataFrame, k: Int = 2,
      iters: Int = 6): DataFrame = {
    require(k >= 1 && k <= 16, s"need 1 <= k <= 16 (got $k)")
    require(iters >= 1 && iters <= 64,
      s"need 1 <= iters <= 64 (got $iters)")
    val s = frame.sparkSession
    import s.implicits._
    val sdiv = pcaSdiv _
    val fpB = BigInt(1L << 20)
    val fp = 1L << 20
    val f = frame.localCheckpoint() // scalars + si collect + cell passes
    // metadata-grain driver state: n, the d-vector of per-dim sums
    val nRow = f.where(col("i") === 0L && col("j") === 0L).head()
    val n = BigInt(nRow.getDecimal(2).toBigInteger)
    val siRows = f.where(col("i") === 0L && col("j") > 0L)
      .select(col("j"), col("sv")).collect()
    require(siRows.nonEmpty, "empty PCA accumulator: the frame has " +
      "no per-dim sum rows (no input vectors) — nothing to decompose")
    val d = siRows.map(_.getLong(0)).max.toInt
    require(d >= 1 && d <= 65536,
      s"need 1 <= d <= 65536 (got $d) for the implicit-Gram path")
    val si = new Array[BigInt](d + 1)
    siRows.foreach(r => si(r.getLong(0).toInt) =
      BigInt(r.getDecimal(1).toBigInteger))
    val missing = (1 to d).filter(si(_) == null)
    require(missing.isEmpty,
      s"vectors must have uniform dimensionality: the accumulator " +
        s"frame has max dim $d but no per-dim sum for dim(s) " +
        s"${missing.take(5).mkString(", ")}")
    // the scale m: sparse-cell max |n·Sij − si·sj| (one distributed
    // pass over the cells against the BROADCAST si vector) vs the
    // absent-cell bound (max|si|)²
    val nDec = lit(n.toString).cast("decimal(38,0)")
    val siDf = (1 to d).map(j => (j.toLong, si(j).toString))
      .toDF("dim", "s_str")
      .select(col("dim"), col("s_str").cast("decimal(38,0)").as("sdim"))
    val pairCells = f.where(col("i") > 0L).localCheckpoint()
    val mSparseRow = pairCells
      .join(broadcast(siDf.select(col("dim").as("i"),
        col("sdim").as("s_i"))), Seq("i"))
      .join(broadcast(siDf.select(col("dim").as("j"),
        col("sdim").as("s_j"))), Seq("j"))
      .agg(max(abs(nDec * col("sv") - col("s_i") * col("s_j"))).as("mx"))
      .head()
    val mSparse =
      if (mSparseRow.isNullAt(0)) BigInt(0)
      else BigInt(mSparseRow.getDecimal(0).toBigInteger)
    val sMax = (1 to d).map(si(_).abs).max
    val m = mSparse.max(sMax * sMax)
    require(m.signum > 0, "degenerate input: zero covariance")
    // symmetrized rescaled sparse term: aq = ⌊n·Sij·2²⁰/m⌋ per stored
    // cell, mirrored below the diagonal — ONE pass, then reused by
    // every matvec round (|aq| ≤ 2·2²⁰+1 since |n·Sij| ≤ 2m; row sums
    // Σ aq·v are ≤ d·2²¹·2²⁰ < 2⁵⁸ — summed as exact decimal anyway)
    // sign-handled floor-on-magnitude via exact integral `div` (the
    // wordVectorsFromCooc rescale discipline — decimal `/` rounds)
    val aqExpr = expr(
      s"CASE WHEN sv >= 0 THEN " +
        s"(CAST('$n' AS DECIMAL(38,0)) * sv * $fp) div " +
        s"CAST('$m' AS DECIMAL(38,0)) " +
        s"ELSE -((CAST('$n' AS DECIMAL(38,0)) * (-sv) * $fp) div " +
        s"CAST('$m' AS DECIMAL(38,0))) END")
    val upper = pairCells.select(col("i").as("r"), col("j").as("c"),
      aqExpr.as("aq"))
    val sym = upper
      .unionByName(pairCells.where(col("i") =!= col("j"))
        .select(col("j").as("r"), col("i").as("c"), aqExpr.as("aq")))
      .localCheckpoint() // read by every matvec round
    // one distributed sparse-matvec round: d rows back to the driver
    def sparseMatvec(v: Array[Long]): Array[BigInt] = {
      val vDf = (1 to d).map(j => (j.toLong, v(j - 1))).toDF("c", "v")
      val rows = sym.join(broadcast(vDf), Seq("c"))
        .groupBy(col("r"))
        .agg(sum(col("aq") * col("v").cast("decimal(38,0)")).as("w"))
        .collect()
      val w = Array.fill[BigInt](d)(BigInt(0))
      rows.foreach(r => w(r.getLong(0).toInt - 1) =
        BigInt(r.getDecimal(1).toBigInteger))
      w
    }
    // deflation state: (λ_c, v_c, den_c) per finished component
    val defl = scala.collection.mutable.ArrayBuffer
      .empty[(BigInt, Array[Long], BigInt)]
    def matvec(v: Array[Long]): Array[BigInt] = {
      val w = sparseMatvec(v)
      // mean-centering rank-1 term, row-grain floor
      var t = BigInt(0)
      var j = 0
      while (j < d) { t += si(j + 1) * v(j); j += 1 }
      var i = 0
      while (i < d) { w(i) -= sdiv(si(i + 1) * t * fpB, m); i += 1 }
      // deflation rank-1 terms, row-grain floor
      defl.foreach { case (lam, vc, den) =>
        var u = BigInt(0)
        var j2 = 0
        while (j2 < d) { u += BigInt(vc(j2)) * v(j2); j2 += 1 }
        val lu = lam * u
        var i2 = 0
        while (i2 < d) { w(i2) -= sdiv(lu * vc(i2), den); i2 += 1 }
      }
      w
    }
    val comps = Seq.newBuilder[(Long, Long, Long, Long)]
    for (dim0 <- 1 to d)
      comps += ((0L, dim0.toLong, sdiv(si(dim0), n).toLong, n.toLong))
    for (c <- 1 to k) {
      var v = Array.fill(d)(fp)
      for (_ <- 1 to iters) {
        val wB = matvec(v)
        val wq = wB.map(sdiv(_, fpB))
        var n2 = BigInt(0)
        var i = 0
        while (i < d) { n2 += wq(i) * wq(i); i += 1 }
        if (n2.signum != 0) {
          val norm = BigInt(math.floor(math.sqrt(n2.toDouble)).toLong)
          v = wq.map(x => sdiv(x * fpB, norm).toLong)
        }
      }
      val gv = matvec(v)
      var num = BigInt(0); var den = BigInt(0)
      var i1 = 0
      while (i1 < d) {
        num += BigInt(v(i1)) * gv(i1)
        den += BigInt(v(i1)) * BigInt(v(i1)); i1 += 1
      }
      val lam = sdiv(num, den)
      for (dim0 <- 1 to d)
        comps += ((c.toLong, dim0.toLong, v(dim0 - 1), lam.toLong))
      defl += ((lam, v, den))
    }
    comps.result().toDF("comp", "dim", "w_fp", "lam_fp")
  }

  /** Collect a [[pcaFrame]] accumulator to driver statistics
    * (metadata grain: d(d+1)/2 + d + 1 cells). */
  private def pcaStats(frame: DataFrame): (BigInt, Int,
      Map[Long, BigInt], Map[(Long, Long), BigInt]) = {
    val cells = frame.collect().map(r => (r.getLong(0), r.getLong(1)) ->
      BigInt(r.getDecimal(2).toBigInteger)).toMap
    val n = cells((0L, 0L))
    val d = cells.keys.map(_._2).max.toInt
    // defense for HAND-AUTHORED artifacts only: frames the library
    // builds always have every (0, j) cell (posexplode emits contiguous
    // dims), and a pcaMerge of different-d artifacts is NOT detectable
    // from sums alone — see the pcaMerge contract note
    val missing = (1 to d).filterNot(j => cells.contains((0L, j.toLong)))
    require(missing.isEmpty,
      s"vectors must have uniform dimensionality: the accumulator frame " +
        s"has max dim $d but no per-dim sum for dim(s) " +
        s"${missing.take(5).mkString(", ")} — ragged embedding arrays " +
        "are not a valid PCA input")
    val si = (1 to d).map(j => j.toLong -> cells((0L, j.toLong))).toMap
    val sij = cells.filter { case ((i, _), _) => i >= 1L }
    (n, d, si, sij)
  }

  /** Assemble the exact scaled Gram G = n·Sᵢⱼ − Sᵢ·Sⱼ and its max
    * magnitude — shared by [[pcaIterate]] and [[pcaExplained]]. */
  private def pcaGram(n: BigInt, d: Int, si: Map[Long, BigInt],
      sij: Map[(Long, Long), BigInt])
      : (Array[Array[BigInt]], BigInt) = {
    // row-parallel assembly (pure per-cell map over immutable inputs —
    // order-free, bit-exact): at d = 4096 the 16.8M BigInt
    // multiply/subtract cells dominated the whole driver phase
    // single-threaded; the 32 driver cores cut it ~20×.
    val g0 = new Array[Array[BigInt]](d)
    val rowMax = new Array[BigInt](d)
    java.util.stream.IntStream.range(0, d).parallel().forEach { i0 =>
      val i = i0 + 1L
      val sii = si(i)
      val row = new Array[BigInt](d)
      var mx = BigInt(0)
      var j0 = 0
      while (j0 < d) {
        val j = j0 + 1L
        // a missing (i, j) cell means Sᵢⱼ = 0 — the SPARSE accumulator
        // convention ([[pcaFrameSparse]] emits only nonzero pair sums;
        // dense [[pcaFrame]] frames always carry every pair, so this
        // is a no-op for them). The Gram cell itself is still
        // generally nonzero (−Sᵢ·Sⱼ): sparsity lives in the cells,
        // the d×d driver matrix is the only dense object.
        val sab =
          sij.getOrElse(if (i <= j) (i, j) else (j, i), BigInt(0))
        val cell = n * sab - sii * si(j)
        row(j0) = cell
        val a = cell.abs
        if (a > mx) mx = a
        j0 += 1
      }
      g0(i0) = row
      rowMax(i0) = mx
    }
    val m = rowMax.max
    require(m.signum > 0, "degenerate input: zero covariance")
    (g0, m)
  }

  private def pcaSdiv(x: BigInt, y: BigInt): BigInt =
    if (x.signum >= 0) x / y else -((-x) / y)

  /** The shared driver math of [[pca]] and [[pcaFromFrame]] — exact
    * BigInt Gram assembly, 20-bit rescale, `iters` power-iteration
    * rounds per component with Rayleigh deflation. */
  /** Sign-handled floor division on longs — identical values to
    * [[pcaSdiv]] for positive divisors (all PCA divisors are). */
  private def pcaSdivL(x: Long, y: Long): Long =
    if (x >= 0L) x / y else -((-x) / y)

  private[graft] def pcaIterate(n: BigInt, d: Int,
      si: Map[Long, BigInt], sij: Map[(Long, Long), BigInt],
      k: Int, iters: Int): DataFrame = {
    val s = org.apache.spark.sql.SparkSession.active
    import s.implicits._
    val sdiv = pcaSdiv _
    val fpB = BigInt(1L << 20)
    val fp = 1L << 20
    val (g0, m) = pcaGram(n, d, si, sij)
    // The iteration runs on LONG arrays — exact integer arithmetic,
    // bit-identical to the original BigInt loop, but without 12M+
    // BigInt/Seq allocations per matvec (at d = 768 the BigInt loop's
    // GC churn dominated the whole query; at 8 GiB heaps it thrashed).
    // Overflow safety is PROVEN, not hoped: |gq| ≤ GQ_LIM (checked
    // before each component), |v| ≤ 2²⁰ (norm = floor(√Σwq²) ≥
    // max|wq|, so the renormalize can never exceed fp), hence every
    // matvec product ≤ 2⁴⁶ and every row sum ≤ 2⁴⁶·d ≤ 2⁵⁸ < 2⁶³.
    // The few quantities whose squares could overflow (Σwq², v·Gv)
    // accumulate in BigInt over only d terms. If deflation ever drove
    // |gq| past GQ_LIM the loop would need wider cells — fail LOUDLY
    // (never observed: deflation subtracts ≤ |λ| ≤ d·max|gq| per
    // cell, and real spectra shrink the matrix).
    val GQ_LIM = 1L << 26
    require(d <= 4096, s"d = $d exceeds the PCA driver design bound")
    // row-parallel rescale (pure per-cell map — order-free, bit-exact)
    val gq: Array[Array[Long]] = new Array[Array[Long]](d)
    java.util.stream.IntStream.range(0, d).parallel().forEach { i0 =>
      val src = g0(i0)
      val row = new Array[Long](d)
      var j0 = 0
      while (j0 < d) { row(j0) = sdiv(src(j0) * fpB, m).toLong; j0 += 1 }
      gq(i0) = row
    }
    val comps = Seq.newBuilder[(Long, Long, Long, Long)]
    for (dim0 <- 1 to d)
      comps += ((0L, dim0.toLong, sdiv(si(dim0.toLong), n).toLong,
        n.toLong))
    def matvec(v: Array[Long]): Array[Long] = {
      val w = new Array[Long](d)
      var i = 0
      while (i < d) {
        val row = gq(i); var s0 = 0L; var j = 0
        while (j < d) { s0 += row(j) * v(j); j += 1 }
        w(i) = s0; i += 1
      }
      w
    }
    for (c <- 1 to k) {
      var mg = 0L
      var i0 = 0
      while (i0 < d) {
        var j0 = 0
        while (j0 < d) {
          val a = math.abs(gq(i0)(j0)); if (a > mg) mg = a; j0 += 1 }
        i0 += 1
      }
      require(mg <= GQ_LIM,
        s"deflated Gram magnitude $mg exceeds the long fast-path bound" +
          " — widen pcaIterate's cells (never expected for real spectra)")
      var v = Array.fill(d)(fp)
      for (_ <- 1 to iters) {
        val wq = matvec(v).map(pcaSdivL(_, fp))
        var n2 = BigInt(0)
        var i = 0
        while (i < d) { n2 += BigInt(wq(i)) * BigInt(wq(i)); i += 1 }
        if (n2.signum != 0) {
          val norm = math.floor(math.sqrt(n2.toDouble)).toLong
          v = wq.map(x => pcaSdivL(x * fp, norm))
        } // n2 == 0: v stays the previous v (the original loop's
        // behavior — degenerate rounds are a no-op)
      }
      val gv = matvec(v)
      var num = BigInt(0); var den = BigInt(0)
      var i1 = 0
      while (i1 < d) {
        num += BigInt(v(i1)) * BigInt(gv(i1))
        den += BigInt(v(i1)) * BigInt(v(i1)); i1 += 1
      }
      val lam = sdiv(num, den)
      for (dim0 <- 1 to d)
        comps += ((c.toLong, dim0.toLong, v(dim0 - 1), lam.toLong))
      val vRef = v
      // row-parallel deflation (disjoint rows — order-free, bit-exact)
      java.util.stream.IntStream.range(0, d).parallel().forEach { i2 =>
        val row = gq(i2)
        val lvi = lam * BigInt(vRef(i2))
        var j2 = 0
        while (j2 < d) {
          val t = BigInt(row(j2)) - sdiv(lvi * BigInt(vRef(j2)), den)
          require(t.isValidLong, "deflation overflowed the long cell")
          row(j2) = t.toLong; j2 += 1
        }
      }
    }
    comps.result().toDF("comp", "dim", "w_fp", "lam_fp")
  }

  /** PCA fidelity audit — the q70/q73 audit discipline applied to
    * [[pca]]: per component, its Rayleigh eigenvalue against the
    * EXACT trace of the rescaled Gram (both in the same 2^20 fixed-
    * point units, so the explained-variance fraction is one integer
    * floor division). trace(Gq) = Σᵢ Gqᵢᵢ is n²·total-variance
    * rescaled — the denominator every "how many components do I
    * need" decision reads. Output: (comp (1..k), lam_fp, trace_fp,
    * explained_ppm), metadata grain. Feed it the persisted
    * [[pcaFrame]] artifact (or a fresh one): the corpus is touched
    * only by the frame's own two aggregates. */
  def pcaExplained(frame: DataFrame, k: Int = 2,
      iters: Int = 6): DataFrame = {
    val s = frame.sparkSession
    import s.implicits._
    val (n, d, si, sij) = pcaStats(frame)
    val fp = BigInt(1L << 20)
    val (g0, m) = pcaGram(n, d, si, sij)
    val trace = (0 until d).map(i => pcaSdiv(g0(i)(i) * fp, m)).sum
    val comps = pcaIterate(n, d, si, sij, k, iters)
      .where(col("comp") > 0L)
      .select(col("comp"), col("lam_fp")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    comps.toSeq.map { case (c, lam) =>
      (c, lam, trace.toLong,
        pcaSdiv(BigInt(lam) * 1000000, trace).toLong)
    }.toDF("comp", "lam_fp", "trace_fp", "explained_ppm")
  }

  /** Project vectors onto [[pca]] components — centered, exact:
    * proj(c) = Σ_d (xfp_d − μ_fp_d)·w_fp[c][d], every term an exact
    * long on the 2^24×2^20 grid (comp-0 rows of `comps` carry μ_fp).
    * Output: (<id>, comp, proj_fp), k rows per vector. One
    * posexplode joined against the BROADCAST (k+1)·|dims|-row
    * component frame, collapsing through a map-side-combinable sum. */
  def pcaProject(emb: DataFrame, comps: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val sc = 16777216.0d // 2^24
    val mu = comps.where(col("comp") === 0L)
      .select(col("dim").as("d"), col("w_fp").as("mu"))
    val cw = comps.where(col("comp") > 0L)
      .select(col("comp"), col("dim").as("d"), col("w_fp"))
    emb.select(col(idCol).as("__vid"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("p", "xv")))
      .select(col("__vid"), (col("p") + 1).cast("long").as("d"),
        floor(col("xv") * lit(sc)).cast("long").as("xfp"))
      .join(broadcast(mu), Seq("d"))
      .join(broadcast(cw), Seq("d"))
      .groupBy(col("__vid"), col("comp"))
      .agg(sum((col("xfp") - col("mu")) * col("w_fp")).as("proj_fp"))
      .select(col("__vid").as(idCol), col("comp"),
        col("proj_fp").cast("long").as("proj_fp"))
  }

  /** [[pcaProject]] fed from SPARSE cells (the [[pcaFrameSparse]]
    * convention: nonzero entries only, explicit row universe `ids`).
    * Algebra: proj(v, c) = Σ_d (x_{v,d} − μ_d)·w_{c,d}
    *                     = Σ_{nnz(v)} x·w_{c} − Σ_d μ_d·w_{c,d},
    * the second term a per-component CONSTANT (k values, metadata
    * grain) — so all-zero rows still project (to −dot(μ, w_c)) and
    * every term is the identical exact long the dense path sums:
    * pcaProjectSparse ≡ pcaProject on the same matrix, bit-for-bit.
    *
    * Scale shape: the sparse cells (padded with one zero cell per id,
    * so all-zero rows ride the same aggregate) against the BROADCAST
    * k·d component frame, ONE map-side-combinable (id, comp) sum, a
    * broadcast join for the k centering constants — no dense explode,
    * no id-universe sort-merge join. Output: (<id>, comp, proj_fp),
    * k rows per id. `ids` must be distinct (one row per vector). */
  def pcaProjectSparse(ids: DataFrame, cells: DataFrame,
      comps: DataFrame, idCol: String = "vec_id",
      dimCol: String = "dim", valCol: String = "xfp"): DataFrame = {
    val mu = comps.where(col("comp") === 0L)
      .select(col("dim").as("d"), col("w_fp").as("mu"))
    val cw = comps.where(col("comp") > 0L)
      .select(col("comp"), col("dim").as("d"), col("w_fp"))
    // per-component centering constant dot(mu, w_c) — k rows
    val cc = cw.join(mu, Seq("d")).groupBy(col("comp"))
      .agg(sum(col("mu") * col("w_fp")).as("c0"))
    // pad every id with one ZERO cell at dim 1 (dims are 1-based, so
    // dim 1 always exists in the component frame): all-zero rows then
    // ride the SAME map-side-combinable aggregate as real cells — one
    // narrow (id, comp) shuffle total, instead of a second
    // corpus-grain sort-merge join of the id universe against the
    // partial sums (the zero cell contributes 0·w to every component,
    // so values are untouched)
    val padded = cells
      .select(col(idCol).as("__vid"), col(dimCol).cast("long").as("d"),
        col(valCol).cast("long").as("xfp"))
      .unionByName(ids.select(col(idCol).as("__vid"),
        lit(1L).as("d"), lit(0L).as("xfp")))
    padded
      .join(broadcast(cw), Seq("d"))
      .groupBy(col("__vid"), col("comp"))
      .agg(sum(col("xfp") * col("w_fp")).as("s1"))
      .join(broadcast(cc), Seq("comp"))
      .select(col("__vid").as(idCol), col("comp"),
        (col("s1") - col("c0")).cast("long").as("proj_fp"))
  }

  /** Deterministic signed random projection (Johnson–Lindenstrauss;
    * the ±1 variant of Achlioptas, "Database-friendly random
    * projections", JCSS 2003) — reduce `vecCol` to `outDim` dimensions
    * with y_j = Σ_d s(j,d)·x_d, where the sign matrix s ∈ {±1} is
    * DERIVED, not sampled: s(j,d) = 1 − 2·(hash60("j:d") mod 2), the
    * house md5 hash, so every engine (and every epoch) materializes
    * the identical matrix with no stored artifact and no RNG. Inputs
    * quantize to the dimStats 2^24 fixed-point grid first, so each
    * output coordinate is an EXACT integer sum — bit-equal under any
    * partitioning and in the DuckDB oracle. This is the cheap
    * dimensionality-reduction rung under PCA: dot products and norms
    * are preserved in expectation (JL), which is what the ANN ops
    * need from a sketch. Output: (<id>, dim (1..outDim), y_fp), long
    * fixed-point at the 2^24 input scale.
    *
    * Scale shape: one posexplode of the corpus joined against a
    * BROADCAST (outDim·|dims|)-row sign frame, collapsing through a
    * map-side-combinable sum — no shuffle wider than the (id, j)
    * aggregate, no per-row hashing (signs are precomputed once at
    * metadata grain). */
  def randomProject(emb: DataFrame, outDim: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(outDim >= 1 && outDim <= 256,
      s"need 1 <= outDim <= 256 (got $outDim)")
    val s = emb.sparkSession
    import s.implicits._
    val sc = 16777216.0d // 2^24 — the dimStats quantization grid
    val x = emb.select(col(idCol).as("__vid"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("p", "xv")))
      .select(col("__vid"), (col("p") + 1).cast("long").as("d"),
        floor(col("xv") * lit(sc)).cast("long").as("xfp"))
    // empty-input guard: max(size) over zero rows is a single null row —
    // return an empty (id, dim, y_fp) frame instead of an opaque NPE
    val dmaxRow = emb.agg(max(size(col(vecCol)))).head()
    if (dmaxRow.isNullAt(0))
      return emb.select(col(idCol), lit(0L).as("dim"),
        lit(0L).as("y_fp")).limit(0)
    val dmax = dmaxRow.getInt(0)
    val signs = (for (j <- 1 to outDim; d <- 1 to dmax) yield
      (j.toLong, d.toLong, 1L - 2L *
        (graft.functions.Hash60Expr.hash60(
          s"$j:$d".getBytes("UTF-8")) % 2L)))
      .toDF("j", "d", "sgn")
    x.join(broadcast(signs), Seq("d"))
      .groupBy(col("__vid"), col("j"))
      .agg(sum(col("sgn") * col("xfp")).as("y_fp"))
      .select(col("__vid").as(idCol), col("j").as("dim"),
        col("y_fp").cast("long").as("y_fp"))
  }

  def normOutliers(emb: DataFrame, loPct: Int = 5, hiPct: Int = 95,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(loPct >= 0 && hiPct <= 100 && loPct < hiPct,
      s"need 0 <= loPct < hiPct <= 100 (got $loPct, $hiPct)")
    val s = emb.sparkSession
    val np = s.sparkContext.defaultParallelism
    val p = normalize(emb, idCol, vecCol)
      .select(col("vec_id"), col("nrm"))
      .repartitionByRange(np, col("nrm"), col("vec_id"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint() // pins pid; read by the counts and the ranks
    val counts = p.groupBy(col("pid")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)) // ≤ np rows
    val n = counts.map(_._2).sum
    val offsets = counts.sortBy(_._1)
      .scanLeft((0, 0L, 0L)) { case ((_, acc, _), (pid, c)) =>
        (pid, acc + c, acc) }.drop(1).map(t => (t._1, t._3))
    val nLow = n * loPct / 100
    val nHigh = n * (100 - hiPct) / 100
    import s.implicits._
    val offDf = offsets.toSeq.toDF("pid", "off")
    val w = Window.partitionBy(col("pid"))
      .orderBy(col("nrm"), col("vec_id"))
    p.join(broadcast(offDf), Seq("pid"))
      .withColumn("rank",
        row_number().over(w).cast("long") + col("off"))
      .select(col("vec_id").as(idCol), col("nrm"), col("rank"),
        when(col("rank") <= nLow, lit("low"))
          .when(col("rank") > n - nHigh, lit("high"))
          .otherwise(lit("keep")).as("flag"))
  }
}
