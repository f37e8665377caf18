package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Conf
import graft.functions.TextFunctions._

/** Public deduplication operators over arbitrary `id`/`text` frames —
  * exact, MinHash+LSH, and SimHash, each the frame-level core the
  * corresponding q-entries bind to (q26/q27/q28 and the q53/q67/q74
  * consumers). Shared discipline: exact-duplicate collapse before any
  * pairwise stage, capped bucket joins (never all-pairs), and exact
  * verification of every candidate — the 100 TB shapes argued in
  * SCALE.md.
  */
object Dedup {

  private val P = HashP // 2^31-1

  /** Exact dedup by normalized content hash: one row per distinct
    * content, its lowest id as the keeper. Output: (keep_id, n_copies).
    * Pure hash groupBy — map-side combinable, one shuffle. */
  def exact(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        md5(lower(trim(col(textCol)))).as("dup_key"))
      .groupBy(col("dup_key"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  /** Exact-duplicate group membership for docs with ≥ `minWords` words:
    * (gk, <id>, rep) — group key, member, lowest-id representative. The
    * pre-collapse every near-dup pipeline runs first (duplicate-heavy
    * corpora would otherwise make one LSH bucket quadratic). */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minWords: Int = 3): DataFrame = {
    val keyed = docs
      .where(size(words(col(textCol))) >= minWords)
      .select(col(idCol).as("doc_id"),
        md5(concat_ws(" ", words(col(textCol)))).as("gk"))
    val reps = keyed.groupBy(col("gk")).agg(min(col("doc_id")).as("rep"))
    keyed.join(reps, "gk").withColumnRenamed("doc_id", idCol)
  }

  /** MinHash+LSH near-duplicate pairs at doc grain: 16 permutations,
    * 4 bands × 4 rows, candidates from the banded bucket join among
    * exact-group representatives (buckets capped via
    * `graft.dedup.maxBucket`), verified with exact Jaccard ≥ `minJac`
    * on 3-gram shingle sets, then expanded back to the exact doc-level
    * answer. Output: (d1, d2, jac) with d1 < d2.
    *
    * FLOOR: documents under 3 words have no 3-gram shingles and are
    * excluded entirely — even exact copies of each other. Dedup short
    * texts (titles, queries) with [[exact]]/[[exactGroups]], which
    * have no shingle floor. */
  def minhashPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minJac: Double = 0.8): DataFrame = {
    val canon = docs.select(col(idCol).as("doc_id"),
      col(textCol).as("text"))
    val (members, rp) = repPairs(canon, minJac)
    expandRepPairs(members, rp)
  }

  /** SimHash near-duplicate pairs: 48-bit signatures over 3-gram
    * shingles, candidates from an 8×6-bit chunk join (hamming ≤ 6 < 7
    * chunks' pigeonhole bound ⇒ identical to all-pairs), output
    * (d1, d2, ham) with d1 < d2. */
  def simhashPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val canon = docs.select(col(idCol).as("doc_id"),
      col(textCol).as("text"))
    // Three narrow codegen stages (see q28's entry comment for the
    // full derivation): explode-then-hash shingles; explode CHUNK
    // indices (12 × 4 bits) packing four bit-popcounts per SUM row;
    // unpack and fold the 48 bit decisions back into the signature.
    val exploded = shingleHashRows(canon, 3).distinct()
    val packedBits = (0 until 4).map { k =>
      shiftleft(((col("h") * ((col("c") * 4 + k) * 2 + 1) +
        (col("c") * 4 + k)) % P).bitwiseAND(lit(1L)), 16 * k)
    }.reduce(_ + _)
    val votes = exploded
      .select(col("doc_id"), col("h"),
        explode(sequence(lit(0), lit(11))).as("c"))
      .groupBy(col("doc_id"), col("c"))
      .agg(sum(packedBits).as("s"), count(lit(1)).as("n"))
    val chunkSig = (0 until 4).map { k =>
      when(shiftright(col("s"), 16 * k).bitwiseAND(lit(0xFFFFL)) * 2
        > col("n"),
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST(c * 4 + $k AS INT))"))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    val sim = votes.groupBy(col("doc_id"))
      .agg(sum(chunkSig).as("sh"))
      .localCheckpoint() // tiny (one row per doc); avoids recompute in
      // the self-join without leaving a cached table behind
    val chunks = array((0 until 8).map(c =>
      shiftright(col("sh"), 6 * c).bitwiseAND(lit(63L))): _*)
    // capped like every pairwise surface in the family: a degenerate
    // corpus (many near-identical signatures) would otherwise turn the
    // chunk self-join quadratic; oversized buckets drop LOUDLY via
    // DedupGuard, trading recall for boundedness exactly as q27's
    // banded join does (the pigeonhole-exactness claim then holds for
    // every surviving bucket)
    val keyed = capBuckets(
      sim.select(col("doc_id"), col("sh"),
        posexplode(chunks).as(Seq("chunk_idx", "chunk_key"))),
      Seq("chunk_idx", "chunk_key"), docs.sparkSession,
      "simhash chunk buckets", Conf.DedupMaxBucket(docs.sparkSession))
    val a = keyed.as("a"); val b = keyed.as("b")
    a.join(b,
      col("a.chunk_idx") === col("b.chunk_idx") &&
        col("a.chunk_key") === col("b.chunk_key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("ham"))
      .distinct()
      .where(col("ham") <= 6)
  }

  /** Exact repeated-substring extents per document — the span-level
    * dedup of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better" (arXiv:2107.06499), at word-k-gram grain: a k-gram
    * is DUPLICATED when it occurs ≥ `minCount` times in the corpus
    * (counting every occurrence, so within-document repetition counts
    * like cross-document); per document, the duplicated k-gram
    * positions merge into maximal extents (intervals [pos, pos+k−1]
    * merged when overlapping or adjacent). Documents under `k` words
    * are excluded (no k-gram exists). Output: (<id>, n_grams,
    * n_dup_spans, dup_tokens, dup_ratio = dup_tokens / n_words) — the
    * doc-level drop/trim signal span-dedup pipelines filter on.
    *
    * Scale shape: the positional gram stream is corpus-linear (ONE
    * generator projection — no window sort; grams slice the per-row
    * token array); occurrence counts are a map-side-combinable integer
    * sum; the duplicated-gram set joins back hash-keyed (AQE
    * broadcasts it while it fits); the extent merge is a per-document
    * gaps-and-islands window over the HIT positions only — a subset,
    * partitioned by doc, bounded by document length. Nothing is
    * all-pairs; cost is corpus-linear in gram rows. */
  def spanDups(docs: DataFrame, k: Int = 5, minCount: Long = 2L,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 2, s"need k >= 2 (got $k)")
    require(minCount >= 2L, s"need minCount >= 2 (got $minCount)")
    val g = spanGramRows(docs, k, idCol, textCol)
      .localCheckpoint() // read three times: counts, hit join, per-doc
    val dup = g.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount).select(col("h"))
    spanExtents(g,
      g.join(dup, "h").select(col("doc_id"), col("pos")), k, idCol)
  }

  /** Fidelity audit of the k-gram island approximation against the
    * Lee-et-al ExactSubstr ground truth (arXiv:2107.06499 §4.1 uses
    * suffix arrays to find length-≥k substrings duplicated AS A UNIT;
    * [[spanDups]] merges duplicated fixed-k grams into islands
    * instead). The two agree EXACTLY at position grain — a duplicated
    * m≥k substring covers its positions with duplicated k-grams, and
    * every duplicated k-gram IS a duplicated k-substring — so the
    * approximation's only artifact is extent ATTRIBUTION: an island
    * can merge adjacent grams that duplicate against DIFFERENT
    * sources, claiming a span "duplicated as a unit" when no single
    * second copy of the whole span exists. This audit measures that
    * directly: for every island extent, `occ` = how many times the
    * extent's FULL token sequence occurs corpus-wide (its own
    * occurrence included), and `exact` = occ ≥ 2 — so
    * avg(exact) over the output is the extent-grain precision of the
    * island approximation, and 1 − avg(exact) the rate of
    * mixed-source merges. (Extent recall needs no query: every
    * maximal duplicated m≥k substring lies inside some island, by the
    * position-grain theorem — OpsApiSpec pins the coverage equality
    * on a constructed corpus.)
    *
    * Output: (<id>, start_tok (1-based), n_tok, occ, exact), one row
    * per island. Audit-grade cost (the q73 discipline — exactness
    * over thrift, run it on samples): the ground-truth side generates
    * every corpus window of every DISTINCT island length, i.e.
    * |distinct lengths| extra corpus-linear generator passes, with no
    * caps — nothing is dropped silently. */
  def spanExtentAudit(docs: DataFrame, k: Int = 5, minCount: Long = 2L,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 2, s"need k >= 2 (got $k)")
    require(minCount >= 2L, s"need minCount >= 2 (got $minCount)")
    val toks = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), words(col(textCol)).as("w"))
      .where(size(col("w")) >= k)
      .localCheckpoint() // the ONE corpus-scale checkpoint: feeds the
    // gram recomputes, the extent-text lookup and the window scan.
    // The gram frame below is deliberately NOT checkpointed — it is
    // the largest intermediate (one row per token position) and both
    // of its readers re-derive it from the checkpointed toks with one
    // cheap explode+hash, trading a second CPU pass for NOT writing
    // the biggest frame (the q154 write-contention fix: under a
    // contended disk the checkpoint write was the straggler, not the
    // recompute).
    val g = toks
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1), size(col("w")) - (k - 1))).as("pos"))
      .select(col("doc_id"), col("pos"),
        pmod(hash60(concat_ws(" ", slice(col("w"), col("pos"), lit(k)))),
          lit(P)).as("h"))
    val dup = g.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount).select(col("h"))
    val ext = extentRows(
        g.join(dup, "h").select(col("doc_id"), col("pos")), k)
      .localCheckpoint() // read by the extent-hash join and lens
    val exth = ext.join(toks, Seq("doc_id"))
      .select(col("doc_id"), col("start_tok"), col("n_tok"),
        pmod(hash60(concat_ws(" ",
            slice(col("w"), col("start_tok").cast("int"),
              col("n_tok").cast("int")))),
          lit(P)).as("eh"))
      .localCheckpoint() // extent-bounded (one row per extent); read by
      // the window-key broadcast below AND the final occ join — without
      // it each reader re-runs the extent slice-hash pass
    val lens = ext.select(col("n_tok").as("m")).distinct()
    val wins = toks.join(broadcast(lens), size(col("w")) >= col("m"))
      .select(col("m"), col("w"),
        explode(sequence(lit(1),
          (size(col("w")) - col("m") + 1).cast("int"))).as("i"))
      .select(col("m"),
        pmod(hash60(concat_ws(" ",
            slice(col("w"), col("i"), col("m").cast("int")))),
          lit(P)).as("h"))
    // Drop non-matching windows BEFORE the occ exchange (guide §2.3):
    // the final join keeps only (m, h) groups present in the extent
    // keys, so semi-joining the window rows on that (extent-bounded,
    // broadcast) key set first is output-identical — counts for the
    // surviving groups are over exactly the same rows — while the
    // shuffle shrinks from every corpus window (Σ_m positions ≈
    // |lens| corpus passes of mostly-distinct groups, which map-side
    // partial agg cannot compress) to the matching windows only. At a
    // 100 TB deployment the extent-key frame is corpus-growth: drop
    // the broadcast hint there and let AQE pick the strategy — the
    // pre-aggregation filter stays correct either way.
    val extKeys = exth.select(col("n_tok").as("m"), col("eh").as("h"))
      .distinct()
    val occ = wins
      .join(broadcast(extKeys), Seq("m", "h"), "left_semi")
      .groupBy(col("m"), col("h"))
      .agg(count(lit(1)).as("occ"))
    exth.join(occ,
        occ("m") === exth("n_tok") && occ("h") === exth("eh"))
      .select(exth("doc_id").as(idCol),
        col("start_tok").cast("long").as("start_tok"),
        col("n_tok").cast("long").as("n_tok"),
        col("occ").cast("long").as("occ"),
        (col("occ") >= 2L).as("exact"))
  }

  /** Exact global ordinal (1-based, dense over DISTINCT keys) of each
    * row of `distinctKeys` in the `order` total order — the q145
    * two-level discipline: one range shuffle, per-partition
    * row_numbers, a ≤|partitions|-row driver read for offsets. Keys
    * must be distinct (the callers rank DISTINCT frames), so the
    * ordinal is dense AND boundary-invariant: offset + position in
    * one total order, identical under any range sampling. */
  private def globalOrdinals(distinctKeys: DataFrame,
      order: Seq[org.apache.spark.sql.Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = distinctKeys.sparkSession
    val np = s.sparkContext.defaultParallelism
    val p = distinctKeys.repartitionByRange(np, order: _*)
      .withColumn("pid", spark_partition_id())
      .localCheckpoint() // pins pid; read by counts and ranks
    val counts = p.groupBy(col("pid")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)) // ≤ np rows
    val offsets = counts.sortBy(_._1)
      .scanLeft((0, 0L, 0L)) { case ((_, acc, _), (pid, c)) =>
        (pid, acc + c, acc) }.drop(1).map(t => (t._1, t._3))
    import s.implicits._
    val offDf = offsets.toSeq.toDF("pid", "off")
    val w = Window.partitionBy(col("pid")).orderBy(order: _*)
    p.join(broadcast(offDf), Seq("pid"))
      .withColumn("r", row_number().over(w).cast("long") + col("off"))
      .drop("pid", "off")
  }

  /** TRUE Lee-et-al ExactSubstr span detection (arXiv:2107.06499
    * §4.1) — per document, every MAXIMAL span of ≥ `k` tokens whose
    * full token sequence occurs verbatim at least twice corpus-wide,
    * with EXACT boundaries and exact match lengths. This is the
    * suffix-array-grade operator [[spanDups]] approximates: islands
    * merge duplicated fixed-k grams and can over-claim extents that
    * duplicate against DIFFERENT sources (the artifact [[
    * spanExtentAudit]] measures); here every reported span is
    * duplicated AS A UNIT, by construction.
    *
    * Algorithm — prefix doubling (Manber–Myers 1990), relationally:
    * rank₁ = global ordinal of each token over the distinct
    * vocabulary; rank₂ₕ = global ordinal of the (rankₕ(i),
    * rankₕ(i+h)) pair over its distinct values (out-of-range → −1,
    * so a shorter suffix sorts before its extensions and two
    * suffixes share rankₕ iff their first h tokens AND truncated
    * lengths agree — suffixes never cross document boundaries).
    * log₂(`maxSpan`) doubling rounds build the sparse rank table;
    * then (1) candidate positions — those with SOME ≥ k verbatim
    * match — fall out of one duplicated-pair count at level
    * 2^⌊log₂k⌋; (2) per distinct `maxSpan`-rank, groups of size ≥ 2
    * match to min(`maxSpan`, remaining) immediately; (3) singleton
    * ranks get their exact match length as the max LCP with the two
    * ADJACENT ranks' representatives (the suffix-order property:
    * the best match of any suffix is an order-neighbor), via the
    * standard log₂(`maxSpan`)-round descend over the rank levels;
    * (4) spans below `k` drop, and a per-document running-max of
    * span ends keeps only maximal (uncontained) spans.
    *
    * Output: (<id>, start_tok (1-based), n_tok, clamped), one row
    * per maximal duplicated span. `n_tok` is exact up to `maxSpan`;
    * a span whose true match extends past `maxSpan` reports
    * n_tok = `maxSpan` with clamped = true (a longer duplicated
    * region appears as a chain of clamped spans, each advancing the
    * covered end — positions covered are still exact).
    *
    * 100 TB shape: the most shuffle-intensive operator in the engine
    * — deliberately, because this is ExactSubstr's price (the
    * reference paper runs a dedicated suffix-array pipeline for it;
    * the k-gram family [[spanDups]]/[[winnow]] is the cheap path and
    * stays the default). Everything is bounded and corpus-linear per
    * round: log₂(maxSpan) doubling rounds, each one self-join + one
    * distinct + one range-shuffle ordinal over ≤ |positions| narrow
    * rows; the retained rank levels are the log₂(maxSpan)·n-row
    * sparse-table artifact; the descend runs log₂(maxSpan) rounds
    * over ≤ |candidate ranks| pairs (candidates pruned FIRST, and
    * consecutive-rank pairs where either side lacks a ≥ k match
    * cannot reach lcp ≥ k — dropped before the descend). No
    * all-pairs joins, no per-token iteration, no driver-side data
    * beyond the ≤ np-row ordinal offsets. */
  def exactSubstrSpans(docs: DataFrame, k: Int = 5, maxSpan: Int = 64,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 2, s"need k >= 2 (got $k)")
    require(maxSpan >= k && maxSpan <= 1024 &&
      Integer.bitCount(maxSpan) == 1,
      s"maxSpan must be a power of two with k <= maxSpan <= 1024 " +
        s"(got $maxSpan)")
    import org.apache.spark.sql.expressions.Window
    val s = docs.sparkSession
    val np = s.sparkContext.defaultParallelism
    val toks = docs.repartition(np, col(idCol))
      .where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), words(col(textCol)).as("w"))
      .where(size(col("w")) >= k)
      .select(col("doc_id"), size(col("w")).cast("long").as("len"),
        posexplode(col("w")).as(Seq("p", "term")))
      .select(col("doc_id"), col("len"), col("p").cast("long").as("pos"),
        col("term"))
      .localCheckpoint() // feeds rank1 and the vocabulary
    val vocab = globalOrdinals(toks.select(col("term")).distinct(),
      Seq(col("term")))
    var rh = toks.join(vocab, "term")
      .select(col("doc_id"), col("len"), col("pos"), col("r"))
      .localCheckpoint() // rank level 1
    var levels = Map(1 -> rh)
    val b = Integer.highestOneBit(k)
    // (1) candidates: dup(i, k) via the (rank_b(i), rank_b(i+k−b))
    // pair over the FULL level-b frame; every later round then prunes
    // to the candidate neighborhood [c, c+maxSpan) — the only windows
    // any later consumer (doubling recursion, cap groups, descend)
    // ever reads (see scaladoc), and dup density is typically a few
    // percent of the corpus, so the expensive high rounds shrink by
    // that factor.
    var cands: DataFrame = null
    def candidatesAt(rb: DataFrame): DataFrame = {
      val candPair = (if (b == k)
        rb.where(col("len") - col("pos") >= k)
          .select(col("doc_id"), col("pos"), col("r").as("c1"),
            lit(0L).as("c2"))
      else {
        val second = rb.select(col("doc_id"),
          (col("pos") - (k - b)).as("pos"), col("r").as("c2"))
        rb.where(col("len") - col("pos") >= k)
          .join(second, Seq("doc_id", "pos"))
          .select(col("doc_id"), col("pos"), col("r").as("c1"),
            col("c2"))
      }).localCheckpoint() // read by the dup count and the semi join
      val dupKeys = candPair.groupBy(col("c1"), col("c2"))
        .agg(count(lit(1)).as("cnt")).where(col("cnt") >= 2)
        .select(col("c1"), col("c2"))
      candPair.join(dupKeys, Seq("c1", "c2"), "left_semi")
        .select(col("doc_id"), col("pos"))
        .localCheckpoint() // read by the keep filter and the semi joins
    }
    val keepW = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rangeBetween(-(maxSpan - 1).toLong, 0L)
    var h = 1
    while (h < maxSpan) {
      if (h == b) {
        cands = candidatesAt(rh)
        rh = rh
          .join(cands.withColumn("c", lit(1)),
            Seq("doc_id", "pos"), "left")
          .withColumn("keep", max(col("c")).over(keepW))
          .where(col("keep") === 1)
          .select(col("doc_id"), col("len"), col("pos"), col("r"))
          .localCheckpoint() // the pruned level-b frame seeds the rest
      }
      val shifted = rh.select(col("doc_id"),
        (col("pos") - h).as("pos"), col("r").as("r2"))
      val paired = rh.join(shifted, Seq("doc_id", "pos"), "left")
        .select(col("doc_id"), col("len"), col("pos"),
          col("r").as("r1"), coalesce(col("r2"), lit(-1L)).as("r2"))
      val pr = globalOrdinals(
        paired.select(col("r1"), col("r2")).distinct(),
        Seq(col("r1"), col("r2")))
      rh = paired.join(pr, Seq("r1", "r2"))
        .select(col("doc_id"), col("len"), col("pos"), col("r"))
        .localCheckpoint() // rank level 2h; truncates the round's lineage
      h *= 2
      levels += (h -> rh)
    }
    if (cands == null) cands = candidatesAt(levels(b)) // k == maxSpan
    // (2) maxSpan-rank groups over candidate positions only (a
    // cap-group is all-candidates or all-non — see scaladoc theorem)
    val capRanks = levels(maxSpan)
      .join(cands, Seq("doc_id", "pos"), "left_semi")
      .localCheckpoint() // read by group stats and the L assembly
    val gstats = capRanks.groupBy(col("r"))
      .agg(count(lit(1)).as("gc"),
        min(struct(col("doc_id"), col("pos"))).as("rep"))
      .localCheckpoint() // read by the adjacency build and L assembly
    // (3) LCP descend over consecutive-candidate-rank rep pairs
    var adj = gstats.select(col("r"),
        col("rep").getField("doc_id").as("d1"),
        col("rep").getField("pos").as("p1"))
      .join(gstats.select((col("r") - 1).as("r"),
        col("rep").getField("doc_id").as("d2"),
        col("rep").getField("pos").as("p2")), Seq("r"))
      .withColumn("acc", lit(0L))
      .localCheckpoint()
    var hh = maxSpan / 2
    while (hh >= 1) {
      val lv = levels(hh)
      val la = lv.select(col("doc_id").as("d1"),
        col("pos").as("q1"), col("r").as("ra"))
      val lb = lv.select(col("doc_id").as("d2"),
        col("pos").as("q2"), col("r").as("rb"))
      adj = adj
        .withColumn("q1", col("p1") + col("acc"))
        .withColumn("q2", col("p2") + col("acc"))
        .join(la, Seq("d1", "q1"), "left")
        .join(lb, Seq("d2", "q2"), "left")
        .withColumn("acc", col("acc") +
          when(col("ra").isNotNull && col("rb").isNotNull &&
            col("ra") === col("rb"), hh.toLong).otherwise(0L))
        .select(col("r"), col("d1"), col("p1"), col("d2"), col("p2"),
          col("acc"))
        .localCheckpoint() // log2(maxSpan) rounds; truncate each
      hh /= 2
    }
    // neighbor LCP per rank: pair keyed by the LOWER rank r covers
    // ranks r (right neighbor) and r+1 (left neighbor)
    val lcpDf = adj.select(col("r"), col("acc").as("lcp"))
    val nbr = lcpDf
      .unionByName(lcpDf.select((col("r") + 1).as("r"), col("lcp")))
      .groupBy(col("r")).agg(max(col("lcp")).as("nlcp"))
    // (4) exact L per candidate position, then maximal spans per doc
    val lf = capRanks
      .join(gstats.select(col("r"), col("gc")), "r")
      .join(nbr, Seq("r"), "left")
      .select(col("doc_id"), col("pos"), col("len"),
        when(col("gc") >= 2,
          least(lit(maxSpan.toLong), col("len") - col("pos")))
          .otherwise(coalesce(col("nlcp"), lit(0L))).as("l"))
      .where(col("l") >= k)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // clamped ⟺ the true match may extend past maxSpan: l hit the cap
    // AND tokens remain past it (l == maxSpan == remaining is exact —
    // and singleton LCPs are ≤ maxSpan−1 by construction)
    lf.withColumn("pe", max(col("pos") + col("l")).over(w))
      .where(col("pe").isNull || col("pos") + col("l") > col("pe"))
      .select(col("doc_id").as(idCol),
        (col("pos") + 1L).as("start_tok"), col("l").as("n_tok"),
        (col("l") === maxSpan.toLong &&
          col("len") - col("pos") > maxSpan.toLong).as("clamped"))
  }

  /** The distinct k-gram hash inventory of a corpus — what a crawl
    * loop PERSISTS per snapshot so batches can be scored for spans
    * already present in the corpus ([[spanDupScore]], the
    * q69/q105/q114 frozen-artifact discipline applied to span dedup).
    * One narrow row per distinct gram hash. */
  def spanGramFrame(docs: DataFrame, k: Int = 5, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k >= 2, s"need k >= 2 (got $k)")
    spanGramRows(docs, k, idCol, textCol).select(col("h")).distinct()
  }

  /** Score a batch against a FROZEN gram inventory ((h) — from
    * [[spanGramFrame]], usually read back from a persisted artifact):
    * per batch doc, the merged extents of k-gram spans ALREADY PRESENT
    * in the frozen corpus — the crawl-loop form of [[spanDups]], where
    * "duplicated" means "this text already exists in the snapshot"
    * (df ≥ 1 in the old corpus; batch-internal repetition does NOT
    * count — two batch docs sharing a novel span both score it fresh).
    * Membership discipline: the batch's distinct gram keys broadcast
    * against the artifact scan, hits broadcast back — the old corpus
    * is never re-read, cost is batch-proportional (the boilerScore
    * shape). Output: same schema as [[spanDups]]. */
  def spanDupScore(batch: DataFrame, gramSet: DataFrame, k: Int = 5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    spanDupScoreImpl(batch, gramSet, k, idCol, textCol, capture = false)

  /** [[spanDupScore]] with the q129 plan-pin capture — `capture` costs
    * two extra executedPlan compilations and a shared @volatile write,
    * so ONLY the q129 binding/spec turns it on (the boilerScoreImpl
    * capture-flag convention; production calls through the public
    * signature never pay it). */
  private[graft] def spanDupScoreImpl(batch: DataFrame,
      gramSet: DataFrame, k: Int, idCol: String, textCol: String,
      capture: Boolean): DataFrame = {
    require(k >= 2, s"need k >= 2 (got $k)")
    val gLazy = spanGramRows(batch, k, idCol, textCol)
    val g = gLazy
      .localCheckpoint() // batch-bounded; read by the key set, the hit
    // join, and the per-doc stats
    val keys = g.select(col("h")).distinct()
    val hitsLazy = gramSet.select(col("h"))
      .join(broadcast(keys), Seq("h"), "left_semi")
    if (capture) lastSpanScorePlans =
      gLazy.queryExecution.executedPlan.toString +
        "\n-- hits --\n" + hitsLazy.queryExecution.executedPlan.toString
    val hits = hitsLazy
      .localCheckpoint() // ≤ |batch gram keys| — broadcastable
    spanExtents(g,
      g.join(broadcast(hits), "h").select(col("doc_id"), col("pos")),
      k, idCol)
  }

  /** Physical plans of [[spanDupScoreImpl]]'s gram pass and artifact
    * probe (captured pre-checkpoint when `capture` is on), for the
    * q129 plan pin: the only generator is the batch's own, and the
    * old corpus contributes via the frozen-set scan alone. */
  @volatile private[graft] var lastSpanScorePlans: String = ""

  /** ACT on [[spanDups]]'s signal: rewrite each document with its
    * corpus-duplicated extents REMOVED — the Lee-et-al remediation
    * (drop the repeated spans, keep the fresh text) rather than the
    * doc-level drop a dup_ratio filter gives. Same duplication
    * contract as [[spanDups]] (occurrence count ≥ `minCount`, merged
    * intervals [pos, pos+k−1]); covered token positions are cut and
    * the survivors reassemble in position order. clean_text is
    * whitespace-NORMALIZED (tokens joined by single spaces — the
    * words() contract); a fully-duplicated document comes out as the
    * empty string with n_removed = n_words, ready for a length filter.
    * Documents under `k` words carry no grams and pass through
    * untrimmed. Output: (<id>, n_words, n_removed, clean_text).
    *
    * Scale shape: one tokenization pass feeds the gram stream, the
    * token stream, and the per-doc totals (checkpoint-materialized);
    * covered positions are an explode of HIT grams only; the cut is a
    * narrow (doc, pos)-keyed anti-join; reassembly is a per-document
    * sort of that document's own kept tokens (array_sort over a
    * collect_list — bounded by document length, no corpus-wide
    * window, no lambda HOFs: the struct-field extraction is the
    * codegen'd GetArrayStructFields). */
  def spanTrim(docs: DataFrame, k: Int = 5, minCount: Long = 2L,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 2, s"need k >= 2 (got $k)")
    require(minCount >= 2L, s"need minCount >= 2 (got $minCount)")
    val base = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .where(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"), words(col(textCol)).as("w"))
      .localCheckpoint() // read by grams, tokens, and totals
    val g = base.where(size(col("w")) >= k)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1), size(col("w")) - (k - 1))).as("pos"))
      .select(col("doc_id"), col("pos"),
        pmod(hash60(concat_ws(" ", slice(col("w"), col("pos"), lit(k)))),
          lit(P)).as("h"))
      .localCheckpoint() // read by the count agg AND the hit join
    val dup = g.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount).select(col("h"))
    val cov = g.join(dup, "h")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("tpos"))
      .distinct()
    trimCovered(base, cov, idCol)
  }

  /** Shared trim tail of [[spanTrim]] and [[trimSpans]]: cut the
    * `cov` (doc_id, tpos) positions out of the tokenized `base`
    * (doc_id, w) and reassemble survivors in position order. The cut
    * is a narrow (doc, pos)-keyed anti-join; reassembly is a
    * per-document sort of that document's own kept tokens (array_sort
    * over a collect_list — bounded by document length, no corpus-wide
    * window, no lambda HOFs: the struct-field extraction is the
    * codegen'd GetArrayStructFields). */
  private def trimCovered(base: DataFrame, cov: DataFrame,
      idCol: String): DataFrame = {
    val tok = base
      .select(col("doc_id"), posexplode(col("w")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("tpos"),
        col("tok"))
    val kept = tok.join(cov, Seq("doc_id", "tpos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_sort(collect_list(struct(col("tpos").as("tpos"),
          col("tok").as("tok")))).as("arr"))
      .select(col("doc_id"), col("n_kept"),
        concat_ws(" ", col("arr.tok")).as("ct"))
    base.select(col("doc_id"), size(col("w")).as("n_words"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id").as(idCol),
        col("n_words").cast("long").as("n_words"),
        (col("n_words") - coalesce(col("n_kept"), lit(0L))).cast("long")
          .as("n_removed"),
        coalesce(col("ct"), lit("")).as("clean_text"))
  }

  /** ACT on an explicit span frame: rewrite each document with every
    * token position covered by a (<id>, `startCol`, `lenCol`) span
    * REMOVED — the generic trim that composes with any span detector.
    * With [[exactSubstrSpans]] output this is the Lee-et-al
    * ExactSubstr remediation at suffix grade (the released
    * deduplicate-text-datasets tool likewise cuts EVERY occurrence of
    * a duplicated byte range; exact boundaries mean no innocent
    * neighbors are cut, unlike the k-gram islands, whose extents can
    * over-claim — q154 measures that); with [[spanDups]] output it
    * reproduces [[spanTrim]]. Same output contract as [[spanTrim]]:
    * (<id>, n_words, n_removed, clean_text), clean_text
    * whitespace-normalized, empty-and-null-text documents absent,
    * documents with no spans pass through untrimmed.
    *
    * Scale shape: `spans` is span-grain (≪ corpus — duplicated
    * extents only); covered positions are one explode of it, Σ n_tok
    * rows, distinct'd on (doc, pos); then the [[trimCovered]]
    * anti-join + per-doc reassembly. One corpus tokenization pass,
    * checkpoint-shared by the token stream and the totals. */
  def trimSpans(docs: DataFrame, spans: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      startCol: String = "start_tok", lenCol: String = "n_tok")
      : DataFrame = {
    val base = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .where(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"), words(col(textCol)).as("w"))
      .localCheckpoint() // read by tokens and totals
    // drop non-positive spans BEFORE the explode: sequence(a, a-1)
    // steps backwards ([a, a-1]) and would cut two innocent tokens
    val cov = spans.where(col(lenCol).cast("long") > 0L)
      .select(col(idCol).as("doc_id"),
        explode(sequence(col(startCol).cast("long"),
          col(startCol).cast("long") + col(lenCol).cast("long") - 1L))
          .as("tpos"))
      .distinct()
    trimCovered(base, cov, idCol)
  }

  /** Paragraph-grain exact dedup (C4: Raffel et al.,
    * arXiv:1910.10683 §2.2; CC-Net: Wenzek et al., arXiv:1911.00359
    * §3.1) — the C4/CC-Net line-level step
    * between document-grain dedup ([[exact]]) and span-grain dedup
    * ([[spanDups]]/[[exactSubstrSpans]]): split each document into
    * paragraphs on `sep`, and remove every paragraph whose trimmed
    * text recurs (≥ `minCount` occurrences corpus-wide) EXCEPT the
    * first occurrence — "first" is the minimal (doc_id, para index),
    * a total order, so the survivor set is deterministic under any
    * partitioning (C4 removes duplicated three-sentence spans;
    * CC-Net hashes paragraphs and keeps one per hash — this is that
    * operation with a pinned keep-first rule). Empty/whitespace-only
    * paragraphs are dropped from both the census and the output;
    * surviving paragraphs reassemble in document order joined by
    * `\n`. Output: (<id>, n_paras, n_removed, clean_text), one row
    * per non-empty input document.
    *
    * Scale shape: one generator pass explodes paragraphs; the census
    * is a map-side-combinable (key → count, min-position) aggregate
    * at distinct-paragraph grain; the keep decision is one hash join
    * of paragraphs against their census row; reassembly is the
    * per-document array_sort/collect_list bounded by document length.
    * Keys are md5 of the trimmed paragraph (the [[exact]] dup_key
    * convention — cross-engine, collision-negligible), so the census
    * never carries full paragraph text twice. With
    * `normalizeKeys = true` the census key is md5 of the
    * [[graft.ops.Text.normalize]]d paragraph instead — CC-Net's
    * actual rule (trivially-variant copies collapse) — while the
    * OUTPUT keeps the original paragraph text; all-punctuation
    * paragraphs then share the empty-normalization key and dedup as
    * one class. */
  def paraDedup(docs: DataFrame, sep: String = "\\n+",
      minCount: Long = 2L, normalizeKeys: Boolean = false,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(minCount >= 2L, s"need minCount >= 2 (got $minCount)")
    val paras = paraRows(docs, sep, normalizeKeys, idCol, textCol)
      .localCheckpoint() // read by the census, the keep join, totals
    val census = paras.groupBy(col("k"))
      .agg(count(lit(1)).as("occ"),
        min(struct(col("doc_id"), col("idx"))).as("first"))
    paraAssemble(paras,
      paras.join(census, "k")
        .where(col("occ") < minCount ||
          (col("doc_id") === col("first.doc_id") &&
            col("idx") === col("first.idx"))),
      idCol)
  }

  /** Shared reassembly tail of [[paraDedup]] and [[paraDedupAppend]]:
    * per-document position-ordered rejoin of the surviving paragraphs
    * plus the totals projection. */
  private def paraAssemble(paras: DataFrame, keptParas: DataFrame,
      idCol: String): DataFrame = {
    val kept = keptParas
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_sort(collect_list(struct(col("idx").as("idx"),
          col("para").as("para")))).as("arr"))
      .select(col("doc_id"), col("n_kept"),
        concat_ws("\n", col("arr.para")).as("ct"))
    paras.groupBy(col("doc_id")).agg(count(lit(1)).as("n_paras"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id").as(idCol),
        col("n_paras").cast("long").as("n_paras"),
        (col("n_paras") - coalesce(col("n_kept"), lit(0L))).cast("long")
          .as("n_removed"),
        coalesce(col("ct"), lit("")).as("clean_text"))
  }

  /** Shared paragraph generator of [[paraDedup]]/[[paraFrame]]/
    * [[paraDedupAppend]]: (doc_id, idx (1-based over the raw split),
    * para (original text), k (md5 of the trimmed — or, with
    * `normalizeKeys`, normalized — paragraph)); whitespace-only
    * paragraphs dropped. */
  private def paraRows(docs: DataFrame, sep: String,
      normalizeKeys: Boolean, idCol: String,
      textCol: String): DataFrame = {
    val keyOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      if (normalizeKeys) c => md5(graft.ops.Text.normalizeCol(c))
      else md5(_)
    docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .where(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), sep)).as(Seq("i0", "para")))
      .select(col("doc_id"), (col("i0") + 1).cast("long").as("idx"),
        col("para"))
      .where(trim(col("para")) =!= "")
      .withColumn("k", keyOf(trim(col("para"))))
  }

  /** The frozen paragraph-census artifact a crawl loop persists for
    * incremental paragraph dedup: the DISTINCT census keys of the
    * corpus (one `k` per distinct paragraph — [[paraDedup]]'s key
    * convention, same `sep`/`normalizeKeys` knobs). Batch-side
    * consumer: [[paraDedupAppend]]. */
  def paraFrame(docs: DataFrame, sep: String = "\\n+",
      normalizeKeys: Boolean = false, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    paraRows(docs, sep, normalizeKeys, idCol, textCol)
      .select(col("k")).distinct()

  /** Incremental [[paraDedup]] — the crawl-loop form: rewrite each
    * BATCH document removing (a) every paragraph whose key appears in
    * the frozen `paraSet` census (it already exists in the committed
    * corpus — the snapshot keeps its copy, the batch never re-adds
    * it), and (b) within the batch itself, every recurrence after the
    * first under the (doc_id, idx) total order (the [[paraDedup]]
    * keep-first rule applied batch-locally). Epoch-N output over
    * appended censuses ≡ the from-scratch [[paraDedup]] of the
    * concatenated corpus restricted to batch docs — the q67/q129
    * incremental contract. Output: (<id>, n_paras, n_removed,
    * clean_text) per non-empty batch document.
    *
    * Scale shape: batch-proportional — the batch's own paragraph
    * explode and census, plus ONE left-anti-style membership probe of
    * batch keys against the frozen artifact (hash join on `k`; the
    * old corpus is never re-read, the artifact is distinct-paragraph
    * grain). */
  def paraDedupAppend(batch: DataFrame, paraSet: DataFrame,
      sep: String = "\\n+", normalizeKeys: Boolean = false,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val paras = paraRows(batch, sep, normalizeKeys, idCol, textCol)
      .localCheckpoint() // read by census, the keep join, and totals
    val inOld = paras.join(paraSet.select(col("k")), Seq("k"),
      "left_semi").select(col("doc_id"), col("idx"))
      .withColumn("old", lit(true))
    val census = paras.groupBy(col("k"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("first"))
    paraAssemble(paras,
      paras.join(census, "k")
        .join(inOld, Seq("doc_id", "idx"), "left")
        .where(col("old").isNull &&
          col("doc_id") === col("first.doc_id") &&
          col("idx") === col("first.idx")),
      idCol)
  }

  /** Cross-source overlap matrix — the inter-source contamination
    * report that drives source selection and dedup policy (two crawl
    * dumps sharing most of their grams should not both enter a mix at
    * full weight): for every source pair, the number of distinct
    * word-k-grams they share and the gram-set Jaccard. Contrast with
    * [[graft.ops.Text.boilerplate]] (WITHIN-source template
    * detection): this measures BETWEEN-source content overlap.
    * Output: (src1, src2, n_shared, n1, n2, jaccard) for every
    * src1 < src2 pair — zero-overlap pairs included (the report is
    * the full matrix).
    *
    * Scale shape: the distinct (source, gram) set is corpus-linear
    * and map-side-combinable; the pair join is hash-keyed on the gram
    * with output bounded by (grams shared) × C(|sources sharing|, 2)
    * — |sources| is small (a mix has tens to hundreds), so the join
    * never approaches all-pairs of DOCUMENTS; per-source set sizes
    * are a |sources|-row frame and the full-matrix scaffold is a
    * theta join of that tiny frame with itself. */
  def crossSourceOverlap(docs: DataFrame, k: Int = 5,
      idCol: String = "doc_id", textCol: String = "text",
      srcCol: String = "source"): DataFrame =
    crossSourceOverlapOf(sourceGramFrame(docs, k, idCol, textCol, srcCol))

  /** The distinct (src, h) inventory of [[crossSourceOverlap]] — what
    * a crawl loop PERSISTS and APPENDS per epoch so the matrix can be
    * refreshed without re-reading old documents. One narrow row per
    * (source, distinct gram). */
  def sourceGramFrame(docs: DataFrame, k: Int = 5,
      idCol: String = "doc_id", textCol: String = "text",
      srcCol: String = "source"): DataFrame = {
    require(k >= 2, s"need k >= 2 (got $k)")
    shingleHashRows(
        docs.select(col(idCol).as("doc_id"), col(srcCol).as("src"),
          col(textCol).as("text")), k, Seq("src"))
      .select(col("src"), col("h")).distinct()
  }

  /** [[crossSourceOverlap]] over a pre-derived inventory frame ((src,
    * h) — typically the persisted artifact with epoch appends).
    * Duplicate rows are tolerated (the appended artifact need not be
    * re-deduplicated on disk): the inventory re-distincts before
    * counting, so an appended artifact yields the exact from-scratch
    * matrix. */
  def crossSourceOverlapOf(sg0: DataFrame): DataFrame = {
    val sg = sg0.select(col("src"), col("h")).distinct()
      .localCheckpoint() // read by sizes AND both sides of the pair join
    val sizes = sg.groupBy(col("src")).agg(count(lit(1)).as("n"))
      .localCheckpoint() // |sources| rows; scaffold + two joins
    val shared = sg.as("a").join(sg.as("b"),
        col("a.h") === col("b.h") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src1"), col("b.src").as("src2"))
      .agg(count(lit(1)).as("n_shared"))
    sizes.select(col("src").as("src1"), col("n").as("n1"))
      .join(sizes.select(col("src").as("src2"), col("n").as("n2")),
        col("src1") < col("src2"))
      .join(shared, Seq("src1", "src2"), "left")
      .select(col("src1"), col("src2"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        col("n1"), col("n2"),
        (coalesce(col("n_shared"), lit(0L)).cast("double") /
          (col("n1") + col("n2") -
            coalesce(col("n_shared"), lit(0L))).cast("double"))
          .as("jaccard"))
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS algorithm): from each window of `w`
    * consecutive k-gram hashes, select the RIGHTMOST minimum; the
    * distinct selected (position, hash) pairs are the document's
    * fingerprints. Guarantees: every match of length ≥ w+k−1 tokens
    * between two documents shares at least one fingerprint, and
    * expected density is 2/(w+1) — the index-size lever for
    * span-dedup/novelty artifacts (store fingerprints instead of
    * every gram at ~w/2× fewer rows, trading detection granularity
    * w tokens of slack). Documents under k+w−1 words have no full
    * window and produce no fingerprints. Output: (<id>, pos, h),
    * one row per selected fingerprint.
    *
    * Scale shape: gram generation is the one-generator projection of
    * the span family; selection is a per-DOCUMENT sliding window
    * (partition bounded by document length, positions consecutive —
    * never a corpus-wide sort), with the rightmost-min picked in one
    * pass via a min over (h, −pos) structs. */
  def winnow(docs: DataFrame, k: Int = 5, w: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 2, s"need k >= 2 (got $k)")
    require(w >= 1, s"need w >= 1 (got $w)")
    import org.apache.spark.sql.expressions.Window
    val g = spanGramRows(docs, k, idCol, textCol)
    val byDoc = Window.partitionBy(col("doc_id"))
    val ahead = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    g.withColumn("ng", max(col("pos")).over(byDoc))
      .withColumn("m",
        min(struct(col("h").as("h"), (-col("pos")).as("np"))).over(ahead))
      .where(col("pos") <= col("ng") - (w - 1))
      .select(col("doc_id"), (-col("m.np")).as("pos"),
        col("m.h").as("h"))
      .distinct()
      .withColumnRenamed("doc_id", idCol)
  }

  /** The distinct winnowed-fingerprint inventory of a corpus — what a
    * crawl loop PERSISTS per snapshot when the full gram inventory
    * ([[spanGramFrame]]) outgrows its storage budget: ~w/2× fewer
    * rows at w tokens of detection slack (the [[winnow]] guarantee).
    * One narrow row per distinct selected hash. */
  def winnowFrame(docs: DataFrame, k: Int = 5, w: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    winnow(docs, k, w, idCol, textCol).select(col("h")).distinct()

  /** Score a batch against a FROZEN winnowed-fingerprint inventory
    * ((h) — from [[winnowFrame]], usually read back from a persisted
    * artifact): per batch document, its own fingerprint selection
    * ([[winnow]] with the same k/w — selection depends only on the
    * document, so batch fingerprints are comparable with snapshot
    * fingerprints by construction), the count already present in the
    * frozen set, and the hit ratio — the fingerprint-grain novelty
    * signal (0 = fully novel; any shared span of ≥ w+k−1 tokens with
    * the snapshot guarantees a hit). Documents without a full window
    * (< k+w−1 words) produce no row, the [[winnow]] convention.
    * Membership discipline: the batch's distinct fingerprint keys
    * broadcast against the artifact scan, hits broadcast back — the
    * old corpus is never re-read, cost is batch-proportional (the
    * [[spanDupScore]] shape). Output: (<id>, n_fp, n_hit,
    * hit_ratio). */
  def winnowScore(batch: DataFrame, fpSet: DataFrame, k: Int = 5,
      w: Int = 4, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val fp = winnow(batch, k, w, idCol, textCol)
      .localCheckpoint() // batch-bounded; read by keys + per-doc stats
    val keys = fp.select(col("h")).distinct()
    val hits = fpSet.select(col("h"))
      .join(broadcast(keys), Seq("h"), "left_semi")
      .localCheckpoint() // ≤ |batch fingerprint keys| — broadcastable
    fp.join(broadcast(hits.withColumn("hit", lit(1L))), Seq("h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_fp"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col(idCol), col("n_fp"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_fp").cast("double"))
          .as("hit_ratio"))
  }

  /** Positional k-gram hash rows (doc_id, pos 1-based, h) for the span
    * family — ONE codegen'd generator projection (tokenize, explode
    * the position sequence, slice/concat/hash); docs under k words are
    * excluded. Unlike [[graft.functions.TextFunctions.shingleHashRows]]
    * this keeps positions and multiplicity — extents need both. */
  /** Benchmark decontamination — the GPT-3/Llama n-gram rule (Brown
    * et al. 2020 App. C; Touvron et al. 2023 §5.1): per EVALUATION
    * item, how much of it already appears verbatim in the training
    * corpus, measured as the fraction of its `k`-grams (k = 13, the
    * published convention) present ANYWHERE in the corpus. Output:
    * (<benchId>, n_grams, n_hit, hit_ppm) — items shorter than k
    * tokens have no grams and are omitted (the [[spanDups]] rule).
    * This is the contamination CHECK; the deployment action is the
    * caller's (drop the eval item, or flag the training doc).
    *
    * Scale shape: ONE distinct-gram pass over the corpus
    * ([[spanGramFrame]] — the same inventory the span family
    * persists); the benchmark side is tiny and BROADCASTS into a
    * semi-join against the inventory, so the corpus never shuffles
    * for the benchmark — the corpus-side cost is the inventory scan,
    * independent of |bench|. */
  def contamination(corpus: DataFrame, bench: DataFrame, k: Int = 13,
      idCol: String = "doc_id", textCol: String = "text",
      benchIdCol: String = "bench_id",
      benchTextCol: String = "text"): DataFrame =
    contaminationOf(spanGramFrame(corpus, k, idCol, textCol), bench, k,
      benchIdCol, benchTextCol)

  /** [[contamination]] against a FROZEN (or merged) gram inventory
    * ((h) — from [[spanGramFrame]], usually a persisted artifact):
    * the crawl-loop form. Inventories union losslessly (distinct
    * hash sets), so snapshot ∪ batch ≡ from-scratch over the full
    * corpus — each epoch re-checks the fixed benchmark against the
    * GROWN corpus with zero old-document reads. */
  def contaminationOf(gramSet: DataFrame, bench: DataFrame,
      k: Int = 13, benchIdCol: String = "bench_id",
      benchTextCol: String = "text"): DataFrame = {
    require(k >= 2, s"need k >= 2 (got $k)")
    val g = spanGramRows(bench, k, benchIdCol, benchTextCol)
      .localCheckpoint() // bench-bounded; read by the key set + stats
    val keys = g.select(col("h")).distinct()
    val hits = gramSet.select(col("h"))
      .join(broadcast(keys), Seq("h"), "left_semi")
      .distinct() // a merged inventory may carry duplicate hashes
      .withColumn("__hit", lit(1L))
      .localCheckpoint() // ≤ |bench grams| rows — broadcastable
    g.join(broadcast(hits), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .select(col("doc_id").as(benchIdCol),
        col("n_grams").cast("long").as("n_grams"),
        col("n_hit").cast("long").as("n_hit"),
        expr("n_hit * 1000000 div n_grams").as("hit_ppm"))
  }

  /** The q70/q73 audit discipline applied to decontamination: for
    * each (benchmark item, training document) CANDIDATE pair — pairs
    * sharing at least one k-gram, capped to the `topN` strongest per
    * item by shared-distinct-gram count — the LONGEST shared
    * CONTIGUOUS token run between the two texts, exact. The n-gram
    * rule ([[contamination]]) reports how much of an item exists
    * SOMEWHERE in the corpus; this audit reports WHERE and how long a
    * verbatim span — the contiguous-overlap grade real
    * decontamination escalates to (the Lee-et-al ExactSubstr grade,
    * pairwise), the number that separates a few shared stock phrases
    * from a verbatim inclusion.
    *
    * Exactness: equal-token position pairs group by diagonal (i − j);
    * consecutive positions within a diagonal are a shared run
    * (gaps-and-islands — the span family's own discipline), and the
    * max island is the longest common substring at token grain.
    *
    * Scale shape: the corpus contributes ONE distinct (doc, gram)
    * pass; the benchmark is tiny and broadcasts everywhere; the
    * per-item candidate collapse is a map-side-combinable count into
    * the BOUNDED TopK aggregate (ties doc-ascending, drops
    * deterministic — never a corpus-wide window sort), and every
    * frame after the cap is ≤ |bench|·topN documents (pair grain,
    * corpus-independent; the position-pair join is bounded by
    * |item|·|doc| per kept pair). Ids must be integral (the ANN
    * family's TopK convention). Output: (<benchId>, <id>,
    * n_shared_grams, bench_tokens, max_run,
    * run_ppm = max_run·10^6 div bench_tokens); items with no
    * candidate pair (nothing shared) have no rows. */
  def contaminationAudit(corpus: DataFrame, bench: DataFrame,
      k: Int = 5, topN: Int = 3, idCol: String = "doc_id",
      textCol: String = "text", benchIdCol: String = "bench_id",
      benchTextCol: String = "text"): DataFrame =
    contaminationAuditOf(docGramFrame(corpus, k, idCol, textCol),
      corpus, bench, k, topN, idCol, textCol, benchIdCol, benchTextCol)

  /** The per-document distinct k-gram blocking index ((doc_id, h)) —
    * what a crawl loop PERSISTS per snapshot so the contamination
    * audit can block candidates without re-hashing committed
    * documents ([[contaminationAuditOf]]). Per-doc distinct rows over
    * disjoint doc sets union losslessly, so snapshot ∪ batch ≡ the
    * from-scratch index over the grown corpus, bit-for-bit. */
  def docGramFrame(docs: DataFrame, k: Int = 5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 2, s"need k >= 2 (got $k)")
    spanGramRows(docs, k, idCol, textCol)
      .select(col("doc_id"), col("h")).distinct()
  }

  /** [[contaminationAudit]] against a FROZEN (or merged) per-document
    * gram index ((doc_id, h) — from [[docGramFrame]], usually a
    * persisted artifact): the crawl-loop form. Blocking reads the
    * index, never re-hashes committed documents; `corpus` supplies
    * document TEXT only for the ≤ |bench|·topN capped candidates
    * (point lookups through the broadcast id set — the only
    * old-document reads, exactly the docs the audit must quote). */
  def contaminationAuditOf(docGrams: DataFrame, corpus: DataFrame,
      bench: DataFrame, k: Int = 5, topN: Int = 3,
      idCol: String = "doc_id", textCol: String = "text",
      benchIdCol: String = "bench_id",
      benchTextCol: String = "text"): DataFrame = {
    require(k >= 2, s"need k >= 2 (got $k)")
    require(topN >= 1, s"need topN >= 1 (got $topN)")
    import org.apache.spark.sql.expressions.Window
    val bg = spanGramRows(bench, k, benchIdCol, benchTextCol)
      .select(col("doc_id").as("bench_id"), col("h")).distinct()
      .localCheckpoint() // bench-bounded; read by the candidate join
    val shared = docGrams
      .select(col("doc_id"), col("h"))
      .join(broadcast(bg), Seq("h"))
      .groupBy(col("bench_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
    val topkAgg = udaf(new graft.functions.TopK.TopKAgg(topN),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[
        graft.functions.TopK.Scored]())
    val top = shared
      .groupBy(col("bench_id"))
      .agg(topkAgg(col("n_shared").cast("double"),
        col("doc_id").cast("long"), lit(0L), lit(0L), lit(0L)).as("top"))
      .select(col("bench_id"), explode(col("top")).as("r"))
      .select(col("bench_id"), col("r.k1").as("doc_id"),
        col("r.score").cast("long").as("n_shared_grams"))
      .localCheckpoint() // ≤ |bench|·topN rows — broadcastable
    val docIds = top.select(col("doc_id")).distinct()
    val ct = corpus
      .select(col(idCol).as("doc_id"), col(textCol).as("t"))
      .join(broadcast(docIds), Seq("doc_id"), "left_semi")
      .where(col("t").isNotNull)
      .select(col("doc_id"), posexplode(words(col("t")))
        .as(Seq("j", "tok")))
    val bt = bench
      .where(col(benchTextCol).isNotNull)
      .select(col(benchIdCol).as("bench_id"),
        posexplode(words(col(benchTextCol))).as(Seq("i", "tok")))
      .localCheckpoint() // bench-bounded; read by the match + sizes
    val m = ct
      .join(broadcast(top), Seq("doc_id"))
      .join(broadcast(bt), Seq("bench_id", "tok"))
      .select(col("bench_id"), col("doc_id"), col("n_shared_grams"),
        (col("i") - col("j")).as("d"), col("i"))
    val wn = Window.partitionBy(col("bench_id"), col("doc_id"),
      col("d")).orderBy(col("i"))
    val runs = m
      .withColumn("rn", row_number().over(wn))
      .groupBy(col("bench_id"), col("doc_id"), col("n_shared_grams"),
        col("d"), (col("i") - col("rn")).as("grp"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("bench_id"), col("doc_id"), col("n_shared_grams"))
      .agg(max(col("run")).as("max_run"))
    val bn = bench
      .where(col(benchTextCol).isNotNull)
      .select(col(benchIdCol).as("bench_id"),
        size(words(col(benchTextCol))).cast("long").as("bench_tokens"))
    runs.join(broadcast(bn), Seq("bench_id"))
      .select(col("bench_id").as(benchIdCol), col("doc_id").as(idCol),
        col("n_shared_grams"), col("bench_tokens"),
        col("max_run").cast("long").as("max_run"),
        expr("max_run * 1000000 div bench_tokens").as("run_ppm"))
  }

  private[graft] def spanGramRows(docs: DataFrame, k: Int,
      idCol: String, textCol: String): DataFrame =
    docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), words(col(textCol)).as("w"))
      .where(size(col("w")) >= k)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1), size(col("w")) - (k - 1))).as("pos"))
      .select(col("doc_id"), col("pos"),
        pmod(hash60(concat_ws(" ", slice(col("w"), col("pos"), lit(k)))),
          lit(P)).as("h"))

  /** Per-document extent merge + stats over hit positions: intervals
    * [pos, pos+k−1] merge when the start gap is ≤ k (overlapping or
    * adjacent); covered tokens per island = max(pos) − min(pos) + k.
    * `g` supplies the per-doc gram totals so unhit docs report zeros. */
  /** The maximal merged extents themselves — (doc_id, start_tok,
    * n_tok) per island: intervals [pos, pos+k−1] merged when the
    * start gap is ≤ k (overlapping or adjacent). The ONE island
    * definition [[spanExtents]] (stats grain) and [[spanExtentAudit]]
    * (extent grain) share. */
  private[graft] def extentRows(hits: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wn = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    hits
      .withColumn("f",
        when(col("pos") - lag(col("pos"), 1).over(wn) <= k, lit(0L))
          .otherwise(lit(1L)))
      .withColumn("isl", sum(col("f")).over(
        wn.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).as("start_tok"),
        (max(col("pos")) - min(col("pos")) + k).as("n_tok"))
      .select(col("doc_id"), col("start_tok"), col("n_tok"))
  }

  private[graft] def spanExtents(g: DataFrame, hits: DataFrame, k: Int,
      idCol: String): DataFrame = {
    val ext = extentRows(hits, k)
    val per = ext.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("n_tok")).as("dup_tokens"))
    g.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id").as(idCol),
        col("n_grams").cast("long").as("n_grams"),
        coalesce(col("n_dup_spans"), lit(0L)).cast("long")
          .as("n_dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).cast("long").as("dup_tokens"),
        (coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          (col("n_grams") + (k - 1)).cast("double")).as("dup_ratio"))
  }

  /** The staged dedup CASCADE — the production web-pipeline shape
    * (RefinedWeb/FineWeb run exactly this order): exact dedup first
    * (cheap hash groupBy collapses the bulk), then MinHash+LSH
    * near-dup detection over the surviving representatives only, then
    * connected components turn verified pairs into clusters with one
    * canonical keeper each. Every document gets its final canonical id
    * and the stage that removed it:
    *
    *   - `kept`  — the canonical document of its cluster (or untouched);
    *   - `exact` — removed by the exact stage (byte-identical to a
    *     lower-id document after whitespace canonicalization);
    *   - `near`  — survived exact dedup as a representative, but its
    *     near-dup cluster has a lower-id canonical.
    *
    * keep_id is the CLUSTER minimum (not the exact-group minimum), so
    * the (doc → keep_id) mapping is the one downstream attribution
    * joins want — every removed document points at the document that
    * actually remains. Documents under the 3-word shingle floor pass
    * through `kept` untouched (the [[minhashPairs]] floor: no shingle,
    * no signature; dedup short texts with [[exact]]).
    *
    * Scale shape: stage order IS the scale argument — the exact
    * collapse is one map-side-combinable hash groupBy over the full
    * corpus, and everything pairwise (signatures, banded join, Jaccard
    * verification) runs on representatives only, with the duplicate
    * mass already gone; components run on the pair list via star
    * edges (LINEAR in duplicates — never the quadratic within-group
    * expansion); the final labeling is two narrow left joins against
    * per-doc frames. Output: (<id>, keep_id, stage), one row per
    * input document. */
  def cascade(docs: DataFrame, minJac: Double = 0.8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val canon = docs.select(col(idCol).as("doc_id"),
      col(textCol).as("text"))
    val (members, rp) = repPairs(canon, minJac)
    cascadeOf(canon.select(col("doc_id")), members, rp, idCol)
  }

  /** [[cascade]] over an ALREADY-DERIVED (members, repPairs) pipeline
    * result — the q148 binding feeds the session memo here so a
    * cascade after q27/q53 never re-runs the LSH pipeline (the
    * pairs-then-clusters discipline). `ids`: one `doc_id` row per
    * corpus document. */
  private[graft] def cascadeOf(ids: DataFrame, members: DataFrame,
      rp: DataFrame, idCol: String): DataFrame = {
    // components over rep pairs + one star edge per exact-dup member:
    // identical reachable sets to clustering the expanded doc-level
    // pairs (a group is a clique there, a star here), at edge count
    // |rep pairs| + |exact dups| — linear in duplicates
    val star = members.where(col("doc_id") =!= col("rep"))
      .select(col("doc_id").as("d1"), col("rep").as("d2"))
    val comp = graft.plans.Components.keepList(
        rp.select(col("d1"), col("d2")).unionByName(star))
      .select(col("id").as("doc_id"), col("keep_id"))
    val lbl = coalesce(col("keep_id"), col("doc_id"))
    ids
      .join(members.select(col("doc_id"), col("rep")), Seq("doc_id"),
        "left")
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id").as(idCol), lbl.as("keep_id"),
        when(col("rep").isNull, lit("kept")) // under the shingle floor
          .when(col("doc_id") =!= col("rep"), lit("exact"))
          .when(lbl < col("doc_id"), lit("near"))
          .otherwise(lit("kept")).as("stage"))
  }

  // ------------------------------------------------- shared internals
  // (private[graft]: the q-entry orchestration in graft.queries builds
  // its memoized / artifact-backed variants from the same pieces)

  /** Exact set-overlap counts for candidate pairs via exploded
    * intersection counts: |A∩B| from an equi-join on the shingle-hash
    * rows, plus both set sizes. Pairs with an empty intersection drop
    * out of the join — correct under any positive threshold on any
    * overlap measure. Reads `sh` three times (e1, e2, sizes) — callers
    * cache/checkpoint it. PRECONDITION: `sh` must be distinct on
    * (doc_id, h) — duplicate rows inflate `inter` multiplicatively and
    * the sizes to multiset counts, silently corrupting every overlap
    * measure downstream; callers `.distinct()` the shingle frame (the
    * doc-grain [[pairOverlapArrays]] form has no such precondition —
    * its `collect_set` dedupes). Kept as the DEFAULT overlap shape:
    * the doc-grain array form below measured faster only for the
    * composed crawl-ingest verify (single-read property), and SLOWER
    * for the batch blocked-verify family (r17 A/B, see
    * OPTIMIZATION_r17.md). */
  private[graft] def pairOverlap(cand: DataFrame,
      sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val e1 = sh.select(col("doc_id").as("d1"), col("h"))
    val e2 = sh.select(col("doc_id").as("d2"), col("h"))
    cand.join(e1, "d1").join(e2, Seq("d2", "h"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
  }

  /** Doc-grain overlap: ONE `collect_set` aggregation folds the
    * shingle rows to a per-doc set (map-side partial agg dedupes, so
    * callers need NOT `.distinct()` the shingle frame), then the pair
    * frame joins the doc arrays once per side and the intersection is
    * a codegen'd `array_intersect` per pair — reads `sh` exactly ONCE,
    * which is what the composed crawl-ingest verify wants (its `sh` is
    * a union of a cut-pushed old-corpus re-shingle and checkpointed
    * epoch grams — re-deriving it 3x costs more than the array
    * shuffle). Same output as [[pairOverlap]] for callers that
    * threshold on positive overlap (empty intersections dropped).
    *
    * Scale note: the per-doc array is doc-length-bounded (shingle
    * count ≈ token count), the same per-row bound every `collect_*`
    * aggregation in this file already accepts; candidate pairs are
    * banding-bounded upstream ([[capBuckets]]), so the join fan-out is
    * the candidate count, never a corpus square. */
  private[graft] def pairOverlapArrays(cand: DataFrame,
      sh: DataFrame): DataFrame = {
    val docArr = sh.groupBy(col("doc_id"))
      .agg(collect_set(col("h")).as("hs"))
    cand
      .join(docArr.select(col("doc_id").as("d1"), col("hs").as("hs1"),
        size(col("hs")).cast("long").as("n1")), "d1")
      .join(docArr.select(col("doc_id").as("d2"), col("hs").as("hs2"),
        size(col("hs")).cast("long").as("n2")), "d2")
      .select(col("d1"), col("d2"),
        size(array_intersect(col("hs1"), col("hs2"))).cast("long")
          .as("inter"),
        col("n1"), col("n2"))
      // the exploded shape dropped empty-intersection pairs (inner
      // join on shared h); callers threshold on positive overlap and
      // some count output rows — keep that contract exactly
      .where(col("inter") > 0)
  }

  /** Exact Jaccard |A∩B| / (n1 + n2 − |A∩B|) over [[pairOverlap]]. */
  private[graft] def pairJaccard(cand: DataFrame,
      sh: DataFrame): DataFrame =
    pairOverlap(cand, sh)
      .select(col("d1"), col("d2"),
        (col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")).cast("double")).as("jac"))

  /** Exact Jaccard over [[pairOverlapArrays]] — the single-read form. */
  private[graft] def pairJaccardArrays(cand: DataFrame,
      sh: DataFrame): DataFrame =
    pairOverlapArrays(cand, sh)
      .select(col("d1"), col("d2"),
        (col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")).cast("double")).as("jac"))

  /** Degenerate-input guard for bucket self-joins: buckets larger than
    * `graft.dedup.maxBucket` (default 2000 — far above anything real
    * data produces AFTER exact-duplicate collapse, so oracle parity at
    * the test SFs is unaffected) are DROPPED from candidate generation,
    * loudly: the skip count and largest bucket land in
    * [[graft.tools.DedupGuard]] and a WARN log line.
    *
    * ONE bounded job computes bucket sizes and collects only the
    * OVERSIZED keys — pathological, few by construction. The all-clear
    * common case then returns `keyed` untouched, so candidate generation
    * pays NOTHING downstream: no second stats job, no filter join
    * re-running the upstream aggregate (the r4/r5 advice item — the old
    * shape forced the pipeline once for a `.head()` stats probe and again
    * for the size join). When oversized keys exist they are removed by a
    * broadcast anti-join on the collected list; should an adversarial
    * input produce more oversized keys than `graft.dedup.maxOversizedKeys`
    * (default 10k — remember each IS a >cap-doc bucket), the guard stays
    * distributed: anti-join against the oversized-key frame itself.
    *
    * `cap` is the largest bucket kept — the banded/blocked joins pass
    * `graft.dedup.maxBucket`; the cluster-keyed SemDeDup joins pass
    * `graft.semdedup.maxCluster` (or [[Embed.semdedupKeep]]'s
    * `maxCluster`) because cluster size is controlled by a different
    * deployment lever (k ∝ N) than bucket size. */
  private[graft] def capBuckets(keyed: DataFrame, keys: Seq[String],
      s: SparkSession, what: String, cap: Int): DataFrame = {
    val maxKeys = Conf.DedupMaxOversizedKeys(s)
    val oversized = keyed.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bsz"))
      .where(col("bsz") > cap)
    val bad = oversized.limit(maxKeys + 1).collect()
    if (bad.isEmpty) keyed
    else if (bad.length <= maxKeys) {
      graft.tools.DedupGuard.noteSkipped(
        bad.length.toLong, bad.map(_.getLong(keys.length)).max, cap, what)
      val badKeys = s.createDataFrame(
          java.util.Arrays.asList(bad: _*), oversized.schema)
        .select(keys.map(col): _*)
      keyed.join(broadcast(badKeys), keys, "left_anti")
    } else {
      val stats = oversized
        .agg(count(lit(1)).as("n"), max(col("bsz")).as("mx")).head()
      graft.tools.DedupGuard.noteSkipped(
        stats.getLong(0), stats.getLong(1), cap, what)
      keyed.join(oversized.select(keys.map(col): _*), keys, "left_anti")
    }
  }

  // r18 NOTE — capBucketsFused (window bucket-count inside the probe
  // materialization, cap as a lazy filter, guard on an overlapped
  // future) was implemented, oracle-verified (216/216) and then
  // REVERTED on measurement: interleaved fresh-JVM A/B at sf0.1
  // (9 dedup-family queries, 3 rounds, minima) showed the fused shape
  // SLOWER everywhere it mattered — q62 1.41×, q67 1.29×, q27 1.20×,
  // epoch paths 1.02–1.08× — because the window's full-row
  // shuffle+sort inside the materialization costs more than the one
  // small stats job it removes (that job aggregates map-side and
  // ships only per-bucket partial counts). Numbers and protocol in
  // OPTIMIZATION_r18.md.

  /** Exact recovery of the doc-level near-dup answer from rep-level
    * pairs: within-group pairs at similarity exactly 1, cross pairs at
    * their representatives' similarity. */
  private[graft] def expandRepPairs(members: DataFrame,
      repPairs: DataFrame, measure: String = "jac"): DataFrame = {
    val within = members.as("x").join(members.as("y"),
        col("x.gk") === col("y.gk") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        lit(1.0d).as(measure))
    val m1 = members.select(col("rep").as("d1"), col("doc_id").as("m1"))
    val m2 = members.select(col("rep").as("d2"), col("doc_id").as("m2"))
    val cross = repPairs.join(m1, "d1").join(m2, "d2")
      .select(least(col("m1"), col("m2")).as("d1"),
        greatest(col("m1"), col("m2")).as("d2"), col(measure))
    within.unionByName(cross)
  }

  /** 16-permutation MinHash signatures (doc_id, m0..m15) — codegen'd
    * MIN aggregates over the shingle rows, map-side partial agg; only
    * 16 longs per doc cross the wire, never the shingles. */
  private[graft] def minhashSignatures(docs: DataFrame): DataFrame =
    minhashSignaturesOf(shingleHashRows(docs, 3))

  /** [[minhashSignatures]] over an ALREADY-DERIVED shingle-hash frame
    * (doc_id, h) — the composed crawl-ingest job (q109) feeds its one
    * shared gram pass here instead of re-shingling. */
  private[graft] def minhashSignaturesOf(sh: DataFrame): DataFrame = {
    val minCols = (0 until 16).map(j =>
      min((col("h") * (2 * j + 3) + (j * j + 1)) % P).as(s"m$j"))
    sh.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
  }

  /** Banded MinHash signatures of a `doc_id`/`text` frame: one row per
    * (doc_id, band_idx, band_key), 4 bands × 4 rows. */
  private[graft] def minhashBands(docs: DataFrame): DataFrame =
    bandRows(minhashSignatures(docs))

  /** LSH band rows (doc_id, band_idx, band_key) from a signature frame
    * (doc_id, m0..m15) — 4 bands × 4 rows per signature. */
  private[graft] def bandRows(sigs: DataFrame): DataFrame = {
    val bandKeys = array((0 until 4).map { b =>
      hash60(concat_ws(",",
        (0 until 4).map(r => col(s"m${b * 4 + r}").cast("string")): _*))
    }: _*)
    sigs.select(col("doc_id"),
      posexplode(bandKeys).as(Seq("band_idx", "band_key")))
  }

  /** Times [[repPairs]] actually ran — the plan-pin counter for the
    * single-derivation property: memo consumers (q53/q73/q74/q77) must
    * never re-run the LSH pipeline within a session. */
  private[graft] val repPairComputes =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Physical plan of the last [[repPairs]] candidate bucket-join,
    * captured for plan-quality tests (the join runs eagerly inside the
    * pipeline, so it does not appear in q27's returned plan). */
  @volatile private[graft] var lastCandidatePlan: String = ""

  /** The shared MinHash+LSH candidate/verify pipeline over a canonical
    * `doc_id`/`text` frame: exact-dup collapse → 16-perm minhash over
    * representatives → 4×4 banded bucket-join (capped) → exact-Jaccard
    * verification ≥ `minJac`. Returns (members, repPairs), both
    * localCheckpoint-materialized (see the q27 entry docs for the full
    * scale argument). */
  private[graft] def repPairs(d: DataFrame,
      minJac: Double = 0.8): (DataFrame, DataFrame) = {
    val s = d.sparkSession
    repPairComputes.incrementAndGet()
    val members = exactGroups(d)
      .localCheckpoint() // one narrow row per doc — corpus-growth, so
      // checkpoint (executor disk), never cache
    val reps = members.where(col("doc_id") === col("rep"))
      .select(col("doc_id"))
    // Representative restriction BEFORE shingling: only rep documents
    // are ever shingled or minhashed (expandRepPairs reconstructs the
    // rest exactly). The broadcast hint pins the small build side at
    // test SFs; a 100 TB deployment drops the hint and lets AQE plan
    // the semi-join.
    val repDocs = d.join(broadcast(reps), Seq("doc_id"), "left_semi")
    val banded = capBuckets(
      minhashBands(repDocs)
        .localCheckpoint(), // 3 narrow cols × 4 rows per rep; the cap's
      // size job and both self-join sides would otherwise each re-run
      // the 16-min aggregate over the rep shingle stream. (r18:
      // window-count cap fusion tried and REVERTED on interleaved A/B
      // — q27 1.20× slower — see OPTIMIZATION_r18.md)
      Seq("band_idx", "band_key"), s, "q27 LSH bands",
      Conf.DedupMaxBucket(s))
    val a = banded.as("a"); val b = banded.as("b")
    val candLazy = a.join(b,
      col("a.band_idx") === col("b.band_idx") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    lastCandidatePlan = candLazy.queryExecution.executedPlan.toString
    val cand = candLazy
      .localCheckpoint() // eager + tiny: read to build the candDocs
      // broadcast AND by the verify join
    val candDocs = cand.select(col("d1").as("doc_id"))
      .unionByName(cand.select(col("d2").as("doc_id"))).distinct()
    val candSh = shingleHashRows(
        d.join(broadcast(candDocs), Seq("doc_id"), "left_semi"), 3)
      .distinct()
      .cache() // pairJaccard reads it three times (e1, e2, sizes)
    val verified = pairJaccard(cand, candSh)
      .where(col("jac") >= minJac)
      .localCheckpoint()
    candSh.unpersist()
    (members, verified)
  }
}
