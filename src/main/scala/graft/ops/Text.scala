package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Public text-analysis operators: DataFrame in, DataFrame out, column
  * names chosen by the caller — the library surface a user points at
  * THEIR corpus (any schema) rather than the driver testdata layout.
  * Each op documents its output schema; per-document outputs keep the
  * caller's id column name.
  *
  * All of `graft.ops` follows the engine's house rules: whole-stage
  * codegen expressions only (no UDFs, no interpreted lambda HOFs in hot
  * paths), integer arithmetic until a final division where determinism
  * matters, and shuffle shapes that survive a 1000-executor cluster —
  * see SCALE.md. The q-entries in [[graft.queries]] are thin bindings
  * over these ops, so every operator here is covered by the DuckDB
  * correctness oracle.
  */
object Text {

  /** Stopword seeds per language for [[langId]]'s ratio signal. */
  private[graft] val langs: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "fr" -> Seq("le", "une", "et", "est", "du"))

  /** Common-English character-trigram profile for [[langId]]. */
  private[graft] val enTrigrams = Seq(
    "the", "and", "ing", "ion", "ent", "er ", "he ", " th", "on ", "at ")

  /** Per-document quality statistics — one codegen'd projection, no
    * shuffle. Output: (<id>, n_chars, n_words, n_tokens, punct_ratio,
    * mean_word_len). */
  def stats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol),
      charCount(col(textCol)).as("n_chars"),
      wordCount(col(textCol)).as("n_words"),
      bpeTokenCount(col(textCol)).as("n_tokens"),
      punctRatio(col(textCol)).as("punct_ratio"),
      meanWordLen(col(textCol)).as("mean_word_len"))

  /** Stopword-ratio + character-trigram language ID with a fixed-priority
    * argmax (en > es > de > fr on ties; "und" when no signal). Input
    * columns other than `textCol` pass through unchanged; output appends
    * (score_en_3g, score_<lang>..., lang_pred). Shuffles only narrow
    * (id, trigram)/(id, token) rows; both aggregates combine map-side. */
  def langId(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val s = docs.sparkSession
    val d = docs.repartition(s.sparkContext.defaultParallelism, col(idCol))
    val others = docs.columns.filterNot(_ == textCol).toSeq
    val lc = lower(col(textCol))
    // distinct() once then plain counts: two countDistinct columns would
    // plan an Expand ×2 of the (doc, trigram) rows
    val tgAgg = d.select(col(idCol), lc.as("lc"))
      .where(length(col("lc")) >= 3)
      .select(col(idCol), col("lc"),
        explode(sequence(lit(1), length(col("lc")) - 2)).as("i"))
      .select(col(idCol), substr(col("lc"), col("i"), lit(3)).as("tg"))
      .distinct()
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tg"),
        sum(when(col("tg").isin(enTrigrams: _*), 1L).otherwise(0L))
          .as("n_en_tg"))
    val swAggs = count(lit(1)).as("nw") +: langs.map { case (l, sw) =>
      sum(when(col("w").isin(sw: _*), 1).otherwise(0)).as(s"c_$l")
    }
    val swAgg = d.select(col(idCol), explode(words(col(textCol))).as("w"))
      .groupBy(col(idCol))
      .agg(swAggs.head, swAggs.tail: _*)
    val scored = d.select(others.map(col): _*)
      .join(tgAgg, Seq(idCol), "left")
      .join(swAgg, Seq(idCol), "left")
      .select(
        (others.map(col) ++
          (coalesce(col("n_en_tg").cast("double") /
            col("n_tg").cast("double"), lit(0.0d)).as("score_en_3g") +:
            langs.map { case (l, _) =>
              (col(s"c_$l").cast("double") / col("nw").cast("double"))
                .as(s"score_$l")
            })): _*)
    val pred = langs.foldRight(lit("und"): Column) { case ((l, _), els) =>
      val c = col(s"score_$l")
      val beatsRest = langs.filter(_._1 != l)
        .map(o => c >= col(s"score_${o._1}")).reduce(_ && _)
      when(c > 0 && beatsRest, lit(l)).otherwise(els)
    }
    scored.withColumn("lang_pred", pred)
  }

  /** Order-sensitive rolling document fingerprint (polynomial hash over
    * token hashes, mod 2^31−1) — the codegen'd positional-sum
    * formulation of [[graft.functions.TextFunctions.fingerprint]].
    * Output: (<id>, fp). Documents over 8192 words fail loudly. */
  def fingerprint(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val s = docs.sparkSession
    val canon = docs.select(col(idCol).as("doc_id"),
      col(textCol).as("text"))
    fingerprintRows(canon.repartition(
        s.sparkContext.defaultParallelism, col("doc_id")))
      .withColumnRenamed("doc_id", idCol)
  }

  /** Built-in PII detector patterns (label → regex) for [[scrub]],
    * ordered as applied. Restricted to regex syntax with identical
    * semantics in Java (Spark) and RE2 (the DuckDB oracle): character
    * classes, bounded quantifiers, `\b`, non-capturing groups — no
    * backrefs, no lookaround, no prefix-overlapping alternations. */
  val piiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ssn" -> "\\b\\d{3}-\\d{2}-\\d{4}\\b",
    "ipv4" -> "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b",
    "phone" -> "(?:\\+?\\d{1,2}[-. ])?\\(?\\d{3}\\)?[-. ]\\d{3}[-. ]?\\d{4}\\b")

  /** Whole-word alternation pattern over plain-word `terms` (no regex
    * metacharacters — validated), for blocklist [[scrub]] passes. */
  def blocklistPattern(terms: Seq[String]): String = {
    require(terms.nonEmpty, "empty blocklist")
    terms.foreach(t => require(t.matches("[A-Za-z0-9]+"),
      s"blocklist term '$t' must be a plain word"))
    terms.mkString("\\b(?:", "|", ")\\b")
  }

  /** Pattern-scrub battery — PII redaction / term-blocklist enforcement
    * as ONE single-pass codegen'd projection (chained `regexp_replace`,
    * per-pattern `regexp_extract_all` counts), no shuffle, no UDFs.
    * Output: (<id>, n_<label> per pattern counted on the RAW text,
    * n_redactions, clean_text). Patterns apply in sequence, so an
    * earlier pattern's replacement token is never re-matched by a later
    * pattern as long as tokens stay outside the pattern alphabets
    * (uppercase bracketed labels vs. lowercase/digit matchers — the
    * built-ins obey this). Known count/replacement divergence: counts
    * run on the RAW text while replacements chain, so a later pattern
    * can redact a span only EXPOSED by an earlier replacement's token
    * boundary ("a@b.co123-45-6789" → clean_text "[EMAIL][SSN]" with
    * n_ssn = 0 — on the raw text the SSN digits sit inside a longer
    * word, so `\b` rejects them). n_<label> is therefore "matches in
    * the original document", a lower bound on redactions actually
    * applied; the DuckDB oracle uses the identical construction, so
    * parity is unaffected. Null text passes through as null with zero
    * counts. At 100 TB this is pure map-side work: the regex battery
    * rides the scan, nothing shuffles, and filters on the count columns
    * (e.g. `n_redactions = 0` for a strict drop policy) stay pushable. */
  def scrub(docs: DataFrame, patterns: Seq[(String, String)] = piiPatterns,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(patterns.nonEmpty, "scrub needs at least one pattern")
    val counts = patterns.map { case (lbl, re) =>
      // NULL-text guard ahead of size(): legacy sizeOfNull returns -1
      // instead of NULL, which coalesce would pass through — the
      // explicit when() matches the oracle's 0 under any conf (the
      // q98/q100 rule)
      when(col(textCol).isNull, lit(0L))
        .otherwise(coalesce(
          size(regexp_extract_all(col(textCol), lit(re), lit(0)))
            .cast("long"), lit(0L)))
        .as(s"n_$lbl")
    }
    val clean = patterns.foldLeft(col(textCol)) { case (c, (lbl, re)) =>
      regexp_replace(c, lit(re), lit(s"[${lbl.toUpperCase}]"))
    }
    docs.select(col(idCol) +: counts :+ clean.as("clean_text"): _*)
      .withColumn("n_redactions",
        patterns.map(p => col(s"n_${p._1}")).reduce(_ + _))
      .select(col(idCol) +: patterns.map(p => col(s"n_${p._1}")) ++:
        Seq(col("n_redactions"), col("clean_text")): _*)
  }

  /** CC-Net-style text normalization (Wenzek et al.,
    * arXiv:1911.00359, `text_normalizer.py` in the public cc_net
    * repo) — the canonicalization dedup
    * pipelines run BEFORE hashing so that trivially-variant copies
    * ("Café #1!" vs "cafe  # 2") collapse: lowercase, accent
    * stripping (the native [[graft.functions.UnaccentExpr]] —
    * NFD + combining-mark removal, DuckDB `strip_accents`), digits
    * folded to `0` (CC-Net's number canonicalization: versioned or
    * paginated copies hash together), ASCII punctuation replaced by
    * spaces, whitespace collapsed and trimmed. Each step is
    * independently switchable; the steps apply in that fixed order.
    * Output: (<id>, norm_text, n_chars_raw, n_chars_norm) for every
    * input row (null text passes through as null, the scrub
    * convention — normalization is a projection, not a filter).
    *
    * Scale shape: ONE exchange-free generator-less projection riding
    * the scan — every step is a codegen'd native expression
    * (lower / UnaccentExpr / regexp_replace), so the whole op fuses
    * into the scan's WholeStageCodegen span; nothing shuffles,
    * nothing aggregates. */
  def normalize(docs: DataFrame, lowercase: Boolean = true,
      stripAccents: Boolean = true, digitsToZero: Boolean = true,
      punctToSpace: Boolean = true, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val c = normalizeCol(col(textCol), lowercase, stripAccents,
      digitsToZero, punctToSpace)
    docs.select(col(idCol),
      c.as("norm_text"),
      length(col(textCol)).cast("long").as("n_chars_raw"),
      length(c).cast("long").as("n_chars_norm"))
  }

  /** Column form of [[normalize]] — the single definition other ops
    * reuse (e.g. [[graft.ops.Dedup.paraDedup]]'s normalized census
    * keys). */
  def normalizeCol(in: Column, lowercase: Boolean = true,
      stripAccents: Boolean = true, digitsToZero: Boolean = true,
      punctToSpace: Boolean = true): Column = {
    var c = in
    if (lowercase) c = lower(c)
    if (stripAccents) c = unaccent(c)
    if (digitsToZero) c = regexp_replace(c, "[0-9]", "0")
    if (punctToSpace) c = regexp_replace(c, "[!-/:-@\\[-`{-~]", " ")
    trim(regexp_replace(c, "\\s+", " "))
  }

  /** Cross-document boilerplate scoring — the C4/RefinedWeb curation
    * step q48 (within-doc repetition) cannot see: an n-gram is
    * BOILERPLATE for a group (site/source/domain, `srcCol`) when it
    * recurs across ≥ max(`minDf`, ceil(`dfFrac`·|group docs|)) distinct
    * documents of that group — navigation chrome, footers, templates.
    * Output: (<id>, <src>, n_grams, n_boiler, boiler_ratio) per ≥n-word
    * document; filter on `boiler_ratio` to drop template-dominated docs.
    *
    * Scale shape: ONE generator pass derives distinct (doc, group, gram
    * hash) rows; document frequencies and group sizes are map-side-
    * combinable aggregates (group-size frame is ≤ |groups| rows and
    * broadcasts); the boilerplate-gram set joins back group+hash-keyed
    * (AQE broadcasts it while it fits). No all-pairs surface anywhere —
    * cost is corpus-linear in gram rows. */
  def boilerplate(docs: DataFrame, n: Int = 3, minDf: Int = 2,
      dfFrac: Double = 0.05, idCol: String = "doc_id",
      textCol: String = "text", srcCol: String = "source"): DataFrame = {
    // n >= 3: the gram stream rides shingleHashRows' >=3-word document
    // filter, so 1/2-gram requests would silently drop 1-2-word docs
    // from both the row set and the group sizes — reject them loudly
    require(n >= 3 && minDf >= 2 && dfFrac >= 0.0,
      "need n >= 3 (shingle floor), minDf >= 2, dfFrac >= 0")
    val g = gramSetRows(docs, n, idCol, textCol, srcCol)
      .localCheckpoint() // corpus-growth frame read by nd, df, per-doc
    boilerRatioOf(g, boilerSetOf(g, minDf, dfFrac)
      .withColumn("b", lit(1)), idCol, srcCol)
  }

  /** Distinct (doc_id, src, h) n-gram rows — the shared gram set of
    * [[boilerplate]], [[boilerGramFrame]] and [[boilerScore]]. */
  private def gramSetRows(docs: DataFrame, n: Int, idCol: String,
      textCol: String, srcCol: String): DataFrame =
    shingleHashRows(
        docs.select(col(idCol).as("doc_id"), col(srcCol).as("src"),
          col(textCol).as("text")), n, Seq("src"))
      .select(col("doc_id"), col("src"), col("h")).distinct()

  /** The boilerplate set over a pre-derived gram frame. */
  private def boilerSetOf(g: DataFrame, minDf: Int,
      dfFrac: Double): DataFrame = {
    val nd = g.select(col("src"), col("doc_id")).distinct()
      .groupBy(col("src")).agg(count(lit(1)).as("nd"))
    g.groupBy(col("src"), col("h")).agg(count(lit(1)).as("df"))
      .join(broadcast(nd), Seq("src"))
      .where(col("df") >=
        greatest(lit(minDf.toLong), ceil(col("nd") * lit(dfFrac))))
      .select(col("src"), col("h"))
  }

  /** Per-doc ratio of grams in the (src, h, b=1) hit set. */
  private def boilerRatioOf(g: DataFrame, hits: DataFrame,
      idCol: String, srcCol: String): DataFrame =
    g.join(hits, Seq("src", "h"), "left")
      .groupBy(col("doc_id"), col("src"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("b"), lit(0))).as("n_boiler"))
      .select(col("doc_id").as(idCol), col("src").as(srcCol),
        col("n_grams"), col("n_boiler"),
        (col("n_boiler").cast("double") / col("n_grams").cast("double"))
          .as("boiler_ratio"))

  /** The per-group boilerplate gram set (src, h) alone — what a crawl
    * loop PERSISTS per snapshot so batches can score against a frozen
    * template inventory ([[boilerScore]], the q69/q105 frozen-LM
    * discipline applied to template detection). */
  def boilerGramFrame(docs: DataFrame, n: Int = 3, minDf: Int = 2,
      dfFrac: Double = 0.05, idCol: String = "doc_id",
      textCol: String = "text", srcCol: String = "source"): DataFrame = {
    require(n >= 3 && minDf >= 2 && dfFrac >= 0.0,
      "need n >= 3 (shingle floor), minDf >= 2, dfFrac >= 0")
    boilerSetOf(gramSetRows(docs, n, idCol, textCol, srcCol),
      minDf, dfFrac)
  }

  /** Score a batch against a FROZEN boilerplate set ((src, h) — from
    * [[boilerGramFrame]], usually read back from a persisted
    * artifact): per batch doc, the fraction of its distinct grams in
    * the frozen set. Membership discipline: the batch's gram keys
    * broadcast against the artifact scan, hits broadcast back — the
    * old corpus is never read, cost is batch-proportional. A source
    * unseen at snapshot time scores 0 (no frozen inventory yet) —
    * n_oov-style drift shows up as a new source's ratios jumping once
    * the NEXT snapshot owns its templates. */
  def boilerScore(batch: DataFrame, boilerSet: DataFrame, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text",
      srcCol: String = "source"): DataFrame =
    boilerScoreImpl(batch, boilerSet, n, idCol, textCol, srcCol,
      capture = false)

  /** [[boilerScore]] with the q114 plan-pin capture. `capture` costs
    * two extra executedPlan compilations and a shared @volatile write,
    * so ONLY the q114 binding/spec turns it on — production calls
    * through the public signature never pay it (the kmeansCentroids
    * capture-flag convention). */
  private[graft] def boilerScoreImpl(batch: DataFrame,
      boilerSet: DataFrame, n: Int, idCol: String, textCol: String,
      srcCol: String, capture: Boolean): DataFrame = {
    val gLazy = gramSetRows(batch, n, idCol, textCol, srcCol)
    val g = gLazy
      .localCheckpoint() // batch-bounded; read by the key set + ratio
    val keys = g.select(col("src"), col("h")).distinct()
    val hitsLazy = boilerSet.select(col("src"), col("h"))
      .join(broadcast(keys), Seq("src", "h"), "left_semi")
      .withColumn("b", lit(1))
    if (capture) lastBoilerScorePlans =
      gLazy.queryExecution.executedPlan.toString +
        "\n-- hits --\n" + hitsLazy.queryExecution.executedPlan.toString
    val hits = hitsLazy
      .localCheckpoint() // ≤ |batch gram keys| — broadcastable
    boilerRatioOf(g, broadcast(hits), idCol, srcCol)
  }

  /** Physical plans of [[boilerScoreImpl]]'s gram pass and artifact
    * probe (captured pre-checkpoint when `capture` is on), for the
    * q114 plan pin: the only generator is the batch's own, and the old
    * corpus contributes via the frozen-set scan alone. */
  @volatile private[graft] var lastBoilerScorePlans: String = ""

  /** C4-style quality-flag battery — one single-pass, fully codegen'd
    * projection. Output: (<id>, <extra...>, n_words, punct_ratio,
    * mean_word_len, stopword_ratio, pass_len, pass_mwl, pass_punct,
    * pass_stop, keep). `extra` columns (e.g. a source label) ride
    * through for downstream grouping. */
  def qualityFlags(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", extra: Seq[String] = Nil): DataFrame = {
    val nw = wordCount(col(textCol))
    val swr = size(regexp_extract_all(col(textCol),
        lit("\\b(the|a|of|and|is)\\b"), lit(0))).cast("double") /
      nw.cast("double")
    val keyCols = col(idCol) +: extra.map(col)
    docs.select(keyCols ++ Seq(nw.as("n_words"),
        punctRatio(col(textCol)).as("punct_ratio"),
        meanWordLen(col(textCol)).as("mean_word_len"),
        swr.as("stopword_ratio")): _*)
      .select(keyCols ++ Seq(col("n_words"),
        col("punct_ratio"), col("mean_word_len"), col("stopword_ratio"),
        (col("n_words") >= 20 && col("n_words") <= 1000)
          .cast("int").as("pass_len"),
        (col("mean_word_len") >= 3.0d && col("mean_word_len") <= 5.0d)
          .cast("int").as("pass_mwl"),
        (col("punct_ratio") <= 0.3d).cast("int").as("pass_punct"),
        (col("stopword_ratio") >= 0.02d).cast("int").as("pass_stop")): _*)
      .withColumn("keep",
        (col("pass_len") === 1 && col("pass_mwl") === 1 &&
          col("pass_punct") === 1 && col("pass_stop") === 1).cast("int"))
  }

  /** The FULL Gopher quality-rule battery (Rae et al., "Scaling
    * Language Models: Methods, Analysis & Insights from Training
    * Gopher", arXiv:2112.11446, Table A1) — the published rule set
    * next to [[qualityFlags]]'s compact heuristic battery and
    * [[repetition]]'s within-document signals:
    *
    *   r_words:   50 ≤ word count ≤ 100,000
    *   r_mwl:     mean word length in [3, 10] characters
    *   r_sym:     symbol-to-word ratio ≤ 0.1 for '#' AND for '...',
    *              each tested independently (Table A1 lists the two
    *              symbols as separate applications of the ratio — a
    *              doc with 6% hashes plus 6% ellipses passes)
    *   r_bullet:  ≤ 90% of lines start with a bullet (-, *, •)
    *   r_ellipsis:≤ 30% of lines end with an ellipsis
    *   r_alpha:   ≥ 80% of words contain ≥ 1 alphabetic character
    *   r_stop:    ≥ 2 of {the, be, to, of, and, that, have, with}
    *
    * Engine grade: every threshold compares EXACT integers (the ratio
    * bounds cross-multiply — 10·n_hash ≤ n_words, 10·n_alpha ≥
    * 8·n_words, 3·n_words ≤ n_chars ≤ 10·n_words — so no float ever
    * enters a verdict and the DuckDB oracle matches bit-for-bit).
    * Blank/null documents are excluded (the [[chunk]] convention).
    * All counts are computed on \r-stripped text: Java's MULTILINE
    * ^/$ treat \r and \r\n as line terminators while DuckDB's RE2
    * (?m) only recognizes \n, so CRLF documents would otherwise count
    * different bullet/ellipsis lines on the two engines — stripping
    * \r on BOTH sides makes every line count engine-invariant (lone
    * \r, the pre-OSX convention, joins its neighbors by design).
    *
    * Scale shape: one scan-riding projection computes every text-level
    * count (lines, bullets, ellipses, symbols, stop-word presence);
    * the per-word alphabetic test is one explode into a
    * map-side-combinable per-doc sum (the [[stats]] shape) joined
    * back at doc grain. Output: (<id>, the counts, one boolean per
    * rule, keep = AND of all). */
  def gopherQuality(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val base = docs
      .where(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
    val stopWords =
      Seq("the", "be", "to", "of", "and", "that", "have", "with")
    // every count runs on \r-stripped text so Java and RE2 MULTILINE
    // anchors see identical lines (see the Scaladoc CRLF note)
    val t = regexp_replace(col(textCol), "\r", "")
    val nStop = stopWords
      .map(w => when(t.rlike(s"\\b$w\\b"), 1L).otherwise(0L))
      .reduce(_ + _)
    val perDoc = base.select(col(idCol).as("doc_id"),
      wordCount(t).cast("long").as("n_words"),
      length(regexp_replace(t, "\\s", ""))
        .cast("long").as("n_word_chars"),
      size(split(t, "\n")).cast("long").as("n_lines"),
      size(regexp_extract_all(t,
        lit("(?m)^[ \\t]*[-*•]"), lit(0))).cast("long")
        .as("n_bullet_lines"),
      size(regexp_extract_all(t,
        lit("(?m)\\.\\.\\.[ \\t]*$"), lit(0))).cast("long")
        .as("n_ellipsis_lines"),
      size(regexp_extract_all(t, lit("#"), lit(0)))
        .cast("long").as("n_hash"),
      size(regexp_extract_all(t, lit("\\.\\.\\."), lit(0)))
        .cast("long").as("n_ellipsis"),
      nStop.as("n_stopwords"))
    val alpha = base
      .select(col(idCol).as("doc_id"),
        explode(words(t)).as("w"))
      .where(col("w") =!= "")
      .groupBy(col("doc_id"))
      .agg(sum(when(col("w").rlike("[A-Za-z]"), 1L).otherwise(0L))
        .as("n_alpha_words"))
    perDoc.join(alpha, Seq("doc_id"))
      .select(col("doc_id").as(idCol), col("n_words"),
        col("n_word_chars"), col("n_lines"), col("n_bullet_lines"),
        col("n_ellipsis_lines"), col("n_hash"), col("n_ellipsis"),
        col("n_alpha_words"), col("n_stopwords"),
        (col("n_words") >= 50L && col("n_words") <= 100000L)
          .as("r_words"),
        (lit(3L) * col("n_words") <= col("n_word_chars") &&
          col("n_word_chars") <= lit(10L) * col("n_words")).as("r_mwl"),
        (lit(10L) * col("n_hash") <= col("n_words") &&
          lit(10L) * col("n_ellipsis") <= col("n_words")).as("r_sym"),
        (lit(10L) * col("n_bullet_lines") <= lit(9L) * col("n_lines"))
          .as("r_bullet"),
        (lit(10L) * col("n_ellipsis_lines") <= lit(3L) * col("n_lines"))
          .as("r_ellipsis"),
        (lit(10L) * col("n_alpha_words") >= lit(8L) * col("n_words"))
          .as("r_alpha"),
        (col("n_stopwords") >= 2L).as("r_stop"))
      .withColumn("keep",
        col("r_words") && col("r_mwl") && col("r_sym") &&
          col("r_bullet") && col("r_ellipsis") && col("r_alpha") &&
          col("r_stop"))
  }

  /** Sliding-window document chunking — the long-document splitting
    * primitive of RAG indexing and fixed-context pretraining prep:
    * each document becomes overlapping windows of `window` tokens
    * advancing by `stride`. Chunk starts are 0, stride, 2·stride, …,
    * up to the last start that is needed to cover the final token
    * (⌈max(n−window, 0) / stride⌉·stride) — every token is covered,
    * no chunk is fully contained in its predecessor, and the tail
    * chunk may be shorter than `window` but always ends at the
    * document's last token. Distinct from [[Curate.pack]] (cross-doc
    * sequence packing, no overlap) and q71's content-defined chunking
    * (boundary = content hash, variable length): here boundaries are
    * positional and overlapping by contract, so retrieval windows
    * stay aligned under document edits only locally.
    *
    * Output: (<id>, chunk_idx 0.., start_tok, n_tok, chunk_text).
    * Documents with null/blank text produce no chunks.
    *
    * Scale shape: ONE fully codegen'd generator projection — tokenize,
    * explode the ⌈n/stride⌉-element start sequence, slice — riding
    * whatever scan the pipeline already pays; no shuffle, no state, no
    * UDFs. Chunk rows carry only their own slice (the token array dies
    * with the stage), so output volume is (n/stride)·window tokens per
    * doc — the overlap factor window/stride is the only amplification,
    * chosen by the caller. */
  def chunk(docs: DataFrame, window: Int = 16, stride: Int = 12,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(window >= 1, s"need window >= 1 (got $window)")
    require(stride >= 1 && stride <= window,
      s"need 1 <= stride <= window (got stride=$stride, window=$window)")
    // last chunk index = ⌈max(n−window, 0)/stride⌉ as integer floor of
    // (n−window+stride−1)/stride, clamped at 0 — double division is
    // exact here (operands far under 2^52)
    val lastIdx = greatest(lit(0),
      floor((col("n") - window + (stride - 1)) / lit(stride))).cast("int")
    docs
      .where(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(col(idCol), words(col(textCol)).as("w"))
      .withColumn("n", size(col("w")))
      .select(col(idCol), col("w"), col("n"),
        explode(sequence(lit(0), lastIdx)).as("chunk_idx"))
      .select(col(idCol),
        col("chunk_idx").cast("long").as("chunk_idx"),
        (col("chunk_idx") * stride).cast("long").as("start_tok"),
        least(lit(window), col("n") - col("chunk_idx") * stride)
          .cast("long").as("n_tok"),
        concat_ws(" ",
          slice(col("w"), col("chunk_idx") * stride + 1, lit(window)))
          .as("chunk_text"))
  }

  /** Flesch reading-ease scoring — the classic readability signal
    * quality-classifier stacks use as an education-level proxy:
    * flesch = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/
    * words), computed with the standard large-corpus heuristics made
    * deterministic: sentences = runs of [.!?] (a terminator-free
    * document counts as one sentence), syllables = vowel runs
    * ([aeiouy]+ on the lowercased text — vowel-less tokens contribute
    * 0, silent-e is not special-cased; the heuristic is documented,
    * fixed, and identical in the oracle, which is what a FILTER
    * threshold needs). Lower = harder text; classic prose sits
    * 30–70, gibberish and code fall far outside. Output: (<id>,
    * n_words, n_sents, n_syll, flesch). One codegen'd projection —
    * no shuffle, rides the scan (the stats/qualityFlags shape). */
  def readability(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val nw = wordCount(col(textCol))
    val ns = greatest(
      size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0))),
      lit(1))
    val sy = size(regexp_extract_all(lower(col(textCol)),
      lit("[aeiouy]+"), lit(0)))
    docs.select(col(idCol), nw.as("n_words"), ns.as("n_sents"),
        sy.as("n_syll"))
      .select(col(idCol),
        col("n_words").cast("long").as("n_words"),
        col("n_sents").cast("long").as("n_sents"),
        col("n_syll").cast("long").as("n_syll"),
        (lit(206.835d) -
          lit(1.015d) * (col("n_words").cast("double") /
            col("n_sents").cast("double")) -
          lit(84.6d) * (col("n_syll").cast("double") /
            col("n_words").cast("double"))).as("flesch"))
  }

  /** Per-word symbol string for the BPE family: characters space-joined
    * with boundary spaces and a trailing end-of-word marker, so one
    * merge application is a single literal `replace` (greedy
    * left-to-right non-overlapping on both Spark and the oracle). */
  private def symbolsOf(word: Column, endMark: String): Column =
    concat(lit(" "), regexp_replace(word, "(.)", "$1 "),
      lit(endMark + " "))

  /** BPE vocabulary induction — the iterative pair-merge loop every LLM
    * tokenizer training runs (Sennrich et al., "Neural Machine
    * Translation of Rare Words with Subword Units", arXiv:1508.07909):
    * words split into character symbols (+ end-of-word marker);
    * each round counts adjacent symbol pairs weighted by corpus word
    * frequency, merges the most frequent pair everywhere, repeats.
    *
    * Shaped like [[graft.ops.Embed.kmeans]]: the corpus collapses to
    * the ≤|distinct words| word-frequency table in ONE map-side
    * combinable pass — the only corpus-scale scan; every iteration
    * then runs on that table alone (at 100 TB the word table is
    * millions of rows, not the corpus). Per round: pair generation is
    * a codegen'd slice/zip explode, the count is a map-side combinable
    * integer sum, the argmax is a TakeOrdered with a total tie-break
    * (freq DESC, left ASC, right ASC — deterministic under any
    * partitioning), and the merge applies as one codegen'd literal
    * `replace` projection with the lineage checkpoint-truncated per
    * round. The only driver-side reads are ONE row per iteration (the
    * winning pair — metadata grain, the kmeans-centroid discipline).
    *
    * Output: the merge sequence (merge_rank 1.., left_sym, right_sym,
    * pair_freq) — merge_rank-ordered; feed it to [[bpeEncode]]. Stops
    * early when no pair remains or the best frequency drops below
    * `minFreq`. */
  def bpeVocab(docs: DataFrame, nMerges: Int, textCol: String = "text",
      endMark: String = "</w>", minFreq: Long = 1L): DataFrame = {
    require(nMerges >= 1, s"need nMerges >= 1 (got $nMerges)")
    require(endMark.nonEmpty && !endMark.exists(_.isWhitespace),
      "endMark must be non-empty and whitespace-free")
    val spark = docs.sparkSession
    val wordFreq = docs
      .select(explode(words(col(textCol))).as("word"))
      .where(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(symbolsOf(col("word"), endMark).as("w"), col("cnt"))
    var cur = wordFreq.localCheckpoint()
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var done = false
    while (merges.length < nMerges && !done) {
      val syms = split(trim(col("w")), " ")
      val best = cur
        .select(col("cnt"), explode(arrays_zip(
            slice(syms, lit(1), size(syms) - 1).as("l"),
            slice(syms, lit(2), size(syms) - 1).as("r"))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("freq"))
        .orderBy(col("freq").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty || best.head.getLong(2) < minFreq) done = true
      else {
        val l = best.head.getString(0)
        val r = best.head.getString(1)
        val fq = best.head.getLong(2)
        merges += ((merges.length + 1L, l, r, fq))
        cur = cur.withColumn("w",
            replace(col("w"), lit(s" $l $r "), lit(s" $l$r ")))
          .localCheckpoint()
      }
    }
    import spark.implicits._
    merges.toSeq
      .toDF("merge_rank", "left_sym", "right_sym", "pair_freq")
  }

  /** Apply a trained BPE merge sequence ([[bpeVocab]] order matters) to
    * a corpus — tokenizer inference as ONE fully codegen'd projection:
    * the document becomes a single symbol stream (chars spaced,
    * end-of-word marker between words) and the n merges apply as n
    * chained literal `replace`s. No loop of actions, no shuffle, no
    * state: at 100 TB this rides whatever scan the pipeline already
    * pays, embarrassingly parallel per row. Word-boundedness: word
    * boundaries carry TWO spaces in the internal stream (vs the
    * single space inside a word), so a replacement consuming a
    * word's trailing space can never eat the next word's leading
    * space — application is word-local exactly like reference BPE
    * encoders (per-word merge application), with no per-word lambda
    * (the no-interpreted-HOFs house rule; a `transform` over a word
    * array would fall out of codegen). The former single-space
    * formulation skipped the merge of the second of two ADJACENT
    * IDENTICAL merged words ("low low" → "low</w> low </w>"); the
    * double boundary removes that divergence ("low low" →
    * "low</w> low</w>"), and the boundary doubling is normalized
    * away before output. Within a word the semantics remain greedy
    * left-to-right non-overlapping single-pass per rule (see
    * [[bpeVocab]]), identical in the oracle.
    *
    * Output: (<id>, tokens — the space-joined token string — and
    * n_tokens). */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)],
      idCol: String = "doc_id", textCol: String = "text",
      endMark: String = "</w>"): DataFrame = {
    require(endMark.nonEmpty && !endMark.exists(_.isWhitespace),
      "endMark must be non-empty and whitespace-free")
    // \u0001 marks word gaps through the char-spacing regex, then
    // becomes the end-of-word symbol PLUS an extra space (the gap
    // char kept its own trailing space through char-spacing, so word
    // boundaries read "</w>  " -- double -- while in-word gaps stay
    // single: the word-bounded guarantee); documents are plain text
    // so the control char cannot occur in content that words() keeps
    val stream = concat(lit(" "),
      replace(
        regexp_replace(
          replace(regexp_replace(trim(col(textCol)), "\\s+", " "),
            lit(" "), lit("\u0001")),
          "(.)", "$1 "),
        lit("\u0001"), lit(endMark + " ")),
      lit(endMark + " "))
    val encoded = merges.foldLeft(stream) { case (c, (l, r)) =>
      replace(c, lit(s" $l $r "), lit(s" $l$r "))
    }
    docs.select(col(idCol),
        trim(regexp_replace(encoded, " +", " ")).as("tokens"))
      .withColumn("n_tokens", size(split(col("tokens"), " ")))
  }

  // ------------------- WordPiece tokenizer (BERT-style) --------------

  /** Per-word WordPiece symbol string: first character bare, every
    * later character "##"-prefixed (the BERT continuation convention),
    * space-joined with boundary spaces and a trailing space — so one
    * merge application is a single literal `replace` (the
    * [[symbolsOf]] discipline). */
  private def wpSymbolsOf(word: Column): Column =
    concat(lit(" "), substring(word, 1, 1), lit(" "),
      regexp_replace(word.substr(lit(2), length(word)), "(.)", "##$1 "))

  /** WordPiece vocabulary induction — the likelihood-scored pair-merge
    * loop of the BERT tokenizer lineage (Schuster & Nakajima,
    * "Japanese and Korean Voice Search", ICASSP 2012; the vocab
    * algorithm behind Devlin et al.'s BERT): words split into a bare
    * first character plus "##"-prefixed continuations; each round
    * scores every adjacent symbol pair by
    * count(pair) / (count(left) · count(right)) — the corpus
    * likelihood gain of the merge, where plain BPE ([[bpeVocab]])
    * uses raw count(pair) — and merges the argmax everywhere (the
    * merged symbol is left ++ right-sans-"##", so continuations stay
    * continuations and word-initial pieces stay bare).
    *
    * Engine grade: the score is EXACT integer arithmetic,
    * (freq · 2^30) div (n_left · n_right), replayed verbatim by the
    * DuckDB oracle, with the total tie-break (score DESC, freq DESC,
    * left ASC, right ASC) — deterministic under any partitioning. A
    * loud require bounds the corpus symbol mass under 2^31 so the
    * 64-bit products cannot wrap; corpora past ~2 G symbol
    * occurrences move the score to DECIMAL(38,0) (documented
    * upgrade, not a silent wrap).
    *
    * Scale shape: [[bpeVocab]]'s exactly — ONE corpus-scale
    * map-side-combinable pass collapses to the ≤|distinct words|
    * frequency table; per round, pair counts AND symbol counts are
    * integer sums over that table alone, the score join broadcasts
    * the ≤|symbols| count frame, and the argmax is ONE driver row
    * (metadata grain). Output: (merge_rank, left_sym, right_sym,
    * pair_freq, score); derive the encode inventory with
    * [[wordpieceInventory]]. */
  def wordpieceVocab(docs: DataFrame, nMerges: Int,
      textCol: String = "text", minFreq: Long = 1L): DataFrame = {
    require(nMerges >= 1, s"need nMerges >= 1 (got $nMerges)")
    val spark = docs.sparkSession
    val wordFreq = docs
      .select(explode(words(col(textCol))).as("word"))
      .where(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(wpSymbolsOf(col("word")).as("w"), col("cnt"))
    var cur = wordFreq.localCheckpoint()
    // 64-bit headroom: with total symbol mass T, freq/n_l/n_r <= T, so
    // T < 2^31 keeps n_l·n_r < 2^62 and freq·2^30 < 2^61 — both safely
    // inside long; the oracle runs the identical BIGINT arithmetic
    // (measured at the 100× century corpus, T ≈ 2^28.6, headroom real)
    val mass = cur
      .agg(sum(size(split(trim(col("w")), " ")).cast("long") *
        col("cnt"))).head().getLong(0)
    require(mass < (1L << 31),
      s"wordpieceVocab 64-bit score bound: symbol mass $mass >= 2^31 " +
        "— switch the score arithmetic to DECIMAL(38,0) first")
    val merges = scala.collection.mutable
      .ArrayBuffer.empty[(Long, String, String, Long, Long)]
    var done = false
    while (merges.length < nMerges && !done) {
      val syms = split(trim(col("w")), " ")
      val pairs = cur
        .select(col("cnt"), explode(arrays_zip(
            slice(syms, lit(1), size(syms) - 1).as("l"),
            slice(syms, lit(2), size(syms) - 1).as("r"))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("freq"))
      val scnt = cur
        .select(col("cnt"), explode(syms).as("sym"))
        .groupBy(col("sym")).agg(sum(col("cnt")).as("n"))
      val best = pairs
        .join(broadcast(scnt.select(col("sym").as("l"),
          col("n").as("nl"))), Seq("l"))
        .join(broadcast(scnt.select(col("sym").as("r"),
          col("n").as("nr"))), Seq("r"))
        .select(col("l"), col("r"), col("freq"),
          expr("(freq * 1073741824L) div (nl * nr)").as("score"))
        .orderBy(col("score").desc, col("freq").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty || best.head.getLong(2) < minFreq) done = true
      else {
        val l = best.head.getString(0)
        val r = best.head.getString(1)
        val fq = best.head.getLong(2)
        val sc = best.head.getLong(3)
        val merged = l + r.stripPrefix("##")
        merges += ((merges.length + 1L, l, r, fq, sc))
        cur = cur.withColumn("w",
            replace(col("w"), lit(s" $l $r "), lit(s" $merged ")))
          .localCheckpoint()
      }
    }
    import spark.implicits._
    merges.toSeq
      .toDF("merge_rank", "left_sym", "right_sym", "pair_freq", "score")
  }

  /** The encode-time piece inventory of a trained WordPiece model:
    * every single-character symbol observed in the corpus (bare first
    * characters and "##"-continuations — the seed symbols a WordPiece
    * vocab always keeps, so any training-corpus word still encodes
    * after the merges) plus each merge's produced symbol
    * (left ++ right-sans-"##" per [[wordpieceVocab]] row). One
    * corpus-scale distinct at character grain; the merge list is
    * metadata-grain driver rows by construction. (piece). */
  def wordpieceInventory(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val singles = docs
      .select(explode(words(col(textCol))).as("word"))
      .where(col("word") =!= "")
      .select(explode(split(trim(wpSymbolsOf(col("word"))), " "))
        .as("piece"))
      .distinct()
    val mergedPieces = merges
      .map { case (l, r) => l + r.stripPrefix("##") }.distinct
    if (mergedPieces.isEmpty) singles
    else singles.union(mergedPieces.toDF("piece")).distinct()
  }

  /** Tokenize a corpus under a WordPiece inventory ((piece) from
    * [[wordpieceInventory]] — in-session or read back from a persisted
    * artifact): greedy longest-match-first per word, the BERT
    * WordPiece inference algorithm — at each position take the
    * LONGEST inventory piece matching the remainder ("##"-prefixed
    * past position 0); a word with no match at some position, or
    * longer than maxWordLen (the BERT max_input_chars_per_word rule),
    * becomes the single token [UNK] — the out-of-vocabulary drift
    * signal the incremental encode watches.
    *
    * Scale shape: the [[unigramEncode]] discipline — every DISTINCT
    * word resolves once: candidate edges explode (≤ len · maxPieceLen
    * substrings), meet the inventory in ONE broadcast join, collapse
    * to a per-word {position → longest match} map, and the greedy
    * walk runs as ONE `aggregate` HOF over the ≤|distinct words|
    * table (vocabulary grain — millions of rows at 100 TB, never the
    * corpus; each step consumes ≥ 1 char so `len` iterations always
    * complete the walk). The corpus encode is then one broadcast join
    * plus a per-document position-ordered reassembly. The longest
    * consumable piece length is ONE 1-row driver probe of the
    * inventory (metadata grain). Output: (<id>, n_tokens, n_unk,
    * tokens — space-joined pieces in word order). */
  def wordpieceEncode(docs: DataFrame, vocab: DataFrame,
      maxWordLen: Int = 16, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(maxWordLen >= 1 && maxWordLen <= 32,
      s"need 1 <= maxWordLen <= 32 (got $maxWordLen)")
    // the longest consumable piece bounds the edge explode — 1-row
    // vocabulary-grain probe; an empty inventory degrades to 1 (every
    // word then walks to [UNK], never throws)
    val mcRow = vocab
      .agg(max(length(col("piece")) -
        when(col("piece").startsWith("##"), 2).otherwise(0))).head()
    val mc = math.min(
      math.max(if (mcRow.isNullAt(0)) 1 else mcRow.getInt(0), 1),
      maxWordLen)
    val wf = ulmWordFreq(docs, textCol).localCheckpoint()
    val short = wf.where(col("len") <= maxWordLen)
    val vb = broadcast(vocab.select(col("piece")).distinct())
    val edges = short
      .select(col("word"), col("len"),
        explode(sequence(lit(0), col("len") - 1)).as("j"))
      .select(col("word"), col("len"), col("j"),
        explode(sequence(lit(1),
          least(lit(mc), col("len") - col("j")))).as("plen"))
      .withColumn("piece",
        when(col("j") === 0,
          col("word").substr(col("j") + 1, col("plen")))
          .otherwise(concat(lit("##"),
            col("word").substr(col("j") + 1, col("plen")))))
      .join(vb, Seq("piece"))
      .groupBy(col("word"), col("j")).agg(max(col("plen")).as("ml"))
    // words with NO matching edge anywhere keep a null map (the right
    // join) and walk straight to [UNK]
    val wordMaps = edges.groupBy(col("word"))
      .agg(map_from_entries(collect_list(
        struct(col("j"), col("ml")))).as("gm"))
      .join(short.select(col("word"), col("len")), Seq("word"), "right")
    val walkSql =
      """aggregate(
        |  sequence(1, len),
        |  named_struct('cur', 0, 'ps', cast(array() as array<string>),
        |    'ok', true),
        |  (st, z) -> IF(st.ok AND st.cur < len,
        |    IF(gm IS NULL OR element_at(gm, st.cur) IS NULL,
        |      named_struct('cur', len, 'ps', array('[UNK]'),
        |        'ok', false),
        |      named_struct(
        |        'cur', st.cur + element_at(gm, st.cur),
        |        'ps', concat(st.ps, array(IF(st.cur = 0,
        |          substring(word, 1, element_at(gm, 0)),
        |          concat('##', substring(word, st.cur + 1,
        |            element_at(gm, st.cur)))))),
        |        'ok', true)),
        |    st),
        |  st -> named_struct('ps', st.ps, 'ok', st.ok))""".stripMargin
    val wtok = wordMaps
      .withColumn("wk", expr(walkSql))
      .select(col("word"),
        concat_ws(" ", col("wk.ps")).as("toks"),
        size(col("wk.ps")).cast("long").as("npieces"),
        when(col("wk.ok"), 0L).otherwise(1L).as("nunk"))
      .unionByName(wf.where(col("len") > maxWordLen)
        .select(col("word"), lit("[UNK]").as("toks"),
          lit(1L).as("npieces"), lit(1L).as("nunk")))
      .localCheckpoint() // ≤ |distinct words| — broadcastable
    docs
      .where(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"),
        posexplode(words(col(textCol))).as(Seq("pos", "word")))
      .join(broadcast(wtok), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(sum(col("npieces")).as("n_tokens"),
        sum(col("nunk")).as("n_unk"),
        concat_ws(" ", expr(
          "array_sort(collect_list(struct(pos, toks))).toks"))
          .as("tokens"))
      .select(col("doc_id").as(idCol),
        col("n_tokens").cast("long").as("n_tokens"),
        col("n_unk").cast("long").as("n_unk"), col("tokens"))
  }

  // ------------------- unigram-LM tokenizer (SentencePiece-style) ----

  /** Word-frequency table (word, cnt, len) — the ONE corpus-scale pass
    * of the unigram family (the [[bpeVocab]] discipline: everything
    * after runs on the ≤|distinct words| table). */
  private def ulmWordFreq(docs: DataFrame, textCol: String): DataFrame =
    docs
      .where(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(explode(words(col(textCol))).as("word"))
      .where(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .withColumn("len", length(col("word")))

  /** (piece, bits) + the unknown-char fallback cost from a (piece, n)
    * vocabulary: bits = bitlen(T) − bitlen(n+1) with T = Σ(n+1) — the
    * q61/q103 integer-surprisal grade with q104's Laplace +1 (so a
    * zero-count piece stays usable at max cost). T is ONE 1-row driver
    * probe (metadata grain). */
  private def ulmBits(vocab: DataFrame): (DataFrame, Int) = {
    val t = vocab.agg(sum(col("n") + 1)).head().getLong(0)
    val mb = java.lang.Long.toBinaryString(math.max(t, 1L)).length
    (vocab.select(col("piece"),
      (lit(mb) - length(bin(col("n") + 1))).cast("long").as("vbits")),
      mb)
  }

  /** Viterbi segmentation of the word table `wl` (word, cnt, len ≤
    * maxW) under vocabulary `vocab` ((piece, n)): per word, the
    * segmentation minimizing (Σ piece bits, piece count, backpointer)
    * — a total integer order, so the argmin is deterministic under
    * any partitioning. Single-character pieces fall back to the
    * Laplace-0 cost when absent from the vocabulary, so EVERY word
    * segments. Output: (word, cnt, path: array<string>).
    *
    * Scale shape: ONE job (the r13 verdict's one-job formulation —
    * the previous relational DP ran ≤ maxWordLen checkpointed steps
    * per call, whose ~3.5 s fixed orchestration dominated the family
    * at every SF). The word's candidate edges explode once
    * (≤ len·maxPiece pieces), meet the vocabulary in ONE broadcast
    * join, collapse to a per-word edge-cost map, and the DP runs as
    * ONE `aggregate` expression over that map — position p's state is
    * `least()` over ≤ maxPiece candidate structs (bits, np, back):
    * the same lexicographic argmin the relational min(struct)
    * computed (ties end at `back`: equal (bits, np, back) means the
    * same predecessor and hence the same path) — followed by one
    * backpointer-walk `aggregate` that rebuilds the path. The two
    * HOF lambdas are interpreted, which is exactly the budget this
    * table affords: the frame is the DISTINCT-WORD table (vocabulary
    * grain — millions of rows at 100 TB, never the corpus), and per
    * word the DP is ≤ len·maxPiece integer ops. A statically-unrolled
    * column formulation was tried first and rejected: per-position
    * columns cross-reference ≤ maxPiece predecessors, so projection
    * collapse inlines them exponentially (OOM at analysis). No
    * per-position frames, no checkpoints, no driver probes. */
  private[graft] def ulmSegment(wl: DataFrame, vocab: DataFrame,
      maxPiece: Int): DataFrame = {
    // the edge keys below pack (start j, piece length) as j*64 + plen,
    // which silently collides (corrupting the edge-cost map) if a piece
    // can be 64+ chars — enforce the invariant where it is relied upon,
    // not only at the public callers' require(maxPiece <= 8)
    require(maxPiece > 0 && maxPiece < 64,
      s"ulmSegment edge-key stride is 64: need 0 < maxPiece < 64 " +
        s"(got $maxPiece)")
    val (vb, mb) = ulmBits(vocab)
    // every candidate edge (start j, length plen) of every word, ONE
    // vocabulary join; single-char pieces miss to the Laplace-0 cost
    // so every word stays segmentable
    val edges = wl
      .select(col("word"), col("cnt"), col("len"),
        explode(sequence(lit(0), col("len") - 1)).as("j"))
      .select(col("word"), col("cnt"), col("len"), col("j"),
        explode(sequence(lit(1),
          least(lit(maxPiece), col("len") - col("j")))).as("plen"))
      .withColumn("piece", col("word").substr(col("j") + 1, col("plen")))
    val keyed = edges
      .join(broadcast(vb), Seq("piece"), "left")
      .withColumn("pbits",
        when(col("plen") === 1, coalesce(col("vbits"), lit(mb.toLong)))
          .otherwise(col("vbits")))
      .where(col("pbits").isNotNull)
      .select(col("word"), col("cnt"), col("len"),
        (col("j") * 64 + col("plen")).as("ek"), col("pbits"))
    val wordMaps = keyed.groupBy(col("word"))
      .agg(max(col("cnt")).as("cnt"), max(col("len")).as("len"),
        map_from_entries(collect_list(
          struct(col("ek"), col("pbits")))).as("em"))
    // DP forward pass: dp[p] = least over piece length d of
    // (dp[p-d].bits + edge(p-d, d), dp[p-d].np + 1, back = p-d);
    // acc index i holds position i-1, so position p lands at index p+1
    val cands = (1 to maxPiece).map { d =>
      s"""CASE WHEN p >= $d
         |  AND element_at(em, (p - $d) * 64 + $d) IS NOT NULL
         |THEN named_struct(
         |  'bits', element_at(acc, p - $d + 1).bits +
         |          element_at(em, (p - $d) * 64 + $d),
         |  'np', element_at(acc, p - $d + 1).np + 1L,
         |  'back', p - $d)
         |END""".stripMargin
    }.mkString("least(", ", ", ")")
    val dpSql =
      s"""aggregate(
         |  sequence(1, len),
         |  array(named_struct('bits', 0L, 'np', 0L, 'back', 0)),
         |  (acc, p) -> concat(acc, array($cands)))""".stripMargin
    // backpointer walk: from cur = len, emit the piece (back..cur] and
    // step to back, len times (each step consumes >= 1 char); pieces
    // accumulate end-to-start and reverse into reading order
    val pathSql =
      s"""reverse(aggregate(
         |  sequence(1, len),
         |  named_struct('cur', len,
         |    'ps', cast(array() as array<string>)),
         |  (st, z) -> IF(st.cur > 0,
         |    named_struct(
         |      'cur', element_at(dp, st.cur + 1).back,
         |      'ps', concat(st.ps, array(substring(word,
         |        element_at(dp, st.cur + 1).back + 1,
         |        st.cur - element_at(dp, st.cur + 1).back)))),
         |    st),
         |  st -> st.ps))""".stripMargin
    wordMaps
      .withColumn("dp", expr(dpSql))
      .select(col("word"), col("cnt"), expr(pathSql).as("path"))
  }

  /** Unigram-LM (SentencePiece-style) tokenizer induction — Kudo,
    * "Subword Regularization" (arXiv:1804.10959), in the engine's
    * deterministic hard-EM grade: seed the vocabulary with every
    * ≤ maxPiece-char substring of the word table whose
    * occurrence-weighted count ≥ minFreq (single characters always
    * in), then `rounds` of: (E) Viterbi-segment every distinct word
    * under the current integer piece costs ([[ulmSegment]] — hard EM,
    * so counts stay EXACT integers where soft-EM marginals would be
    * floats); (M) piece count = Σ word-cnt-weighted usage, prune to
    * the `vocabSize` most frequent (count DESC, piece ASC — total
    * order; single chars exempt so segmentation always exists).
    * Words longer than maxWordLen are excluded from training
    * (documented contract; [[unigramEncode]] char-splits them).
    *
    * Scale shape: ONE corpus-scale pass (the word-frequency collapse,
    * the [[bpeVocab]] discipline); the seed explode, every DP step,
    * and every M-step aggregate are vocabulary-bounded. The prune
    * window is a single-partition row_number over the ≤|seed| count
    * table — vocabulary grain, not corpus (the kmeans-centroid class
    * of driver-adjacent smallness). Output: (piece, n) — the final
    * vocabulary with its usage counts; feed to [[unigramEncode]]. */
  def unigramVocab(docs: DataFrame, maxPiece: Int = 4,
      minFreq: Long = 2L, rounds: Int = 2, vocabSize: Int = 1024,
      maxWordLen: Int = 16, textCol: String = "text"): DataFrame = {
    require(maxPiece >= 2 && maxPiece <= 8,
      s"need 2 <= maxPiece <= 8 (got $maxPiece)")
    require(minFreq >= 1L, s"need minFreq >= 1 (got $minFreq)")
    require(rounds >= 1 && rounds <= 8,
      s"need 1 <= rounds <= 8 (got $rounds)")
    require(vocabSize >= 16, s"need vocabSize >= 16 (got $vocabSize)")
    require(maxWordLen >= maxPiece && maxWordLen <= 32,
      s"need maxPiece <= maxWordLen <= 32 (got $maxWordLen)")
    val wl = ulmWordFreq(docs, textCol)
      .where(col("len") <= maxWordLen)
      .localCheckpoint() // the one corpus collapse; read every round
    val sub = wl
      .select(col("word"), col("cnt"), col("len"),
        explode(sequence(lit(1), col("len"))).as("i"))
      .select(col("word"), col("cnt"),
        explode(sequence(lit(1),
          least(lit(maxPiece), col("len") - col("i") + 1))).as("l"),
        col("i"))
      .select(expr("substring(word, i, l)").as("piece"), col("cnt"))
      .groupBy(col("piece")).agg(sum(col("cnt")).as("n"))
    var vocab = sub
      .where(col("n") >= minFreq || length(col("piece")) === 1)
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val cnts = ulmSegment(wl, vocab, maxPiece)
        .select(explode(col("path")).as("piece"), col("cnt"))
        .groupBy(col("piece")).agg(sum(col("cnt")).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("n").desc, col("piece"))
      vocab = cnts
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= vocabSize || length(col("piece")) === 1)
        .select(col("piece"), col("n"))
        .localCheckpoint()
    }
    vocab
  }

  /** Tokenize a corpus under a trained unigram vocabulary ((piece, n)
    * from [[unigramVocab]] — in-session or read back from a persisted
    * artifact): every DISTINCT word Viterbi-segments ONCE
    * ([[ulmSegment]] — vocabulary-bounded), words over maxWordLen
    * char-split (the documented training-exclusion contract), and the
    * corpus encode is then one broadcast join of the token stream
    * against the ≤|words| segmentation table plus a per-document
    * position-ordered reassembly (the q132 array_sort discipline —
    * bounded by document length, no corpus window). Blank/null
    * documents are excluded (the chunk/knScore convention). Output:
    * (<id>, n_tokens, tokens — space-joined pieces in word order). */
  def unigramEncode(docs: DataFrame, vocab: DataFrame,
      maxPiece: Int = 4, maxWordLen: Int = 16,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxPiece >= 2 && maxPiece <= 8,
      s"need 2 <= maxPiece <= 8 (got $maxPiece)")
    require(maxWordLen >= maxPiece && maxWordLen <= 32,
      s"need maxPiece <= maxWordLen <= 32 (got $maxWordLen)")
    val wf = ulmWordFreq(docs, textCol).localCheckpoint()
    val seg = ulmSegment(wf.where(col("len") <= maxWordLen), vocab,
      maxPiece)
    val wtok = seg
      .select(col("word"), concat_ws(" ", col("path")).as("toks"),
        size(col("path")).cast("long").as("npieces"))
      .unionByName(wf.where(col("len") > maxWordLen)
        .select(col("word"),
          concat_ws(" ",
            array_remove(split(col("word"), ""), "")).as("toks"),
          col("len").cast("long").as("npieces")))
      .localCheckpoint() // ≤ |distinct words| — broadcastable
    docs
      .where(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"),
        posexplode(words(col(textCol))).as(Seq("pos", "word")))
      .join(broadcast(wtok), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(sum(col("npieces")).as("n_tokens"),
        concat_ws(" ", expr(
          "array_sort(collect_list(struct(pos, toks))).toks"))
          .as("tokens"))
      .select(col("doc_id").as(idCol),
        col("n_tokens").cast("long").as("n_tokens"), col("tokens"))
  }

  /** Tokenizer evaluation battery — the report a deployment reads to
    * PICK a tokenizer (BPE vs unigram vs a retrain): corpus-level
    * fertility (tokens per word), compression (word chars per token),
    * type inventory actually used, and the single-character-piece
    * rate (the char-fallback/fragmentation signal — unigram novel
    * words char-split, BPE under-merged words stay as characters).
    * `enc` is any encode frame carrying a space-joined `tokCol`
    * string per document (the [[bpeEncode]]/[[unigramEncode]]
    * contract); tokens ending in `endMark` count their symbol length
    * without the marker. Only documents present in the non-empty
    * `docs` base contribute (the word totals and the token totals
    * cover the same corpus).
    *
    * Output: one row — (tokenizer, n_docs, n_words, n_chars,
    * n_tokens, n_token_types, n_char_tokens, fert_ppm,
    * chars_per_tok_ppm, char_tok_ppm), all counts exact longs and the
    * ratios exact integer floor-division ppm. Union rows over several
    * tokenizers for the comparison table.
    *
    * Scale shape: two corpus-linear explodes (words, tokens), each
    * collapsing through map-side-combinable global aggregates; the
    * type count is one distinct on the token column; the final join
    * of three 1-row frames is a broadcast nested loop at metadata
    * grain. No per-doc state survives the aggregates. */
  def tokenizerEval(docs: DataFrame, enc: DataFrame, label: String,
      idCol: String = "doc_id", textCol: String = "text",
      tokCol: String = "tokens", endMark: String = "</w>",
      contMark: String = ""): DataFrame = {
    require(label.nonEmpty, "label must be non-empty")
    val base = docs
      .where(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"), words(col(textCol)).as("w"))
      .localCheckpoint() // read by the doc count and the word totals
    val nd = base.agg(count(lit(1)).as("n_docs"))
    val corpus = base
      .select(explode(col("w")).as("word")).where(col("word") =!= "")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word"))).as("n_chars"))
    // symbol length = token length minus its boundary markers: the
    // endMark SUFFIX (BPE's </w>) and, when `contMark` is set, the
    // continuation PREFIX (WordPiece's ##) — type counts stay on the
    // raw token (##u and u are distinct vocabulary entries)
    val symLen0 = when(col("tok").endsWith(endMark),
      length(col("tok")) - endMark.length).otherwise(length(col("tok")))
    val symLen =
      if (contMark.isEmpty) symLen0
      else when(col("tok").startsWith(contMark),
        symLen0 - contMark.length).otherwise(symLen0)
    val tstats = enc
      .select(col(idCol).as("doc_id"),
        explode(split(col(tokCol), " ")).as("tok"))
      .where(col("tok") =!= "")
      .join(base.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("n_token_types"),
        sum((symLen === 1).cast("long")).as("n_char_tokens"))
    nd.crossJoin(corpus).crossJoin(tstats)
      .select(lit(label).as("tokenizer"),
        col("n_docs").cast("long").as("n_docs"),
        col("n_words").cast("long").as("n_words"),
        col("n_chars").cast("long").as("n_chars"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("n_token_types").cast("long").as("n_token_types"),
        col("n_char_tokens").cast("long").as("n_char_tokens"),
        expr("CASE WHEN n_words = 0 THEN 0 ELSE" +
          " n_tokens * 1000000 div n_words END").cast("long")
          .as("fert_ppm"),
        expr("CASE WHEN n_tokens = 0 THEN 0 ELSE" +
          " n_chars * 1000000 div n_tokens END").cast("long")
          .as("chars_per_tok_ppm"),
        expr("CASE WHEN n_tokens = 0 THEN 0 ELSE" +
          " n_char_tokens * 1000000 div n_tokens END").cast("long")
          .as("char_tok_ppm"))
  }

  /** Gopher-style within-document repetition signals (Rae et al.,
    * "Scaling Language Models: Methods, Analysis & Insights from
    * Training Gopher", arXiv:2112.11446, Table A1) at word grain —
    * the repetition battery quality filters threshold on:
    *
    *   - `top<n>_frac` for each n in `ns`: the fraction of token
    *     positions attributable to the single most frequent word
    *     n-gram, `max_count·n / n_words`, clipped at 1.0 (overlapping
    *     occurrences can push the product past the doc length —
    *     "a a a a" at n=2 — and a clipped signal is what a threshold
    *     filter wants);
    *   - `dup<k>_frac`: the fraction of k-gram positions whose k-gram
    *     occurs ≥ 2 times WITHIN the document (the within-doc
    *     counterpart of [[graft.ops.Dedup.spanDups]]'s corpus-wide
    *     signal).
    *
    * Documents with null/blank text are excluded (no tokens — the
    * [[chunk]] convention); a doc shorter than n tokens scores 0.0
    * for that n. Scale shape: each n-gram stream is ONE generator
    * projection over the token array (corpus-linear, no window sort);
    * grams shuffle as narrow (id, hash60) rows; both aggregation
    * levels are map-side-combinable integer counts; the final fracs
    * are single divisions of exact integers (bit-stable under any
    * partitioning). Output: (<id>, n_words, top<n>_frac per n,
    * dup<k>_frac). */
  def repetition(docs: DataFrame, ns: Seq[Int] = Seq(1, 2, 3),
      k: Int = 5, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(ns.nonEmpty && ns.forall(n => n >= 1 && n <= 16),
      s"need 1 <= n <= 16 for every n in ns (got $ns)")
    require(ns == ns.distinct && ns == ns.sorted,
      s"ns must be distinct and ascending (got $ns)")
    require(k >= 2 && k <= 16, s"need 2 <= k <= 16 (got $k)")
    val base = docs
      .where(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(col(idCol), words(col(textCol)).as("w"))
      .withColumn("n_words", size(col("w")).cast("long"))
      .localCheckpoint() // read by the spine + one gram pipeline per n
    def gramCounts(n: Int): DataFrame = base
      .where(col("n_words") >= n)
      .select(col(idCol), col("w"),
        explode(sequence(lit(1), (col("n_words") - (n - 1)).cast("int")))
          .as("i"))
      .select(col(idCol),
        hash60(concat_ws(" ", slice(col("w"), col("i"), lit(n)))).as("h"))
      .groupBy(col(idCol), col("h")).agg(count(lit(1)).as("c"))
    val spine = base.select(col(idCol), col("n_words"))
    val withTops = ns.foldLeft(spine) { (acc, n) =>
      acc.join(
        gramCounts(n).groupBy(col(idCol))
          .agg(max(col("c")).as(s"top${n}_cnt")),
        Seq(idCol), "left")
    }
    val dupAgg = gramCounts(k).groupBy(col(idCol))
      .agg(sum(col("c")).as("kg"),
        sum(when(col("c") >= 2L, col("c")).otherwise(0L)).as("dup_cnt"))
    val outCols =
      col(idCol) +: col("n_words") +:
        (ns.map { n =>
          least(lit(1.0d), coalesce(
            col(s"top${n}_cnt").cast("double") * n /
              col("n_words").cast("double"), lit(0.0d)))
            .as(s"top${n}_frac")
        } :+
          coalesce(col("dup_cnt").cast("double") /
            col("kg").cast("double"), lit(0.0d)).as(s"dup${k}_frac"))
    withTops.join(dupAgg, Seq(idCol), "left").select(outCols: _*)
  }

  /** Kneser-Ney-smoothed bigram LM scoring (interpolated absolute
    * discounting, Kneser & Ney, ICASSP 1995; Chen & Goodman 1998's
    * formulation) — the CCNet-style perplexity quality signal with the
    * smoothing real LM filters use (q103's raw conditional c₁₂/c₁
    * over-trusts singleton bigrams; KN discounts every observed count
    * by `d` and redistributes the held-out mass by CONTINUATION
    * probability — how many distinct contexts a word follows, the
    * "Francisco problem" fix):
    *
    *   p_kn(w₂|w₁) = ((c₁₂ − d) + (d · N₁₊(w₁•)) · (N₁₊(•w₂) / B)) / c₁•
    *
    * with B the distinct-bigram-type count. The model trains on the
    * scored corpus itself (the q61/q103 self-scoring convention), so
    * every document bigram has c₁₂ ≥ 1 > d. Per document:
    * `n_bigrams`, `sum_kn20` = Σ floor(p_kn · 2²⁰) (integer fixed
    * point — order-free, partition-invariant), `mean_kn20` as one
    * final division; LOW mean = surprising/junk text, the filter
    * threshold axis. Determinism: each p_kn is one fixed-shape IEEE
    * expression over exact integers ((c₁₂−d) and d·N₁₊ exact for
    * d = 0.75, two correctly-rounded divisions, one multiply, one
    * add), identical in the oracle; the fixed-point floor makes the
    * per-doc sum exact-integer.
    *
    * Scale shape (the q103 discipline): the bigram stream is one
    * generator projection (adjacent zip, no window) that collapses
    * straight into the per-doc TYPE frame (doc, w₁, w₂, k) — the ONE
    * checkpointed materialization, strictly smaller than the
    * occurrence stream; pair counts derive from it as sum(k)
    * (map-side-combinable), so the only corpus-scale aggregation is
    * the triple groupBy itself; marginals/B derive from the
    * vocabulary-bounded pair table; scoring joins doc bigram TYPES
    * (not occurrences) against the model — per-doc multiplicity `k`
    * rides the group row, so the model join is bounded by distinct
    * (doc, w₁, w₂) triples. Output: (<id>, n_bigrams, sum_kn20,
    * mean_kn20).
    *
    * `discount` must be binary-exact (a multiple of 1/256): the
    * determinism argument needs (c₁₂−d) and d·N₁₊ to be EXACT IEEE
    * values, which only dyadic discounts guarantee — and the q150
    * oracle replays the engine default, so the knob is pinned there
    * (see the q150 binding). */
  def knScore(docs: DataFrame, discount: Double = 0.75d,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(discount > 0.0d && discount < 1.0d,
      s"need 0 < discount < 1 (got $discount)")
    require(discount * 256.0d == math.rint(discount * 256.0d),
      s"discount must be binary-exact (a multiple of 1/256) so the " +
        s"fixed-point determinism argument holds (got $discount)")
    val tri = docs
      .where(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"), words(col(textCol)).as("w"))
      .where(size(col("w")) >= 2)
      .select(col("doc_id"), explode(arrays_zip(
          slice(col("w"), lit(1), size(col("w")) - 1).as("w1"),
          slice(col("w"), lit(2), size(col("w")) - 1).as("w2"))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("k"))
      .localCheckpoint() // per-doc TYPE frame: model counts AND scoring
    val pc = tri.groupBy(col("w1"), col("w2"))
      .agg(sum(col("k")).as("c12"))
      .localCheckpoint() // vocabulary-bounded; marginals + B + scoring
    val lm = pc.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1l"))
    val rm = pc.groupBy(col("w2")).agg(count(lit(1)).as("n1r"))
    val bt = pc.agg(count(lit(1)).as("bt"))
    val d = lit(discount)
    val pkn = ((col("c12") - d) + (d * col("n1l")) *
      (col("n1r").cast("double") / col("bt").cast("double"))) / col("c1")
    tri
      .join(pc, Seq("w1", "w2")).join(lm, Seq("w1"))
      .join(rm, Seq("w2")).crossJoin(broadcast(bt))
      .select(col("doc_id"), col("k"),
        floor(pkn * lit(1048576.0d)).cast("long").as("kn20"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_bigrams"),
        sum(col("k") * col("kn20")).as("sum_kn20"))
      .select(col("doc_id").as(idCol),
        col("n_bigrams").cast("long").as("n_bigrams"),
        col("sum_kn20").cast("long").as("sum_kn20"),
        (col("sum_kn20").cast("double") / col("n_bigrams").cast("double"))
          .as("mean_kn20"))
  }

  /** Corpus-level collocation mining — pointwise mutual information
    * over adjacent word pairs (Church & Hanks, "Word Association
    * Norms, Mutual Information, and Lexicography", Computational
    * Linguistics 16(1), 1990), reported as the LIFT ratio
    * p(x,y)/(p(x)·p(y)) = c_xy·N / (c_x·c_y) rather than its log:
    * the ratio is a single IEEE division of exactly-converted
    * integers — bit-identical across engines and partitionings —
    * where ln() is libm-dependent (PMI = ln(lift) when a caller wants
    * the classic units). Marginals are bigram-slot counts (c_x = x as
    * left word, c_y = y as right word, N = total bigrams), so the
    * contingency is self-consistent by construction.
    *
    * Scale shape: bigram generation is one generator projection
    * (adjacent zip of the per-row token array — no window, no
    * corpus sort); pair counts are ONE map-side-combinable integer
    * sum and the ONLY corpus-scale aggregation; marginals and N
    * derive from the pair-count table (vocabulary-bounded, far
    * smaller than the corpus), never from a re-scan. The `minCount`
    * floor (applied before the marginal joins) bounds the output and
    * is also the classic PMI low-frequency-noise guard. Output:
    * (w1, w2, c_pair, c_left, c_right, n_pairs, lift). */
  /** Per-document keyword extraction — the top-`k` tf-idf terms of
    * each document, the metadata-enrichment step behind faceting,
    * topic labeling and sparse retrieval seeds. Scoring is the
    * ENGINE-EXACT tf-idf variant: `score_fp = tf · ((N · 2^20) div
    * df)` — term frequency times a 20-bit fixed-point LINEAR inverse
    * document frequency. (Linear, not log: ln/pow are not correctly
    * rounded and differ across engines — the q142 lesson — so the
    * engine trades the log damping for bit-exact integer arithmetic;
    * the per-document RANKING this op exists for is preserved for
    * any monotone idf at equal tf.) Ties break (score DESC, word
    * ASC), a total order. Output: (<id>, rank (1..k), word, tf, df,
    * score_fp).
    *
    * Scale shape: one (doc, word) count pass (map-side combinable);
    * document frequencies are a second aggregate over the same frame;
    * N is a broadcast 1-row total; the per-document top-k is a
    * window over doc-bounded partitions (thousands of rows each at
    * most — never a corpus-scale single partition). */
  def keywords(docs: DataFrame, k: Int = 5, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k >= 1, s"need k >= 1 (got $k)")
    import org.apache.spark.sql.expressions.Window
    val base = docs
      .where(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"),
        explode(words(col(textCol))).as("word"))
      .where(col("word") =!= "")
    val tf = base.groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint() // read by df, N, and the scored spine
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val n = tf.select(col("doc_id")).distinct()
      .agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_fp").desc, col("word"))
    tf.join(df, Seq("word")).crossJoin(broadcast(n))
      .withColumn("score_fp",
        expr("tf * ((n_docs * 1048576) div df)"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("doc_id").as(idCol), col("rank").cast("long"),
        col("word"), col("tf").cast("long").as("tf"),
        col("df").cast("long").as("df"),
        col("score_fp").cast("long").as("score_fp"))
  }

  /** Count-based word embeddings — PPMI + the house exact PCA
    * (Levy-Goldberg, "Neural word embedding as implicit matrix
    * factorization", NeurIPS 2014: SGNS ≈ factorized shifted PPMI; the
    * count-based rung gives semantic word vectors for corpora that have
    * NO embedding table). Pipeline, all engine-exact:
    *
    *   1. top-`topV` vocabulary by unigram count (count DESC, word ASC
    *      — a TakeOrdered tail, never a corpus-wide window);
    *   2. symmetric window-1 co-occurrence counts over adjacent word
    *      pairs, both sides restricted to the vocabulary;
    *   3. positive PMI per cell in fixed point: with p = cnt·N and
    *      q = row(a)·row(b), cells with p > q get
    *      L = floor(2¹⁰·log₂(p/q)) computed by EXACT integer steps —
    *      e = len(bin(p div q)) − 1 for the integer part and ten
    *      squaring rounds on a 2²⁰-grid mantissa for the fraction
    *      (log/ln are not cross-engine exact — the q142 lesson — but
    *      this bit-recurrence is, on both engines);
    *   4. the V dense PPMI rows (values L/2¹⁰, exactly representable)
    *      feed [[graft.ops.Embed.pca]] (exact decimal Gram, driver
    *      BigInt power iteration) and [[graft.ops.Embed.pcaProject]];
    *   5. projections rescale to a ±2²⁰ grid by the global max
    *      magnitude (sign-handled floor division).
    *
    * Output: (word, word_id 1..V, cnt, comp 1..k, wv_fp) — k·V rows,
    * deterministic and bit-equal under any partitioning.
    *
    * Scale shape: two corpus-scale map-side-combinable aggregates
    * (unigram counts → TakeOrdered top-V; vocab-restricted pair counts
    * after two BROADCAST vocabulary joins). Everything downstream —
    * PPMI, Gram, power iteration, projection — is vocabulary-bounded
    * (≤ V² cells), corpus-size-invariant. */
  def wordVectors(docs: DataFrame, topV: Int = 32, k: Int = 3,
      iters: Int = 6, textCol: String = "text"): DataFrame = {
    val vocab = vocabFrame(docs, topV, textCol)
      .localCheckpoint() // read by both pair-side joins, spine, output
    wordVectorsFromCooc(vocab, coocFrame(docs, vocab, textCol), k, iters)
  }

  private def wvToks(docs: DataFrame, textCol: String): DataFrame =
    docs.where(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(words(col(textCol)).as("w"))

  /** The word-vector family's vocabulary table — top-`topV` words by
    * (count DESC, word ASC): (word, cnt, word_id 1..V). A TakeOrdered
    * tail, never a corpus-wide rank window (the row_number runs over
    * the ≤ topV-row result). In the crawl-loop deployment this is the
    * FROZEN artifact ([[coocFrame]]'s identity): the snapshot fixes
    * the vocabulary, batches extend counts, vectors drift — new words
    * enter only when the loop deliberately re-freezes. */
  def vocabFrame(docs: DataFrame, topV: Int = 32,
      textCol: String = "text"): DataFrame = {
    // Vocabulary tiers: V ≤ 256 rides the proven dense PPMI rows,
    // V ≤ 4096 the sparse-cell path with the bit-pinned dense driver
    // Gram ([[graft.ops.Embed.pcaFromFrame]] — 16.8M BigInt cells at
    // 4096, ~1.5 GB transient), and larger vocabularies the
    // implicit-Gram distributed matvec
    // ([[graft.ops.Embed.pcaFromFrameLargeV]] — the driver holds only
    // d-vectors, one sparse-cell aggregate per power-iteration
    // round). Everything distributed stays ≤ nnz cells at every tier.
    require(topV >= 2 && topV <= 65536,
      s"need 2 <= topV <= 65536 (got $topV): the implicit-Gram PCA " +
        "path bounds the family's vocabulary")
    import org.apache.spark.sql.expressions.Window
    wvToks(docs, textCol).select(explode(col("w")).as("word"))
      .where(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word")).limit(topV)
      .withColumn("word_id",
        row_number().over(Window.orderBy(col("cnt").desc, col("word"))))
  }

  /** Symmetric window-1 co-occurrence cells restricted to `vocab`
    * ((word, word_id) from [[vocabFrame]]): (a, b, cnt), ≤ V² rows.
    * Every cell is an EXACT count, so the frame is the family's
    * losslessly MERGEABLE accumulator (the dimStats/pcaFrame
    * discipline): [[coocMerge]] over any split of the corpus —
    * snapshot + batches, in any order — reproduces the from-scratch
    * frame bit-for-bit, because adjacent pairs never span documents.
    * One corpus-scale aggregate behind two BROADCAST vocabulary
    * joins; never a corpus shuffle by word. */
  def coocFrame(docs: DataFrame, vocab: DataFrame,
      textCol: String = "text"): DataFrame = {
    val bg = wvToks(docs, textCol).where(size(col("w")) >= 2)
      .select(explode(arrays_zip(
        slice(col("w"), lit(1), size(col("w")) - 1).as("wa"),
        slice(col("w"), lit(2), size(col("w")) - 1).as("wb"))).as("p"))
      .select(col("p.wa").as("wa"), col("p.wb").as("wb"))
    val va = vocab.select(col("word").as("wa"), col("word_id").as("ia"))
    val vb = vocab.select(col("word").as("wb"), col("word_id").as("ib"))
    val pc = bg.join(broadcast(va), Seq("wa")).join(broadcast(vb), Seq("wb"))
      .groupBy(col("ia"), col("ib")).agg(count(lit(1)).as("c"))
    pc.select(col("ia").as("a"), col("ib").as("b"), col("c"))
      .unionByName(pc.select(col("ib").as("a"), col("ia").as("b"), col("c")))
      .groupBy(col("a"), col("b")).agg(sum(col("c")).as("cnt"))
  }

  /** Merge two [[coocFrame]] accumulators — exact cell-wise sums. */
  def coocMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("a"), col("b"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Finalize a (vocab, cooc) pair into word vectors — the shared
    * tail of [[wordVectors]] and the incremental crawl-loop form
    * (frozen [[vocabFrame]] artifact + [[coocMerge]]d cells):
    * fixed-point PPMI → exact PCA → projection → ±2²⁰ rescale.
    * wordVectors ≡ wordVectorsFromCooc(vocabFrame, coocFrame)
    * bit-for-bit. */
  def wordVectorsFromCooc(vocab: DataFrame, coo0: DataFrame, k: Int = 3,
      iters: Int = 6, denseMaxV: Int = 256): DataFrame = {
    // empty-corpus guard (the docVectors/randomProject discipline): a
    // corpus with no usable text yields an empty vocabulary — return an
    // empty typed frame instead of crashing inside the Gram assembly
    if (vocab.isEmpty)
      return vocab.sparkSession.emptyDataFrame
        .select(lit("").as("word"), lit(0L).as("word_id"),
          lit(0L).as("cnt"), lit(0L).as("comp"), lit(0L).as("wv_fp"))
        .limit(0)
    val vcnt = vocab.count().toInt // actual V (corpus may have < topV)
    val proj =
      if (vcnt <= denseMaxV) {
        // small-V fast case: dense V-dim PPMI rows (the path every
        // oracle replays cell-for-cell)
        val vecs = ppmiVectors(vocab, coo0)
          .localCheckpoint() // read by pcaFrame (2 aggs) and pcaProject
        val comps = graft.ops.Embed.pca(vecs, k, iters,
          idCol = "word_id", vecCol = "vec")
        graft.ops.Embed.pcaProject(vecs, comps,
          idCol = "word_id", vecCol = "vec")
      } else {
        // large-V path: the PPMI matrix stays SPARSE end-to-end —
        // nonzero (word_id, dim, xfp) cells feed the Gram accumulator
        // and the projection directly; no dense V-dim arrays are ever
        // materialized (at V = 4096 dense rows would be 16.8M values
        // per corpus snapshot and the Gram self-join V·V² ≈ 6.9e10
        // pair products; the sparse pair join is Σ_rows nnz², the
        // matrix's inherent cost). Same exact integers throughout —
        // bit-identical to the dense path (spec-pinned), so the
        // threshold can never change results, only cost.
        val cells = ppmiCells(coo0) // checkpointed at cell grain inside
          .select(col("a").as("word_id"), col("b").as("dim"),
            (col("l") * 16384L).as("xfp")) // exact: floor(l/2^10·2^24)
        val frame = graft.ops.Embed.pcaFrameSparse(cells, vcnt.toLong,
          vcnt, "word_id", "dim", "xfp")
        val comps = graft.ops.Embed.pcaFinalize(frame, vcnt, k, iters)
        graft.ops.Embed.pcaProjectSparse(vocab.select(col("word_id")),
          cells, comps, "word_id", "dim", "xfp")
      }
    val mx = proj.agg(greatest(max(abs(col("proj_fp"))), lit(1L)).as("mx"))
    proj.crossJoin(broadcast(mx))
      .select(col("word_id"), col("comp"),
        expr("case when proj_fp >= 0 then " +
          "(cast(proj_fp as decimal(38,0)) * 1048576) div " +
          "cast(mx as decimal(38,0)) else " +
          "-((cast(-proj_fp as decimal(38,0)) * 1048576) div " +
          "cast(mx as decimal(38,0))) end").as("wv_fp"))
      .join(broadcast(vocab.select(col("word_id"), col("word"),
        col("cnt"))), Seq("word_id"))
      .select(col("word"), col("word_id").cast("long").as("word_id"),
        col("cnt").cast("long").as("cnt"), col("comp"),
        col("wv_fp").cast("long").as("wv_fp"))
  }

  /** Dense fixed-point PPMI rows over the vocabulary — (word_id,
    * vec: array<double> of length V), values L/2¹⁰ with L the exact
    * integer log2 (see [[wordVectors]]); exactly representable, so
    * [[graft.ops.Embed.pcaFrame]]'s 2²⁴ quantization recovers the
    * exact integer L·2¹⁴. This is the matrix [[wordVectorsFromCooc]]
    * factorizes and the q177 audit prices with
    * [[graft.ops.Embed.pcaExplained]] before anyone spends the
    * factorization. Vocabulary-bounded throughout (≤ V² cells). */
  def ppmiVectors(vocab: DataFrame, coo0: DataFrame): DataFrame = {
    val vcnt = vocab.count().toInt // actual V (corpus may have < topV words)
    val ppmi = ppmiCells(coo0)
    // dense V-dim PPMI rows (values L/2^10 — exactly representable, so
    // pcaFrame's 2^24 quantization is the exact integer L·2^14)
    vocab.select(col("word_id").as("a"))
      .join(ppmi, Seq("a"), "left")
      .groupBy(col("a"))
      .agg(map_from_entries(collect_list(
        when(col("b").isNotNull, struct(col("b"), col("l"))))).as("m"))
      .select(col("a").as("word_id"),
        transform(sequence(lit(1), lit(vcnt)),
          i => coalesce(element_at(col("m"), i), lit(0L))
            .cast("double") / lit(1024.0d)).as("vec"))
  }

  /** The SPARSE form of [[ppmiVectors]] — the nonzero fixed-point PPMI
    * cells (a, b, l) with l = floor(2¹⁰·log₂(p/q)) by the exact
    * integer bit-recurrence (see [[wordVectors]] step 3); cells with
    * p ≤ q (PPMI ≤ 0) are absent, which IS the positive-PMI
    * truncation. This is what the large-V path feeds to
    * [[graft.ops.Embed.pcaFrameSparse]] (as xfp = l·2¹⁴, the exact
    * 2²⁴ quantization of l/2¹⁰) — the dense rows and these cells
    * describe the identical matrix. ≤ nnz rows, vocabulary-bounded. */
  def ppmiCells(coo0: DataFrame): DataFrame = {
    val coo = coo0
      .localCheckpoint() // <= V² rows; read by marginals, N, and cells
    val marg = coo.groupBy(col("a")).agg(sum(col("cnt")).as("ra"))
    val tot = coo.agg(sum(col("cnt")).as("nn"))
    // fixed-point PPMI: e = len(bin(p div q)) - 1, then ten exact
    // squaring rounds on the 2^20-grid mantissa (see scaladoc)
    val cells = coo
      .join(marg, Seq("a"))
      .join(marg.select(col("a").as("b"), col("ra").as("rb")), Seq("b"))
      .crossJoin(broadcast(tot))
      .select(col("a"), col("b"),
        (col("cnt").cast("decimal(38,0)") *
          col("nn").cast("decimal(38,0)")).as("p"),
        (col("ra").cast("decimal(38,0)") *
          col("rb").cast("decimal(38,0)")).as("q"))
      .where(col("p") > col("q"))
    // fpLog2 ends with the pushdown-barrier checkpoint — safe to
    // filter/join downstream
    fpLog2(cells).select(col("a"), col("b"), col("l"))
  }

  /** The engine's exact fixed-point log2 as a column recurrence —
    * given decimal columns `p` > `q` > 0, append
    * l = floor(2¹⁰·log₂(p/q)): e = len(bin(p div q)) − 1 for the
    * integer part, then ten exact squaring rounds on a 2²⁰-grid
    * mantissa for the fraction. No ln/log anywhere (float logs are
    * not cross-engine exact — the q142 lesson), so every engine (and
    * the DuckDB oracle) reproduces the identical integer. Shared by
    * the PPMI cells ([[ppmiCells]]) and the tf-idf cells
    * ([[lsaCells]]). Intermediate columns are dropped; all input
    * columns pass through. */
  private[graft] def fpLog2(in: DataFrame): DataFrame = {
    var cells = in
      .withColumn("pdq", expr("p div q"))
      // shiftleft wraps its shift amount mod 64 in Spark while the
      // DuckDB oracle's 1::BIGINT << e does not — a ratio with
      // p/q >= 2^63 would silently produce a wrong mantissa and
      // diverge cross-engine. Unreachable at any realistic corpus
      // (both callers' ratios are capped by corpus counts), so make
      // the impossible regime fail LOUDLY instead of wrapping.
      .withColumn("e",
        when(length(expr("bin(pdq)")) - 1 < 63,
          (length(expr("bin(pdq)")) - 1).cast("long"))
          .otherwise(raise_error(lit("graft.ops.Text.fpLog2: " +
            "ratio p/q >= 2^63 — outside the fixed-point " +
            "design range (shiftleft would wrap mod 64)")).cast("long")))
      .withColumn("r", expr("(p * 1048576) div " +
        "(q * cast(shiftleft(1L, cast(e as int)) as decimal(38,0)))"))
      .withColumn("frac", lit(0L))
    for (b <- 1 to 10) {
      cells = cells
        .withColumn("t", col("r") * col("r"))
        .withColumn("bit",
          when(col("t") >= lit(1L << 41), lit(1L)).otherwise(lit(0L)))
        .withColumn("r", when(col("bit") === 1L, expr("t div 2097152"))
          .otherwise(expr("t div 1048576")))
        .withColumn("frac", col("frac") + col("bit") * lit(1L << (10 - b)))
    }
    // The checkpoint is a Catalyst PUSHDOWN BARRIER, not a recompute
    // saver: any downstream filter touching l (a nonzero filter, a
    // threshold) otherwise gets pushed through this ten-level column
    // pyramid, and PushPredicateThroughNonJoin's alias substitution
    // doubles the expression tree per level until the optimizer OOMs
    // (measured: 8 GiB heap dead; the DuckDB oracles need the
    // identical MATERIALIZED barrier). Inputs are metadata-grain by
    // contract (≤ V² PPMI cells, ≤ V idf rows), so the eager
    // materialization is cheap.
    cells.withColumn("l", col("e") * 1024L + col("frac"))
      .drop("pdq", "e", "r", "frac", "t", "bit")
      .localCheckpoint()
  }

  /** Document vectors from [[wordVectors]] — each document is the SUM
    * of its (in-vocabulary) word vectors, the standard bag-of-vectors
    * composition. Sums are exact longs on the word-vector ±2²⁰ grid
    * (|Σ| ≤ doc_len·2²⁰, exact in double too), so the output feeds the
    * ENTIRE existing ANN/semdedup/OOD family ([[graft.ops.Embed]])
    * for text-only corpora: cosine normalizes, so the un-normalized
    * sum is the right artifact. Documents with no in-vocabulary words
    * (or an exactly-zero sum, where cosine is undefined) are omitted.
    * Output: (<id>, vec array<double> of length k).
    *
    * Scale shape: one token explode joined against the BROADCAST k·V
    * word-vector frame, collapsed by a map-side-combinable sum —
    * batch-proportional, no corpus-wide shuffle beyond the (doc, comp)
    * aggregate. */
  def docVectors(docs: DataFrame, wordVecs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val wv = wordVecs.select(col("word"), col("comp"), col("wv_fp"))
    // empty-model guard: max over zero rows is a single null row — an
    // empty word-vector frame yields an empty (id, vec) frame, not an
    // opaque NPE (the randomProject guard discipline)
    // cast comp up front: the public API accepts any caller frame, so
    // an IntegerType comp must read back as a clean long, not a
    // ClassCastException out of getLong
    val kmaxRow = wv.agg(max(col("comp").cast("long"))).head()
    if (kmaxRow.isNullAt(0))
      return docs.select(col(idCol),
        lit(null).cast("array<double>").as("vec")).limit(0)
    val kmax = kmaxRow.getLong(0).toInt // k rows/word
    val sums = docs
      .where(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(col(idCol).as("__did"),
        explode(words(col(textCol))).as("word"))
      .where(col("word") =!= "")
      .join(broadcast(wv), Seq("word"))
      .groupBy(col("__did"), col("comp"))
      .agg(sum(col("wv_fp")).as("s"))
    sums.groupBy(col("__did"))
      .agg(map_from_entries(collect_list(
        struct(col("comp"), col("s")))).as("m"))
      .select(col("__did"),
        transform(sequence(lit(1), lit(kmax)),
          i => coalesce(element_at(col("m"), i.cast("long")), lit(0L))
            .cast("double")).as("vec"))
      .where(exists(col("vec"), x => x =!= 0.0d))
      .select(col("__did").as(idCol), col("vec"))
  }

  /** tf-idf cells of the doc×vocabulary matrix, engine-exact — the
    * input to [[lsaVectors]]' factorization: tf = the raw in-document
    * count (exact by construction), idf = floor(2¹⁰·log₂(N/df)) by
    * the same [[fpLog2]] bit-recurrence the PPMI cells use (ln-free,
    * cross-engine bit-equal), cell value xfp = tf·idf — an exact long
    * on the 2¹⁰ log grid. Words appearing in EVERY document (idf = 0
    * exactly, df = N) drop out, which is the classic stop-word
    * self-suppression of tf-idf. Output: (<id>, dim = word_id, xfp),
    * only nonzero cells — the [[graft.ops.Embed.pcaFrameSparse]]
    * convention, checkpointed (it feeds the Gram twice and the
    * projection once, and the checkpoint doubles as the fpLog2
    * pushdown barrier).
    *
    * Scale shape: one (doc, word) map-side-combinable aggregate
    * behind a BROADCAST vocabulary join; df and idf are
    * vocabulary-grain; the cell assembly is one broadcast join more.
    * Rows ≈ Σ_docs distinct-in-vocab words — corpus-linear, narrow. */
  def lsaCells(docs: DataFrame, vocab: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    lsaCellsFrom(docs, vocab, lsaIdf(docs, vocab, idCol, textCol),
      idCol, textCol)

  /** The frozen-idf LSA artifact: (word_id, l) with
    * l = floor(2¹⁰·log₂(N/df)) over `docs` — what a crawl loop
    * PERSISTS at snapshot time so batch documents embed in the
    * snapshot's term-weight space ([[lsaCellsFrom]] under a frozen
    * vocabulary + this frame is the incremental form; re-deriving idf
    * per batch would move every axis of the space under the existing
    * vectors). Words in every doc (df = N) are absent — idf 0. */
  def lsaIdf(docs: DataFrame, vocab: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val usable = docs.where(col(textCol).isNotNull &&
      length(trim(col(textCol))) > 0)
    val tf = lsaTf(usable, vocab, idCol, textCol)
    val nd = usable.agg(count(lit(1)).as("nd"))
    val idf = tf.groupBy(col("word_id")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nd))
      .select(col("word_id"),
        col("nd").cast("decimal(38,0)").as("p"),
        col("df").cast("decimal(38,0)").as("q"))
      .where(col("p") > col("q")) // df = N ⇒ idf = 0 ⇒ no cell
    fpLog2(idf).select(col("word_id"), col("l"))
  }

  /** Per-(doc, word_id) exact term counts restricted to `vocab` —
    * one map-side aggregate behind a broadcast join; checkpointed
    * (read by the df census and the cell assembly). */
  private def lsaTf(usable: DataFrame, vocab: DataFrame,
      idCol: String, textCol: String): DataFrame =
    usable
      .select(col(idCol).as("__did"),
        explode(words(col(textCol))).as("word"))
      .where(col("word") =!= "")
      .join(broadcast(vocab.select(col("word"), col("word_id"))),
        Seq("word"))
      .groupBy(col("__did"), col("word_id"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()

  /** Assemble tf·idf cells for `docs` under a CALLER-SUPPLIED
    * (word_id, l) idf frame — the incremental form ([[lsaIdf]]'s
    * frozen artifact applied to a crawl batch); [[lsaCells]] ≡
    * lsaCellsFrom(docs, vocab, lsaIdf(docs, vocab)). */
  def lsaCellsFrom(docs: DataFrame, vocab: DataFrame, idf: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val usable = docs.where(col(textCol).isNotNull &&
      length(trim(col(textCol))) > 0)
    lsaTf(usable, vocab, idCol, textCol)
      .join(broadcast(idf.select(col("word_id"), col("l"))),
        Seq("word_id"))
      .select(col("__did").as(idCol),
        col("word_id").cast("long").as("dim"),
        (col("tf") * col("l")).as("xfp"))
      .where(col("xfp") =!= 0L)
      .localCheckpoint()
  }

  /** Latent Semantic Analysis document vectors (Deerwester et al.,
    * "Indexing by latent semantic analysis", JASIS 1990) in the
    * engine's exact grade: the SPARSE doc×vocab tf-idf matrix
    * ([[lsaCells]]) factorized by the house fixed-point PCA — k
    * latent components per document, comparable under cosine, with
    * NO embedding table anywhere. This is the count-based rung of
    * document embeddings ([[docVectors]] composes word vectors;
    * lsaVectors factorizes the doc-term matrix directly) and the
    * corpus-scale-ROWS exercise of [[graft.ops.Embed.pcaFrameSparse]]:
    * n = |docs| grows with the corpus while d = V stays
    * vocabulary-bounded, so the Gram accumulator is corpus-linear to
    * BUILD and metadata-grain to ITERATE. Docs with usable text but
    * no surviving tf-idf cell (all-stop-word docs) still project —
    * they are rows of the matrix (the all-zero-row contract).
    * Output: (<id>, comp 1..k, lsa_fp) on a ±2²⁰ grid (global-max
    * rescale, the [[wordVectors]] convention), bit-equal under any
    * partitioning and in the DuckDB oracle.
    *
    * Scale shape: two corpus-scale map-side aggregates (vocabulary,
    * tf cells) + the sparse pair join (Σ_docs nnz(doc)², nnz ≤
    * in-vocab distinct words); the projection is cells vs the
    * BROADCAST component frame. Nothing dense wider than the d×d
    * driver Gram. */
  def lsaVectors(docs: DataFrame, topV: Int = 32, k: Int = 3,
      iters: Int = 6, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val usable = docs.where(col(textCol).isNotNull &&
      length(trim(col(textCol))) > 0)
    val vocab = vocabFrame(docs, topV, textCol)
      .localCheckpoint() // read by the tf join and the count
    if (vocab.isEmpty) // no usable text anywhere (the family guard)
      return docs.sparkSession.emptyDataFrame
        .select(lit(0L).as(idCol), lit(0L).as("comp"),
          lit(0L).as("lsa_fp")).limit(0)
    val vcnt = vocab.count().toInt
    val cells = lsaCells(docs, vocab, idCol, textCol)
    val ids = usable.select(col(idCol))
    val nd = ids.count()
    val frame = graft.ops.Embed.pcaFrameSparse(cells, nd, vcnt,
      idCol, "dim", "xfp")
    val comps = graft.ops.Embed.pcaFinalize(frame, vcnt, k, iters)
    val proj = graft.ops.Embed.pcaProjectSparse(ids, cells, comps,
      idCol, "dim", "xfp")
    val mx = proj.agg(greatest(max(abs(col("proj_fp"))), lit(1L))
      .as("mx"))
    proj.crossJoin(broadcast(mx))
      .select(col(idCol), col("comp"),
        expr("case when proj_fp >= 0 then " +
          "(cast(proj_fp as decimal(38,0)) * 1048576) div " +
          "cast(mx as decimal(38,0)) else " +
          "-((cast(-proj_fp as decimal(38,0)) * 1048576) div " +
          "cast(mx as decimal(38,0))) end").cast("long").as("lsa_fp"))
  }

  def collocations(docs: DataFrame, minCount: Long = 5L,
      textCol: String = "text"): DataFrame = {
    require(minCount >= 1L, s"need minCount >= 1 (got $minCount)")
    val ws = docs
      .where(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(words(col(textCol)).as("w"))
      .where(size(col("w")) >= 2)
    val pc = ws
      .select(explode(arrays_zip(
          slice(col("w"), lit(1), size(col("w")) - 1).as("w1"),
          slice(col("w"), lit(2), size(col("w")) - 1).as("w2"))).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("c_pair"))
      .localCheckpoint() // vocabulary-bounded; read by marginals, N, spine
    val lm = pc.groupBy(col("w1")).agg(sum(col("c_pair")).as("c_left"))
    val rm = pc.groupBy(col("w2")).agg(sum(col("c_pair")).as("c_right"))
    val n = pc.agg(sum(col("c_pair")).as("n_pairs"))
    pc.where(col("c_pair") >= minCount)
      .join(lm, Seq("w1")).join(rm, Seq("w2")).crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("c_pair"), col("c_left"),
        col("c_right"), col("n_pairs"),
        ((col("c_pair").cast("double") * col("n_pairs").cast("double")) /
          (col("c_left").cast("double") * col("c_right").cast("double")))
          .as("lift"))
  }
}
