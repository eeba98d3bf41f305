package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The canonical "curate a crawl" composition — language filter → quality
  * threshold → exact dedup — as ONE declarative plan (SURVEY §7.2 M6).
  *
  * Composability is the point: the language and quality features are the
  * same expressions [[TextAnalysis]] uses, computed in a single projection
  * over one scan (no join of operator outputs, no second pass over text),
  * then the survivors flow into the same min-doc_id exact-dedup shape as
  * [[Dedup.exact]]. One scan + one shuffle end-to-end at any scale.
  */
object Curation {

  private def hits(w: Column, markers: Seq[String]): Column = {
    val arr = array(markers.map(lit): _*)
    size(filter(w, x => array_contains(arr, x)))
  }

  /** Keep docs predicted `langCode` with quality ≥ `minQuality`, exact
    * deduped (survivor = smallest doc_id per text). Output:
    * (doc_id, n_words, quality_score); order unspecified.
    *
    * The quality score's stopword feature uses the TARGET language's marker
    * vocabulary (a German page full of English stopwords is not a quality
    * German page); `stopwordLang` overrides that when a caller wants a
    * fixed reference vocabulary across languages. */
  def curate(
      docs: DataFrame,
      langCode: String = "en",
      minQuality: Double = 0.55,
      stopwordLang: Option[String] = None): DataFrame = {
    val stopCode = stopwordLang.getOrElse(langCode)
    require(TextAnalysis.langMarkers.exists(_._1 == stopCode),
      s"no marker vocabulary for language '$stopCode'")
    val base = docs.select(col("doc_id"), col("text"),
      split(col("text"), " ").as("w"))
    val scored = TextAnalysis.langMarkers.foldLeft(base) {
        case (df, (code, markers)) =>
          df.withColumn(s"s_$code", hits(col("w"), markers))
      }
      .withColumn("n_words", size(col("w")))
      .withColumn("ncns",
        length(regexp_replace(col("text"), " ", "")))
      .withColumn("pred_lang", TextAnalysis.predFromScores(c => col(s"s_$c")))
      .withColumn("avg_word_len",
        col("ncns").cast("double") / col("n_words"))
      .withColumn("stopword_ratio",
        col(s"s_$stopCode").cast("double") / col("n_words"))
      .withColumn("quality_score",
        least(col("n_words").cast("double") / lit(100.0), lit(1.0)) * 0.5 +
          col("stopword_ratio") * 0.3 +
          when(col("avg_word_len") >= 3.0 && col("avg_word_len") <= 8.0,
            lit(0.2)).otherwise(lit(0.0)))
    scored
      .where(col("pred_lang") === langCode &&
        col("quality_score") >= minQuality)
      // survivors' features are functions of the text, so min() within a
      // text group IS the survivor's value — single shuffle, map-side combine
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"),
        min(col("n_words")).as("n_words"),
        min(col("quality_score")).as("quality_score"))
      .select(col("doc_id"), col("n_words"), col("quality_score"))
  }

  /** M7 — MODEL-based curation (the CCNet recipe): language gate →
    * learned-classifier gate → perplexity gate → exact dedup. [[curate]]
    * is the heuristic twin (length/stopword features); this is the shape
    * pipelines move to once trained filters exist — the classifier is
    * [[Quality.classifierScoreInline]]'s exact-integer in-row fold (so
    * the language AND classifier gates fuse into ONE projection over one
    * scan, nothing materializes between them), and the perplexity gate is
    * [[Quality.lmPerplexity]] self-trained on the gated survivors — the
    * "reference domain" CCNet trains its LM on is exactly the text that
    * passed the cheaper gates.
    *
    * Scale shape: stage-1 survivors are persisted (MEMORY_AND_DISK) —
    * they feed three consumers (LM training, LM scoring, the final
    * rollup) and re-running the scan+gates per consumer would triple the
    * corpus reads; the caller's [[Materialize.scope]] frees it. (r8
    * audit, PLANS.md: the persist is load-bearing — the consumers need
    * the survivor ROWS, so an Observation-based shortcut cannot replace
    * it; both broadcast joins keep text off any doc_id shuffle.) After
    * that: the ns61 wordcount/join/rollup on the SURVIVOR subset, one
    * doc_id join to attach nll, and the dedup groupBy(text) — every
    * exchange narrow or keyed, nothing pairwise.
    *
    * Output: (doc_id, n_tokens, score, nll) per surviving doc — the
    * survivor of each duplicate-text group is the min doc_id, and all
    * reported features are functions of the text, so min() within the
    * group IS the survivor's value. */
  def curateModel(
      docs: DataFrame,
      langCode: String = "en",
      minScore: Double = 0.5,
      maxNll: Double = 9.0): DataFrame = {
    require(TextAnalysis.langMarkers.exists(_._1 == langCode),
      s"no marker vocabulary for language '$langCode'")
    val base = docs.select(col("doc_id"), col("text"),
      split(col("text"), " ").as("w"))
    val lang = TextAnalysis.langMarkers.foldLeft(base) {
        case (df, (code, markers)) =>
          df.withColumn(s"s_$code", hits(col("w"), markers))
      }
      .withColumn("pred_lang", TextAnalysis.predFromScores(c => col(s"s_$c")))
    val (nTokens, milliSum) = Quality.inlineMilliSum(512)
    val score = Quality.sigmoidOf(4.0)
    val s1 = Materialize.cached(lang.where(col("pred_lang") === langCode)
      .select(col("doc_id"), col("text"),
        nTokens.as("n_tokens"), milliSum.as("s"))
      .withColumn("score", score)
      .where(col("score") >= lit(minScore))
      .select(col("doc_id"), col("text"), col("n_tokens"), col("score")))
    val kept = Quality.lmPerplexity(s1.select(col("doc_id"), col("text")),
        maxNll)
      .where(!col("rejected"))
      .select(col("doc_id"), col("nll"))
    s1.join(kept, "doc_id")
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"),
        min(col("n_tokens")).as("n_tokens"),
        min(col("score")).as("score"),
        min(col("nll")).as("nll"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("score"), 6).as("score"), col("nll"))
  }

  /** The WHOLE training-data prep as one declarative plan — what a crawl
    * actually goes through before tokenization: language-ID + quality
    * scoring (multi-language: the stopword feature follows each doc's
    * PREDICTED language) → quality floor → exact dedup → per-language
    * stratified downsampling → fixed-budget sequence packing. Each stage
    * is the same logic as its standalone operator
    * ([[TextAnalysis.languageId]]/[[qualityScore|TextAnalysis.qualityScore]],
    * [[Dedup.exact]], [[Sampling.stratifiedSample]],
    * [[Sampling.packSequences]]); the point of this composition is that
    * Catalyst fuses them — the features never materialize between stages
    * and the text is read ONCE.
    *
    * Scale shape: one scan + exactly two shuffles at any corpus size —
    * the dedup groupBy on text, and the per-language window for packing
    * (the sampling predicate is a filter between them, no exchange).
    * Output: (doc_id, pred_lang, n_tokens, seq_id, seq_off) per surviving
    * doc; order unspecified. */
  def prepareCorpus(
      docs: DataFrame,
      minQuality: Double = 0.3,
      sampleRates: Map[String, Double] = Map.empty,
      tokenBudget: Int = 2048): DataFrame = {
    require(tokenBudget > 0, "tokenBudget must be positive")
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col("doc_id"), col("text"),
      split(col("text"), " ").as("w"))
    val feats = TextAnalysis.langMarkers.foldLeft(base) {
        case (df, (code, markers)) =>
          df.withColumn(s"s_$code", hits(col("w"), markers))
      }
      .withColumn("n_words", size(col("w")))
      .withColumn("ncns", length(regexp_replace(col("text"), " ", "")))
      .withColumn("pred_lang", TextAnalysis.predFromScores(c => col(s"s_$c")))
      .withColumn("avg_word_len", col("ncns").cast("double") / col("n_words"))
      // each doc is judged by ITS language's stopword vocabulary
      .withColumn("stopword_ratio",
        TextAnalysis.langMarkers.map(_._1).foldRight(
          lit(null).cast("int")) { (code, rest) =>
            when(col("pred_lang") === code, col(s"s_$code")).otherwise(rest)
          }.cast("double") / col("n_words"))
      .withColumn("quality_score",
        least(col("n_words").cast("double") / lit(100.0), lit(1.0)) * 0.5 +
          col("stopword_ratio") * 0.3 +
          when(col("avg_word_len") >= 3.0 && col("avg_word_len") <= 8.0,
            lit(0.2)).otherwise(lit(0.0)))
    val deduped = feats
      .where(col("quality_score") >= minQuality)
      // pred_lang and the token estimate are functions of the text, so
      // min() within a text group is the survivor's value
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"),
        min(col("pred_lang")).as("pred_lang"))
      .select(col("doc_id"), col("pred_lang"),
        ceil(length(col("text")).cast("double") / 4.0).cast("long")
          .as("n_tokens"))
    val sampled = Sampling.applyRates(deduped, "pred_lang", sampleRates)
    val w = Window.partitionBy("pred_lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sampled
      .withColumn("off", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("pred_lang"), col("n_tokens"),
        expr(s"off DIV $tokenBudget").as("seq_id"),
        (col("off") % tokenBudget).as("seq_off"))
  }

  /** The DATASET CARD rollup — the single-row summary a corpus release
    * ships with (docs, source/language diversity, byte and token volume,
    * token-length extremes, and an HLL estimate of distinct texts — the
    * dup-rate signal that at 100 TB only a sketch can afford). Every
    * field but the HLL estimate is exact integer arithmetic; the estimate
    * follows the [[Sketches.hllDistinct]] engine-reproducible contract.
    *
    * Scale shape: ONE scan feeds the base aggregates (count-distincts
    * over the tiny source/lang domains partial-aggregate map-side); the
    * distinct-text sketch is its own scan into register-space (2^b rows);
    * the two single-row frames meet on a constant key — a 1×1 join, not a
    * data movement. */
  def describeCorpus(docs: DataFrame, hllB: Int = 10): DataFrame = {
    val t = docs.select(col("source"), col("lang"),
      length(col("text")).as("nc"),
      size(split(col("text"), " ")).as("nt"))
    val base = t.agg(
      count(lit(1)).as("n_docs"),
      count_distinct(col("source")).as("n_sources"),
      count_distinct(col("lang")).as("n_langs"),
      sum(col("nc")).as("total_chars"),
      sum(col("nt")).as("total_tokens"),
      min(col("nt")).as("min_tokens"),
      max(col("nt")).as("max_tokens"))
    val est = Sketches.hllDistinct(
        docs.select(col("text"), lit(1).as("_all")), "text", Seq("_all"), hllB)
      .select(col("n_registers"),
        col("hll_estimate").as("distinct_text_est"))
    base.withColumn("_k", lit(1))
      .join(est.withColumn("_k", lit(1)), Seq("_k"))
      .drop("_k")
  }

  /** The fused WEB-INGEST pipeline — the stage order every crawl-derived
    * corpus runs, as one composed plan:
    *
    *   1. canonical-URL dedup ([[Urls.dedupByUrl]]): mirrors and re-crawls
    *      of the same resource collapse BEFORE any content work — the only
    *      dedup that needs no page bytes;
    *   2. corpus-wide line dedup ([[Dedup.lineDedup]]) over the URL
    *      survivors: banners / chrome / footers shared across pages are
    *      stripped (df computed on the post-URL-dedup corpus — pipeline
    *      order matters: mirror copies must not inflate line df);
    *   3. a cheap quality gate on the CLEANED text (enough surviving
    *      lines, enough bytes) — boilerplate-only pages die here;
    *   4. exact content dedup on the cleaned text: pages that differ only
    *      in chrome now hash identically and collapse to one survivor.
    *
    * Output: one row per released document — (doc_id, n_content_copies,
    * kept_lines); order unspecified.
    *
    * Scale shape: URL dedup is one canonical-keyed groupBy whose
    * survivor-id set probes back as a LEFT SEMI (the wide text column
    * never rides a shuffle — measured 46→27 s at the 100× decade vs the
    * inner-join-back formulation); line dedup contributes its one
    * line-volume shuffle; the gate is a filter; content dedup is one
    * text-keyed groupBy. No stage widens rows beyond its own keys, and
    * nothing is pairwise. */
  def webIngest(
      pages: DataFrame,
      maxDocFreq: Int = 1,
      minKeptLines: Int = 2,
      minChars: Int = 40): DataFrame = {
    // survivor ids only, joined left_semi: the wide text column never
    // rides a shuffle — the id set broadcasts (or SMJs narrow at worst)
    val urlKeep = Urls.dedupByUrl(pages).select(col("doc_id"))
    val surv = pages.join(urlKeep, Seq("doc_id"), "left_semi")
    val cleaned = Dedup.lineDedup(
      surv.select(col("doc_id"), col("text")), maxDocFreq)
    cleaned
      .where(col("kept_lines") >= minKeptLines &&
        length(col("text_clean")) >= minChars)
      .groupBy(col("text_clean"))
      .agg(min(col("doc_id")).as("doc_id"),
        count(lit(1)).as("n_content_copies"),
        min_by(col("kept_lines"), col("doc_id")).as("kept_lines"))
      .select(col("doc_id"), col("n_content_copies"), col("kept_lines"))
  }

  /** M8 — C4-style line-level policy filter (Raffel et al. 2020 §2.2,
    * the public C4 cleaning recipe): a web page is cleaned LINE by line
    * — keep a line only if it (a) ends in terminal punctuation
    * (. ! ? "), (b) has at least `minWordsPerLine` words, and (c) does
    * not mention "javascript" (the enable-JS boilerplate class); then
    * the PAGE is kept only if it has at least `minLines` surviving
    * lines and carries neither "lorem ipsum" nor a curly brace (the
    * placeholder-text and leaked-code page gates). The line tier and
    * the page tier are independent outputs: `text_clean`/`kept_lines`
    * report the line filter's work even on pages the gate rejects, so
    * the policy is auditable per rule. NULL text reads as the empty
    * page (one empty line, nothing survives, keep = false).
    *
    * Where [[Dedup.lineDedup]] drops lines by corpus-wide FREQUENCY
    * (needs a shuffle), this drops them by local POLICY: the whole
    * operator is one codegen'd projection — split, higher-order
    * `filter`, `array_join` — fused into the scan's WholeStageCodegen
    * with ZERO shuffle at any scale. Every predicate is RE2-safe plain
    * string arithmetic, so external engines replay it byte-for-byte. */
  def c4LineFilter(
      docs: DataFrame, minWordsPerLine: Int = 5,
      minLines: Int = 3): DataFrame = {
    require(minWordsPerLine >= 1, "minWordsPerLine must be >= 1")
    require(minLines >= 1, "minLines must be >= 1")
    val text = coalesce(col("text"), lit(""))
    val lines = split(text, "\n")
    val kept = filter(lines, l =>
      substring(l, -1, 1).isin(".", "!", "?", "\"") &&
        (size(split(l, " ")) >= minWordsPerLine) &&
        !lower(l).contains("javascript"))
    val pageOk = !lower(text).contains("lorem ipsum") &&
      !text.contains("{")
    docs.select(col("doc_id"),
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("kept_lines"),
      array_join(kept, "\n").as("text_clean"),
      (pageOk && size(kept) >= minLines).as("keep"))
  }

  /** Release mix report with subtotals — the drill-down companion of
    * [[describeCorpus]]'s single card row: doc and token counts at every
    * (source, lang) cell, per-source subtotals, and the grand total, in
    * ONE pass via ROLLUP grouping sets. `grouping()` marker columns
    * disambiguate a subtotal row's NULL from a genuinely-NULL data value
    * (the null-group policy the privacy family established — a report
    * that conflates the two misstates the mix).
    *
    * Scale shape: Catalyst expands the rollup to its 3 grouping sets
    * BEFORE partial aggregation, so the shuffle carries
    * (sources×langs + sources + 1) partials, never rows; exact integer
    * outputs only. */
  def releaseRollup(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("toks"))
      .rollup(col("source"), col("lang"))
      .agg(
        grouping(col("source")).cast("long").as("g_source"),
        grouping(col("lang")).cast("long").as("g_lang"),
        count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"))
}
