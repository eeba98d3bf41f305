package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines — north-star
  * extensions (SURVEY §7.2 M6): language-ID, quality scoring, token
  * counting, document fingerprinting.
  *
  * Everything here is a narrow per-row projection over codegen'd built-ins
  * (no UDFs, no shuffles except user-requested aggregations), so the
  * operators fuse into the scan stage at any scale. Formulas are expressed
  * with engine-portable arithmetic (single IEEE ops over exact ints) so the
  * DuckDB oracle reproduces results bit-for-bit.
  */
object TextAnalysis {

  /** Marker vocabularies for the n-gram language-ID heuristic. Scores are
    * duplicate-counting token hits; argmax tie-breaks on ascending language
    * code. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "zu", "nicht", "ist", "ein"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that"),
    "es" -> Seq("el", "la", "de", "los", "y", "que", "en", "un"),
    "fr" -> Seq("le", "la", "de", "les", "et", "que", "en", "un"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"))

  private def hitCount(wordsCol: String, markers: Seq[String]): Column = {
    val arr = array(markers.map(lit): _*)
    size(filter(col(wordsCol), w => array_contains(arr, w)))
  }

  /** Argmax with ascending-code tie-break, as a CASE cascade so any SQL
    * engine evaluates the identical decision tree. `score` maps a language
    * code to its hit-count column. */
  private[ops] def predFromScores(score: String => Column): Column = {
    val codes = langMarkers.map(_._1)
    codes.init.zipWithIndex.foldRight(lit(codes.last)) {
      case ((code, i), elseCol) =>
        val laterCodes = codes.drop(i + 1)
        when(laterCodes.map(lc => score(code) >= score(lc))
          .reduce(_ && _), lit(code)).otherwise(elseCol)
    }
  }

  /** T1 — language identification. Output: doc_id, lang (ground truth
    * column, carried through), pred_lang. */
  def languageId(docs: DataFrame): DataFrame = {
    val withScores = langMarkers.foldLeft(
      docs.select(col("doc_id"), col("lang"), split(col("text"), " ").as("w"))) {
      case (df, (code, markers)) =>
        df.withColumn(s"s_$code", hitCount("w", markers))
    }
    withScores.select(col("doc_id"), col("lang"),
        predFromScores(c => col(s"s_$c")).as("pred_lang"))
  }

  /** T2 — quality scoring: length/word/stopword/punctuation features and a
    * composite score. All divisions are single IEEE double ops over exact
    * integers — reproducible across engines. `stopwordLang` picks the
    * marker vocabulary the stopword-ratio feature counts against (a score
    * for German text should reward German stopwords, not English ones). */
  def qualityScore(docs: DataFrame, stopwordLang: String = "en"): DataFrame = {
    require(langMarkers.exists(_._1 == stopwordLang),
      s"no marker vocabulary for language '$stopwordLang'")
    val w = split(col("text"), " ")
    val nWords = size(w)
    val nChars = length(col("text"))
    val nCharsNoSpace = length(regexp_replace(col("text"), " ", ""))
    val stopHits = hitCount("w", langMarkers.toMap.apply(stopwordLang))
    docs.select(col("doc_id"), w.as("w"), nChars.as("n_chars"),
        nWords.as("n_words"), nCharsNoSpace.as("ncns"))
      .withColumn("stop_hits", stopHits)
      .select(
        col("doc_id"), col("n_chars"), col("n_words"),
        (col("ncns").cast("double") / col("n_words")).as("avg_word_len"),
        (col("stop_hits").cast("double") / col("n_words")).as("stopword_ratio"))
      .withColumn("quality_score",
        least(col("n_words").cast("double") / lit(100.0), lit(1.0)) * 0.5 +
          col("stopword_ratio") * 0.3 +
          when(col("avg_word_len") >= 3.0 && col("avg_word_len") <= 8.0,
            lit(0.2)).otherwise(lit(0.0)))
  }

  /** T3 — token counting: whitespace tokens, BPE-ish regex tokens
    * (letter runs / digit runs / single non-alphanumeric), and the
    * chars/4 LLM estimate. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(split(col("text"), " ")).as("n_ws_tokens"),
      regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"))
        .as("n_bpe_tokens"),
      ceil(length(col("text")).cast("double") / 4.0).cast("long")
        .as("n_est_tokens"))

  /** T5 — repetition statistics (Gopher-style quality rules): the fraction
    * of duplicated words and duplicated word-2-grams per document, plus a
    * repetitiveness flag. Boilerplate and spam pages repeat themselves;
    * these two fractions are the standard cheap detectors applied before
    * training-corpus admission.
    *
    * Scale shape: zero shuffle — both fractions are array arithmetic over
    * the in-row token vector (size/array_distinct on the split words and
    * their 2-gram transform), so the operator fuses into the scan stage.
    * Per-row cost is linear in document length. The flag is compared on
    * the UNROUNDED fraction (both engines compute bit-identical IEEE
    * doubles from identical integer operands); the reported fractions are
    * rounded only for display. */
  def repetitionStats(
      docs: DataFrame, dupNgramThreshold: Double = 0.1): DataFrame = {
    val grams2 = when(size(col("w")) >= 2,
      expr("transform(sequence(0, size(w) - 2), " +
        "i -> concat_ws(' ', slice(w, i + 1, 2)))"))
      .otherwise(expr("array()"))
    val dupFrac = lit(1.0) -
      size(array_distinct(col("w"))).cast("double") / size(col("w"))
    val dup2Frac = when(size(col("g2")) === 0, lit(0.0)).otherwise(
      lit(1.0) - size(array_distinct(col("g2"))).cast("double") /
        size(col("g2")))
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("g2", grams2)
      .select(
        col("doc_id"), size(col("w")).as("n_words"),
        round(dupFrac, 6).as("dup_word_frac"),
        round(dup2Frac, 6).as("dup_2gram_frac"),
        (dup2Frac > dupNgramThreshold).as("is_repetitive"))
  }

  /** T6 — boilerplate detection: corpus-frequency heavy hitters at the
    * k-gram level. Navigation chrome, cookie banners and license headers
    * recur VERBATIM across many documents; a k-gram present in ≥ `minDocs`
    * distinct docs is boilerplate, and a doc whose gram stream is mostly
    * boilerplate is template chrome, not content. This is the
    * corpus-level complement of [[repetitionStats]] (which sees only
    * within-doc repetition) — the standard pair of cheap filters applied
    * before training-corpus admission.
    *
    * Scale shape: three narrow shuffles, none pairwise — (1) per-doc
    * distinct grams aggregate to (gram, doc_freq) with map-side combine;
    * (2) the gram stream equality-joins doc_freq back on the gram key;
    * (3) per-doc counts aggregate with map-side combine. Every shuffled
    * row is a few fixed-width columns. The doc_freq join carries no
    * broadcast hint: nothing here assumes the gram-frequency table fits in
    * memory (a 100 TB corpus has billions of distinct grams) — if AQE's
    * measured runtime size proves it small, Spark may still elect a
    * broadcast on evidence, which is the right call when true. The flag
    * compares the
    * UNROUNDED fraction (identical integer operands in both engines); the
    * reported fraction is rounded for display only.
    *
    * Docs with fewer than `shingleK` words have no grams and are absent
    * from the output (nothing to classify). */
  def boilerplate(
      docs: DataFrame,
      shingleK: Int = 3,
      minDocs: Int = 3,
      flagThreshold: Double = 0.5): DataFrame = {
    require(minDocs >= 2, "minDocs must be at least 2")
    val grams = graft.ops.Dedup.shingles(docs, shingleK)
    val freq = grams.groupBy(col("shingle"))
      .agg(count(lit(1)).as("doc_freq"))
    val frac = col("n_boiler").cast("double") / col("n_grams")
    grams.join(freq, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("doc_freq") >= minDocs, 1L).otherwise(0L))
          .as("n_boiler"))
      .select(
        col("doc_id"), col("n_grams"), col("n_boiler"),
        round(frac, 6).as("boiler_frac"),
        (frac > flagThreshold).as("is_boiler"))
  }

  /** T7 — corpus length distribution per group: exact interpolated
    * quartiles (the `quantile_cont` definition: position p·(n−1), linear
    * interpolation) plus the mean, via RANK ARITHMETIC — row_number
    * against per-group boundary positions, never a per-group value
    * buffer. Spark's own `percentile` aggregate collects every value of
    * a group into one buffer, which a 100 TB group cannot do; this
    * formulation is one shuffle (group hash for the in-partition sort) +
    * a broadcast of per-group counts, and the interpolation picks exactly
    * two ranked rows per (group, quantile).
    *
    * Engine-exactness contract: with DYADIC quantile fractions (0.25,
    * 0.5, 0.75 — denominators a power of two) over an integer-valued
    * column, every intermediate (position, interpolation weights, both
    * products) is exact in IEEE double, so any engine's `quantile_cont`
    * reproduces the values bit-for-bit regardless of its interpolation
    * formula. Non-dyadic fractions (0.9, 0.99) would be approximately
    * right but not hash-identical; the default quartiles are the
    * oracle-safe choice. The mean divides an exact integer sum, same
    * determinism argument. */
  def lengthStats(
      docs: DataFrame,
      groupCol: String = "lang",
      valueCol: String = "n_chars",
      quantiles: Seq[Double] = Seq(0.25, 0.5, 0.75)): DataFrame = {
    require(quantiles.nonEmpty && quantiles.forall(p => p >= 0 && p <= 1),
      "quantiles must be fractions in [0,1]")
    import org.apache.spark.sql.expressions.Window
    // NULL values are excluded up front — same contract as [[histogram]].
    // Counting them in `n` would shift every quantile position and skew
    // the mean divisor while contributing nothing to the sum.
    val nonNull = docs.filter(col(valueCol).isNotNull)
    val w = Window.partitionBy(groupCol).orderBy("v")
    val sizes = nonNull.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n"),
      sum(col(valueCol).cast("long")).as("tot"))
    val ranked = nonNull
      .select(col(groupCol), col(valueCol).cast("long").as("v"))
      .withColumn("rn", row_number().over(w))
      .join(broadcast(sizes), Seq(groupCol))
    val qNames = quantiles.map(p => s"q${(p * 100).round}")
    val qAggs = quantiles.zip(qNames).map { case (p, name) =>
      val pos = lit(p) * (col("n") - 1).cast("double")
      val lo = floor(pos).cast("long") + 1
      val hi = ceil(pos).cast("long") + 1
      val g = pos - floor(pos)
      round(
        sum(when(col("rn") === lo, (lit(1.0) - g) * col("v"))
          .otherwise(lit(0.0))) +
        sum(when(col("rn") === hi, g * col("v")).otherwise(lit(0.0))),
        6).as(name)
    }
    val aggs = qAggs :+
      round(min(col("tot")).cast("double") / min(col("n")), 6)
        .as(s"mean_$valueCol") :+
      min(col("n")).as("n_docs")
    ranked.groupBy(col(groupCol))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(groupCol) +: col("n_docs") +:
        qNames.map(col) :+ col(s"mean_$valueCol"): _*)
  }

  /** T11 — grouped histogram: exact fixed-width bucket counts of an
    * integer column per group — the distribution snapshot behind corpus
    * dashboards ([[lengthStats]] gives the quartiles; this gives the
    * shape). Bucket i covers [i·width, (i+1)·width); values below 0 clamp
    * into bucket 0 and values at or above (maxBuckets−1)·width into the
    * last bucket, so the output arity is bounded regardless of outliers
    * IN EITHER DIRECTION (the clamp is also what keeps the oracle exact:
    * engines disagree on the sign convention of % for negative operands,
    * but every negative lands in bucket 0 under both conventions). NULL
    * values are excluded — Spark's `least` would otherwise silently count
    * them as top-bucket outliers. Only non-empty buckets are emitted.
    *
    * 100 TB shape: one (group, bucket)-keyed aggregation with map-side
    * combine — the shuffle carries at most groups × maxBuckets partial
    * rows per task, never values. */
  def histogram(
      docs: DataFrame,
      valueCol: String = "n_chars",
      groupCol: String = "lang",
      bucketWidth: Long = 50,
      maxBuckets: Int = 12): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    require(maxBuckets > 0, "maxBuckets must be positive")
    val v = s"CAST($valueCol AS BIGINT)"
    val bucket = greatest(least(
      expr(s"(($v) - pmod(($v), ${bucketWidth}L)) DIV ${bucketWidth}L"),
      lit((maxBuckets - 1).toLong)), lit(0L))
    docs
      .where(col(valueCol).isNotNull)
      .groupBy(col(groupCol), bucket.as("bucket"))
      .agg(count(lit(1)).as("n"))
      .select(col(groupCol), col("bucket"),
        (col("bucket") * bucketWidth).as("lo"),
        ((col("bucket") + 1) * bucketWidth).as("hi"),
        col("n"))
  }

  /** T8 — Unicode normalization: the first transform a multi-source text
    * corpus needs — the same visible string arrives composed ("é") from
    * one crawler and decomposed ("e" + combining acute) from another, and
    * every downstream equality (exact dedup, shingle hashes, minhash)
    * silently treats them as distinct documents until normalized. Spark
    * has no built-in; this is the codegen'd
    * [[graft.functions.NormalizeText]] expression. Zero shuffle — fuses
    * into the scan stage. `changed` flags rows the normalization touched
    * (byte inequality), the cheap monitor for how dirty a source is. */
  def normalizeText(docs: DataFrame, form: String = "NFC"): DataFrame = {
    graft.functions.VectorFunctions.register(docs.sparkSession)
    val norm = graft.functions.TextFunctions.normalizeText(col("text"), form)
    docs.select(col("doc_id"), norm.as("text"),
      (col("text") =!= norm).as("changed"))
  }

  /** T9 — TF-IDF keyword extraction: the top-`topK` most characteristic
    * `ngram`-word terms per document (bigram default: distinctive
    * collocations, not bare words). The idf is QUANTIZED to
    * floor(log₂(N ÷ df)) (integer division, exact bit-length arithmetic —
    * `length(bin(x)) - 1` in both engines), so every score is an exact
    * integer tf·idf and the whole ranking is hash-verifiable
    * cross-engine; the classic smooth `ln((1+N)/(1+df))` is a one-line
    * swap where bit-equality across engines isn't required
    * (transcendentals are the one op class libms disagree on at the last
    * ulp). Terms in more than half the corpus get idf 0 and never rank —
    * the stopword filter falls out of the formula. Ties rank by ascending
    * term so output is total-ordered.
    *
    * 100 TB shape: tf is one (doc_id, term)-keyed aggregation with
    * map-side combine; df reuses the tf frame (already distinct per doc)
    * with a term-keyed count; the corpus size joins back as a broadcast
    * 1-row aggregate; the scores rejoin tf on the term key — NO broadcast
    * hint (a 100 TB term table is billions of rows; AQE may still elect
    * one from measured sizes); the final per-doc top-k is one
    * doc_id-keyed window. Nothing pairwise, nothing driver-side. */
  def tfidfKeywords(
      docs: DataFrame, topK: Int = 5, ngram: Int = 2,
      reuseTf: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(ngram >= 1, s"ngram must be >= 1, got $ngram")
    // per-doc term frequencies are computed INSIDE the document row
    // (sort the gram array, emit one (term, run-length) struct per run —
    // O(n log n) per doc): a document's grams are all born in its one
    // row, so the old explode + groupBy(doc_id, term) exchange shipped
    // the entire distinct-postings stream for key-uniqueness the scan
    // partitioning already guaranteed. The tf table still has two
    // consumers (df aggregation + score join) — LAZY checkpoint so the
    // scan + sort runs once, with no construction-time job.
    // Each intermediate is bound as a REAL column (__w, srt, starts) so
    // it evaluates once per row — inlining them into the lambdas would
    // re-evaluate the whole subtree per array element (O(n² log n)/doc;
    // the original gram builder inlined the split into the slice lambda
    // and paid exactly that).
    // All element_at indices are in-bounds by construction (ANSI-safe);
    // the empty-gram guards keep short docs out of the lambdas entirely.
    val grams = {
      val w = col("__w")
      when(size(w) >= ngram,
        expr(s"transform(sequence(0, size(__w) - $ngram), " +
          s"i -> concat_ws(' ', slice(__w, i + 1, $ngram)))"))
        .otherwise(expr("array()"))
    }
    val srt = col("srt")
    val starts = col("starts")
    val nGrams = size(srt)
    val runs = transform(sequence(lit(0), size(starts) - 1), j =>
      struct(
        element_at(srt, element_at(starts, j + 1) + 1).as("term"),
        (when(j === size(starts) - 1, nGrams)
          .otherwise(element_at(starts, j + 2))
          - element_at(starts, j + 1)).cast("long").as("tf")))
    val tf0 = docs
      .select(col("doc_id"), split(col("text"), " ").as("__w"))
      .select(col("doc_id"), array_sort(grams).as("srt"))
      // run starts: 0-based positions into srt (element_at is 1-based)
      .withColumn("starts",
        when(nGrams === 0, expr("cast(array() as array<int>)"))
          .otherwise(filter(sequence(lit(0), nGrams - 1), i =>
            i === 0 || element_at(srt, i + 1) =!= element_at(srt, i))))
      .select(col("doc_id"),
        explode(when(nGrams === 0, expr(
          "cast(array() as array<struct<term:string,tf:bigint>>)"))
          .otherwise(runs)).as("tc"))
      .select(col("doc_id"), col("tc.term").as("term"), col("tc.tf").as("tf"))
    val tf = if (reuseTf) Materialize.local(tf0, eager = false) else tf0
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val idf = (length(bin(expr("n_docs DIV df"))) - 1).cast("long")
    val scored = tf.join(df, Seq("term")).join(broadcast(n))
      .select(col("doc_id"), col("term"), (col("tf") * idf).as("tfidf"))
      .where(col("tfidf") > 0)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select(col("doc_id"), col("rank"), col("term"), col("tfidf"))
  }

  /** T10 — document chunking: fixed-budget token windows with overlap —
    * the splitter feeding embedding/retrieval pipelines, where documents
    * exceed the encoder's context and adjacent chunks must share
    * `overlap` tokens so no span is ever cut without context. Chunk `i`
    * covers words [i·stride, i·stride + chunkTokens) with
    * stride = chunkTokens − overlap; the last chunk is the first one
    * reaching the end of the document (short docs yield exactly one
    * chunk). All arithmetic is exact integers.
    *
    * 100 TB shape: zero shuffle — the chunk count and every slice are
    * in-row array arithmetic fused into the scan stage (posexplode over a
    * computed sequence); output size is a deterministic ~n_tokens/stride
    * expansion of the input, never data-dependent blowup. */
  def chunkDocuments(
      docs: DataFrame, chunkTokens: Int = 64, overlap: Int = 16,
      carry: Seq[String] = Nil): DataFrame = {
    require(chunkTokens > overlap && overlap >= 0,
      s"need chunkTokens > overlap >= 0, got $chunkTokens/$overlap")
    val stride = chunkTokens - overlap
    val carried = carry.map(col)
    docs
      .select(col("doc_id") +: split(col("text"), " ").as("w") +: carried: _*)
      .withColumn("n_chunks",
        lit(1) + expr(s"(greatest(size(w) - $chunkTokens, 0) + ${stride - 1}) " +
          s"DIV $stride"))
      .select(col("doc_id") +: col("w") +: carried :+
        posexplode(expr("sequence(0, n_chunks - 1)")).as(Seq("chunk_id", "ignored")): _*)
      .select(col("doc_id") +: col("chunk_id").cast("long").as("chunk_id") +:
        size(expr(s"slice(w, chunk_id * $stride + 1, $chunkTokens)"))
          .cast("long").as("n_tokens") +:
        concat_ws(" ", expr(s"slice(w, chunk_id * $stride + 1, $chunkTokens)"))
          .as("chunk_text") +: carried: _*)
  }

  /** T4 — document fingerprinting: md5 of the normalized text plus a
    * 31-polynomial rolling hash mod 1e9+7 (overflow-free in 64-bit: the
    * accumulator stays < 1e9, each step < 3.3e10). The rolling hash is a
    * left fold over characters — same order in any engine. Originally a
    * `aggregate(split(text, ''), ...)` HOF fold (one string allocated per
    * character); now the codegen'd [[graft.functions.RollingHash]]
    * expression with identical fold math. */
  def fingerprint(docs: DataFrame): DataFrame = {
    val norm = lower(col("text"))
    docs.select(
      col("doc_id"),
      md5(norm.cast("binary")).as("md5_fp"),
      graft.functions.TextFunctions.rollingHash(norm).as("rolling_fp"))
  }

  /** T10 — main-content extraction from HTML (trafilatura-lite): the
    * first step of every crawl pipeline, turning a fetched page into the
    * text the rest of the ns-suite operates on. Pipeline: drop
    * `<script>`/`<style>` blocks wholesale (their CONTENT is code, not
    * text), strip remaining tags, decode the five predefined HTML
    * entities (`&amp;` last, so `&amp;lt;` correctly yields the literal
    * `&lt;` rather than double-decoding), collapse whitespace, trim.
    *
    * Regex discipline: every pattern is RE2-safe (no backreferences —
    * script and style are two separate passes — and only `(?s)`/lazy
    * quantifiers, which RE2 supports), so the exact same patterns run in
    * Spark's java.util.regex and in RE2-based engines the oracle uses.
    *
    * Scale shape: zero shuffle — a per-row chain of codegen'd
    * `regexp_replace`/`replace` calls that fuses into the scan's
    * WholeStageCodegen; cost is linear in page bytes. Plain text without
    * markup passes through unchanged (modulo whitespace collapse), so the
    * operator is safe to run unconditionally at ingest. */
  def htmlToText(html: Column): Column = {
    val noScript = regexp_replace(html, "(?s)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?s)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "<[^>]*>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&amp;" -> "&").foldLeft(noTags) {
      case (c, (ent, ch)) => regexp_replace(c, ent, ch)
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** [[htmlToText]] over a corpus: (doc_id, n_raw, n_text, text) ordered
    * by doc_id, where n_raw/n_text are the page and extracted-content
    * lengths — the chrome-to-content ratio is itself a standard quality
    * signal (a page that is 95% markup is navigation, not prose). */
  def extractHtml(docs: DataFrame, htmlCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
        length(col(htmlCol)).cast("long").as("n_raw"),
        htmlToText(col(htmlCol)).as("text"))
      .withColumn("n_text", length(col("text")).cast("long"))
      .select(col("doc_id"), col("n_raw"), col("n_text"), col("text"))
  /** T10 — bigram language-model count table: per adjacent word pair,
    * `n_pair` (pair frequency), `n_ctx` (how many bigram tokens start
    * from w1 — the Kneser–Ney denominator for P(w2|w1)), and `n_cont`
    * (how many DISTINCT left contexts w2 appears in — the KN
    * continuation count that replaces raw unigram frequency, so "York"
    * scores low despite being frequent: it follows almost nothing but
    * "New"). The count-table artifact an n-gram LM trains from and a
    * corpus auditor reads for collocation structure. `minCount` floors
    * the released pairs — count tables ship head-truncated.
    *
    * Scale shape: one scan + explode of adjacent pairs, ONE
    * (w1, w2)-keyed aggregation with map-side partials; `n_ctx` and
    * `n_cont` are re-aggregations of the PAIR table (bigram-vocabulary
    * cardinality, not corpus), and `n_cont` is a plain row count per
    * w2 — the pair table is already distinct on (w1, w2), so no
    * count_distinct machinery. Broadcast-back joins onto the pair
    * table. Whitespace tokenization, the suite's ns47 parity contract
    * (consecutive spaces yield empty tokens in BOTH engines). */
  def bigramCounts(docs: DataFrame, minCount: Long = 3L): DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    // the token array is bound as a REAL column before the pair lambda:
    // a lambda that indexes an INLINED split re-evaluates the split per
    // element — O(n²) per document (the r16 ns38 lesson); bound, each
    // element_at is O(1) over the materialized array.
    val ws = col("__w")
    // sequence(1, 0) would DESCEND, not return empty — guard short docs
    val bg = when(size(ws) < 2, expr("array()").cast(
        "array<struct<w1:string,w2:string>>"))
      .otherwise(transform(sequence(lit(1), size(ws) - 1), i =>
        struct(element_at(ws, i).as("w1"),
          element_at(ws, i.cast("int") + 1).as("w2"))))
    // LAZY-checkpointed: the pair table has THREE consumers (released
    // pairs, n_ctx, n_cont), and without materialization each branch
    // re-runs the corpus scan + explode + pair aggregation — the plan
    // paid three full corpus passes for one count table. Blocks
    // materialize inside the first consuming action (no construction
    // job); the ctx/cont re-aggregations then really do run over the
    // bigram-vocabulary pair table, as the contract above states.
    val pair = Materialize.local(docs
      .select(split(col("text"), " ").as("__w"))
      .select(explode(bg).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair")), eager = false)
    val ctx = pair.groupBy(col("w1")).agg(sum(col("n_pair")).as("n_ctx"))
    val cont = pair.groupBy(col("w2")).agg(count(lit(1)).as("n_cont"))
    pair.join(ctx, Seq("w1")).join(cont, Seq("w2"))
      .where(col("n_pair") >= minCount)
      .select(col("w1"), col("w2"), col("n_pair"), col("n_ctx"),
        col("n_cont"))
  }

  /** T14 — chunk-level language consistency: every [[chunkDocuments]]
    * window re-scored by the [[languageId]] marker heuristic and compared
    * against the document's language label — the mixed-language-document
    * detector (code-switched pages, boilerplate in a second language,
    * mislabeled crawl records) that a DOC-level langid structurally
    * cannot see: one dominant language outvotes the embedded minority
    * span at doc granularity, but loses it at chunk granularity. Per
    * doc: chunk count, off-language chunk count (null-safe against a
    * NULL label — a labelless doc disagrees with every prediction rather
    * than vacuously agreeing), and the disagreement in exact per-mille.
    * Consumers gate on `offlang_per_mille` (0 = clean monolingual doc;
    * high = route to re-labeling or segmentation).
    *
    * Scale shape: the chunker's zero-shuffle posexplode projection with
    * the label carried in-row (NO join back to the corpus — one scan),
    * marker scoring fused codegen per chunk, then ONE doc-keyed
    * aggregation. */
  def chunkLangConsistency(
      docs: DataFrame, chunkTokens: Int = 32): DataFrame = {
    val chunks = chunkDocuments(
      docs.select(col("doc_id"), col("text"), col("lang")),
      chunkTokens, overlap = 0, carry = Seq("lang"))
    val withW = chunks.select(col("doc_id"), col("lang"),
      split(col("chunk_text"), " ").as("w"))
    val scored = langMarkers.foldLeft(withW) {
      case (df, (code, markers)) =>
        df.withColumn(s"s_$code", hitCount("w", markers))
    }
    scored
      .select(col("doc_id"), col("lang"),
        predFromScores(c => col(s"s_$c")).as("chunk_pred"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_chunks"),
        count(when(!(col("chunk_pred") <=> col("lang")), 1))
          .as("n_offlang"))
      .select(col("doc_id"), col("lang"), col("n_chunks"), col("n_offlang"),
        expr("n_offlang * 1000 DIV n_chunks").as("offlang_per_mille"))
  }

  /** T17 — language-ID confusion matrix: [[languageId]]'s predictions
    * cross-tabulated against the label — the eval artifact behind every
    * langid threshold decision (which pairs confuse, is the de/en
    * boundary or the es/fr boundary the problem, how asymmetric). Per
    * (lang, pred_lang) cell: docs and the row share in exact per-mille
    * (diagonal per-mille = per-language recall). NULL labels form their
    * own row (the suite-wide null policy: report, don't vanish).
    *
    * Scale shape: the ns8 zero-shuffle scoring projection into ONE
    * (lang, pred) agg (≤ |langs|² groups); row totals are a window over
    * that bounded frame. */
  def langConfusion(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    languageId(docs)
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("__rt",
        sum(col("n_docs")).over(Window.partitionBy(col("lang"))))
      .select(col("lang"), col("pred_lang"), col("n_docs"),
        expr("n_docs * 1000 DIV __rt").as("row_per_mille"))
  }

  /** T16 — character-entropy quality signal (the compression-ratio
    * proxy): per doc, unigram CHARACTER entropy H = Σ (c/n)·ln(n/c) in
    * exact integer MICRO-nats — the classic low-entropy gate (repeated
    * padding, keyword stuffing, "aaaa…" score near 0; healthy prose sits
    * ≈ 2.5–4.5 nats). gzip-ratio is the field's usual stand-in; unigram
    * char entropy is its order-0 bound and, unlike a codec call,
    * hash-replays. Per doc: n_chars, n_distinct, entropy_micro (floored
    * exact division), gate verdict. The per-char log is quantized to
    * micro-nats BEFORE the per-doc sum — the ns61 doctrine: ONE IEEE op
    * (ln of the same double both engines compute from exact longs), then
    * integer arithmetic only, so the release is engine-exact.
    *
    * Scale shape: the char explode collapses immediately into (doc, ch)
    * counts with map-side combine (≤ alphabet-size rows per doc ride the
    * shuffle, never characters); a doc-keyed window for the total, then
    * the doc rollup on the SAME key — one (doc, ch) exchange + one doc
    * exchange. Empty/NULL docs have no characters and drop (no entropy
    * to report), mirrored by the oracle's comprehension. */
  def charEntropy(
      docs: DataFrame, minEntropyMicro: Long = 2500000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .where(col("ch") =!= "")
      .groupBy(col("doc_id"), col("ch"))
      .agg(count(lit(1)).as("c"))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("doc_id")))
      .withColumn("h_micro",
        round(log(col("n").cast("double") / col("c").cast("double")) * 1e6, 0)
          .cast("long"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("n_chars"), count(lit(1)).as("n_distinct"),
        sum(col("c") * col("h_micro")).as("s"))
      .select(col("doc_id"), col("n_chars"), col("n_distinct"),
        expr("s DIV n_chars").as("entropy_micro"))
      .withColumn("is_low_entropy", col("entropy_micro") < minEntropyMicro)
  }

  /** T15 — vocabulary-growth (Heaps-law) curve: distinct token types
    * versus corpus size, over ten cumulative random tenths of the corpus
    * — the diversity saturation audit. A corpus whose type curve has
    * flattened by the third decile is repetitive boilerplate (more data
    * adds tokens but no vocabulary); a healthy web corpus keeps minting
    * types along the whole curve. Docs land in one of 10 buckets by the
    * deterministic md5 hash (an unbiased shuffle — the curve measures
    * corpus diversity, not ingestion-order artifacts); a token type is
    * "new" in the FIRST bucket that contains it. Per decile: token
    * occurrences, new types, and both cumulatives — all exact integers,
    * so the curve hash-replays.
    *
    * Scale shape: the word explode collapses immediately into a
    * (token, bucket) count with map-side combine (the digest-sized
    * frame, not the corpus, rides the shuffle); the first-bucket rule is
    * a token-keyed min window over that frame (vocabulary-sized, narrow);
    * the decile rollup has 10 groups, and the cumulative window runs
    * over those 10 rows — bounded, never data-sized. */
  def vocabGrowth(docs: DataFrame, buckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets >= 2, "need at least 2 buckets")
    val tb = docs
      .select(
        (Sampling.hash60Col(concat(lit("vg:"), col("doc_id").cast("string")))
          % buckets).as("b"),
        explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok"), col("b"))
      .agg(count(lit(1)).as("occ"))
    val cum = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tb
      .withColumn("b0", min(col("b")).over(Window.partitionBy(col("tok"))))
      .groupBy(col("b"))
      .agg(sum(col("occ")).as("n_tokens"),
        count(when(col("b") === col("b0"), 1)).as("n_new_types"))
      .select(col("b").as("decile"), col("n_tokens"), col("n_new_types"),
        sum(col("n_tokens")).over(cum).as("cum_tokens"),
        sum(col("n_new_types")).over(cum).as("cum_types"))
  }
}
