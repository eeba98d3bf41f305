package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Shared._

/** Tokenizers, langid, quality, fingerprints, retrieval eval. */
private[graft] object Text extends Family("text") {

  private def ns8(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.languageId(docs(s, dir))
  private def ns9(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.qualityScore(docs(s, dir))
  private def ns10(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.tokenCounts(docs(s, dir))
  private def ns11(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.fingerprint(docs(s, dir))
  /** NS24 — Gopher-style repetition stats: duplicate-word and
    * duplicate-2-gram fractions with a repetitiveness flag, as in-row
    * array arithmetic (zero shuffle). */
  private def ns24(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.repetitionStats(docs(s, dir))

  /** NS29 — boilerplate detection: per-doc fraction of 3-grams shared by
    * ≥3 documents corpus-wide; docs above 50% are template chrome. Three
    * narrow shuffles, nothing pairwise, no broadcast assumption. */
  private def ns29(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.boilerplate(docs(s, dir))

  /** NS31 — the whole training-data prep as ONE plan: multi-language
    * langid+quality (stopword feature follows each doc's predicted
    * language) → quality ≥ 0.3 → exact dedup → English downsampled to 50%
    * → 2048-token sequence packing. One scan + two shuffles end-to-end;
    * Catalyst fuses what standalone operators would materialize. */
  private def ns31(s: SparkSession, dir: String): DataFrame =
    graft.ops.Curation.prepareCorpus(
      docs(s, dir), minQuality = 0.3, sampleRates = Map("en" -> 0.5))

  /** NS33 — corpus length distribution per language: exact interpolated
    * quartiles via rank arithmetic (no per-group buffering — Spark's own
    * percentile aggregate collects whole groups) + exact mean. Dyadic
    * fractions over an integer column make every engine's quantile_cont
    * bit-identical. */
  private def ns33(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.lengthStats(docs(s, dir))

  /** NS53 — BPE-budgeted sequence packing: ns26's greedy packer running on
    * REAL tokenizer counts (ns51's dictionary-memoized BPE) instead of the
    * chars/4 estimate — the tokenizer-faithful budget path. Same shapes:
    * the tokenize join plus packSequences' one stratum shuffle. */
  private def ns53(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val counted = d.join(
      graft.ops.Bpe.tokenize(d, graft.ops.Bpe.default)
        .select(col("doc_id"), col("n_tokens")),
      Seq("doc_id"))
    graft.ops.Sampling.packSequences(counted, tokenBudget = 512,
      tokenCountCol = Some("n_tokens"))
  }

  /** NS36 — Unicode NFC normalization: decomposed sequences (e + combining
    * acute, i + combining diaeresis) are injected as in ns22's PII probe,
    * and both engines must compose them to identical bytes — the
    * JVM-Normalizer-vs-utf8proc agreement is what's under test. Zero
    * shuffle, codegen'd expression. */
  private def ns36(s: SparkSession, dir: String): DataFrame = {
    val injected = docs(s, dir).select(col("doc_id"),
      concat(col("text"),
        lit(" café naïve armeé")).as("text"))
    graft.ops.TextAnalysis.normalizeText(injected)
  }

  /** NS38 — TF-IDF keyword extraction: top-5 characteristic bigrams per
    * doc under the integer-quantized idf (floor log₂(N÷df)) — every score
    * an exact integer, so the whole ranking hash-matches across engines.
    * (Bigrams because the synthetic corpus has a ~31-word vocabulary;
    * unigram idf would be 0 almost everywhere.) */
  private def ns38(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.tfidfKeywords(docs(s, dir))

  /** NS39 — document chunking: 64-token windows with 16-token overlap —
    * the retrieval/embedding splitter. Zero shuffle; chunk math is exact
    * in-row integer arithmetic. */
  private def ns39(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.chunkDocuments(docs(s, dir))

  /** NS51 — real BPE tokenization (merges-table algorithm, shipped
    * sf0.01-trained vocab): per-doc exact token count + md5 of the ordered
    * token stream. The merge loop runs memoized over the distinct-word
    * dictionary; the oracle replays it as a recursive CTE. */
  private def ns51(s: SparkSession, dir: String): DataFrame =
    graft.ops.Bpe.tokenize(docs(s, dir), graft.ops.Bpe.default)

  /** NS60 — byte-level BPE tokenization: the GPT-2-style pre-tokenizer
    * (contraction/letter/number/punctuation/whitespace regex classes,
    * byte→unicode remap with 'Ġ' leading-space markers) driven through a
    * punctuation-dense injected prefix — every regex class appears in
    * every row, so the hash check proves the regex path end to end, not
    * just on space-separated words. Same memoized-dictionary shape as
    * ns51; the prefix is built from literals + doc_id so the oracle
    * constructs the identical text in SQL. */
  private val ns60Prefix1 = "Mr. O'Brien isn't here: it's #"
  private val ns60Prefix2 =
    ", we're 99% sure they've won; I'm told he'd pay $3.50, it'll work!"
  private def ns60(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"),
      concat(lit(ns60Prefix1), col("doc_id").cast("string"),
        lit(ns60Prefix2), lit("\t"), lit("\n"), lit("twice  spaced "),
        col("text")).as("text"))
    graft.ops.Bpe.tokenize(d, graft.ops.Bpe.default,
      graft.ops.Bpe.PreTokenizer.ByteLevel)
  }

  /** NS61 — unigram-LM perplexity filter (CCNet recipe): train on the
    * corpus, score every doc by mean token nll, flag the outliers. The
    * per-token nll is quantized to integer micro-nats before the per-doc
    * sum, so the distributed aggregate is exact and the oracle replays it
    * bit-for-bit. */
  private def ns61(s: SparkSession, dir: String): DataFrame =
    graft.ops.Quality.lmPerplexity(docs(s, dir))

  /** NS62 — hashed-feature linear classifier (fastText recipe): md5-derived
    * integer milli-weights broadcast as the model table, bag-of-words
    * inference as one broadcast join + exact-integer per-doc sum. */
  private def ns62(s: SparkSession, dir: String): DataFrame =
    graft.ops.Quality.classifierScore(docs(s, dir))

  /** NS63 — HTML main-content extraction: every doc is wrapped in
    * deterministic page chrome (nav, script, style, entity-laden headline —
    * every branch of the extractor sees work in every row), then
    * [[graft.ops.TextAnalysis.htmlToText]] recovers the content. The
    * oracle builds the identical page in SQL and replays the same
    * RE2-safe pattern chain. */
  private[graft] val ns63Chrome1 =
    "<html><head><title>t</title><style type=\"text/css\">p { margin: 0; }" +
      "</style><script>if (a < b && c > d) { alert(\"x\"); }</script>" +
      "</head><body><nav><a href=\"/\">Home</a> | <a href=\"/about\">About" +
      "</a></nav><h1>Doc &amp; &quot;notes&quot; &#39;n&#39; &lt;tags&gt;" +
      "</h1><p id=\"main\">"
  private[graft] val ns63Chrome2 =
    "</p><div class=\"footer\"><script src=\"x.js\"></script>(c) example" +
      "</div></body></html>"
  private def ns63(s: SparkSession, dir: String): DataFrame = {
    val wrapped = docs(s, dir).select(col("doc_id"),
      concat(lit(ns63Chrome1), col("text"), lit(ns63Chrome2)).as("text"))
    graft.ops.TextAnalysis.extractHtml(wrapped)
  }

  /** NS98 — BM25 lexical retrieval ([[graft.ops.Retrieval.bm25TopK]]):
    * the sparse top-k ranker over the corpus for a 3-term query mixing
    * one rare term (df≈5%) with two head terms — exercising both the
    * rational-idf dominance of rare terms and the length-normalized tf
    * saturation that separates head-term docs. Exact-integer milli-unit
    * scoring (floor divisions only) so the FULL ranking hash-replays in
    * DuckDB; the oracle recomputes idf, avgdl, and the saturation from
    * scratch. */
  private def ns98(s: SparkSession, dir: String): DataFrame =
    graft.ops.Retrieval.bm25TopK(docs(s, dir),
      Seq("dup", "vector", "stream"), topK = 20)

  /** NS116 — bigram LM count table ([[graft.ops.TextAnalysis
    * .bigramCounts]]): the Kneser–Ney count artifact — pair frequency,
    * context total (P(w2|w1) denominator), and CONTINUATION count
    * (distinct left contexts of w2, the KN replacement for raw
    * unigram frequency) — head-truncated at n_pair ≥ 3. One pair-keyed
    * aggregation; the ctx/cont re-aggregations run over the
    * bigram-vocabulary pair table, not the corpus. */
  private def ns116(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.bigramCounts(docs(s, dir), minCount = 3L)

  /** NS120 — C4-style line-policy filter ([[graft.ops.Curation
    * .c4LineFilter]]): the public C4 cleaning recipe over synthesized
    * page structure — a nav line (no terminal punctuation), a
    * "Read more." line every 3rd doc (too short), an enable-javascript
    * line every 5th (punctuated but boilerplate), 8-word body sentences
    * ending '.', a bare trailing fragment, a copyright footer, plus
    * page-gate trips: "lorem ipsum" every 97th doc and a '{' code leak
    * every 89th. Every rule has a live path; the whole filter is one
    * zero-shuffle codegen projection. */
  private def ns120(s: SparkSession, dir: String): DataFrame = {
    val synth = concat(
      lit("Home | About | Contact\n"),
      when(col("doc_id") % 3 === 0, lit("Read more.\n")).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        lit("please enable javascript to view this site.\n"))
        .otherwise(lit("")),
      regexp_replace(col("text"), "((?:\\S+ ){7}\\S+) ", "$1.\n"),
      lit("\ncopyright "), col("source"),
      when(col("doc_id") % 97 === 0,
        lit("\nthis site is under construction lorem ipsum dolor sit amet."))
        .otherwise(lit("")),
      when(col("doc_id") % 89 === 0,
        lit("\nfunction() { cookieConsent(); }")).otherwise(lit("")))
    graft.ops.Curation.c4LineFilter(
        docs(s, dir).select(col("doc_id"), synth.as("text")))
  }

  /** NS121 — domain-blocklist filter ([[graft.ops.Urls
    * .blocklistFilter]]): seven synthetic host families against a
    * six-entry blocklist — subdomain suffix matches (`tracker
    * .example.com` catches `ads.`/`cdn.` subdomains), a longest-match
    * attribution case (a host matching both `example.com` and
    * `tracker.example.com` reports the latter), an exact-host entry, a
    * multi-label public-suffix shape (`example.co.uk`), hostOf
    * normalization (WWW/:443) feeding the match, and a never-matching
    * entry. Suffix explode is label-bounded; the blocklist side
    * broadcasts. */
  private def ns121(s: SparkSession, dir: String): DataFrame = {
    val host = expr(
      "CASE doc_id % 7 WHEN 0 THEN 'ads.tracker.example.com' " +
        "WHEN 1 THEN 'cdn.tracker.example.com' " +
        "WHEN 2 THEN 'blog.example.com' " +
        "WHEN 3 THEN 'example.org' " +
        "WHEN 4 THEN 'WWW.Mirror.Example.net:443' " +
        "WHEN 5 THEN 'spam.example.co.uk' " +
        "ELSE 'docs.example.io' END")
    val pages = docs(s, dir).select(col("doc_id"),
      concat(lit("https://"), host, lit("/p/"), col("doc_id")).as("url"))
    val blocklist = {
      import s.implicits._
      Seq("tracker.example.com", "example.com", "mirror.example.net",
        "example.co.uk", "docs.example.io", "unused.example.gov")
        .toDF("domain")
    }
    graft.ops.Urls.blocklistFilter(pages, blocklist)
  }

  /** NS130 — chunk-level language consistency ([[graft.ops
    * .TextAnalysis.chunkLangConsistency]]): every 32-token chunk
    * re-scored by the ns8 marker heuristic against the doc's language
    * label — the mixed-language / mislabeled-document detector that a
    * doc-level langid structurally cannot see (one dominant language
    * outvotes the embedded minority span at doc granularity). */
  private def ns130(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.chunkLangConsistency(docs(s, dir))

  /** NS131 — vocabulary-growth (Heaps-law) curve ([[graft.ops
    * .TextAnalysis.vocabGrowth]]): distinct token types vs corpus
    * size over ten cumulative hash-random tenths — the diversity
    * saturation audit (a curve flat by the third decile = repetitive
    * boilerplate; more data, no new vocabulary). */
  private def ns131(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.vocabGrowth(docs(s, dir))

  /** NS132 — tokenizer fertility report ([[graft.ops.Bpe
    * .fertilityReport]]): per language, BPE tokens per whitespace word
    * and chars per BPE token in exact per-mille, over the ns51 merge
    * table — the vocabulary-allocation evidence table (a language at
    * 2–3× English fertility pays that multiple in effective context
    * and compute). */
  private def ns132(s: SparkSession, dir: String): DataFrame =
    graft.ops.Bpe.fertilityReport(docs(s, dir), graft.ops.Bpe.default)

  /** NS135 — character-entropy quality gate ([[graft.ops.TextAnalysis
    * .charEntropy]]): order-0 compression-ratio proxy in exact
    * micro-nats, the classic low-entropy spam filter. The corpus sits
    * at 2.55–2.93 nats, so the fixture injects ONE degenerate padded
    * doc (7-character alphabet, ≈1.9 nats) — both verdict branches are
    * inside the hash gate, the ns60 injected-input precedent. */
  private def ns135(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    val shift = d.agg(max(col("doc_id"))).head.getLong(0) + 1L
    val spam = d.sparkSession.range(1)
      .select(lit(shift).as("doc_id"),
        concat_ws("", array_repeat(lit("buy now "), 64)).as("text"))
    graft.ops.TextAnalysis.charEntropy(d.unionByName(spam))
  }

  /** NS140 — language-ID confusion matrix ([[graft.ops.TextAnalysis
    * .langConfusion]]): ns8's predictions cross-tabulated against the
    * label — which language pairs confuse, per-language recall on the
    * diagonal, row shares in exact per-mille. */
  private def ns140(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.langConfusion(docs(s, dir))

  /** NS144 — lexical self-retrieval eval ([[graft.ops.Retrieval
    * .bm25TopKPerQuery]] → [[graft.ops.Retrieval.retrievalEval]]): every
    * 50th doc's first five words become a query whose only relevant doc
    * is its source; hits@1/3/10 and exact-integer MRR over the
    * multi-query BM25 ranking — the lexical sibling of ns126's ANN
    * recall report, measuring whether the ranker can find a document
    * from its own opening words. */
  private def ns144(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    val queries = d.where(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("query_id"),
        slice(split(col("text"), " "), 1, 5).as("terms"))
    val relevant = queries.select(col("query_id"),
      col("query_id").as("doc_id"))
    graft.ops.Retrieval.retrievalEval(
      graft.ops.Retrieval.bm25TopKPerQuery(d, queries, topK = 10),
      relevant)
  }

  val queries: Seq[Query] = Seq(
    query("ns8_text_langid", ns8)(
      ("""WITH w AS (SELECT doc_id, lang, string_split(text,' ') w FROM documents),
         |s AS (SELECT doc_id, lang,
         |  len([x for x in w if list_contains(['der','die','das','und','zu','nicht','ist','ein'], x)]) s_de,
         |  len([x for x in w if list_contains(['the','a','of','and','to','in','is','that'], x)]) s_en,
         |  len([x for x in w if list_contains(['el','la','de','los','y','que','en','un'], x)]) s_es,
         |  len([x for x in w if list_contains(['le','la','de','les','et','que','en','un'], x)]) s_fr,
         |  len([x for x in w if list_contains(['的','是','了','在','我','有','和','不'], x)]) s_zh
         |  FROM w)
         |SELECT doc_id, lang,
         |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         |       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
         |       WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS pred_lang
         |FROM s ORDER BY doc_id""".stripMargin)),
    query("ns9_text_quality", ns9)(
      ("""WITH w AS (SELECT doc_id, string_split(text,' ') w, length(text) n_chars,
         |  length(replace(text, ' ', '')) ncns FROM documents),
         |f AS (SELECT doc_id, n_chars, len(w) AS n_words,
         |  ncns::DOUBLE / len(w) AS avg_word_len,
         |  len([x for x in w if list_contains(['the','a','of','and','to','in','is','that'], x)])::DOUBLE / len(w) AS stopword_ratio
         |  FROM w)
         |SELECT doc_id, n_chars, n_words, avg_word_len, stopword_ratio,
         |  least(n_words::DOUBLE / 100.0, 1.0) * 0.5 + stopword_ratio * 0.3 +
         |  (CASE WHEN avg_word_len >= 3.0 AND avg_word_len <= 8.0 THEN 0.2 ELSE 0.0 END) AS quality_score
         |FROM f ORDER BY doc_id""".stripMargin)),
    query("ns10_text_tokens", ns10)(
      ("""SELECT doc_id, len(string_split(text,' ')) AS n_ws_tokens,
         |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_bpe_tokens,
         |  ceil(length(text)::DOUBLE / 4.0)::BIGINT AS n_est_tokens
         |FROM documents ORDER BY doc_id""".stripMargin)),
    query("ns11_text_fingerprint", ns11)(
      ("""SELECT doc_id, md5(lower(text)) AS md5_fp,
         |  list_reduce(list_prepend(0::BIGINT,
         |    [ord(c)::BIGINT for c in string_split(lower(text), '')]),
         |    (a, b) -> (a * 31 + b) % 1000000007) AS rolling_fp
         |FROM documents ORDER BY doc_id""".stripMargin)),
    // is_repetitive compares the UNROUNDED fraction in both engines (the
    // doubles are bit-identical: same integer operands, one division).
    query("ns24_repetition_stats", ns24)(
      ("""WITH w AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         |g AS (SELECT doc_id, w, CASE WHEN len(w) >= 2 THEN [array_to_string(w[i:i+1],' ') for i in range(1, len(w))] ELSE [] END AS g2 FROM w),
         |f AS (SELECT doc_id, len(w) AS n_words,
         |  1.0 - len(list_distinct(w))::DOUBLE / len(w) AS f1,
         |  CASE WHEN len(g2) = 0 THEN 0.0 ELSE 1.0 - len(list_distinct(g2))::DOUBLE / len(g2) END AS f2 FROM g)
         |SELECT doc_id, n_words, round(f1, 6) AS dup_word_frac,
         |  round(f2, 6) AS dup_2gram_frac, f2 > 0.1 AS is_repetitive
         |FROM f ORDER BY doc_id""".stripMargin)),
    query("ns29_boilerplate", ns29)(
      ("""WITH words AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         |sh AS (SELECT DISTINCT doc_id, unnest([array_to_string(w[i:i+2],' ') for i in range(1, len(w)-1)]) AS shingle FROM words),
         |freq AS (SELECT shingle, count(*) AS doc_freq FROM sh GROUP BY shingle),
         |j AS (SELECT s.doc_id, f.doc_freq FROM sh s JOIN freq f USING (shingle)),
         |a AS (SELECT doc_id, count(*) AS n_grams, sum(CASE WHEN doc_freq >= 3 THEN 1 ELSE 0 END)::BIGINT AS n_boiler FROM j GROUP BY doc_id)
         |SELECT doc_id, n_grams, n_boiler, round(n_boiler::DOUBLE / n_grams, 6) AS boiler_frac,
         |  n_boiler::DOUBLE / n_grams > 0.5 AS is_boiler
         |FROM a ORDER BY doc_id""".stripMargin)),
    // ns31 composes the ns15/ns19 feature CTEs (stopword feature selected
    // by predicted language), exact dedup, the ns23 sampling predicate,
    // and the ns26 packing window into one statement.
    query("ns31_corpus_prep", ns31)(
      ("""WITH w AS (SELECT doc_id, text, string_split(text,' ') w FROM documents),
         |f AS (SELECT doc_id, text,
         |  len([x for x in w if list_contains(['der','die','das','und','zu','nicht','ist','ein'], x)]) s_de,
         |  len([x for x in w if list_contains(['the','a','of','and','to','in','is','that'], x)]) s_en,
         |  len([x for x in w if list_contains(['el','la','de','los','y','que','en','un'], x)]) s_es,
         |  len([x for x in w if list_contains(['le','la','de','les','et','que','en','un'], x)]) s_fr,
         |  len([x for x in w if list_contains(['的','是','了','在','我','有','和','不'], x)]) s_zh,
         |  len(w) n_words, length(replace(text, ' ', '')) ncns FROM w),
         |s AS (SELECT *, CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         |       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
         |       WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS pred_lang,
         |  ncns::DOUBLE / n_words AS avg_word_len FROM f),
         |r AS (SELECT *, (CASE pred_lang WHEN 'de' THEN s_de WHEN 'en' THEN s_en WHEN 'es' THEN s_es WHEN 'fr' THEN s_fr ELSE s_zh END)::DOUBLE / n_words AS stopword_ratio FROM s),
         |sc AS (SELECT *, least(n_words::DOUBLE / 100.0, 1.0) * 0.5 + stopword_ratio * 0.3 +
         |  (CASE WHEN avg_word_len >= 3.0 AND avg_word_len <= 8.0 THEN 0.2 ELSE 0.0 END) AS quality_score FROM r),
         |d AS (SELECT min(doc_id) AS doc_id, min(pred_lang) AS pred_lang, ceil(length(text)::DOUBLE / 4.0)::BIGINT AS n_tokens
         |  FROM sc WHERE quality_score >= 0.3 GROUP BY text),
         |sam AS (SELECT * FROM d WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 10000 <
         |  (CASE WHEN pred_lang = 'en' THEN 5000 ELSE 10000 END)),
         |c AS (SELECT doc_id, pred_lang, n_tokens,
         |  (sum(n_tokens) OVER (PARTITION BY pred_lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens)::BIGINT AS off FROM sam)
         |SELECT doc_id, pred_lang, n_tokens, (off // 2048)::BIGINT AS seq_id,
         |  (off % 2048)::BIGINT AS seq_off FROM c ORDER BY doc_id""".stripMargin)),
    query("ns33_corpus_stats", ns33)(
      ("""SELECT lang, count(*) AS n_docs,
         |  round(quantile_cont(n_chars, 0.25), 6) AS q25,
         |  round(quantile_cont(n_chars, 0.5), 6) AS q50,
         |  round(quantile_cont(n_chars, 0.75), 6) AS q75,
         |  round(sum(n_chars)::DOUBLE / count(*), 6) AS mean_n_chars
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),
    query("ns36_text_normalize", ns36)(
      ("""WITH aug AS (SELECT doc_id, text || ' cafe' || chr(769) || ' nai' || chr(776) || 've armee' || chr(769) AS text FROM documents)
         |SELECT doc_id, nfc_normalize(text) AS text,
         |  text != nfc_normalize(text) AS changed
         |FROM aug ORDER BY doc_id""".stripMargin)),
    // ns38's idf is exact integer bit-length math (length(bin(N // df)) - 1
    // = floor log2) — no transcendentals anywhere, so scores hash-match.
    query("ns38_keywords_tfidf", ns38)(
      ("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |tok AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 2 THEN [array_to_string(w[i:i+1], ' ') for i in range(1, len(w))] ELSE [] END) AS term FROM w),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |sc AS (SELECT tf.doc_id, tf.term, (tf.tf * (length(bin(n.n_docs // df.df)) - 1))::BIGINT AS tfidf
         |  FROM tf JOIN df USING (term), n),
         |pos AS (SELECT * FROM sc WHERE tfidf > 0)
         |SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank, term, tfidf
         |FROM pos QUALIFY rank <= 5 ORDER BY doc_id, rank""".stripMargin)),
    query("ns39_chunk_documents", ns39)(
      ("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |c AS (SELECT doc_id, w, 1 + (greatest(len(w) - 64, 0) + 47) // 48 AS nc FROM w),
         |x AS (SELECT doc_id, w, unnest(range(0, nc)) AS chunk_id FROM c)
         |SELECT doc_id, chunk_id, len(w[chunk_id*48+1 : chunk_id*48+64]) AS n_tokens,
         |  array_to_string(w[chunk_id*48+1 : chunk_id*48+64], ' ') AS chunk_text
         |FROM x ORDER BY doc_id, chunk_id""".stripMargin)),
    // ns51's oracle replays the merge loop itself (recursive CTE over the
    // same literal merges table) — the md5 checks the token STREAM, not
    // just counts.
    query("ns51_tokenize_bpe", ns51)(graft.ops.Bpe.oracleSql(graft.ops.Bpe.default)),
    query("ns53_pack_bpe", ns53)(
      graft.ops.Bpe.oraclePackSql(graft.ops.Bpe.default, tokenBudget = 512)),
    // ns60 replays the byte-level path: same recursive-CTE merge loop,
    // pre-tokens from the RE2-compatible regex, byte remap via translate
    // (exact over this ASCII corpus), injected prefix rebuilt literally.
    query("ns60_tokenize_bytelevel", ns60)(graft.ops.Bpe.oracleSql(
      graft.ops.Bpe.default, graft.ops.Bpe.PreTokenizer.ByteLevel,
      docsRel = "(SELECT doc_id, " +
        s"'${ns60Prefix1.replace("'", "''")}' || CAST(doc_id AS VARCHAR) || " +
        s"'${ns60Prefix2.replace("'", "''")}' || chr(9) || chr(10) || " +
        "'twice  spaced ' || text AS text FROM documents)")),
    // Micro-nat quantization makes the per-doc sum exact-integer in both
    // engines; only the final display division is floating point.
    query("ns61_lm_perplexity", ns61)(
      ("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
         |tot AS (SELECT sum(c) AS n, count(*) AS v FROM cnt),
         |sc AS (SELECT doc_id, CAST(round(-ln((c + 1)::DOUBLE / (n + v)) * 1e6) AS BIGINT) AS nm
         |  FROM toks JOIN cnt USING (tok) CROSS JOIN tot),
         |agg AS (SELECT doc_id, count(*) AS n_tokens, sum(nm) AS s FROM sc GROUP BY doc_id)
         |SELECT doc_id, n_tokens, ((2 * s + n_tokens) // (2 * n_tokens)) / 1e6 AS nll,
         |  s / 1e6 / n_tokens > 9.0 AS rejected
         |FROM agg ORDER BY doc_id""".stripMargin)),
    // Integer milli-weights: the per-doc sum is exact; sigmoid runs once on
    // identical operands. kept at threshold 0.5 is exactly sum >= 0.
    query("ns62_quality_classifier", ns62)(
      ("""WITH w AS (SELECT b AS bucket, ('0x' || substr(md5('w:' || b), 1, 15))::BIGINT % 2001 - 1000 AS w_milli
         |  FROM (SELECT unnest(range(0, 512)) AS b)),
         |toks AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT % 512 AS bucket
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
         |agg AS (SELECT doc_id, count(*) AS n_tokens, sum(w_milli) AS s
         |  FROM toks JOIN w USING (bucket) GROUP BY doc_id)
         |SELECT doc_id, n_tokens,
         |  round(1.0 / (1.0 + exp(-(s / 1000.0 / n_tokens * 4.0))), 6) AS score,
         |  1.0 / (1.0 + exp(-(s / 1000.0 / n_tokens * 4.0))) >= 0.5 AS kept
         |FROM agg ORDER BY doc_id""".stripMargin)),
    // The identical page chrome is rebuilt in SQL; every pattern in the
    // extraction chain is RE2-safe, so both engines run the same regexes.
    query("ns63_html_extract", ns63)(
      ("""WITH raw AS (SELECT doc_id,
         |  '<html><head><title>t</title><style type="text/css">p { margin: 0; }</style><script>if (a < b && c > d) { alert("x"); }</script></head><body><nav><a href="/">Home</a> | <a href="/about">About</a></nav><h1>Doc &amp; &quot;notes&quot; &#39;n&#39; &lt;tags&gt;</h1><p id="main">'
         |    || text ||
         |  '</p><div class="footer"><script src="x.js"></script>(c) example</div></body></html>' AS h
         |  FROM documents),
         |s1 AS (SELECT doc_id, length(h) AS n_raw, regexp_replace(h, '(?s)<script[^>]*>.*?</script>', ' ', 'g') AS t FROM raw),
         |s2 AS (SELECT doc_id, n_raw, regexp_replace(t, '(?s)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM s1),
         |s3 AS (SELECT doc_id, n_raw, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s2),
         |s4 AS (SELECT doc_id, n_raw, replace(replace(replace(replace(replace(t,
         |  '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&') AS t FROM s3),
         |s5 AS (SELECT doc_id, n_raw, trim(regexp_replace(t, '\s+', ' ', 'g')) AS text FROM s4)
         |SELECT doc_id, n_raw, length(text) AS n_text, text FROM s5 ORDER BY doc_id""".stripMargin)),
    // ns98 recomputes the whole exact-integer BM25 pipeline from scratch:
    // corpus stats, df, the rational milli-idf, and the micro-unit tf
    // saturation — every division is floor division over integers, so the
    // scores (not just the top-k membership) must hash-match.
    query("ns98_bm25_retrieval", ns98)(
      ("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |st AS (SELECT count(*) AS n_docs, sum(len(w)) AS total_len FROM w),
         |tok AS (SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM w),
         |tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl FROM tok
         |  WHERE term IN ('dup', 'vector', 'stream') GROUP BY doc_id, term),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |sc AS (SELECT tf.doc_id,
         |    ((1000 * (2 * st.n_docs - 2 * df.df + 1)) // (2 * df.df + 1)) *
         |    ((tf.tf * 2200 * 1000000) // (tf.tf * 1000000 +
         |      1200 * (1000 - 750 + (750 * tf.dl * 1000) // ((st.total_len * 1000) // st.n_docs)))) AS s_term
         |  FROM tf JOIN df USING (term), st)
         |SELECT doc_id, count(*) AS n_matched, sum(s_term)::BIGINT AS bm25_milli
         |FROM sc GROUP BY doc_id ORDER BY bm25_milli DESC, doc_id LIMIT 20""".stripMargin)),
    // ns116: the ns47 whitespace-tokenization parity contract; pair
    // keys travel as a chr(31)-joined string through the comprehension.
    query("ns116_bigram_counts", ns116)(
      ("""WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
         |bg AS (SELECT unnest([ws[i] || chr(31) || ws[i+1] for i in range(1, len(ws))]) AS b FROM w),
         |p AS (SELECT split_part(b, chr(31), 1) AS w1, split_part(b, chr(31), 2) AS w2, count(*) AS n_pair FROM bg GROUP BY 1, 2),
         |c AS (SELECT w1, sum(n_pair)::BIGINT AS n_ctx FROM p GROUP BY 1),
         |k AS (SELECT w2, count(*) AS n_cont FROM p GROUP BY 1)
         |SELECT p.w1, p.w2, n_pair, n_ctx, n_cont
         |FROM p JOIN c USING (w1) JOIN k USING (w2)
         |WHERE n_pair >= 3
         |ORDER BY n_pair DESC, p.w1, p.w2""".stripMargin)),
    // ns120: the page synthesis (chunked '.'-terminated body + nav /
    // short / javascript / footer / lorem-ipsum / brace injections) and
    // all three line rules + both page gates replay in a DuckDB list
    // comprehension — Spark's HOF filter and DuckDB's comprehension
    // must agree on every line verdict for the hash to match.
    query("ns120_c4_line_filter", ns120)(
      ("""WITH s AS (SELECT doc_id,
         |    'Home | About | Contact' || chr(10) ||
         |    CASE WHEN doc_id % 3 = 0 THEN 'Read more.' || chr(10) ELSE '' END ||
         |    CASE WHEN doc_id % 5 = 0 THEN 'please enable javascript to view this site.' || chr(10) ELSE '' END ||
         |    regexp_replace(text, '((?:\S+ ){7}\S+) ', '\1.' || chr(10), 'g') ||
         |    chr(10) || 'copyright ' || source ||
         |    CASE WHEN doc_id % 97 = 0 THEN chr(10) || 'this site is under construction lorem ipsum dolor sit amet.' ELSE '' END ||
         |    CASE WHEN doc_id % 89 = 0 THEN chr(10) || 'function() { cookieConsent(); }' ELSE '' END AS text
         |  FROM documents),
         |l AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM s),
         |k AS (SELECT doc_id, text, len(ls)::BIGINT AS n_lines,
         |    [x for x in ls if right(x, 1) IN ('.', '!', '?', '"')
         |      AND len(string_split(x, ' ')) >= 5
         |      AND NOT contains(lower(x), 'javascript')] AS kept
         |  FROM l)
         |SELECT doc_id, n_lines, len(kept)::BIGINT AS kept_lines,
         |  array_to_string(kept, chr(10)) AS text_clean,
         |  (NOT contains(lower(text), 'lorem ipsum') AND NOT contains(text, '{')
         |    AND len(kept) >= 3) AS keep
         |FROM k ORDER BY doc_id""".stripMargin)),
    // ns121: the host synthesis, the ns77 hostOf replay, the dot-suffix
    // comprehension, the blocklist VALUES join, and the longest-match
    // attribution window all replay — blocked and blocked_domain are
    // both inside the hash gate.
    query("ns121_blocklist_filter", ns121)(
      ("""WITH p AS (SELECT doc_id,
         |    'https://' || CASE doc_id % 7
         |      WHEN 0 THEN 'ads.tracker.example.com'
         |      WHEN 1 THEN 'cdn.tracker.example.com'
         |      WHEN 2 THEN 'blog.example.com'
         |      WHEN 3 THEN 'example.org'
         |      WHEN 4 THEN 'WWW.Mirror.Example.net:443'
         |      WHEN 5 THEN 'spam.example.co.uk'
         |      ELSE 'docs.example.io' END || '/p/' || doc_id AS url
         |  FROM documents),
         |b AS (SELECT * FROM (VALUES ('tracker.example.com'), ('example.com'),
         |  ('mirror.example.net'), ('example.co.uk'), ('docs.example.io'),
         |  ('unused.example.gov')) AS t(domain)),
         |h AS (SELECT doc_id, url,
         |  CASE WHEN scheme = 'http' THEN regexp_replace(nw, ':80$', '')
         |       WHEN scheme = 'https' THEN regexp_replace(nw, ':443$', '')
         |       ELSE nw END AS host
         |  FROM (SELECT doc_id, url,
         |    lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         |    regexp_replace(lower(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), '^www\.', '') AS nw
         |    FROM (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nf FROM p))),
         |sx AS (SELECT doc_id,
         |    unnest([array_to_string(ls[i:], '.') for i in range(1, len(ls) + 1)]) AS suffix
         |  FROM (SELECT doc_id, string_split(host, '.') AS ls FROM h)),
         |m AS (SELECT doc_id, domain,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY length(domain) DESC) AS rk
         |  FROM sx JOIN b ON suffix = domain)
         |SELECT h.doc_id, h.url, h.host, m.domain AS blocked_domain,
         |  m.domain IS NOT NULL AS blocked
         |FROM h LEFT JOIN (SELECT doc_id, domain FROM m WHERE rk = 1) m USING (doc_id)
         |ORDER BY h.doc_id""".stripMargin)),
    // ns130: the ns39 chunker at 32/0 with the ns8 marker scoring run
    // per chunk; scoring the slice array directly is identical to the
    // engine's split(concat_ws(' ', slice)) round-trip (concat_ws
    // preserves empty tokens, and markers never match the empty
    // string). IS DISTINCT FROM mirrors the engine's null-safe <=>.
    query("ns130_chunk_lang", ns130)(
      ("""WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
         |c AS (SELECT doc_id, lang, w, 1 + (greatest(len(w) - 32, 0) + 31) // 32 AS nc FROM w),
         |x AS (SELECT doc_id, lang, w[chunk_id*32+1 : chunk_id*32+32] AS cw
         |  FROM (SELECT doc_id, lang, w, unnest(range(0, nc)) AS chunk_id FROM c)),
         |s AS (SELECT doc_id, lang,
         |  len([t for t in cw if list_contains(['der','die','das','und','zu','nicht','ist','ein'], t)]) s_de,
         |  len([t for t in cw if list_contains(['the','a','of','and','to','in','is','that'], t)]) s_en,
         |  len([t for t in cw if list_contains(['el','la','de','los','y','que','en','un'], t)]) s_es,
         |  len([t for t in cw if list_contains(['le','la','de','les','et','que','en','un'], t)]) s_fr,
         |  len([t for t in cw if list_contains(['的','是','了','在','我','有','和','不'], t)]) s_zh
         |  FROM x),
         |p AS (SELECT doc_id, lang,
         |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         |       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
         |       WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS pred FROM s)
         |SELECT doc_id, lang, count(*)::BIGINT AS n_chunks,
         |  count(CASE WHEN pred IS DISTINCT FROM lang THEN 1 END)::BIGINT AS n_offlang,
         |  (count(CASE WHEN pred IS DISTINCT FROM lang THEN 1 END) * 1000) // count(*)
         |    AS offlang_per_mille
         |FROM p GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin)),
    // ns131: the suite-wide 60-bit md5 bucket ('vg:' || doc_id, the
    // ns127 convention), token first-appearance via a per-token min
    // window over the (token, bucket) count frame.
    query("ns131_vocab_growth", ns131)(
      ("""WITH tb AS (SELECT
         |    ('0x' || substr(md5('vg:' || doc_id), 1, 15))::BIGINT % 10 AS b,
         |    unnest(string_split(text, ' ')) AS tok FROM documents),
         |c AS (SELECT tok, b, count(*)::BIGINT AS occ FROM tb GROUP BY tok, b),
         |m AS (SELECT b, occ,
         |  CASE WHEN b = min(b) OVER (PARTITION BY tok) THEN 1 END AS isnew FROM c),
         |h AS (SELECT b AS decile, sum(occ)::BIGINT AS n_tokens,
         |  count(isnew)::BIGINT AS n_new_types FROM m GROUP BY b)
         |SELECT decile, n_tokens, n_new_types,
         |  (sum(n_tokens) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING))::BIGINT AS cum_tokens,
         |  (sum(n_new_types) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING))::BIGINT AS cum_types
         |FROM h ORDER BY decile""".stripMargin)),
    // ns132: the shared BPE merge-loop CTE (single source of truth with
    // ns51/ns53/ns60) rolled up per language.
    query("ns132_fertility", ns132)(
      graft.ops.Bpe.oracleFertilitySql(graft.ops.Bpe.default)),
    // ns135: per-char slicing is codepoint-based in both engines (BMP
    // corpus); the ln micro-nat quantization is the ns61 doctrine — one
    // IEEE op on the identical double, then exact integers.
    query("ns135_char_entropy", ns135)(
      ("""WITH amp AS (SELECT doc_id, text FROM documents
         |    UNION ALL SELECT (SELECT max(doc_id) + 1 FROM documents),
         |      repeat('buy now ', 64)),
         |ch AS (SELECT doc_id, unnest([text[i:i] for i in range(1, length(text)+1)]) AS ch FROM amp),
         |c AS (SELECT doc_id, ch, count(*)::BIGINT AS c FROM ch GROUP BY doc_id, ch),
         |w AS (SELECT doc_id, c, (sum(c) OVER (PARTITION BY doc_id))::BIGINT AS n FROM c),
         |h AS (SELECT doc_id, c, n,
         |  CAST(round(ln(n::DOUBLE / c::DOUBLE) * 1e6) AS BIGINT) AS hm FROM w),
         |a AS (SELECT doc_id, max(n)::BIGINT AS n_chars, count(*)::BIGINT AS n_distinct,
         |  sum(c * hm)::BIGINT AS s FROM h GROUP BY doc_id)
         |SELECT doc_id, n_chars, n_distinct, s // n_chars AS entropy_micro,
         |  (s // n_chars) < 2500000 AS is_low_entropy
         |FROM a ORDER BY doc_id""".stripMargin)),
    // ns140: the ns8 scoring CTE + the cell/row-share rollup.
    query("ns140_lang_confusion", ns140)(
      ("""WITH w AS (SELECT doc_id, lang, string_split(text,' ') w FROM documents),
         |s AS (SELECT doc_id, lang,
         |  len([x for x in w if list_contains(['der','die','das','und','zu','nicht','ist','ein'], x)]) s_de,
         |  len([x for x in w if list_contains(['the','a','of','and','to','in','is','that'], x)]) s_en,
         |  len([x for x in w if list_contains(['el','la','de','los','y','que','en','un'], x)]) s_es,
         |  len([x for x in w if list_contains(['le','la','de','les','et','que','en','un'], x)]) s_fr,
         |  len([x for x in w if list_contains(['的','是','了','在','我','有','和','不'], x)]) s_zh
         |  FROM w),
         |p AS (SELECT lang,
         |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         |       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
         |       WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS pred_lang FROM s),
         |c AS (SELECT lang, pred_lang, count(*)::BIGINT AS n_docs FROM p GROUP BY lang, pred_lang)
         |SELECT lang, pred_lang, n_docs,
         |  (n_docs * 1000) // (sum(n_docs) OVER (PARTITION BY lang))::BIGINT AS row_per_mille
         |FROM c ORDER BY lang NULLS FIRST, pred_lang""".stripMargin)),
    // ns144: the ns98 scoring algebra verbatim, fanned out per query and
    // cut by a rank window; the eval replays the exact 1e6 DIV rank MRR.
    query("ns144_retrieval_eval", ns144)(
      ("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |q AS (SELECT DISTINCT doc_id AS query_id, unnest(w[1:5]) AS term
         |  FROM w WHERE doc_id % 50 = 0),
         |q0 AS (SELECT query_id, term FROM q WHERE term != ''),
         |qv AS (SELECT DISTINCT term FROM q0),
         |st AS (SELECT count(*) AS n_docs, sum(len(w)) AS total_len FROM w),
         |tok AS (SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM w),
         |tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl FROM tok
         |  JOIN qv USING (term) GROUP BY doc_id, term),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |sc AS (SELECT tf.term, tf.doc_id,
         |    ((1000 * (2 * st.n_docs - 2 * df.df + 1)) // (2 * df.df + 1)) *
         |    ((tf.tf * 2200 * 1000000) // (tf.tf * 1000000 +
         |      1200 * (1000 - 750 + (750 * tf.dl * 1000) // ((st.total_len * 1000) // st.n_docs)))) AS s_term
         |  FROM tf JOIN df USING (term), st),
         |pq AS (SELECT q0.query_id, sc.doc_id, sum(sc.s_term)::BIGINT AS bm25
         |  FROM sc JOIN q0 USING (term) GROUP BY q0.query_id, sc.doc_id),
         |rk AS (SELECT query_id, doc_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rank FROM pq),
         |fr AS (SELECT query_id, min(rank)::BIGINT AS r FROM rk
         |  WHERE rank <= 10 AND doc_id = query_id GROUP BY query_id),
         |base AS (SELECT DISTINCT doc_id AS query_id FROM documents WHERE doc_id % 50 = 0)
         |SELECT count(*)::BIGINT AS n_queries,
         |  count(CASE WHEN r <= 1 THEN 1 END)::BIGINT AS hits_at_1,
         |  count(CASE WHEN r <= 3 THEN 1 END)::BIGINT AS hits_at_3,
         |  count(CASE WHEN r <= 10 THEN 1 END)::BIGINT AS hits_at_10,
         |  sum(coalesce(1000000 // r, 0))::BIGINT AS mrr_micro_sum,
         |  count(CASE WHEN r IS NULL THEN 1 END)::BIGINT AS n_missed,
         |  (sum(coalesce(1000000 // r, 0)) // count(*))::BIGINT AS mrr_micro
         |FROM base LEFT JOIN fr USING (query_id)""".stripMargin)),
  )
}
