package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Shared._

/** Sampling, packing, mixtures, splits, SFT/DPO assembly, fold hygiene. */
private[graft] object Curate extends Family("curate") {

  /** NS15 — the curation composition: language filter → quality threshold
    * → exact dedup in one plan (one scan + one shuffle). */
  private def ns15(s: SparkSession, dir: String): DataFrame =
    graft.ops.Curation.curate(docs(s, dir))

  /** NS19 — ns15's curation composition for a non-English target: German
    * docs, quality scored against the GERMAN stopword vocabulary (the
    * stopword-ratio feature follows the target language;
    * [[graft.ops.Curation.curate]]'s `stopwordLang` can override). The bar
    * is 0.3, not ns15's 0.55: the synthetic German docs are shorter, so the
    * length-dominated score tops out near 0.5 — 0.3 keeps a meaningful
    * survivor set at every test SF. */
  private def ns19(s: SparkSession, dir: String): DataFrame =
    graft.ops.Curation.curate(docs(s, dir), langCode = "de", minQuality = 0.3)

  /** NS23 — deterministic stratified sampling: rebalance the corpus by
    * downsampling over-represented languages (en to 25%, fr to 50%) with a
    * content-hash predicate — stable under retries, repartitioning and
    * re-runs, unlike rand(). Zero shuffle. */
  private def ns23(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.stratifiedSample(
        docs(s, dir), "lang", Map("en" -> 0.25, "fr" -> 0.5))
      .select("doc_id", "lang", "source", "n_chars")

  /** NS26 — sequence packing: deterministic (seq_id, seq_off) slots inside
    * 2048-token training sequences, packed per language in doc_id order
    * (one shuffle, in-partition running sum). */
  private def ns26(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.packSequences(docs(s, dir))

  /** NS45 — corpus mixing: the corpus downsampled to a 4:2:2:1:1
    * en:de:fr:es:zh target mixture — the data-mixture step of training-set
    * assembly. The binding stratum (fr at these weights) keeps everything;
    * every other language downsamples via the deterministic hash
    * predicate. Rate arithmetic is division-only, so the oracle replays
    * the exact thresholds. */
  private def ns45(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.mixCorpus(docs(s, dir), "lang",
        Map("en" -> 4.0, "de" -> 2.0, "fr" -> 2.0, "es" -> 1.0, "zh" -> 1.0))
      .select("doc_id", "lang", "source")

  /** NS46 — train/valid/test split: every doc labeled 90/5/5 by hash
    * bucket range — exhaustive, disjoint, retry-stable, engine-portable.
    * Zero shuffle. */
  private def ns46(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.splitCorpus(docs(s, dir),
        Map("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05))
      .select("doc_id", "lang", "split")

  /** NS48 — exact per-stratum sample: exactly 10 docs per language, the
    * 10 smallest key hashes — guaranteed-size eval carving, unlike the
    * binomial-size rate predicate of ns23. One shuffle, WindowGroupLimit
    * caps the per-partition sort. */
  private def ns48(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.sampleExact(docs(s, dir), "lang", k = 10)
      .select("doc_id", "lang")

  /** NS65 — model-based curation pipeline (CCNet recipe): language gate +
    * learned-classifier gate fused into one projection, perplexity gate
    * self-trained on the gated survivors, exact dedup. The modern
    * counterpart of heuristic ns15 — same corpus in, a learned decision
    * out, every gate replayable in SQL. */
  private def ns65(s: SparkSession, dir: String): DataFrame =
    graft.ops.Curation.curateModel(docs(s, dir))

  /** NS80 — curriculum quantile buckets
    * ([[graft.ops.Sketches.curriculumBuckets]]): every doc labeled with
    * the within-language length quartile (1..4) off the mergeable
    * bin-sketch boundaries — the curriculum-learning data-ordering step,
    * skew-aware where ns49's fixed-width histogram is not. Boundaries
    * broadcast; the corpus never shuffles. */
  private def ns80(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sketches.curriculumBuckets(
      docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars")),
      "n_chars", Seq("lang"), numBuckets = 4, binWidth = 16)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("bucket"))

  /** NS102 — SFT sample assembly ([[graft.ops.Assembly
    * .assembleSamples]]): the event log rendered into token-budgeted
    * training-text records — sessionize at the ns25 8-hour gap, one
    * `event_type=centivalue` turn line per event in (ts, event_id)
    * order, prefix-truncate each conversation at 12 tokens cumulative
    * (`length DIV 4 + 1` costing), join survivors with `\n`. ONE
    * user_id exchange serves session window, budget window, and the
    * assembly groupBy; per-sample state is budget-bounded by
    * construction. The oracle replays the whole chain with
    * `string_agg(... ORDER BY ts, event_id)` — the assembled STRING is
    * inside the hash gate, not just the counts. */
  private def ns102(s: SparkSession, dir: String): DataFrame =
    graft.ops.Assembly.assembleSamples(
        graft.ops.Events.tsMicros(Tables.load(s, dir, "events")),
        gap = 28800L * 1000000L, tokenBudget = 12L)

  /** NS104 — leakage-safe fold assignment ([[graft.ops.Sampling
    * .leakSafeFolds]]): content-keyed 10-fold split where every exact
    * duplicate of a document lands in the same fold — the
    * train/eval-contamination guard a row-hash split cannot give a
    * corpus that still contains duplicates. The testdata corpus is
    * all-distinct, so every seventh document is re-keyed and unioned
    * back (the duplicate-amplification move of the dedup family) —
    * those twins MUST land in the twin's fold, and `group_size`
    * carries the invariant into the hash gate row-by-row.
    * Digest-before-exchange: text never shuffles. */
  private def ns104(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    // STRUCTURAL shift (max+1), not a fixed constant: a fixed offset
    // collides with real ids once a scale-synthesized corpus outgrows
    // it — the ns56/ns86 key-uniqueness rule
    val shift = d.agg(max(col("doc_id"))).head.getLong(0) + 1L
    val twins = d.where(col("doc_id") % 7 === 0)
      .withColumn("doc_id", col("doc_id") + lit(shift))
    graft.ops.Sampling.leakSafeFolds(d.unionByName(twins), "text", folds = 10)
  }

  /** NS105 — preference-pair extraction ([[graft.ops.Preference
    * .extractPairs]]): four deterministic scored candidates per document
    * (md5-derived milli-scores — the best-of-N judge-model shape) turned
    * into every (chosen, rejected) pair separated by ≥ 100 milli-points,
    * the Bradley–Terry/DPO training-pair assembly. Per-item join volume
    * is 4², generator-bounded, so output is linear in items; the pair
    * algebra (strict margin, no tie pairs, no self-pairs) replays in the
    * oracle's self-join. */
  private def ns105(s: SparkSession, dir: String): DataFrame = {
    val cands = docs(s, dir).select(col("doc_id"))
      .withColumn("resp", explode(sequence(lit(0), lit(3))))
      .withColumn("resp", col("resp").cast("long"))
      .withColumn("score", expr(
        "CAST(conv(substring(md5(CAST(concat('score:', CAST(doc_id AS STRING)" +
          ", ':', CAST(resp AS STRING)) AS BINARY)), 1, 15), 16, 10) AS BIGINT)" +
          " % 1000"))
    graft.ops.Preference.extractPairs(
        cands, "doc_id", "resp", "score", minMargin = 100L)
  }

  /** NS106 — contrastive negative sampling ([[graft.ops.Sampling
    * .sampleNegatives]]): four hash-deterministic uniform negatives per
    * anchor document, resolved through the ns93 distributed global rank
    * (range exchange + broadcast offsets, no single-partition window);
    * self-collisions drop (observable via slot gaps), re-draw chains
    * being unreplayable. The oracle replays the draw with row_number +
    * the same md5 target arithmetic — the negative SET is hash-gated,
    * which is exactly what `rand()`-based samplers cannot offer. */
  private def ns106(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.sampleNegatives(
        docs(s, dir).select(col("doc_id")), "doc_id", k = 4, seed = 42L)

  /** NS112 — per-user temporal holdout ([[graft.ops.Sampling
    * .temporalHoldout]]): each user's LAST ⌈n/5⌉ events in (ts,
    * event_id) order become test, the prefix stays train — the
    * leakage-correct eval protocol for sequence models (predict the
    * future from the past; a row-hash split trains on events AFTER its
    * own test set). Exact integer rank cut, one user-keyed exchange
    * for both windows. */
  private def ns112(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.temporalHoldout(
        graft.ops.Events.tsMicros(Tables.load(s, dir, "events"))
          .select(col("event_id"), col("user_id"), col("ts")),
        "user_id", "ts", "event_id", p = 1, q = 5)

  /** NS114 — length-bucketed batch formation ([[graft.ops.Sampling
    * .lengthBuckets]]): documents sorted by the ns26 token count and
    * cut into 32-doc batches of near-equal length, each padding to its
    * own max — the padding-waste optimization for attention training
    * (packSequences concatenates; bucketing keeps documents whole).
    * Global order via the ns93 distributed rank; per-row `waste` puts
    * the tokens-burned metric inside the hash gate. */
  private def ns114(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.lengthBuckets(
        docs(s, dir).select(col("doc_id"),
          expr("CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT)")
            .as("n_tokens")),
        "n_tokens", "doc_id", batchSize = 32)

  /** NS127 — weight-proportional systematic sampling ([[graft.ops
    * .Sampling.ppsSample]]): an expected-50-docs-per-language sample
    * drawn ∝ token count — the importance sampler that makes the
    * SAMPLE's token mass mirror each stratum's, where the uniform
    * samplers (ns23/ns48) would over-represent short documents.
    * Exactly k cuts per stratum (Σ n_slots = 50), multiplicity
    * released honestly; pure integer cut arithmetic on the
    * deterministic hash line. */
  private def ns127(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.ppsSample(
        docs(s, dir).select(col("doc_id"), col("lang"),
          expr("CAST(length(text) DIV 4 + 1 AS BIGINT)").as("n_tokens")),
        "lang", "n_tokens", "doc_id", k = 50)

  /** NS125 — cross-fold contamination audit ([[graft.ops.Dedup
    * .crossFoldLeakage]]): the ns104 twin-amplified corpus folded
    * 10-way, then every minhash near-dup pair classified by whether it
    * straddles folds. `n_exact_cross` = 0 is RELEASED (the fold
    * guarantee proven corpus-wide inside the hash gate); near-dup
    * leakage across folds is the honest contamination number an
    * evaluation protocol must report. */
  private def ns125(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    val shift = d.agg(max(col("doc_id"))).head.getLong(0) + 1L
    val twins = d.where(col("doc_id") % 7 === 0)
      .withColumn("doc_id", col("doc_id") + lit(shift))
    graft.ops.Dedup.crossFoldLeakage(d.unionByName(twins), folds = 10)
  }

  /** NS129 — packing-efficiency audit ([[graft.ops.Sampling
    * .packingAudit]]): the ns26 packing re-priced for the trainer —
    * per stratum, sequence count, boundary-straddling docs, the token
    * mass needing cross-sequence attention handling (exact
    * per-mille), and the unfilled tail. Groups on the packer's OWN
    * partition key, so the audit adds zero exchange. */
  private def ns129(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.packingAudit(
        graft.ops.Sampling.packSequences(docs(s, dir)), tokenBudget = 2048)

  /** The ns133 declared mixture: target shares per-mille of the token
    * budget — ONE definition shared by the query and (literally, via
    * [[ns133Shares]] interpolation) the oracle CASE chain. en is
    * upweighted past its availability (multi-epoch), zh is absent
    * (share 0 — excluded-but-reported). */
  private val ns133Shares: Seq[(String, Int)] =
    Seq("en" -> 500, "de" -> 250, "fr" -> 150, "es" -> 100)
  private val ns133Budget = 50000L

  /** NS133 — data-mixture epoch plan ([[graft.ops.Sampling
    * .mixturePlan]]): the repeat-factor table ahead of ns45's mixing —
    * per language: available vs target token mass, full epochs,
    * last-epoch partial, repeat factor in exact per-mille. */
  private def ns133(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.mixturePlan(docs(s, dir), ns133Shares, ns133Budget)

  /** NS139 — split-mode packing ([[graft.ops.Sampling
    * .packSequencesSplit]]): the ns26 packing with straddlers SPLIT at
    * the 2048-token boundary — one row per (doc, sequence) piece, the
    * GPT-style exactly-full-sequence layout; the resolution of the
    * straddle mass ns129 prices. */
  private def ns139(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.packSequencesSplit(docs(s, dir))

  /** NS92 — α = 0.5 temperature rebalancing
    * ([[graft.ops.Sampling.temperatureSample]]): the mT5/XLM-R
    * multilingual sampling rule — released per-language sizes ∝ √n,
    * flattening crawl head-language dominance with no declared mixture
    * (ns45 hits explicit targets; this applies the standard formula).
    * Admission is a pure-integer test (u32·⌊√n_s⌋ < 2³²·⌊√n_min⌋,
    * loop-corrected integer sqrt), so the oracle replays it verbatim.
    * One strata-cardinality count collect + a zero-shuffle codegen
    * predicate over the corpus. */
  private def ns92(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.temperatureSample(
      docs(s, dir).select(col("doc_id"), col("lang")), "lang", seed = 42L)

  /** NS93 — epoch-order materialization ([[graft.ops.Layout.epochOrder]]):
    * the training run's feed order — short-first curriculum buckets
    * (n_chars DIV 256) with a deterministic md5 within-bucket shuffle and
    * doc_id tiebreak — as a contiguous global rank, computed WITHOUT the
    * single-partition window `row_number() OVER (ORDER BY …)` would
    * plan: range exchange + frozen partitioning + per-partition offsets
    * + pid-partitioned window. The one total-order shape the suite
    * lacked, done the way it survives 100 TB. */
  private def ns93(s: SparkSession, dir: String): DataFrame = {
    val u60 = conv(substring(
        md5(concat(lit("ep:42:"), col("doc_id").cast("string"))
          .cast("binary")), 1, 15),
      16, 10).cast("long")
    graft.ops.Layout.epochOrder(
        docs(s, dir).select(col("doc_id"), col("n_chars")),
        Seq(expr("n_chars DIV 256"), u60, col("doc_id")))
      .select(col("pos"), col("doc_id"))
  }

  /** NS78 — per-source TOKEN-BUDGET cap
    * ([[graft.ops.Sampling.capBySource]]): every source contributes at
    * most 800 tokens (the sf0.01 sources run ~1.3k each, so the gate binds on every source), admitted in deterministic hash order — the
    * data-mixing guard stated as a budget instead of a rate. One
    * source-keyed shuffle + running-sum window, the packSequences
    * pattern. */
  private def ns78(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.capBySource(docs(s, dir), capTokens = 800L)

  val queries: Seq[Query] = Seq(
    query("ns15_curation_pipeline", ns15)(
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
         |  ncns::DOUBLE / n_words AS avg_word_len, s_en::DOUBLE / n_words AS stopword_ratio FROM f),
         |q AS (SELECT *, least(n_words::DOUBLE / 100.0, 1.0) * 0.5 + stopword_ratio * 0.3 +
         |  (CASE WHEN avg_word_len >= 3.0 AND avg_word_len <= 8.0 THEN 0.2 ELSE 0.0 END) AS quality_score FROM s)
         |SELECT min(doc_id) AS doc_id, min(n_words) AS n_words, min(quality_score) AS quality_score
         |FROM q WHERE pred_lang = 'en' AND quality_score >= 0.55
         |GROUP BY text ORDER BY doc_id""".stripMargin)),
    // ns19 = ns15 retargeted at German: pred_lang = 'de' and the stopword
    // feature counts GERMAN markers (s_de), mirroring curate's stopwordLang.
    query("ns19_curation_de", ns19)(
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
         |  ncns::DOUBLE / n_words AS avg_word_len, s_de::DOUBLE / n_words AS stopword_ratio FROM f),
         |q AS (SELECT *, least(n_words::DOUBLE / 100.0, 1.0) * 0.5 + stopword_ratio * 0.3 +
         |  (CASE WHEN avg_word_len >= 3.0 AND avg_word_len <= 8.0 THEN 0.2 ELSE 0.0 END) AS quality_score FROM s)
         |SELECT min(doc_id) AS doc_id, min(n_words) AS n_words, min(quality_score) AS quality_score
         |FROM q WHERE pred_lang = 'de' AND quality_score >= 0.3
         |GROUP BY text ORDER BY doc_id""".stripMargin)),
    query("ns23_sample_stratified", ns23)(
      ("""SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 10000 <
         |  (CASE WHEN lang = 'en' THEN 2500 WHEN lang = 'fr' THEN 5000 ELSE 10000 END)
         |ORDER BY doc_id""".stripMargin)),
    query("ns26_pack_sequences", ns26)(
      ("""WITH t AS (SELECT doc_id, lang, ceil(length(text)::DOUBLE / 4.0)::BIGINT AS n_tokens FROM documents),
         |c AS (SELECT doc_id, lang, n_tokens,
         |  (sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens)::BIGINT AS off FROM t)
         |SELECT doc_id, lang, n_tokens, (off // 2048)::BIGINT AS seq_id,
         |  (off % 2048)::BIGINT AS seq_off FROM c ORDER BY doc_id""".stripMargin)),
    // ns45 recomputes the division-only mixture rates (budget = min n/w,
    // rate = w*budget/n — identical doubles from identical ints in both
    // engines) and applies the same md5 bucket predicate; floor matches
    // Scala's positive toInt truncation.
    query("ns45_corpus_mix", ns45)(
      ("""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         |w AS (SELECT * FROM (VALUES ('en', 4.0::DOUBLE), ('de', 2.0::DOUBLE), ('fr', 2.0::DOUBLE), ('es', 1.0::DOUBLE), ('zh', 1.0::DOUBLE)) AS t(lang, wt)),
         |b AS (SELECT min(n / wt) AS budget FROM c JOIN w USING (lang)),
         |r AS (SELECT c.lang, CASE WHEN c.n / wt = b.budget THEN 1.0::DOUBLE ELSE wt * b.budget / c.n END AS rate FROM c JOIN w USING (lang), b)
         |SELECT d.doc_id, d.lang, d.source FROM documents d JOIN r USING (lang)
         |WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT % 10000 < floor(r.rate * 10000)::INT
         |ORDER BY d.doc_id""".stripMargin)),
    // ns46's cutoffs are the name-sorted cumulative quantized fractions:
    // test [0,500), train [500,9500), valid [9500,10000).
    query("ns46_corpus_split", ns46)(
      ("""SELECT doc_id, lang,
         |  CASE WHEN b < 500 THEN 'test' WHEN b < 9500 THEN 'train' ELSE 'valid' END AS split
         |FROM (SELECT doc_id, lang, ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 10000 AS b FROM documents)
         |ORDER BY doc_id""".stripMargin)),
    query("ns48_sample_exact", ns48)(
      ("""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT, doc_id) AS rn
         |  FROM documents) WHERE rn <= 10 ORDER BY doc_id""".stripMargin)),
    // ns15's langid fragment + ns62's classifier + ns61's perplexity (over
    // the gated survivors) + ns1's min-doc_id dedup, composed exactly as
    // the fused Spark plan composes them. Gates compare UNROUNDED values.
    query("ns65_curation_model", ns65)(
      ("""WITH w AS (SELECT doc_id, text, string_split(text,' ') w FROM documents),
         |f AS (SELECT doc_id, text,
         |  len([x for x in w if list_contains(['der','die','das','und','zu','nicht','ist','ein'], x)]) s_de,
         |  len([x for x in w if list_contains(['the','a','of','and','to','in','is','that'], x)]) s_en,
         |  len([x for x in w if list_contains(['el','la','de','los','y','que','en','un'], x)]) s_es,
         |  len([x for x in w if list_contains(['le','la','de','les','et','que','en','un'], x)]) s_fr,
         |  len([x for x in w if list_contains(['的','是','了','在','我','有','和','不'], x)]) s_zh
         |  FROM w),
         |lang AS (SELECT *, CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         |       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
         |       WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS pred_lang FROM f),
         |wt AS (SELECT b AS bucket, ('0x' || substr(md5('w:' || b), 1, 15))::BIGINT % 2001 - 1000 AS w_milli
         |  FROM (SELECT unnest(range(0, 512)) AS b)),
         |ctoks AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT % 512 AS bucket
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
         |cs AS (SELECT doc_id, count(*) AS n_tokens, sum(w_milli) AS sw FROM ctoks JOIN wt USING (bucket) GROUP BY doc_id),
         |sc AS (SELECT doc_id, n_tokens, 1.0 / (1.0 + exp(-(sw / 1000.0 / n_tokens * 4.0))) AS score FROM cs),
         |s1 AS (SELECT lang.doc_id, lang.text, sc.n_tokens, sc.score FROM lang JOIN sc ON lang.doc_id = sc.doc_id
         |  WHERE lang.pred_lang = 'en' AND sc.score >= 0.5),
         |ptoks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM s1),
         |cnt AS (SELECT tok, count(*) AS c FROM ptoks GROUP BY tok),
         |tot AS (SELECT sum(c) AS n, count(*) AS v FROM cnt),
         |pn AS (SELECT doc_id, CAST(round(-ln((c + 1)::DOUBLE / (n + v)) * 1e6) AS BIGINT) AS nm
         |  FROM ptoks JOIN cnt USING (tok) CROSS JOIN tot),
         |pa AS (SELECT doc_id, count(*) AS nt, sum(nm) AS sn FROM pn GROUP BY doc_id),
         |s2 AS (SELECT s1.doc_id, s1.text, s1.n_tokens, s1.score, ((2 * pa.sn + pa.nt) // (2 * pa.nt)) / 1e6 AS nll
         |  FROM s1 JOIN pa ON s1.doc_id = pa.doc_id WHERE pa.sn / 1e6 / pa.nt <= 9.0)
         |SELECT min(doc_id) AS doc_id, min(n_tokens) AS n_tokens,
         |  round(min(score), 6) AS score, min(nll) AS nll
         |FROM s2 GROUP BY text ORDER BY doc_id""".stripMargin)),
    // ns78 replays the hash-ordered running token sum and the budget gate.
    query("ns78_source_token_cap", ns78)(
      ("""WITH d AS (SELECT doc_id, source,
         |  len(string_split(text, ' '))::BIGINT AS n_tokens,
         |  ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS hk
         |  FROM documents),
         |c AS (SELECT doc_id, source, n_tokens,
         |  (sum(n_tokens) OVER (PARTITION BY source ORDER BY hk, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    - n_tokens)::BIGINT AS cum_before
         |  FROM d)
         |SELECT doc_id, source, n_tokens, cum_before FROM c
         |WHERE cum_before < 800 ORDER BY doc_id""".stripMargin)),
    // ns80 replays the ns57 bin walk at the quartile qs, then the
    // strictly-below boundary count per doc.
    query("ns80_curriculum_buckets", ns80)(
      ("""WITH b AS (SELECT lang, n_chars // 16 AS bin FROM documents WHERE n_chars IS NOT NULL),
         |c AS (SELECT lang, bin, count(*) AS cnt FROM b GROUP BY 1, 2),
         |w AS (SELECT lang, bin, sum(cnt) OVER (PARTITION BY lang ORDER BY bin) AS cum, sum(cnt) OVER (PARTITION BY lang) AS n FROM c),
         |qs AS (SELECT unnest([0.25::DOUBLE, 0.5::DOUBLE, 0.75::DOUBLE]) AS q),
         |bd AS (SELECT lang, q, min(bin) * 16 AS bv
         |  FROM w CROSS JOIN qs WHERE cum >= ceil(q * n) GROUP BY lang, q)
         |SELECT d.doc_id, d.lang, d.n_chars,
         |  (1 + sum(CASE WHEN d.n_chars > bd.bv THEN 1 ELSE 0 END))::BIGINT AS bucket
         |FROM documents d JOIN bd ON d.lang IS NOT DISTINCT FROM bd.lang
         |WHERE d.n_chars IS NOT NULL
         |GROUP BY d.doc_id, d.lang, d.n_chars ORDER BY d.doc_id""".stripMargin)),
    // ns92 replays the integer admission test exactly: s = floor(sqrt(n))
    // is exact below 2^52 (IEEE sqrt is correctly rounded), u32 is the
    // first 8 md5 hex chars, and all products stay in BIGINT.
    query("ns92_temperature_mix", ns92)(
      ("""WITH n AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY lang),
         |s AS (SELECT lang, floor(sqrt(n_l))::BIGINT AS s_l FROM n),
         |m AS (SELECT min(s_l) AS s_min FROM s)
         |SELECT d.doc_id, d.lang FROM documents d
         |JOIN s ON s.lang IS NOT DISTINCT FROM d.lang
         |CROSS JOIN m
         |WHERE ('0x' || substr(md5('tmix:42:' || doc_id), 1, 8))::BIGINT * s_l
         |      < 4294967296 * s_min
         |ORDER BY d.doc_id""".stripMargin)),
    // ns93's oracle uses the single-partition window the ENGINE refuses
    // to plan — fine at oracle SF, and exactly the contrast the operator
    // exists for: same function, scalable execution.
    query("ns93_epoch_order", ns93)(
      ("""SELECT row_number() OVER (ORDER BY n_chars // 256,
         |    ('0x' || substr(md5('ep:42:' || doc_id), 1, 15))::BIGINT,
         |    doc_id)::BIGINT AS pos, doc_id
         |FROM documents ORDER BY pos""".stripMargin)),
    // ns102: the assembled sample STRING is hash-gated — string_agg with
    // an explicit ORDER BY replays the (ts, event_id) total order; both
    // engines render value as exact centi-units through the same IEEE
    // multiply-then-floor, and NULL values hit the -1 sentinel BEFORE
    // concat (DuckDB's concat() skips NULLs, Spark's propagates — the
    // sentinel keeps NULL semantics out of the comparison entirely).
    query("ns102_sft_assembly", ns102)(
      ("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts,
         |    event_type || '=' || CAST(coalesce(floor(value * 100), -1) AS BIGINT)::VARCHAR AS turn_text
         |  FROM events),
         |n AS (SELECT *, length(turn_text) // 4 + 1 AS n_tokens FROM e),
         |l AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL OR ts - lag(ts) OVER w > 28800000000 THEN 1 ELSE 0 END AS is_new
         |  FROM n WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |sx AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_idx FROM l),
         |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY user_id, session_idx ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS cum FROM sx)
         |SELECT user_id, session_idx::BIGINT AS session_idx, count(*) AS n_turns,
         |  max(cum)::BIGINT AS total_tokens,
         |  string_agg(turn_text, chr(10) ORDER BY ts, event_id) AS sample_text
         |FROM c WHERE cum <= 12 GROUP BY user_id, session_idx
         |ORDER BY user_id, session_idx""".stripMargin)),
    // ns104: md5(text) group digest + the hash60 fold bucket of the
    // digest — both pure string/hash math DuckDB replays exactly; NULL
    // text digests via the chr(30) sentinel.
    query("ns104_leak_folds", ns104)(
      ("""WITH d AS (SELECT doc_id, text FROM documents
         |    UNION ALL
         |    SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id, text
         |    FROM documents WHERE doc_id % 7 = 0),
         |g AS (SELECT doc_id, md5(coalesce(text, chr(30))) AS dup_group FROM d)
         |SELECT doc_id, dup_group,
         |  count(*) OVER (PARTITION BY dup_group) AS group_size,
         |  ('0x' || substr(md5('fold:' || dup_group), 1, 15))::BIGINT % 10 AS fold
         |FROM g ORDER BY doc_id""".stripMargin)),
    // ns105: candidate synthesis (the suite's hash60 milli-scores) AND
    // the pair algebra replay in one self-join — strict ≥-margin means
    // ties and self-pairs vanish on both sides identically.
    query("ns105_pref_pairs", ns105)(
      ("""WITH c AS (SELECT doc_id, k AS resp,
         |    ('0x' || substr(md5('score:' || doc_id || ':' || k), 1, 15))::BIGINT % 1000 AS score
         |  FROM documents CROSS JOIN (SELECT unnest(range(0, 4)) AS k) r)
         |SELECT a.doc_id, a.resp AS chosen, b.resp AS rejected,
         |  (a.score - b.score)::BIGINT AS margin
         |FROM c a JOIN c b ON a.doc_id = b.doc_id AND a.score - b.score >= 100
         |ORDER BY a.doc_id, chosen, rejected""".stripMargin)),
    // ns106: global rank via row_number + the identical md5 target
    // arithmetic — the drawn negative SET is inside the hash gate.
    query("ns106_neg_samples", ns106)(
      ("""WITH r AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS pos FROM documents),
         |c AS (SELECT d.doc_id AS anchor, k AS slot,
         |    ('0x' || substr(md5('neg:42:' || d.doc_id || ':' || k), 1, 15))::BIGINT
         |      % (SELECT count(*) FROM documents) + 1 AS target
         |  FROM documents d CROSS JOIN (SELECT unnest(range(1, 5)) AS k) s)
         |SELECT anchor, slot, r.doc_id AS negative
         |FROM c JOIN r ON c.target = r.pos
         |WHERE r.doc_id <> c.anchor
         |ORDER BY anchor, slot""".stripMargin)),
    // ns112: descending exact-rank cut — the last ceil(n/5) events per
    // user are test on both sides, ties broken on event_id.
    query("ns112_temporal_split", ns112)(
      ("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rd,
         |    count(*) OVER (PARTITION BY user_id) AS n
         |  FROM events)
         |SELECT event_id, user_id, ts,
         |  CASE WHEN rd <= (n * 1 + 4) // 5 THEN 'test' ELSE 'train' END AS split
         |FROM e ORDER BY event_id""".stripMargin)),
    // ns114: the ns26 token costing + a global (length, key) rank cut
    // into 32-doc batches; waste = batch max - own length.
    query("ns114_length_batches", ns114)(
      ("""WITH t AS (SELECT doc_id, ceil(length(text)::DOUBLE / 4.0)::BIGINT AS n_tokens FROM documents),
         |r AS (SELECT doc_id, n_tokens,
         |    (row_number() OVER (ORDER BY n_tokens NULLS FIRST, doc_id) - 1) // 32 AS batch_id FROM t),
         |b AS (SELECT *, max(n_tokens) OVER (PARTITION BY batch_id) AS batch_max FROM r)
         |SELECT doc_id, n_tokens, batch_id, batch_max, batch_max - n_tokens AS waste
         |FROM b ORDER BY doc_id""".stripMargin)),
    // ns127: the hash line, both running sums, and the integer cut test
    // replay verbatim; window sums are HUGEINT in DuckDB, so every
    // term of the cut arithmetic casts ::BIGINT before the division
    // (the ns71 lesson), and // on non-negative BIGINTs is the same
    // floor Spark's DIV truncation gives.
    query("ns127_pps_sample", ns127)(
      ("""WITH d AS (SELECT doc_id, lang,
         |    (length(text) // 4 + 1)::BIGINT AS w FROM documents),
         |h AS (SELECT doc_id, lang, w,
         |    ('0x' || substr(md5('pps:' || doc_id), 1, 15))::BIGINT AS hk
         |  FROM d WHERE w > 0),
         |c AS (SELECT doc_id, lang, w,
         |    (sum(w) OVER (PARTITION BY lang ORDER BY hk, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS ce,
         |    (sum(w) OVER (PARTITION BY lang))::BIGINT AS tw
         |  FROM h)
         |SELECT doc_id, lang, w AS weight,
         |  (ce * 50) // tw - ((ce - w) * 50) // tw AS n_slots
         |FROM c
         |WHERE (ce * 50) // tw > ((ce - w) * 50) // tw
         |ORDER BY doc_id""".stripMargin)),
    // ns125: the twin amplification, the ns2 minhash pipeline (embedded
    // from the shared template over the amplified corpus), the ns104
    // fold math, and the cross-classification all replay — including
    // the released n_exact_cross = 0 invariant.
    query("ns125_fold_leakage", ns125)(
      (s"""WITH amp AS (SELECT doc_id, text FROM documents
         |    UNION ALL
         |    SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id, text
         |    FROM documents WHERE doc_id % 7 = 0),
         |p AS (${minhashPairsSqlTpl.replace("__DOCS__", "amp")}),
         |f AS (SELECT doc_id, md5(coalesce(text, chr(30))) AS g,
         |    ('0x' || substr(md5('fold:' || md5(coalesce(text, chr(30)))), 1, 15))::BIGINT % 10 AS fold
         |  FROM amp)
         |SELECT count(*)::BIGINT AS n_pairs,
         |  count(CASE WHEN fa.g = fb.g THEN 1 END)::BIGINT AS n_exact_pairs,
         |  count(CASE WHEN fa.g = fb.g AND fa.fold != fb.fold THEN 1 END)::BIGINT AS n_exact_cross,
         |  count(CASE WHEN fa.g != fb.g AND fa.fold != fb.fold THEN 1 END)::BIGINT AS n_near_cross,
         |  CASE WHEN count(*) > 0
         |    THEN (count(CASE WHEN fa.g != fb.g AND fa.fold != fb.fold THEN 1 END) * 1000) // count(*)
         |    ELSE 0 END AS leak_per_mille
         |FROM p JOIN f fa ON fa.doc_id = p.doc_a
         |JOIN f fb ON fb.doc_id = p.doc_b""".stripMargin)),
    // ns129 extends the ns26 packing CTE verbatim (same budget 2048,
    // same chars/4 costing) with the per-stratum straddle/tail rollup.
    query("ns129_pack_audit", ns129)(
      ("""WITH t AS (SELECT doc_id, lang, ceil(length(text)::DOUBLE / 4.0)::BIGINT AS n_tokens FROM documents),
         |c AS (SELECT doc_id, lang, n_tokens,
         |  (sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens)::BIGINT AS off FROM t),
         |p AS (SELECT lang, n_tokens, (off // 2048)::BIGINT AS seq_id,
         |  (off % 2048)::BIGINT AS seq_off FROM c)
         |SELECT lang, count(*)::BIGINT AS n_docs,
         |  (max(seq_id) + 1)::BIGINT AS n_seqs,
         |  sum(n_tokens)::BIGINT AS total_tokens,
         |  count(CASE WHEN seq_off + n_tokens > 2048 THEN 1 END)::BIGINT AS n_straddlers,
         |  sum(greatest(seq_off + n_tokens - 2048, 0))::BIGINT AS straddle_tokens,
         |  greatest((max(seq_id) + 1) * 2048 - sum(n_tokens), 0)::BIGINT AS tail_waste,
         |  (sum(greatest(seq_off + n_tokens - 2048, 0))::BIGINT * 1000)
         |    // sum(n_tokens)::BIGINT AS straddle_per_mille
         |FROM p GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin)),
    // ns133: the declared share map interpolates into the CASE chain from
    // the SAME Seq the engine folds over — the mixture cannot drift.
    query("ns133_mixture_plan", ns133)(
      (s"""WITH t AS (SELECT lang, count(*)::BIGINT AS n_docs,
         |    sum(ceil(length(text)::DOUBLE / 4.0)::BIGINT)::BIGINT AS avail
         |  FROM documents GROUP BY lang),
         |s AS (SELECT lang, n_docs, avail,
         |  (CASE ${ns133Shares.map { case (k, v) =>
                s"WHEN lang = '$k' THEN $v" }.mkString(" ")}
         |    ELSE 0 END)::BIGINT AS share FROM t),
         |p AS (SELECT lang, n_docs, avail, share,
         |  ($ns133Budget * share) // 1000 AS target FROM s)
         |SELECT lang, n_docs, avail AS avail_tokens,
         |  share AS target_per_mille, target AS target_tokens,
         |  CASE WHEN avail = 0 THEN NULL
         |       WHEN target = 0 THEN 0
         |       ELSE (target + avail - 1) // avail END AS epochs,
         |  CASE WHEN avail = 0 THEN NULL
         |       WHEN target = 0 THEN 0
         |       ELSE target - ((target + avail - 1) // avail - 1) * avail
         |       END AS last_epoch_tokens,
         |  CASE WHEN avail = 0 THEN NULL
         |       ELSE (target * 1000) // avail END AS repeat_per_mille
         |FROM p ORDER BY lang NULLS FIRST""".stripMargin)),
    // ns139: the ns26 packing CTE + integer piece arithmetic; range() is
    // end-exclusive, hence the +1.
    query("ns139_pack_split", ns139)(
      ("""WITH t AS (SELECT doc_id, lang, ceil(length(text)::DOUBLE / 4.0)::BIGINT AS n_tokens FROM documents),
         |c AS (SELECT doc_id, lang, n_tokens,
         |  (sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens)::BIGINT AS off FROM t),
         |x AS (SELECT doc_id, lang, off, off + n_tokens AS e FROM c WHERE n_tokens > 0),
         |p AS (SELECT doc_id, lang, off, e,
         |  unnest(range(off // 2048, (e - 1) // 2048 + 1)) AS seq_id FROM x)
         |SELECT doc_id, lang, seq_id,
         |  greatest(off - seq_id * 2048, 0)::BIGINT AS seq_off,
         |  (least(e, (seq_id + 1) * 2048) - greatest(off, seq_id * 2048))::BIGINT AS piece_tokens,
         |  (seq_id - off // 2048)::BIGINT AS piece_idx
         |FROM p ORDER BY doc_id, seq_id""".stripMargin)),
  )
}
