package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Model-based corpus quality filtering — the two standard learned filters
  * a training-data pipeline applies after the cheap heuristic gates
  * ([[TextAnalysis.qualityScores]], [[TextAnalysis.repetitionStats]]):
  * a corpus-trained language-model perplexity filter (the CCNet recipe)
  * and a hashed-feature linear classifier (the fastText recipe). Both are
  * expressed as declarative Spark plans whose arithmetic is exact-integer
  * where distribution could otherwise change the answer, so results are
  * bit-stable under any partitioning and replayable by an external SQL
  * engine.
  *
  * Reference scope note: klepto itself has no corpus analytics (its
  * pipeline is subset→anonymise→load, `pkg/steal/steal.go`); these
  * operators extend the engine toward the LLM-data workload the same way
  * the rest of the ns-suite does.
  */
object Quality {

  /** Measured broadcast gate for the trained unigram model: a count
    * table at or under this many DISTINCT tokens (~50 B/row ⇒ ≤ ~100 MB
    * framed) broadcasts, so the posting stream never shuffles for the
    * scoring join; above it the join keeps its shuffle path (a 100 TB
    * corpus has billions of distinct tokens). The gate reads the EXACT
    * vocabulary count the totals fetch already collected — never a
    * planner estimate. */
  private[ops] val lmBroadcastVocabMax = 2000000L

  /** Q1 — unigram-LM perplexity filter (CCNet-style, self-trained).
    *
    * Trains an add-one-smoothed unigram language model on the corpus
    * itself, then scores every document by its mean token negative
    * log-likelihood: `nll(doc) = mean_w -ln((c(w)+1)/(N+V))`. Documents
    * whose nll exceeds `maxNll` are flagged for rejection — pages full of
    * tokens the corpus has never seen (mojibake, spam, boilerplate hashes)
    * score high; fluent text of common words scores low. In production the
    * model would be trained once on a held-out reference corpus and
    * broadcast; training on the input itself keeps the operator
    * self-contained and changes nothing about the plan shape.
    *
    * Scale shape: (1) token counts are one explode + groupBy(token) with
    * map-side combine — the classic wordcount, linear in corpus size;
    * (2) N and V are a single bounded aggregate collected to the driver
    * (two scalars, never data); (3) scoring equality-joins the count table
    * back on the token key — no broadcast hint, because a 100 TB corpus
    * has billions of distinct tokens and the join must be allowed to
    * shuffle; AQE still elects a broadcast when the measured vocab is
    * small (as at test SF); (4) the per-doc rollup is a groupBy(doc_id)
    * with map-side combine.
    *
    * Determinism under distribution: per-token nll is quantized to an
    * integer number of MICRO-nats (`round(-ln(p)·1e6)`) before the per-doc
    * sum, so the aggregate is exact integer arithmetic — float summation
    * order, which differs run-to-run in a distributed fold, can never
    * change the result, and an external engine replays it bit-for-bit.
    * The keep flag compares the unrounded mean (exact integers divided
    * once), not the display-rounded value.
    *
    * Output: (doc_id, n_tokens, nll, kept); order unspecified.
    */
  def lmPerplexity(docs: DataFrame, maxNll: Double = 9.0): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
    // LAZY-checkpointed: the count table feeds the totals fetch AND the
    // scoring join — without blocks each execution ran the full
    // wordcount twice (once under .head(), again inside the final plan)
    val counts = Materialize.local(toks.groupBy("tok").agg(count(lit(1)).as("c")), eager = false)
    // bounded driver fetch: exactly two scalars (total tokens N, vocab V).
    // sum() over an EMPTY count table is null (an empty input corpus —
    // e.g. a pipeline stage that filtered everything out — must yield an
    // empty result, not a crash). This action also materializes the
    // checkpoint blocks the scoring join reads.
    val totals = counts.agg(sum(col("c")), count(lit(1))).head()
    val n = if (totals.isNullAt(0)) 0L else totals.getLong(0)
    val v = totals.getLong(1)
    val nv = math.max(n + v, 1L).toDouble
    val meanNll = col("s") / lit(1e6) / col("n_tokens")
    // nll is a function of the token's COUNT, so it is quantized on the
    // vocab-cardinality count table (one log per distinct token), not per
    // token instance — the join then carries the precomputed micro-nats
    val model = counts.withColumn("nll_micro",
      round(-log((col("c") + 1).cast("double") / lit(nv)) * 1e6, 0)
        .cast("long"))
    toks.join(if (v <= lmBroadcastVocabMax) broadcast(model) else model,
        "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("nll_micro")).as("s"))
      // display rounding in EXACT integer arithmetic: the mean s/n is a
      // rational that can land precisely ON a half-boundary of the 6th
      // decimal (it did, at sf0.001), where float-side round() — Spark's
      // BigDecimal HALF_UP vs an engine's x*1e6 multiply-then-round —
      // legitimately disagrees by one digit. floor((2s+n)/(2n)) IS
      // round-half-up of s/n, computed exactly; both engines then divide
      // the same integer by 1e6.
      .select(col("doc_id"), col("n_tokens"),
        (expr("(2*s + n_tokens) DIV (2*n_tokens)") / lit(1e6)).as("nll"),
        (meanNll > lit(maxNll)).as("rejected"))
  }

  /** Q2 — hashed-feature linear classifier inference (fastText-style).
    *
    * Scores each document with a bag-of-words linear model over `buckets`
    * hashed features: every token hashes to a bucket, the model assigns
    * each bucket a weight, and the document score is
    * `sigmoid(gain · mean token weight)`. The weight table here is
    * derived deterministically from md5 (a stand-in for trained
    * parameters, exactly as k8's md5 stands in for the seeded faker) —
    * swapping in real trained weights changes one small DataFrame and
    * nothing about the plan.
    *
    * Scale shape: the model is a `buckets`-row table — broadcast to every
    * executor, exactly how real model-based scoring ships parameters to a
    * cluster; the fact side is one explode + broadcast-hash-join +
    * groupBy(doc_id) with map-side combine. Zero wide shuffles of the
    * token stream on the model side; the only exchange is the per-doc
    * rollup.
    *
    * Determinism under distribution: weights are integer MILLI-units, so
    * the per-doc sum is exact integer arithmetic (summation order can't
    * change it); the single sigmoid at the end runs on identical operands
    * in any engine. The keep flag compares `score ≥ threshold` on the
    * unrounded value; at the default threshold 0.5 that is exactly
    * `sum ≥ 0` — an integer comparison.
    *
    * Output: (doc_id, n_tokens, score, kept); order unspecified.
    */
  def classifierScore(
      docs: DataFrame,
      buckets: Int = 512,
      gain: Double = 4.0,
      threshold: Double = 0.5): DataFrame = {
    val spark = docs.sparkSession
    val weights = spark.range(buckets.toLong).select(
      col("id").as("bucket"),
      (conv(substring(md5(concat(lit("w:"), col("id"))), 1, 15), 16, 10)
        .cast("long") % 2001 - 1000).as("w_milli"))
    val toks = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"),
        pmod(conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"),
          lit(buckets.toLong)).as("bucket"))
    val x = col("s") / lit(1000.0) / col("n_tokens") * lit(gain)
    val score = lit(1.0) / (lit(1.0) + exp(-x))
    toks.join(broadcast(weights), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("w_milli")).as("s"))
      .select(col("doc_id"), col("n_tokens"),
        round(score, 6).as("score"),
        (score >= lit(threshold)).as("kept"))
  }

  /** The in-row classifier as a `(n_tokens, milli_sum)` expression pair
    * over a `text` column — shared by [[classifierScoreInline]] and the
    * fused model pipeline ([[Curation.curateModel]]), so both compute the
    * identical exact-integer fold. */
  private[ops] def inlineMilliSum(buckets: Int): (Column, Column) = {
    // literal-array cliff guard: the weight table embeds as a
    // buckets-child CreateArray in EVERY plan using the fold — fine at
    // the model sizes the inline form exists for, pathological at
    // vocab-hash sizes (64KB-method codegen fallback, per-plan driver
    // MD5 loop). Large models belong in classifierScore's broadcast
    // table form.
    require(buckets >= 1 && buckets <= 4096,
      s"inline classifier supports <= 4096 buckets (got $buckets); " +
        "use classifierScore's broadcast weight table beyond that")
    // The weight is a pure function of the bucket id, so the `buckets`-row
    // weight table is materialized ONCE driver-side and shipped as a
    // codegen literal array — the in-row analogue of broadcasting the
    // model. The per-token fold then pays one md5 (the token's bucket)
    // instead of two; values are bit-identical to the join form's
    // md5-derived table (spec-pinned).
    val weights = (0 until buckets).map { b =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"w:$b".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16) % 2001 - 1000
    }
    val wArr = array(weights.map(lit): _*)
    val bucketOf = (t: Column) =>
      pmod(conv(substring(md5(t), 1, 15), 16, 10).cast("long"),
        lit(buckets.toLong))
    val toksCol = split(col("text"), " ")
    (size(toksCol).cast("long"),
      aggregate(toksCol, lit(0L),
        (acc, t) => acc + element_at(wArr, (bucketOf(t) + 1).cast("int"))))
  }

  /** sigmoid(gain · s/1000/n) on the named integer columns — the single
    * floating-point step both classifier forms share. */
  private[ops] def sigmoidOf(gain: Double): Column = {
    val x = col("s") / lit(1000.0) / col("n_tokens") * lit(gain)
    lit(1.0) / (lit(1.0) + exp(-x))
  }

  /** [[classifierScore]] as a single in-row projection: the weight lookup
    * is inlined into a higher-order `aggregate` fold over the token array
    * instead of materializing the weight table and joining. Bit-identical
    * output (same integer milli-weight sum — spec-pinned equal to the
    * join form), but ZERO shuffles and zero state: score, n_tokens, and
    * the keep flag are computed where the row is read.
    *
    * This is the STREAMING shape of model-based filtering — a stateless
    * projection needs no watermark, no aggregation mode, and no state
    * store, so this very operator scores a streaming frame as documents
    * arrive (StreamingQualitySpec pins stream ≡ batch and zero state
    * operators). The join form remains the right BATCH shape once the
    * model outgrows an expression (real trained weights land in a table,
    * not a formula). Output is unsorted (one row per input row); callers
    * order for presentation. */
  def classifierScoreInline(
      docs: DataFrame,
      buckets: Int = 512,
      gain: Double = 4.0,
      threshold: Double = 0.5): DataFrame = {
    val (nTokens, milliSum) = inlineMilliSum(buckets)
    val score = sigmoidOf(gain)
    docs.select(col("doc_id"),
        nTokens.as("n_tokens"), milliSum.as("s"))
      .select(col("doc_id"), col("n_tokens"),
        round(score, 6).as("score"),
        (score >= lit(threshold)).as("kept"))
  }

  // ---- persisted LM model lifecycle --------------------------------------

  /** Q3 — persist the trained unigram model: (tok, c) counts as parquet
    * plus the index meta ([[PersistedIndex]]) carrying the frozen (N, V)
    * and an optional source fingerprint. This is the
    * ns17/ns18/ns59 index-lifecycle contract applied to the perplexity
    * filter — in production the reference corpus is curated once and the
    * model scores every future ingest batch, so training must be a
    * separate, atomic, reusable artifact, not a per-run recompute.
    * Published by [[PersistedIndex.build]]: readers never see a
    * half-written model, and the model dir IS its own counts table. */
  def writeLmModel(
      docs: DataFrame, path: String,
      fingerprint: Option[String] = None): Unit = {
    val spark = docs.sparkSession
    PersistedIndex.build(spark, path, PersistedIndex.Kind.Lm,
        fingerprint) { tmp =>
      docs.select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
        .write.mode("overwrite").parquet(tmp.toString)
      val totals = Tables.parquet(spark, tmp.toString)
        .agg(sum(col("c")), count(lit(1))).head()
      Seq("n" -> (if (totals.isNullAt(0)) 0L else totals.getLong(0)),
        "v" -> totals.getLong(1))
    }
  }

  /** Q4 — score a batch against the FROZEN persisted model. Unlike
    * [[lmPerplexity]] (self-trained, every token seen), scoring new data
    * hits out-of-vocabulary tokens: the left join leaves them c = 0, so
    * add-one smoothing assigns the floor probability 1/(N+V), and the
    * reported `oov_frac` is itself a first-class quality signal (a page
    * whose tokens the reference corpus has never seen is exactly what
    * perplexity filtering exists to catch). Same exact-integer micro-nat
    * discipline as [[lmPerplexity]]; N and V come from the meta, not
    * the data, so scoring never re-aggregates the model.
    *
    * Scale shape: one equality left join on the token key against the
    * model table (AQE broadcasts when the vocab measures small) + the
    * per-doc rollup. The model is never rebuilt, re-sorted, or shuffled
    * beyond the join itself.
    *
    * Output: (doc_id, n_tokens, nll, oov_frac, rejected) by doc_id. */
  def lmScoreFromModel(
      docs: DataFrame, path: String, maxNll: Double = 9.0): DataFrame = {
    val spark = docs.sparkSession
    val meta = PersistedIndex.read(spark, path, PersistedIndex.Kind.Lm)
    val (n, v) = (meta("n").toLong, meta("v").toLong)
    val nv = math.max(n + v, 1L).toDouble // empty-trained model: floor path
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
    val meanNll = col("s") / lit(1e6) / col("n_tokens")
    // in-vocab nll precomputed per distinct model token (one log per vocab
    // entry, not per token instance); OOV tokens take the constant floor
    // same HALF_UP-on-decimal-string rounding as Spark's round(_, 0)
    val floorMicro = BigDecimal(-math.log(1.0 / nv) * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val model = Tables.parquet(spark, path).withColumn("nll_micro",
      round(-log((col("c") + 1).cast("double") / lit(nv)) * 1e6, 0)
        .cast("long"))
    // same measured broadcast gate as [[lmPerplexity]] — V comes from
    // the meta, so the decision is exact without touching the data
    toks.join(if (v <= lmBroadcastVocabMax) broadcast(model) else model,
        Seq("tok"), "left")
      .withColumn("nll_micro",
        coalesce(col("nll_micro"), lit(floorMicro)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("nll_micro")).as("s"),
        sum(when(col("c").isNull, 1L).otherwise(0L)).as("n_oov"))
      // same exact-integer display rounding as [[lmPerplexity]] — and
      // oov_frac is a small-integer rational, the shape MOST likely to
      // sit exactly on a rounding boundary
      .select(col("doc_id"), col("n_tokens"),
        (expr("(2*s + n_tokens) DIV (2*n_tokens)") / lit(1e6)).as("nll"),
        (expr("(2000000*n_oov + n_tokens) DIV (2*n_tokens)") / lit(1e6))
          .as("oov_frac"),
        (meanNll > lit(maxNll)).as("rejected"))
  }

  /** Q6 — group-wise winsorization: cap a numeric column at its
    * per-group p-th percentile, with the percentile defined by EXACT
    * INTEGER RANK — the value at position ⌈p·n/q⌉ of the group's
    * (value, key) total order — never by interpolation. Interpolated
    * percentiles (`percentile_approx`, linear `percentile_cont`) give
    * engine- and precision-dependent floats; rank selection gives a
    * value that EXISTS in the data, identical in any engine — the
    * [[Sketches]] family's exactness doctrine applied to outlier
    * hygiene. The canonical use: length/score capping before loss
    * weighting, so one 500 MB crawl artifact doesn't dominate a
    * stratum's token budget.
    *
    * `p`/`q` express the percentile as a rational (19/20 = p95); the
    * tie-break key makes the order total, so the selected value is
    * deterministic even on heavily tied columns.
    *
    * Scale shape: ONE group-keyed exchange serves the rank window AND
    * the cutoff aggregation (same clustering); the per-group cutoff
    * frame is group-cardinality and broadcasts back onto the corpus —
    * the corpus shuffles once, as [[Privacy.kAnonymize]]. Output: the
    * input keys + `capped` + `was_capped`. */
  def winsorize(
      df: DataFrame, groupCol: String, valueCol: String, keyCol: String,
      p: Int, q: Int): DataFrame = {
    require(p >= 1 && p <= q, s"need 1 <= p <= q, got $p/$q")
    val grp = Window.partitionBy(groupCol)
    val w = Window.partitionBy(groupCol).orderBy(col(valueCol), col(keyCol))
    // the rank window and the group-count window share one exchange;
    // row_number is unique, so the rank filter leaves ONE row per group
    val cuts = df
      .select(col(groupCol), col(valueCol), col(keyCol))
      .withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(grp))
      .where(col("__rn") === expr(s"(__n * $p + ${q - 1}) DIV $q"))
      .select(col(groupCol).as("__grp"), col(valueCol).as("__cut"))
    // null-safe group join (the kAnonymize convention): a NULL group is
    // a real stratum and gets its own cutoff, not a dropped row
    df.join(broadcast(cuts), col(groupCol) <=> col("__grp"))
      .select(col(keyCol), col(groupCol), col(valueCol),
        least(col(valueCol), col("__cut")).as("capped"),
        (col(valueCol) > col("__cut")).as("was_capped"))
  }
}
