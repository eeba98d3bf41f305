package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-shaping operators for training-data pipelines — deterministic
  * sampling and sequence packing (north-star extensions, SURVEY §7.2 M6).
  *
  * Both operators are deterministic by construction — sampling keys on a
  * content hash, packing on a total per-stratum order — because Spark task
  * retries and speculative execution replay partitions: `rand()`-based
  * sampling silently changes the sample on retry, a hash predicate never
  * does. Determinism is also what makes them oracle-checkable.
  */
object Sampling {

  /** The 60-bit md5 prefix of a key's string form — THE key-hash
    * expression of the sampling/sketch family (also [[Sketches]] and the
    * corresponding `('0x' || substr(md5(x), 1, 15))::BIGINT` oracle form);
    * one definition so the variants cannot drift apart. */
  private[ops] def hash60Col(key: Column): Column =
    conv(substring(md5(key.cast("string").cast("binary")), 1, 15), 16, 10)
      .cast("long")

  /** Per-mille-of-10000 bucket for a key: the first 60 bits of md5 of the
    * key's decimal string, mod 10000 — engine-portable (DuckDB computes the
    * identical bucket) and independent of row order. 60 bits (not 16): a
    * 16-bit prefix mod 10000 is visibly non-uniform — buckets below
    * 2¹⁶ mod 10000 get ⌈2¹⁶/10⁴⌉/2¹⁶ ≈ 7/65536 instead of 6/65536, so a
    * requested 25% rate actually delivered ~26.7%; with 60 bits the same
    * skew is ~10⁻¹⁵ of the rate. */
  private def hashBucket(key: Column): Column = hash60Col(key) % 10000

  /** C1 — deterministic stratified sampling: keep a row iff its key's hash
    * bucket falls under the stratum's rate. The canonical use is language /
    * domain rebalancing (downsample the over-represented stratum) before
    * training. Rates are fractions in [0,1], applied per `strataCol` value;
    * strata absent from the map keep `defaultRate`.
    *
    * Scale shape: a narrow codegen'd filter — no shuffle, no sort, pushed
    * into the scan stage. The sample is stable under data repartitioning
    * and across runs (hash of the key, not of partition/row position). */
  def stratifiedSample(
      df: DataFrame,
      strataCol: String,
      rates: Map[String, Double],
      defaultRate: Double = 1.0,
      keyCol: String = "doc_id"): DataFrame =
    applyRates(df, strataCol, rates, defaultRate, keyCol)

  /** The sampling predicate alone (no projection) — shared with
    * [[Curation.prepareCorpus]], where it sits between dedup and packing
    * as a plain filter. A no-op when every rate is 1.
    *
    * Rate quantization contract: rates FLOOR to 1/10000 resolution
    * (`(rate * 10000).toInt`), matching the oracle's `floor(rate *
    * 10000)` — floor is identical across engines, while round-half
    * conventions are not (the repo's exact-integer rule). A rate like
    * 0.0003 therefore keeps 2/10000, not 3/10000: callers wanting
    * round-to-nearest semantics should pass pre-quantized rates
    * (multiples of 1e-4 representable in double, e.g. 0.25, 0.5 — the
    * registered queries' shape). splitCorpus differs deliberately: its
    * round() runs driver-side BEFORE the cross-engine boundary, and only
    * the resulting integer cutoffs ship. */
  private[ops] def applyRates(
      df: DataFrame,
      strataCol: String,
      rates: Map[String, Double],
      defaultRate: Double = 1.0,
      keyCol: String = "doc_id"): DataFrame = {
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0 && r <= 1),
      "rates must be fractions in [0,1]")
    if (rates.isEmpty && defaultRate == 1.0) df
    else {
      val threshold = rates.foldLeft(lit((defaultRate * 10000).toInt)) {
        case (elseCol, (stratum, rate)) =>
          when(col(strataCol) === stratum, lit((rate * 10000).toInt))
            .otherwise(elseCol)
      }
      df.where(hashBucket(col(keyCol)) < threshold)
    }
  }

  /** C3 — corpus mixing: downsample strata to a TARGET MIXTURE — the
    * data-mixture step of training-set assembly (e.g. web 60% / code 30% /
    * wiki 10%). Weights are RELATIVE (they need not sum to 1; the
    * normalizer cancels): the largest budget achievable WITHOUT
    * upsampling is B = min_s(n_s / w_s), and each stratum keeps
    * rate_s = w_s · B / n_s — the binding (scarcest-relative-to-weight)
    * stratum keeps everything, every other stratum downsamples to match
    * the mixture. Strata NOT in the weight map are dropped (a mixture is
    * exhaustive, unlike [[stratifiedSample]]'s pass-through); a weighted
    * stratum absent from the data fails fast — the requested mixture is
    * unsatisfiable, and silently emitting a different one would poison
    * the training distribution downstream.
    *
    * Determinism: rates quantize onto the same 10000-bucket md5 predicate
    * as [[stratifiedSample]] (stable under retries, repartitioning,
    * reruns, and engine-portable). The rate arithmetic is division-only
    * (no weight-sum whose float accumulation order could vary), so the
    * oracle reproduces the exact thresholds.
    *
    * Scale shape: ONE count aggregation to size the rates (shuffle
    * carries strata-cardinality partial rows), then the zero-shuffle hash
    * predicate over the corpus — the counts land on the driver
    * (strata-cardinality rows, the same footprint class as the IVF
    * centroid fetch). */
  def mixCorpus(
      df: DataFrame,
      strataCol: String,
      weights: Map[String, Double],
      keyCol: String = "doc_id"): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "weights must be non-empty and positive")
    val counts = df
      .where(col(strataCol).isin(weights.keys.toSeq: _*))
      .groupBy(col(strataCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    val missing = weights.keySet -- counts.keySet
    require(missing.isEmpty,
      s"mixture requires strata absent from the data: ${missing.mkString(", ")}")
    val budget = weights.map { case (s, w) => counts(s).toDouble / w }.min
    // binding strata (n/w == the min) get rate EXACTLY 1.0: the algebraic
    // w·(n/w)/n round-trips to 0.99999999999999989 for many weight/count
    // combinations, which would quantize to 9999 and silently drop bucket
    // 9999 of the stratum the contract promises to keep whole. The oracle
    // applies the same float-equality pin.
    val rates = weights.map { case (s, w) =>
      s -> (if (counts(s).toDouble / w == budget) 1.0
            else math.min(1.0, w * budget / counts(s)))
    }
    applyRates(df.where(col(strataCol).isin(weights.keys.toSeq: _*)),
      strataCol, rates, defaultRate = 0.0, keyCol)
  }

  /** C4 — deterministic train/valid/test split: every row labeled with
    * its split by hash-bucket RANGE, so the assignment is exhaustive
    * (every row gets exactly one label), disjoint, stable under retries /
    * repartitioning / reruns, and reproducible by any engine — the
    * properties an eval split must have, and exactly what `rand()`-based
    * splitting silently lacks. Ranges are laid out in split-name-sorted
    * order, so the same fractions always carve the same buckets.
    *
    * Fractions must quantize cleanly onto the 10000-bucket space
    * ((f·10000).toInt summing to exactly 10000) — 0.9/0.05/0.05 does,
    * 1/3 each does not; failing fast beats silently dropping buckets
    * from (or double-assigning) an eval set.
    *
    * Scale shape: a narrow codegen'd CASE projection — zero shuffle. */
  def splitCorpus(
      df: DataFrame,
      fractions: Map[String, Double],
      keyCol: String = "doc_id"): DataFrame = {
    require(fractions.nonEmpty && fractions.values.forall(f => f > 0 && f <= 1),
      "fractions must be positive and at most 1")
    // round, don't truncate: 0.0003*10000 is 2.9999999999999996 in double,
    // and toInt would reject 573 of the 9999 exact 4-decimal fractions;
    // genuinely non-quantizing fractions (1/3) still fail the sum check
    require(!df.columns.contains("split"),
      "column name split is reserved by splitCorpus")
    val ordered = fractions.toSeq.sortBy(_._1)
      .map { case (name, f) => name -> math.round(f * 10000).toInt }
    require(ordered.map(_._2).sum == 10000,
      s"fractions must quantize to exactly 10000 buckets, got " +
        s"${ordered.map { case (n, q) => s"$n=$q" }.mkString(", ")}")
    // a declared split must own at least one bucket — rounding 0.00001 to
    // zero buckets would silently emit an EMPTY eval split, the exact
    // failure mode the sum check promises to catch
    require(ordered.forall(_._2 >= 1),
      s"every split needs at least one bucket (1/10000), got " +
        s"${ordered.map { case (n, q) => s"$n=$q" }.mkString(", ")}")
    val cuts = ordered.scanLeft(0) { case (acc, (_, q)) => acc + q }
    val label = ordered.zip(cuts.tail).foldRight(null: Column) {
      case (((name, _), hi), elseCol) =>
        val branch = hashBucket(col(keyCol)) < hi
        if (elseCol == null) lit(name)
        else when(branch, lit(name)).otherwise(elseCol)
    }
    df.withColumn("split", label)
  }

  /** C5 — exact per-stratum sampling: EXACTLY min(k, |stratum|) rows per
    * stratum, chosen as the k smallest key hashes — a deterministic
    * uniform sample with a guaranteed size, which is what eval-set
    * carving needs ([[stratifiedSample]]'s rate predicate gives a
    * binomial size). Ties on the 60-bit hash break on the key itself, so
    * selection is total-ordered.
    *
    * Scale shape: one shuffle (stratum hash) + in-partition sort for the
    * row_number window; `WindowGroupLimit` caps each partition's sort at
    * k rows before the final window, so a 10⁹-row stratum never sorts
    * whole. */
  def sampleExact(
      df: DataFrame,
      strataCol: String,
      k: Int,
      keyCol: String = "doc_id"): DataFrame = {
    require(k > 0, "k must be positive")
    require(!df.columns.contains("_rn"),
      "column name _rn is reserved by sampleExact")
    val w = Window.partitionBy(col(strataCol))
      .orderBy(hash60Col(col(keyCol)), col(keyCol))
    df.withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= k)
      .drop("_rn")
  }

  /** C2 — sequence packing: assign each document a (seq_id, seq_off) slot
    * inside fixed `tokenBudget` training sequences, greedily by cumulative
    * token count in `orderCol` order within each `strataCol` partition.
    * A doc whose tokens straddle a boundary spills into the next sequence
    * (seq_off + n_tokens may exceed the budget) — the packer's contract is
    * a deterministic offset assignment; the trainer decides splitting.
    *
    * Scale shape: ONE shuffle (hash by stratum) + an in-partition sort for
    * the running-sum window — the classic scalable window pattern. The
    * strata (languages/sources) bound partition count, and AQE handles a
    * skewed stratum. A global (unstratified) packing order would serialize
    * on a single partition — deliberately not offered. */
  def packSequences(
      docs: DataFrame,
      tokenBudget: Int = 2048,
      strataCol: String = "lang",
      orderCol: String = "doc_id",
      tokenCountCol: Option[String] = None): DataFrame = {
    require(tokenBudget > 0, "tokenBudget must be positive")
    // default budget currency is the chars/4 estimate; pass a real count
    // (e.g. [[Bpe.tokenize]]'s n_tokens joined onto docs) via
    // `tokenCountCol` and the packer becomes tokenizer-faithful
    val nTokens = tokenCountCol
      .map(c => col(c).cast("long"))
      .getOrElse(ceil(length(col("text")).cast("double") / 4.0).cast("long"))
    val w = Window.partitionBy(strataCol).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col(orderCol), col(strataCol), nTokens.as("n_tokens"))
      .withColumn("off", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col(orderCol), col(strataCol), col("n_tokens"),
        expr(s"off DIV $tokenBudget").as("seq_id"),
        (col("off") % tokenBudget).as("seq_off"))
  }

  /** C7 — per-source TOKEN-BUDGET cap: every source contributes at most
    * `capTokens` tokens to the release — the data-mixing guard against an
    * over-represented source (one giant crawl dump must not drown the
    * mixture; rate-based downsampling ([[stratifiedSample]]) needs the
    * rate precomputed per source, a token CAP is the budget stated
    * directly). Docs are admitted in deterministic HASH order
    * ([[hash60Col]] of the key, tie-broken by the key) — an unbiased
    * shuffle of each source that is stable across runs, partitionings,
    * and engines — and a doc is kept iff the running token total BEFORE
    * it is under the cap (so the first doc of a source always fits, and
    * one oversized doc cannot starve the source).
    *
    * Output: (doc_id, source, n_tokens, cum_before) for the released
    * docs (order unspecified). Exact integer arithmetic throughout.
    *
    * Scale shape: ONE shuffle (hash by source) + the in-partition sort
    * for the running-sum window — identical to [[packSequences]]'s
    * pattern; sources bound the partition count and AQE handles a skewed
    * source. */
  def capBySource(
      docs: DataFrame,
      capTokens: Long,
      strataCol: String = "source",
      keyCol: String = "doc_id",
      tokenCountCol: Option[String] = None): DataFrame = {
    require(capTokens > 0, "capTokens must be positive")
    val nTokens = tokenCountCol
      .map(c => col(c).cast("long"))
      .getOrElse(size(split(col("text"), " ")).cast("long"))
    val w = Window.partitionBy(strataCol)
      .orderBy(hash60Col(col(keyCol)), col(keyCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col(keyCol), col(strataCol), nTokens.as("n_tokens"))
      .withColumn("cum_before",
        sum(col("n_tokens")).over(w) - col("n_tokens"))
      .where(col("cum_before") < capTokens)
      .select(col(keyCol), col(strataCol), col("n_tokens"),
        col("cum_before"))
  }

  /** C13 — weight-proportional (PPS) systematic sampling: draw an
    * expected-size-k sample per stratum where a row's inclusion
    * probability is proportional to its WEIGHT — the importance sampler
    * of data mixing (sample documents ∝ token count so the SAMPLE's
    * token mass mirrors the stratum's, audit records ∝ revenue, etc.),
    * where [[stratifiedSample]]/[[sampleExact]] draw uniformly.
    * Probability-proportional-to-size SYSTEMATIC sampling (the classic
    * survey-sampling design): rows are laid on a line in deterministic
    * hash order, each occupying its weight; the line is cut into k
    * equal steps; every cut selects the row it lands in. Exactly k cuts
    * total (Σ n_slots = k per stratum), selected rows ≤ k, and a row
    * whose weight spans multiple steps reports its multiplicity in
    * `n_slots` honestly (certainty selection, the PPS analog of a
    * heavy stratum) — E[n_slots] = k·w/W exactly, by construction.
    *
    * Exactness: the cut test is pure integer arithmetic —
    * `⌊cum_end·k/W⌋ > ⌊cum_before·k/W⌋` on long cumulative sums (all
    * quantities non-negative, so truncation IS floor in every engine;
    * products stay under 2⁶³ for Σw·k < 9.2e18 — a 10¹²-token stratum
    * at k ≤ 10⁶, documented bound). Hash order (md5 'pps:'-tagged key,
    * key tiebreak) is the [[capBySource]] determinism contract: stable
    * under retries, partitioning, and engines. Non-positive weights are
    * excluded by policy (they cannot occupy line length); NULL strata
    * sample as their own stratum.
    *
    * Scale shape: ONE stratum-keyed exchange serves the ordering
    * window, the running sum, and the stratum total (unbounded frame on
    * the same partitioning) — the [[capBySource]] shape plus a total;
    * selection is a codegen predicate. No driver state, no joins. */
  def ppsSample(
      df: DataFrame,
      strataCol: String,
      weightCol: String,
      keyCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    // exact-integer contract: the cumulative sums and slot cuts replay
    // bit-for-bit in any engine ONLY over integral weights. A fractional
    // weight column would silently truncate (0.75 -> excluded, 1.9 -> 1),
    // distorting the proportionality the operator promises — reject it
    // loudly and let the caller pre-quantize (micro-units, the ns127
    // tokens-as-weights shape).
    require(Set[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType)
        .contains(df.schema(weightCol).dataType),
      s"ppsSample needs an INTEGRAL weight column; '$weightCol' is " +
        s"${df.schema(weightCol).dataType.simpleString} — quantize it " +
        "(e.g. micro-units) before sampling")
    val order = Window.partitionBy(strataCol)
      .orderBy(hash60Col(concat(lit("pps:"), col(keyCol).cast("string"))),
        col(keyCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = Window.partitionBy(strataCol)
    df
      .select(col(keyCol), col(strataCol), col(weightCol).cast("long").as("w"))
      .where(col("w") > 0)
      .withColumn("__ce", sum(col("w")).over(order))
      .withColumn("__W", sum(col("w")).over(total))
      .withColumn("n_slots",
        expr(s"__ce * $k DIV __W - (__ce - w) * $k DIV __W"))
      .where(col("n_slots") > 0)
      .select(col(keyCol), col(strataCol), col("w").as("weight"),
        col("n_slots"))
  }

  /** C8 — α = 0.5 temperature rebalancing (the mT5/XLM-R multilingual
    * sampling rule): released stratum sizes become ∝ √n_s, flattening the
    * head-language dominance of a web crawl while never upsampling —
    * the smallest stratum keeps EVERYTHING (rate 1), a stratum 100× its
    * size keeps 10× its docs (rate 1/10). [[mixCorpus]] hits declared
    * target proportions; this operator applies the temperature FORMULA
    * when no explicit mixture is declared — the standard multilingual
    * pretraining default.
    *
    * Exactness: admission is the pure-integer test
    * `u32·s_s < 2³²·s_min` with `s_s = ⌊√n_s⌋` (loop-corrected integer
    * sqrt — exact at any count, unlike a raw float floor) and u32 the
    * first 8 md5 hex chars of (tmix:seed:key) — all products stay under
    * 2⁶³ for corpora to 2³⁰ docs/stratum, and DuckDB replays the test
    * verbatim (`floor(sqrt(n))` is exact below 2⁵² because IEEE sqrt is
    * correctly rounded and √n is never within 2⁻²⁶ of a wrong integer
    * there). Kept-per-stratum ≈ n_s·s_min/s_s = √(n_min·n_s) ∝ √n_s.
    *
    * Scale shape: the [[mixCorpus]] contract — ONE strata-cardinality
    * count aggregation collected to the driver (bounded model state),
    * then a zero-shuffle codegen hash predicate over the corpus; the
    * scan is the cost. NULL strata participate as their own stratum. */
  def temperatureSample(
      df: DataFrame,
      strataCol: String,
      seed: Long = 42L,
      keyCol: String = "doc_id"): DataFrame = {
    def isqrt(n: Long): Long = {
      var s = math.sqrt(n.toDouble).toLong
      while ((s + 1) * (s + 1) <= n) s += 1
      while (s * s > n) s -= 1
      s
    }
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("n"))
      .collect()
      .map(r => Option(r.get(0)).map(_.toString) -> r.getLong(1)).toMap
    require(counts.nonEmpty, "temperatureSample over an empty corpus")
    val sByStratum = counts.map { case (k, n) => k -> isqrt(n) }
    val sMin = sByStratum.values.min
    val sCol = sByStratum.foldLeft(lit(null).cast("long")) {
      case (e, (Some(k), v)) => when(col(strataCol) === k, lit(v)).otherwise(e)
      case (e, (None, v)) => when(col(strataCol).isNull, lit(v)).otherwise(e)
    }
    val u32 = conv(substring(
        md5(concat(lit(s"tmix:$seed:"), col(keyCol).cast("string"))
          .cast("binary")), 1, 8),
      16, 10).cast("long")
    df.where(u32 * sCol < lit(4294967296L) * lit(sMin))
  }

  /** C6 — leakage-safe fold assignment: every member of a duplicate
    * group lands in the SAME fold, so a train/eval split can never put
    * one copy of a document in train and its twin in test — the
    * contamination mode a row-hash split ([[splitCorpus]]'s per-doc
    * buckets) cannot prevent once a corpus contains duplicates, and the
    * reason eval suites built from row-level splits overstate quality.
    * The group key is the exact-content digest (md5 of `textCol` — the
    * [[Dedup.exactDedup]] identity); the fold is the 60-bit md5 bucket
    * of the DIGEST (domain-tagged), so fold membership depends only on
    * content, never on doc ids, row order, or partitioning.
    *
    * Output: one row per input row — key, `dup_group` (the 32-hex
    * digest), `group_size` (how many rows share the content, so the
    * same-group⇒same-fold invariant is auditable downstream), `fold`
    * in [0, folds). NULL text forms its own group via the U+001E
    * sentinel digest.
    *
    * Scale shape: digest-before-exchange — the md5 projects in the scan
    * stage and ONE exchange keyed by the 16-byte digest feeds the
    * group_size window; the document text itself never shuffles. Skew
    * is bounded by the largest duplicate class (a count, not a blob
    * concat); fold math is a codegen projection. */
  def leakSafeFolds(
      df: DataFrame, textCol: String, folds: Int,
      keyCol: String = "doc_id"): DataFrame = {
    require(folds > 0, "folds must be positive")
    val g = md5(coalesce(col(textCol), lit("\u001e")).cast("binary"))
    val w = Window.partitionBy("dup_group")
    df.select(col(keyCol), g.as("dup_group"))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("fold",
        hash60Col(concat(lit("fold:"), col("dup_group"))) % folds)
  }

  /** C7 — deterministic contrastive negative sampling: for every anchor
    * row, draw `k` uniform negatives from the whole corpus by HASH, not
    * by `rand()` — task retries, repartitioning, and re-runs reproduce
    * the identical negative set, and the oracle replays it (the same
    * retry argument as [[stratifiedSample]], but for the contrastive /
    * embedding-training pair generator, where a silently shifting
    * negative set changes the loss landscape between "identical" runs).
    *
    * Draw i for anchor a targets global position
    * `hash60("neg:seed:a:i") mod N` in the corpus's `keyCol` order —
    * resolved through [[Layout.epochOrder]]'s distributed rank (range
    * exchange + broadcast offsets; NO single-partition global window).
    * Self-collisions (a draw landing on its own anchor) are DROPPED,
    * not re-drawn: re-draw chains are unreplayable in set-oriented SQL,
    * and at corpus scale the loss is k/N of one slot — "approximately
    * k negatives" is the standard contract. Slot ids are kept so the
    * drop is observable.
    *
    * Scale shape: one range exchange for the rank (plus its bounded
    * per-partition-count collect), a zero-shuffle k-fold explode of the
    * narrow (anchor, slot, target) frame, and ONE pos-keyed equi-join
    * of two narrow frames. Join skew is impossible by construction:
    * target positions are md5-uniform, so every rank receives ~k
    * probes regardless of data skew. */
  def sampleNegatives(
      df: DataFrame, keyCol: String, k: Int, seed: Long): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val ranked = Layout.epochOrder(df.select(col(keyCol)), Seq(col(keyCol)))
    // N from the already-checkpointed rank frame (max pos): one cheap
    // agg over narrow materialized rows, not an extra full corpus scan;
    // anchors likewise reuse the checkpoint instead of re-reading df
    val n = ranked.agg(max(col("pos"))).head.getLong(0)
    require(n >= 2, "negative sampling needs at least 2 rows")
    val cands = ranked.select(col(keyCol).as("anchor"))
      .withColumn("slot", explode(sequence(lit(1), lit(k))))
      .withColumn("slot", col("slot").cast("long"))
      .withColumn("__target",
        hash60Col(concat(lit(s"neg:$seed:"), col("anchor").cast("string"),
          lit(":"), col("slot").cast("string"))) % n + 1L)
    cands.join(ranked.select(col(keyCol).as("negative"), col("pos")),
        col("__target") === col("pos"))
      .where(col("negative") =!= col("anchor"))
      .select(col("anchor"), col("slot"), col("negative"))
  }

  /** C8 — per-entity temporal holdout: for every user (entity), the
    * LAST ⌈p·n/q⌉ of their events in time order become the test split,
    * the prefix stays train — the leakage-correct eval protocol for
    * sequence models (predict the FUTURE from the past; a row-hash
    * split would let the model train on events that happen after its
    * own test set, inflating eval). The cut is an exact integer rank
    * over the (ts, tiebreak) total order, so the assignment is
    * deterministic, exhaustive, disjoint, and engine-replayable — the
    * [[splitCorpus]] doctrine applied along time.
    *
    * Every entity keeps at least one test event (⌈⌉ of a positive
    * fraction), so cold entities don't silently vanish from eval.
    *
    * Scale shape: ONE entity-keyed exchange serves the descending rank
    * window and the count window (same clustering); the label is a
    * codegen projection. Per-entity cost is its own event count. */
  def temporalHoldout(
      events: DataFrame, entityCol: String, tsCol: String, tieCol: String,
      p: Int, q: Int): DataFrame = {
    require(p >= 1 && p < q, s"test fraction must be in (0,1): got $p/$q")
    val grp = Window.partitionBy(entityCol)
    val desc = Window.partitionBy(entityCol)
      .orderBy(col(tsCol).desc, col(tieCol).desc)
    events
      .withColumn("__rd", row_number().over(desc).cast("long"))
      .withColumn("__n", count(lit(1)).over(grp))
      .withColumn("split",
        when(col("__rd") <= expr(s"(__n * $p + ${q - 1}) DIV $q"),
          lit("test")).otherwise(lit("train")))
      .drop("__rd", "__n")
  }

  /** C9 — length-bucketed batch formation: sort the corpus by token
    * count and cut consecutive runs of `batchSize` into batches, so
    * each training batch holds near-equal-length sequences and pads to
    * its own max instead of the corpus max — the standard
    * padding-waste optimization for attention training (contrast
    * [[packSequences]], which CONCATENATES documents into fixed
    * sequences; bucketing keeps documents whole and groups them).
    * `waste` (per row: batch max − own length) quantifies the padding
    * each batch still pays; Σ waste is the tokens-burned metric the
    * optimization is judged by.
    *
    * The order is the (length, key) total order resolved through
    * [[Layout.epochOrder]]'s distributed rank — range exchange +
    * broadcast offsets, never a single-partition global window — and
    * batch_id = (pos − 1) DIV batchSize is a codegen projection over
    * it. The per-batch max comes from ONE batch-keyed window on the
    * already-range-partitioned frame. Deterministic by total order:
    * retries and repartitioning reproduce identical batches. */
  def lengthBuckets(
      df: DataFrame, lengthCol: String, keyCol: String,
      batchSize: Int): DataFrame = {
    require(batchSize >= 1, "batchSize must be >= 1")
    val ranked = Layout.epochOrder(
      df.select(col(keyCol), col(lengthCol)),
      Seq(col(lengthCol), col(keyCol)))
    val w = Window.partitionBy("batch_id")
    ranked
      .withColumn("batch_id", expr(s"(pos - 1) DIV $batchSize"))
      .withColumn("batch_max", max(col(lengthCol)).over(w))
      .select(col(keyCol), col(lengthCol), col("batch_id"),
        col("batch_max"),
        (col("batch_max") - col(lengthCol)).as("waste"))
  }

  /** C14 — packing-efficiency audit: what [[packSequences]]' greedy
    * offset assignment actually costs the trainer, per stratum. The
    * packer's running-sum layout is gapless by construction, so the only
    * waste is the final partial sequence (`tail_waste`) — but a doc whose
    * tokens straddle a `tokenBudget` boundary forces the trainer to
    * either split it across sequences or mask the overflow, and THAT is
    * the number the audit surfaces: `n_straddlers` (docs crossing at
    * least one boundary) and `straddle_tokens` (the token mass past each
    * doc's first boundary — exactly the mass needing cross-sequence
    * attention handling), as exact integers plus a per-mille of the
    * stratum's total. A packing whose straddle per-mille is high wants a
    * smaller budget, a length-sorted order ([[lengthBatches]]), or
    * chunk-level packing ([[TextAnalysis.chunkDocuments]] first).
    *
    * Scale shape: input is [[packSequences]] output, already hash-
    * partitioned by stratum; this aggregation groups on the SAME key, so
    * it adds ZERO exchange (reuses the window's partitioning) — the
    * audit is free at any scale. All arithmetic long-exact; per-mille by
    * integer division on non-negative values (truncation = floor in
    * every engine). */
  def packingAudit(
      packed: DataFrame,
      tokenBudget: Int,
      strataCol: String = "lang"): DataFrame = {
    require(tokenBudget > 0, "tokenBudget must be positive")
    val over =
      greatest(col("seq_off") + col("n_tokens") - tokenBudget, lit(0L))
    packed
      .groupBy(col(strataCol))
      .agg(
        count(lit(1)).as("n_docs"),
        (max(col("seq_id")) + lit(1L)).as("n_seqs"),
        sum(col("n_tokens")).as("total_tokens"),
        count(when(col("seq_off") + col("n_tokens") > tokenBudget, 1))
          .as("n_straddlers"),
        sum(over).as("straddle_tokens"))
      .select(col(strataCol), col("n_docs"), col("n_seqs"),
        col("total_tokens"), col("n_straddlers"), col("straddle_tokens"),
        // the final doc can spill PAST the last boundary (off DIV budget
        // names its start sequence), so the tail can be oversubscribed —
        // waste is the unfilled remainder, never negative
        greatest(col("n_seqs") * tokenBudget - col("total_tokens"), lit(0L))
          .as("tail_waste"),
        expr("straddle_tokens * 1000 DIV total_tokens")
          .as("straddle_per_mille"))
  }

  /** C16 — split-mode packing: [[packSequences]] with straddlers SPLIT
    * at sequence boundaries — one row per (doc, sequence) PIECE, the
    * GPT-style trainer layout where every sequence is exactly
    * `tokenBudget` tokens (except each stratum's tail) and a document
    * crossing a boundary continues in the next sequence instead of
    * forcing cross-sequence attention or masking. The resolution of
    * exactly what [[packingAudit]] prices: its `straddle_tokens` is the
    * token mass this operator moves into continuation pieces.
    * Per piece: the sequence it lands in, its offset there, its token
    * count, and `piece_idx` (0 = the doc's head). Invariants the spec
    * pins: Σ piece_tokens per doc = n_tokens; every non-tail sequence
    * is filled to exactly `tokenBudget` (gapless by construction).
    *
    * Scale shape: [[packSequences]]' one stratum window, then a pure
    * integer projection + a bounded explode (⌈n/budget⌉+1 pieces per
    * doc — deterministic, never data-dependent blowup). Zero-token
    * docs have no piece and drop. */
  def packSequencesSplit(
      docs: DataFrame,
      tokenBudget: Int = 2048,
      strataCol: String = "lang",
      orderCol: String = "doc_id",
      tokenCountCol: Option[String] = None): DataFrame = {
    val b = tokenBudget.toLong
    packSequences(docs, tokenBudget, strataCol, orderCol, tokenCountCol)
      .where(col("n_tokens") > 0)
      .withColumn("off", col("seq_id") * b + col("seq_off"))
      .withColumn("e", col("off") + col("n_tokens"))
      .withColumn("piece_seq",
        explode(expr(s"sequence(off DIV $b, (e - 1) DIV $b)")))
      .select(col(orderCol), col(strataCol),
        col("piece_seq").as("seq_id"),
        greatest(col("off") - col("piece_seq") * b, lit(0L)).as("seq_off"),
        (least(col("e"), (col("piece_seq") + 1) * b) -
          greatest(col("off"), col("piece_seq") * b)).as("piece_tokens"),
        (col("piece_seq") - expr(s"off DIV $b")).as("piece_idx"))
  }

  /** C15 — data-mixture epoch plan: given declared target shares
    * (per-mille of a total token budget) per stratum, the repeat-factor
    * table a mixing pipeline executes — per stratum: available token
    * mass, the target mass, full epochs needed (a target above the
    * available mass means multi-epoch repetition, i.e. the deliberate
    * upweighting ns128 prices when it happens by accident), the partial
    * last-epoch mass, and the repeat factor in exact per-mille (1000 =
    * exactly one epoch; 2500 = 2.5 epochs; 180 = downsample to 18%).
    * Strata absent from `sharesPerMille` get share 0 and epochs 0 — they
    * are reported, not dropped, because "this source is excluded" is
    * itself a release decision the table must show. This is the planning
    * step ahead of [[mixCorpora]]/[[stratifiedSample]]: those execute
    * rates someone computed; this computes them, exactly.
    *
    * Scale shape: ONE stratum-keyed aggregation with map-side combine;
    * the share lookup is a codegen CASE chain over the declared literal
    * map (never a join); all arithmetic exact longs — ceil-division via
    * `(t + a - 1) DIV a` on non-negative values, so the plan
    * hash-replays in any engine. `budgetTokens × 1000` must stay under
    * 2⁶³ (budget < 9.2e15 tokens — comfortably above any real run). */
  def mixturePlan(
      docs: DataFrame,
      sharesPerMille: Seq[(String, Int)],
      budgetTokens: Long,
      strataCol: String = "lang",
      tokenCountCol: Option[String] = None): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    require(sharesPerMille.map(_._2).forall(s => s >= 0 && s <= 1000),
      "shares are per-mille values in [0, 1000]")
    require(sharesPerMille.map(_._2).sum <= 1000,
      "shares must sum to at most 1000 per-mille")
    val nTokens = tokenCountCol
      .map(c => col(c).cast("long"))
      .getOrElse(ceil(length(col("text")).cast("double") / 4.0).cast("long"))
    mixturePlanFromTotals(
      docs
        .select(col(strataCol), nTokens.as("__t"))
        .groupBy(col(strataCol))
        .agg(count(lit(1)).as("n_docs"), sum(col("__t")).as("avail_tokens")),
      sharesPerMille, budgetTokens, strataCol)
  }

  /** [[mixturePlan]]'s arithmetic tail over an already-aggregated
    * (strataCol, n_docs, avail_tokens) totals frame — split out so the
    * streaming twin ([[graft.streaming.StreamingMixture]]) computes the
    * IDENTICAL plan from its live running totals: one definition, so the
    * batch plan and the live dashboard cannot drift. */
  def mixturePlanFromTotals(
      totals: DataFrame,
      sharesPerMille: Seq[(String, Int)],
      budgetTokens: Long,
      strataCol: String = "lang"): DataFrame = {
    val share = sharesPerMille.foldLeft(lit(0)) {
      case (e, (k, v)) => when(col(strataCol) === k, lit(v)).otherwise(e)
    }
    totals
      .withColumn("target_per_mille", share.cast("long"))
      .withColumn("target_tokens",
        expr(s"$budgetTokens * target_per_mille DIV 1000"))
      .select(col(strataCol), col("n_docs"), col("avail_tokens"),
        col("target_per_mille"), col("target_tokens"),
        // a zero-mass stratum (every doc empty) makes the plan undefined:
        // release NULLs explicitly — Spark's DIV-by-zero quietly NULLs
        // where DuckDB errors, so the guard keeps both engines aligned
        when(col("avail_tokens") === 0, lit(null).cast("long"))
          .when(col("target_tokens") === 0, lit(0L))
          .otherwise(expr(
            "(target_tokens + avail_tokens - 1) DIV avail_tokens"))
          .as("epochs"),
        when(col("avail_tokens") === 0, lit(null).cast("long"))
          .when(col("target_tokens") === 0, lit(0L))
          .otherwise(col("target_tokens") -
            (expr("(target_tokens + avail_tokens - 1) DIV avail_tokens")
              - lit(1L)) * col("avail_tokens"))
          .as("last_epoch_tokens"),
        when(col("avail_tokens") === 0, lit(null).cast("long"))
          .otherwise(expr("target_tokens * 1000 DIV avail_tokens"))
          .as("repeat_per_mille"))
  }
}
