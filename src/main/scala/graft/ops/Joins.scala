package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-management join utilities (SURVEY §7.2 M6 extension).
  *
  * A hash join on a skewed key sends every row of the hot key to ONE
  * reducer: one straggler task holds the stage. AQE's skew-join handles
  * the sort-merge case adaptively, but only after a shuffle materializes,
  * only for sizes it can observe, and not at all when a pipeline disables
  * AQE or the skew is in the JOIN PRODUCT rather than partition bytes.
  * Salting is the classic explicit remedy: split each hot key into
  * `salts` sub-keys on the big side, replicate the small side once per
  * sub-key, and the hot key's work spreads across `salts` tasks. The
  * price is a deliberate `salts`× replication of the other side — bounded
  * and chosen, unlike the unbounded straggler it removes.
  */
object Joins {

  /** Equality join with the LEFT (large, possibly skewed) side salted.
    *
    * Each left row gets a deterministic salt in [0, salts) — a hash of
    * the whole row, so retries and speculative duplicates of a task
    * salt identically (`rand()` here would be a correctness bug under
    * retry, same reasoning as [[Sampling.stratifiedSample]]). The right
    * side is replicated once per salt value via a generator, then the
    * join runs on (keys..., salt): every left row still meets every
    * matching right row EXACTLY once, so the result is row-identical to
    * the unsalted join for inner and left joins — only the shuffle
    * distribution changes.
    *
    * Scale shape: the left side shuffles once on (keys, salt) — the hot
    * key now occupies `salts` reducers; the right side shuffles its
    * `salts`× replication (or broadcasts, if small enough for Catalyst
    * to elect it, in which case salting costs nothing extra at all).
    *
    * Limitations: the salt is a function of the row's VALUES, so hot-key
    * rows that are BYTE-IDENTICAL duplicates all take the same salt and
    * still co-locate — deterministic salting cannot spread them (pass a
    * unique id column in the frame, which any real table has, and the
    * hash separates the rows). `hash()` also rejects MapType columns at
    * plan time; project maps away (or to their sorted entries) first.
    *
    * ==When to salt vs when to let AQE handle it (spec-adjudicated)==
    * AQE's native skew-join split triggers on observed partition BYTES
    * (`skewedPartitionThresholdInBytes`, 256 MiB default) of a sort-merge
    * join's shuffle, and only there. Let AQE handle the skew when all
    * hold: AQE is on, the join is SMJ, and the hot key is heavy in bytes
    * on the SHUFFLED INPUT. Reach for [[saltedJoin]] when any of these
    * hold instead:
    *   - the straggler is row-COUNT-heavy but byte-light (narrow rows,
    *     expensive per-row downstream work) — below AQE's byte threshold
    *     nothing fires, the straggler remains (PlanSpec pins this case on
    *     a synthesized power-law key);
    *   - the blow-up is in the join PRODUCT, not the input partitions —
    *     AQE sizes inputs, not outputs;
    *   - AQE is disabled or the pipeline pins plans (deterministic
    *     benchmarking, plan-diff gates);
    *   - the join is broadcast-ineligible and the same hot key ALSO feeds
    *     a following same-key aggregation the split can't help. */
  def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      salts: Int = 8,
      joinType: String = "inner"): DataFrame = {
    require(salts >= 1, "salts must be >= 1")
    require(keys.nonEmpty, "keys must be non-empty")
    require(Seq("inner", "left", "left_outer").contains(joinType),
      s"unsupported join type '$joinType' — right/full joins would " +
        "duplicate unmatched right rows once per salt")
    // fail fast on the reserved working column, like splitCorpus/sampleExact
    // — silently overwriting then dropping it would lose user data
    require(!left.columns.contains("_salt") && !right.columns.contains("_salt"),
      "inputs must not contain a '_salt' column (reserved)")
    val saltedL = left.withColumn("_salt",
      pmod(hash(left.columns.map(col): _*), lit(salts)))
    val saltedR = right.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedL.join(saltedR, keys :+ "_salt", joinType).drop("_salt")
  }

  /** Bucketed range join: `points` rows matched to `intervals` rows with
    * `startCol <= pointCol < endCol` (plus optional equality `keys`) —
    * WITHOUT the θ-join Spark would otherwise plan. A bare range predicate
    * gives Catalyst no equality key, so it falls back to
    * BroadcastNestedLoopJoin — per-pair work, quadratic, the classic
    * interval-join trap. This reformulation manufactures the equality key:
    * both sides bucket the range dimension by `bucket` (floor division),
    * intervals EXPLODE to every bucket they overlap, and the join runs on
    * (keys..., _bucket) with the range check as a residual condition. A
    * (point, interval) pair can only meet in the point's single bucket, so
    * the output needs no DISTINCT.
    *
    * `bucket` is the knob: interval replication is ceil(span/bucket)+1
    * copies, so pick bucket ≈ the TYPICAL span (an attribution window, a
    * session length) and replication is ≤ 2× — bounded and chosen, like
    * [[saltedJoin]]'s `salts`. Degenerate (end <= start) intervals match
    * nothing and are dropped before exploding.
    *
    * 100 TB shape: one shuffle per side on (keys, _bucket) into a
    * sort-merge join; the range predicate filters inside the join, never
    * a nested loop (spec-pinned). Floor division is exact integer
    * arithmetic (pmod-based, correct for negative values too) — no double
    * rounding at 2^53. Non-key column names must be disjoint across the
    * two frames (checked) so the residual condition is unambiguous. */
  def rangeJoin(
      points: DataFrame,
      intervals: DataFrame,
      pointCol: String,
      startCol: String,
      endCol: String,
      keys: Seq[String] = Nil,
      bucket: Long): DataFrame = {
    require(bucket > 0, "bucket must be positive")
    require(!points.columns.contains("_bucket") &&
      !intervals.columns.contains("_bucket"),
      "inputs must not contain a '_bucket' column (reserved)")
    val overlap = points.columns.toSet
      .intersect(intervals.columns.toSet) -- keys
    require(overlap.isEmpty,
      s"non-key columns must be disjoint, both sides have: ${overlap.mkString(", ")}")
    // integral floor division: pmod makes the numerator exactly divisible,
    // DIV keeps everything in long — Column./ would detour through double
    // and misbucket values beyond 2^53 (nanosecond epochs are ~2^60)
    def floorDiv(e: String) = expr(
      s"(($e) - pmod(($e), ${bucket}L)) DIV ${bucket}L")
    val p = points.withColumn("_bucket",
      floorDiv(s"CAST($pointCol AS BIGINT)"))
    val i = intervals
      .where(col(endCol) > col(startCol))
      .withColumn("_bucket", explode(sequence(
        floorDiv(s"CAST($startCol AS BIGINT)"),
        floorDiv(s"CAST($endCol AS BIGINT) - 1"))))
    p.join(i, keys :+ "_bucket")
      .where(col(pointCol) >= col(startCol) && col(pointCol) < col(endCol))
      .drop("_bucket")
  }

  /** Semi-join with an explicit Bloom pre-filter: `fact` rows whose
    * `key` appears in `dim` — row-identical to a plain `left_semi` join
    * (the exact join runs last and removes every Bloom false positive),
    * but the fact side is THINNED BEFORE ITS SHUFFLE by testing each key
    * against `numHashes` hashed bit positions of the dim side's key set.
    *
    * The window where this wins: `dim`'s KEYS are too large to broadcast
    * (so the exact join must shuffle both sides) but their Bloom bit-set
    * fits — ~1.2 GB of raw keys compress into a 2²⁰-position table at 1%
    * false-positive rate. Each membership test is a broadcast-hash
    * left_semi per hash function over the narrow `(bit)` table: no fact
    * shuffle, codegen'd, and only surviving rows (true matches + the
    * ~fp% stragglers) pay the exact join's exchange. When `dim` itself
    * broadcasts, skip this — the exact broadcast join is already one
    * pass; Spark's own runtime bloom (`runtime.bloomFilter`) does the
    * same trick adaptively, but only where IT decides; this one is
    * explicit.
    *
    * False positives only COST (they ride to the exact join and die
    * there); they can never appear in the output. False negatives cannot
    * happen: a present key has all its bits set by construction.
    *
    * Bit positions hash with Spark's codegen'd `xxhash64`, NOT the
    * md5-60 device the sketch family uses: the Bloom pass is
    * answer-invisible (the oracle replays the plain semi-join), so
    * cross-engine hash reproducibility buys nothing here — and md5's
    * hex-string detour costs ~4× in the per-fact-row probe path, the one
    * place this operator lives. */
  def bloomSemiJoin(
      fact: DataFrame,
      dim: DataFrame,
      key: String,
      numBits: Int = 1 << 20,
      numHashes: Int = 3,
      forceBloom: Option[Boolean] = None): DataFrame = {
    require(numBits >= 2, "numBits must be >= 2")
    require(numHashes >= 1 && numHashes <= 8,
      s"numHashes must be in [1,8], got $numHashes")
    require(!fact.columns.contains("_bloom_bit") &&
      !dim.columns.contains("_bloom_bit"),
      "inputs must not contain a '_bloom_bit' column (reserved)")
    // stats lever (the Dedup.benchmarkFitsBroadcast pattern): when the dim
    // side fits Catalyst's broadcast threshold the exact join is already
    // one broadcast pass and the Bloom pre-filter is pure overhead — skip
    // it unless the caller pins the decision
    val useBloom = forceBloom.getOrElse(
      dim.queryExecution.optimizedPlan.stats.sizeInBytes >
        fact.sparkSession.sessionState.conf.autoBroadcastJoinThreshold)
    if (!useBloom)
      return fact.join(dim.select(col(key)).distinct(), Seq(key), "left_semi")
    // the key is hashed through a string cast so a fact/dim TYPE mismatch
    // (int32 fact key vs int64 dim key) cannot hash the same value to
    // different positions — xxhash64 is type-sensitive, and a silent
    // false negative would break the exact-join-equality contract
    def position(h: Int) =
      pmod(xxhash64(lit(h), col(key).cast("string")), lit(numBits.toLong))
    // ONE dim scan emits all numHashes positions per key (a union of
    // per-hash scans would read the large dim side numHashes times);
    // cached because it feeds numHashes broadcasts, NOT an eager local
    // snapshot: plan construction must not run a job, and a cached plan
    // recomputes a lost block. The caller's scope frees it. Concurrent
    // first-use broadcasts can race the cache fill and duplicate the dim
    // scan once — still at most one scan per broadcast.
    val bits = Materialize.cached(dim.where(col(key).isNotNull)
      .select(explode(array((0 until numHashes).map(position): _*))
        .as("_bloom_bit"))
      .distinct())
    // one broadcast-hash membership probe per hash function; a fact row
    // must survive all of them (Bloom AND-semantics), so the probes chain
    // into a single fact-scan pipeline — the fact side never shuffles
    val thinned = (0 until numHashes).foldLeft(fact) { (f, h) =>
      f.join(broadcast(bits), position(h) === col("_bloom_bit"), "left_semi")
    }
    thinned.join(dim.select(col(key)).distinct(), Seq(key), "left_semi")
  }
}
