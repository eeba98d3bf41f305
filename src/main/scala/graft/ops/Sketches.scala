package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables

/** Approximate-distinct sketches with ENGINE-REPRODUCIBLE hashing.
  *
  * `approx_count_distinct` exists in every engine, but each implements a
  * different HLL variant with a different hash — the estimates disagree, so
  * nothing downstream can verify them. This HyperLogLog is built from the
  * same md5 byte math as the LSH/IVF/PQ family: any md5-capable engine
  * reproduces the registers AND the estimate bit-for-bit (modulo the one
  * rounded cross-register sum), which makes an APPROXIMATE aggregate
  * oracle-checkable — the same trick the ANN tier uses.
  *
  * Why sketch at all: exact distinct at 100 TB is a full shuffle of every
  * distinct value; the sketch shuffles AT MOST tasks × 2^b tiny (group,
  * register) rows with map-side combine, constant memory per group, and
  * registers from disjoint corpus shards merge by element-wise max — the
  * standard mergeable-summary contract.
  */
object Sketches {

  /** Per-group HyperLogLog distinct-count estimate over `valueCol`.
    *
    * Register math: h = 60-bit md5 prefix; bucket = h mod 2^b (low b
    * bits); w = h div 2^b (the remaining 60−b bits); rank = leading zeros
    * of w within 60−b bits, plus one — computed as (60−b) − floor(log₂ w)
    * via exact integer bit-length arithmetic (`length(bin(w)) − 1`, the
    * [[TextAnalysis.tfidfKeywords]] device), rank = 61−b for w = 0.
    * Estimate: the raw HLL formula E = α_m · m² / Σ_j 2^(−M_j) with
    * M_j = 0 for never-hit registers and α_m = 0.7213/(1 + 1.079/m) —
    * every term is an exact power of two (integer shift then one
    * division), and α is computed from the same literals in both engines.
    * The cross-register sum is the one order-dependent float reduction;
    * the estimate is rounded to 6 decimals to absorb its ~1e−12 noise
    * (same contract as the k-means centroid means). The standard
    * small-range correction IS applied (raw HLL over-reads ~10× when
    * n ≪ m): E ≤ 2.5m with empty registers V > 0 → linear counting
    * m·ln(m/V). That `ln` is the one transcendental in the whole library —
    * admissible here where it is per GROUP (a handful of evaluations,
    * each rounded at 1e−6, so a last-ulp libm disagreement is a
    * measure-zero risk), unlike per-row ranking keys
    * ([[TextAnalysis.tfidfKeywords]]'s idf) where millions of exposures
    * would make it a certainty.
    *
    * NULL values are excluded (they are not a distinct value of the
    * column). Groups arrive whole: (group, bucket) aggregation with
    * map-side combine, then a per-group register rollup — two narrow
    * shuffles, no distinct-value shuffle anywhere. */
  def hllDistinct(
      df: DataFrame, valueCol: String, groupCols: Seq[String],
      b: Int = 10): DataFrame = {
    require(b >= 4 && b <= 16, s"b must be in [4,16], got $b")
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    // internals are _hll_-prefixed so a group column named "rank" or
    // "bucket" is never silently replaced; the two OUTPUT names are the
    // one unavoidable reservation, so collide loudly instead
    val reserved = Set("n_registers", "hll_estimate")
    val taken = reserved.intersect((groupCols :+ valueCol).toSet)
    require(taken.isEmpty,
      s"column name(s) reserved for the output: ${taken.mkString(", ")}")
    val m = 1 << b
    val wBits = 60 - b
    val h = Sampling.hash60Col(col(valueCol))
    val gs = groupCols.map(col)
    val hashed = df.where(col(valueCol).isNotNull)
      .select(gs :+ h.as("_hll_h"): _*)
      .select(gs :+ pmod(col("_hll_h"), lit(m.toLong)).as("_hll_bucket") :+
        expr(s"_hll_h DIV $m").as("_hll_w"): _*)
      .withColumn("_hll_rank",
        when(col("_hll_w") === 0, lit(wBits + 1))
          .otherwise(lit(wBits) - (length(bin(col("_hll_w"))) - 1)))
    val regs = hashed
      .groupBy(gs :+ col("_hll_bucket"): _*)
      .agg(max(col("_hll_rank")).as("_hll_mr"))
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))
    val empty = (lit(m.toLong) - col("n_registers")).cast("double")
    val rawE = alpha * lit(m.toDouble) * lit(m.toDouble) /
      (col("_hll_zp") + empty)
    val est = when(rawE <= lit(2.5 * m) && empty > 0,
      lit(m.toDouble) * log(lit(m.toDouble) / empty)).otherwise(rawE)
    regs.groupBy(gs: _*)
      .agg(count(lit(1)).as("n_registers"),
        sum(lit(1.0) / expr("shiftleft(CAST(1 AS BIGINT), _hll_mr)"))
          .as("_hll_zp"))
      .select(gs :+ col("n_registers") :+
        round(est, 6).as("hll_estimate"): _*)
  }

  /** Count-min sketch over `valueCol`: `depth` salted hash rows ×
    * `width` buckets of occurrence counts — the mergeable frequency
    * summary (sketches from disjoint shards merge by element-wise SUM,
    * where HLL registers merge by max). Same engine-reproducible md5
    * contract as [[hllDistinct]]: any md5-capable engine rebuilds the
    * table bit-for-bit, so the approximate counts are oracle-checkable.
    *
    * Why sketch: exact per-value counts at 100 TB shuffle every distinct
    * value; the sketch aggregates to AT MOST depth × width rows (map-side
    * combine does the heavy counting in-stage), and once built it answers
    * any frequency query from broadcast state without re-scanning the
    * corpus. Estimates overcount only (collisions add, never subtract):
    * est ≥ true count, with ε ≈ e/width overshoot at probability
    * δ ≈ e^−depth — the standard CMS guarantee. */
  def cmsBuild(
      df: DataFrame, valueCol: String,
      depth: Int = 4, width: Int = 256): DataFrame =
    cmsCells(df, valueCol, depth, width)
      .groupBy(col("row"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** The per-occurrence (row, bucket) cell stream behind [[cmsBuild]] —
    * shared with [[graft.streaming.StreamingSketches.cmsStream]], where
    * the same projection feeds a STREAMING aggregation instead (the
    * running sketch is exactly the aggregation state). Pure deterministic
    * expressions, so it is streaming-safe. */
  private[graft] def cmsCells(
      df: DataFrame, valueCol: String,
      depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth must be in [1,16], got $depth")
    require(width >= 2, s"width must be >= 2, got $width")
    df.where(col(valueCol).isNotNull)
      .select(Sampling.hash60Col(col(valueCol).cast("string")).as("_cms_h"))
      .withColumn("row", explode(lit((0 until depth).toArray)))
      .select(col("row"), cmsBucket(col("_cms_h"), col("row"), width))
  }

  // One md5 per occurrence; the depth buckets derive from that single
  // 60-bit hash by a per-row affine map mod a Mersenne prime (the
  // classic (a·h + b) mod p mod w family) — 4× fewer digests on the
  // build's hot path than hashing (row, value) afresh, same replayable
  // integer arithmetic in the oracle. Fixed LCG-style multipliers trade
  // theoretical universality for cross-engine determinism; the CMS
  // upper-bound guarantee (never undercount) holds under ANY hash
  // choice, only the overshoot constant is at stake.
  private val CmsP = 2147483647L // 2^31 − 1
  private def cmsBucket(
      h: org.apache.spark.sql.Column, row: org.apache.spark.sql.Column,
      width: Int) = {
    val a = pmod(lit(1103515245L) * (row + lit(1)), lit(CmsP))
    val b = pmod(lit(12345L) * (row + lit(1)), lit(CmsP))
    // a < p and h mod p < p keep a·h' + b under 2^62 — no overflow
    pmod(pmod(a * pmod(h, lit(CmsP)) + b, lit(CmsP)), lit(width.toLong))
      .as("bucket")
  }

  /** Point-frequency estimates for `candidates` against a [[cmsBuild]]
    * sketch: each candidate value reads its `depth` buckets and takes the
    * MIN (buckets it never hashed into count 0 — a value absent from the
    * corpus estimates 0, not null). The sketch is depth × width rows, so
    * it broadcasts; estimating a million candidates is one narrow join
    * against broadcast state, no corpus access at all. */
  def cmsEstimate(
      sketch: DataFrame, candidates: DataFrame, valueCol: String,
      depth: Int = 4, width: Int = 256): DataFrame = {
    val cand = candidates.where(col(valueCol).isNotNull)
      .select(col(valueCol),
        Sampling.hash60Col(col(valueCol).cast("string")).as("_cms_h"))
      .distinct()
      .withColumn("row", explode(lit((0 until depth).toArray)))
      .withColumn("bucket", cmsBucket(col("_cms_h"), col("row"), width))
      .drop("_cms_h")
    cand.join(broadcast(sketch), Seq("row", "bucket"), "left")
      .groupBy(col(valueCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_count"))
  }

  /** Heavy hitters: candidates whose CMS-estimated frequency in `df`
    * reaches `minCount`. Candidates are supplied, not discovered — the
    * sketch answers "how often does X occur" in O(depth) lookups, and the
    * candidate list (a vocabulary, a suspect set, last tick's hitters) is
    * the caller's, which is what keeps this shape corpus-scan-free at
    * serving time. CMS never undercounts, so no true heavy hitter is ever
    * missed; collisions can only promote a borderline value. */
  def cmsHeavyHitters(
      df: DataFrame, candidates: DataFrame, valueCol: String,
      minCount: Long, depth: Int = 4, width: Int = 256): DataFrame =
    cmsEstimate(cmsBuild(df, valueCol, depth, width),
        candidates, valueCol, depth, width)
      .where(col("cms_count") >= minCount)

  /** Persist a [[cmsBuild]] sketch for serving: cells as parquet plus the
    * index meta ([[PersistedIndex]]) carrying depth and width (PINNED to
    * the index — estimating against mismatched parameters computes wrong
    * buckets silently, the same parameter-pinning contract as the
    * minhash/PQ indexes) and an optional content fingerprint for
    * staleness gating. */
  def writeCmsSketch(
      df: DataFrame, path: String, valueCol: String,
      depth: Int = 4, width: Int = 256,
      fingerprint: Option[String] = None): Unit = {
    PersistedIndex.build(df.sparkSession, path, PersistedIndex.Kind.Cms,
        fingerprint) { tmp =>
      cmsBuild(df, valueCol, depth, width)
        .write.mode("overwrite").parquet(tmp.toString)
      Seq("depth" -> depth, "width" -> width)
    }
  }

  /** Fold new occurrences into a persisted sketch WITHOUT a rebuild:
    * appends the new rows' partial cells (CMS cells merge by SUM, so
    * duplicate (row, bucket) rows are correct — the serving path
    * re-aggregates). depth/width come OFF the stored params, never the
    * caller. Single writer per sketch; readers between ticks. */
  def updateCmsSketch(
      newRows: DataFrame, path: String, valueCol: String): Unit = {
    val (depth, width) = cmsStoredParams(newRows.sparkSession, path)
    cmsBuild(newRows, valueCol, depth, width)
      .write.mode("append").parquet(path)
  }

  /** [[cmsEstimate]] against a persisted sketch: parameters read off the
    * meta, partial cells from appends sum-merged before the
    * min-over-rows — the whole table is depth × width rows (× appends),
    * so the re-aggregation is noise. */
  def cmsEstimateFromSketch(
      spark: org.apache.spark.sql.SparkSession, path: String,
      candidates: DataFrame, valueCol: String): DataFrame = {
    val (depth, width) = cmsStoredParams(spark, path)
    val cells = Tables.parquet(spark, path)
      .groupBy(col("row"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))
    cmsEstimate(cells, candidates, valueCol, depth, width)
  }

  private[graft] def cmsStoredParams(
      spark: org.apache.spark.sql.SparkSession, path: String): (Int, Int) = {
    val meta = PersistedIndex.read(spark, path, PersistedIndex.Kind.Cms)
    (meta.int("depth"), meta.int("width"))
  }

  /** Per-group approximate quantiles from fixed-width value bins — the
    * mergeable quantile summary: per (group, bin) counts merge by sum
    * across shards/ticks, and the quantile read-off is a cumulative-sum
    * walk over ≤ range/binWidth tiny rows. The reported quantile is the
    * LOWER EDGE of the first bin whose cumulative count reaches the
    * target rank ceil(q · n) — everything downstream of that rank is
    * integer arithmetic (no interpolation, no floats in row keys), and
    * the rank itself is IEEE-double ceil, which both engines compute
    * bit-identically (the oracle replays the same expression; note
    * q · n can round a hair past an integer, e.g. 0.07 · 100 → rank 8 —
    * a definitional choice shared by both sides). Error bounded by
    * `binWidth` around the chosen rank's value. The exact-rank
    * sibling is [[TextAnalysis.lengthStats]]'s full sort; this is the
    * shape that survives 100 TB (narrow keyed agg + per-group walk, no
    * global sort) and streaming accumulation. NULL values are excluded,
    * matching lengthStats' contract. */
  def quantileBins(
      df: DataFrame, valueCol: String, groupCols: Seq[String],
      qs: Seq[Double], binWidth: Long = 16): DataFrame =
    quantilesFromBins(
      binTable(df, valueCol, groupCols, binWidth),
      groupCols, qs, binWidth)

  /** The whole (group, `_qb_bin`, `_qb_cnt`) bin-table construction —
    * batch and streaming share it END TO END ([[quantileBins]] and
    * [[graft.streaming.StreamingSketches.quantileBinsStream]] differ only
    * in whether the aggregation state lives in a shuffle or the state
    * store), so the spec-pinned streamed≡batch equivalence cannot drift. */
  private[graft] def binTable(
      df: DataFrame, valueCol: String, groupCols: Seq[String],
      binWidth: Long): DataFrame =
    binCounts(df, valueCol, groupCols, binWidth)
      .groupBy(groupCols.map(col) :+ col("_qb_bin"): _*)
      .agg(count(lit(1)).as("_qb_cnt"))

  /** The per-row (group, bin) projection behind [[quantileBins]] — shared
    * with [[graft.streaming.StreamingSketches.quantileBinsStream]], where
    * it feeds a streaming aggregation (the running bin counts are the
    * aggregation state). FLOOR division (the rangeJoin pmod device), not
    * DIV's truncation: DIV would collapse (-binWidth, 0) and
    * [0, binWidth) into one bin 0 for signed values, breaking the
    * lower-edge / error ≤ binWidth contract (and diverging from
    * floor-division oracles). */
  private[graft] def binCounts(
      df: DataFrame, valueCol: String, groupCols: Seq[String],
      binWidth: Long): DataFrame = {
    require(binWidth >= 1, s"binWidth must be >= 1, got $binWidth")
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(!groupCols.contains("_qb_v"),
      "groupCols must not contain '_qb_v' (reserved)")
    // the value column is bound through the Column API (a name with a
    // backtick would break expr() parsing — the zorder try_cast lesson);
    // only the DIV operator needs SQL text, and by then the operand is the
    // fixed internal name `_qb_v`, with binWidth a validated literal
    df.where(col(valueCol).isNotNull)
      .select(groupCols.map(col) :+ col(valueCol).cast("long").as("_qb_v"): _*)
      .select(groupCols.map(col) :+ expr(
        s"(_qb_v - pmod(_qb_v, ${binWidth}L)) DIV ${binWidth}L")
        .as("_qb_bin"): _*)
  }

  /** Quantile read-off over a (group, `_qb_bin`, `_qb_cnt`) bin table —
    * the other half of [[quantileBins]], public so the table can come
    * from anywhere counts accumulate. Duplicate (group, bin) rows are
    * SUM-merged first, so concatenated per-shard/tick tables feed in
    * directly. The one source that must be reduced by the CALLER is an
    * update-mode streaming sink ([[graft.streaming.StreamingSketches
    * .quantileBinsStream]]): its per-trigger rows are RUNNING TOTALS, not
    * deltas — summing them double-counts, so take each cell's LATEST row
    * first (see StreamingSketchesSpec's latestBins). Same walk, same
    * lower-edge contract. */
  def quantilesFromBins(
      bins: DataFrame, groupCols: Seq[String],
      qs: Seq[Double], binWidth: Long): DataFrame = {
    require(binWidth >= 1, s"binWidth must be >= 1, got $binWidth")
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      s"quantiles must be in (0,1], got $qs")
    import org.apache.spark.sql.expressions.Window
    val gs = groupCols.map(col)
    val w = Window.partitionBy(gs: _*).orderBy(col("_qb_bin"))
    bins
      .groupBy(gs :+ col("_qb_bin"): _*)
      .agg(sum(col("_qb_cnt")).as("_qb_cnt"))
      .withColumn("_qb_cum", sum(col("_qb_cnt")).over(w))
      .withColumn("_qb_n",
        sum(col("_qb_cnt")).over(Window.partitionBy(gs: _*)))
      // every requested quantile rides the same walked-bin table: one
      // explode, one groupBy — not one plan branch per q
      .withColumn("q", explode(lit(qs.toArray)))
      .where(col("_qb_cum") >= ceil(col("q") * col("_qb_n")))
      .groupBy(gs :+ col("q"): _*)
      .agg((min(col("_qb_bin")) * lit(binWidth)).as("approx_value"))
  }

  /** Curriculum bucketing — label every row with the quantile bucket
    * (1..`numBuckets`) of its value within its group: the
    * curriculum-learning data-ordering step (train easy→hard by
    * quality/length/perplexity bucket) and the skew-aware sibling of
    * [[TextAnalysis.histogram]]'s fixed-width buckets. Boundaries are the
    * mergeable bin-sketch quantile walk ([[quantileBins]] at
    * q = 1/B .. (B−1)/B — error ≤ `binWidth`, engine-reproducible, no
    * global sort); a row's bucket is 1 + the number of boundaries
    * STRICTLY below its value (boundary ties land in the lower bucket —
    * deterministic, and exactly replayable in SQL). Rows with NULL values
    * are excluded, matching the sketch's contract; NULL group values form
    * their own group end to end (null-safe join — the
    * [[Privacy.kAnonymize]] NULL policy).
    *
    * Scale shape: boundaries are groups × (B−1) rows, collapsed to one
    * sorted array per group and joined back — AQE broadcasts the tiny
    * frame, so the corpus never shuffles; assignment is a codegen'd HOF
    * count over the broadcast array. */
  def curriculumBuckets(
      df: DataFrame, valueCol: String, groupCols: Seq[String],
      numBuckets: Int = 4, binWidth: Long = 16): DataFrame = {
    require(numBuckets >= 2, s"numBuckets must be >= 2, got $numBuckets")
    val qs = (1 until numBuckets).map(_.toDouble / numBuckets)
    val bounds = quantileBins(df, valueCol, groupCols, qs, binWidth)
      .groupBy(groupCols.map(col): _*)
      .agg(array_sort(collect_list(struct(col("q"), col("approx_value"))))
        .as("_cb_qs"))
      .select(groupCols.map(c => col(c).as(s"_cb_$c")) :+
        transform(col("_cb_qs"), s => s.getField("approx_value"))
          .as("_cb_bounds"): _*)
    df.where(col(valueCol).isNotNull)
      .join(bounds,
        groupCols.map(c => col(c) <=> col(s"_cb_$c")).reduce(_ && _))
      .withColumn("bucket",
        (lit(1) + size(filter(col("_cb_bounds"),
          b => col(valueCol).cast("long") > b))).cast("long"))
      .drop("_cb_bounds" +: groupCols.map(c => s"_cb_$c"): _*)
  }

  // ---- streaming-side register math (shared with StreamingSketches) -------

  private val md5Local =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** The 60-bit md5 prefix — the same value [[Sampling.hash60Col]] / the
    * oracle's `('0x' || substr(md5(x), 1, 15))::BIGINT` produce: the first
    * 15 hex chars are the digest's top 60 bits, i.e. the first 8 bytes as
    * a big-endian long shifted right by a nibble. Thread-local digest and
    * arithmetic extraction — this runs once per streamed row, so no JCA
    * lookup and no hex string round-trip on the hot path. */
  private[graft] def hash60(value: String): Long = {
    val d = md5Local.get()
    d.reset()
    val bytes = d.digest(value.getBytes("UTF-8"))
    var acc = 0L
    var i = 0
    while (i < 8) { acc = (acc << 8) | (bytes(i) & 0xffL); i += 1 }
    acc >>> 4
  }

  /** Fold one value into a register array in place — the streaming tier's
    * per-row update, bit-identical to the batch SQL register math. */
  private[graft] def registerUpdate(
      regs: Array[Int], value: String, b: Int): Unit = {
    val m = 1 << b
    val wBits = 60 - b
    val h = hash60(value)
    val bucket = (h % m).toInt
    val w = h / m
    val rank =
      if (w == 0) wBits + 1
      else wBits - (63 - java.lang.Long.numberOfLeadingZeros(w))
    if (rank > regs(bucket)) regs(bucket) = rank
  }

  /** (present registers, rounded estimate) from a register array — the
    * same raw-HLL + linear-counting arithmetic as the batch SQL (register
    * iteration order only perturbs the float sum below the 6-decimal
    * rounding, the contract everywhere in this family). */
  private[graft] def estimateOf(regs: Array[Int], b: Int): (Long, Double) = {
    val m = 1 << b
    val present = regs.count(_ > 0)
    val zp = regs.iterator.filter(_ > 0).map(r => 1.0 / (1L << r)).sum
    val alpha = 0.7213 / (1.0 + 1.079 / m.toDouble)
    val empty = (m - present).toDouble
    val raw = alpha * m.toDouble * m.toDouble / (zp + empty)
    val est =
      if (raw <= 2.5 * m && empty > 0) m.toDouble * math.log(m.toDouble / empty)
      else raw
    (present.toLong,
      BigDecimal(est).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }
}
