package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Event-stream shaping operators — sessionization and semi-structured
  * property extraction over the `events` table (north-star extensions,
  * SURVEY §7.2 M6). Interaction logs are a first-class training-data
  * source (behavioral sequences, RLHF traces); turning a raw event log
  * into per-user sessions is the standard first step.
  *
  * Timestamps are normalized to microsecond longs at the scan boundary by
  * [[tsMicros]] — adapting to whatever physical encoding the parquet
  * writer chose — so gap arithmetic downstream is exact integer math in
  * any engine.
  */
object Events {

  /** Normalize an event-time column to microseconds-since-epoch (LongType),
    * adapting to the physical encoding the scan produced. External tables
    * carry whatever encoding their writer chose — parquet TIMESTAMP(NANOS)
    * surfaces as a nanosecond `LongType` under
    * `spark.sql.legacy.parquet.nanosAsLong`, TIMESTAMP(MICROS)
    * isAdjustedToUTC=0 as `TimestampNTZType`, adjusted-to-UTC as
    * `TimestampType` — and an engine must adapt to the scanned schema, not
    * assume one encoding. The reference never assumes a value encoding
    * either: `database.Row` takes whatever the driver hands it
    * (klepto `pkg/database/database.go:4-6`) and the dumper adapts per
    * runtime type (`pkg/dumper/query/dumper.go:138-163`).
    *
    * The NTZ→TZ cast is identity under the engine's pinned
    * `spark.sql.session.timeZone=UTC`, so both branches yield the same
    * micros for the same instant; downstream operators and the DuckDB
    * oracles (`epoch_us(ts)`) agree on either encoding. Pure column
    * arithmetic — stays inside whole-stage codegen, never blocks pushdown
    * of sibling predicates. */
  def tsMicros(df: DataFrame, tsCol: String = "ts"): DataFrame =
    df.schema(tsCol).dataType match {
      case LongType => // nanos-as-long legacy scan: integer truncate
        df.withColumn(tsCol, expr(s"$tsCol DIV 1000"))
      case TimestampNTZType | TimestampType =>
        df.withColumn(tsCol, unix_micros(col(tsCol).cast(TimestampType)))
      case other => throw new IllegalArgumentException(
        s"column '$tsCol' has unsupported event-time type $other " +
          "(expected LongType nanos, TIMESTAMP, or TIMESTAMP_NTZ)")
    }

  /** E1 — sessionization: split each user's event stream into sessions
    * wherever the gap to the previous event exceeds `gap` (expressed in
    * the `ts` column's own time unit), then aggregate one row per session.
    * Ties in `ts` break on `event_id`, so session assignment is
    * total-order deterministic.
    *
    * Scale shape: ONE shuffle (hash by user_id) serves both the window
    * (lag + running sum over the in-partition sort) and the session
    * aggregation — the groupBy reuses the window's partitioning, so no
    * second exchange. Per-user state never leaves its partition; skewed
    * power users are bounded by their own event count, not corpus size. */
  def sessionize(events: DataFrame, gap: Long): DataFrame = {
    require(gap > 0, "gap must be positive")
    val order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val run = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag(col("ts"), 1).over(order)
    events
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("is_new",
        when(prev.isNull || col("ts") - prev > gap, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("is_new")).over(run))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("start_ts"),
        max(col("ts")).as("end_ts"))
  }

  /** E6 — event-transition matrix: per-user consecutive event-type pairs,
    * counted corpus-wide — the behavior-sequence statistic a
    * sequence-modeling pipeline audits before training on interaction
    * logs (which transitions exist, which dominate, whether the logger
    * drops steps). Consecutiveness is per USER in the total order
    * (ts, event_id) — the same deterministic ordering contract as
    * [[sessionize]]; each user with n events contributes exactly n−1
    * transitions.
    *
    * Scale shape: ONE shuffle (hash by user_id) + the in-partition sort
    * feeds the `lead` window; the rollup shuffles (from, to)-cardinality
    * partials only — #event-types², not events. Output:
    * (from_type, to_type, n_transitions, n_users); order unspecified. */
  def transitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tsMicros(events)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .where(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_transitions"),
        count_distinct(col("user_id")).as("n_users"))
  }

  /** E7 — rolling event-time features: per event, this user's trailing
    * activity — `n_win` events and `val_win_centi` exact centi-value sum
    * over the RANGE frame [ts − windowMicros, ts] (event-TIME bounded,
    * not row-count bounded: a burst of 1,000 events in an hour and a
    * lone weekly event both get their true trailing-window context,
    * which a ROWS frame cannot give), plus `gap_us` since the user's
    * previous event in the (ts, event_id) total order. The standard
    * feature-engineering step in front of behavioral / recommendation
    * training — recency and intensity signals computed point-in-time
    * correctly (no future leakage: the frame ends at the current
    * instant).
    *
    * The RANGE frame includes ALL peers at the current `ts` (both
    * engines define RANGE by order-value, so same-instant peers are in
    * each other's frames — deterministic, unlike a ROWS frame under
    * ties); `gap_us` is 0 between same-ts events and NULL for a user's
    * first event. Values go through the suite's exact centi contract
    * (IEEE multiply + floor, replayable bit-for-bit); NULL values are
    * skipped by the sum, and an all-NULL window reports NULL honestly.
    *
    * Scale shape: ONE shuffle (hash by user_id) serves both windows —
    * the range frame's (ts) sort is a prefix of the lag's
    * (ts, event_id) sort, and the range frame itself is streaming
    * per-partition state (two pointers over the sorted run, O(1) memory
    * beyond the frame), so per-user cost is linear in that user's
    * events. No joins, no driver state; skew bounded by the busiest
    * user, exactly as [[sessionize]]. */
  def rollingFeatures(events: DataFrame, windowMicros: Long): DataFrame = {
    require(windowMicros > 0, "windowMicros must be positive")
    val range = Window.partitionBy("user_id").orderBy("ts")
      .rangeBetween(-windowMicros, 0)
    val order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tsMicros(events)
      .select(col("user_id"), col("event_id"), col("ts"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("__vc"))
      .withColumn("n_win", count(lit(1)).over(range))
      .withColumn("val_win_centi", sum(col("__vc")).over(range))
      .withColumn("gap_us", col("ts") - lag(col("ts"), 1).over(order))
      .drop("__vc")
  }

  /** E8 — per-user activity pivot: one row per user, one count column
    * per DECLARED event type plus an `n_other` bucket and `n_total` —
    * the wide feature matrix behavioral models train on, via Spark's
    * relational PIVOT surface. The type list is pinned by the CALLER,
    * deliberately: a data-driven pivot makes the output schema a
    * function of the data (new event type → new column → every
    * downstream consumer breaks), and costs an extra distinct-values
    * job; a declared list is schema-stable, replayable, and lets
    * unexpected types land observably in `n_other` instead of silently
    * widening the table.
    *
    * Scale shape: undeclared types collapse to the `__other` tag
    * BEFORE aggregation, so pivot cardinality is bounded by the
    * declared list, not the data. Catalyst rewrites literal-values
    * pivot into (user, type) partial counts then a user-keyed
    * PivotFirst — the first exchange carries users × (|types|+1)
    * partials with map-side combine, the second users only. Output is
    * user-cardinality; absent cells release as 0, not NULL. */
  def typePivot(events: DataFrame, types: Seq[String]): DataFrame = {
    require(types.nonEmpty, "declare at least one event type")
    require(types.distinct == types, "duplicate declared types")
    val other = "__other"
    require(!types.contains(other), s"'$other' is reserved")
    val tagged = events.select(col("user_id"),
      when(col("event_type").isin(types.map(lit): _*), col("event_type"))
        .otherwise(lit(other)).as("t"))
    val pivoted = tagged.groupBy(col("user_id"))
      .pivot("t", types :+ other)
      .agg(count(lit(1)))
    val counts = (types :+ other).map(t =>
      coalesce(col(s"`$t`"), lit(0L)).as(if (t == other) "n_other"
        else s"n_$t"))
    val total = (types :+ other)
      .map(t => coalesce(col(s"`$t`"), lit(0L)))
      .reduce(_ + _).as("n_total")
    pivoted.select(col("user_id") +: counts :+ total: _*)
  }

  /** E3 — as-of join: attach to each left row the most recent right row at
    * or before it in event time, per key — the standard attribution /
    * point-in-time-correctness join (each purchase ← the user's latest
    * preceding click; each trade ← the prevailing quote). Spark has no
    * native ASOF JOIN (DuckDB/kdb/pandas do), and the naive formulations
    * are quadratic (a θ-join on `r.ts <= l.ts` explodes into a
    * nested-loop/range join; a per-left-row subquery rescans the right
    * side). This is the scalable reformulation: union both sides, ONE
    * window over (key, time) carries the latest right payload forward,
    * filter back to left rows.
    *
    * Match semantics are strict-past in the total order (tsCol, tieCol):
    * a right row matches iff (r.ts, r.tie) < (l.ts, l.tie)
    * lexicographically — deterministic under timestamp ties, provided
    * (tsCol, tieCol) is unique across the union (e.g. both sides drawn
    * from one event log with unique event ids). Left rows with no
    * preceding right row keep null matches (left-outer semantics).
    *
    * Scale shape: ONE shuffle (hash by `keyCol`) + the in-partition sort
    * for the window — identical cost to a groupBy over the union, NOT a
    * pairwise join. Per-key work is linear in that key's event count, so
    * skew is bounded by the busiest key, and the carried state is one
    * payload struct per row. Would hold at 100× — the union never
    * materializes pairs.
    *
    * Output: every `left` column, plus each `payloadCols` column from the
    * matched right row as `asof_<name>`. */
  def asOfJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String = "user_id",
      tsCol: String = "ts",
      tieCol: String = "event_id",
      payloadCols: Seq[String] = Seq("event_id", "ts")): DataFrame = {
    require(payloadCols.nonEmpty, "payloadCols must be non-empty")
    require(payloadCols.forall(right.columns.contains),
      s"payloadCols ${payloadCols.filterNot(right.columns.contains)} " +
        "missing from the right side")
    require(!left.columns.exists(_.startsWith("_asof")),
      "left columns must not start with _asof (reserved)")
    val orderCols = Seq(keyCol, tsCol, tieCol)
    val rTagged = right.select(
      orderCols.map(col) :+
        struct(payloadCols.map(col): _*).as("_asof_p"): _*)
    // left keeps every column; right-side rows null-fill them (typed)
    val lExtras = left.columns.filterNot(orderCols.contains).toSeq
    val lTagged = left
      .withColumn("_asof_p",
        lit(null).cast(rTagged.schema("_asof_p").dataType))
      .withColumn("_asof_is_left", lit(1))
    val rAligned = lExtras.foldLeft(rTagged) { (df, c) =>
        df.withColumn(c, lit(null).cast(left.schema(c).dataType))
      }.withColumn("_asof_is_left", lit(0))
    val w = Window.partitionBy(keyCol).orderBy(tsCol, tieCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // on a left row the current row's payload is null, so ignoreNulls-last
    // lands on the latest right row strictly earlier in the total order
    lTagged.unionByName(rAligned)
      .withColumn("_asof_m", last(col("_asof_p"), ignoreNulls = true).over(w))
      .where(col("_asof_is_left") === 1)
      .select(left.columns.map(col) ++
        payloadCols.map(c => col(s"_asof_m.$c").as(s"asof_$c")): _*)
  }

  /** E2 — semi-structured property extraction + per-type rollup: pull a
    * numeric field out of the JSON `props` column (codegen'd
    * get_json_object — no UDF, no full JSON parse into a typed struct) and
    * aggregate per event type. Aggregates are exact-integer (count/sum of
    * longs) or selection (min/max), never float accumulation, so results
    * are independent of partitioning and addition order.
    *
    * Scale shape: map-side partial aggregation into a single shuffle of
    * (event_type, partials) — cardinality = #event types, not #events. */
  def enrichProps(events: DataFrame, jsonField: String = "k"): DataFrame =
    events
      .select(col("event_type"), col("value"),
        get_json_object(col("props"), s"$$.$jsonField").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))

  /** E5 — retention cohorts: users are cohorted by the time bucket of
    * their FIRST activity, and each (cohort, bucket-offset) cell counts
    * the distinct cohort members still active that many buckets later —
    * the classic retention triangle, in exact integer arithmetic only
    * (bucket = micros DIV `bucketMicros`; rates are the consumer's
    * division, kept out of the engine so the oracle mirrors exactly).
    *
    * Scale shape: ONE user-keyed aggregation collects each user's set of
    * active buckets and its first-seen min(); exploding the set yields
    * every distinct (user, bucket) pair exactly once beside its cohort,
    * so the (cohort, offset) rollup is a plain count that shuffles
    * cohort-cardinality partials only. No join: the pair table is read
    * once, and the plan has no join strategy for adaptive execution to
    * re-decide from run to run. A power user contributes one set of
    * active buckets, never an event list. */
  def retentionCohorts(
      events: DataFrame,
      bucketMicros: Long = 7L * 24 * 3600 * 1000000L): DataFrame = {
    require(bucketMicros > 0, "bucketMicros must be positive")
    tsMicros(events)
      .select(col("user_id"),
        expr(s"ts DIV ${bucketMicros}L").as("bucket"))
      .where(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      // the struct keeps a NULL bucket (NULL ts) in the set as the one
      // distinct pair it is; min() skips it, as the cohort must
      .agg(min(col("bucket")).as("cohort"),
        collect_set(struct(col("bucket"))).as("buckets"))
      .select(col("cohort"), explode(col("buckets.bucket")).as("bucket"))
      .groupBy(col("cohort"), (col("bucket") - col("cohort")).as("week_offset"))
      .agg(count(lit(1)).as("active_users"))
  }

  /** E4 — ordered funnel analysis: for each user, how far did they get
    * through the `stages` sequence, where each stage must occur STRICTLY
    * AFTER the previous stage's completion time? Stage 1's time is the
    * user's first `stages(0)` event; stage i+1's time is the first
    * `stages(i)` event strictly after stage i's time. The strict-after
    * rule makes same-timestamp events non-qualifying — unambiguous,
    * engine-portable semantics with no tie-break subtleties.
    *
    * Input: raw events (any supported ts encoding — [[tsMicros]] absorbs
    * it). Output: one row per user that emitted ANY of the funnel's
    * event types — (user_id, reached, t1..tn micros, nullable past the
    * reached stage); order unspecified.
    *
    * Scale shape: one user-keyed aggregation PER STAGE, each over an
    * event-type-FILTERED scan (the type predicate pushes to parquet, so
    * stage k reads only its own event type); the per-stage frames are
    * user-cardinality and join co-keyed on user_id (AQE broadcasts them
    * while small). No sort of the event stream, no per-user buffering —
    * unlike a sorted-fold formulation, a power user costs min() partials,
    * not an in-memory event list. */
  def funnel(
      events: DataFrame,
      stages: Seq[String] = Seq("view", "click", "purchase"),
      horizonMicros: Option[Long] = None): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    require(horizonMicros.forall(_ > 0), "horizonMicros must be positive")
    val ev0 = tsMicros(events).select(
      col("user_id"), col("event_type"), col("ts").as("tu"))
      .where(col("event_type").isin(stages: _*))
    // windowed variant (the streaming twin's finalizable contract): only
    // events within [anchor, anchor + W] participate, where the anchor is
    // the user's FIRST funnel-stage event of any type — so the window is
    // decided by data the watermark has passed, never by future arrivals
    val ev = horizonMicros match {
      case None => ev0
      case Some(w) =>
        val anchors = ev0.groupBy(col("user_id")).agg(min(col("tu")).as("a0"))
        ev0.join(anchors, Seq("user_id"))
          .where(col("tu") <= col("a0") + lit(w))
          .drop("a0")
    }
    val users = ev.select(col("user_id")).distinct()
    val s1 = ev.where(col("event_type") === stages.head)
      .groupBy(col("user_id")).agg(min(col("tu")).as("t1"))
    val stageFrames = stages.zipWithIndex.drop(1)
      .foldLeft(Seq(s1)) { case (acc, (stage, i)) =>
        val prev = acc.last
        acc :+ ev.where(col("event_type") === stage)
          .join(prev, Seq("user_id"))
          .where(col("tu") > col(s"t$i"))
          .groupBy(col("user_id")).agg(min(col("tu")).as(s"t${i + 1}"))
      }
    val joined = stageFrames.foldLeft(users) { (acc, f) =>
      acc.join(f, Seq("user_id"), "left")
    }
    // fold builds outermost-last, so the DEEPEST reached stage wins
    val reached = stages.indices.foldLeft(lit(0)) { (rest, i) =>
      when(col(s"t${i + 1}").isNotNull, lit(i + 1)).otherwise(rest)
    }
    joined
      .select((col("user_id") +: reached.as("reached") +:
        stages.indices.map(i => col(s"t${i + 1}"))): _*)
  }
}
