package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Shared._

/** Sessionization, as-of, funnels, retention, transitions. */
private[graft] object Events extends Family("events") {

  /** NS25 — sessionization: per-user event sessions split on >8h gaps
    * (the synthetic log's median inter-event gap is ~7.7h, so the split is
    * non-trivial both ways). One shuffle by user_id serves the windows AND
    * the session rollup. Timestamps are normalized to micros BEFORE the
    * gap math via the schema-adaptive [[graft.ops.Events.tsMicros]]
    * (DuckDB's `epoch_us(ts)` oracle agrees on any physical encoding). */
  private def ns25(s: SparkSession, dir: String): DataFrame =
    graft.ops.Events.sessionize(
        graft.ops.Events.tsMicros(Tables.load(s, dir, "events")),
        gap = 28800L * 1000000L)

  /** NS27 — semi-structured property rollup: a numeric field extracted
    * from the JSON props column (codegen'd get_json_object) aggregated per
    * event type with exact-integer / selection aggregates only. */
  private def ns27(s: SparkSession, dir: String): DataFrame =
    graft.ops.Events.enrichProps(Tables.load(s, dir, "events"))

  /** NS28 — as-of join: each purchase attributed to the user's most recent
    * strictly-preceding click (left-outer: purchases with no prior click
    * keep nulls), plus the attribution gap. ONE shuffle on user_id — the
    * union+window reformulation, never a pairwise range join. Timestamps
    * normalized to micros as in ns25 (schema-adaptive) so both engines do
    * identical integer time math. */
  private def ns28(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.ops.Events.tsMicros(Tables.load(s, dir, "events"))
    graft.ops.Events.asOfJoin(
        ev.where(col("event_type") === "purchase")
          .select("user_id", "ts", "event_id", "value"),
        ev.where(col("event_type") === "click")
          .select("user_id", "ts", "event_id"))
      .withColumn("gap_us", col("ts") - col("asof_ts"))
  }

  /** NS74 — ordered funnel analysis over the event log: per user, the
    * furthest stage reached through view -> click -> purchase, each stage
    * strictly after the previous one's completion
    * ([[graft.ops.Events.funnel]]). Per-stage type predicates push to the
    * scan; per-stage frames are user-cardinality and join co-keyed. */
  private def ns74(s: SparkSession, dir: String): DataFrame =
    graft.ops.Events.funnel(Tables.load(s, dir, "events"))

  /** NS75 — retention cohorts over the event log: users cohorted by
    * first-active week, each (cohort, offset) cell counting distinct
    * members still active ([[graft.ops.Events.retentionCohorts]]).
    * Integer-only bucket arithmetic; one reused user-keyed partitioning. */
  private def ns75(s: SparkSession, dir: String): DataFrame =
    graft.ops.Events.retentionCohorts(Tables.load(s, dir, "events"))

  /** NS110 — thread linearization ([[graft.ops.Graphs
    * .linearizePaths]]): a synthetic 3-ary reply forest over the
    * documents table (`parent = (doc_id − 1) DIV 3`, doc 0 the root)
    * flattened to per-node (root_id, depth, root-to-node path) by
    * pointer DOUBLING — ⌈log₂ depth⌉ + 1 equi-join rounds where the
    * oracle's WITH RECURSIVE walks one level per iteration; the
    * distributed-vs-SQL algorithm contrast is the point, the hash gate
    * proves they agree including the assembled path STRINGS. */
  private def ns110(s: SparkSession, dir: String): DataFrame = {
    val nodes = docs(s, dir).select(col("doc_id"),
      when(col("doc_id") === 0, lit(null).cast("long"))
        .otherwise(expr("(doc_id - 1) DIV 3")).as("parent"))
    graft.ops.Graphs.linearizePaths(nodes, "doc_id", "parent")
  }

  /** NS119 — rolling event-time features ([[graft.ops.Events
    * .rollingFeatures]]): per event, the user's trailing-7-day activity
    * (event count + exact centi-value sum over the event-time RANGE
    * frame) and the gap to the previous event — point-in-time-correct
    * recency/intensity features for behavioral training, with no
    * future leakage by frame construction. One user-keyed exchange
    * serves the range window and the lag window. */
  private def ns119(s: SparkSession, dir: String): DataFrame =
    graft.ops.Events.rollingFeatures(
        Tables.load(s, dir, "events"), windowMicros = 7L * 86400L * 1000000L)

  /** NS79 — event-transition matrix ([[graft.ops.Events.transitions]]):
    * per-user consecutive event-type pairs counted corpus-wide, in the
    * (ts, event_id) total order — the behavior-sequence audit before
    * training on interaction logs. One user-keyed shuffle feeds the lead
    * window; the rollup is type²-cardinality. */
  private def ns79(s: SparkSession, dir: String): DataFrame =
    graft.ops.Events.transitions(Tables.load(s, dir, "events"))

  val queries: Seq[Query] = Seq(
    // epoch_us(ts) yields micros for any parquet timestamp encoding, and the
    // Spark side normalizes to micros via the schema-adaptive
    // Events.tsMicros, so both engines run identical integer gap arithmetic.
    query("ns25_sessionize", ns25)(
      ("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts FROM events),
         |l AS (SELECT user_id, event_id, ts,
         |  CASE WHEN lag(ts) OVER w IS NULL OR ts - lag(ts) OVER w > 28800000000 THEN 1 ELSE 0 END AS is_new
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |s AS (SELECT user_id, ts, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_idx FROM l)
         |SELECT user_id, session_idx::BIGINT AS session_idx, count(*) AS n_events,
         |  min(ts) AS start_ts, max(ts) AS end_ts
         |FROM s GROUP BY user_id, session_idx ORDER BY user_id, session_idx""".stripMargin)),
    query("ns27_events_enrich", ns27)(
      ("""SELECT event_type, count(*) AS n_events,
         |  sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS sum_k,
         |  min(value) AS min_value, max(value) AS max_value
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // ns28 mirrors the union+window as-of reformulation directly: DuckDB's
    // IGNORE NULLS last_value over the same (ts, event_id) total order
    // reproduces the strict-past match, including the null (no prior
    // click) attributions.
    query("ns28_events_asof", ns28)(
      ("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts, event_type, value FROM events WHERE event_type IN ('click', 'purchase')),
         |w AS (SELECT user_id, event_id, ts, event_type, value,
         |  last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS) OVER win AS asof_event_id,
         |  last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS) OVER win AS asof_ts
         |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING))
         |SELECT user_id, ts, event_id, value, asof_event_id, asof_ts, ts - asof_ts AS gap_us
         |FROM w WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin)),
    // ns74 replays the strict-after conditional-min chain per stage.
    query("ns74_events_funnel", ns74)(
      ("""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tu FROM events),
         |users AS (SELECT DISTINCT user_id FROM ev
         |  WHERE event_type IN ('view', 'click', 'purchase')),
         |s1 AS (SELECT user_id, min(tu) AS t1 FROM ev
         |  WHERE event_type = 'view' GROUP BY user_id),
         |s2 AS (SELECT e.user_id, min(e.tu) AS t2 FROM ev e
         |  JOIN s1 ON e.user_id = s1.user_id
         |  WHERE e.event_type = 'click' AND e.tu > s1.t1 GROUP BY e.user_id),
         |s3 AS (SELECT e.user_id, min(e.tu) AS t3 FROM ev e
         |  JOIN s2 ON e.user_id = s2.user_id
         |  WHERE e.event_type = 'purchase' AND e.tu > s2.t2 GROUP BY e.user_id)
         |SELECT u.user_id,
         |  CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
         |       WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS reached,
         |  t1, t2, t3
         |FROM users u LEFT JOIN s1 USING (user_id)
         |  LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
         |ORDER BY user_id""".stripMargin)),
    // ns75 replays the integer bucket/cohort arithmetic.
    query("ns75_events_retention", ns75)(
      ("""WITH pairs AS (SELECT DISTINCT user_id,
         |  epoch_us(ts) // 604800000000 AS bucket FROM events),
         |fs AS (SELECT user_id, min(bucket) AS cohort FROM pairs GROUP BY user_id)
         |SELECT fs.cohort, p.bucket - fs.cohort AS week_offset,
         |  count(DISTINCT p.user_id) AS active_users
         |FROM pairs p JOIN fs USING (user_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // ns79 replays the per-user lead window and the type-pair rollup.
    query("ns79_event_transitions", ns79)(
      ("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts,
         |  event_type FROM events),
         |t AS (SELECT user_id, event_type AS from_type,
         |  lead(event_type) OVER (PARTITION BY user_id
         |    ORDER BY ts, event_id) AS to_type FROM e)
         |SELECT from_type, to_type, count(*) AS n_transitions,
         |  count(DISTINCT user_id) AS n_users
         |FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2
         |ORDER BY n_transitions DESC, from_type, to_type""".stripMargin)),
    // ns110: the oracle's recursion walks ONE level per iteration —
    // the engine's path doubling must agree on every assembled path.
    query("ns110_thread_paths", ns110)(
      ("""WITH RECURSIVE d AS (SELECT doc_id,
         |    CASE WHEN doc_id = 0 THEN NULL ELSE (doc_id - 1) // 3 END AS parent FROM documents),
         |t AS (
         |  SELECT doc_id, doc_id AS root_id, 0::BIGINT AS depth, doc_id::VARCHAR AS path
         |  FROM d WHERE parent IS NULL
         |  UNION ALL
         |  SELECT d.doc_id, t.root_id, t.depth + 1, t.path || '/' || d.doc_id
         |  FROM d JOIN t ON d.parent = t.doc_id)
         |SELECT doc_id, root_id, depth, path FROM t ORDER BY doc_id""".stripMargin)),
    // ns119: both engines define the RANGE frame by order VALUE (all
    // same-ts peers in each other's frames), the centi contract is the
    // shared IEEE multiply+floor, and the window sum's HUGEINT casts
    // ::BIGINT (the ns71 lesson). gap via the (ts, event_id) lag.
    query("ns119_rolling_features", ns119)(
      ("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts,
         |    CAST(floor(value * 100) AS BIGINT) AS vc FROM events)
         |SELECT user_id, event_id, ts,
         |  count(*) OVER w AS n_win,
         |  (sum(vc) OVER w)::BIGINT AS val_win_centi,
         |  ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
         |FROM e
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts
         |  RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
         |ORDER BY user_id, ts, event_id""".stripMargin)),
  )
}
