package graft

import graft.queries.Registry

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line per flush — the LAST line
  * printed is always the most complete record.
  *
  * Methodology (BASELINE.md): COLD-FIRST timed rounds (VERDICT r14 #1).
  * There is no separate untimed warmup pass any more: round 1 is timed
  * and pays the JVM/codegen/footer-cache warmup; per-query medians are
  * taken over the WARM samples only (the cold sample is dropped as soon
  * as a second round exists), which reproduces the old
  * warmup-then-median methodology exactly while guaranteeing that even
  * a window hot enough to fit only ONE pass in the budget still yields
  * a timed record (`stat:"median"`, `runs_completed >= 1`) instead of
  * r14's `stat:"warmup", runs_completed: 0`. The cold sample still
  * contributes to `queries_min` — it is a physically-achieved
  * execution. Queries are fully materialized through the `noop` sink —
  * `count()` would let Catalyst prune projections (e.g. faker columns)
  * and under-report.
  *
  * Honest labeling below 2 rounds (VERDICT r14 #2): with fewer than two
  * completed rounds the only samples are cold (and the r14 record
  * proved warmup-shaped stats have no gate validity — the same tree
  * read 0.58 and 2.202 on two warmup lines), so `ratio`/`ratio_norm`
  * emit JSON null, `over_2x`/`ratios` emit empty, and readers must use
  * the archive's raw times plus `runs_completed` to know what they are
  * looking at. `control` stays (it is a window thermometer, not a code
  * gate).
  *
  * Storm robustness (VERDICT r15 #1): the r15 official record's warm
  * round crossed a mid-run contention storm — medians 4.85x the same
  * run's minima — and the single scalar control (3.1x) under-corrected,
  * publishing ratio_norm 3.75 on a tree whose gated archives read
  * 1.04–1.15. Two structural fixes, both in [[roundControls]]/`flush`:
  * (a) every gate statistic is computed from samples normalized by their
  * OWN round's control (the anchors run inside every round, so a round's
  * hotness is measured, not assumed uniform across the run); (b) the
  * record self-diagnoses — `spread` = residual med-vs-min ratio AFTER
  * normalization, `gate_valid:false` when it exceeds 2x (intra-round
  * bursts the anchors could not see), and min-based fallback stats
  * (`ratio_min`, `over_2x_min`) are always emitted so even a
  * storm-invalidated record carries a gate-readable floor.
  *
  * Noise discipline (this host's same-plan spread is 3–5× under load —
  * BASELINE.md brackets): the timed repetitions are INTERLEAVED — round 1
  * runs every query once, then round 2, then round 3, with the visit order
  * reversed on alternate rounds. Back-to-back repetition concentrates one
  * noisy window on one query's whole column; interleaving spreads it
  * across one round of many queries, so the per-query median survives.
  * The emitted JSON also self-describes run quality: `loadavg` (1-min
  * system load sampled at start and end), `steal_run` (cumulative
  * hypervisor-steal share over the timed block) and per-query
  * `queries_min` (the min over rounds — a cleaner point estimate under
  * asymmetric noise, since contention only ever ADDS time). A regression
  * call should first check loadavg/steal and min-vs-median spread before
  * blaming the code.
  *
  * Crash/timeout discipline (VERDICT r13 #1, r14 #1): (a) total wall
  * budget (SPARK_GRAFT_BENCH_BUDGET_SEC, default 1200 s) measured from
  * the END of the quiet-window gate (ADVICE r14 #3: the gate is host
  * wait, not bench work — a raised SPARK_GRAFT_BENCH_LOAD_ATTEMPTS must
  * not eat the round budget; the gate's own wall cost is reported as
  * `gate_sec`), dropping rounds that would not fit instead of being
  * killed mid-suite; round-2 projection applies the ~10% JIT discount
  * to the cold pass it projects from, later rounds project from the
  * previous WARM pass unscaled (ADVICE r14 #3); (b) the gate caps at 4
  * attempts by default; (c) a complete, valid compact JSON line is
  * archived AND printed after every ~40 queries of round 1
  * (`stat:"partial"` — without a warmup flush, a kill inside round 1
  * would otherwise leave nothing) and after EVERY completed round
  * (`runs_completed` counts completed rounds INCLUDING the cold one;
  * `final` marks the last line); (d) Spark log level ERROR so WARN spam
  * cannot push that line out of the driver's ~2,000-byte tail capture;
  * (e) a gate-exhausted (hot) host sheds the requested warm rounds to
  * <= 2 up front.
  */
object Bench {

  /** The 27 queries with per-query cells recorded in BASELINE.md's round-1
    * table (k1-k14 + ns1-ns13). These — and only these — keep individual
    * times in the compact stdout line, because the judge's "within 2× of
    * BASELINE at the same SF" gate needs them readable straight from the
    * driver's tail capture. Everything else rolls up into family subtotals
    * there; full per-query detail (full names, full precision, medians AND
    * min-of-rounds) always lands in target/bench_latest.json. */
  private val BaselineSet: Set[String] =
    ((1 to 14).map(i => s"k$i") ++ (1 to 13).map(i => s"ns$i")).toSet
  private def inBaseline(name: String): Boolean =
    BaselineSet(Registry.byName(name).id)

  /** Window-variance control (BASELINE.md "Window-variance adjudication"):
    * host/VM throughput drifts uniformly between driver windows (r10 ran a
    * uniform ~1.28× hot vs r9 on code-untouched queries), so raw cross-round
    * totals mislead. Anchors below are quiet-window (loadavg ~0) sf0.1
    * medians of 5 interleaved runs on the r10-final tree for ten queries
    * whose code, plan, and inputs are frozen. Since r16 the anchors are
    * read PER ROUND ([[roundControls]]): each round's samples are
    * normalized by that round's own anchor median before any cross-round
    * statistic, and the emitted scalar `control` is the lower-median of
    * the warm rounds' controls (the full vector ships as `controls`).
    * Cross-round readers divide raw totals by `control` to
    * self-normalize instead of re-adjudicating.
    * Re-pin anchors ONLY if a control query's plan deliberately changes
    * (note it in BASELINE.md). `AnchorsSpec` pins tools/promote_cells.py's
    * mirror of this map against the source text (ADVICE r13 #3). */
  private[graft] val ControlAnchors: Map[String, Double] = Map(
    "k1_scan_project" -> 0.162,
    "k4_limit_pinned" -> 0.097,
    "k12_full_copy" -> 0.129,
    "ns1_dedup_exact" -> 0.206,
    "ns6_simsearch_topk" -> 0.381,
    "ns10_text_tokens" -> 0.356,
    "ns12_multimodal_features" -> 0.276,
    "ns36_text_normalize" -> 0.203,
    "ns44_distinct_hll" -> 0.281,
    "ns49_histogram" -> 0.208
  )

  /** LOWER-middle median over a SORTED sample vector: identical to the
    * classic index for odd counts (3→[1], 5→[2]); for the even counts a
    * budget-shed run leaves (2, 4), the lower middle — contention only
    * ever ADDS time, so under asymmetric noise the lower sample is the
    * better point estimate (upper-middle turned a 2-sample median into
    * max-of-2, overstating every query on exactly the hot runs that get
    * shed). Pinned by BenchStatSpec. */
  private[graft] def lowerMedian(sorted: Vector[Double]): Double =
    sorted((sorted.length - 1) / 2)

  /** Per-query (median, min) from the round-ordered sample vector under
    * the cold-first design: index 0 is the cold round-1 sample; as soon
    * as warm samples exist the median is taken over them alone (the old
    * untimed-warmup methodology, reproduced — e.g. cold+3 warm gives
    * exactly the classic median of the 3 warm samples), while the min
    * ranges over ALL valid samples. A NaN in a WARM round means the
    * query failed in steady state → (-1, -1), the timed_failed marker;
    * a NaN cold sample alone leaves the warm stats intact (the failure
    * is reported via the warmup_failed list — the cold round IS the
    * warmup-equivalent). Pinned by BenchStatSpec. */
  private[graft] def coldFirstStats(ts: Vector[Double]): (Double, Double) = {
    val warm = if (ts.size >= 2) ts.drop(1) else ts
    if (warm.isEmpty || warm.exists(_.isNaN)) (-1.0, -1.0)
    else {
      val valid = ts.filterNot(_.isNaN)
      (lowerMedian(warm.sorted), valid.min)
    }
  }

  /** Per-ROUND window controls (VERDICT r15 #1): for round r, the median
    * over the control anchors of (that anchor's round-r time / its quiet
    * anchor value). The r15 record proved a single SCALAR control cannot
    * describe a run whose windows drift mid-run: its warm round crossed a
    * contention storm (per-query medians 4.85× the same run's minima)
    * while the scalar control read only 3.1× — so the published gate
    * stats described the hypervisor's minute, not the tree. A per-round
    * control normalizes each round's samples by THAT round's measured
    * hotness before any median is taken: a storm inflates a round's
    * anchors and its other queries together, and the division cancels it.
    * None for rounds where fewer than 5 anchors have a valid sample
    * (subset runs, partial round-1 flushes) — those rounds normalize by
    * 1.0, i.e. stay raw. Pinned by BenchStatSpec. */
  private[graft] def roundControls(
      times: String => Vector[Double], rounds: Int): Vector[Option[Double]] =
    Vector.tabulate(rounds) { r =>
      val ratios = ControlAnchors.toSeq.flatMap { case (n, anchor) =>
        times(n).lift(r).filterNot(_.isNaN).map(_ / anchor)
      }.sorted
      if (ratios.size < 5) None
      else Some(math.round(ratios(ratios.size / 2) * 1000) / 1000.0)
    }

  /** Divide each round-ordered sample by its own round's control (1.0
    * where the round has none). NaN failure markers pass through. */
  private[graft] def normalizeByRound(
      ts: Vector[Double], ctrls: Vector[Option[Double]]): Vector[Double] =
    ts.zipWithIndex.map { case (t, r) =>
      if (t.isNaN) t else t / ctrls.lift(r).flatten.getOrElse(1.0)
    }

  private def readStealCounters(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1)
        .map(_.toLong) finally src.close()
      Some((f.lift(7).getOrElse(0L), f.sum))
    } catch { case _: Throwable => None }

  /** Hypervisor-steal probe — the contention loadavg CANNOT see. This
    * host's 2x-slow windows (r13, measured: anchors at 1.4-4.1x with
    * loadavg 0.7 at start) come from vCPU steal: our threads are
    * runnable but the hypervisor schedules a co-tenant. Steal only
    * registers while WE demand CPU, so an idle read is always ~0 — the
    * probe spins every core for `ms` and reads the /proc/stat steal
    * delta over the window. Non-Linux or unreadable /proc: probe
    * reports 0 and the gate degrades to loadavg-only.
    *
    * Footprint (VERDICT r13 #4): callers probe 1000 ms once for the
    * first reading, then 250 ms on retries — and only AFTER the loadavg
    * check passes for that attempt (ADVICE r13 #1: probing first meant
    * the probe's own spin inflated the 1-min loadavg the next attempt
    * compared against, so a cooled host could stay falsely gated). */
  private def stealPct(ms: Long): Double =
    readStealCounters().flatMap { case (s0, t0) =>
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val spinners = (1 to Runtime.getRuntime.availableProcessors())
        .map { _ =>
          val t = new Thread(() => {
            var x = 0L
            while (!stop.get()) x += 1
            if (x == Long.MinValue) println(x) // defeat dead-code elim
          })
          t.setDaemon(true); t.start(); t
        }
      Thread.sleep(ms)
      stop.set(true)
      spinners.foreach(_.join(100))
      readStealCounters().map { case (s1, t1) =>
        if (t1 > t0) math.round(1000.0 * (s1 - s0) / (t1 - t0)) / 10.0
        else 0.0
      }
    }.getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val tProc = System.nanoTime()
    // SPARK_GRAFT_BENCH_ONLY=ns5,ns2_dedup_minhash (ids or full names)
    // isolates queries; an unknown one fails here, before any Spark work.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val names = Registry.select(only).map(_.name)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // requested WARM rounds; the cold round-1 pass is always added on top,
    // so the default plan is 4 passes — the same wall cost as the old
    // warmup + 3 timed rounds, with one more usable sample
    val runsRequested = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    require(runsRequested >= 1,
      "SPARK_GRAFT_BENCH_RUNS must be >= 1 (a 0-run bench would do the " +
        "whole cold pass then die indexing an empty time vector)")
    // Total wall budget (VERDICT r13 #1a): the driver kills the bench at
    // its own timeout — so the bench budgets ITSELF and drops rounds that
    // will not fit, finishing cleanly with fewer samples instead of being
    // killed with none. 1200 s default: a quiet full suite is ~12 min
    // (r12: 747 s wall including sbt compile), so the default absorbs a
    // ~1.6x-hot window before shedding rounds. The clock starts AFTER the
    // quiet-window gate (ADVICE r14 #3) — see `gate_sec` in the JSON.
    val budgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "1200").toDouble
    // Quiet-window gate (VERDICT r12 #7): gate HERE, before the session
    // does any work — once our own cold pass spins 32 threads the 1-min
    // loadavg reflects us, not the host, and the reading is useless.
    // Bounded retries (r13 #1a: 4 × 30 s ≈ 2 min cap, was 20 × 30 s) so a
    // busy host degrades to a recorded `exhausted` note in the JSON
    // instead of eating the driver's whole timeout before any work.
    val maxLoad = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_LOAD", "2.0").toDouble
    val maxGateAttempts =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_LOAD_ATTEMPTS", "4").toInt
    def loadavg: Double = {
      val l = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      math.round(l * 100) / 100.0
    }
    val maxSteal =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_STEAL", "10.0").toDouble
    // Gate loop: loadavg first (free to read), steal probe ONLY when the
    // loadavg leg passes — so the probe's own 32-core spin never inflates
    // the loadavg reading a later attempt is judged by (ADVICE r13 #1),
    // and a load-gated attempt costs zero self-load. First probe gets the
    // full 1000 ms window for a stable reading; retries reuse 250 ms
    // (VERDICT r13 #4: the old 20 × 1000 ms all-core spins were up to
    // 20 s of self-inflicted full-core load).
    var gateAttempts = 0
    var lastLoad = loadavg
    var probed = false
    def probeSteal(): Double = {
      val ms = if (probed) 250L else 1000L
      probed = true
      stealPct(ms)
    }
    var lastSteal = if (lastLoad < maxLoad) probeSteal() else -1.0
    while ((lastLoad >= maxLoad || lastSteal < 0 || lastSteal >= maxSteal) &&
        gateAttempts < maxGateAttempts) {
      gateAttempts += 1
      val stealTxt = if (lastSteal < 0) "skipped (load-gated)"
                     else f"$lastSteal%.1f%% (max $maxSteal%.1f%%)"
      System.err.println(f"[bench] loadavg $lastLoad%.2f (max $maxLoad%.1f)" +
        s" steal $stealTxt - waiting 30s " +
        s"(attempt $gateAttempts/$maxGateAttempts)")
      Thread.sleep(30000L)
      lastLoad = loadavg
      lastSteal = if (lastLoad < maxLoad) probeSteal() else -1.0
    }
    val gateExhausted = lastLoad >= maxLoad || lastSteal < 0 ||
      lastSteal >= maxSteal
    if (gateExhausted)
      System.err.println(s"[bench] load gate exhausted after " +
        s"$gateAttempts attempts - proceeding on a hot host; read the " +
        "emitted control/steal/loadavg before judging per-query times")
    // budget clock starts HERE (ADVICE r14 #3): the gate is waiting for
    // the HOST, not doing bench work — under pin_watch's 999-attempt
    // setting the old process-start clock could consume the whole budget
    // before any round. The gate's own wall cost stays visible (gate_sec).
    val tStart = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - tStart) / 1e9
    val gateSec = math.round((tStart - tProc) / 1e7) / 100.0
    // a hot host sheds requested warm rounds to <= 2 up front (r13 #1b):
    // fewer samples from a window whose times need control-normalization
    // anyway beats a driver kill that leaves none
    val warmTarget =
      if (gateExhausted) math.max(1, math.min(runsRequested, 2))
      else runsRequested
    val totalRounds = warmTarget + 1 // + the cold round-1 pass
    // steal: JSON null + steal_skipped marker when the probe never ran
    // because every attempt was load-gated (ADVICE r14 #4: the old -1.0
    // sentinel read as a measured ~0% next to max_steal)
    val stealJson = if (lastSteal < 0) """null,"steal_skipped":true"""
                    else s"$lastSteal"
    val loadGateJson =
      s"""{"max_load":$maxLoad,"max_steal":$maxSteal,""" +
        s""""attempts":$gateAttempts,"steal":$stealJson,""" +
        s""""exhausted":$gateExhausted}"""
    val spark = Harness.session("graft-bench")
    // ERROR, not WARN (VERDICT r13 #1c): the driver records only a ~2,000
    // byte tail of this process's combined output, and r13's tail was
    // 100% repeated Spark WARN lines (WindowExec/CacheManager/
    // localCheckpoint — all adjudicated benign in r13's verdict) that
    // pushed every useful byte out. The compact JSON lines MUST be the
    // last thing in that tail; diagnostics live in the archive file.
    spark.sparkContext.setLogLevel("ERROR")

    def execute(name: String): Double =
      Harness.measure(spark) {
        SparkEntry.queries(name)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
      }._2

    // 1-min system load sampled before and after the timed block (-1 where
    // the platform doesn't report one); loadStart is the post-gate,
    // pre-work reading, so it reflects the host, not us. `steal_run` is
    // the cumulative hypervisor-steal share across the whole run (our
    // load makes steal visible), the definitive answer to "was this
    // window hot" that loadavg cannot give.
    val stealT0 = readStealCounters()
    val loadStart = loadavg

    val times = collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)

    // times rounded to 3 decimals (ms precision): full-precision doubles
    // made the line ~6 KB for 90 queries, and the driver's tail capture
    // truncated BENCH_r07 mid-JSON (`parsed: null`); rounded it is ~2 KB
    def r3(d: Double): String = {
      val v = math.round(d * 1000) / 1000.0
      if (v == v.toLong) s"${v.toLong}.0" else v.toString
    }
    // the compact line's format: 10 ms resolution buys ~1 byte/query —
    // at 154 queries the 3-decimal line hit 1,891 B of the 1,900 B tail
    // budget; 2 decimals restores ~150 B of headroom. Full 3-decimal
    // precision still lands in target/bench_latest.json.
    def r2(d: Double): String = {
      val v = math.round(d * 100) / 100.0
      if (v == v.toLong) s"${v.toLong}.0" else v.toString
    }

    /** Archive the full-precision JSON and print the compact line for the
      * state after `completed` rounds (INCLUDING the cold first round).
      * Called every ~40 queries inside round 1 (`partial` = the names
      * attempted so far, stat:"partial" — a kill inside round 1 must
      * still leave parseable evidence) and after EVERY completed round,
      * so a kill at any point leaves the previous flush in both the
      * driver tail and target/bench_latest.json (VERDICT r13 #1c). Gate
      * aggregates (ratio/ratio_norm/ratio_min/ratios/over_2x*) emit only
      * with >= 2 completed rounds, i.e. >= 1 warm sample (VERDICT r14
      * #2: cold / warmup-shaped stats have no gate validity — r14's
      * official line read 2.202 where the same tree's gated archive read
      * 0.869); they are computed from round-normalized samples and
      * self-diagnose via gate_valid/spread (VERDICT r15 #1 — see the
      * object doc). */
    def flush(completed: Int, runsPlanned: Int, budgetStop: Boolean,
              isFinal: Boolean, partial: Option[Seq[String]] = None): Unit = {
      val active = partial.getOrElse(names)
      val stat = if (partial.isDefined) "partial" else "median"
      // gate stats exist only once a warm sample does (VERDICT r14 #2)
      val statsEligible = partial.isEmpty && completed >= 2
      val results: Seq[(String, (Double, Double))] =
        active.map(n => n -> coldFirstStats(times(n)))
      // per-ROUND controls + round-normalized stats (VERDICT r15 #1):
      // every gate aggregate below is computed from samples divided by
      // their OWN round's anchor-measured hotness, so a mid-run storm
      // cancels instead of landing whole in the medians. Controls are
      // only meaningful at the anchors' SF (sf0.1); elsewhere every
      // round's control is None and normalization is the identity.
      val atCellSf0 = new java.io.File(sfDir).getName == "sf0.1"
      val nRounds = if (active.isEmpty) 0 else active.map(times(_).size).max
      val ctrls: Vector[Option[Double]] =
        if (atCellSf0) roundControls(times(_), nRounds)
        else Vector.fill(nRounds)(None)
      val normStats: Map[String, (Double, Double)] =
        active.map(n =>
          n -> coldFirstStats(normalizeByRound(times(n), ctrls))).toMap
      // cold-round failures (the warmup-equivalent failure class): the
      // field keeps its historical name so promote_cells.py and archive
      // readers need no schema fork
      val coldFailed = active.filter(n => times(n).headOption.exists(_.isNaN))
      val loadEnd = loadavg
      val stealRunJson = (for ((s0, t0) <- stealT0;
          (s1, t1) <- readStealCounters() if t1 > t0)
        yield (math.round(1000.0 * (s1 - s0) / (t1 - t0)) / 10.0).toString)
        .getOrElse("null")
      // scalar window control (back-compat thermometer): the lower-median
      // of the WARM rounds' per-round controls (cold dropped once a warm
      // round exists — mirrors coldFirstStats). JSON null when no round
      // had enough anchors (subset runs, other SFs). The full per-round
      // vector is emitted as `controls` so archive readers can see the
      // in-run drift the scalar hides.
      val controlRatio: Option[Double] = {
        val defined = (if (ctrls.size >= 2) ctrls.drop(1) else ctrls).flatten
        if (defined.isEmpty) None
        else Some(lowerMedian(defined.sorted))
      }
      val controlJson = controlRatio.map(_.toString).getOrElse("null")
      val controlsJson = ctrls
        .map(_.map(_.toString).getOrElse("null")).mkString("[", ",", "]")
      // Gating-cell ratios (VERDICT r12 #2, reworked r16 per VERDICT r15
      // #1): every gate aggregate is computed from ROUND-NORMALIZED
      // samples — each sample divided by its own round's control before
      // the median — so a mid-run contention storm inflates a round's
      // anchors and its other queries together and cancels, instead of
      // landing whole in the published stats (the r15 record's medians
      // were 4.85x its minima while the scalar control read 3.1x).
      // Cells are sf0.1 quiet-equivalent medians, so (like `control`)
      // ratios emit only at sf0.1, and (VERDICT r14 #2) only once a warm
      // sample exists. Emitted surface:
      //   ratio       sum(raw medians)/sum(cells)   — transparency
      //   ratio_norm  sum(norm medians)/sum(cells)  — the gate aggregate
      //   ratio_min   sum(norm minima)/sum(cells)   — storm-immune floor
      //   ratios      raw per-query med/cell        — archive only
      //   ratios_norm normalized per-query med/cell — archive only
      //   over_2x     celled queries with norm med/cell > 2 (the gate)
      //   over_2x_min celled queries with norm MIN/cell > 2 — survives
      //               any storm: a query on neither list is noise, on
      //               both is a code regression
      //   spread      sum(norm med)/sum(norm min) — residual med-vs-min
      //               spread AFTER normalization; an anchors-visible
      //               storm cancels, so spread > 2 means intra-round
      //               bursts the anchors could not see
      //   gate_valid  stats exist AND spread <= 2 — when false, read
      //               ratio_min/over_2x_min, not the medians
      // `no_cell` = queries not yet promoted into the cells table.
      val atCellSf = atCellSf0
      val cells = BaselineCells.cells
      def r3d(d: Double): Double = math.round(d * 1000) / 1000.0
      val resultsMap = results.toMap
      val covered: Seq[(String, Double, Double, Double, Double)] =
        if (!atCellSf || !statsEligible) Nil
        else active.flatMap { k =>
          (cells.get(k), resultsMap.get(k), normStats.get(k)) match {
            case (Some(cell), Some((med, _)), Some((nmed, nmin)))
                if med > 0 && nmed > 0 =>
              Some((k, med, nmed, nmin, cell))
            case _ => None
          }
        }
      val ratios = covered.map { case (k, med, _, _, c) => k -> r3d(med / c) }
      val ratiosNorm =
        covered.map { case (k, _, nmed, _, c) => k -> r3d(nmed / c) }
      def aggOf(f: ((String, Double, Double, Double, Double)) => Double)
          : Option[Double] =
        if (covered.isEmpty) None
        else Some(r3d(covered.map(f).sum / covered.map(_._5).sum))
      val aggRatio = aggOf(_._2)
      val ratioNorm = aggOf(_._3)
      val ratioMin = aggOf(_._4)
      val over2x = ratiosNorm.filter(_._2 > 2.0).map(_._1).sorted
      val over2xMin = covered.collect {
        case (k, _, _, nmin, c) if nmin / c > 2.0 => k }.sorted
      val spread: Option[Double] = {
        val minsSum = covered.map(_._4).sum
        if (covered.isEmpty || minsSum <= 0) None
        else Some(r3d(covered.map(_._3).sum / minsSum))
      }
      val gateValid = covered.nonEmpty && spread.exists(_ <= 2.0)
      val noCell =
        if (!atCellSf) Nil
        else results.collect {
          case (k, (med, _)) if med >= 0 && !cells.contains(k) => k
        }
      val ratioJson = aggRatio.map(_.toString).getOrElse("null")
      val ratioNormJson = ratioNorm.map(_.toString).getOrElse("null")
      val ratioMinJson = ratioMin.map(_.toString).getOrElse("null")
      val spreadJson = spread.map(_.toString).getOrElse("null")
      // compact/degraded lines cap the list at 14 names (was 20; r16
      // added gate_valid/spread/ratio_min and the storm-line over_2x_min,
      // and a storm line carrying both lists must stay inside the 1,900 B
      // tail budget); the archive JSON always carries the full lists
      val over2xJson = {
        val shown = over2x.take(14).map(n => s""""$n"""")
        val tail = if (over2x.size > 14)
          Seq(s""""+${over2x.size - 14} more"""") else Nil
        (shown ++ tail).mkString("[", ",", "]")
      }
      val over2xFullJson =
        over2x.map(n => s""""$n"""").mkString("[", ",", "]")
      val over2xMinFullJson =
        over2xMin.map(n => s""""$n"""").mkString("[", ",", "]")
      // compact-line variant of over_2x_min: only on a storm line
      // (gate_valid false), capped at 10 — when the medians are invalid
      // this list IS the actionable evidence, so it must reach the
      // driver's tail; on a clean line the archive carries it
      val over2xMinCompactJson =
        if (gateValid || over2xMin.isEmpty) ""
        else {
          val shown = over2xMin.take(10).map(n => s""""$n"""")
          val tail = if (over2xMin.size > 10)
            Seq(s""""+${over2xMin.size - 10} more"""") else Nil
          s""""over_2x_min":${(shown ++ tail).mkString("[", ",", "]")},"""
        }
      val ratiosJson = ratios
        .map { case (k, r) => s""""$k":$r""" }.mkString("{", ",", "}")
      val ratiosNormJson = ratiosNorm
        .map { case (k, r) => s""""$k":$r""" }.mkString("{", ",", "}")
      val noCellJson = noCell.map(n => s""""$n"""").mkString("[", ",", "]")
      // per-family subtotals over the NON-baseline queries (the baseline
      // 27 stay individually visible)
      def familiesJson(fmt: Double => String): String = {
        val famTotals = results
          .filterNot { case (k, _) => inBaseline(k) }
          .groupBy { case (k, _) => Registry.byName(k).family }
          .map { case (fam, rs) => fam -> rs.map(_._2._1).filter(_ >= 0).sum }
        famTotals.toSeq.sortBy(_._1)
          .map { case (f, s) => s""""$f":${fmt(s)}""" }.mkString("{", ",", "}")
      }
      // timed-run failures must stay visible now that non-baseline
      // queries only appear in family subtotals (where the -1 marker is
      // filtered out): name them explicitly in BOTH JSONs
      val timedFailed = results.collect { case (k, (med, _)) if med < 0 => k }
      val tfJson = timedFailed.map(n => s""""$n"""").mkString("[", ",", "]")
      val total = results.map(_._2._1).filter(_ >= 0).sum
      val totalMin = results.map(_._2._2).filter(_ >= 0).sum
      val wf = coldFailed.map(n => s""""$n"""").mkString("[", ",", "]")
      // run-shape record: planned vs completed rounds (cold included),
      // cold_first marks the methodology fork for archive readers, the
      // budget, whether the budget (not the plan) ended the run, and the
      // partial progress marker for intra-round-1 flushes
      val partialJson =
        partial.map(p => s""""partial_done":${p.size},""").getOrElse("")
      val shapeJson = s""""runs":$runsPlanned,"runs_completed":$completed,""" +
        s""""cold_first":true,$partialJson""" +
        s""""budget_sec":$budgetSec,"budget_stop":$budgetStop,""" +
        s""""elapsed_sec":${r2(elapsedSec)},"gate_sec":$gateSec,""" +
        s""""final":$isFinal"""
      def buildJson(fmt: Double => String): String = {
        val qs = results.map { case (k, (med, _)) => s""""$k":${fmt(med)}""" }
          .mkString("{", ",", "}")
        val qsMin = results.map { case (k, (_, mn)) => s""""$k":${fmt(mn)}""" }
          .mkString("{", ",", "}")
        s"""{"metric":"total","value":${fmt(total)},"unit":"sec","total_min":${fmt(totalMin)},"stat":"$stat","queries":$qs,"queries_min":$qsMin,"families":${familiesJson(fmt)},"control":$controlJson,"controls":$controlsJson,"ratio":$ratioJson,"ratio_norm":$ratioNormJson,"ratio_min":$ratioMinJson,"gate_valid":$gateValid,"spread":$spreadJson,"ratios":$ratiosJson,"ratios_norm":$ratiosNormJson,"over_2x":$over2xFullJson,"over_2x_min":$over2xMinFullJson,"no_cell":$noCellJson,"timed_failed":$tfJson,"warmup_failed":$wf,$shapeJson,"load_gate":$loadGateJson,"steal_run":$stealRunJson,"loadavg":[$loadStart,$loadEnd],"sf":"$sfDir"}"""
      }
      // self-archive FIRST (full precision): the driver captures only a
      // log TAIL, and round 5's record lost k1–k14/ns10–ns12 to
      // truncation — the full JSON also lands in a stable file so the
      // per-query numbers survive any log capture. Best-effort: archival
      // failure must not fail the bench. A SPARK_GRAFT_BENCH_ONLY-
      // filtered run archives under a keyed name so local iteration (or
      // a judge's subset reproduction) never clobbers the full record.
      try {
        val name = if (only.isEmpty) "bench_latest.json"
                   else "bench_latest.only.json"
        val out = java.nio.file.Paths.get("target", name)
        java.nio.file.Files.createDirectories(out.getParent)
        java.nio.file.Files.write(out,
          (buildJson(_.toString) + "\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] archival failed: ${e.getMessage}")
      }
      // The COMPACT stdout line must fit the driver's ~1,900-byte tail
      // capture — BENCH_r06–r08 came back `parsed: null` because 94 full
      // query names overflow it. The compact line carries (a) individual
      // medians for the 27 BASELINE.md-recorded queries under short keys
      // ("ns121"->"121", "k14" stays), (b) family subtotals for
      // everything else, (c) the window-variance `control` ratio and
      // cell-gate aggregates, and (d) `n`, the suite size. Full
      // per-query detail is ALWAYS in target/bench_latest.json ("detail"
      // names it). Line size is O(baseline set + families) ≈ 900 B.
      def buildCompact(fmt: Double => String): String = {
        def shortOf(n: String) = {
          val p = Registry.byName(n).id
          if (p.startsWith("ns")) p.drop(2) else p
        }
        val baseline = results.filter { case (k, _) => inBaseline(k) }
        val qs = baseline.map { case (k, (med, _)) =>
          s""""${shortOf(k)}":${fmt(med)}"""
        }.mkString("{", ",", "}")
        s"""{"metric":"total","value":${fmt(total)},"unit":"sec","total_min":${fmt(totalMin)},"stat":"$stat","n":${results.size},"queries":$qs,"families":${familiesJson(fmt)},"control":$controlJson,"ratio":$ratioJson,"ratio_norm":$ratioNormJson,"ratio_min":$ratioMinJson,"gate_valid":$gateValid,"spread":$spreadJson,"over_2x":$over2xJson,${over2xMinCompactJson}"no_cell":${noCell.size},"timed_failed":$tfJson,"detail":"target/bench_latest.json","warmup_failed":$wf,$shapeJson,"load_gate":$loadGateJson,"steal_run":$stealRunJson,"loadavg":[$loadStart,$loadEnd],"sf":"$sfDir"}"""
      }
      // one compact line per flush; the driver's tail holds the last one
      // or two, and the LAST complete line is the record. Length gate: if
      // the suite regrows past the tail window, fail LOUDLY to stderr and
      // degrade to a totals-only line that is still valid JSON (never
      // print a line that will be truncated mid-object again).
      val compact = buildCompact(r2)
      if (compact.length <= 1900) println(compact)
      else {
        System.err.println(s"[bench] compact line ${compact.length} B " +
          "exceeds the 1,900 B budget - emitting totals-only; shrink keys")
        // the degraded line still carries control AND timed_failed: a
        // total silently missing a failed query's time is exactly the
        // under-report the timed_failed invariant exists to prevent
        println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","total_min":${r3(totalMin)},"stat":"$stat","queries":"overflow: see target/bench_latest.json","control":$controlJson,"ratio":$ratioJson,"ratio_norm":$ratioNormJson,"ratio_min":$ratioMinJson,"gate_valid":$gateValid,"spread":$spreadJson,"over_2x":$over2xJson,${over2xMinCompactJson}"timed_failed":$tfJson,"warmup_failed":$wf,$shapeJson,"load_gate":$loadGateJson,"steal_run":$stealRunJson,"loadavg":[$loadStart,$loadEnd],"sf":"$sfDir"}""")
      }
      System.out.flush()
    }

    // interleaved rounds: every query once per round, order reversed on
    // alternate rounds so no query always runs right after JVM GC settles
    // or always last into a cooling cache. Round 1 (cold) ALWAYS runs —
    // without it there is no record at all, and its intra-round partial
    // flushes bound the evidence lost to a kill at ~40 queries. Before
    // each LATER round, project its cost from the previous pass and stop
    // if it would bust the budget — a complete (runs_completed < runs)
    // record beats a driver kill mid-round. Projection (ADVICE r14 #3):
    // the ~10% JIT discount applies only when projecting round 2 from
    // the cold pass; from round 3 on the previous pass is already warm
    // and projects unscaled.
    var completed = 0
    var lastPassSec = 0.0
    var budgetStop = false
    while (completed < totalRounds && !budgetStop) {
      val projected =
        if (completed == 1) lastPassSec * 0.9 else lastPassSec
      if (completed > 0 && elapsedSec + projected > budgetSec) {
        budgetStop = true
        System.err.println(f"[bench] budget stop: ${elapsedSec}%.0f s " +
          f"elapsed + ~$projected%.0f s projected round > " +
          f"$budgetSec%.0f s budget (completed $completed/$totalRounds)")
      } else {
        val passT0 = elapsedSec
        val order = if (completed % 2 == 0) names else names.reverse
        var done = 0
        order.foreach { n =>
          val t = try execute(n) catch { case _: Throwable => Double.NaN }
          times(n) = times(n) :+ t
          done += 1
          if (completed == 0 && done % 40 == 0 && done < order.size)
            flush(0, totalRounds, budgetStop = false, isFinal = false,
              partial = Some(order.take(done)))
        }
        lastPassSec = elapsedSec - passT0
        completed += 1
        flush(completed, totalRounds, budgetStop = false,
          isFinal = completed == totalRounds)
      }
    }
    if (budgetStop) flush(completed, totalRounds, budgetStop = true,
      isFinal = true)
    spark.stop()
  }
}
