package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, length, sum}

/** sf-scaling smoke (a `main`, driven by tools/scaling_smoke.sh): runs the
  * pair-producing dedup queries at two scale factors and asserts
  * SUB-QUADRATIC growth in both output volume and wall time.
  *
  * Why this exists: every dedup operator here is candidate-bucketed (band /
  * postings equality joins), so cost should track collision counts —
  * roughly linear in corpus size for a fixed duplicate rate. A regression
  * that re-introduces an all-pairs shape (a dropped band key, a broadcast
  * hint swallowing a filter, a join key typo'd to a constant) still passes
  * single-SF correctness — the oracle is also quadratic-tolerant at toy
  * scale — but blows up the sf0.01→sf0.1 growth curve. This smoke catches
  * exactly that class.
  *
  * Bounds: with docs scaling by R (~10×), an all-pairs regression scales
  * output and work by ~R². We assert rows ≤ R^1.5 (hard — row counts are
  * deterministic) and time ≤ R^1.75 (looser — wall time at the small SF is
  * dominated by fixed per-job overhead, which mutes the ratio in BOTH
  * directions, so the time bound only has to catch the catastrophic
  * case). */
object ScalingSmoke {

  private val checked = graft.queries.Registry.select(Seq(
    "ns2_dedup_minhash", "ns4_dedup_ngram", "ns14_dedup_incremental",
    "ns16_dedup_survivors", "ns17_dedup_incr_index", "ns18_dedup_index_update",
    // round-4 additions with a pair-shaped failure mode: ns29/ns40 in the
    // gram-frequency join, ns37 in the within-cell self-join (cells must
    // bound it), ns38 in the vocabulary join, ns43 in the interval join
    // (bucket equality must carry it — events scale by users, so matches
    // grow linearly, not by window density)
    "ns29_boilerplate", "ns37_dedup_semantic", "ns38_keywords_tfidf",
    "ns40_dedup_spans", "ns43_join_range",
    // gram-keyed pair matrix: source count is constant across sfs, so
    // rows stay flat and time must stay ~linear in corpus grams
    "ns47_source_overlap",
    // round-5: BPE tokenize + BPE-budgeted packing — the dictionary join
    // must stay vocabulary-bounded, never corpus×vocabulary
    "ns51_tokenize_bpe", "ns53_pack_bpe",
    // round-7: canonical-URL groupBy (linear by construction; a degraded
    // key re-shapes it into pairs), the label-bounded outlier bottom-k,
    // and the token-drift agg. ns68 runs as a custom forced entry below:
    // count() over its registered query join-eliminates the dedup.
    "ns69_embedding_outliers", "ns70_dedup_url", "ns71_corpus_drift",
    "ns73_web_ingest", "ns74_events_funnel", "ns75_events_retention"))
  // ns21/ns34 (decontamination) are NOT run via their registered queries
  // here: those split doc_id%50 at EACH sf, so the benchmark side grows
  // with the corpus and the tainted-row count legitimately scales ~R² —
  // which is report semantics, not an implementation blow-up. The honest
  // scale model (and the real deployment) holds the eval set FIXED while
  // the corpus grows; custom entries below do exactly that.

  def main(args: Array[String]): Unit = {
    val sfSmall = sys.env.getOrElse("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.01")
    val sfLarge = sys.env.getOrElse("SPARK_GRAFT_SF_LARGE", "/root/testdata/sf0.1")
    val spark = Harness.session("graft-scaling-smoke")
    spark.sparkContext.setLogLevel("WARN")

    // Times building and running `df`. count() materializes the full
    // pipeline of every checked query: each ends in a wide projection
    // whose joins and aggregates Catalyst cannot prune under a count.
    // viaCollect: ungrouped-aggregate entries (ns68_lines_forced) must
    // materialize via collect() — count() over a no-grouping Aggregate is
    // folded to the literal 1 (OptimizeOneRowPlan) and times an empty job
    def runDf(df: => DataFrame,
        viaCollect: Boolean = false): (Long, Double) = {
      val (rows, sec, _) = Harness.measure(spark) {
        if (viaCollect) df.collect().length.toLong else df.count()
      }
      (rows, sec)
    }
    def run(query: graft.queries.Query, dir: String) =
      runDf(query.build(spark, dir))

    def docs(dir: String) = Tables.load(spark, dir, "documents")
    val docsSmall = docs(sfSmall).count()
    val docsLarge = docs(sfLarge).count()
    val r = docsLarge.toDouble / docsSmall
    val rowBound = math.pow(r, 1.5)
    val timeBound = math.pow(r, 1.75)

    // fixed-benchmark decontamination: the eval set is always the small
    // sf's %50 slice; only the corpus side scales — for the Bloom twin,
    // exactly the side the might_contain prefilter thins before the join
    val fixedBench = docs(sfSmall).where(col("doc_id") % 50 === 0)
    def fixed(op: (DataFrame, DataFrame) => DataFrame)(dir: String) =
      op(docs(dir).where(col("doc_id") % 50 =!= 0), fixedBench)
    val custom: Seq[(String, String => DataFrame)] = Seq(
      "ns21_decon_fixed_bench" ->
        fixed(graft.ops.Dedup.decontaminate(_, _, shingleK = 4)),
      "ns152_decon_bloom_fixed_bench" ->
        fixed(graft.ops.Dedup.decontaminateBloom(_, _, shingleK = 4)),
      "ns34_spans_fixed_bench" ->
        fixed(graft.ops.Dedup.scrubContaminatedSpans(_, _, shingleK = 4)),
      "ns68_lines_forced" -> ((d: String) =>
        SparkEntry.queries("ns68_dedup_lines")(spark, d)
          .agg(sum(length(col("text_clean"))).as("clean_chars"),
            sum(col("kept_lines")).as("kept"))),
      "ns76_dataset_card" -> ((d: String) =>
        SparkEntry.queries("ns76_dataset_card")(spark, d)))

    // untimed warmup at BOTH sfs (JIT, codegen, and — critically — the
    // ns17/ns18 one-time index build: warming only sfSmall would leave the
    // sfLarge index build inside the timed run and inflate its ratio on a
    // clean tmpdir, flaking the gate with no real regression)
    checked.foreach(run(_, sfSmall))
    checked.foreach(run(_, sfLarge))
    val aggForced = Set("ns68_lines_forced", "ns76_dataset_card")
    custom.foreach { case (n, f) =>
      runDf(f(sfSmall), aggForced(n)); runDf(f(sfLarge), aggForced(n)) }

    println(f"docs: $docsSmall at $sfSmall, $docsLarge at $sfLarge (R=$r%.1f); " +
      f"bounds: rows<=R^1.5=$rowBound%.1f, time<=R^1.75=$timeBound%.1f")
    println("| query | rows@small | rows@large | row ratio | sec@small | sec@large | time ratio | verdict |")
    println("|---|---|---|---|---|---|---|---|")
    var failed = false
    def judge(name: String, small: (Long, Double), large: (Long, Double)): Unit = {
      val (rowsS, secS) = small
      val (rowsL, secL) = large
      val rowRatio = rowsL.toDouble / math.max(rowsS, 1L)
      val timeRatio = secL / math.max(secS, 0.05)
      // tiny-output floor: a query legitimately producing ~0 rows at the
      // small SF makes the ratio meaningless (0 -> 40 rows is not an
      // all-pairs regression). The row gate only speaks when the LARGE
      // side is big enough to evidence a blow-up; the time gate always
      // applies.
      val rowGateApplies = rowsS >= 20 || rowsL >= 1000
      val ok = (!rowGateApplies || rowRatio <= rowBound) &&
        timeRatio <= timeBound
      failed ||= !ok
      println(f"| $name | $rowsS | $rowsL | $rowRatio%.1f× | $secS%.2f | $secL%.2f | $timeRatio%.1f× | ${if (ok) "sub-quadratic ✓" else "BLOW-UP ✗"} |")
    }
    checked.foreach { q =>
      judge(q.name, run(q, sfSmall), run(q, sfLarge))
    }
    custom.foreach { case (name, f) =>
      judge(name, runDf(f(sfSmall), aggForced(name)),
        runDf(f(sfLarge), aggForced(name)))
    }
    spark.stop()
    if (failed) {
      System.err.println("[scaling-smoke] FAIL: super-linear growth beyond bound — likely all-pairs regression")
      sys.exit(1)
    }
  }
}
