package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Shared._

/** HLL/CMS/quantile/histogram/top-k sketches. */
private[graft] object Sketch extends Family("sketch") {

  /** Space tokenization shared by the CMS queries (ns54/ns59) — the token
    * contract (split on single space, drop empties) is load-bearing for
    * oracle parity, so it lives in ONE place. */
  private def spaceTokens(src: DataFrame): DataFrame = src
    .select(explode(split(col("text"), " ")).as("token"))
    .where(col("token") =!= "")

  /** NS54 — count-min heavy hitters: token frequencies estimated from a
    * 4×256 mergeable sketch (sum-merge across shards, vs HLL's max-merge),
    * candidates probed against broadcast sketch state with no corpus
    * re-scan. md5 rows make the approximate counts oracle-replayable. */
  private def ns54(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.ops.Sketches.cmsHeavyHitters(
      spaceTokens(d), spaceTokens(d.where(col("doc_id") < 10)), "token",
      minCount = 200L)
  }

  /** NS57 — mergeable quantiles: per-language length quantiles read off
    * fixed-width bin counts — the sketch-shaped sibling of ns33's exact
    * rank walk (per-(group,bin) counts sum-merge across shards/ticks; the
    * read-off is integer arithmetic, error ≤ binWidth). */
  private def ns57(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sketches.quantileBins(docs(s, dir), "n_chars", Seq("lang"),
      Seq(0.5, 0.9, 0.99), binWidth = 16)

  /** NS59 — persisted CMS sketch lifecycle: the ns18 two-tick pattern for
    * frequency serving. The base sketch is built from 80% of the corpus
    * (fingerprint-gated, built once), a per-run working copy absorbs the
    * remaining 20% as a sum-merge append (no rebuild), and candidates are
    * estimated off the updated sketch — which must equal a one-shot CMS
    * over the WHOLE corpus, so the oracle replays exactly that. */
  private def ns59(s: SparkSession, dir: String): DataFrame = {
    val fp = graft.ops.Dedup.sourceFingerprint(s, s"$dir/documents.parquet")
    val base = scratchIndexDir("graft_cms_sketch", dir, fp)
    if (!graft.ops.Sketches.cmsSketchMatches(s, base, fp))
      graft.ops.Sketches.writeCmsSketch(
        spaceTokens(docs(s, dir).where(col("doc_id") % 5 =!= 0)), base,
        "token", fingerprint = Some(fp))
    val work = s"${base}_tick_${java.util.UUID.randomUUID().toString.take(8)}"
    graft.ops.Sketches.copyCmsSketch(s, base, work)
    val workPath = new org.apache.hadoop.fs.Path(work)
    workPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      .deleteOnExit(workPath)
    graft.ops.Sketches.updateCmsSketch(
      spaceTokens(docs(s, dir).where(col("doc_id") % 5 === 0)), work, "token")
    graft.ops.Sketches.cmsEstimateFromSketch(
        s, work, spaceTokens(docs(s, dir).where(col("doc_id") < 10)), "token")
      .where(col("cms_count") >= 200)
  }

  /** NS44 — engine-reproducible HLL distinct sketch: per-language
    * estimated distinct texts from md5-derived registers — an APPROXIMATE
    * aggregate the oracle replays exactly (built-in approx_count_distinct
    * is engine-specific and unverifiable). */
  private def ns44(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sketches.hllDistinct(docs(s, dir), "text", Seq("lang"))

  /** NS49 — per-language length histogram: exact 50-char buckets (last
    * bucket clamps outliers) — the distribution shape behind ns33's
    * quartiles. One (group, bucket)-keyed aggregation. */
  private def ns49(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.histogram(docs(s, dir))

  /** NS95 — per-group top-k by bounded-heap AGGREGATE
    * ([[graft.functions.TopKByLong]]): top-3 longest docs per language,
    * computed the way it survives 100 TB — a k-bounded custom
    * `Aggregator` (map-side partial heaps, the exchange carries
    * groups × k × partitions rows) instead of the window-rank form that
    * shuffles and sorts the whole corpus. (doc_id) tiebreak makes the
    * result total → hash-replayable; the oracle deliberately uses the
    * window form — same function, scalable execution (the ns93
    * contrast, applied to aggregation). */
  private def ns95(s: SparkSession, dir: String): DataFrame = {
    val topk = udaf(graft.functions.TopKByLong(3))
    docs(s, dir)
      .groupBy(col("lang"))
      .agg(topk(col("n_chars"), col("doc_id")).as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
        col("col._2").as("doc_id"), col("col._1").as("n_chars"))
  }

  val queries: Seq[Query] = Seq(
    // ns44 replays the HLL registers and estimate: 60-bit md5 prefix, low
    // 10 bits bucket, leading-zero rank via exact bin() bit-length, powers
    // of two summed per group, alpha from the same literals, and the
    // small-range linear-counting branch (the library's one transcendental
    // — a handful of per-group ln calls, rounded at 1e-6).
    query("ns44_distinct_hll", ns44)(
      ("""WITH h AS (SELECT lang, ('0x' || substr(md5(text), 1, 15))::BIGINT AS h FROM documents WHERE text IS NOT NULL),
         |r AS (SELECT lang, h % 1024 AS bucket, h // 1024 AS w FROM h),
         |rk AS (SELECT lang, bucket, max(CASE WHEN w = 0 THEN 51 ELSE 50 - (length(bin(w)) - 1) END) AS mr FROM r GROUP BY lang, bucket),
         |agg AS (SELECT lang, count(*) AS n_registers, sum(1.0::DOUBLE / (1::BIGINT << mr)) AS zp FROM rk GROUP BY lang),
         |e AS (SELECT lang, n_registers, (1024 - n_registers)::DOUBLE AS v,
         |  0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 1024.0::DOUBLE) * 1024.0::DOUBLE * 1024.0::DOUBLE / (zp + (1024 - n_registers)) AS raw_e
         |  FROM agg)
         |SELECT lang, n_registers,
         |  round(CASE WHEN raw_e <= 2560.0::DOUBLE AND v > 0 THEN 1024.0::DOUBLE * ln(1024.0::DOUBLE / v) ELSE raw_e END, 6) AS hll_estimate
         |FROM e ORDER BY lang""".stripMargin)),
    // ns49's two-sided clamp is also the oracle contract: engines disagree
    // on % sign conventions for negatives, but both land every negative in
    // bucket 0 once clamped.
    query("ns49_histogram", ns49)(
      ("""WITH b AS (SELECT lang, greatest(least((n_chars - n_chars % 50) // 50, 11), 0) AS bucket FROM documents WHERE n_chars IS NOT NULL)
         |SELECT lang, bucket, bucket * 50 AS lo, (bucket + 1) * 50 AS hi, count(*) AS n
         |FROM b GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin)),
    // ns54 replays the whole count-min table (one md5-60 per occurrence,
    // 4 rows derived by the (a·h + b) mod p mod w affine family) and the
    // min-over-rows estimate — approximate counts, exactly reproduced.
    query("ns54_heavy_hitters_cms", ns54)(
      ("""WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents WHERE text IS NOT NULL),
         |tt AS (SELECT token, ('0x' || substr(md5(token), 1, 15))::BIGINT % 2147483647 AS hp FROM t WHERE token <> ''),
         |cms AS (SELECT i, (((1103515245 * (i + 1)) % 2147483647) * hp + (12345 * (i + 1)) % 2147483647) % 2147483647 % 256 AS bucket, count(*) AS cnt
         |  FROM tt CROSS JOIN range(4) r(i) GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT token, ('0x' || substr(md5(token), 1, 15))::BIGINT % 2147483647 AS hp
         |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents WHERE doc_id < 10) WHERE token <> ''),
         |est AS (SELECT c.token, min(coalesce(cms.cnt, 0)) AS cms_count
         |  FROM cand c CROSS JOIN range(4) r(i)
         |  LEFT JOIN cms ON cms.i = r.i AND cms.bucket = (((1103515245 * (r.i + 1)) % 2147483647) * c.hp + (12345 * (r.i + 1)) % 2147483647) % 2147483647 % 256
         |  GROUP BY c.token)
         |SELECT token, cms_count FROM est WHERE cms_count >= 200
         |ORDER BY cms_count DESC, token""".stripMargin)),
    // ns57 replays the fixed-bin walk: cumulative bin counts, first bin
    // reaching ceil(q·n), lower edge — integer read-off, double q.
    query("ns57_quantile_bins", ns57)(
      ("""WITH b AS (SELECT lang, n_chars // 16 AS bin FROM documents WHERE n_chars IS NOT NULL),
         |c AS (SELECT lang, bin, count(*) AS cnt FROM b GROUP BY 1, 2),
         |w AS (SELECT lang, bin, sum(cnt) OVER (PARTITION BY lang ORDER BY bin) AS cum, sum(cnt) OVER (PARTITION BY lang) AS n FROM c),
         |qs AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS q)
         |SELECT lang, q, min(bin) * 16 AS approx_value
         |FROM w CROSS JOIN qs WHERE cum >= ceil(q * n)
         |GROUP BY lang, q ORDER BY lang, q""".stripMargin)),
    // ns59's two ticks union to the WHOLE corpus, so its oracle is ns54's
    // one-shot CMS replay verbatim — the lifecycle (persist, copy, append,
    // serve) must be invisible in the counts.
    query("ns59_cms_lifecycle", ns59)(
      ("""WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents WHERE text IS NOT NULL),
         |tt AS (SELECT token, ('0x' || substr(md5(token), 1, 15))::BIGINT % 2147483647 AS hp FROM t WHERE token <> ''),
         |cms AS (SELECT i, (((1103515245 * (i + 1)) % 2147483647) * hp + (12345 * (i + 1)) % 2147483647) % 2147483647 % 256 AS bucket, count(*) AS cnt
         |  FROM tt CROSS JOIN range(4) r(i) GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT token, ('0x' || substr(md5(token), 1, 15))::BIGINT % 2147483647 AS hp
         |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents WHERE doc_id < 10) WHERE token <> ''),
         |est AS (SELECT c.token, min(coalesce(cms.cnt, 0)) AS cms_count
         |  FROM cand c CROSS JOIN range(4) r(i)
         |  LEFT JOIN cms ON cms.i = r.i AND cms.bucket = (((1103515245 * (r.i + 1)) % 2147483647) * c.hp + (12345 * (r.i + 1)) % 2147483647) % 2147483647 % 256
         |  GROUP BY c.token)
         |SELECT token, cms_count FROM est WHERE cms_count >= 200
         |ORDER BY cms_count DESC, token""".stripMargin)),
    // ns95's oracle is the window-rank formulation the engine's bounded
    // heap replaces — same function, scalable execution.
    query("ns95_group_topk", ns95)(
      ("""SELECT lang, rn AS rank, doc_id, n_chars FROM (
         |  SELECT lang, doc_id, n_chars,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY n_chars DESC, doc_id) AS rn
         |  FROM documents) t
         |WHERE rn <= 3 ORDER BY lang NULLS FIRST, rank""".stripMargin)),
  )
}
