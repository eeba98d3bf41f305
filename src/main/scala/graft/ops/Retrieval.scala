package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sparse lexical retrieval — the BM25 ranker a training-data pipeline
  * uses to mine topical subsets from a web corpus ("give me the k
  * documents most about X") before the expensive dense-embedding pass,
  * and the classic baseline any retrieval-quality eval needs next to the
  * ANN family ([[Similarity]]).
  *
  * Exact-integer contract (the suite-wide convention): every score is a
  * sum of products of integer milli-units computed with floor division
  * only, so the full ranking — not just the top-k set — hash-replays in
  * any engine. Two quantizations, both documented here:
  *
  *   - '''idf''': the Robertson–Spärck-Jones argument without the log,
  *     in milli-units: `idf_milli = (1000·(2N − 2df + 1)) DIV (2df + 1)`
  *     = floor(1000·(N − df + 0.5)/(df + 0.5)). Monotone in df like the
  *     classic `ln` form (log is order-preserving per term), exact in
  *     integers, and — unlike the floor-log₂ quantization [[TextAnalysis
  *     .tfidfKeywords]] uses — still discriminates between df = 70% and
  *     df = 85% terms, which matters on real web corpora where the query
  *     vocabulary is mostly head words. The linear (un-logged) form
  *     deliberately amplifies rare-term dominance; for classic BM25
  *     weighting swap in `ln`, giving up cross-engine bit equality.
  *   - '''tf saturation''': `tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`
  *     evaluated entirely in micro-units:
  *     `norm_milli = 1000 − b_milli + (b_milli·dl·1000) DIV avgdl_milli`,
  *     `tfnorm_milli = (tf·(k1_milli+1000)·1e6) DIV
  *     (tf·1e6 + k1_milli·norm_milli)` with
  *     `avgdl_milli = (Σdl·1000) DIV N`.
  *
  * 100 TB shape: the token explode is filtered to the query vocabulary
  * BEFORE the (doc_id, term) aggregation, so the shuffle carries only
  * query-term hits (|Q| ≪ vocab; a 100 TB corpus shuffles GBs, not TBs).
  * df and the (N, Σdl) corpus stats are ≤|Q|-row and 1-row aggregates
  * joined back by broadcast. The final top-k is orderBy+limit →
  * `TakeOrderedAndProject` (per-partition heaps, no global sort). One
  * wide shuffle total. For a standing query workload, persist the
  * (doc_id, term, tf, dl) posting frame once ([[PersistedIndex]] pattern)
  * and amortize the corpus scan across queries.
  */
object Retrieval {

  /** Per-doc (doc_id, term, tf, dl) computed INSIDE the document row —
    * the [[TextAnalysis.tfidfKeywords]] run-length shape: sort the token
    * array in-row, emit one (term, run-length) struct per run, explode
    * the per-doc-DISTINCT runs. A document's tokens are all born in its
    * one row, so per-doc term frequencies need no exchange — the old
    * explode + groupBy(doc_id, term) shipped the entire query-hit
    * posting stream for key-uniqueness the scan partitioning already
    * guaranteed (and, with two tf consumers, shipped it twice). `dl`
    * (document length) rides in-row. Every intermediate is bound as a
    * REAL column (a lambda over an inlined derived array re-evaluates
    * the subtree per element — O(n² log n) per doc); all element_at
    * indices are in-bounds by construction (ANSI-safe).
    *
    * `keep` narrows the token array IN-ROW before the sort (dl is taken
    * from the full array first): with a literal query vocabulary the
    * filter drops ~everything, so the sort runs over the few hits
    * instead of the whole document — a full-array sort measurably LOST
    * to the old explode shape on a 4-term query (0.43 → 0.70 s). */
  private def inRowTf(
      docs: DataFrame, keep: Column => Column = identity): DataFrame = {
    val w = col("__w")
    val srt = col("srt")
    val starts = col("starts")
    val n = size(srt)
    val runs = transform(sequence(lit(0), size(starts) - 1), j =>
      struct(
        element_at(srt, element_at(starts, j + 1) + 1).as("term"),
        (when(j === size(starts) - 1, n)
          .otherwise(element_at(starts, j + 2))
          - element_at(starts, j + 1)).cast("long").as("tf")))
    docs
      .select(col("doc_id"), split(col("text"), " ").as("__w"))
      // a NULL text yields dl = -1 here, but srt is then empty so the
      // explode drops the doc before dl is ever observable — identical
      // to the old explode shape (no tf rows for a null text)
      .select(col("doc_id"), size(w).cast("long").as("dl"),
        when(size(w) >= 1, array_sort(keep(w)))
          .otherwise(expr("cast(array() as array<string>)")).as("srt"))
      // run starts: 0-based positions into srt (element_at is 1-based)
      .withColumn("starts",
        when(n === 0, expr("cast(array() as array<int>)"))
          .otherwise(filter(sequence(lit(0), n - 1), i =>
            i === 0 || element_at(srt, i + 1) =!= element_at(srt, i))))
      .select(col("doc_id"), col("dl"),
        explode(when(n === 0, expr(
          "cast(array() as array<struct<term:string,tf:bigint>>)"))
          .otherwise(runs)).as("tc"))
      .select(col("doc_id"), col("tc.term").as("term"),
        col("tc.tf").as("tf"), col("dl"))
  }

  /** BM25 top-k over `docs(doc_id, text)` for a literal query-term set.
    * Output: (doc_id, n_matched, bm25_milli), the `topK` highest-scoring
    * docs, ties broken by ascending doc_id. Docs matching no query term
    * score 0 and are never returned (standard BM25: only matched terms
    * contribute).
    */
  def bm25TopK(
      docs: DataFrame, queryTerms: Seq[String], topK: Int = 20,
      k1Milli: Long = 1200L, bMilli: Long = 750L): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(queryTerms.toSet.size == queryTerms.size,
      "queryTerms must be distinct (duplicate terms would double-count)")
    // corpus stats: ONE 1-row aggregate (N, total token count)
    val stats = docs.select(split(col("text"), " ").as("w")).agg(
      count(lit(1)).as("n_docs"), sum(size(col("w"))).as("total_len"))
    // query-term postings: the codegen'd explode + isin filter drops
    // ~everything before the (doc_id, term) aggregation, whose exchange
    // carries only the few hits. Both in-row variants were measured
    // WORSE here (full-array sort 0.70 s, interpreted HOF hit-filter
    // 0.66 s, vs ~0.45 s for this shape): with a literal 4-term
    // vocabulary the per-row work is one codegen'd membership test per
    // token, which beats any interpreted lambda. LAZY-checkpointed:
    // two consumers (df + the score join) would otherwise re-run the
    // corpus pass.
    val tf = Materialize.local(docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), size(col("w")).as("dl"),
        explode(col("w")).as("term"))
      .where(col("term").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl")), eager = false)
    // df: at most |Q| rows — broadcast back onto the postings
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val avgdlMilli = expr("(total_len * 1000) DIV n_docs")
    val idfMilli =
      expr("(1000 * (2 * n_docs - 2 * df + 1)) DIV (2 * df + 1)")
    val normMilli = lit(1000L) - lit(bMilli) +
      expr(s"($bMilli * dl * 1000) DIV avgdl_milli")
    val scored = tf
      .join(broadcast(df), Seq("term"))
      .join(broadcast(stats))
      .withColumn("avgdl_milli", avgdlMilli)
      .withColumn("norm_milli", normMilli)
      .select(col("doc_id"),
        (idfMilli * expr(s"(tf * ${k1Milli + 1000L} * 1000000) DIV " +
          s"(tf * 1000000 + $k1Milli * norm_milli)")).as("s_term"))
    scored
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matched"), sum(col("s_term")).as("bm25_milli"))
      .orderBy(col("bm25_milli").desc, col("doc_id"))
      .limit(topK)
  }

  /** R2 — multi-query BM25: [[bm25TopK]] generalized to a QUERY TABLE
    * `(query_id, terms: array<string>)` — per query, the topK
    * highest-scoring docs with a 1-based rank. Same integer
    * quantizations; the pre-shuffle filter broadcasts the UNION query
    * vocabulary (≪ corpus vocab), per-(doc, term) scores compute once
    * and fan out to the queries sharing the term via a broadcast join,
    * and the per-query cut is one query-keyed rank window (row_number
    * with the (score desc, doc_id) total order) instead of a global
    * limit. Still one wide shuffle over query-term hits. */
  def bm25TopKPerQuery(
      docs: DataFrame, queries: DataFrame, topK: Int = 10,
      k1Milli: Long = 1200L, bMilli: Long = 750L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stats = docs.select(split(col("text"), " ").as("w")).agg(
      count(lit(1)).as("n_docs"), sum(size(col("w"))).as("total_len"))
    // query vocabulary: query-cardinality, LAZY-checkpointed — it feeds
    // the pre-filter vocab AND the per-query fan-out join, and each
    // branch would otherwise re-run the explode + distinct exchange
    val qt = Materialize.local(queries
      .select(col("query_id"), explode(col("terms")).as("term"))
      .where(col("term") =!= "").distinct(), eager = false)
    val vocab = qt.select(col("term")).distinct()
    // per-doc (term, tf) born in-row (see [[inRowTf]]): the broadcast
    // vocab join filters the per-doc-distinct runs map-side, and the
    // frame is already unique on (doc_id, term) — the old explode +
    // groupBy(doc_id, term) exchange (the suite's largest) is gone.
    // LAZY-checkpointed: two consumers (df + the score join).
    val tf = Materialize.local(inRowTf(docs)
      .join(broadcast(vocab), Seq("term")), eager = false)
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val avgdlMilli = expr("(total_len * 1000) DIV n_docs")
    val idfMilli =
      expr("(1000 * (2 * n_docs - 2 * df + 1)) DIV (2 * df + 1)")
    val normMilli = lit(1000L) - lit(bMilli) +
      expr(s"($bMilli * dl * 1000) DIV avgdl_milli")
    val scored = tf
      .join(broadcast(df), Seq("term"))
      .join(broadcast(stats))
      .withColumn("avgdl_milli", avgdlMilli)
      .withColumn("norm_milli", normMilli)
      .select(col("term"), col("doc_id"),
        (idfMilli * expr(s"(tf * ${k1Milli + 1000L} * 1000000) DIV " +
          s"(tf * 1000000 + $k1Milli * norm_milli)")).as("s_term"))
    val wnd = Window.partitionBy(col("query_id"))
      .orderBy(col("bm25_milli").desc, col("doc_id"))
    // the rollup keeps its own (query_id, doc_id) exchange: partial
    // aggregation compresses the per-term fan-out map-side BEFORE the
    // shuffle (a shared query_id-only exchange was measured WORSE — it
    // ships the raw term-level rows, 15.8 MB vs ~3 MB here)
    scored
      .join(broadcast(qt), Seq("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_matched"), sum(col("s_term")).as("bm25_milli"))
      .withColumn("rank", row_number().over(wnd).cast("long"))
      .where(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("n_matched"), col("bm25_milli"))
  }

  /** R3 — retrieval eval: hits@k and exact-integer MRR over a ranked
    * result frame `(query_id, rank, doc_id)` and a relevance table
    * `(query_id, doc_id)` — the quality scoreboard that turns a ranker
    * into a measured instrument (the lexical sibling of the ANN
    * family's ns126 recall report). MRR is released EXACTLY: per query
    * `rr_micro = 1e6 DIV first_rel_rank` (0 for a miss), summed and
    * floor-averaged — a float MRR would not hash-replay. Queries with
    * no relevant doc retrieved count as misses, never vanish (the
    * relevance table drives the denominator). Output: one summary row.
    *
    * Scale shape: one result-set-sized equi-join + a query-keyed min +
    * a scalar rollup — zero corpus work beyond the input ranker. */
  def retrievalEval(
      ranked: DataFrame, relevant: DataFrame,
      cutoffs: Seq[Int] = Seq(1, 3, 10)): DataFrame = {
    require(cutoffs.nonEmpty && cutoffs == cutoffs.sorted,
      "cutoffs must be ascending")
    val firstRel = ranked
      .join(relevant, Seq("query_id", "doc_id"))
      .groupBy(col("query_id")).agg(min(col("rank")).as("r"))
    val base = relevant.select(col("query_id")).distinct()
      .join(firstRel, Seq("query_id"), "left")
    val aggCols: Seq[Column] = cutoffs.map(k =>
      count(when(col("r") <= k, 1)).as(s"hits_at_$k")) ++ Seq(
      sum(coalesce(expr("1000000 DIV r"), lit(0L))).as("mrr_micro_sum"),
      count(when(col("r").isNull, 1)).as("n_missed"))
    base
      .agg(count(lit(1)).as("n_queries"), aggCols: _*)
      .withColumn("mrr_micro", expr("mrr_micro_sum DIV n_queries"))
  }
}
