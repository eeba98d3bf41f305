package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Live data-mixture monitoring — the streaming face of
  * [[graft.ops.Sampling.mixturePlan]] (ns133): the batch operator plans a
  * mixture over a finished corpus; a data team running a multi-week crawl
  * also wants the dashboard DURING ingestion — "at current availability,
  * which strata already cover their target share, which still force
  * multi-epoch repetition?" — refreshed per micro-batch, not at the next
  * full-corpus pass.
  *
  * Split of labor, the [[StreamingDrift]] pattern: the STREAM side is one
  * running per-stratum aggregation (state = one (n_docs, avail_tokens)
  * row per stratum — stratum-cardinality forever, never corpus-sized);
  * the plan ARITHMETIC runs between triggers over the sink's latest
  * totals through [[graft.ops.Sampling.mixturePlanFromTotals]] — the
  * literal batch tail, one definition, so the live dashboard and the
  * batch plan cannot drift. The spec pins bit-for-bit equality against
  * the batch operator over the union of all ticks.
  *
  * Scale shape: the aggregation carries map-side partials per micro-batch
  * (the digest-sized (stratum, partial) frame rides the shuffle, not the
  * batch's rows); update mode emits only strata a tick touched.
  */
object StreamingMixture {

  /** The running per-stratum totals stream: same costing, same column
    * names as the batch aggregation inside [[graft.ops.Sampling
    * .mixturePlan]] (chars/4 ceil unless `tokenCountCol` supplies a real
    * count). Run with update mode; the sink's latest row per stratum is
    * the current availability. */
  def strataTotalsStream(
      docs: DataFrame,
      strataCol: String = "lang",
      tokenCountCol: Option[String] = None): DataFrame = {
    val nTokens = tokenCountCol
      .map(c => col(c).cast("long"))
      .getOrElse(ceil(length(col("text")).cast("double") / 4.0).cast("long"))
    docs
      .select(col(strataCol), nTokens.as("__t"))
      .groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("__t")).as("avail_tokens"))
  }
}
