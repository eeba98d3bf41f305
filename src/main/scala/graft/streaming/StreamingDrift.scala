package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Sketches

/** Live token-distribution drift monitoring — the streaming face of
  * [[graft.ops.Versioning.tokenDrift]] (ns71): the batch operator audits a
  * finished snapshot against the accepted corpus; a crawl team also wants
  * the alarm to fire WHILE the bad batch is ingesting (a spam burst, a
  * parser regression dumping markup), not at the next nightly audit.
  *
  * Exact vocabulary counts would need vocabulary-cardinality streaming
  * state — unbounded at crawl scale — so the twin rides the CMS machinery
  * the suite already proves bounded: the accepted corpus's token sketch is
  * FROZEN on disk ([[graft.ops.Sketches.writeCmsSketch]]), the incoming
  * stream maintains a running sketch ([[StreamingSketches.cmsStream]],
  * state ≤ depth×width cells forever), and the drift read-off ranks a
  * CANDIDATE token set (a vocabulary, last audit's movers, the reference's
  * heavy hitters) by the same exact-integer cross-product metric as the
  * batch operator — computed on the CMS point estimates. Totals need no
  * estimate at all: every CMS row counts every occurrence, so one row's
  * cell sum IS the exact stream total.
  *
  * Scale shape: the stream side is the proven cmsStream aggregation; the
  * read-off joins candidates against two broadcast-sized sketches
  * (depth×width rows each) and ends in a TakeOrderedAndProject — no
  * corpus access, no vocabulary shuffle, serving-cheap between triggers.
  */
object StreamingDrift {

  /** The incoming corpus's running token-cell stream, with depth/width
    * PINNED to the frozen reference sketch at `refPath` — a drift compare
    * across mismatched CMS families reads garbage buckets, so the
    * parameters are never taken from the caller (the
    * [[graft.ops.Dedup.updateMinhashIndex]] parameter-pinning contract).
    * Run with update mode; the sink's latest row per (row, bucket) is the
    * current cell. */
  def tokenCellsStream(
      docs: DataFrame, refPath: String,
      textCol: String = "text"): DataFrame = {
    val (depth, width) =
      Sketches.cmsStoredParams(docs.sparkSession, refPath)
    StreamingSketches.cmsStream(
      docs.select(explode(split(col(textCol), " ")).as("token")),
      "token", depth, width)
  }

  /** Drift read-off (batch, between triggers): rank `candidates` by
    * `cnt_before·total_after − cnt_after·total_before` — the batch
    * operator's exact-integer metric — where cnt_before reads the frozen
    * sketch at `refPath`, cnt_after reads `liveCells` (the cmsStream
    * sink's latest cells), and both totals are exact row-0 cell sums.
    * Output: (rank, token, cnt_before, cnt_after, drift_num) — the ns71
    * shape with CMS-estimated counts. */
  def driftTopK(
      spark: SparkSession, refPath: String,
      liveCells: DataFrame, candidates: DataFrame,
      topK: Int = 50, tokenCol: String = "token"): DataFrame = {
    val (depth, width) = Sketches.cmsStoredParams(spark, refPath)
    // appends sum-merge, exactly as cmsEstimateFromSketch serves them
    val refCells = Tables.parquet(spark, refPath)
      .groupBy(col("row"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))
    def total(cells: DataFrame): Long = {
      val t = cells.where(col("row") === 0).agg(sum(col("cnt"))).head()
      if (t.isNullAt(0)) 0L else t.getLong(0)
    }
    val (totBefore, totAfter) = (total(refCells), total(liveCells))
    val before = Sketches.cmsEstimate(
        refCells, candidates, tokenCol, depth, width)
      .withColumnRenamed("cms_count", "cnt_before")
    val after = Sketches.cmsEstimate(
        liveCells, candidates, tokenCol, depth, width)
      .withColumnRenamed("cms_count", "cnt_after")
    // the metric, tie-break, and rank numbering are the SHARED tail —
    // one definition keeps the spec-pinned batch equivalence honest
    graft.ops.Versioning.rankDrift(
      before.join(after, Seq(tokenCol))
        .select(col(tokenCol).as("token"), col("cnt_before"),
          col("cnt_after")),
      totBefore, totAfter, topK)
  }
}
