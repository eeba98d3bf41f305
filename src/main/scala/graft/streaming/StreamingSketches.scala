package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.GroupStateTimeout

import graft.ops.Sketches

/** Continuous distinct counting — the streaming face of
  * [[graft.ops.Sketches.hllDistinct]] (SURVEY §7.2 M6 extension; the
  * reference is strictly batch).
  *
  * HLL registers are exactly the state a stream wants: FIXED SIZE per
  * group (2^b ints, forever, no matter how many values flow through) and
  * MERGEABLE by element-wise max, so per-batch updates fold into the
  * running registers without replay. Contrast with exact streaming
  * distinct, whose state grows with the distinct count itself
  * ([[StreamingDedup]] needs a watermark to bound it); the sketch trades
  * ~1%/√m accuracy for state that never grows and never expires.
  *
  * Register math is [[Sketches.registerUpdate]]/[[Sketches.estimateOf]] —
  * the SAME md5/bit-length arithmetic as the batch operator, so a group's
  * estimate after any prefix of the stream equals the batch estimate over
  * that prefix's rows (spec-pinned, including across multiple triggers).
  *
  * Shape: `mapGroupsWithState` keyed by the group column, NoTimeout (a
  * running total never finalizes — state is a fixed-size array, so
  * unbounded lifetime is the point, not a leak), Update output mode: each
  * trigger emits one refreshed (group, n_registers, hll_estimate) row per
  * group that saw data. */
object StreamingSketches {

  def hllDistinctStream(
      rows: DataFrame, valueCol: String, groupCol: String,
      b: Int = 10): DataFrame = {
    require(b >= 4 && b <= 16, s"b must be in [4,16], got $b")
    val spark = rows.sparkSession
    import spark.implicits._
    rows
      .where(col(valueCol).isNotNull)
      .select(col(groupCol).cast("string"), col(valueCol).cast("string"))
      .as[(String, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[Array[Int], (String, Long, Double)](
        GroupStateTimeout.NoTimeout) {
        case (group, values, state) =>
          val regs = state.getOption.getOrElse(new Array[Int](1 << b))
          values.foreach(v => Sketches.registerUpdate(regs, v._2, b))
          state.update(regs)
          val (present, est) = Sketches.estimateOf(regs, b)
          (group, present, est)
      }
      .toDF(groupCol, "n_registers", "hll_estimate")
  }

  /** Continuous frequency sketching — the streaming face of
    * [[graft.ops.Sketches.cmsBuild]]. Where HLL registers merge by max,
    * CMS cells merge by SUM, which makes the streaming twin a plain
    * STREAMING AGGREGATION: the same per-occurrence (row, bucket) cell
    * projection feeds `groupBy(row, bucket).count()`, and Spark's
    * aggregation state IS the sketch — at most depth × width counters,
    * forever, no watermark, no custom state function. Update output mode:
    * each trigger re-emits the cells that changed; the latest value per
    * cell equals the batch [[graft.ops.Sketches.cmsBuild]] over the same
    * stream prefix (spec-pinned), so [[graft.ops.Sketches.cmsEstimate]]
    * serves candidate frequencies off the running sketch between
    * triggers. Quantile bins SUM-merge the same way, so their streaming
    * form is [[graft.ops.Sketches.binTable]] itself on the streaming
    * frame. */
  def cmsStream(
      rows: DataFrame, valueCol: String,
      depth: Int = 4, width: Int = 256): DataFrame =
    Sketches.cmsCells(rows, valueCol, depth, width)
      .groupBy(col("row"), col("bucket"))
      .count()
      .withColumnRenamed("count", "cnt")
}
