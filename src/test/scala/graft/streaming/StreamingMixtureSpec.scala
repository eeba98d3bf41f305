package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Live mixture monitor: the plan read off the stream's running totals
  * must equal the batch [[graft.ops.Sampling.mixturePlan]] bit-for-bit
  * over the union of all ticks — totals, epochs, last-epoch partial,
  * repeat per-mille, ordering. */
class StreamingMixtureSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val shares = Seq("en" -> 500, "de" -> 300)
  private val budget = 200L

  test("live mixture plan equals the batch plan after every tick") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tick1 = Seq(
      (1L, "en", "x" * 40), (2L, "en", "x" * 20), (3L, "de", "x" * 40))
    val tick2 = Seq(
      (4L, "en", "x" * 80), (5L, "zh", "x" * 40), (6L, "de", "x" * 4))

    val in = MemoryStream[(Long, String, String)]
    val q = StreamingMixture.strataTotalsStream(
        in.toDF().toDF("doc_id", "lang", "text"))
      .writeStream.format("memory").queryName("mix_totals")
      .outputMode("update").start()

    def latestTotals() = {
      // update-mode sink: the LAST emitted row per stratum is current
      val rows = spark.table("mix_totals").collect().zipWithIndex
        .groupBy(_._1.getString(0))
        .map { case (lang, rs) =>
          val r = rs.maxBy(_._2)._1
          (lang, r.getLong(1), r.getLong(2))
        }.toSeq
      rows.toDF("lang", "n_docs", "avail_tokens")
    }
    def batchPlan(rows: Seq[(Long, String, String)]) =
      graft.ops.Sampling.mixturePlan(
        rows.toDF("doc_id", "lang", "text"), shares, budget)

    try {
      in.addData(tick1)
      q.processAllAvailable()
      def sorted(rs: Seq[org.apache.spark.sql.Row]) =
        rs.sortBy(_.getString(0))
      val live1 = graft.ops.Sampling.mixturePlanFromTotals(
        latestTotals(), shares, budget)
        .collect().toSeq
      assert(sorted(live1) == sorted(batchPlan(tick1).collect().toSeq))

      in.addData(tick2)
      q.processAllAvailable()
      val live2 = graft.ops.Sampling.mixturePlanFromTotals(
        latestTotals(), shares, budget)
        .collect().toSeq
      assert(sorted(live2) ==
        sorted(batchPlan(tick1 ++ tick2).collect().toSeq))
      // the dashboard moved: tick2's 20 en tokens cut en's repeat factor
      val en1 = live1.find(_.getString(0) == "en").get
      val en2 = live2.find(_.getString(0) == "en").get
      assert(en2.getAs[Long]("avail_tokens") > en1.getAs[Long]("avail_tokens"))
      assert(en2.getAs[Long]("repeat_per_mille") <
        en1.getAs[Long]("repeat_per_mille"))
      // undeclared stratum arriving mid-stream reports share 0, not absence
      assert(live2.exists(r => r.getString(0) == "zh" &&
        r.getAs[Long]("target_per_mille") == 0L))
    } finally q.stop()
  }
}
