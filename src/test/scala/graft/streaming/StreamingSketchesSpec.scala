package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, Tables}
import graft.ops.Sketches

/** Streaming HLL: running estimates equal the batch sketch over every
  * stream prefix, and registers never grow. */
class StreamingSketchesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def batchEstimates(
      rows: Seq[(String, String)]): Map[String, (Long, Double)] = {
    import spark.implicits._
    Sketches.hllDistinct(rows.toDF("lang", "text"), "text", Seq("lang"))
      .collect()
      .map(r => r.getString(0) ->
        ((r.getAs[Long]("n_registers"), r.getAs[Double]("hll_estimate"))))
      .toMap
  }

  test("running estimates equal the batch sketch after every trigger") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("lang", "text").as[(String, String)].collect().toSeq
    val (tick1, tick2) = docs.splitAt(docs.length / 2)

    val in = MemoryStream[(String, String)]
    val q = StreamingSketches
      .hllDistinctStream(in.toDF().toDF("lang", "text"), "text", "lang")
      .writeStream.format("memory").queryName("hll_out")
      .outputMode("update").start()
    try {
      in.addData(tick1)
      q.processAllAvailable()
      val afterTick1 = spark.table("hll_out").collect()
        .map(r => r.getString(0) ->
          ((r.getAs[Long]("n_registers"), r.getAs[Double]("hll_estimate"))))
        .toMap
      assert(afterTick1 == batchEstimates(tick1))

      in.addData(tick2)
      q.processAllAvailable()
      // update-mode memory sink appends each trigger's refreshed rows; the
      // final estimate per group is its LAST emitted row (tick-2 row when
      // the group saw tick-2 data, else its tick-1 row)
      val all = spark.table("hll_out").collect()
        .map(r => r.getString(0) ->
          ((r.getAs[Long]("n_registers"), r.getAs[Double]("hll_estimate"))))
      val finalByGroup = all.zipWithIndex.groupBy(_._1._1)
        .map { case (g, rs) => g -> rs.maxBy(_._2)._1._2 }
      assert(finalByGroup == batchEstimates(docs))
    } finally q.stop()
  }

  test("running CMS cells equal the batch sketch after every trigger") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val toks = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.col("text"), " ")).as("token"))
      .where(org.apache.spark.sql.functions.col("token") =!= "")
      .as[String].collect().toSeq
    val (tick1, tick2) = toks.splitAt(toks.length / 2)
    def batchCells(rows: Seq[String]): Map[(Int, Long), Long] =
      Sketches.cmsBuild(rows.toDF("token"), "token")
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap

    val in = MemoryStream[String]
    val q = StreamingSketches
      .cmsStream(in.toDF().toDF("token"), "token")
      .writeStream.format("memory").queryName("cms_out")
      .outputMode("update").start()
    def latestCells(): Map[(Int, Long), Long] =
      spark.table("cms_out").collect().zipWithIndex
        .groupBy(r => (r._1.getInt(0), r._1.getLong(1)))
        // update-mode memory sink appends refreshed rows; last emit wins
        .map { case (cell, rs) => cell -> rs.maxBy(_._2)._1.getLong(2) }
    try {
      in.addData(tick1)
      q.processAllAvailable()
      assert(latestCells() == batchCells(tick1))
      in.addData(tick2)
      q.processAllAvailable()
      // sum-merge: the running sketch after both ticks IS the batch sketch
      // over the whole stream — and the state is at most depth×width cells
      val cells = latestCells()
      assert(cells == batchCells(toks))
      assert(cells.size <= 4 * 256)
    } finally q.stop()
  }

  test("running quantile bins feed the batch read-off with batch-identical answers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("lang", "n_chars").as[(String, Long)].collect().toSeq
    val (tick1, tick2) = docs.splitAt(docs.length / 2)
    val in = MemoryStream[(String, Long)]
    val q = graft.ops.Sketches
      .binTable(in.toDF().toDF("lang", "n_chars"), "n_chars", Seq("lang"), 16)
      .writeStream.format("memory").queryName("qb_out")
      .outputMode("update").start()
    def latestBins() = {
      import org.apache.spark.sql.functions.{max => fmax, struct}
      // update-mode sink appends refreshed rows; take each cell's last emit
      spark.table("qb_out")
        .withColumn("_ord", org.apache.spark.sql.functions
          .monotonically_increasing_id())
        .groupBy("lang", "_qb_bin")
        .agg(fmax(struct(org.apache.spark.sql.functions.col("_ord"),
          org.apache.spark.sql.functions.col("_qb_cnt")))
          .getField("_qb_cnt").as("_qb_cnt"))
    }
    try {
      in.addData(tick1); q.processAllAvailable()
      in.addData(tick2); q.processAllAvailable()
      val streamed = graft.ops.Sketches
        .quantilesFromBins(latestBins(), Seq("lang"), Seq(0.5, 0.9, 0.99), 16)
        .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2))
        .toMap
      val batch = graft.ops.Sketches
        .quantileBins(docs.toDF("lang", "n_chars"), "n_chars", Seq("lang"),
          Seq(0.5, 0.9, 0.99))
        .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2))
        .toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("hash60's arithmetic extraction equals the hex-prefix definition") {
    Seq("", "a", "hello world", "日本語テキスト", "x" * 1000,
      "café naïve").foreach { s =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      assert(Sketches.hash60(s) == java.lang.Long.parseLong(hex, 16),
        s"'${s.take(20)}'")
    }
  }

  test("state is fixed-size: registers never exceed 2^b regardless of volume") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String)]
    val q = StreamingSketches
      .hllDistinctStream(in.toDF().toDF("g", "v"), "v", "g", b = 4)
      .writeStream.format("memory").queryName("hll_small")
      .outputMode("update").start()
    try {
      in.addData((1 to 500).map(i => ("g1", s"value_$i")))
      q.processAllAvailable()
      val row = spark.table("hll_small").collect().last
      // 500 distinct values through 16 registers: all 16 present, and the
      // estimate is in the right order of magnitude (raw HLL at m=16 has
      // ~26% standard error)
      assert(row.getAs[Long]("n_registers") <= 16)
      val est = row.getAs[Double]("hll_estimate")
      assert(est > 200 && est < 1200, s"estimate $est for 500 distinct")
    } finally q.stop()
  }
}
