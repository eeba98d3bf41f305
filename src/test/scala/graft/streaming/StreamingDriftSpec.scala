package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, TempDirs}

/** Streaming drift monitor: with a sketch wide enough that the CMS is
  * exact on the fixture vocabulary, the live drift read-off must equal
  * the batch [[graft.ops.Versioning.tokenDrift]] bit-for-bit — counts,
  * metric, ranking, tie-breaks. */
class StreamingDriftSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  test("live CMS drift equals batch tokenDrift on a collision-free vocab") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_drift").toString
    val refPath = s"$dir/ref_sketch"

    // accepted corpus: common words dominate; incoming crawl: a spam burst
    val before = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the dog sleeps and the fox runs"),
      (3L, "quick brown dogs and lazy foxes")).toDF("doc_id", "text")
    val afterTick1 = Seq(
      (4L, "the quick brown fox"),
      (5L, "buy pills buy pills buy pills")).toDF("doc_id", "text")
    val afterTick2 = Seq(
      (6L, "buy cheap pills now buy now"),
      (7L, "the lazy dog sleeps")).toDF("doc_id", "text")
    val after = afterTick1.unionByName(afterTick2)

    // freeze the reference sketch (wide: 20-ish tokens in 4096 buckets ->
    // exact counts, deterministically — md5 buckets never change)
    graft.ops.Sketches.writeCmsSketch(
      before.select(explode(split(col("text"), " ")).as("token")),
      refPath, "token", depth = 4, width = 4096)

    // stream the incoming side through the pinned-param cell stream
    val in = MemoryStream[(Long, String)]
    val q = StreamingDrift.tokenCellsStream(
        in.toDF().toDF("doc_id", "text"), refPath)
      .writeStream.format("memory").queryName("drift_cells")
      .outputMode("update").start()
    try {
      in.addData(afterTick1.as[(Long, String)].collect().toSeq)
      q.processAllAvailable()
      in.addData(afterTick2.as[(Long, String)].collect().toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val liveCells = spark.table("drift_cells").collect().zipWithIndex
      .groupBy(r => (r._1.getInt(0), r._1.getLong(1)))
      .map { case ((row, bucket), rs) =>
        (row, bucket, rs.maxBy(_._2)._1.getLong(2)) }
      .toSeq.toDF("row", "bucket", "cnt")

    val candidates = before.unionByName(after)
      .select(explode(split(col("text"), " ")).as("token")).distinct()
    val streamed = StreamingDrift.driftTopK(
        spark, refPath, liveCells, candidates, topK = 50)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val batch = graft.ops.Versioning.tokenDrift(before, after, topK = 50)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(streamed.toSeq == batch.toSeq)
    // the spam tokens must actually rank at the top — the alarm this
    // operator exists to raise
    assert(Set(batch.head._2, batch(1)._2).subsetOf(
      Set("buy", "pills", "the", "now")))
  }
}
