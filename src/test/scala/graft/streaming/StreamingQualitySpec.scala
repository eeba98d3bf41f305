package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, Tables}

/** Streaming model-based quality filter: the stateless inline classifier
  * must score a stream exactly as the batch operators score the same
  * corpus — across micro-batch boundaries, with zero state. */
class StreamingQualitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("inline classifier is bit-equal to the batch broadcast-join form") {
    val docs = Tables.load(spark, sf, "documents")
    val join = graft.ops.Quality.classifierScore(docs)
      .collect().map(_.toString).sorted.toSeq
    val inline = graft.ops.Quality.classifierScoreInline(docs)
      .collect().map(_.toString).sorted.toSeq
    assert(inline == join)
  }

  test("stream scoring across micro-batches equals batch scoring") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "the quick brown fox"), (2L, "jumps over the lazy dog"),
      (3L, "zz yy xx ww"), (4L, "the the the the"))
    val in = MemoryStream[(Long, String)]
    val q = graft.ops.Quality
      .classifierScoreInline(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("quality_out")
      .outputMode("append").start()
    in.addData(rows.take(2): _*)
    q.processAllAvailable()
    in.addData(rows.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("quality_out")
      .collect().map(_.toString).sorted.toSeq
    val batch = graft.ops.Quality.classifierScore(
        rows.toDF("doc_id", "text"))
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch)
  }

  test("stream scoring holds no state (no state store operators)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = graft.ops.Quality
      .classifierScoreInline(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("quality_stateless")
      .outputMode("append").start()
    in.addData((1L, "hello world"))
    q.processAllAvailable()
    val progress = q.lastProgress
    q.stop()
    assert(progress.stateOperators.isEmpty,
      s"expected stateless query, got ${progress.stateOperators.length} " +
        "state operators")
  }
}
