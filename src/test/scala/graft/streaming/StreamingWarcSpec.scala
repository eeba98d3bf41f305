package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, TempDirs}
import graft.ops.WarcSynth

/** Streaming WARC ingest: stream-over-batches must equal batch-over-union
  * (statelessness is the contract), and a corrupt blob mid-stream keeps
  * the query alive while still yielding its parseable prefix. */
class StreamingWarcSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  test("two micro-batches of WARC files produce exactly the batch " +
    "operator's records over the union") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_warc_s").toString

    val fileA = WarcSynth.warcOf(Seq(1L -> "alpha", 2L -> "beta"))
    val fileB = WarcSynth.warcOf(Seq(3L -> "gamma"))
    val fileC = WarcSynth.warcOf(Seq(4L -> "delta", 5L -> "epsilon"))

    val in = MemoryStream[(Long, Array[Byte])]
    val q = graft.ops.Warc.records(in.toDF().toDF("warc_id", "content"))
      .writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()
    in.addData((10L, fileA), (20L, fileB))
    q.processAllAvailable()
    in.addData((30L, fileC))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.read.parquet(s"$dir/out")
      .select("warc_id", "rec_idx", "offset", "target_uri", "payload_sum")
      .collect().map(_.toSeq).toSet
    val batch = graft.ops.Warc.records(
      Seq((10L, fileA), (20L, fileB), (30L, fileC))
        .toDF("warc_id", "content"))
      .select("warc_id", "rec_idx", "offset", "target_uri", "payload_sum")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.size == 5, streamed)
  }

  test("a corrupt blob mid-stream keeps the query alive and yields its " +
    "parseable prefix; later batches are unaffected") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_warc_c").toString

    val good = WarcSynth.warcOf(Seq(7L -> "seven"))
    val corrupt = WarcSynth.warcOf(Seq(8L -> "eight", 9L -> "nine"))
      .dropRight(8) // truncated tail: record 0 parses, record 1 doesn't

    val in = MemoryStream[(Long, Array[Byte])]
    val q = graft.ops.Warc.records(in.toDF().toDF("warc_id", "content"))
      .writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()
    in.addData((1L, corrupt))
    q.processAllAvailable()
    in.addData((2L, good))
    q.processAllAvailable()
    q.stop()

    val rows = spark.read.parquet(s"$dir/out")
      .select("warc_id", "target_uri").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set(
      1L -> WarcSynth.url(8L), // the corrupt file's parseable prefix
      2L -> WarcSynth.url(7L)), rows)
  }
}
