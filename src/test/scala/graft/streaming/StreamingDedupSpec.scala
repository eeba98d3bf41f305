package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, Tables, TempDirs}

/** Streaming dedup/stats operators: exact dedup with watermark-bounded
  * state, stateless LSH band parity with the batch path, and
  * mapGroupsWithState running totals across micro-batches. */
class StreamingDedupSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def ts(m: Int) = new Timestamp(1700000000000L + m * 60000L)

  test("streaming exact dedup keeps the first fingerprint within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val docs = in.toDF().toDF("doc_id", "text", "ts")
    val deduped = StreamingDedup.exactDedup(docs, "ts", "10 minutes")
    val q = deduped.writeStream.format("memory")
      .queryName("dedup_out").outputMode("append").start()
    in.addData((1L, "alpha beta", ts(0)), (2L, "alpha beta", ts(1)),
      (3L, "gamma delta", ts(1)))
    q.processAllAvailable()
    in.addData((4L, "alpha beta", ts(2)), (5L, "epsilon", ts(3)))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dedup_out").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    // doc 2 (same batch dup) and doc 4 (cross-batch dup within the
    // watermark) are dropped; 1, 3, 5 survive
    assert(out == Set(1L, 3L, 5L))
  }

  test("indexed ingest dedup: later micro-batches see earlier batches' survivors") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_stream_idx").toString
    val idx = s"$dir/index"
    val sink = s"$dir/accepted"
    graft.ops.Dedup.writeMinhashIndex(Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "completely different corpus material right here"))
      .toDF("doc_id", "text"), idx)

    val in = MemoryStream[(Long, String)]
    val q = StreamingDedup.indexedIngestDedup(
      in.toDF().toDF("doc_id", "text"), idx, sink, s"$dir/ckpt")
    // batch 1: corpus exact dup + corpus near dup + one fresh doc
    in.addData(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "entirely novel content with no overlap at all"))
    q.processAllAvailable()
    // batch 2: exact dup of batch 1's survivor (only the updated index can
    // catch it) + one fresh doc
    in.addData(
      (4L, "entirely novel content with no overlap at all"),
      (5L, "another brand new document nothing like the others"))
    q.processAllAvailable()
    q.stop()

    val accepted = spark.read.parquet(sink).collect()
      .map(_.getLong(0)).toSet
    assert(accepted == Set(3L, 5L))
  }

  test("stateless LSH band assignment matches the batch band keys") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val embs = Tables.load(spark, sf, "embeddings")
    // the batch sign-band keys, run on a stream of the same rows
    val in = MemoryStream[(Long, Seq[Float])]
    in.addData(embs.select("vec_id", "embedding").as[(Long, Seq[Float])].collect())
    val stream = in.toDF().toDF("vec_id", "embedding")
      .withColumn("bucket", graft.ops.Similarity.lshBucket(
        col("embedding").cast("array<double>")))
      .select(col("vec_id"), explode(array(
        graft.ops.Blocking.signBandKeys(col("bucket"), 8, 4): _*)).as("band_key"))
    val q = stream.writeStream.format("memory")
      .queryName("lsh_band_keys").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("lsh_band_keys")
      .orderBy("vec_id", "band_key").collect().map(r =>
        (r.getLong(0), r.getLong(1))).toSeq
    // batch recomputation of the same keys, packed band << 32 | bv
    val batch = embs
      .withColumn("bucket", graft.ops.Similarity.lshBucket(
        col("embedding").cast("array<double>")))
      .select(col("vec_id"),
        explode(array((0 until 2).map(b => struct(lit(b).as("band"),
          shiftright(col("bucket"), b * 4).bitwiseAND(lit(15L)).as("bv"))): _*))
          .as("bk"))
      .select(col("vec_id"), col("bk.band"), col("bk.bv"))
      .collect().map(r =>
        (r.getLong(0), (r.getInt(1).toLong << 32) | r.getLong(2)))
      .sorted.toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming decontamination equals the batch scrub on the same prefix") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_stream_decon").toString
    val benchmark = Seq(
      (900L, "what is the capital of france answer paris"),
      (901L, "solve for x in two x plus three equals seven"))
      .toDF("doc_id", "text")
    val allDocs = Seq(
      (1L, "a page about geography what is the capital of france answer paris quoted verbatim"),
      (2L, "an original essay on rivers and mountains of europe"),
      (3L, "math homework help solve for x in two x plus three equals seven step by step"),
      (4L, "another clean document about cooking pasta at home"),
      (5L, "nothing to do with any benchmark at all honestly"))
    val in = MemoryStream[(Long, String)]
    val q = StreamingDedup.decontaminateIngest(
      in.toDF().toDF("doc_id", "text"), benchmark,
      s"$dir/clean", s"$dir/ckpt")
    in.addData(allDocs.take(3): _*)
    q.processAllAvailable()
    in.addData(allDocs.drop(3): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(s"$dir/clean")
      .collect().map(_.getLong(0)).toSet
    // batch twin over the same (whole-prefix) input
    val batch = graft.ops.Dedup.removeContaminated(
      allDocs.toDF("doc_id", "text"), benchmark)
      .collect().map(_.getLong(0)).toSet
    assert(streamed == batch)
    assert(streamed == Set(2L, 4L, 5L)) // 1 and 3 quote the benchmark
    // bounded state: the decision is batch-local, so the state store holds
    // no rows at all (no aggregation/join state directories with data)
    val stateDir = new java.io.File(s"$dir/ckpt/state")
    assert(!stateDir.exists() || stateDir.listFiles().isEmpty,
      "decontamination must not accumulate state-store state")
  }

  test("bloom-gated streaming decontamination equals the exact scrub " +
    "(the ns152 prefilter at ingest: blob built once, reused per batch)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_stream_decon_bloom").toString
    val benchmark = Seq(
      (900L, "what is the capital of france answer paris"))
      .toDF("doc_id", "text")
    val allDocs = Seq(
      (1L, "a page quoting what is the capital of france answer paris verbatim"),
      (2L, "an original essay on rivers and mountains of europe"),
      (3L, "another clean document about cooking pasta at home"))
    val in = MemoryStream[(Long, String)]
    val q = StreamingDedup.decontaminateIngest(
      in.toDF().toDF("doc_id", "text"), benchmark,
      s"$dir/clean", s"$dir/ckpt", bloomFpp = Some(0.01))
    in.addData(allDocs.take(2): _*)
    q.processAllAvailable()
    in.addData(allDocs.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(s"$dir/clean")
      .collect().map(_.getLong(0)).toSet
    val batch = graft.ops.Dedup.removeContaminated(
      allDocs.toDF("doc_id", "text"), benchmark)
      .collect().map(_.getLong(0)).toSet
    assert(streamed == batch)
    assert(streamed == Set(2L, 3L))
  }

  test("streaming PII scrub is row-identical to the batch scrub") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "reach me at jane.doe@corp.example.org today"),
      (2L, "server 192.168.1.254 is down call +12025550117"),
      (3L, "no pii here at all"))
    val in = MemoryStream[(Long, String)]
    val scrubbed = StreamingPrivacy.scrubPii(in.toDF().toDF("doc_id", "text"))
    val q = scrubbed.writeStream.format("memory")
      .queryName("pii_out").outputMode("append").start()
    in.addData(rows.take(2): _*)
    q.processAllAvailable()
    in.addData(rows.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("pii_out").orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    val batch = graft.ops.Privacy.scrubPii(rows.toDF("doc_id", "text"))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(streamed == batch && streamed.nonEmpty)
    // batch-only frames are rejected: the twin is explicitly for streams
    intercept[IllegalArgumentException] {
      StreamingPrivacy.scrubPii(rows.toDF("doc_id", "text"))
    }
  }

  test("mapGroupsWithState accumulates language totals across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, String)]
    val docs = in.toDF().toDF("doc_id", "text", "lang")
    val q = StreamingDedup.runningLangStats(docs).toDF()
      .writeStream.format("memory").queryName("lang_stats")
      .outputMode("update").start()
    in.addData((1L, "one two three", "en"), (2L, "uno dos", "es"))
    q.processAllAvailable()
    // a NULL text (crawler parse failure) must count 0 tokens, not
    // wedge the forever-running monitor on a poisoned offset (r12 fix:
    // size(split(NULL)) is NULL, and NULL can't encode into Long)
    in.addData((3L, "four five", "en"), (4L, null, "en"))
    q.processAllAvailable()
    q.stop()
    // last emitted row per language carries the cumulative totals
    val rows = spark.table("lang_stats").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val latest = rows.groupBy(_._1).view.mapValues(_.last).toMap
    assert(latest("en") == (("en", 3L, 5L)))
    assert(latest("es") == (("es", 1L, 2L)))
  }
}
