package graft.streaming

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, Tables, TempDirs}
import graft.config.{Filter, TableConfig}

/** Streaming anonymise mode: same config, same deterministic fakers, now
  * over `readStream`. The key property is batch/stream EQUIVALENCE — the
  * deterministic seeded fakers make the streamed output byte-identical to
  * the batch [[graft.anonymise.Anonymiser]] on the same rows, which is what
  * makes replay/reprocessing idempotent (SURVEY §7.4.1). */
class StreamingStealSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private val cfg = TableConfig("customer",
    filter = Filter("c_acctbal > 1000"),
    anonymise = Seq("c_name" -> "FullName", "c_mktsegment" -> "literal:REDACTED"))

  test("streamed anonymise equals batch anonymise on the same input") {
    val tmp = tempDir("graft-stream").toString
    val src = Tables.load(spark, sf, "customer")

    // stage the table as a streaming source dir (one initial file batch)
    src.write.parquet(s"$tmp/src/customer.parquet")
    val schema = spark.read.parquet(s"$tmp/src/customer.parquet").schema

    val stream = StreamingSteal.stream(
      spark, s"$tmp/src", cfg, schema, keyColumns = Seq("c_custkey"))
    assert(stream.isStreaming)
    StreamingSteal.start(stream, s"$tmp/out", "customer", s"$tmp/ckpt")
      .awaitTermination()

    val streamed = spark.read.parquet(s"$tmp/out/customer.parquet")
    val batch = graft.anonymise.Anonymiser(
      src.where("c_acctbal > 1000"), cfg, keyColumns = Seq("c_custkey"))

    val a = streamed.orderBy("c_custkey").collect().toSeq
    val b = batch.orderBy("c_custkey").collect().toSeq
    assert(a.nonEmpty && a == b)
    // literal + faker actually applied
    assert(streamed.select("c_mktsegment").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("REDACTED"))
    assert(streamed.where(col("c_name").rlike("^[A-Z]")).count() ==
      streamed.count())
  }

  test("late-arriving files are processed incrementally, not reprocessed") {
    val tmp = tempDir("graft-stream2").toString
    val src = Tables.load(spark, sf, "nation")
    val part1 = src.where("n_nationkey < 10")
    val part2 = src.where("n_nationkey >= 10")

    part1.write.parquet(s"$tmp/src/nation.parquet")
    val schema = spark.read.parquet(s"$tmp/src/nation.parquet").schema
    val tcfg = TableConfig("nation", anonymise = Seq("n_name" -> "Country"))

    def runOnce(): Unit =
      StreamingSteal.start(
        StreamingSteal.stream(spark, s"$tmp/src", tcfg, schema,
          keyColumns = Seq("n_nationkey")),
        s"$tmp/out", "nation", s"$tmp/ckpt").awaitTermination()

    runOnce()
    val n1 = spark.read.parquet(s"$tmp/out/nation.parquet").count()
    assert(n1 == part1.count())

    // second batch of files lands; checkpoint resumes where it left off
    part2.write.mode("append").parquet(s"$tmp/src/nation.parquet")
    runOnce()
    val out = spark.read.parquet(s"$tmp/out/nation.parquet")
    assert(out.count() == src.count()) // no duplication from reprocessing
    assert(out.select("n_nationkey").distinct().count() == src.count())
  }

  test("exactly-once JDBC sink: epoch ledger makes replayed epochs no-ops") {
    import graft.sinks.{JdbcSink, JdbcSinkConfig}
    val url = "jdbc:derby:memory:graft_stream_x1;create=true"
    val jcfg = JdbcSinkConfig(url, "customer_cdc")
    val tmp = tempDir("graft-stream3").toString
    val src = Tables.load(spark, sf, "customer")
    src.write.parquet(s"$tmp/src/customer.parquet")
    val schema = spark.read.parquet(s"$tmp/src/customer.parquet").schema

    // stream → anonymise → transactional per-epoch JDBC load on live Derby
    StreamingSteal.startJdbc(
      StreamingSteal.stream(spark, s"$tmp/src", cfg, schema,
        keyColumns = Seq("c_custkey")),
      jcfg, s"$tmp/ckpt").awaitTermination()

    def loaded = spark.read.jdbc(url, "customer_cdc",
      new java.util.Properties())
    val batch = graft.anonymise.Anonymiser(
      src.where("c_acctbal > 1000"), cfg, keyColumns = Seq("c_custkey"))
    val n = batch.count()
    assert(n > 0 && loaded.count() == n)
    // value-level equivalence with the batch path survives the JDBC hop
    assert(loaded.orderBy("c_custkey").select("c_name").collect().toSeq ==
      batch.orderBy("c_custkey").select("c_name").collect().toSeq)

    // the crash-replay window: foreachBatch re-delivers the LAST epoch
    // with the same id — the ledger must turn it into a no-op
    val replay = batch.limit(10)
    assert(!JdbcSink.writeEpoch(replay, jcfg, epochId = 0L))
    assert(loaded.count() == n)
    // a NEW epoch still applies...
    assert(JdbcSink.writeEpoch(replay, jcfg, epochId = 1L))
    assert(loaded.count() == n + 10)
    // ...exactly once, under its own replays
    assert(!JdbcSink.writeEpoch(replay, jcfg, epochId = 1L))
    assert(loaded.count() == n + 10)

    // crash-before-commit window: a partially-written staging table from
    // a failed attempt is discarded, never appended into
    replay.write.mode("append").jdbc(url, "customer_cdc_graft_epoch",
      new java.util.Properties())
    assert(JdbcSink.writeEpoch(replay, jcfg, epochId = 2L))
    assert(loaded.count() == n + 20)
  }
}
