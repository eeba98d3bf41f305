package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, TempDirs}
import graft.ops.PublishKillFs

/** Streaming canonical-URL frontier dedup: within-batch respellings
  * collapse, cross-batch respellings are stopped by the persisted ledger,
  * a restarted query resumes from ledger contents alone, and a compaction
  * killed mid-swap loses no ledger. */
class StreamingWebIngestSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  test("url frontier dedup: within-batch, cross-batch, and post-restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_frontier").toString
    val ledger = s"$dir/ledger"
    val sink = s"$dir/accepted"

    val in = MemoryStream[(Long, String)]
    val q = StreamingWebIngest.urlFrontierDedup(
      in.toDF().toDF("doc_id", "url"), ledger, sink, s"$dir/ckpt")
    // batch 1: two spellings of /p (within-batch dup) + one fresh page
    in.addData(
      (1L, "https://www.s.example.org/p?b=2&a=1"),
      (2L, "https://s.example.org/p/?a=1&b=2&utm_source=x"),
      (3L, "https://s.example.org/q"))
    q.processAllAvailable()
    // batch 2: third spelling of /p (cross-batch dup, only the ledger
    // knows) + one fresh page + a NULL url (canonicalizes to NULL — the
    // null-SAFE probe must accept it ONCE here and never again)
    in.addData(
      (4L, "HTTPS://s.example.org:443/p?a=1&b=2#frag"),
      (5L, "https://s.example.org/r"),
      (60L, null))
    q.processAllAvailable()
    // batch 3: a second NULL url — already ledgered, must NOT re-accept
    in.addData((61L, null))
    q.processAllAvailable()
    q.stop()

    val accepted = spark.read.parquet(sink)
      .select("doc_id", "canonical_url").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(accepted == Map(
      1L -> "https://s.example.org/p?a=1&b=2",
      3L -> "https://s.example.org/q",
      5L -> "https://s.example.org/r",
      60L -> null))

    // a NEW query (fresh checkpoint) sharing only the ledger still
    // refuses the frontier's known canonicals: state lives in the ledger
    val in2 = MemoryStream[(Long, String)]
    val q2 = StreamingWebIngest.urlFrontierDedup(
      in2.toDF().toDF("doc_id", "url"), ledger, sink, s"$dir/ckpt2")
    in2.addData(
      (6L, "https://s.example.org/p?b=2&a=1"), // ledger dup
      (7L, "https://s.example.org/new"))
    q2.processAllAvailable()
    q2.stop()
    val after = spark.read.parquet(sink).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(after == Set(1L, 3L, 5L, 7L, 60L))

    // maintenance: compaction collapses the per-batch appends to one
    // deduped file, and the frontier still refuses known canonicals
    val beforeSet = spark.read.parquet(ledger)
      .select("canonical_url").collect().map(_.getString(0)).toSet
    val (nBefore, nAfter) =
      StreamingWebIngest.compactLedger(spark, ledger)
    assert(nBefore >= 3 && nAfter == 1, s"$nBefore -> $nAfter")
    val afterSet = spark.read.parquet(ledger)
      .select("canonical_url").collect().map(_.getString(0)).toSet
    assert(afterSet == beforeSet)
    val in3 = MemoryStream[(Long, String)]
    val q3 = StreamingWebIngest.urlFrontierDedup(
      in3.toDF().toDF("doc_id", "url"), ledger, sink, s"$dir/ckpt3")
    in3.addData((8L, "https://www.s.example.org/new?utm_source=z")) // known
    q3.processAllAvailable()
    q3.stop()
    val finalIds = spark.read.parquet(sink).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(finalIds == Set(1L, 3L, 5L, 7L, 60L)) // 8 refused off the compacted ledger
  }

  test("redelivered duplicate rows (same doc_id AND url) in one batch " +
    "sink exactly one row — the winner join alone keeps every copy") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir =
      tempDir("graft_frontier_dup").toString
    val in = MemoryStream[(Long, String)]
    val q = StreamingWebIngest.urlFrontierDedup(
      in.toDF().toDF("doc_id", "url"),
      s"$dir/ledger", s"$dir/accepted", s"$dir/ckpt")
    // at-least-once sources redeliver: three byte-identical copies of
    // doc 1 + one respelling that loses the winner race anyway
    in.addData(
      (1L, "https://s.example.org/p"),
      (1L, "https://s.example.org/p"),
      (1L, "https://s.example.org/p"),
      (9L, "https://www.s.example.org/p/"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(s"$dir/accepted")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(rows == Seq(1L), s"expected exactly one row for doc 1, got $rows")
  }

  test("a ledger compaction killed mid-swap is put back by the next probe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_frontier_kill").toString
    val ledger = PublishKillFs.path(spark, s"$dir/ledger")
    val sink = s"$dir/accepted"
    def ingest(ckpt: String, pages: (Long, String)*): Unit = {
      val in = MemoryStream[(Long, String)]
      val q = StreamingWebIngest.urlFrontierDedup(
        in.toDF().toDF("doc_id", "url"), ledger, sink, s"$dir/$ckpt")
      in.addData(pages: _*)
      q.processAllAvailable()
      q.stop()
    }
    def accepted() = spark.read.parquet(sink).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    ingest("ckpt1", (1L, "https://s.example.org/p"))
    ingest("ckpt2", (2L, "https://s.example.org/q"))
    // the swap dies after the ledger moved aside, before the compacted
    // copy moved in: no ledger is left at its path
    PublishKillFs.killing(
      intercept[Exception](StreamingWebIngest.compactLedger(spark, ledger)))
    // the next probe still refuses both known canonicals
    ingest("ckpt3", (3L, "https://www.s.example.org/p/"),
      (4L, "https://s.example.org/q?utm_source=z"),
      (5L, "https://s.example.org/new"))
    assert(accepted() == Set(1L, 2L, 5L))
    // killed again, this time followed by a compaction, which puts the
    // ledger back, clears what the kill left and goes through
    PublishKillFs.killing(
      intercept[Exception](StreamingWebIngest.compactLedger(spark, ledger)))
    val (nBefore, nAfter) = StreamingWebIngest.compactLedger(spark, ledger)
    assert(nBefore >= 3 && nAfter == 1, s"$nBefore -> $nAfter")
    assert(spark.read.parquet(ledger).select("canonical_url").collect()
      .map(_.getString(0)).toSet == Set("https://s.example.org/p",
        "https://s.example.org/q", "https://s.example.org/new"))
    val left = new java.io.File(dir).list().filter(_.startsWith(".ledger"))
    assert(left.isEmpty, left.toSeq)
  }
}
