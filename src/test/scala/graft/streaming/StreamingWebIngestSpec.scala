package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, TempDirs}

/** Streaming canonical-URL frontier dedup: within-batch respellings
  * collapse, cross-batch respellings are stopped by the persisted ledger,
  * and a restarted query resumes from ledger contents alone. */
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

  test("recoverLedger repairs every crash window of the compaction swap") {
    import spark.implicits._
    val dir = tempDir("graft_frontier_rec").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def writeLedger(path: String, urls: String*): Unit =
      urls.toDF("canonical_url").coalesce(1)
        .write.mode("overwrite").parquet(path)
    def readLedger(path: String): Set[String] =
      spark.read.parquet(path).collect().map(_.getString(0)).toSet

    // window 1: staging written, aside-rename not yet done → root intact,
    // staging is redundant and must be dropped (not promoted: root may
    // have newer appends than the staged snapshot)
    val l1 = s"$dir/ledger1"
    writeLedger(l1, "a", "b")
    writeLedger(s"$dir/.ledger1_compact_staging", "a")
    StreamingWebIngest.recoverLedger(fs, p(l1))
    assert(readLedger(l1) == Set("a", "b"))
    assert(!fs.exists(p(s"$dir/.ledger1_compact_staging")))

    // window 2: died between the two renames → root missing, root_old +
    // staging both present; staging (complete compacted copy) is promoted
    val l2 = s"$dir/ledger2"
    writeLedger(s"$dir/.ledger2_compact_old", "a", "a", "b")
    writeLedger(s"$dir/.ledger2_compact_staging", "a", "b")
    StreamingWebIngest.recoverLedger(fs, p(l2))
    assert(readLedger(l2) == Set("a", "b"))
    assert(!fs.exists(p(s"$dir/.ledger2_compact_old")))
    assert(!fs.exists(p(s"$dir/.ledger2_compact_staging")))

    // window 3: died right after the aside-rename (staging already
    // promoted in a previous recovery, or lost) → root_old restored
    val l3 = s"$dir/ledger3"
    writeLedger(s"$dir/.ledger3_compact_old", "x", "y")
    StreamingWebIngest.recoverLedger(fs, p(l3))
    assert(readLedger(l3) == Set("x", "y"))

    // steady state: recovery is a no-op
    StreamingWebIngest.recoverLedger(fs, p(l3))
    assert(readLedger(l3) == Set("x", "y"))

    // and compactLedger itself recovers before compacting: a leftover
    // root_old from a crashed swap doesn't lose the ledger
    val l4 = s"$dir/ledger4"
    writeLedger(s"$dir/.ledger4_compact_old", "u", "u", "v")
    val (nb, na) = StreamingWebIngest.compactLedger(spark, l4)
    assert(nb == 1 && na == 1, s"$nb -> $na")
    assert(readLedger(l4) == Set("u", "v"))
  }
}
