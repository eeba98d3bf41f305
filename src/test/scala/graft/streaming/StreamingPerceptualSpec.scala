package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, TempDirs}
import graft.ops.Perceptual

/** The streaming perceptual-ingest twin: later micro-batches must be
  * deduplicated against earlier batches' ACCEPTED media — the index
  * update inside the foreachBatch loop is load-bearing, exactly as in
  * the batch ns82 lifecycle. */
class StreamingPerceptualSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  test("indexed media ingest: later batches see earlier acceptances") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_stream_phash").toString
    val idx = s"$dir/index"
    val sink = s"$dir/accepted"

    val a = Array.tabulate[Byte](300)(i => ((i * 37 + 11) % 251).toByte)
    val aEdit = a.clone(); aEdit(50) = 0x7f
    val b = Array.tabulate[Byte](300)(i => ((i * i * 13 + 7) % 241).toByte)
    val bEdit = b.clone(); bEdit(120) = 0x01
    val c = Array.tabulate[Byte](300)(i => ((i * 61 + 5) % 233).toByte)
    // fixture sanity: a/b/c mutually far, edits near their originals
    // (hashes via the public decode path)
    val hs = Perceptual.dhash63(
        Seq((0L, a), (1L, b), (2L, c), (3L, bEdit)).toDF("doc_id", "content"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((x, y) <- Seq((0L, 1L), (0L, 2L), (1L, 2L)))
      assert(java.lang.Long.bitCount(hs(x) ^ hs(y)) > 6)
    assert(java.lang.Long.bitCount(hs(1L) ^ hs(3L)) <= 3)

    Perceptual.writePhashIndex(
      Seq((100L, a)).toDF("doc_id", "content"), idx)

    val in = MemoryStream[(Long, Array[Byte])]
    val q = StreamingPerceptual.indexedMediaIngestDedup(
      in.toDF().toDF("doc_id", "content"), idx, sink, s"$dir/ckpt")
    // batch 1: near-dup of the corpus (rejected) + one fresh blob
    in.addData((1L, aEdit), (2L, b))
    q.processAllAvailable()
    // batch 2: near-dup of batch 1's ACCEPTANCE (only the updated index
    // can catch it) + one fresh blob
    in.addData((3L, bEdit), (4L, c))
    q.processAllAvailable()
    q.stop()

    val accepted = spark.read.parquet(sink).collect()
      .map(_.getLong(0)).toSet
    assert(accepted == Set(2L, 4L))
    // and the index now carries corpus + both acceptances
    assert(spark.read.parquet(s"$idx/hashes").count() == 3L)
  }

  test("VERIFIED ingest: stream decisions equal the batch verified pair " +
    "set replayed in arrival order, and a coincidental dHash neighbor " +
    "survives (VERDICT r12 #5 stream-batch equivalence)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_stream_grid").toString
    val idx = s"$dir/index"
    val sink = s"$dir/accepted"

    // base bytes stay ≤ 95 so the +120 shift can't wrap: the shifted blob
    // keeps every stride-sampled gradient comparison (IDENTICAL dHash,
    // hamming 0 — always a band candidate) while every one of the 72
    // cells moves by 120 (SAD 8640 ≫ 720) — the coincidental-neighbor
    // class the unverified probe wrongly rejects and the verify stage
    // exists to save
    val base = Array.tabulate[Byte](300)(i => ((i * 37 + 11) % 96).toByte)
    val shifted = base.map(b => (b + 120).toByte)
    val nearDup = base.clone() // true near-dup: one sampled cell +3
    nearDup(50) = (nearDup(50) + 3).toByte
    val fresh =
      Array.tabulate[Byte](300)(i => ((i * i * 13 + 7) % 241).toByte)
    val freshEdit = fresh.clone()
    freshEdit(100) = (freshEdit(100) + 2).toByte
    val shiftedEdit = shifted.clone()
    shiftedEdit(200) = (shiftedEdit(200) + 2).toByte

    // fixture sanity via the PUBLIC decode path: the shift preserves the
    // hash; the true near-dups stay inside (maxHamming, maxSad); fresh is
    // band-far from base so no cross-candidates muddy the replay
    val sig = Perceptual.gridHashes(
        Seq((0L, base), (1L, shifted), (2L, nearDup), (3L, fresh),
          (4L, freshEdit), (5L, shiftedEdit))
          .toDF("doc_id", "content"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getSeq[Int](2))).toMap
    def ham(a: Long, b: Long) =
      java.lang.Long.bitCount(sig(a)._1 ^ sig(b)._1)
    def sad(a: Long, b: Long) =
      sig(a)._2.zip(sig(b)._2).map { case (x, y) => math.abs(x - y) }.sum
    assert(ham(0L, 1L) == 0 && sad(0L, 1L) > 720, (ham(0L, 1L), sad(0L, 1L)))
    assert(ham(0L, 2L) <= 3 && sad(0L, 2L) <= 720, (ham(0L, 2L), sad(0L, 2L)))
    assert(ham(3L, 4L) <= 3 && sad(3L, 4L) <= 720)
    assert(ham(1L, 5L) <= 3 && sad(1L, 5L) <= 720)
    assert(ham(0L, 3L) > 3 && ham(1L, 3L) > 3)

    Perceptual.writeGridIndex(Seq((100L, base)).toDF("doc_id", "content"),
      idx)

    val in = MemoryStream[(Long, Array[Byte])]
    val q = StreamingPerceptual.indexedMediaIngestDedupVerified(
      in.toDF().toDF("doc_id", "content"), idx, sink, s"$dir/ckpt")
    // batch 1: the coincidental neighbor (MUST survive the verify), the
    // true near-dup of the corpus (rejected), one fresh blob (accepted)
    in.addData((1L, shifted), (2L, nearDup), (3L, fresh))
    q.processAllAvailable()
    // batch 2: near-dups of batch 1's ACCEPTANCES — only the updated grid
    // index can reject them
    in.addData((4L, freshEdit), (5L, shiftedEdit))
    q.processAllAvailable()
    q.stop()

    val accepted = spark.read.parquet(sink).collect()
      .map(_.getLong(0)).toSet
    assert(accepted == Set(1L, 3L))

    // ---- stream-batch equivalence: replay the BATCH operator's verified
    // pair set (nearDupPairsVerified — same `sad` definition) in
    // arrival order and demand the identical acceptance set. Within a
    // batch, decisions are against accepted-so-far only (new × index),
    // exactly what the incremental probe computes.
    val pairs = Perceptual.nearDupPairsVerified(
        Seq((100L, base), (1L, shifted), (2L, nearDup), (3L, fresh),
          (4L, freshEdit), (5L, shiftedEdit))
          .toDF("doc_id", "content"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def dup(a: Long, b: Long) =
      pairs((math.min(a, b), math.max(a, b)))
    var replay = Set(100L)
    for (batch <- Seq(Seq(1L, 2L, 3L), Seq(4L, 5L))) {
      val newly = batch.filter(d => !replay.exists(e => dup(d, e)))
      replay ++= newly
    }
    assert(replay - 100L == accepted,
      s"stream $accepted vs batch replay ${replay - 100L}")

    // the grid index now carries corpus + both acceptances, grids included
    val idxRows = spark.read.parquet(s"$idx/hashes")
    assert(idxRows.count() == 3L &&
      idxRows.columns.toSet == Set("doc_id", "phash", "grid"))

    // and the UNVERIFIED probe would have rejected doc 1 — the verify
    // stage is load-bearing, not decorative
    val phashIdx = s"$dir/phash_index"
    Perceptual.writePhashIndex(Seq((100L, base)).toDF("doc_id", "content"),
      phashIdx)
    val unverified = Perceptual.incrementalNewFromPhashIndex(
        Seq((1L, shifted)).toDF("doc_id", "content"), phashIdx)
      .collect().map(_.getLong(0)).toSet
    assert(unverified.isEmpty)

    // a hash-only index cannot back the verified probe (fail-fast)
    val e = intercept[IllegalArgumentException] {
      Perceptual.incrementalNewFromGridIndex(
        Seq((9L, fresh)).toDF("doc_id", "content"), phashIdx)
    }
    assert(e.getMessage.contains("not a grid index"))
  }
}
