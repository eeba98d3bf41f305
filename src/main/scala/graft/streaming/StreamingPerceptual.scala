package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

import graft.ops.Materialize

/** Streaming counterpart of the ns82 perceptual-index lifecycle
  * ([[graft.ops.Perceptual.incrementalNewFromPhashIndex]]): continuous
  * media ingest where every micro-batch of blobs is perceptually
  * deduplicated against the corpus index PLUS everything accepted in
  * earlier batches, and its survivors are appended to both the accepted
  * sink and the index itself — the [[StreamingDedup.indexedIngestDedup]]
  * shape with the decode-once media economics: the corpus blobs were
  * decoded exactly once at index build; each batch decodes only itself.
  *
  * `foreachBatch`, for the same reasons as the minhash twin: the decision
  * is a batch band-join against index FILES, not row-local state, so the
  * state lives in the index (16 bytes/doc) instead of the state store — a
  * restarted query resumes from index contents with no state-store
  * recovery, micro-batches serialize (the single-writer-per-index
  * contract), and batch consumers can read the index between ticks.
  *
  * Exactly-once note (the r7 ADVICE ordering lesson, applied here as in
  * every ingest twin): foreachBatch is at-least-once — the SINK append
  * runs BEFORE the index append, so a crash between the two re-accepts
  * the batch on replay (duplicate sink rows; keyed-idempotent consumers
  * tolerate, and duplicate index hash rows never change a near-dup
  * decision). Index-first would let a crash filter the replayed
  * survivors out of the sink forever. */
object StreamingPerceptual {

  def indexedMediaIngestDedup(
      newMedia: DataFrame,
      indexPath: String,
      acceptedSink: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    newMedia.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        // the scope frees the batch's snapshots, so a forever-running
        // query does not retain a copy of every accepted batch's hashes
        Materialize.scope {
          // snapshot before the append: the survivor plan band-joins the
          // same index files the append rewrites
          val survivors = Materialize.local(graft.ops.Perceptual
            .incrementalNewFromPhashIndex(batch.toDF(), indexPath),
            eager = true)
          if (!survivors.isEmpty) {
            survivors.write.mode("append").parquet(acceptedSink)
            graft.ops.Perceptual.updatePhashIndex(survivors, indexPath)
          }
        }
      }
      .start()

  /** VERIFIED twin (VERDICT r12 #5): the lifecycle above with the ns151
    * verify-by-content stage in the probe — a batch doc is rejected only
    * if some (corpus + earlier-accepted) doc is hamming-close AND its
    * 72-cell luminance grid agrees (SAD ≤ `maxSad`), so coincidental
    * dHash neighbors (73% of candidates at the measured 100× decade) no
    * longer suppress genuinely-new media. The verify logic is
    * [[graft.ops.Perceptual.sadVerify]] — the ONE definition the batch
    * operator uses — so stream and batch decisions cannot drift; the
    * index carries (phash, grid) (~300 B/doc vs 16) and each batch still
    * decodes exactly once (its grids ride into the index append).
    * foreachBatch + sink-before-index ordering: same at-least-once
    * rationale as the unverified twin above. */
  def indexedMediaIngestDedupVerified(
      newMedia: DataFrame,
      indexPath: String,
      acceptedSink: String,
      checkpointDir: String,
      maxHamming: Int = 3,
      bands: Int = 4,
      maxSad: Long = 720L): org.apache.spark.sql.streaming.StreamingQuery =
    newMedia.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        Materialize.scope {
          val survivors = Materialize.local(graft.ops.Perceptual
            .incrementalNewFromGridIndex(batch.toDF(), indexPath,
              maxHamming, bands, maxSad), eager = true)
          if (!survivors.isEmpty) {
            // the sink gets ids + hashes; grids stay an index concern
            survivors.select("doc_id", "phash")
              .write.mode("append").parquet(acceptedSink)
            graft.ops.Perceptual.updateGridIndex(survivors, indexPath)
          }
        }
      }
      .start()
}
