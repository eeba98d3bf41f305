package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.Perceptual

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
  * Both twins run the one ingest step
  * ([[graft.ops.PersistedIndex.ingest]]), sink before index; duplicate
  * index hash rows from a replayed batch never change a near-dup
  * decision. */
object StreamingPerceptual {

  def indexedMediaIngestDedup(
      newMedia: DataFrame,
      indexPath: String,
      acceptedSink: String,
      checkpointDir: String): StreamingQuery =
    StreamingDedup.indexedIngest(newMedia, checkpointDir)(
      Perceptual.incrementalNewFromPhashIndex(_, indexPath),
      _.write.mode("append").parquet(acceptedSink),
      Perceptual.updatePhashIndex(_, indexPath))

  /** VERIFIED twin (VERDICT r12 #5): the lifecycle above with the ns151
    * verify-by-content stage in the probe — a batch doc is rejected only
    * if some (corpus + earlier-accepted) doc is hamming-close AND its
    * 72-cell luminance grid agrees (SAD ≤ `maxSad`), so coincidental
    * dHash neighbors (73% of candidates at the measured 100× decade) no
    * longer suppress genuinely-new media. The grid distance is
    * [[graft.ops.Perceptual.sad]] — the ONE definition the batch
    * operator uses — so stream and batch decisions cannot drift; the
    * index carries (phash, grid) (~300 B/doc vs 16) and each batch still
    * decodes exactly once (its grids ride into the index append). The
    * sink gets ids and hashes; grids stay an index concern. */
  def indexedMediaIngestDedupVerified(
      newMedia: DataFrame,
      indexPath: String,
      acceptedSink: String,
      checkpointDir: String,
      maxHamming: Int = 3,
      bands: Int = 4,
      maxSad: Long = 720L): StreamingQuery =
    StreamingDedup.indexedIngest(newMedia, checkpointDir)(
      Perceptual.incrementalNewFromGridIndex(_, indexPath,
        maxHamming, bands, maxSad),
      _.select("doc_id", "phash").write.mode("append").parquet(acceptedSink),
      Perceptual.updateGridIndex(_, indexPath))
}
