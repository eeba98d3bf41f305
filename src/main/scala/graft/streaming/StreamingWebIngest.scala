package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Tables
import graft.ops.PersistedIndex

/** Streaming web-ingest: canonical-URL frontier dedup at the crawl edge —
  * the streaming twin of [[graft.ops.Urls.dedupByUrl]] / the first stage
  * of [[graft.ops.Curation.webIngest]]. A crawler's fetch stream is full
  * of respellings of pages it already holds (mirrors, tracking-tagged
  * links, http/https and www variants); the frontier check must happen at
  * ingest, BEFORE page bytes are stored or processed.
  */
object StreamingWebIngest {

  /** Each micro-batch of fetched pages is canonicalized
    * ([[graft.ops.Urls.canonicalize]]), deduped within the batch (min
    * `keyCol` per canonical URL — deterministic under replay), then
    * anti-joined against the persisted frontier LEDGER (a parquet set of
    * canonical URLs already accepted) by [[frontierProbe]]. The batch
    * runs the one ingest step ([[graft.ops.PersistedIndex.ingest]]):
    * unseen pages append to `acceptedSink` FIRST (with their
    * `canonical_url`), and only then their canonicals to the ledger
    * ([[appendLedger]]), so later batches — and restarted queries — see
    * them, and a crash between the two appends costs a duplicate sink row,
    * never a lost page.
    *
    * `foreachBatch`, for the [[StreamingDedup.indexedIngestDedup]]
    * reasons: the decision is a join against ledger FILES, not row-local
    * state, so the state lives in the ledger (restart = resume from
    * ledger contents, no state-store recovery; batch consumers can read
    * the same frontier between ticks), and serial micro-batches give the
    * single-writer contract the append assumes. At-least-once caveat as
    * there: a replayed batch can duplicate sink rows (ledger duplicates
    * are harmless — the anti probe only tests membership); idempotent
    * consumers key on `keyCol`. */
  def urlFrontierDedup(
      pages: DataFrame,
      ledgerPath: String,
      acceptedSink: String,
      checkpointDir: String,
      urlCol: String = "url",
      keyCol: String = "doc_id"): StreamingQuery =
    StreamingDedup.indexedIngest(pages, checkpointDir)(
      frontierProbe(_, ledgerPath, urlCol, keyCol),
      _.write.mode("append").parquet(acceptedSink),
      appendLedger(_, ledgerPath))

  /** The pages of `batch` whose canonical URL the ledger at `ledgerPath`
    * does not hold yet, one per canonical, with their `canonical_url`.
    *
    * Scale shape: canonicalization is a narrow codegen'd projection;
    * within-batch dedup aggregates the winner key per canonical on a
    * NARROW (canonical, key) projection and broadcasts the winner set
    * back onto the batch (r12 — a canonical-keyed row_number window
    * previously shuffled the whole row here, wide payload included); the
    * ledger probe is a LEFT ANTI join that AQE broadcasts while the batch
    * side is small — and since the batch is a micro-batch, it is the
    * ledger that should be the streamed side at scale (partition the
    * ledger by canonical hash and this becomes a pruned probe). The wide
    * page payload never rides a shuffle: only the canonical string and
    * the winner key ever cross one. Probe and winner joins are NULL-SAFE
    * (`<=>`): a crawler row with a NULL url canonicalizes to NULL, and a
    * null-UNSAFE anti probe would re-accept and re-ledger it every batch
    * forever. */
  def frontierProbe(batch: DataFrame, ledgerPath: String,
      urlCol: String = "url", keyCol: String = "doc_id"): DataFrame = {
    val canon = batch
      .withColumn("canonical_url", graft.ops.Urls.canonicalize(col(urlCol)))
    // winner per canonical on the NARROW projection, broadcast back —
    // the wide page payload stays put (a row_number window here would
    // shuffle whole rows on canonical_url)
    val winners = canon
      .groupBy(col("canonical_url"))
      .agg(min(col(keyCol)).as("__graft_winner_key"))
    val batchKeep = canon.join(
        broadcast(winners),
        canon("canonical_url") <=> winners("canonical_url") &&
          canon(keyCol) <=> winners("__graft_winner_key"))
      .drop(winners("canonical_url")).drop("__graft_winner_key")
      // redelivered crawl rows can share BOTH canonical_url and key;
      // the winner join keeps every such copy where a row_number
      // window kept exactly one — restore that contract. This does
      // shuffle the kept rows once, but only the post-winner
      // survivors (one canonical's worth each), not the whole batch
      // the way the old full-batch window did.
      .dropDuplicates("canonical_url", keyCol)
    // a ledger a killed compaction left set aside is put back first: a
    // missing ledger would re-accept every known URL
    if (!PersistedIndex.present(batch.sparkSession, new Path(ledgerPath)))
      batchKeep
    else {
      // NULL-SAFE membership: plain equality never matches a NULL
      // canonical, so such rows would re-accept + re-ledger forever
      val ledger = Tables.parquet(batch.sparkSession, ledgerPath)
        .select(col("canonical_url").as("__graft_seen_url"))
      batchKeep.join(ledger,
        col("canonical_url") <=> col("__graft_seen_url"), "left_anti")
    }
  }

  /** Appends the accepted pages' canonicals to the ledger. */
  def appendLedger(accepted: DataFrame, ledgerPath: String): Unit =
    accepted.select(col("canonical_url"))
      .write.mode("append").parquet(ledgerPath)

  /** Ledger maintenance: every micro-batch appends one small parquet file
    * to the frontier ledger, so a long-running query accumulates
    * file-count pathology (the classic streaming-sink operational issue).
    * Compaction reads the ledger, DEDUPLICATES the canonicals (replayed
    * at-least-once batches append duplicates — harmless for the anti
    * probe, wasteful on disk), writes them as at most `numFiles` files
    * and swaps them in through [[graft.ops.PersistedIndex.publish]], whose
    * crash repair the next probe or compaction runs. Returns (files
    * before, files after).
    *
    * Single-writer contract: run BETWEEN micro-batches (stop the query,
    * or call from the same serial foreachBatch context) — a probe racing
    * the swap could see a missing ledger and re-accept a known URL. This
    * is the same maintenance-window contract as the index rebuilds. */
  def compactLedger(
      spark: SparkSession,
      ledgerPath: String,
      numFiles: Int = 1): (Long, Long) = {
    require(numFiles > 0, "numFiles must be positive")
    val root = new Path(ledgerPath)
    if (!PersistedIndex.present(spark, root)) return (0L, 0L)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def countParquet(): Long =
      fs.listStatus(root).count(_.getPath.getName.endsWith(".parquet")).toLong
    val before = countParquet()
    PersistedIndex.publish(spark, root) { tmp =>
      Tables.parquet(spark, ledgerPath).select(col("canonical_url"))
        .distinct().coalesce(numFiles)
        .write.parquet(tmp.toString)
    }
    (before, countParquet())
  }
}
