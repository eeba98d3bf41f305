package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Materialize

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
    * canonical URLs already accepted). Unseen pages append to
    * `acceptedSink` FIRST (with their `canonical_url`), and only then
    * their canonicals to the ledger, so later batches — and restarted
    * queries — see them. The order is load-bearing for at-least-once: a
    * crash between the two appends leaves the sink row written but the
    * canonical un-ledgered, so the replayed batch re-accepts it — a
    * duplicate sink row, which the idempotent-consumer contract below
    * already tolerates. The reverse order would ledger-then-crash, and
    * the replayed batch's anti probe would drop the page forever.
    *
    * `foreachBatch`, for the [[StreamingDedup.indexedIngestDedup]]
    * reasons: the decision is a join against ledger FILES, not row-local
    * state, so the state lives in the ledger (restart = resume from
    * ledger contents, no state-store recovery; batch consumers can read
    * the same frontier between ticks), and serial micro-batches give the
    * single-writer contract the append assumes. At-least-once caveat as
    * there: a replayed batch can duplicate sink rows (ledger duplicates
    * are harmless — the anti probe only tests membership); idempotent
    * consumers key on `keyCol`.
    *
    * Scale shape per batch: canonicalization is a narrow codegen'd
    * projection; within-batch dedup aggregates the winner key per
    * canonical on a NARROW (canonical, key) projection and broadcasts
    * the winner set back onto the batch (r12 — a canonical-keyed
    * row_number window previously shuffled the whole row here, wide
    * payload included); the ledger probe is a LEFT ANTI join that AQE
    * broadcasts while the batch side is small — and since the batch is a
    * micro-batch, it is the ledger that should be the streamed side at
    * scale (partition the ledger by canonical hash and this becomes a
    * pruned probe). The wide page payload never rides a shuffle: only
    * the canonical string and the winner key ever cross one. Probe and
    * winner joins are NULL-SAFE (`<=>`): a crawler row with a NULL url
    * canonicalizes to NULL, and a null-UNSAFE anti probe would re-accept
    * and re-ledger it every batch forever. */
  /** Ledger maintenance: every micro-batch appends one small parquet file
    * to the frontier ledger, so a long-running query accumulates
    * file-count pathology (the classic streaming-sink operational issue).
    * Compaction reads the ledger, DEDUPLICATES the canonicals (replayed
    * at-least-once batches append duplicates — harmless for the anti
    * probe, wasteful on disk), rewrites them as `numFiles` files in a
    * staging dir, and swaps it in. Returns (files before, files after).
    *
    * Single-writer contract: run BETWEEN micro-batches (stop the query,
    * or call from the same serial foreachBatch context) — the swap is
    * rename-based, and a probe racing it could see a missing ledger and
    * re-accept a known URL. This is the same maintenance-window contract
    * as the minhash/IVF index rebuilds.
    *
    * Crash safety: the swap never leaves a window with NO ledger copy.
    * Protocol: write staging → rename root aside (`root_old`) → rename
    * staging into place → delete `root_old`. A crash at any point leaves
    * at least one complete copy on disk, and [[recoverLedger]] (called at
    * compaction entry and by every frontier probe) promotes it back to
    * `root` before anything reads or deletes. */
  def compactLedger(
      spark: org.apache.spark.sql.SparkSession,
      ledgerPath: String,
      numFiles: Int = 1): (Long, Long) = {
    require(numFiles > 0, "numFiles must be positive")
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(ledgerPath)
    val fs = root.getFileSystem(hconf)
    recoverLedger(fs, root)
    if (!fs.exists(root)) return (0L, 0L)
    def countParquet(p: org.apache.hadoop.fs.Path): Long =
      fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet")).toLong
    val before = countParquet(root)
    val staging = stagingPath(root)
    val rootOld = rootOldPath(root)
    fs.delete(staging, true)
    Tables.parquet(spark, ledgerPath)
      .select(col("canonical_url")).distinct()
      .repartition(numFiles)
      .write.mode("overwrite").parquet(staging.toString)
    // Swap: root -> root_old, staging -> root, drop root_old. At every
    // intermediate crash point a complete ledger copy survives on disk.
    if (!fs.rename(root, rootOld))
      throw new java.io.IOException(
        s"ledger compaction aside-rename failed: $root -> $rootOld")
    if (!fs.rename(staging, root))
      throw new java.io.IOException(
        s"ledger compaction swap failed: $staging -> $root")
    fs.delete(rootOld, true)
    (before, countParquet(root))
  }

  private def stagingPath(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(
      root.getParent, s".${root.getName}_compact_staging")
  private def rootOldPath(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(
      root.getParent, s".${root.getName}_compact_old")

  /** Repair an interrupted [[compactLedger]] swap. Idempotent; cheap (two
    * existence checks in the steady state). The decision table covers
    * every crash window of the swap protocol:
    *   - `root` present: compaction either never started, finished, or
    *     died before the aside-rename → leftover staging/root_old dirs
    *     are strictly redundant copies; drop them.
    *   - `root` missing, `staging` present: died between the two renames.
    *     `staging` is a COMPLETE compacted copy (fully written before any
    *     rename) → promote it, then drop `root_old`.
    *   - `root` missing, only `root_old`: died right after the
    *     aside-rename with staging already promoted-or-absent → restore
    *     `root_old`. */
  def recoverLedger(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit = {
    val staging = stagingPath(root)
    val rootOld = rootOldPath(root)
    if (fs.exists(root)) {
      fs.delete(staging, true)
      fs.delete(rootOld, true)
    } else if (fs.exists(staging)) {
      if (!fs.rename(staging, root))
        throw new java.io.IOException(
          s"ledger recovery promote failed: $staging -> $root")
      fs.delete(rootOld, true)
    } else if (fs.exists(rootOld)) {
      if (!fs.rename(rootOld, root))
        throw new java.io.IOException(
          s"ledger recovery restore failed: $rootOld -> $root")
    }
  }

  def urlFrontierDedup(
      pages: DataFrame,
      ledgerPath: String,
      acceptedSink: String,
      checkpointDir: String,
      urlCol: String = "url",
      keyCol: String = "doc_id"): org.apache.spark.sql.streaming.StreamingQuery =
    pages.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val canon = batch.toDF()
          .withColumn("canonical_url",
            graft.ops.Urls.canonicalize(col(urlCol)))
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
        val ledgerRoot = new org.apache.hadoop.fs.Path(ledgerPath)
        val ledgerFs = ledgerRoot
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        // repair a compaction interrupted by a crash before trusting a
        // missing-ledger observation (a missing root mid-swap would
        // otherwise re-accept every known URL)
        recoverLedger(ledgerFs, ledgerRoot)
        val ledgerExists = ledgerFs.exists(ledgerRoot)
        val unseen =
          if (!ledgerExists) batchKeep
          else {
            // NULL-SAFE membership: plain equality never matches a NULL
            // canonical, so such rows would re-accept + re-ledger forever
            val ledger = Tables.parquet(spark, ledgerPath)
              .select(col("canonical_url").as("__graft_seen_url"))
            batchKeep.join(ledger,
              col("canonical_url") <=> col("__graft_seen_url"),
              "left_anti")
          }
        // snapshot before the ledger append: the anti-join plan reads the
        // same files the append rewrites; the scope frees it
        Materialize.scope {
          val survivors = Materialize.local(unseen, eager = true)
          if (!survivors.isEmpty) {
            // sink BEFORE ledger: a crash between the two re-accepts the
            // page on replay (duplicate sink row, tolerated); the reverse
            // order would lose it forever (ledgered but never sunk)
            survivors.write.mode("append").parquet(acceptedSink)
            survivors.select(col("canonical_url"))
              .write.mode("append").parquet(ledgerPath)
          }
        }
      }
      .start()
}
