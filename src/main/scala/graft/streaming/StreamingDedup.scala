package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, StreamingQuery}

import graft.ops.{Materialize, PersistedIndex}

/** Streaming counterparts of the batch dedup/text operators — the
  * training-data-pipeline shapes that must run incrementally at ingest
  * time (SURVEY §7.2 M6 extension; the reference is strictly batch).
  *
  * State discipline at 100 TB/day ingest:
  *   - exact dedup keys state by a 16-byte md5 fingerprint, never the
  *     document text, and `dropDuplicatesWithinWatermark` lets the state
  *     store EVICT fingerprints once the watermark passes them — state is
  *     bounded by (ingest rate × watermark horizon), not corpus size;
  *   - LSH band assignment is STATELESS (a projection), so near-dup
  *     candidate discovery can run in-stream and feed a periodic batch
  *     verify/compaction over the bucketed output — the same
  *     candidates-then-verify split as the batch operators;
  *   - running per-key statistics use `mapGroupsWithState` with explicit
  *     small state (two longs per language), the bounded-key case where
  *     custom state is appropriate.
  */
object StreamingDedup {

  /** Streaming exact dedup: first occurrence of each text fingerprint
    * within the watermark horizon survives. Duplicates arriving later
    * than `watermark` after their twin are out-of-contract (they would
    * need unbounded state — the batch [[graft.ops.Dedup.exact]] pass is
    * the periodic ground-truth compaction). */
  def exactDedup(
      docs: DataFrame, eventTimeCol: String,
      watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("fp", md5(col("text").cast("binary")))
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** Stateless in-stream LSH band assignment over an embedding column:
    * one row per (vec, band) with the band key, partition-ready for a
    * downstream bucketed near-dup verify (same key scheme as
    * [[graft.ops.Dedup.embeddingNearDupLsh]]). */
  def lshBands(
      embeddings: DataFrame, numPlanes: Int = 8, bandBits: Int = 4): DataFrame =
    embeddings
      .withColumn("bucket", graft.ops.Similarity.lshBucket(
        col("embedding").cast("array<double>"), numPlanes))
      // the SHARED band-key definition — batch verify and stream
      // candidates cannot drift (Similarity.signBandKeys)
      .select(col("*"), graft.ops.Similarity
        .signBandKeys(col("bucket"), numPlanes, bandBits).as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"), col("bk.bv").as("bv"))

  /** Continuous-ingest dedup against a persisted minhash corpus index
    * ([[graft.ops.Dedup.writeMinhashIndex]]): every micro-batch is
    * deduplicated against the corpus PLUS everything accepted in earlier
    * batches ([[graft.ops.Dedup.incrementalNewFromIndex]]), and its
    * survivors are appended both to `acceptedSink` (parquet) and to the
    * index itself ([[graft.ops.Dedup.updateMinhashIndex]]) so later batches
    * see them. The streaming version of the ns18 two-tick lifecycle, run
    * forever, through the one [[graft.ops.PersistedIndex.ingest]] step.
    *
    * `foreachBatch` is the right tool here — the dedup decision is a batch
    * join against index files, not row-local state, so the state lives IN
    * the index rather than the state store: a restarted query resumes from
    * the index contents with no state-store recovery, and the index stays
    * usable by batch consumers between ticks. Micro-batches execute
    * serially, which is exactly the single-writer-per-index contract the
    * append path assumes. foreachBatch is at-least-once: a replayed batch
    * re-sinks its survivors (idempotent sinks key on doc_id), and
    * duplicate index rows are harmless for the decision (candidates are
    * distinct()-ed). */
  def indexedIngestDedup(
      newDocs: DataFrame,
      indexPath: String,
      acceptedSink: String,
      checkpointDir: String): StreamingQuery =
    indexedIngest(newDocs, checkpointDir)(
      graft.ops.Dedup.incrementalNewFromIndex(_, indexPath),
      _.write.mode("append").parquet(acceptedSink),
      graft.ops.Dedup.updateMinhashIndex(_, indexPath))

  /** The query every index-backed ingest twin runs: each micro-batch goes
    * through [[graft.ops.PersistedIndex.ingest]] — `probe`, snapshot,
    * `sink`, then `update` — inside a [[Materialize.scope]], so a
    * forever-running query keeps no copy of the batches it accepted. */
  private[streaming] def indexedIngest(input: DataFrame, checkpointDir: String)(
      probe: DataFrame => DataFrame, sink: DataFrame => Unit,
      update: DataFrame => Unit): StreamingQuery =
    input.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        Materialize.scope {
          PersistedIndex.ingest(probe(batch.toDF()), Some(sink))(update)
        }
        ()
      }
      .start()

  /** Streaming decontamination: every micro-batch of ingested documents is
    * scrubbed against a STATIC benchmark set (eval questions / test
    * prompts), and only clean documents reach `cleanSink` — the ns21
    * semantics applied at ingest so contaminated pages never land in the
    * training store at all.
    *
    * `foreachBatch` again (same reasoning as [[indexedIngestDedup]]): the
    * per-doc decision is a shingle join against the benchmark postings —
    * batch-local, no cross-batch state (a doc's verdict depends only on
    * itself and the benchmark), so the state store holds NOTHING and a
    * restart simply reprocesses from the checkpoint offset. Stream-prefix
    * output therefore equals the batch [[graft.ops.Dedup.removeContaminated]]
    * over the same prefix, doc for doc (spec-pinned). The benchmark side
    * reuses the batch operator's auto-sized broadcast-or-shuffle lever.
    * At-least-once caveat as [[indexedIngestDedup]]: key idempotent
    * consumers on doc_id. */
  def decontaminateIngest(
      newDocs: DataFrame,
      benchmark: DataFrame,
      cleanSink: String,
      checkpointDir: String,
      shingleK: Int = 4,
      bloomFpp: Option[Double] = None): StreamingQuery = {
    // the benchmark is static, so its broadcast-or-shuffle sizing is too:
    // decide once here, not once per micro-batch inside the hot loop
    val broadcastLever = Some(graft.ops.Dedup
      .benchmarkFitsBroadcast(benchmark, shingleK))
    // same once-not-per-batch reasoning for the Bloom prefilter (r12):
    // the blob is a function of the STATIC benchmark alone, so it builds
    // here and every micro-batch reuses it as a codegen scan-stage gate
    // ahead of the exact scrub join — the ns152 shape at ingest time.
    // Semantics unchanged (false positives die in the exact join).
    val bloomBlob = bloomFpp.map(fpp =>
      graft.ops.Dedup.benchmarkBloom(benchmark, shingleK, fpp))
    newDocs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        // written unconditionally: an empty append is near-free, while an
        // isEmpty pre-check would execute the whole scrub join twice
        graft.ops.Dedup.removeContaminated(
          batch.toDF(), benchmark, shingleK, broadcastLever,
          bloomBlob = bloomBlob)
          .write.mode("append").parquet(cleanSink)
        ()
      }
      .start()
  }

  final case class LangStats(lang: String, docs: Long, tokens: Long)

  /** Running per-language doc/token totals via explicit keyed state
    * (`mapGroupsWithState`, update mode): emits the cumulative totals for
    * every language seen in each micro-batch. State per key is two longs —
    * the bounded-cardinality case (languages) where custom state beats a
    * windowed aggregation. */
  def runningLangStats(docs: DataFrame): Dataset[LangStats] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      // NULL text must not wedge a forever-running monitor: size(NULL)
      // is NULL under Spark defaults, and encoding NULL into the
      // non-nullable Long of (String, Long) throws — which would crash
      // the query, and a restart replays the same poisoned offset
      .select(coalesce(col("lang"), lit("")).as("lang"),
        coalesce(size(split(col("text"), " ")), lit(0))
          .cast("long").as("tokens"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Long), LangStats](
        GroupStateTimeout.NoTimeout()) { case (lang, rows, state) =>
        val (d0, t0) = state.getOption.getOrElse((0L, 0L))
        var d = d0
        var t = t0
        rows.foreach { case (_, tokens) => d += 1; t += tokens }
        state.update((d, t))
        LangStats(lang, d, t)
      }
  }
}
