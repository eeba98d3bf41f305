package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Deduplication operators for large-scale training-data pipelines —
  * north-star extensions beyond the reference's surface (SURVEY §7.2 M6).
  *
  * All variants are shuffle-disciplined for 100 TB:
  *   - no cross joins anywhere: candidate pairs come from equality joins on
  *     LSH band keys / shingle postings, so work scales with collision
  *     counts, not n²;
  *   - hashing is md5-based (codegen'd built-in) so every stage is
  *     whole-stage-codegen and — deliberately — reproducible in any other
  *     SQL engine for oracle checks;
  *   - per-doc state (shingle sets, minhash sketches) is bounded by
  *     document length, never by corpus size.
  */
object Dedup {

  /** Word tokens; empty/short docs yield empty shingle arrays. */
  private def wordsCol: Column = split(col("text"), " ")

  /** k-word shingles, exploded and deduped per doc.
    * Mirrors: transform over a 0..size-k index sequence.
    *
    * Dedup happens INSIDE the row — `array_distinct` on the per-doc
    * shingle array BEFORE the explode — never as a global `.distinct()`:
    * a document's shingles are all born in its one (doc_id, text) row, so
    * per-doc set semantics need no exchange at all, where the old global
    * distinct shuffled the ENTIRE postings set (~2× corpus text bytes)
    * once per consumer — at 100 TB that is a ~200 TB shuffle this
    * projection simply does not have. A further consequence: every
    * downstream per-doc aggregate (`groupBy(doc_id)` for sketches /
    * collect_set verification sets) now sees all of a doc's shingles
    * inside one map task, so partial aggregation finishes map-side and
    * the exchange carries one finished row per doc.
    *
    * Contract (same as the rest of the dedup family — [[exact]],
    * [[minhashLsh]] et al. key groups on it): `doc_id` is a key of
    * `docs`, one text per doc. Rows sharing a doc_id would no longer
    * have their shingles cross-row deduped. */
  def shingles(docs: DataFrame, k: Int = 2): DataFrame =
    docs
      .select(col("doc_id"), wordsCol.as("w"))
      .select(col("doc_id"), explode(
        when(size(col("w")) >= k, array_distinct(
          expr(s"transform(sequence(0, size(w) - $k), i -> concat_ws(' ', slice(w, i + 1, $k)))")))
          .otherwise(expr("array()"))).as("shingle"))

  /** 60-bit md5 prefix of a string column as a non-negative long — the
    * engine-portable hash used across the dedup family. */
  private def md5Long(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Default cap for broadcasting corpus-derived structures (postings /
    * hashed vocabulary): above this estimated size the operators fall back
    * to shuffled joins automatically. 512 MiB is comfortably inside a
    * production executor's memory while far above anything a small corpus
    * produces. */
  val defaultBroadcastBytes: Long = 512L << 20

  /** Cap for materializing the shingle postings once (localCheckpoint to
    * executor memory+disk) instead of recomputing the scan→split→explode
    * pipeline for each of its 2–3 consumers (hashing, vocabulary,
    * verification sets). Postings are ~2× corpus text bytes: under the cap
    * the one-time store beats two recomputes (r15, measured ~20% off
    * [[minhashLsh]] wall); far above it (the 100 TB corpus → ~200 TB of
    * postings) executor storage would thrash and the re-scan — pipelined,
    * pruned, codegen'd — is the cheaper side, so the plan falls back to
    * recompute automatically. Checkpoints are LAZY (r16): constructing a
    * plan runs no job; blocks materialize inside the first consuming
    * action and are freed when the caller's [[Materialize.scope]] ends —
    * made with no scope open, they stay pinned. */
  val defaultPostingsCheckpointBytes: Long = 64L << 30

  /** Driver-side postings-size estimate — Catalyst's own statistics for the
    * source frame (file sizes for a scan, actual bytes for a local
    * relation; no job runs) times the shingle expansion factor (each word
    * lands in ≤ k shingles). A heuristic, not a measurement: it decides
    * broadcast-vs-shuffle, where either answer is CORRECT and the penalty
    * for a miss is performance only. Callers pin the decision explicitly
    * when they know better. */
  private def estimatedPostingsBytes(docs: DataFrame, shingleK: Int): BigInt =
    docs.queryExecution.optimizedPlan.stats.sizeInBytes * shingleK

  /** The broadcast-or-shuffle decision [[decontaminate]] /
    * [[removeContaminated]] make per call, exposed so a caller scrubbing
    * MANY batches against one static benchmark (the streaming ingest path)
    * can size it once and pin it via `broadcastBenchmark` instead of
    * re-estimating inside every micro-batch. */
  def benchmarkFitsBroadcast(
      benchmark: DataFrame, shingleK: Int,
      broadcastThresholdBytes: Long = defaultBroadcastBytes): Boolean =
    estimatedPostingsBytes(benchmark, shingleK) <= broadcastThresholdBytes

  /** D1 — exact dedup: one survivor (min doc_id) per distinct text, with
    * the duplicate count. Hash-groupBy; map-side partial aggregation makes
    * this a single shuffle of (text-hash, partial-min/count). */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"))

  /** D1b — normalized (near-exact) dedup: case / whitespace / ASCII-
    * punctuation variants of the same text collapse to one group —
    * the gate between byte-exact dedup ([[exact]], which misses
    * "Hello, World!" vs "hello world") and minhash ([[minhashLsh]],
    * overkill for trivial variants and threshold-dependent on short
    * docs). Normalization: lowercase, ASCII punctuation → space
    * (word-boundary-preserving; the class is written as the explicit
    * ranges `[!-/:-@\[-`{-~]` so Java regex and RE2 read the IDENTICAL
    * set — `\p{Punct}` is ASCII in Java but engine-dependent
    * elsewhere), runs of spaces collapsed, edges trimmed. Non-ASCII
    * (zh) text passes through untouched. Per group: keeper = min
    * doc_id, variant count.
    *
    * Scale shape: [[exact]]'s one hash-groupBy with the normalization
    * fused codegen into the scan; the 16-byte digest of the NORMALIZED
    * text rides the shuffle, never the text. */
  def normalizedExact(docs: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(regexp_replace(
      lower(col("text")), "[!-/:-@\\[-`{-~]", " "), " +", " "))
    docs
      .select(col("doc_id"), md5(norm.cast("binary")).as("g"))
      .groupBy(col("g"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_variants"))
      .select(col("doc_id"), col("n_variants"))
  }

  /** D2 — MinHash + LSH near-dup pairs.
    *
    * shingle → 16 salted-md5 minhashes (one groupBy pass, 16 min()
    * aggregates over the 60-bit numeric md5 prefix — an 8-byte agg state
    * per hash instead of a 32-char hex string; selection is identical to
    * full-hex lexicographic min unless two digests share their first 15 hex
    * chars, ~2⁻⁶⁰) → 4 bands of 4, each hashed to one Long key →
    * [[Blocking.pairs]] self-join → exact jaccard verification on candidates only. At scale the band
    * join is the only pairwise step and touches only colliding docs; a
    * band-collision false positive only adds a candidate, which the exact
    * verify then scores — it can never corrupt the output.
    *
    * numHashes must be divisible by rowsPerBand. */
  def minhashLsh(
      docs: DataFrame,
      shingleK: Int = 2,
      numHashes: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.5,
      broadcastThresholdBytes: Long = defaultBroadcastBytes,
      maxBandFreq: Long = Long.MaxValue): DataFrame = {
    require(numHashes % rowsPerBand == 0, "numHashes % rowsPerBand != 0")
    // size decisions come from the PRE-checkpoint plan: a LogicalRDD
    // (checkpoint) reports the conservative default sizeInBytes, which
    // would silently flip every estimate-driven choice to its scale path
    val postingsEst = estimatedPostingsBytes(docs, shingleK)
    // postings feed three consumers (vocabulary distinct, hash postings,
    // verification sets): under the checkpoint cap, materialize them once
    val sh = {
      val raw = shingles(docs, shingleK)
      if (postingsEst <= defaultPostingsCheckpointBytes)
        Materialize.local(raw, eager = false)
      else raw
    }

    // the 16 salted md5s are computed over the DISTINCT shingle
    // vocabulary once, then mapped back onto postings — natural-language
    // n-gram vocabularies are Zipf-compressed relative to postings (16×
    // less hash work where each shingle recurs). The vocab side is a
    // broadcast build; values are bit-identical to hashing per posting, so
    // oracle hashes don't move. Sized from the estimate: when the postings
    // exceed `broadcastThresholdBytes` (a vocab broadcast would not fit),
    // hashing runs map-side — same values, no broadcast.
    val useVocab = postingsEst <= broadcastThresholdBytes
    val posted =
      if (!useVocab)
        sh.select(col("doc_id") +: (0 until numHashes).map(s =>
          md5Long(concat(col("shingle"), lit(s":$s"))).as(s"h$s")): _*)
      else {
        val hashCols = (0 until numHashes).map(s =>
          md5Long(concat(col("shingle"), lit(s":$s"))).as(s"h$s"))
        val vocab = sh.select("shingle").distinct()
          .select(col("shingle") +: hashCols: _*)
        sh.join(broadcast(vocab), Seq("shingle"))
      }

    val mhCols = (0 until numHashes).map(s => min(col(s"h$s")).as(s"mh$s"))
    val mh = posted.groupBy(col("doc_id")).agg(mhCols.head, mhCols.tail: _*)

    // maxBandFreq is [[Blocking.pairs]]' skew lever: a near-constant
    // corpus collapses every sketch into one bucket whose self-join is
    // corpus². The CAPPED path materializes the sketch frame first (doc_id
    // + 16 longs — corpus-cheap): the hot-bucket count would otherwise
    // re-execute the whole shingle→16-hash pipeline a second time.
    val mhKeys = minhashKeys(
      if (maxBandFreq == Long.MaxValue) mh else Materialize.local(mh, eager = false),
      numHashes, rowsPerBand)
    val cand = Blocking.pairs(mhKeys, None, "doc_id", ("doc_a", "doc_b"),
      maxBandFreq = maxBandFreq)

    verifyJaccard(cand, sh, threshold,
      broadcastSets = postingsEst <= broadcastThresholdBytes)
  }

  /** (doc_id, band_key) rows of a minhash sketch frame: band b's key hashes
    * b and its `rowsPerBand` minima ([[Blocking.hashedKey]]). */
  private def minhashKeys(
      mh: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame =
    Blocking.banded(mh, (0 until numHashes / rowsPerBand).map { b =>
      Blocking.hashedKey(lit(b) +: (0 until rowsPerBand).map(r =>
        col(s"mh${b * rowsPerBand + r}")): _*)
    }).select(col("doc_id"), col(Blocking.Key))

  /** Shared minhash front half, FUSED (r16, VERDICT r15 #5): ONE per-doc
    * frame carrying both the sketch minima and the shingle set —
    * (doc_id, mh0..mhN, s) — from a SINGLE doc-keyed aggregation. Every
    * index/incremental caller consumes both the band keys and the
    * verification sets, and the previous split (a mins aggregation plus a
    * separate collect_set aggregation) shuffled the postings twice on the
    * same key; fusing removes one full postings exchange per call — the
    * set side dominates the combined shuffle, the 16 mins ride along as
    * 8-byte agg states. Same auto-sized vocabulary hashing as
    * [[minhashLsh]] (the 16 salted md5s run once per DISTINCT shingle
    * and broadcast back while the estimated postings fit
    * [[defaultBroadcastBytes]]; beyond that they run map-side) — values
    * bit-identical either way.
    *
    * The result is LAZILY localCheckpoint'ed when the estimate fits
    * [[defaultPostingsCheckpointBytes]]: it always has >= 2 consumers
    * (band-key explode + set join/write), and LAZY means constructing
    * the plan runs no job (ADVICE r15 #1) — blocks materialize inside
    * the first consuming action and later consumers read them. The
    * caller's [[Materialize.scope]] frees them. */
  private def minhashPerDoc(
      docs: DataFrame, shingleK: Int, numHashes: Int,
      postingsEstimate: Option[BigInt] = None,
      forceCheckpoint: Boolean = false): DataFrame = {
    // callers that checkpoint `docs` first pass the PRE-checkpoint
    // estimate: a LogicalRDD reports the conservative default size,
    // which would silently disable the vocabulary/checkpoint paths
    val postingsEst = postingsEstimate
      .getOrElse(estimatedPostingsBytes(docs, shingleK))
    val sh0 = shingles(docs, shingleK)
    val hashCols = (0 until numHashes).map(s =>
      md5Long(concat(col("shingle"), lit(s":$s"))).as(s"h$s"))
    val posted =
      if (postingsEst <= defaultBroadcastBytes) {
        // two postings consumers on the vocab path (distinct build +
        // probe): lazy-checkpoint under the cap so the scan+explode runs
        // once inside the consuming action
        val sh = if (postingsEst <= defaultPostingsCheckpointBytes)
          Materialize.local(sh0, eager = false) else sh0
        val vocab = sh.select("shingle").distinct()
          .select(col("shingle") +: hashCols: _*)
        sh.join(broadcast(vocab), Seq("shingle"))
      } else sh0.select(Seq(col("doc_id"), col("shingle")) ++ hashCols: _*)
    val mhCols = (0 until numHashes).map(s => min(col(s"h$s")).as(s"mh$s"))
    val agg = posted.groupBy(col("doc_id"))
      .agg(mhCols.head, (mhCols.tail :+ collect_set(col("shingle")).as("s")): _*)
    if (forceCheckpoint || postingsEst <= defaultPostingsCheckpointBytes)
      Materialize.local(agg, eager = false)
    else agg
  }

  /** D6 — incremental ingest dedup: which NEW documents survive against an
    * EXISTING corpus. THE production shape for continuous training-data
    * ingest — each arriving batch is deduplicated against the corpus
    * without ever joining corpus×corpus:
    *
    *   1. exact duplicates leave via a semi-join on the text (one shuffle
    *      keyed on the text hash, corpus side aggregated nothing);
    *   2. near-duplicates leave via minhash band keys: candidates come
    *      from a band EQUALITY join of new-batch bands against corpus
    *      bands (touches only colliding docs), then exact jaccard ≥
    *      `threshold` is verified on candidates only — same constants and
    *      same md5 family as [[minhashLsh]], so the whole decision is
    *      engine-reproducible.
    *
    * Output: the surviving new doc_ids with their text. At 100 TB the
    * corpus bands/sets are a precomputed, incrementally-maintained index
    * table — this method recomputes them for self-containedness; the
    * plan shape (band join + candidate verify) is identical either way. */
  def incrementalNew(
      newDocs: DataFrame,
      corpus: DataFrame,
      shingleK: Int = 2,
      numHashes: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    require(numHashes % rowsPerBand == 0, "numHashes % rowsPerBand != 0")
    // the exact-dup anti-join has THREE consumers (postings, verification
    // sets, final anti-join) — LAZY-checkpoint it when the batch is
    // checkpoint-small (materializes once inside the consuming action,
    // no construction-time job); estimates are taken before the
    // checkpoint (LogicalRDD stats degrade to the conservative default)
    val newEst = estimatedPostingsBytes(newDocs, shingleK)
    val exactSurvivors = {
      val raw = newDocs.join(
        corpus.select(col("text")), Seq("text"), "left_anti")
      if (newEst <= defaultPostingsCheckpointBytes) Materialize.local(raw, eager = false)
      else raw
    }

    val newPerDoc = minhashPerDoc(exactSurvivors, shingleK, numHashes,
      postingsEstimate = Some(newEst))
    val corpusPerDoc = minhashPerDoc(corpus, shingleK, numHashes)
    val cand = Blocking.pairs(minhashKeys(newPerDoc, numHashes, rowsPerBand),
      Some(minhashKeys(corpusPerDoc, numHashes, rowsPerBand)), "doc_id",
      ("doc_a", "doc_b"))

    // batch-side sets broadcast when the batch's postings fit (the corpus
    // side stays shuffled — it is the big side by construction)
    val newSets0 = newPerDoc.select(col("doc_id"), col("s"))
    val newSets = if (newEst <= defaultBroadcastBytes) broadcast(newSets0)
                  else newSets0
    val corpusSets = corpusPerDoc.select(col("doc_id"), col("s"))
    val nearDupIds = cand
      .join(newSets.as("x"), col("doc_a") === col("x.doc_id"))
      .join(corpusSets.as("y"), col("doc_b") === col("y.doc_id"))
      .where(size(array_intersect(col("x.s"), col("y.s"))).cast("double") /
        size(array_union(col("x.s"), col("y.s"))) >= threshold)
      .select(col("doc_a").as("doc_id")).distinct()

    exactSurvivors
      .join(nearDupIds, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("text"))
  }

  /** D6 (index build) — persist the corpus side of [[incrementalNew]] so
    * ingest ticks stop re-scanning the corpus. [[incrementalNew]] recomputes
    * corpus shingles + sketches on every call, which at 100 TB is a full
    * corpus pass per batch; this writes the three corpus artifacts the
    * incremental decision needs — band keys (candidate generation), shingle
    * sets (candidate verification), text md5s (exact-dup rejection) — as
    * parquet under `path`, with the sketch parameters (and optionally a
    * source `fingerprint`, see [[PersistedIndex.sourceFingerprint]]) in
    * its meta ([[PersistedIndex]]): the reader hashes with the index's
    * recorded family, and a caller that
    * requires specific parameters pins them via
    * [[incrementalNewFromIndex]]'s `expectParams` to fail fast on mismatch.
    * Each artifact is bounded by corpus size × doc length, never corpus². */
  def writeMinhashIndex(
      corpus: DataFrame,
      path: String,
      shingleK: Int = 2,
      numHashes: Int = 16,
      rowsPerBand: Int = 4,
      fingerprint: Option[String] = None): Unit = {
    require(numHashes % rowsPerBand == 0, "numHashes % rowsPerBand != 0")
    PersistedIndex.build(corpus.sparkSession, path, PersistedIndex.Kind.Minhash,
        fingerprint) { tmp =>
      // ONE fused per-doc aggregation feeds both artifacts: the bands
      // write materializes the lazy checkpoint, the sets write reads its
      // blocks — one postings shuffle total where the split shape paid
      // two (r16, VERDICT r15 #5). Its snapshots are dead once both are
      // written; the scope frees them and leaves a caller's corpus alone.
      Materialize.scope {
        val perDoc = minhashPerDoc(corpus, shingleK, numHashes)
        minhashKeys(perDoc, numHashes, rowsPerBand)
          .write.mode("overwrite").parquet(s"$tmp/bands")
        perDoc.select(col("doc_id"), col("s"))
          .write.mode("overwrite").parquet(s"$tmp/sets")
      }
      corpus.select(md5(col("text").cast("binary")).as("th")).distinct()
        .write.mode("overwrite").parquet(s"$tmp/texthash")
      Seq("shingleK" -> shingleK, "numHashes" -> numHashes,
        "rowsPerBand" -> rowsPerBand)
    }
  }

  /** D6 (index maintenance) — append a tick's ACCEPTED documents to a
    * persisted [[writeMinhashIndex]] index, so the index stays current
    * across ingest ticks without a rebuild: the next
    * [[incrementalNewFromIndex]] call dedups against corpus + everything
    * accepted so far. Appends the same three artifacts the builder writes —
    * band keys, shingle sets, text md5s — hashed with the sketch family the
    * index's own sidecar declares (the update MUST match the build, so the
    * parameters are read, never taken from the caller). Work per tick is
    * proportional to the accepted batch, never the corpus.
    *
    * `accepted` is materialized (eager localCheckpoint) before any write:
    * callers naturally pass the probe's own output, which is a live plan
    * over this index's files — appending under a plan that re-lists those
    * files would feed the update back into itself. Single-writer per index
    * is assumed (one ingest owner appends; readers run between ticks), same
    * as any incrementally-maintained table without a log-structured commit
    * protocol. Pass `fingerprint` to restamp the sidecar when the caller
    * tracks index identity by content. */
  def updateMinhashIndex(
      accepted: DataFrame,
      path: String,
      fingerprint: Option[String] = None): Unit = {
    val spark = accepted.sparkSession
    val meta = PersistedIndex.read(spark, path, PersistedIndex.Kind.Minhash)
    val (shingleK, numHashes, rowsPerBand) = (meta.int("shingleK"),
      meta.int("numHashes"), meta.int("rowsPerBand"))
    // frees what this method made; a caller's snapshot stays (ns18 unions it)
    Materialize.scope {
      val accSrc = accepted.select(col("doc_id"), col("text"))
      // an already-materialized batch (the probe output ns18 and
      // StreamingDedup feed back) cannot see this method's appends, so it
      // needs no second copy; the size estimate is taken before either way
      val accEst = estimatedPostingsBytes(accSrc, shingleK)
      val acc = Materialize.fixed(accSrc)
      // force the fused frame's checkpoint even when the batch arrives as a
      // LogicalRDD whose default stats overflow every cap: an ingest tick
      // is tick-sized by contract (<< corpus), and without blocks the sets
      // write would re-shuffle the postings the bands write just built
      val perDoc = minhashPerDoc(acc, shingleK, numHashes,
        postingsEstimate = Some(accEst), forceCheckpoint = true)
      minhashKeys(perDoc, numHashes, rowsPerBand)
        .write.mode("append").parquet(s"$path/bands")
      perDoc.select(col("doc_id"), col("s"))
        .write.mode("append").parquet(s"$path/sets")
      acc.select(md5(col("text").cast("binary")).as("th")).distinct()
        .write.mode("append").parquet(s"$path/texthash")
    }
    fingerprint.foreach(
      PersistedIndex.restamp(spark, path, PersistedIndex.Kind.Minhash, _))
  }

  /** D6 (index probe) — [[incrementalNew]] against a persisted
    * [[writeMinhashIndex]] corpus: identical decision, but the corpus is
    * never re-shingled or even re-read in full — exact dups leave via an
    * anti-join on the stored text md5s, candidates come from a band join
    * against the stored band keys, and only candidate corpus sets are
    * fetched for verification. Per ingest tick the corpus-side work drops
    * from a full scan+shingle+sketch to three index reads.
    *
    * The sketch parameters come from the index's own sidecar (the probe
    * side must hash with the family the index was built with). A caller
    * that REQUIRES specific parameters pins them via `expectParams =
    * Some((shingleK, numHashes, rowsPerBand))` — a mismatched index then
    * fails fast instead of being silently adopted. */
  def incrementalNewFromIndex(
      newDocs: DataFrame,
      path: String,
      threshold: Double = 0.5,
      expectParams: Option[(Int, Int, Int)] = None): DataFrame = {
    val spark = newDocs.sparkSession
    val meta = PersistedIndex.read(spark, path, PersistedIndex.Kind.Minhash)
    val (shingleK, numHashes, rowsPerBand) = (meta.int("shingleK"),
      meta.int("numHashes"), meta.int("rowsPerBand"))
    expectParams.foreach { case (k, h, r) =>
      require(k == shingleK && h == numHashes && r == rowsPerBand,
        s"index at $path was built with (shingleK=$shingleK, numHashes=" +
          s"$numHashes, rowsPerBand=$rowsPerBand) but caller expects " +
          s"($k, $h, $r)")
    }

    // the index anti-join has three consumers (postings, sets, final
    // anti-join) — same lazy materialize-once shape as
    // [[incrementalNew]], with the estimate taken pre-checkpoint
    val newEst = estimatedPostingsBytes(newDocs, shingleK)
    val exactSurvivors = {
      val raw = newDocs
        .withColumn("__th", md5(col("text").cast("binary")))
        .join(Tables.parquet(spark, s"$path/texthash"),
          col("__th") === col("th"), "left_anti")
        .drop("__th")
      if (newEst <= defaultPostingsCheckpointBytes) Materialize.local(raw, eager = false)
      else raw
    }

    val newPerDoc = minhashPerDoc(exactSurvivors, shingleK, numHashes,
      postingsEstimate = Some(newEst))
    val cand = Blocking.pairs(minhashKeys(newPerDoc, numHashes, rowsPerBand),
      Some(Tables.parquet(spark, s"$path/bands")), "doc_id", ("doc_a", "doc_b"))

    val newSets0 = newPerDoc.select(col("doc_id"), col("s"))
    val newSets = if (newEst <= defaultBroadcastBytes) broadcast(newSets0)
                  else newSets0
    val nearDupIds = cand
      .join(newSets.as("x"), col("doc_a") === col("x.doc_id"))
      .join(Tables.parquet(spark, s"$path/sets").as("y"),
        col("doc_b") === col("y.doc_id"))
      .where(size(array_intersect(col("x.s"), col("y.s"))).cast("double") /
        size(array_union(col("x.s"), col("y.s"))) >= threshold)
      .select(col("doc_a").as("doc_id")).distinct()

    exactSurvivors
      .join(nearDupIds, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("text"))
  }

  /** D3 — SimHash near-dup pairs: 60-bit simhash over shingle hashes,
    * 5×12-bit band join through [[Blocking.pairs]] (pigeonhole-complete for
    * hamming ≤ 4; near-complete at ≤ 8), exact hamming test in the join. One groupBy with 60 sum() aggregates —
    * no per-bit explode, single shuffle. */
  def simhash(
      docs: DataFrame,
      shingleK: Int = 2,
      maxHamming: Int = 8): DataFrame = {
    val bitsN = 60 // md5-derived 15 hex chars = 60 bits, fits a Long
    val sh = shingles(docs, shingleK)
      .select(col("doc_id"),
        conv(substring(md5(col("shingle").cast("binary")), 1, 15), 16, 10)
          .cast("long").as("h"))

    // bit b is set iff the signed sum over shingles of (bit ? +1 : -1)
    // is positive — algebraically sum(±1) = 2·sum(bit) − n, so the agg
    // sums the RAW bit (one shift+and per row per bit, no ·2−1 affine)
    // plus one shared count, and the sign test becomes 2·s_b > n:
    // identical integer decision at every tie (2s = n ⇔ old sum = 0,
    // bit stays 0), ~a third less per-row expression work in the
    // operator's dominant aggregate
    val bitSums = (0 until bitsN).map(b =>
      sum(shiftright(col("h"), b).bitwiseAND(lit(1L))).as(s"s$b"))
    val agg = sh.groupBy(col("doc_id"))
      .agg(bitSums.head, (bitSums.tail :+ count(lit(1)).as("__n")): _*)
    val simCol = (0 until bitsN).map(b =>
      when(col(s"s$b") * 2 > col("__n"), lit(1L << b)).otherwise(0L))
      .reduce(_ + _)
    val sim = agg.select(col("doc_id"), simCol.as("sh"))

    val hamming = bit_count(col("a.sh").bitwiseXOR(col("b.sh")))
    Blocking.pairs(Blocking.banded(sim, Blocking.bitBandKeys(col("sh"), bitsN, 5)),
      None, "doc_id", ("doc_a", "doc_b"), on = hamming <= maxHamming,
      out = Seq(hamming.as("hamming")))
  }

  /** D4 — exact n-gram jaccard near-dup via inverted-index (postings)
    * self-join: |A∩B| falls out of an equality join on the shingle, never a
    * doc×doc product. At corpus scale, stop-shingle removal (document
    * frequency cap) bounds posting-list skew; the synthetic corpus doesn't
    * need it, so it's exposed as `maxDocFreq`.
    *
    * The pairwise stage — collision-count × rows, the operator's dominant
    * volume — NEVER SHUFFLES: the probe side is pre-partitioned by doc_id,
    * the broadcast join preserves that partitioning, and doc_a alone
    * already clusters the (doc_a, doc_b) grouping keys, so Catalyst runs
    * the pair-count aggregate to completion inside the probe stage. Every
    * copy of a pair (one per shared shingle) is born in the single task
    * that owns doc_a, so the in-stage aggregation achieves full reduction
    * with a bounded hash map (that task's docs × their partners). Measured
    * at sf0.1 (36M pair-rows): 9 s → 3.2 s, on par with a vectorized
    * single-node engine on the same data.
    *
    * Scale notes: broadcasting requires the (deduped, maxDocFreq-capped)
    * postings to fit in executor memory — AUTO-SIZED by default: the
    * operator broadcasts only while the estimated postings size fits
    * `broadcastThresholdBytes`, and otherwise falls back to a shuffled
    * join, where the pair aggregation re-acquires its exchange
    * (correctness unchanged). Pass `broadcastPostings = Some(true/false)`
    * to pin the decision. The postings are materialized once (lazy
    * localCheckpoint) for their three consumers instead of recomputing
    * scan+explode+distinct per consumer. */
  def ngramJaccard(
      docs: DataFrame,
      shingleK: Int = 2,
      threshold: Double = 0.5,
      maxDocFreq: Long = Long.MaxValue,
      broadcastPostings: Option[Boolean] = None,
      broadcastThresholdBytes: Long = defaultBroadcastBytes): DataFrame = {
    val sh0 = Materialize.local(shingles(docs, shingleK), eager = false)
    val sh =
      if (maxDocFreq == Long.MaxValue) sh0
      else {
        val hot = sh0.groupBy("shingle").count()
          .where(col("count") > maxDocFreq).select("shingle")
        sh0.join(hot, Seq("shingle"), "left_anti")
      }
    val parts = docs.sparkSession.sessionState.conf.numShufflePartitions
    val probe = sh.repartition(parts, col("doc_id"))
    val doBroadcast = broadcastPostings.getOrElse(
      estimatedPostingsBytes(docs, shingleK) <= broadcastThresholdBytes)
    val build = if (doBroadcast) broadcast(sh.as("b")) else sh.as("b")
    val inter = probe.as("a").join(build,
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("i"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))

    inter
      .join(sizes.as("x"), col("doc_a") === col("x.doc_id"))
      .join(sizes.as("y"), col("doc_b") === col("y.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (col("i").cast("double") / (col("x.n") + col("y.n") - col("i"))).as("j"))
      .where(col("j") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("j"), 6).as("jaccard"))
  }

  /** D7 — benchmark decontamination: flag corpus docs sharing any k-gram
    * with a benchmark/eval set (the n-gram-overlap rule used to scrub
    * training corpora of test-set leakage: any shared k-gram taints the
    * doc). Output is the contamination report — one row per tainted corpus
    * doc with its distinct matched-shingle count and how many distinct
    * benchmark docs it overlaps; [[removeContaminated]] is the
    * corpus-minus-report convenience.
    *
    * 100 TB shape: the benchmark side is eval sets — thousands of docs,
    * MBs — while the corpus is the 100 TB side. The benchmark's shingles
    * broadcast (auto-sized from plan statistics, explicit override, same
    * lever contract as [[ngramJaccard]]), so the corpus is shingled in one
    * scan, the probe join is broadcast-hash with NO corpus shuffle, and
    * the only exchange is the per-doc aggregation over the matched triples
    * (a tiny fraction of the corpus). The two distinct-counts share one
    * aggregation via expand — still a single shuffle. */
  def decontaminate(
      corpus: DataFrame,
      benchmark: DataFrame,
      shingleK: Int = 4,
      broadcastBenchmark: Option[Boolean] = None,
      broadcastThresholdBytes: Long = defaultBroadcastBytes): DataFrame =
    decontaminateImpl(shingles(corpus, shingleK), benchmark, shingleK,
      broadcastBenchmark, broadcastThresholdBytes)

  /** The exact-join tail shared by [[decontaminate]] and
    * [[decontaminateBloom]] — the corpus side arrives pre-shingled (and,
    * on the Bloom path, pre-filtered). */
  private def decontaminateImpl(
      corpusSh: DataFrame,
      benchmark: DataFrame,
      shingleK: Int,
      broadcastBenchmark: Option[Boolean],
      broadcastThresholdBytes: Long): DataFrame = {
    val benchSh = shingles(benchmark, shingleK)
      .select(col("doc_id").as("bench_id"), col("shingle").as("bsh"))
    val doBroadcast = broadcastBenchmark.getOrElse(
      estimatedPostingsBytes(benchmark, shingleK) <= broadcastThresholdBytes)
    // An EXPLICIT opt-out must mean no broadcast: without a strategy hint
    // Spark's stats-based auto-broadcast (or AQE's runtime conversion)
    // would re-broadcast a small benchmark and the lever would be a
    // no-op. It also makes the ns21-vs-ns152 shuffle-byte measurement
    // honest (ScaleProof prices the non-broadcastable-benchmark regime).
    val build =
      if (doBroadcast) broadcast(benchSh)
      else if (broadcastBenchmark.contains(false)) benchSh.hint("shuffle_hash")
      else benchSh
    corpusSh.join(build, col("shingle") === col("bsh"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("shingle")).as("matched_shingles"),
        countDistinct(col("bench_id")).as("bench_docs"))
  }

  /** D7c — Bloom-prefiltered decontamination: the 100 TB deployment shape
    * of [[decontaminate]], output BIT-IDENTICAL by construction. A Bloom
    * filter over the benchmark's distinct shingle vocabulary (built
    * DISTRIBUTED by Spark's own `BloomFilterAggregate` with partial
    * merge, sized −n·ln(fpp)/ln²2 bits from the measured vocabulary) is
    * embedded as a literal, and the corpus postings pass through the
    * codegen'd `bloom_might_contain(blob, xxhash64(shingle))` predicate
    * INSIDE the scan stage — so at web scale, where the match rate is
    * tiny, ~(1−fpp) of the 100 TB side's postings die before the
    * shuffle/broadcast-probe the exact join needs. False positives cost
    * one extra posting through the exact join and are eliminated there:
    * the Bloom stage is pure work-avoidance, never semantics.
    *
    * Driver state: the filter blob (~1.2 MB per 1M distinct shingles at
    * fpp 1%) — the bounded-model-state pattern (IVF centroids, PQ
    * codebooks); it rides the plan as one literal. Two small extra jobs
    * price the build (vocabulary count + aggregate) — noise next to a
    * corpus scan, the wrong trade only when corpus ≈ benchmark size, in
    * which case use [[decontaminate]]. */
  def decontaminateBloom(
      corpus: DataFrame,
      benchmark: DataFrame,
      shingleK: Int = 4,
      fpp: Double = 0.01,
      broadcastBenchmark: Option[Boolean] = None,
      broadcastThresholdBytes: Long = defaultBroadcastBytes): DataFrame = {
    val blob = benchmarkBloom(benchmark, shingleK, fpp)
    graft.functions.BloomFunctions.register(corpus.sparkSession)
    val prefiltered = shingles(corpus, shingleK).where(
      call_function("graft_bloom_might_contain",
        lit(blob), xxhash64(col("shingle"))))
    decontaminateImpl(prefiltered, benchmark, shingleK,
      broadcastBenchmark, broadcastThresholdBytes)
  }

  /** Build the benchmark-vocabulary Bloom filter once — the reusable half
    * of [[decontaminateBloom]], exposed so a STREAMING caller (static
    * benchmark, live corpus) pays the build a single time and gates every
    * micro-batch with the same blob. */
  def benchmarkBloom(
      benchmark: DataFrame, shingleK: Int = 4,
      fpp: Double = 0.01): Array[Byte] = {
    require(fpp > 0 && fpp < 1, "fpp must be in (0, 1)")
    val spark = benchmark.sparkSession
    graft.functions.BloomFunctions.register(spark)
    val vocab = shingles(benchmark, shingleK).select("shingle").distinct()
    val n = math.max(1L, vocab.count())
    val numBits = math.max(64L,
      math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    // BloomFilterAggregate SILENTLY Math.min-clamps its item/bit sizing
    // against the runtime-filter conf caps (default 4M items / 67.1M
    // bits) — past ~7M distinct shingles at fpp 0.01 the realized FP rate
    // would quietly climb toward 1 and the prefilter would stop
    // prefiltering. Raise the caps for the build so the requested fpp
    // actually holds; restore after.
    def withFloor[T](key: String, floor: Long)(body: => T): T = {
      val prev = spark.conf.getOption(key)
      val cur = prev.map(_.toLong).getOrElse(0L)
      if (cur < floor) spark.conf.set(key, floor.toString)
      try body
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
    // The set/restore mutates SESSION-scoped conf: two concurrent builds
    // on one session could race the finally-restore and strand a cap.
    // Serialize builds per session (different sessions don't contend).
    // Unrelated queries on the same session that race a build can still
    // see the raised caps — benign: a cap only bounds how large Spark
    // lets a runtime-injected bloom filter grow.
    spark.synchronized {
      withFloor("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", n) {
        withFloor(
          "spark.sql.optimizer.runtime.bloomFilter.maxNumBits", numBits) {
          vocab.agg(call_function("graft_bloom_agg",
            xxhash64(col("shingle")), lit(n), lit(numBits)).as("b"))
            .head.getAs[Array[Byte]]("b")
        }
      }
    }
  }

  /** The corpus with every [[decontaminate]]-flagged doc removed — the
    * writable training set. Anti-join on doc_id; the flagged-id side skips
    * the report's counts and ordering (just the tainted ids).
    *
    * `bloomBlob` (r12): a [[benchmarkBloom]] filter to gate the corpus
    * postings through BEFORE the exact tainted join — the
    * [[decontaminateBloom]] prefilter for the REMOVE shape. Semantics
    * unchanged (false positives die in the exact join); built once and
    * passed in so a streaming caller pays the build a single time, not
    * per micro-batch. */
  def removeContaminated(
      corpus: DataFrame,
      benchmark: DataFrame,
      shingleK: Int = 4,
      broadcastBenchmark: Option[Boolean] = None,
      broadcastThresholdBytes: Long = defaultBroadcastBytes,
      bloomBlob: Option[Array[Byte]] = None): DataFrame = {
    val benchSh = shingles(benchmark, shingleK)
      .select(col("shingle").as("bsh")).distinct()
    // same auto-sized lever as decontaminate — an unconditional broadcast
    // would OOM on a benchmark side too large to build
    val doBroadcast = broadcastBenchmark.getOrElse(
      estimatedPostingsBytes(benchmark, shingleK) <= broadcastThresholdBytes)
    val build = if (doBroadcast) broadcast(benchSh) else benchSh
    val corpusSh = bloomBlob match {
      case Some(blob) =>
        graft.functions.BloomFunctions.register(corpus.sparkSession)
        shingles(corpus, shingleK).where(
          call_function("graft_bloom_might_contain",
            lit(blob), xxhash64(col("shingle"))))
      case None => shingles(corpus, shingleK)
    }
    val tainted = corpusSh
      .join(build, col("shingle") === col("bsh"))
      .select("doc_id").distinct()
    corpus.join(tainted, Seq("doc_id"), "left_anti")
  }

  /** D8 — SPAN-level decontamination: redact the contaminated k-gram spans
    * and keep the rest of the document, instead of dropping whole docs
    * ([[removeContaminated]]). A 10k-word page quoting one benchmark
    * question is 99% clean training data; whole-doc removal throws it
    * away, span scrubbing keeps it — the surgical variant used when eval
    * overlap is incidental rather than wholesale.
    *
    * Mechanics: corpus k-grams carry their word position (posexplode); a
    * gram matching any benchmark gram taints words [pos, pos+k); a doc's
    * kept text is its word vector minus all tainted indexes, re-joined
    * with single spaces. Matching is on DISTINCT benchmark grams, so the
    * output is independent of benchmark duplication.
    *
    * 100 TB shape: same as [[decontaminate]] — the corpus is shingled in
    * one scan against the broadcast benchmark gram set (auto-sized, same
    * lever contract), the only exchange is the per-doc collect of matched
    * START positions (bounded by doc length, and only for TAINTED docs —
    * clean docs skip the aggregation entirely via the left join), and the
    * rebuild is a per-row HOF filter.
    *
    * Caveat shared with every whitespace tokenizer here: rejoining with
    * single spaces canonicalizes runs of whitespace inside redacted docs;
    * untouched docs pass through byte-identical. */
  def scrubContaminatedSpans(
      corpus: DataFrame,
      benchmark: DataFrame,
      shingleK: Int = 4,
      broadcastBenchmark: Option[Boolean] = None,
      broadcastThresholdBytes: Long = defaultBroadcastBytes): DataFrame = {
    val benchSh = shingles(benchmark, shingleK)
      .select(col("shingle").as("bsh")).distinct()
    val doBroadcast = broadcastBenchmark.getOrElse(
      estimatedPostingsBytes(benchmark, shingleK) <= broadcastThresholdBytes)
    val build = if (doBroadcast) broadcast(benchSh) else benchSh
    val taintedStarts = positionalShingles(corpus, shingleK)
      .join(build, col("shingle") === col("bsh"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("pos")).as("starts"))
    redactSpans(corpus, taintedStarts, shingleK)
  }

  /** (doc_id, pos, shingle) — every k-gram with its word start position. */
  private def positionalShingles(corpus: DataFrame, k: Int): DataFrame =
    corpus
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), posexplode(
        when(size(col("w")) >= k,
          expr(s"transform(sequence(0, size(w) - $k), " +
            s"i -> concat_ws(' ', slice(w, i + 1, $k)))"))
          .otherwise(expr("array()"))))
      .toDF("doc_id", "pos", "shingle")

  /** Rebuild each doc with words [s, s+k) removed for every start s in
    * `taintedStarts` (doc_id, starts). Clean docs pass through
    * byte-identical via the left join; the rebuild is a per-row codegen'd
    * HOF filter. */
  private def redactSpans(
      corpus: DataFrame, taintedStarts: DataFrame, k: Int): DataFrame =
    corpus
      .join(taintedStarts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("starts").isNull, col("text")).otherwise(concat_ws(" ",
          filter(split(col("text"), " "), (x, i) =>
            !exists(col("starts"), s =>
              i >= s && i < s + lit(k))))).as("text"),
        coalesce(size(col("starts")), lit(0)).as("n_spans"))

  /** D9 — intra-corpus duplicate-SPAN removal (exact substring dedup,
    * keep-first): a k-gram occurring in ≥2 DISTINCT documents is a
    * duplicated span; the document with the smallest doc_id keeps its
    * occurrence, every other document has the covering words [pos, pos+k)
    * redacted. Document-level near-dup (minhash) misses verbatim passages
    * embedded in otherwise-distinct pages — license blocks, quoted
    * articles, mirrored paragraphs — which span-level exact dedup catches
    * (the ExactSubstr finding of Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better"). [[scrubContaminatedSpans]] is the
    * two-corpus (benchmark) variant of the same machinery; this one is
    * self-referential with a keep-first survivor rule. A suffix array finds
    * variable-length maximal spans; fixed-k grams are the shuffle-friendly
    * distributed formulation (one equality key, no global sort).
    *
    * 100 TB shape: the per-gram keeper aggregation (min doc_id + distinct
    * doc count in ONE gram-keyed agg with map-side combine) and the join
    * back are both keyed on the gram string — narrow shuffles, nothing
    * pairwise, NO broadcast assumption: the duplicated-gram table scales
    * with the corpus, unlike ns21/ns34's fixed benchmark side. The per-doc
    * collect_set holds matched start positions for TAINTED docs only,
    * bounded by doc length. Grams repeated only WITHIN one document are
    * untouched (that is [[graft.ops.TextAnalysis.repetitionStats]]'s job). */
  def dedupSpans(corpus: DataFrame, shingleK: Int = 4): DataFrame = {
    // keeper table from the per-doc-DISTINCT gram stream ([[shingles]]'s
    // in-row array_distinct): count(1) over per-doc-distinct rows IS
    // countDistinct(doc_id) per gram, with a plain (min, count) partial
    // state — one row per gram per task crosses the keeper exchange,
    // where the old countDistinct's distinct-aggregate shuffled the full
    // (gram, doc_id) stream. The positional stream is then down to its
    // one probe consumer, so no checkpoint: the plan scans the corpus
    // twice, once for the per-doc-distinct keeper stream and once for the
    // positional probe stream — the deliberate trade for dropping the
    // checkpoint (ADVICE r16 #4).
    val keepers = shingles(corpus, shingleK).groupBy(col("shingle"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= 2)
      .select(col("shingle"), col("keeper"))
    val taintedStarts = positionalShingles(corpus, shingleK)
      .join(keepers, Seq("shingle"))
      .where(col("doc_id") > col("keeper"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("pos")).as("starts"))
    redactSpans(corpus, taintedStarts, shingleK)
  }

  /** Exact jaccard on candidate pairs from per-doc shingle sets. Set sizes
    * are bounded by doc length, so collect_set stays small per row.
    * `broadcastSets` (caller-sized, typically the postings-fit-broadcast
    * estimate): ship the set table to both joins instead of shuffling the
    * candidates twice — the small-corpus regime where per-stage overhead,
    * not data, is the cost. */
  private def verifyJaccard(
      cand: DataFrame, sh: DataFrame, threshold: Double,
      broadcastSets: Boolean = false): DataFrame = {
    val sets0 = sh.groupBy(col("doc_id")).agg(collect_set(col("shingle")).as("s"))
    val sets = if (broadcastSets) broadcast(sets0) else sets0
    cand
      .join(sets.as("x"), col("doc_a") === col("x.doc_id"))
      .join(sets.as("y"), col("doc_b") === col("y.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("x.s"), col("y.s"))).cast("double") /
          size(array_union(col("x.s"), col("y.s")))).as("j"))
      .where(col("j") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("j"), 6).as("jaccard"))
  }

  /** D5 (scale path) — embedding-cosine near-dup via sign-LSH banding:
    * candidate pairs come from [[Blocking.pairs]] over sign-band keys —
    * `numPlanes` deterministic hyperplane sign bits split into
    * `numPlanes/bandBits` bands — then exact cosine is computed on the
    * candidates only and thresholded. Work scales with band-collision
    * counts, not n²: no BroadcastNestedLoopJoin anywhere in the plan. A
    * band collision only ADDS a candidate; the exact verify scores it, so
    * false positives can't corrupt output (recall vs the exact all-pairs
    * path is spec-tested in DedupSpec). Hyperplanes are the md5-derived
    * constants of [[Similarity.lshBucket]], so the whole pipeline is
    * reproducible in any engine with md5. */
  def embeddingNearDupLsh(
      embeddings: DataFrame,
      threshold: Double = 0.4,
      numPlanes: Int = 8,
      bandBits: Int = 4): DataFrame = {
    // norms + bucket in one narrow scan; the vector rides along so the
    // band join needs no second pass over the corpus
    val base = embeddings.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("n", Similarity.norm(col("v")))
      .withColumn("bucket", Similarity.lshBucket(col("v"), numPlanes))
    val cosine = round(Similarity.dot(col("a.v"), col("b.v")) /
      (col("a.n") * col("b.n")), 6)
    Blocking.pairs(
      Blocking.banded(base,
        Blocking.signBandKeys(col("bucket"), numPlanes, bandBits)),
      None, "vec_id", ("id_a", "id_b"), on = cosine >= threshold,
      out = Seq(cosine.as("cosine")))
  }

  /** D7 — near-dup survivor resolution: the dedup DECISION over candidate
    * pairs. Pairwise output alone can't answer "which rows do I keep" once
    * chains exist (A~B, B~C must collapse to ONE survivor even though A and
    * C never paired), so this computes connected components over the pair
    * graph and labels every member with its cluster's minimum doc_id.
    *
    * Algorithm: iterative min-label propagation with pointer jumping —
    * each round (1) relaxes labels across edges (join-agg, no driver
    * iteration over rows) and (2) hops each label to its label's label
    * (path halving), so convergence is O(log diameter) rounds rather than
    * O(diameter); a 100-million-doc chain still resolves in ~27 rounds.
    * `hops` sets how many label-follow joins run per round: each extra hop
    * COMPOSES the already-compressed pointer map with itself, so reach
    * grows ~2^hops per round and round count drops to ~log₂(d)/hops — the
    * lever for long-diameter graphs, where the fixed per-round cost
    * (relax join + convergence action + checkpoint) dominates. Hop
    * intermediates past the first are lazily checkpointed so hop k+1
    * reads hop k's blocks instead of recomputing its join tree twice, and
    * those blocks are freed with the round's superseded labels.
    * Each round shuffles only (node, label) pairs — never the pair graph
    * squared — and `localCheckpoint` truncates the plan lineage so the
    * loop doesn't accrete an exponential Catalyst tree.
    *
    * Returns (doc_id, cluster) for every doc that appears in a pair;
    * cluster == the component's min doc_id (so survivors are the rows
    * where doc_id == cluster).
    *
    * Execution is AUTO-SIZED (r16, VERDICT r15 #5): the deduplicated
    * edge list is checkpointed once either way (the loop needs it too),
    * and a cheap count over those cached blocks picks the regime —
    * at or under `driverResolveMaxEdges` rows the components resolve as
    * an in-driver union-find (zero loop jobs; the label table returns as
    * a LocalRelation, so downstream survivor/size joins broadcast), and
    * above it the iterative join loop runs ([[resolveClustersCounted]]).
    * The gate is a MEASURED count, not a Catalyst estimate — pair
    * frames arrive through band joins whose cardinality estimates are
    * meaningless — and the driver state is bounded at ~48 MB. Dedup
    * cluster graphs are small relative to the corpus in the common case
    * (that is the point of deduplication); the 100 TB clique regime
    * crosses the gate and keeps the distributed loop. */
  def resolveClusters(pairs: DataFrame, maxIterations: Int = 64,
      hops: Int = 1,
      driverResolveMaxEdges: Long = defaultDriverResolveMaxEdges): DataFrame = {
    val edges = edgeListOf(pairs)
    if (edges.count() <= driverResolveMaxEdges) {
      val labels = driverUnionFind(edges)
      Materialize.release(edges)
      labels
    } else loopFromEdges(edges, maxIterations, hops)._1
  }

  /** Driver-side cap for [[resolveClusters]]'s union-find fast path, in
    * edge rows (pairs explode 4x into directed edges + self-loops, so
    * this is ~256k pairs): 1M (Long, Long) rows collect to ~48 MB of
    * driver heap, transient. Above the cap the distributed loop runs. */
  val defaultDriverResolveMaxEdges: Long = 1L << 20

  /** The shared edge construction: each pair explodes to both directions
    * PLUS both self-loops, one distinct, one lazy checkpoint —
    * materialized by the wrapper's count gate or the loop's first round,
    * whichever consumes it first (r15: was
    * three eager checkpoints whose fixed job cost dominated small pair
    * graphs). Self-loops mean "adopt the smallest label among self +
    * neighbors" is one join-agg per round, and they double as the node
    * list — round-0 labels are a lazy projection over the same
    * checkpoint blocks, not their own.
    *
    * (measured r15: pre-partitioning by src before the checkpoint does
    * NOT survive into the loop's join planning on Spark 4.1 + AQE — the
    * LogicalRDD comes back without usable HashPartitioning, so the extra
    * setup shuffle bought nothing and quadrupled task counts; the
    * per-round edges shuffle stays, priced at one exchange of the pair
    * graph per round) */
  private def edgeListOf(pairs: DataFrame): DataFrame = Materialize.local(pairs
    .select(col("doc_a").cast("long").as("a"),
      col("doc_b").cast("long").as("b"))
    .select(explode(array(
      struct(col("a").as("src"), col("b").as("dst")),
      struct(col("b").as("src"), col("a").as("dst")),
      struct(col("a").as("src"), col("a").as("dst")),
      struct(col("b").as("src"), col("b").as("dst")))).as("e"))
    .select(col("e.src").as("src"), col("e.dst").as("dst"))
    .distinct(), eager = false)

  /** In-driver union-find over a gate-small checkpointed edge list:
    * union-by-min (the smaller root adopts, so every root IS its
    * component's minimum) with full path compression on find. Labels
    * return as a LocalRelation — identical rows to the loop's output. */
  private def driverUnionFind(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val es = edges.select(col("src"), col("dst")).as[(Long, Long)].collect()
    val parent = new java.util.HashMap[Long, Long](es.length * 2)
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    es.foreach { case (a, b) =>
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    val out = new Array[(Long, Long)](parent.size())
    val it = parent.keySet().iterator()
    var i = 0
    while (it.hasNext) { val id = it.next(); out(i) = (id, find(id)); i += 1 }
    out.toSeq.toDF("doc_id", "cluster")
  }

  /** [[resolveClusters]] plus the number of rounds it took — ALWAYS the
    * distributed loop (no driver fast path), so the scale proof and the
    * round-count specs pin the loop itself: rounds ≤ ⌈log₂ diameter⌉ + 2
    * on a path graph. */
  private[graft] def resolveClustersCounted(pairs: DataFrame,
      maxIterations: Int = 64, hops: Int = 1): (DataFrame, Int) =
    loopFromEdges(edgeListOf(pairs), maxIterations, hops)

  private def loopFromEdges(edges: DataFrame,
      maxIterations: Int, hops: Int): (DataFrame, Int) = {
    require(hops >= 1, s"hops must be >= 1, got $hops")
    var labels = edges.where(col("src") === col("dst"))
      .select(col("src").as("doc_id"), col("src").as("cluster"))
    // Convergence detection (r15): labels are per-node monotonically
    // non-increasing (relax takes min over self + neighbors; each hop
    // takes least of a composition), so Σ labels strictly decreases
    // exactly when any label changed — an unchanged sum IS the fixpoint.
    // That makes the convergence read a plain aggregate over the frame
    // the round materializes anyway, deleting the old per-round
    // new-vs-old labels join. decimal(38,0): 1e8 docs × 1e18 max id
    // stays exact where a long sum would wrap.
    val rounds = new Materialize.Latest
    var prevSum: java.math.BigDecimal = null
    var converged = false
    var it = 0
    while (!converged && it < maxIterations) {
      // relax: a node adopts the smallest label among itself + neighbors
      val relaxed = edges.join(labels, edges("src") === labels("doc_id"))
        .groupBy(edges("dst").as("doc_id"))
        .agg(min(col("cluster")).as("cluster"))
      // hop: follow the label one step per hop (labels are themselves node
      // ids, and a node's label only ever shrinks, so the join is total).
      // Hop 1 self-joins `relaxed` directly — its shuffle is shared via
      // exchange reuse; deeper hops checkpoint the previous hop first.
      var hopped = relaxed
      val hopCps = collection.mutable.Buffer.empty[DataFrame]
      var h = 0
      while (h < hops) {
        val src =
          if (h == 0) hopped
          else { val cp = Materialize.local(hopped, eager = false); hopCps += cp; cp }
        hopped = src.as("x")
          .join(src.as("y"), col("x.cluster") === col("y.doc_id"))
          .select(col("x.doc_id"),
            least(col("x.cluster"), col("y.cluster")).as("cluster"))
        h += 1
      }
      // ONE action per round: the label-sum aggregate below both
      // materializes the (lazy) checkpoint blocks and returns the
      // convergence read. Round 0 has no predecessor sum, but it CAN be
      // the fixpoint (a degenerate all-self-pairs graph, ADVICE r15 #3):
      // post-relax every label is <= its node id (the self-loop puts the
      // node itself under the min), so Σcluster == Σdoc_id exactly when
      // round-0 labels are the identity — i.e. relax applied to identity
      // returned identity, the fixpoint. Σdoc_id rides the same job for
      // free; `cnt` catches the empty graph.
      val next = Materialize.local(hopped, eager = false)
      val row = next.agg(
        coalesce(sum(col("cluster").cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")),
        count(lit(1)),
        coalesce(sum(col("doc_id").cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)"))).head
      val (sum0, cnt, idSum) =
        (row.getDecimal(0), row.getLong(1), row.getDecimal(2))
      converged =
        if (it == 0) cnt == 0L || sum0.compareTo(idSum) == 0
        else sum0.compareTo(prevSum) == 0
      prevSum = sum0
      // the superseded round's label blocks are dead the moment `next` is
      // materialized — at 100M docs / ~27 rounds, keeping them would pin
      // ~27 copies of the label table. Round-0 labels are a view over the
      // edge blocks, so `rounds` starts empty. Hop snapshots are freed
      // here too, not as they are superseded: `next` reads them until
      // its aggregate has run.
      labels = rounds.replace(next)
      hopCps.foreach(Materialize.release)
      it += 1
    }
    require(converged, s"resolveClusters did not converge in $maxIterations rounds")
    Materialize.release(edges)
    (labels, it)
  }

  /** D7 (decision surface) — the surviving corpus after near-dup collapse:
    * every document keeps exactly one representative (the cluster's min
    * doc_id), with `n_merged` = how many documents it absorbed (1 for
    * documents in no pair). Compose with any pair producer
    * ([[minhashLsh]], [[simhash]], [[ngramJaccard]],
    * [[embeddingNearDupLsh]]). */
  def survivorCorpus(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val labels = resolveClusters(pairs)
    val sizes = labels.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_merged"))
      .withColumnRenamed("cluster", "doc_id")
    val dupes = labels.where(col("doc_id") =!= col("cluster")).select("doc_id")
    docs.join(dupes, Seq("doc_id"), "left_anti")
      .join(sizes, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_merged"), lit(1L)).as("n_merged"))
  }

  /** D11 — cross-source overlap matrix: for every pair of sources, how
    * many distinct k-grams they share, and that count as a fraction of
    * the smaller side's gram vocabulary — the corpus AUDIT that tells a
    * training-data owner which feeds mirror each other (a crawl that
    * re-ingests another feed shows up as a high-overlap pair) before any
    * doc-level dedup decision is made. Complements [[ngramJaccard]]
    * (doc×doc) at source×source granularity.
    *
    * 100 TB shape: the gram vocabulary per source is ONE distinct
    * aggregation (gram-keyed, map-side combine); the pair probe is an
    * equality self-join on the gram key whose per-gram work is bounded by
    * sources² (sources are tens, not millions — the join output is at
    * most S²/2 rows per gram, aggregated with map-side combine); sizes
    * broadcast back onto the S²/2-row matrix. Nothing is ever keyed by
    * doc pair or row pair. */
  def sourceOverlap(
      docs: DataFrame, shingleK: Int = 3,
      groupCol: String = "source"): DataFrame = {
    val sg = Materialize.local(docs
      .select(col(groupCol).as("src"), split(col("text"), " ").as("w"))
      .select(col("src"), explode(
        when(size(col("w")) >= shingleK,
          expr(s"transform(sequence(0, size(w) - $shingleK), " +
            s"i -> concat_ws(' ', slice(w, i + 1, $shingleK)))"))
          .otherwise(expr("array()"))).as("shingle"))
      .distinct(), eager = false)
      // three consumers: pair probe, build, sizes
    val sizes = sg.groupBy(col("src")).agg(count(lit(1)).as("n"))
    val shared = sg.as("a").join(sg.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
      .agg(count(lit(1)).as("shared_grams"))
    shared
      .join(broadcast(sizes).as("x"), col("src_a") === col("x.src"))
      .join(broadcast(sizes).as("y"), col("src_b") === col("y.src"))
      .select(col("src_a"), col("src_b"), col("shared_grams"),
        round(col("shared_grams").cast("double") /
          least(col("x.n"), col("y.n")), 6).as("overlap_frac"))
  }

  /** D10 — semantic dedup (SemDeDup-style): cluster-scoped embedding
    * near-dup with a KEEP DECISION per vector. Embeddings are assigned to
    * their nearest coarse-quantizer cell (the same md5-sampled
    * deterministic centroids as [[Similarity.ivfTopK]]); duplicates are
    * then resolved WITHIN cells only — a vector is dropped iff a LOWER-id
    * vector in the SAME cell has cosine ≥ `threshold`. This is the
    * web-scale semantic-dedup design (SemDeDup, Abbas et al. 2023): the
    * cluster assignment bounds the pair space to Σ|cell|² instead of n²,
    * and `numCentroids` grows with the corpus so per-cell work stays flat.
    *
    * Unlike [[embeddingNearDupLsh]] — where a band collision only
    * GENERATES a candidate for an exact global verify — the cell here is
    * part of the SEMANTICS: near-identical vectors in different cells are
    * both kept. That is the accepted approximation that keeps the operator
    * linear per cell. The assignment is a partition (exactly one cell per
    * vector), so no candidate-dedup or DISTINCT is needed anywhere.
    *
    * 100 TB shape: assignment is one codegen'd narrow scan (C dot products
    * per row); the pair probe is an EQUALITY self-join on the cell key — a
    * shuffled sort-merge join at scale with NO broadcast hint on either
    * side and no nested-loop join; the keep decision is a per-vector
    * aggregation, never a driver-side loop. Returns every vector:
    * (vec_id, cell, is_dup). */
  def semanticDedup(
      embeddings: DataFrame,
      numCentroids: Int = 16,
      threshold: Double = 0.4): DataFrame = {
    // assignment + scoring use vec_dot/vec_norm; register so callers with
    // hand-built frames (which never touched Tables.load) still resolve
    graft.functions.VectorFunctions.register(embeddings.sparkSession)
    val corpus = Similarity.normalizedCorpus(embeddings)
    val centroids = Similarity.centroidVectors(corpus, numCentroids)
    // three consumers (pair probe, pair build, final left join): checkpoint
    // so the C-dot-product assignment scan runs once, not per consumer
    val assigned = Materialize.local(corpus.withColumn("cell",
        array_max(Similarity.cellScores(col("v"), centroids)).getField("c")), eager = false)
    // bool_or over the per-pair predicate: one row out per vector that has
    // any qualifying lower-id cellmate — no DISTINCT over pair output
    val dups = assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") &&
          col("b.vec_id") < col("a.vec_id") &&
          round(Similarity.dot(col("a.v"), col("b.v")) /
            (col("a.nv") * col("b.nv")), 6) >= threshold)
      .groupBy(col("a.vec_id").as("vec_id"))
      .agg(first(lit(true)).as("dup"))
    assigned.join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("dup"), lit(false)).as("is_dup"))
  }

  /** D8 — corpus-wide line-level dedup (the C4 / RefinedWeb / MassiveText
    * boilerplate-removal step): any line whose EXACT text occurs in more
    * than `maxDocFreq` distinct documents is dropped from every document,
    * and each document's surviving lines are reassembled in their original
    * order. This is the pass that strips cookie banners, navigation chrome
    * and mirrored footers from web corpora — duplication is judged by
    * document frequency, so a line legitimately repeated WITHIN one
    * document survives.
    *
    * Output: (doc_id, text_clean, kept_lines, dropped_lines), one row per
    * input document — documents whose every line was boilerplate stay in
    * the output with empty text, so the caller decides the drop policy.
    *
    * 100 TB shape: split+posexplode is narrow; the document-frequency
    * count is ONE line-keyed aggregation (the (line, doc_id) distinct and
    * the df count both partial-aggregate map-side, so the shuffle carries
    * collapsed partials, not raw lines); the frequent-line set is then the
    * join's build side — boilerplate vocabularies are heavy-hitter-bounded
    * (≤ total_lines / maxDocFreq distinct values, in practice tiny), so
    * AQE elects a broadcast left_anti and the corpus is never shuffled by
    * line key a second time; reassembly is ONE doc_id-keyed aggregation.
    * Three shuffles total, none carrying more than the line table.
    *
    * `sep` is a Java regex (Spark `split`); keep it to a literal separator
    * (e.g. "\n") when mirroring with engines whose split is non-regex. */
  def lineDedup(
      docs: DataFrame,
      maxDocFreq: Int = 1,
      sep: String = "\n"): DataFrame = {
    // Ship the DECISION, not the payload (the redactSpans pattern): the
    // only rows that ever shuffle are (a) one (line-hash-keyed) partial
    // count per distinct line per task for the document-frequency table —
    // per-doc dedup is array_distinct inside the row, no exchange — and
    // (b) the positions of DROPPED occurrences, collected per doc. The
    // kept lines (the corpus bulk) are rebuilt from the original text row
    // by a codegen'd positional HOF filter and never cross the network;
    // the old shape shuffled every kept line through a collect_list +
    // array_sort regroup. Spark's split keeps trailing empty strings, so
    // the split → filter-nothing → join round trip is byte-identical for
    // untouched docs.
    val frequent = docs
      .select(explode(array_distinct(split(col("text"), sep))).as("line"))
      .groupBy(col("line")).agg(count(lit(1)).as("df"))
      .where(col("df") > maxDocFreq)
      .select(col("line"))
    val dropped = docs
      .select(col("doc_id"),
        posexplode(split(col("text"), sep)).as(Seq("pos", "line")))
      .join(frequent, Seq("line"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(collect_set(col("pos")).as("drop_pos"))
    // NULL-text guards (ADVICE r16): a null text splits to a null array,
    // so unguarded the rebuild yielded text_clean = NULL and
    // kept_lines = size(null) = -1 where the pre-r16 shape reported ""
    // and 0 — restore that degenerate-input behavior explicitly
    docs.select(col("doc_id"), split(col("text"), sep).as("ls"))
      .join(dropped, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(array_join(
          filter(col("ls"), (_, i) =>
            col("drop_pos").isNull || !array_contains(col("drop_pos"), i)),
          sep), lit("")).as("text_clean"),
        greatest(lit(0L),
          (size(col("ls")) - coalesce(size(col("drop_pos")), lit(0)))
            .cast("long")).as("kept_lines"),
        coalesce(size(col("drop_pos")), lit(0)).cast("long")
          .as("dropped_lines"))
  }

  /** D12 — cross-fold contamination audit: how much NEAR-duplicate mass
    * leaks across [[Sampling.leakSafeFolds]]' fold boundaries. The fold
    * assignment guarantees EXACT duplicates share a fold (content-keyed
    * hash), but near-duplicates — the pairs [[minhashLsh]] finds above
    * the jaccard threshold with different byte content — can still
    * straddle train/eval folds, which is precisely the contamination a
    * held-out evaluation must quantify before trusting its numbers.
    * One summary row: total near-dup pairs, the exact-pair subset
    * (same dup_group), `n_exact_cross` (MUST be 0 — releasing it puts
    * the fold guarantee itself inside the correctness gate, corpus-
    * wide, not just in a spec fixture), `n_near_cross` (the leakage),
    * and leak per-mille of all pairs in exact integers.
    *
    * Scale shape: the [[minhashLsh]] pipeline (band joins, never n²)
    * produces the pair frame; fold/group labels attach via TWO
    * key-keyed equi-joins of the pair frame against the narrow
    * (doc_id, dup_group, fold) projection — pair-frame-sized work, the
    * wide text never rides these joins; the rollup is one scalar
    * aggregation. */
  def crossFoldLeakage(docs: DataFrame, folds: Int = 10): DataFrame = {
    val f = graft.ops.Sampling.leakSafeFolds(docs, "text", folds)
      .select(col("doc_id"), col("dup_group"), col("fold"))
    minhashLsh(docs)
      .select(col("doc_a"), col("doc_b"))
      .join(f.select(col("doc_id").as("doc_a"), col("dup_group").as("g_a"),
        col("fold").as("fold_a")), Seq("doc_a"))
      .join(f.select(col("doc_id").as("doc_b"), col("dup_group").as("g_b"),
        col("fold").as("fold_b")), Seq("doc_b"))
      .agg(
        count(lit(1)).as("n_pairs"),
        count(when(col("g_a") === col("g_b"), 1)).as("n_exact_pairs"),
        count(when(col("g_a") === col("g_b") &&
          col("fold_a") =!= col("fold_b"), 1)).as("n_exact_cross"),
        count(when(col("g_a") =!= col("g_b") &&
          col("fold_a") =!= col("fold_b"), 1)).as("n_near_cross"))
      .select(col("n_pairs"), col("n_exact_pairs"), col("n_exact_cross"),
        col("n_near_cross"),
        when(col("n_pairs") > 0,
          expr("n_near_cross * 1000 DIV n_pairs")).otherwise(lit(0L))
          .as("leak_per_mille"))
  }

  /** D5 (exact verifier) — top-N closest pairs over ALL pairs. O(n²) by
    * definition: this is the small-input VERIFICATION path that the spec
    * measures [[embeddingNearDupLsh]]'s recall against, not the registered
    * scale query. Output ranks by rounded score with id tie-breaks so
    * results are engine-reproducible. */
  def embeddingNearDup(embeddings: DataFrame, topN: Int = 20): DataFrame = {
    // Norms are hoisted out of the pairwise join: computed once per vector
    // (identical IEEE value to recomputing per pair, so oracle hashes are
    // unchanged) — the O(n²) stage does only the dot product.
    val a = embeddings.select(col("vec_id").as("id_a"),
      col("embedding").cast("array<double>").as("va"))
      .withColumn("na", Similarity.norm(col("va")))
    val b = embeddings.select(col("vec_id").as("id_b"),
      col("embedding").cast("array<double>").as("vb"))
      .withColumn("nb", Similarity.norm(col("vb")))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("c"))
      .select(col("id_a"), col("id_b"), round(col("c"), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("id_a"), col("id_b"))
      .limit(topN)
  }

  /** D14 — near-dup cluster-size histogram (dedup yield report): the
    * [[dupMassHistogram]] idea applied to NEAR duplicates — per connected-
    * component size m of the near-dup pair graph: cluster count, docs,
    * docs a keep-one-per-cluster dedup removes ((m−1)·clusters), and the
    * removal in exact per-mille of the corpus. The m = 1 row is the
    * untouched corpus (docs in no pair); a heavy tail of large m is the
    * boilerplate/mirror signature that makes near-dedup worth its cost,
    * and Σ n_removed over m ≥ 2 IS the yield [[survivorCorpus]] realizes.
    *
    * Scale shape: labels via the shared pointer-jumping CC
    * ([[resolveClusters]], ⌈log₂ diameter⌉+2 rounds); cluster sizes and
    * the histogram are two tiny key aggs over the pair-participant frame
    * (never the corpus); singletons by ONE corpus anti-join counted,
    * unioned as the m = 1 row; the per-mille total is a window over the
    * HISTOGRAM (Σ m·n_clusters = corpus size by construction — bounded
    * rows, no second corpus scan). */
  def clusterSizeHistogram(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val labels = resolveClusters(pairs)
    val multi = labels
      .groupBy(col("cluster")).agg(count(lit(1)).as("m"))
      .groupBy(col("m")).agg(count(lit(1)).as("n_clusters"))
    val singles = docs
      .join(labels.select("doc_id"), Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n_clusters"))
      .select(lit(1L).as("m"), col("n_clusters"))
    val tot = Window.partitionBy()
    multi.select(col("m"), col("n_clusters"))
      .unionByName(singles)
      .where(col("n_clusters") > 0)
      .withColumn("n_docs", col("m") * col("n_clusters"))
      .withColumn("__tot", sum(col("n_docs")).over(tot))
      .select(col("m").as("cluster_size"), col("n_clusters"), col("n_docs"),
        ((col("m") - 1) * col("n_clusters")).as("n_removed"),
        expr("(m - 1) * n_clusters * 1000 DIV __tot").as("removed_per_mille"))
  }

  /** D13 — duplication-multiplicity token-mass histogram: how much of
    * the corpus' token mass sits in text duplicated exactly k times —
    * the "effective dataset size" accounting behind every dedup
    * decision (multi-epoch training on duplicated text is implicit
    * upweighting; this table says exactly how much). Per multiplicity
    * k: distinct text groups, docs, total token mass, the mass one
    * copy would contribute (`unique_mass`), the redundant excess, and
    * the k-row's share of all corpus tokens in exact per-mille. The
    * k = 1 row IS the unique corpus; Σ excess_mass over k ≥ 2 is the
    * token budget exact dedup ([[exact]]) reclaims.
    *
    * Scale shape: the [[exact]] exchange (md5-of-text groupBy with
    * map-side combine — the digest, not the text, rides the shuffle)
    * into a second tiny agg keyed by k (distinct multiplicities are
    * O(√n_docs) at worst); the corpus-total for the per-mille is an
    * unpartitioned window over THAT histogram — bounded rows, never
    * data. Identical text implies identical token count, so per-group
    * mass is max(tokens)·k exactly. */
  def dupMassHistogram(docs: DataFrame): DataFrame =
    dupMassHistogramFromGroups(dupGroupsOf(docs))

  /** The (digest g, multiplicity k, token count toks) group table behind
    * [[dupMassHistogram]] — split out so [[graft.ops.Versioning
    * .maintainDupGroups]] can maintain it incrementally across snapshot
    * ticks (one definition of the digest/costing convention). */
  def dupGroupsOf(docs: DataFrame): DataFrame =
    docs
      .select(md5(col("text").cast("binary")).as("g"),
        size(split(col("text"), " ")).cast("long").as("toks"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("k"), max(col("toks")).as("toks"))

  /** [[dupMassHistogram]]'s rollup tail over an existing group table —
    * the read-off for incrementally-maintained groups. */
  def dupMassHistogramFromGroups(groups: DataFrame): DataFrame = {
    val hist = groups
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("toks") * col("k")).as("token_mass"),
        sum(col("toks")).as("unique_mass"))
    val tot = Window.partitionBy()
    hist
      .withColumn("__tot", sum(col("token_mass")).over(tot))
      .select(col("k").as("multiplicity"), col("n_groups"),
        (col("k") * col("n_groups")).as("n_docs"),
        col("token_mass"), col("unique_mass"),
        (col("token_mass") - col("unique_mass")).as("excess_mass"),
        expr("token_mass * 1000 DIV __tot").as("mass_per_mille"))
  }
}
