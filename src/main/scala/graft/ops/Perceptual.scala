package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import PersistedIndex.Kind

import graft.Tables

/** Perceptual-hash near-duplicate detection over opaque media columns —
  * the image analog of [[Dedup.simhash]] (north-star extension, SURVEY
  * §7.2 M6 depth): re-encoded, resized, or brightness-shifted copies of
  * the same picture hash to nearby 63-bit dHashes, and near-dup pairs
  * fall out of a banded Hamming join, never an n² product.
  *
  * dHash (difference hash): decode the blob to a 9-wide × 8-tall
  * luminance grid, then emit one bit per horizontally-adjacent cell pair —
  * bit k set iff cell(r,c) < cell(r,c+1), k = r·8+c. Gradient SIGNS are
  * what survive re-encoding: a global brightness/contrast shift moves
  * every cell by the same amount and flips no bit, which is exactly why
  * dHash is the standard cheap perceptual fingerprint. The hash keeps 63
  * of the 64 gradient bits (the r=7,c=7 bit is dropped) so it stays in
  * positive-long range on every engine — the same portability move as
  * [[Dedup.simhash]]'s 60 bits.
  *
  * The decode is PLUGGABLE ([[GridDecoder]]), mirroring the
  * [[MediaDecoder]] contract: [[ImageGridDecoder]] decodes real BMP/PNG/
  * GIF/JPEG pure-JVM (ImageIO) and box-averages integer luminance to the
  * grid; [[ByteStrideGridDecoder]], the registered-query default, stride-
  * samples the raw bytes — deterministic and reproducible in the DuckDB
  * oracle (the ns12 decoder-choice precedent; the synthetic testdata
  * carries text blobs, not media files). Swapping decoders changes no
  * plan shape.
  *
  * Scale shape at 100 TB:
  *   - hashing: ONE mapPartitions decode pass (the documented-legit
  *     mapPartitions case — binary blobs), no shuffle; each task turns its
  *     batch of blobs into (doc_id, 1 long). The media column never
  *     shuffles.
  *   - pairing: explode ×`bands` band keys (narrow), ONE shuffle keyed by
  *     one Long per band, band-equality self-join ([[Blocking.pairs]]) —
  *     candidate work is collision volume, never corpus². Pigeonhole-complete: hamming ≤
  *     maxHamming < bands forces ≥ 1 identical band, so the banded join
  *     EXACTLY reproduces the all-pairs semantics the oracle computes.
  *   - skew: a constant-tile corpus (all-black thumbnails) floods one
  *     band bucket; `maxBandFreq` ([[Blocking.pairs]]) drops over-hot
  *     buckets from candidate generation — the [[Dedup.ngramJaccard]] `maxDocFreq` lever, with
  *     the same documented recall trade (default ∞ keeps oracle-exact
  *     semantics).
  */
object Perceptual {

  /** Grid geometry: 9 wide × 8 tall = 72 cells → 8×8 horizontal
    * gradients, minus the dropped top bit = 63 hash bits. */
  val gridW = 9
  val gridH = 8
  val gridCells: Int = gridW * gridH
  val hashBits = 63

  /** Shared bit-packing: grid → 63-bit dHash. Pure, used by every decoder
    * path and by the spec's brute-force reference. */
  private[ops] def dhashOfGrid(g: Array[Int]): Long = {
    var h = 0L
    var r = 0
    while (r < gridH) {
      var c = 0
      while (c < gridW - 1) {
        val k = r * (gridW - 1) + c
        if (k < hashBits && g(r * gridW + c) < g(r * gridW + c + 1))
          h |= 1L << k
        c += 1
      }
      r += 1
    }
    h
  }

  /** The byte-stride hash as a plain function: decode + bit-pack, the
    * single definition behind BOTH execution paths (the
    * [[graft.functions.Phash63]] codegen expression calls exactly this,
    * so expression and decoder results cannot drift). Public because the
    * generated Java code must link against it. */
  def strideHash63(content: Array[Byte]): Long =
    dhashOfGrid(ByteStrideGridDecoder.decode(content))

  /** P1b — scene-cut detection: per video, the Hamming distance between
    * CONSECUTIVE sampled keyframes' dHashes, rolled up to cut counts —
    * the segmentation step that decides WHERE a video pipeline samples
    * (dense around cuts, sparse inside static scenes; uniform sampling
    * wastes budget on still shots and misses transitions). A cut is a
    * consecutive-frame distance above `cutThreshold` (the perceptual
    * family's "different image" bar); per video: sampled frames, cuts,
    * and the max distance (NULL for single-frame clips — no pair to
    * measure, reported honestly). Uses the same codegen `phash63`
    * projection and frame sampler as the ns83 dedup, so the two share
    * one decode and one hash convention.
    *
    * Scale shape: frame explode (bounded ⌈bytes/frameBytes⌉/everyK per
    * clip) → codegen hash → ONE video-keyed window (lag) + rollup on
    * the SAME key — one exchange total; no pair join anywhere. */
  def sceneCuts(
      media: DataFrame,
      frameBytes: Int = 64,
      everyK: Int = 2,
      cutThreshold: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.VectorFunctions.register(media.sparkSession)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("source_frame"))
    Multimodal.frameSample(media, frameBytes, everyK)
      .select(col("doc_id"), col("source_frame"),
        coalesce(call_function("phash63", col("frame")), lit(0L))
          .as("phash"))
      .withColumn("prev", lag(col("phash"), 1).over(w))
      .withColumn("ham",
        when(col("prev").isNull, lit(null).cast("long"))
          .otherwise(expr("bit_count(phash ^ prev)").cast("long")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
        count(when(col("ham") > cutThreshold, 1)).as("n_cuts"),
        max(col("ham")).as("max_hamming"))
  }

  /** P2b — audio segment report: per clip, the DOMINANT loudness band of
    * each of the 9 time slices of the decoder's 8-band × 9-slice texture
    * grid, rolled up to band-shift counts — the cheap segmentation signal
    * (a clip whose dominant band never shifts is texturally static: tone,
    * silence, hum; many shifts = speech/music-like structure worth
    * denser sampling — the audio sibling of [[sceneCuts]]). Per clip:
    * `n_shifts` (consecutive slices whose dominant band differs),
    * `start_band`, `end_band`. Dominance ties break LOW band (both
    * engines sort (count desc, band asc)); an empty/undecodable clip is
    * the all-zero grid — every slice ties to band 0, zero shifts,
    * reported rather than dropped.
    *
    * Scale shape: one decode UDF per clip (the sanctioned binary-media
    * zone), a 9-slice explode of the 72-int grid, a codegen 8-way argmax
    * cascade, ONE clip-keyed window + rollup on the same key. */
  def audioSegments(
      media: DataFrame,
      decoder: GridDecoder = WavGridDecoder): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grid = udf((b: Array[Byte]) => decoder.decode(b))
    def cnt(b: Int) =
      element_at(col("g"), lit(b * 9) + col("s") + lit(1))
    val bands = 0 until 8
    val dom = bands.init.foldRight(lit(7)) { case (b, e) =>
      when(bands.drop(b + 1).map(o => cnt(b) >= cnt(o)).reduce(_ && _),
        lit(b)).otherwise(e)
    }
    val w = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    media
      .select(col("doc_id"), grid(col("content")).as("g"))
      .select(col("doc_id"), explode(expr("sequence(0, 8)")).as("s"),
        col("g"))
      .select(col("doc_id"), col("s"), dom.cast("long").as("band"))
      .withColumn("prev", lag(col("band"), 1).over(w))
      .groupBy(col("doc_id"))
      .agg(
        count(when(col("band") =!= col("prev"), 1)).as("n_shifts"),
        max(when(col("s") === 0, col("band"))).as("start_band"),
        max(when(col("s") === 8, col("band"))).as("end_band"))
  }

  /** Hashing pass: (doc_id, content binary) → (doc_id, phash long). No
    * shuffle; output partitioning == input partitioning.
    *
    * Two execution paths with ONE definition of the math:
    *  - the default byte-stride decoder runs as the codegen'd
    *    [[graft.functions.Phash63]] expression — a pure PROJECTION, so
    *    upstream codegen (frame Generate, scan) and downstream partial
    *    aggregation fuse into one whole-stage span instead of splitting
    *    around a mapPartitions serialization barrier;
    *  - any other decoder (real codecs: ImageIO, javax.sound) runs the
    *    per-partition batched imperative pass, the documented-legit
    *    mapPartitions case. Null blobs hash to 0 on both paths (the
    *    decoder all-zero-grid contract). */
  def dhash63(
      media: DataFrame,
      decoder: GridDecoder = ByteStrideGridDecoder): DataFrame = {
    if (decoder eq ByteStrideGridDecoder) {
      graft.functions.VectorFunctions.register(media.sparkSession)
      media.select(col("doc_id"),
        coalesce(call_function("phash63", col("content")), lit(0L))
          .as("phash"))
    } else {
      val outSchema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("phash", LongType, nullable = false)))
      val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
        .encoderFor(outSchema)
      media.select(col("doc_id"), col("content"))
        .mapPartitions { rows =>
          rows.map { r =>
            Row(r.getLong(0),
              dhashOfGrid(decoder.decode(r.getAs[Array[Byte]](1))))
          }
        }(enc)
        .toDF()
    }
  }

  /** Banded Hamming near-dup pairs over (doc_id, phash): all (doc_a <
    * doc_b) pairs with hamming ≤ `maxHamming`, found via a
    * [[Blocking.pairs]] self-join on one Long key per band. The 63 bits split into
    * `bands` contiguous chunks whose sizes differ by ≤ 1 (e.g. bands=4 →
    * 16+16+16+15); `maxHamming < bands` makes the banding
    * pigeonhole-EXACT, so the output equals the brute-force all-pairs
    * answer. `maxBandFreq` (default unlimited) drops band buckets with
    * more than that many members before the join — [[Blocking.pairs]]'
    * skew lever, at a documented recall cost. */
  def nearDupPairs(
      hashes: DataFrame,
      maxHamming: Int = 3,
      bands: Int = 4,
      maxBandFreq: Long = Long.MaxValue): DataFrame =
    // both join sides derive from ONE materialization of (doc_id, phash):
    // without it the self-join re-runs the upstream lineage on each side,
    // and when that lineage is the dhash63 decode pass the blobs decode
    // TWICE (16 bytes/row keeps the snapshot corpus-cheap)
    hammingPairs(Materialize.local(hashes, eager = false), maxHamming, bands,
      maxBandFreq)

  /** The banded pairs of (doc_id, phash) rows, without a snapshot —
    * [[nearDupPairsVerified]] feeds its own. */
  private def hammingPairs(
      hashes: DataFrame,
      maxHamming: Int,
      bands: Int,
      maxBandFreq: Long): DataFrame = {
    requireBandParams(maxHamming, bands)
    val hamming = bit_count(col("a.phash").bitwiseXOR(col("b.phash"))).cast("long")
    Blocking.pairs(
      Blocking.banded(hashes, phashKeys(col("phash"), bands)),
      None, "doc_id", ("doc_a", "doc_b"), on = hamming <= maxHamming,
      out = Seq(hamming.as("hamming")), maxBandFreq = maxBandFreq)
  }

  /** One decode pass → (doc_id, phash, grid): the hash AND its 72-cell
    * luminance grid, the verification signature for
    * [[nearDupPairsVerified]]. The grid is ~300 bytes/doc — index-sized,
    * shippable through joins; the blob column never leaves this pass. */
  def gridHashes(
      media: DataFrame,
      decoder: GridDecoder = ByteStrideGridDecoder): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("phash", LongType, nullable = false),
      StructField("grid",
        ArrayType(IntegerType, containsNull = false), nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    media.select(col("doc_id"), col("content"))
      .mapPartitions { rows =>
        rows.map { r =>
          val g = decoder.decode(r.getAs[Array[Byte]](1))
          Row(r.getLong(0), dhashOfGrid(g), g)
        }
      }(enc)
      .toDF()
  }

  /** Candidates-then-verify near-dup (the [[Dedup]] embedding-near-dup
    * pattern applied to images — VERDICT r11 #3, PLANS.md ns147's named
    * deployment lever made code): banded-dHash candidate pairs, then a
    * VERIFY stage that keeps only pairs whose actual luminance grids
    * agree — sum of absolute cell differences (`sad`, 72 cells × 0..255)
    * ≤ `maxSad`. A 63-bit dHash summarizes a document into gradient
    * SIGNS, so at web scale coincidental hash neighbors accumulate
    * (measured: 3.4M candidate pairs at the 100× decade); the grid
    * signature is content, not signs, and collapses them.
    *
    * Scale shape: ONE decode pass emits (phash, grid) together; the
    * candidate join ships 16-byte hash rows; the verify stage joins the
    * candidate PAIR LIST (collision-bounded) back to the ~300-byte/doc
    * grid table twice, keyed by doc id — blobs never move, nothing
    * pairwise ever touches content bigger than the grid. SAD is exact
    * integer arithmetic, reproducible in any SQL engine. */
  def nearDupPairsVerified(
      media: DataFrame,
      decoder: GridDecoder = ByteStrideGridDecoder,
      maxHamming: Int = 3,
      bands: Int = 4,
      maxSad: Long = 720L,
      maxBandFreq: Long = Long.MaxValue): DataFrame = {
    val sig = Materialize.local(gridHashes(media, decoder), eager = false)
    val cand = hammingPairs(sig.select(col("doc_id"), col("phash")),
      maxHamming, bands, maxBandFreq)
    sadVerify(cand, sig.select(col("doc_id"), col("grid")), maxSad)
      .select(col("doc_a"), col("doc_b"), col("hamming"), col("sad"))
  }

  /** THE grid distance: the exact integer sum of absolute differences
    * over the 72 luminance cells of two grids. One definition behind the
    * batch [[sadVerify]] AND the [[incrementalNewFromGridIndex]] probe
    * (the [[Blocking.signBandKeys]] shared-definition discipline —
    * VERDICT r12 #5 — so the two paths cannot drift). */
  private def sad(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => abs(x - y)), lit(0L),
      (acc, d) => acc + d)

  /** The batch grid-SAD verify stage: candidate pairs (doc_a, doc_b, ...)
    * join the ~300 B/doc (doc_id, grid) signature table by id, once per
    * side, and only pairs whose [[sad]] is ≤ `maxSad` survive, as a `sad`
    * column appended to the candidate row. Blobs never enter this stage. */
  private def sadVerify(
      cand: DataFrame,
      grids: DataFrame,
      maxSad: Long): DataFrame =
    cand
      .join(grids.select(col("doc_id").as("doc_a"), col("grid").as("ga")),
        "doc_a")
      .join(grids.select(col("doc_id").as("doc_b"), col("grid").as("gb")),
        "doc_b")
      .withColumn("sad", sad(col("ga"), col("gb")))
      .where(col("sad") <= maxSad)
      .drop("ga", "gb")

  // ---- the ONE definition of the band layout ------------------------------
  // The pigeonhole-exactness contract holds across nearDupPairs AND the
  // index probe only while both band with bit-identical layouts, so both
  // take their keys from phashKeys alone.

  private def requireBandParams(maxHamming: Int, bands: Int): Unit = {
    require(bands >= 2 && bands <= hashBits,
      s"bands must be in [2, $hashBits]")
    require(maxHamming >= 0 && maxHamming < bands,
      "maxHamming < bands is what makes the banded join pigeonhole-exact")
  }

  /** The band keys of a 63-bit `phash`, one Long per band: chunks of
    * floor/ceil 63/bands bits ([[Blocking.bitBandKeys]]). */
  private def phashKeys(phash: Column, bands: Int): Seq[Column] =
    Blocking.bitBandKeys(phash, hashBits, bands)

  // ---- persisted index lifecycle (the D6 shape for media) -----------------

  /** Index build — persist the corpus's (doc_id, phash) rows so ingest
    * ticks never re-DECODE the corpus: for media, the decode pass (real
    * codecs over 100 TB of blobs) dwarfs everything downstream, and the
    * whole point of a persisted perceptual index is that it is paid once.
    * 16 bytes/doc of parquet; the decoder NAME goes in the index meta —
    * the probe must hash new blobs with the family the index was built
    * with (the [[Dedup.writeMinhashIndex]] parameter-pinning contract) —
    * plus an optional source `fingerprint` for the staleness gate. Built
    * and published by [[PersistedIndex.build]]. */
  def writePhashIndex(
      media: DataFrame,
      path: String,
      decoder: GridDecoder = ByteStrideGridDecoder,
      fingerprint: Option[String] = None): Unit = {
    PersistedIndex.build(media.sparkSession, path, Kind.Phash,
        fingerprint) { tmp =>
      dhash63(media, decoder)
        .write.mode("overwrite").parquet(s"$tmp/hashes")
      Seq("decoder" -> decoder.name)
    }
  }

  /** Index maintenance — append a tick's ACCEPTED (doc_id, phash) rows so
    * the next probe dedups against corpus + everything accepted so far,
    * with per-tick work proportional to the batch. `accepted` MUST carry
    * hashes produced with the index's own decoder — callers naturally
    * pass [[incrementalNewFromPhashIndex]]'s output, which is. That output
    * is also a live plan over this index's files, so it is materialized
    * (eager localCheckpoint) before the append — writing under a plan
    * that re-lists those files would feed the update into itself; a batch
    * the CALLER already materialized (all leaves LogicalRDD) skips the
    * second copy, since a materialized plan cannot observe the append
    * (r16, the updateMinhashIndex contract). Single
    * writer per index, as for every incrementally-maintained artifact
    * here. */
  def updatePhashIndex(
      accepted: DataFrame,
      path: String,
      fingerprint: Option[String] = None): Unit =
    appendHashes(accepted, path, Kind.Phash, Seq("doc_id", "phash"),
      fingerprint)

  /** The phash and grid update: check the index kind, materialize the
    * batch unless the caller already did, append it, restamp if asked. */
  private def appendHashes(accepted: DataFrame, path: String, kind: Kind,
      cols: Seq[String], fingerprint: Option[String]): Unit = {
    val spark = accepted.sparkSession
    PersistedIndex.read(spark, path, kind)
    Materialize.scope {
      Materialize.fixed(accepted.select(cols.map(col): _*))
        .write.mode("append").parquet(s"$path/hashes")
    }
    fingerprint.foreach(PersistedIndex.restamp(spark, path, kind, _))
  }

  /** Index maintenance window — compact the hashes directory: per-tick
    * appends accumulate one small file set per batch, and at-least-once
    * replay ([[graft.streaming.StreamingPerceptual]]) can leave duplicate
    * hash rows (harmless for decisions, not for scan cost). The compact
    * rewrites the data DEDUPED (exact (doc_id, phash) duplicates only)
    * into `numFiles` files, and rebuilds the whole index through
    * [[PersistedIndex.build]] with its meta unchanged — no step deletes
    * the last copy, a failed build deletes only its staging, and a
    * compaction killed mid-swap is put back by the next probe. Decisions
    * are unchanged by construction. Single maintainer per index, run
    * between ticks (the [[graft.streaming.StreamingWebIngest]]
    * ledger-compaction contract). */
  def compactPhashIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      numFiles: Int = 1): Unit = {
    require(numFiles >= 1, "numFiles must be >= 1")
    val meta = PersistedIndex.read(spark, path, Kind.Phash)
    // the staged write has read every row before the old index moves
    PersistedIndex.build(spark, path, Kind.Phash, meta.fingerprint) { tmp =>
      Tables.parquet(spark, s"$path/hashes").distinct().coalesce(numFiles)
        .write.parquet(s"$tmp/hashes")
      meta.params.toSeq
    }
  }

  /** Index probe — which rows of `newMedia` are NOT a near-dup (hamming
    * ≤ `maxHamming`) of any row in the persisted index? Returns the
    * survivors as (doc_id, phash), ready to feed [[updatePhashIndex]].
    * Each batch row is decided on its own: a batch that repeats a doc_id
    * keeps its new rows and drops its near-dup ones.
    *
    * The new batch is hashed with the decoder the index's meta declares
    * (never the caller's choice; `expectDecoder` pins it fail-fast); the
    * corpus side reads 16-byte hash rows, never blobs. The decision is the
    * pigeonhole-exact band test of [[nearDupPairs]] (maxHamming < bands),
    * so it equals the brute-force all-pairs answer; [[bandProbe]] gives
    * the plan. */
  def incrementalNewFromPhashIndex(
      newMedia: DataFrame,
      path: String,
      maxHamming: Int = 3,
      bands: Int = 4,
      expectDecoder: Option[String] = None): DataFrame = {
    val spark = newMedia.sparkSession
    val decoder = indexDecoder(spark, path, Kind.Phash, expectDecoder)
    bandProbe(dhash63(newMedia, decoder),
      Tables.parquet(spark, s"$path/hashes").select(col("phash")),
      maxHamming, bands)(lit(true))
  }

  /** The decoder the `kind` index at `path` was built with — the probe
    * must hash new blobs with the same family; `expectDecoder` pins it. */
  private def indexDecoder(spark: org.apache.spark.sql.SparkSession,
      path: String, kind: Kind, expectDecoder: Option[String]): GridDecoder = {
    val name = PersistedIndex.read(spark, path, kind)("decoder")
    expectDecoder.foreach { e =>
      require(e == name,
        s"index at $path was built with decoder=$name, caller " +
          s"requires $e - refusing to probe across hash families")
    }
    GridDecoders.byName(name)
  }

  /** The rows of `batch` (with a `phash`) that no row of `index` matches.
    * A match is hamming ≤ `maxHamming` AND `verify`, a condition over the
    * batch row `a` and that SAME index row `b`.
    *
    * Plan: one pipelined pass over the batch, a chain of `bands`
    * conditional left_anti joins, join p matching the batch row's band-p
    * key against the index's band keys. hamming ≤ maxHamming < bands
    * forces one equal band (pigeonhole), so the chain misses no match.
    * The index side is one plan in every join — all its band keys, one
    * `p << 32 | chunk` Long each, so no `p = const` filter splits it —
    * and Spark builds it once and reuses the exchange: a broadcast below
    * the threshold, one shuffle above it. The chain reads the batch once,
    * so the batch needs no snapshot and no decision needs a doc_id. */
  private def bandProbe(batch: DataFrame, index: DataFrame,
      maxHamming: Int, bands: Int)(verify: Column): DataFrame = {
    requireBandParams(maxHamming, bands)
    val build = index.select(col("*"),
      explode(array(phashKeys(col("phash"), bands): _*)).as("band_key"))
    phashKeys(col("a.phash"), bands).foldLeft(batch) { (survivors, key) =>
      survivors.as("a").join(build.as("b"),
        key === col("b.band_key") &&
          bit_count(col("a.phash").bitwiseXOR(col("b.phash"))) <= maxHamming &&
          verify,
        "left_anti")
    }
  }

  // ---- grid index: the VERIFIED lifecycle (VERDICT r12 #5) ---------------
  // The phash index above stores 16 B/doc and its probe accepts any
  // hamming-close candidate — at web scale coincidental dHash neighbors
  // accumulate (the ns147-vs-ns151 measurement: 73% of candidates refuted
  // by content). The grid index stores the ~300 B/doc luminance grid
  // alongside the hash so the probe can test the SAME [[sad]] distance
  // the batch operator uses: a new doc is a duplicate only if some index
  // row is hamming-close AND content-close. Same sidecar/staging/single-
  // writer discipline as the phash index.

  /** Build the verified index: (doc_id, phash, grid) — one decode pass
    * ([[gridHashes]]); the meta pins the decoder, and its `kind=grid`
    * keeps a phash-only index from being probed as a grid index. */
  def writeGridIndex(
      media: DataFrame,
      path: String,
      decoder: GridDecoder = ByteStrideGridDecoder,
      fingerprint: Option[String] = None): Unit = {
    PersistedIndex.build(media.sparkSession, path, Kind.Grid,
        fingerprint) { tmp =>
      gridHashes(media, decoder)
        .write.mode("overwrite").parquet(s"$tmp/hashes")
      Seq("decoder" -> decoder.name)
    }
  }

  /** Append a tick's accepted (doc_id, phash, grid) rows — callers pass
    * [[incrementalNewFromGridIndex]]'s output, which carries the grid
    * precisely so the append costs no second decode. Same
    * materialize-before-append rule as [[updatePhashIndex]]. */
  def updateGridIndex(
      accepted: DataFrame,
      path: String,
      fingerprint: Option[String] = None): Unit =
    appendHashes(accepted, path, Kind.Grid, Seq("doc_id", "phash", "grid"),
      fingerprint)

  /** VERIFIED index probe — which rows of `newMedia` have NO index row
    * that is BOTH hamming-close (≤ `maxHamming`, pigeonhole-exact banding)
    * and content-close ([[sad]] ≤ `maxSad`)? Hash and grid are those of
    * one index row, so an id the index holds twice never pairs one row's
    * hash with the other's grid. Returns survivors as (doc_id, phash,
    * grid), ready for [[updateGridIndex]]. The batch decodes once; the
    * corpus side reads ~300 B/doc signature rows, never blobs; the plan is
    * [[bandProbe]]'s, with the SAD test in its join condition. Decisions
    * equal the batch [[nearDupPairsVerified]] pair semantics restricted
    * to (new × index) pairs — the stream-batch equivalence the spec pins. */
  def incrementalNewFromGridIndex(
      newMedia: DataFrame,
      path: String,
      maxHamming: Int = 3,
      bands: Int = 4,
      maxSad: Long = 720L,
      expectDecoder: Option[String] = None): DataFrame = {
    val spark = newMedia.sparkSession
    val decoder = indexDecoder(spark, path, Kind.Grid, expectDecoder)
    bandProbe(gridHashes(newMedia, decoder),
      Tables.parquet(spark, s"$path/hashes").select(col("phash"), col("grid")),
      maxHamming, bands)(sad(col("a.grid"), col("b.grid")) <= maxSad)
  }
}

/** Decoder registry: sidecar `decoder=` names → implementations, so a
  * persisted index can declare its hash family and probes resolve it
  * without caller cooperation. */
object GridDecoders {
  val all: Seq[GridDecoder] =
    Seq(ByteStrideGridDecoder, ImageGridDecoder, WavGridDecoder)
  val byName: Map[String, GridDecoder] = all.map(d => d.name -> d).toMap
}

/** A grid decoder turns one opaque blob into the 72 exact integer
  * luminance cells of the 9×8 dHash grid. Implementations must be pure
  * and serializable (they ship inside the per-partition task closure) and
  * must return an all-zero grid — never throw — for an undecodable blob,
  * so one corrupt file in a 100 TB scan degrades one row, not the stage
  * (the [[MediaDecoder]] contract). */
trait GridDecoder extends Serializable {
  def name: String

  /** Must return exactly [[Perceptual.gridCells]] values. */
  def decode(content: Array[Byte]): Array[Int]
}

/** Default decoder: stride-sample the raw bytes — cell i reads byte
  * ⌊i·n/72⌋ (0-based). Format-agnostic, deterministic, and reproducible
  * in any SQL engine over the hex-encoded blob, which is why the
  * registered ns81 query pins this one (the ns12 decoder-choice
  * precedent). A length-preserving local edit perturbs only the cells
  * whose stride lands on the edited bytes — the text-blob analog of a
  * small image patch. */
object ByteStrideGridDecoder extends GridDecoder {
  val name = "byte-stride"
  def decode(content: Array[Byte]): Array[Int] = {
    val g = new Array[Int](Perceptual.gridCells)
    if (content != null && content.length > 0) {
      val n = content.length.toLong
      var i = 0
      while (i < Perceptual.gridCells) {
        g(i) = content((i * n / Perceptual.gridCells).toInt) & 0xff
        i += 1
      }
    }
    g
  }
}

/** Real audio decode, pure JVM (javax.sound WAV container, PCM 8/16-bit):
  * the grid is 9 TIME slices (the dHash gradient axis) × 8 amplitude
  * bands; cell (r,c) counts the samples in slice c whose unsigned
  * amplitude falls in band r (top 3 bits). The dHash over it is a
  * temporal loudness-texture fingerprint — how the amplitude
  * distribution moves through the clip.
  *
  * Exact re-encode invariance, by construction: a 16-bit sample's band is
  * `(s+32768) >>> 13` and its 8-bit quantization `v = (s+32768) >>> 8`
  * lands in band `v >>> 5` — the SAME value — so a 16-bit→8-bit
  * re-encode of a clip produces the IDENTICAL grid and hash (spec-pinned).
  * The depth-mismatch dup class that byte-level hashing can never catch
  * is exactly what this decoder exists for. */
object WavGridDecoder extends GridDecoder {
  val name = "wav-grid"
  def decode(content: Array[Byte]): Array[Int] = {
    val g = new Array[Int](Perceptual.gridCells)
    if (content == null) return g
    val in =
      try javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(content))
      catch { case scala.util.control.NonFatal(_) => null }
    if (in == null) return g
    try {
      val fmt = in.getFormat
      val bytes = in.readAllBytes()
      // decode to unsigned-16 amplitudes first so slicing sees sample
      // counts, not byte counts
      val amps: Array[Int] = fmt.getSampleSizeInBits match {
        case 16 =>
          val le = !fmt.isBigEndian
          val n = bytes.length / 2
          val a = new Array[Int](n)
          var i = 0
          while (i < n) {
            val s =
              if (le) ((bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8)).toShort
              else ((bytes(2 * i + 1) & 0xff) | (bytes(2 * i) << 8)).toShort
            a(i) = s + 32768
            i += 1
          }
          a
        case 8 => // unsigned PCM by WAV spec; scale to the 16-bit lattice
          bytes.map(b => (b & 0xff) << 8)
        case _ => Array.emptyIntArray // unsupported depth -> all-zero grid
      }
      val n = amps.length.toLong
      if (n == 0) return g
      var i = 0
      while (i < amps.length) {
        // i.toLong first: i * 9 overflows Int beyond ~238M samples
        val slice = (i.toLong * Perceptual.gridW / n).toInt // time column 0..8
        val band = amps(i) >>> 13 // amplitude row 0..7
        g(band * Perceptual.gridW + slice) += 1
        i += 1
      }
      g
    } catch {
      case scala.util.control.NonFatal(_) =>
        java.util.Arrays.fill(g, 0); g
    } finally in.close()
  }
}

/** Deterministic WAV synthesis for the audio near-dup registration path
  * (ns90): each UTF-8 text byte becomes one PCM sample via the mixing
  * map u8(i) = (byte_i·37 + i·11) mod 256 — full-range amplitudes, so
  * the 9×8 time×band grid carries entropy in every band row (raw text
  * bytes would cluster in the two ASCII bands and leave most hash bits
  * constant corpus-wide, flooding the banded join's buckets).
  *
  * `bits = 16` writes s16le (sample = u8·256 − 32768); `bits = 8`
  * writes the SAME u8 stream as unsigned 8-bit PCM — the depth
  * re-encode pair that [[WavGridDecoder]] hashes IDENTICALLY
  * (band((u8·256) >>> 13) = u8 >>> 5 on both paths) and byte-level
  * hashing can never catch. Real RIFF/WAVE containers via javax.sound
  * (`AudioSystem.write`), decoded back by the real decoder — and the
  * ns90 oracle recomputes the GRID independently from the same text
  * bytes in SQL, so the whole container+decoder round trip is
  * hash-verified, not just spec-gated. */
object WavSynth {
  def u8Samples(text: String): Array[Int] = {
    if (text == null) return Array.emptyIntArray // null blob -> empty clip
    val bs = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    // i.toLong first: i * 11 overflows Int beyond ~195M bytes (the same
    // overflow class WavGridDecoder's slice index fixes)
    Array.tabulate(bs.length)(i =>
      (((bs(i) & 0xff) * 37 + i.toLong * 11) % 256).toInt)
  }

  def wavOf(text: String, bits: Int): Array[Byte] = {
    import javax.sound.sampled._
    val u8 = u8Samples(text)
    val (fmt, data) = bits match {
      case 16 =>
        val d = new Array[Byte](u8.length * 2)
        var i = 0
        while (i < u8.length) {
          val s = (u8(i) << 8) - 32768
          d(2 * i) = (s & 0xff).toByte // s16le
          d(2 * i + 1) = ((s >> 8) & 0xff).toByte
          i += 1
        }
        (new AudioFormat(8000f, 16, 1, true, false), d)
      case 8 => // unsigned PCM by WAV spec
        (new AudioFormat(8000f, 8, 1, false, false), u8.map(_.toByte))
      case other =>
        throw new IllegalArgumentException(s"bits must be 8 or 16: $other")
    }
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, u8.length.toLong)
    val out = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }
}

/** Real image decode, pure JVM: ImageIO parses BMP/PNG/GIF/JPEG with no
  * native codecs; each grid cell is the box-average (integer division —
  * exact, platform-independent) of BT.601 integer luminance over its
  * pixel block, the classic dHash "resize to 9×8". */
object ImageGridDecoder extends GridDecoder {
  val name = "image-grid"
  def decode(content: Array[Byte]): Array[Int] = {
    val g = new Array[Int](Perceptual.gridCells)
    if (content == null) return g
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content))
      catch { case scala.util.control.NonFatal(_) => null }
    if (img == null) return g
    val (w, h) = (img.getWidth, img.getHeight)
    if (w == 0 || h == 0) return g
    var r = 0
    while (r < Perceptual.gridH) {
      val y0 = r * h / Perceptual.gridH
      val y1 = math.max(y0 + 1, (r + 1) * h / Perceptual.gridH)
      var c = 0
      while (c < Perceptual.gridW) {
        val x0 = c * w / Perceptual.gridW
        val x1 = math.max(x0 + 1, (c + 1) * w / Perceptual.gridW)
        var sum = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val rgb = img.getRGB(x, y)
            sum += (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
              114 * (rgb & 0xff)) / 1000
            x += 1
          }
          y += 1
        }
        g(r * Perceptual.gridW + c) = (sum / ((y1 - y0).toLong * (x1 - x0))).toInt
        c += 1
      }
      r += 1
    }
    g
  }
}
