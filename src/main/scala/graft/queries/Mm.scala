package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.PersistedIndex
import graft.ops.PersistedIndex.Kind
import Shared._

/** Image/audio/video features and near-dup legs. */
private[graft] object Mm extends Family("mm") {

  /** NS12 — multimodal feature extraction, canonicalized array-free: the
    * decoder's exact per-bin byte-histogram counts are exploded to one row
    * per (doc_id, dim). Counts come straight from the decode (`bin_counts`
    * long array), never recovered from the normalized float fractions —
    * exact at any blob size, where `round(frac * n_bytes)` drifts off by
    * one past ~8 MB (float mantissa). The driver's canonicalizer can hash
    * this shape, and the byte math is fully DuckDB-expressible. */
  private def ns12(s: SparkSession, dir: String): DataFrame =
    graft.ops.Multimodal.extractFeatures(
        graft.ops.Multimodal.packBinary(docs(s, dir)))
      .select(col("doc_id"), col("n_bytes"),
        posexplode(col("bin_counts")).as(Seq("dim", "n_in_bin")))
      .select(col("doc_id"), col("dim").cast("long").as("dim"),
        col("n_in_bin"), col("n_bytes"))

  /** NS153 — VERIFIED grid-index lifecycle
    * ([[graft.ops.Perceptual.writeGridIndex]] →
    * [[graft.ops.Perceptual.incrementalNewFromGridIndex]] →
    * [[graft.ops.Perceptual.updateGridIndex]]): ns82's
    * build-probe-append-probe shape upgraded to the r13 verified probe —
    * an ingest doc is rejected only if some indexed doc is BOTH
    * hamming-close (≤ 3, pigeonhole-exact banding) and content-close
    * (72-cell luminance SAD ≤ 128: the ns151 verify test, via the ONE
    * shared [[graft.ops.Perceptual.sad]] definition), so a
    * coincidental dHash neighbor can no longer suppress genuinely-new
    * media at ingest. Corpus = the v0/v1 image groups; tick 1 ingests
    * the reversed variants and its survivors append WITH their grids (no
    * re-decode); tick 2 ingests the edit variants and must see tick 1's
    * acceptances. Index rows are ~300 B/doc, blobs decode once per tick.
    * Oracle: the ns151 grid-arithmetic replay with the two lifecycle
    * NOT-EXISTS stages. */
  private def ns153(s: SparkSession, dir: String): DataFrame = {
    val synth = udf((t: String) => graft.ops.BmpSynth.bmpOf(t))
    val fam = ns81Family(s, dir).select(col("doc_id"),
      synth(col("t")).as("content"))
    val work = PersistedIndex.workingCopy(s,
      PersistedIndex.cached(s, Kind.Grid, s"$dir/documents.parquet") {
        (path, fp) => graft.ops.Perceptual.writeGridIndex(
          fam.where(col("doc_id") % 5 <= 1), path, graft.ops.ImageGridDecoder,
          fingerprint = Some(fp))
      })
    val tick1 = PersistedIndex.ingest(
      graft.ops.Perceptual.incrementalNewFromGridIndex(
        fam.where(col("doc_id") % 5 === 4), work, maxSad = 128L,
        expectDecoder = Some("image-grid")))(
      graft.ops.Perceptual.updateGridIndex(_, work))
    val tick2 = graft.ops.Perceptual.incrementalNewFromGridIndex(
      fam.where(col("doc_id") % 5 === 2 || col("doc_id") % 5 === 3), work,
      maxSad = 128L)
    tick1.select(col("doc_id"), col("phash"))
      .union(tick2.select(col("doc_id"), col("phash")))
  }

  /** The shared ns81/ns83 image-family synthesis: (doc_id, t) text
    * variants per 5-id family — two exact copies, two 1-byte
    * length-preserving edits, one reversed control. */
  private def ns81Family(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).select(col("doc_id"), col("text"))
    base.as("d")
      .join(base.as("b"),
        col("b.doc_id") === (col("d.doc_id") - col("d.doc_id") % 5))
      .select(col("d.doc_id").as("doc_id"),
        when(col("d.doc_id") % 5 <= 1, col("b.text"))
          .when(col("d.doc_id") % 5 === 2,
            concat(substring(col("b.text"), 1, 10), lit("#"),
              expr("substring(b.text, 12)")))
          .when(col("d.doc_id") % 5 === 3,
            concat(substring(col("b.text"), 1, 20), lit("@"),
              expr("substring(b.text, 22)")))
          .otherwise(reverse(col("b.text"))).as("t"))
  }

  /** NS90 — audio near-dup over REAL WAV containers
    * ([[graft.ops.WavSynth]] → [[graft.ops.WavGridDecoder]] →
    * [[graft.ops.Perceptual.nearDupPairs]]): the audio leg of the
    * perceptual family, through the real javax.sound decode path — the
    * one modality ns81/ns83 left spec-gated only (VERDICT r9 task 4).
    * Families of three per 3-id group: v0 = 16-bit PCM of the base
    * text's synthesized samples, v1 = the SAME samples re-encoded as
    * 8-bit PCM — a different byte stream in a different container that
    * [[graft.ops.WavGridDecoder]]'s band math hashes IDENTICALLY (the
    * depth-re-encode dup class byte hashing can never catch) — and
    * v2 = the reversed-text control that must stay far. The oracle
    * recomputes the 9×8 time×band grid and dHash INDEPENDENTLY from the
    * same text bytes in SQL (no WAV container, no javax.sound), so a
    * green hash certifies the container write + parse + band arithmetic
    * end-to-end, not just the pairing join. Scale shape = ns81's: one
    * mapPartitions decode pass (real codec), one banded shuffle,
    * pigeonhole-exact at maxHamming 3 < bands 4. */
  private def ns90(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).select(col("doc_id"), col("text"))
    val fam = base.as("d")
      .join(base.as("b"),
        col("b.doc_id") === (col("d.doc_id") - col("d.doc_id") % 3))
      .select(col("d.doc_id").as("doc_id"),
        when(col("d.doc_id") % 3 === 2, reverse(col("b.text")))
          .otherwise(col("b.text")).as("t"),
        when(col("d.doc_id") % 3 === 1, lit(8)).otherwise(lit(16))
          .as("bits"))
    val synth = udf((t: String, bits: Int) => graft.ops.WavSynth.wavOf(t, bits))
    val media = fam.select(col("doc_id"),
      synth(col("t"), col("bits")).as("content"))
    graft.ops.Perceptual.nearDupPairs(
      graft.ops.Perceptual.dhash63(media, graft.ops.WavGridDecoder),
      maxHamming = 3, bands = 4)
  }

  /** NS81 — perceptual-hash image near-dup
    * ([[graft.ops.Perceptual.nearDupPairs]] over
    * [[graft.ops.Perceptual.dhash63]]): re-encoded / lightly-edited
    * copies of the same "image" pair up under a banded 63-bit dHash
    * Hamming join — the multimodal analog of ns3's simhash. The
    * synthesis builds 5-variant families over the documents table's
    * blobs (the ns73/ns77 pattern): two exact copies, two 1-byte
    * length-preserving edits (a small patch — only strides landing on
    * the edited byte move), and one reversed control that must NOT
    * pair. maxHamming=3 < bands=4 keeps the banded join
    * pigeonhole-exact, so the oracle's brute-force all-pairs SQL is the
    * same function. The hashing pass is one mapPartitions decode (no
    * shuffle); pairing shuffles once on (band, chunk). */
  private def ns81(s: SparkSession, dir: String): DataFrame = {
    val media = ns81Family(s, dir).select(col("doc_id"),
      encode(col("t"), "UTF-8").as("content"))
    graft.ops.Perceptual.nearDupPairs(
      graft.ops.Perceptual.dhash63(media), maxHamming = 3, bands = 4)
  }

  /** NS83 — video-keyframe dedup ([[graft.ops.Multimodal.frameSample]] →
    * [[graft.ops.Perceptual.dhash63]] per frame → repeated-keyframe
    * groups): the video leg of the multimodal family. Blobs split into
    * 64-byte "frames", every 2nd sampled (the keyframe stride), each
    * sampled frame perceptually hashed, and frames repeated across the
    * corpus surface as (phash, n_frames, n_docs) groups — the static-
    * intro/shared-b-roll detector. All narrow until ONE phash-keyed
    * groupBy: the explode is in-partition codegen (`substring` windows),
    * the hash pass is the single mapPartitions decode, no pair join
    * anywhere — frame-dedup volume is group volume, linear in frames. */
  private def ns83(s: SparkSession, dir: String): DataFrame = {
    val media = ns81Family(s, dir).select(col("doc_id"),
      encode(col("t"), "UTF-8").as("content"),
      struct(length(encode(col("t"), "UTF-8")).cast("long").as("n_bytes"))
        .as("meta"))
    val frames = graft.ops.Multimodal.frameSample(
      media, frameBytes = 64, everyK = 2)
    // composite frame id: source_frame < 1000 at any plausible doc size
    // (64-byte frames; the guard keeps silent aliasing impossible)
    val fmedia = frames.select(
      (col("doc_id") * 1000 +
        when(col("source_frame") < 1000, col("source_frame"))
          .otherwise(raise_error(lit("frame index overflows composite id"))))
        .as("doc_id"),
      col("frame").as("content"))
    graft.ops.Perceptual.dhash63(fmedia)
      .select(col("phash"), expr("doc_id div 1000").as("orig"))
      .groupBy(col("phash"))
      .agg(count(lit(1)).as("n_frames"),
        count_distinct(col("orig")).as("n_docs"))
      .where(col("n_frames") > 1)
  }

  /** The ns82 media-family synthesis: per 5-id family over the documents
    * blobs — v0/v1 (the index corpus: base + exact copy), v4 (tick 1: the
    * reversed control, far from the corpus → survives and is ACCEPTED),
    * v2 (tick 2: a 1-byte edit of the REVERSED text — near-dup of what
    * tick 1 accepted, so its rejection proves the index UPDATE is
    * load-bearing), v3 (tick 2: a 1-byte edit of the base — rejected via
    * the original build). */
  private def ns82Family(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).select(col("doc_id"), col("text"))
    base.as("d")
      .join(base.as("b"),
        col("b.doc_id") === (col("d.doc_id") - col("d.doc_id") % 5))
      .select(col("d.doc_id").as("doc_id"),
        encode(
          when(col("d.doc_id") % 5 <= 1, col("b.text"))
            .when(col("d.doc_id") % 5 === 2,
              concat(substring(reverse(col("b.text")), 1, 10), lit("#"),
                expr("substring(reverse(b.text), 12)")))
            .when(col("d.doc_id") % 5 === 3,
              concat(substring(col("b.text"), 1, 20), lit("@"),
                expr("substring(b.text, 22)")))
            .otherwise(reverse(col("b.text"))), "UTF-8").as("content"))
  }

  /** NS82 — perceptual-index ingest lifecycle
    * ([[graft.ops.Perceptual.writePhashIndex]] /
    * [[graft.ops.Perceptual.incrementalNewFromPhashIndex]] /
    * [[graft.ops.Perceptual.updatePhashIndex]]): the ns18 shape for
    * media — the corpus's perceptual hashes are persisted ONCE (at 100 TB
    * the codec decode pass dwarfs everything; the index is 16 bytes/doc),
    * each ingest tick decodes only its batch, probes the stored hashes via
    * the pigeonhole-exact band join, and appends what it accepts. Tick 2's
    * near-dups-of-tick-1's-acceptances are rejected ONLY because the
    * update ran — the maintenance call is load-bearing in the output.
    * Fingerprint-keyed base index + per-run working copy (ns18 hygiene). */
  private def ns82(s: SparkSession, dir: String): DataFrame = {
    val fam = ns82Family(s, dir)
    val work = PersistedIndex.workingCopy(s,
      PersistedIndex.cached(s, Kind.Phash, s"$dir/documents.parquet") {
        (path, fp) => graft.ops.Perceptual.writePhashIndex(
          fam.where(col("doc_id") % 5 <= 1), path, fingerprint = Some(fp))
      })
    val tick1 = PersistedIndex.ingest(
      graft.ops.Perceptual.incrementalNewFromPhashIndex(
        fam.where(col("doc_id") % 5 === 4), work,
        expectDecoder = Some("byte-stride")))(
      graft.ops.Perceptual.updatePhashIndex(_, work))
    val tick2 = graft.ops.Perceptual.incrementalNewFromPhashIndex(
      fam.where(col("doc_id") % 5 === 2 || col("doc_id") % 5 === 3), work)
    tick1.union(tick2)
  }

  /** NS141 — video scene-cut detection ([[graft.ops.Perceptual
    * .sceneCuts]]): consecutive-keyframe dHash Hamming distances over
    * the ns83 media family — where a pipeline should sample densely
    * (around cuts) vs sparsely (static scenes). Same decode, sampler,
    * and hash convention as the keyframe dedup. */
  private def ns141(s: SparkSession, dir: String): DataFrame =
    graft.ops.Perceptual.sceneCuts(
      ns81Family(s, dir).select(col("doc_id"),
        encode(col("t"), "UTF-8").as("content"),
        struct(length(encode(col("t"), "UTF-8")).cast("long").as("n_bytes"))
          .as("meta")))

  /** NS142 — audio segment report ([[graft.ops.Perceptual
    * .audioSegments]]): per WAV clip of the ns90 family, the dominant
    * loudness band per time slice rolled to band-shift counts — the
    * cheap audio segmentation signal (static tone vs structured
    * content), the audio sibling of ns141. Same decoder, same family,
    * so the 16→8-bit re-encode pairs must segment identically. */
  private def ns142(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).select(col("doc_id"), col("text"))
    val fam = base.as("d")
      .join(base.as("b"),
        col("b.doc_id") === (col("d.doc_id") - col("d.doc_id") % 3))
      .select(col("d.doc_id").as("doc_id"),
        when(col("d.doc_id") % 3 === 2, reverse(col("b.text")))
          .otherwise(col("b.text")).as("t"),
        when(col("d.doc_id") % 3 === 1, lit(8)).otherwise(lit(16))
          .as("bits"))
    val synth = udf((t: String, bits: Int) => graft.ops.WavSynth.wavOf(t, bits))
    graft.ops.Perceptual.audioSegments(
      fam.select(col("doc_id"), synth(col("t"), col("bits")).as("content")))
  }

  /** NS145 — REAL AVI container keyframes ([[graft.ops.AviSynth]] →
    * [[graft.ops.Avi.keyframes]]): the round-11 upgrade of the ns83
    * byte-window "frames" to a CONTAINER-AWARE parse (VERDICT r10 #5,
    * the ns90 pattern applied to video). Each doc's text is muxed into a
    * spec-true RIFF/AVI with MJPEG-framed 48-byte windows and an idx1
    * index flagging every 3rd frame AVIIF_KEYFRAME; the engine parses
    * the real index (movi-relative offsets, even-byte chunk padding) and
    * reports per doc the frame/keyframe counts, the keyframe offset and
    * byte totals, and the keyframe payload byte-sum. The oracle
    * recomputes ALL of it from first principles — window arithmetic +
    * prefix-summed chunk offsets + hex-expanded payload bytes, no RIFF
    * container anywhere — so a green hash certifies the muxer, the idx1
    * parse, and the payload slicing end-to-end. Scale shape: one
    * mapPartitions decode pass (binary codec — the legit case), tiny
    * per-frame tuples into one doc_id rollup; corrupt blobs skip as Nil
    * (AviSpec), never kill a task. */
  private def ns145(s: SparkSession, dir: String): DataFrame = {
    val synth = udf((t: String) => graft.ops.AviSynth.aviOf(t))
    val media = docs(s, dir).select(col("doc_id"),
      synth(col("text")).as("content"))
    graft.ops.Avi.keyframes(media, keyframesOnly = false)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("is_key"), 1L).otherwise(0L)).as("n_keyframes"),
        sum(when(col("is_key"), col("offset"))).as("key_offset_sum"),
        sum(when(col("is_key"), col("size"))).as("key_bytes"),
        sum(when(col("is_key"), col("payload_sum"))).as("key_payload_sum"))
  }

  /** NS146 — keyframe near-dup over REAL AVI containers
    * ([[graft.ops.AviSynth]] → [[graft.ops.Avi.keyframes]] →
    * [[graft.ops.Perceptual.dhash63]]): the deployment composition of
    * ns145's container parse with the ns83 shared-keyframe detector —
    * frames now come from the idx1 index of real muxed AVI files, not
    * byte-window slicing, so the repeated-intro/shared-b-roll report is
    * computed over exactly the bytes a video pipeline would extract. The
    * ns81 five-variant families make copies share ALL keyframe hashes,
    * 1-byte edits share all but the touched window, and the reversed
    * control share none. Oracle: the AVI geometry rebuilt arithmetically
    * (ns145) + the byte-stride grid dHash over 'ffd8'+window+'ffd9'
    * payload hex (ns83's cell math) — container, parser, and hash all
    * independently recomputed. Plan: decode mapPartitions → codegen
    * phash63 projection → ONE phash-keyed rollup; no pair join. */
  private def ns146(s: SparkSession, dir: String): DataFrame = {
    val synth = udf((t: String) => graft.ops.AviSynth.aviOf(t))
    val media = ns81Family(s, dir).select(col("doc_id"),
      synth(col("t")).as("content"))
    val keys = graft.ops.Avi.keyframes(media)
    val fmedia = keys.select(
      (col("doc_id") * 1000 +
        when(col("frame_idx") < 1000, col("frame_idx"))
          .otherwise(raise_error(lit("frame index overflows composite id"))))
        .as("doc_id"),
      col("payload").as("content"))
    graft.ops.Perceptual.dhash63(fmedia)
      .select(col("phash"), expr("doc_id div 1000").as("orig"))
      .groupBy(col("phash"))
      .agg(count(lit(1)).as("n_frames"),
        count_distinct(col("orig")).as("n_docs"))
      .where(col("n_frames") > 1)
  }

  /** NS147 — image near-dup over REAL BMP containers
    * ([[graft.ops.BmpSynth]] → [[graft.ops.ImageGridDecoder]] →
    * [[graft.ops.Perceptual.nearDupPairs]]): completes the real-codec
    * trilogy (WAV r10, AVI r11, BMP here). Each ns81-family variant is
    * written as a spec-true 24-bpp bottom-up BMP of grayscale pixels
    * derived from its text bytes, decoded back through the REAL ImageIO
    * path, box-averaged to the 9×8 luminance grid, dHashed, and
    * banded-joined. The geometry makes every decoder division exact
    * (18×16 px = 2×2-px cells; grayscale collapses BT.601 to the pixel
    * value), so the oracle recomputes the ENTIRE pipeline — pixels,
    * luminance grid, dHash, pairs — arithmetically from the text, with
    * no image library: a green hash certifies the BMP writer, ImageIO's
    * parse, and the grid math end-to-end. Long-text 1-byte edits perturb
    * ≤1 pixel → ≤2 hash bits (caught); short texts wrap the byte map and
    * spread the edit (missed) — honest near-dup semantics both engines
    * compute identically. Scale shape = ns81/ns90: one mapPartitions
    * decode, one banded shuffle, pigeonhole-exact at maxHamming 3 <
    * bands 4. */
  private def ns147(s: SparkSession, dir: String): DataFrame = {
    val synth = udf((t: String) => graft.ops.BmpSynth.bmpOf(t))
    val media = ns81Family(s, dir).select(col("doc_id"),
      synth(col("t")).as("content"))
    graft.ops.Perceptual.nearDupPairs(
      graft.ops.Perceptual.dhash63(media, graft.ops.ImageGridDecoder),
      maxHamming = 3, bands = 4)
  }

  /** NS151 — verify-by-content image near-dup (VERDICT r11 #3): ns147's
    * candidate stage (real BMP → ImageIO decode → banded 63-bit dHash
    * join) followed by [[graft.ops.Perceptual.nearDupPairsVerified]]'s
    * verify stage — keep a candidate pair only when the two docs' actual
    * 72-cell luminance grids agree (sum of absolute differences ≤ 128,
    * the p99 of true within-family pairs at the 10× decade — keeps ~99%
    * of genuine re-encodes/edits while the coincidental class sits at
    * SAD p50 ≈ 400). The dHash keeps gradient SIGNS only,
    * so at scale coincidental hash neighbors dominate the candidate set
    * (3.4M pairs at the 100× decade vs 6k at 1×); the grid is content,
    * and this stage collapses them while true re-encodes/small edits
    * survive. The oracle replays the whole chain arithmetically
    * (pixels → 2×2 box grid → dHash → pairs → integer SAD), sharing the
    * ns147 CTEs. Scale shape: one decode pass emits hash AND grid;
    * verification joins the collision-bounded pair list to the
    * ~300-byte/doc grid table twice by doc id — blobs never move. */
  private def ns151(s: SparkSession, dir: String): DataFrame = {
    val synth = udf((t: String) => graft.ops.BmpSynth.bmpOf(t))
    val media = ns81Family(s, dir).select(col("doc_id"),
      synth(col("t")).as("content"))
    graft.ops.Perceptual.nearDupPairsVerified(media,
      graft.ops.ImageGridDecoder, maxHamming = 3, bands = 4, maxSad = 128L)
  }

  /** The ns90/ns142 shared WAV-grid replay: the 3-id WAV family
    * synthesis and the samples→(band, slice) count grid recomputed
    * independently from the synthesis bytes — the javax.sound parse and
    * the WAV container write are hash-verified through it. Ends with
    * `grid(doc_id, i, v)` over all 72 cells (zeros materialized). */
  private val wavGridCteSql: String =
    """WITH base AS (SELECT doc_id, text FROM documents),
      |fam AS (SELECT d.doc_id,
      |  CASE WHEN d.doc_id % 3 = 2 THEN reverse(b.text) ELSE b.text END AS t
      |  FROM base d JOIN base b ON b.doc_id = d.doc_id - d.doc_id % 3),
      |h AS (SELECT doc_id, hex(encode(t)) AS hx, octet_length(encode(t)) AS n FROM fam),
      |samp AS (SELECT doc_id, hx, n, unnest(range(0, n)) AS i FROM h),
      |vals AS (SELECT doc_id,
      |    ((('0x' || substr(hx, (2 * i + 1)::INT, 2))::INT * 37 + i * 11) % 256) AS u8,
      |    ((i * 9) // n)::INT AS slice
      |  FROM samp),
      |cells0 AS (SELECT doc_id, ((u8 // 32) * 9 + slice)::INT AS cell, count(*) AS cnt
      |  FROM vals GROUP BY doc_id, cell),
      |grid AS (SELECT f.doc_id, g.i, coalesce(c.cnt, 0) AS v
      |  FROM fam f CROSS JOIN (SELECT unnest(range(0, 72)) AS i) g
      |  LEFT JOIN cells0 c ON c.doc_id = f.doc_id AND c.cell = g.i)""".stripMargin

  /** The ns83/ns141 shared per-frame dHash replay: the ns81 media-family
    * synthesis, 64-byte every-2nd frame sampling, and the byte-stride
    * 9×8 grid dHash per frame — hoisted so the keyframe dedup and the
    * scene-cut report replay the IDENTICAL frame hashes (one decode and
    * hash convention, like the engine side). Ends with
    * `ph(doc_id, f, phash)`. */
  private val framePhashCteSql: String =
    """WITH base AS (SELECT doc_id, text FROM documents),
      |fam AS (SELECT d.doc_id,
      |  CASE d.doc_id % 5
      |    WHEN 0 THEN b.text
      |    WHEN 1 THEN b.text
      |    WHEN 2 THEN substr(b.text, 1, 10) || '#' || substr(b.text, 12)
      |    WHEN 3 THEN substr(b.text, 1, 20) || '@' || substr(b.text, 22)
      |    ELSE reverse(b.text) END AS t
      |  FROM base d JOIN base b ON b.doc_id = d.doc_id - d.doc_id % 5),
      |h AS (SELECT doc_id, hex(encode(t)) AS hx, octet_length(encode(t)) AS n FROM fam),
      |fr AS (SELECT doc_id, f, least(64, n - f * 64) AS m,
      |  substr(hx, 128 * f + 1, 128) AS fhx
      |  FROM h, (SELECT unnest(range(0, 1000)) AS f) s
      |  WHERE f % 2 = 0 AND f * 64 < n),
      |cells AS (SELECT doc_id, f, i,
      |  ('0x' || substr(fhx, (2 * ((i * m) // 72) + 1)::INT, 2))::INT AS v
      |  FROM fr, (SELECT unnest(range(0, 72)) AS i) r),
      |bits AS (SELECT a.doc_id, a.f, ((a.i // 9) * 8 + (a.i % 9))::INT AS k,
      |  CASE WHEN a.v < b.v THEN 1::BIGINT ELSE 0::BIGINT END AS bit
      |  FROM cells a JOIN cells b
      |    ON a.doc_id = b.doc_id AND a.f = b.f AND b.i = a.i + 1
      |  WHERE a.i % 9 < 8 AND (a.i // 9) * 8 + (a.i % 9) < 63),
      |ph AS (SELECT doc_id, f, sum(bit << k)::BIGINT AS phash
      |  FROM bits GROUP BY doc_id, f)""".stripMargin

  val queries: Seq[Query] = Seq(
    query("ns12_multimodal_features", ns12)(
      ("""WITH h AS (SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n FROM documents),
         |byt AS (SELECT doc_id, ('0x' || substr(hx, (2 * unnest(range(0, n)) + 1)::INT, 2))::INT % 16 AS dim FROM h),
         |cnt AS (SELECT doc_id, dim, count(*) AS c FROM byt GROUP BY doc_id, dim),
         |grid AS (SELECT doc_id, n, unnest(range(0, 16)) AS dim FROM h)
         |SELECT g.doc_id, g.dim, coalesce(c.c, 0) AS n_in_bin, g.n AS n_bytes
         |FROM grid g LEFT JOIN cnt c ON c.doc_id = g.doc_id AND c.dim = g.dim
         |ORDER BY g.doc_id, g.dim""".stripMargin)),
    // ns81 replays the byte-stride 9x8 grid (hex-encoded blob, the ns12
    // pattern), packs the 63 dHash gradient bits, and computes near-dup
    // pairs BRUTE-FORCE — the engine's banded join is pigeonhole-exact at
    // maxHamming=3 < bands=4, so all-pairs SQL is the same function.
    query("ns81_image_neardup", ns81)(
      ("""WITH base AS (SELECT doc_id, text FROM documents),
         |fam AS (SELECT d.doc_id,
         |  CASE d.doc_id % 5
         |    WHEN 0 THEN b.text
         |    WHEN 1 THEN b.text
         |    WHEN 2 THEN substr(b.text, 1, 10) || '#' || substr(b.text, 12)
         |    WHEN 3 THEN substr(b.text, 1, 20) || '@' || substr(b.text, 22)
         |    ELSE reverse(b.text) END AS t
         |  FROM base d JOIN base b ON b.doc_id = d.doc_id - d.doc_id % 5),
         |h AS (SELECT doc_id, hex(encode(t)) AS hx, octet_length(encode(t)) AS n FROM fam),
         |cells AS (SELECT doc_id, i,
         |  CASE WHEN n = 0 THEN 0 ELSE ('0x' || substr(hx, (2 * ((i * n) // 72) + 1)::INT, 2))::INT END AS v
         |  FROM h, (SELECT unnest(range(0, 72)) AS i) r),
         |bits AS (SELECT a.doc_id, ((a.i // 9) * 8 + (a.i % 9))::INT AS k,
         |  CASE WHEN a.v < b.v THEN 1::BIGINT ELSE 0::BIGINT END AS bit
         |  FROM cells a JOIN cells b ON a.doc_id = b.doc_id AND b.i = a.i + 1
         |  WHERE a.i % 9 < 8 AND (a.i // 9) * 8 + (a.i % 9) < 63),
         |ph AS (SELECT doc_id, sum(bit << k)::BIGINT AS phash FROM bits GROUP BY doc_id)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  bit_count(xor(a.phash, b.phash))::BIGINT AS hamming
         |FROM ph a JOIN ph b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.phash, b.phash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin)),
    // ns82 replays the two-tick lifecycle DECISION: tick-1 survivors are
    // batch docs with no corpus hash within hamming 3; tick-2 probes
    // corpus + tick-1 survivors (the update made load-bearing). The
    // engine's stored index artifacts must reproduce exactly this.
    query("ns82_phash_lifecycle", ns82)(
      ("""WITH base AS (SELECT doc_id, text FROM documents),
         |fam AS (SELECT d.doc_id,
         |  CASE d.doc_id % 5
         |    WHEN 0 THEN b.text
         |    WHEN 1 THEN b.text
         |    WHEN 2 THEN substr(reverse(b.text), 1, 10) || '#' || substr(reverse(b.text), 12)
         |    WHEN 3 THEN substr(b.text, 1, 20) || '@' || substr(b.text, 22)
         |    ELSE reverse(b.text) END AS t
         |  FROM base d JOIN base b ON b.doc_id = d.doc_id - d.doc_id % 5),
         |h AS (SELECT doc_id, hex(encode(t)) AS hx, octet_length(encode(t)) AS n FROM fam),
         |cells AS (SELECT doc_id, i,
         |  CASE WHEN n = 0 THEN 0 ELSE ('0x' || substr(hx, (2 * ((i * n) // 72) + 1)::INT, 2))::INT END AS v
         |  FROM h, (SELECT unnest(range(0, 72)) AS i) r),
         |bits AS (SELECT a.doc_id, ((a.i // 9) * 8 + (a.i % 9))::INT AS k,
         |  CASE WHEN a.v < b.v THEN 1::BIGINT ELSE 0::BIGINT END AS bit
         |  FROM cells a JOIN cells b ON a.doc_id = b.doc_id AND b.i = a.i + 1
         |  WHERE a.i % 9 < 8 AND (a.i // 9) * 8 + (a.i % 9) < 63),
         |ph AS (SELECT doc_id, sum(bit << k)::BIGINT AS phash FROM bits GROUP BY doc_id),
         |corpus AS (SELECT phash FROM ph WHERE doc_id % 5 <= 1),
         |s1 AS (SELECT doc_id, phash FROM ph b WHERE doc_id % 5 = 4
         |  AND NOT EXISTS (SELECT 1 FROM corpus c
         |    WHERE bit_count(xor(b.phash, c.phash)) <= 3)),
         |idx2 AS (SELECT phash FROM corpus UNION ALL SELECT phash FROM s1),
         |s2 AS (SELECT doc_id, phash FROM ph b WHERE doc_id % 5 IN (2, 3)
         |  AND NOT EXISTS (SELECT 1 FROM idx2 c
         |    WHERE bit_count(xor(b.phash, c.phash)) <= 3))
         |SELECT doc_id, phash FROM s1
         |UNION ALL SELECT doc_id, phash FROM s2 ORDER BY doc_id""".stripMargin)),
    // ns83 replays the 64-byte frame windows (every 2nd sampled), the
    // per-frame stride grid + bit packing, and the repeated-keyframe
    // rollup.
    query("ns83_keyframe_dedup", ns83)(
      (framePhashCteSql +
        """
         |SELECT phash, count(*) AS n_frames,
         |  count(DISTINCT doc_id) AS n_docs
         |FROM ph GROUP BY phash HAVING count(*) > 1 ORDER BY phash""".stripMargin)),
    // ns90 recomputes the audio grid from first principles: sample i of
    // variant t is u8 = (byte_i·37 + i·11) mod 256, cell = (u8 >> 5)·9 +
    // (i·9 div n), dHash bits over horizontally-adjacent cell counts —
    // the engine's WAV container + javax.sound parse must land on the
    // same 63 bits for every doc for the hash to match.
    query("ns90_audio_neardup", ns90)(
      (wavGridCteSql +
        """,
         |bits AS (SELECT a.doc_id, ((a.i // 9) * 8 + (a.i % 9))::INT AS k,
         |  CASE WHEN a.v < b.v THEN 1::BIGINT ELSE 0::BIGINT END AS bit
         |  FROM grid a JOIN grid b ON a.doc_id = b.doc_id AND b.i = a.i + 1
         |  WHERE a.i % 9 < 8 AND (a.i // 9) * 8 + (a.i % 9) < 63),
         |ph AS (SELECT doc_id, sum(bit << k)::BIGINT AS phash FROM bits GROUP BY doc_id)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  bit_count(xor(a.phash, b.phash))::BIGINT AS hamming
         |FROM ph a JOIN ph b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.phash, b.phash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin)),
    // ns141: the shared frame-phash CTE (one hash convention with ns83)
    // + a per-video lag rollup.
    query("ns141_scene_cuts", ns141)(
      (framePhashCteSql +
        """,
         |d AS (SELECT doc_id, phash,
         |  lag(phash) OVER (PARTITION BY doc_id ORDER BY f) AS prev FROM ph)
         |SELECT doc_id, count(*)::BIGINT AS n_frames,
         |  count(CASE WHEN bit_count(xor(phash, prev)) > 16 THEN 1 END)::BIGINT AS n_cuts,
         |  max(bit_count(xor(phash, prev)))::BIGINT AS max_hamming
         |FROM d GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // ns142: the shared WAV-grid CTE (one grid convention with ns90) +
    // tie-low dominant band per slice + a per-clip lag rollup.
    query("ns142_audio_segments", ns142)(
      (wavGridCteSql +
        """,
         |cb AS (SELECT doc_id, (i // 9)::INT AS band, (i % 9)::INT AS s, v FROM grid),
         |dom AS (SELECT doc_id, s, band FROM (
         |  SELECT doc_id, s, band,
         |    row_number() OVER (PARTITION BY doc_id, s ORDER BY v DESC, band) AS rn
         |  FROM cb) WHERE rn = 1),
         |d2 AS (SELECT doc_id, s, band,
         |  lag(band) OVER (PARTITION BY doc_id ORDER BY s) AS prev FROM dom)
         |SELECT doc_id,
         |  count(CASE WHEN band != prev THEN 1 END)::BIGINT AS n_shifts,
         |  max(CASE WHEN s = 0 THEN band END)::BIGINT AS start_band,
         |  max(CASE WHEN s = 8 THEN band END)::BIGINT AS end_band
         |FROM d2 GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // ns145 rebuilds the AVI geometry with NO container: 48-byte windows
    // (w = least(48, n - 48i), payload L = w + 4 markers), chunk stride
    // 8 + L + L%2 prefix-summed from the movi-relative start offset 4,
    // keyframes at i % 3 = 0, and payload byte-sums from the hex-expanded
    // text (+943 for the SOI/EOI markers) - the writer/parser cannot
    // share a bug with this arithmetic.
    query("ns145_avi_keyframes", ns145)(
      ("""WITH h AS (SELECT doc_id, hex(encode(text)) AS hx,
         |    octet_length(encode(text)) AS n FROM documents
         |  WHERE octet_length(encode(text)) > 0),
         |fr AS (SELECT doc_id, hx, n, unnest(range(0, (n + 47) // 48)) AS i FROM h),
         |fz AS (SELECT doc_id, hx, i, least(48, n - 48 * i) AS w FROM fr),
         |off AS (SELECT doc_id, hx, i, w,
         |    4 + coalesce(sum(8 + w + 4 + (w % 2)) OVER (PARTITION BY doc_id
         |      ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
         |  FROM fz),
         |sel AS (SELECT doc_id, count(*) AS n_frames,
         |    count(CASE WHEN i % 3 = 0 THEN 1 END) AS n_keyframes,
         |    sum(CASE WHEN i % 3 = 0 THEN off END) AS key_offset_sum,
         |    sum(CASE WHEN i % 3 = 0 THEN w + 4 END) AS key_bytes
         |  FROM off GROUP BY doc_id),
         |pb AS (SELECT doc_id, i,
         |    sum(('0x' || substr(hx, (2 * (48 * i + j) + 1)::INT, 2))::INT) AS wsum
         |  FROM (SELECT doc_id, hx, i, unnest(range(0, w)) AS j FROM off
         |        WHERE i % 3 = 0)
         |  GROUP BY doc_id, i),
         |ps AS (SELECT doc_id, (sum(wsum) + 943 * count(*)) AS key_payload_sum
         |  FROM pb GROUP BY doc_id)
         |SELECT s.doc_id, s.n_frames::BIGINT AS n_frames,
         |  s.n_keyframes::BIGINT AS n_keyframes,
         |  s.key_offset_sum::BIGINT AS key_offset_sum,
         |  s.key_bytes::BIGINT AS key_bytes,
         |  ps.key_payload_sum::BIGINT AS key_payload_sum
         |FROM sel s JOIN ps USING (doc_id) ORDER BY s.doc_id""".stripMargin)),
    // ns146: ns145's arithmetic container geometry (keyframes i%3=0 of
    // 48-byte windows) + ns83's byte-stride grid dHash, applied to the
    // MJPEG payload hex 'ffd8'+window+'ffd9' of length m = w+4 - three
    // independent computations (muxer, parser, oracle) of the same
    // shared-keyframe report.
    query("ns146_avi_shared_keyframes", ns146)(
      ("""WITH base AS (SELECT doc_id, text FROM documents),
         |fam AS (SELECT d.doc_id,
         |  CASE d.doc_id % 5
         |    WHEN 0 THEN b.text
         |    WHEN 1 THEN b.text
         |    WHEN 2 THEN substr(b.text, 1, 10) || '#' || substr(b.text, 12)
         |    WHEN 3 THEN substr(b.text, 1, 20) || '@' || substr(b.text, 22)
         |    ELSE reverse(b.text) END AS t
         |  FROM base d JOIN base b ON b.doc_id = d.doc_id - d.doc_id % 5),
         |h AS (SELECT doc_id, hex(encode(t)) AS hx,
         |    octet_length(encode(t)) AS n FROM fam
         |  WHERE octet_length(encode(t)) > 0),
         |kf AS (SELECT doc_id, hx, n, unnest(range(0, (n + 47) // 48)) AS i FROM h),
         |kz AS (SELECT doc_id, i AS f, least(48, n - 48 * i) + 4 AS m,
         |    'FFD8' || substr(hx, 96 * i + 1, 2 * least(48, n - 48 * i)) || 'FFD9' AS fhx
         |  FROM kf WHERE i % 3 = 0),
         |cells AS (SELECT doc_id, f, j, m,
         |    ('0x' || substr(fhx, (2 * ((j * m) // 72) + 1)::INT, 2))::INT AS v
         |  FROM kz, (SELECT unnest(range(0, 72)) AS j) r),
         |bits AS (SELECT a.doc_id, a.f, ((a.j // 9) * 8 + (a.j % 9))::INT AS k,
         |  CASE WHEN a.v < b.v THEN 1::BIGINT ELSE 0::BIGINT END AS bit
         |  FROM cells a JOIN cells b
         |    ON a.doc_id = b.doc_id AND a.f = b.f AND b.j = a.j + 1
         |  WHERE a.j % 9 < 8 AND (a.j // 9) * 8 + (a.j % 9) < 63),
         |ph AS (SELECT doc_id, f, sum(bit << k)::BIGINT AS phash
         |  FROM bits GROUP BY doc_id, f)
         |SELECT phash, count(*) AS n_frames, count(DISTINCT doc_id) AS n_docs
         |FROM ph GROUP BY phash HAVING count(*) > 1 ORDER BY phash""".stripMargin)),
    // ns147: the whole real-image pipeline rebuilt arithmetically - pixel
    // v(x,y) = (byte((18y+x) mod n)*31 + 7x + 13y) mod 256 (grayscale, so
    // BT.601 luminance IS v), 2x2 box averages by exact integer division,
    // then the standard dHash bits and the all-pairs hamming<=3 filter
    // (pigeonhole-equal to the engine's banded join at 3 < 4 bands).
    query("ns147_bmp_neardup", ns147)(
      ("""WITH base AS (SELECT doc_id, text FROM documents),
         |fam AS (SELECT d.doc_id,
         |  CASE d.doc_id % 5
         |    WHEN 0 THEN b.text
         |    WHEN 1 THEN b.text
         |    WHEN 2 THEN substr(b.text, 1, 10) || '#' || substr(b.text, 12)
         |    WHEN 3 THEN substr(b.text, 1, 20) || '@' || substr(b.text, 22)
         |    ELSE reverse(b.text) END AS t
         |  FROM base d JOIN base b ON b.doc_id = d.doc_id - d.doc_id % 5),
         |h AS (SELECT doc_id, hex(encode(coalesce(t, ''))) AS hx,
         |    octet_length(encode(coalesce(t, ''))) AS n FROM fam),
         |px AS (SELECT doc_id, (g.i // 9) AS r, (g.i % 9) AS c, g.i AS cell,
         |    (2 * (g.i % 9) + (p.q % 2)) AS x, (2 * (g.i // 9) + (p.q // 2)) AS y
         |  FROM h, (SELECT unnest(range(0, 72)) AS i) g,
         |       (SELECT unnest(range(0, 4)) AS q) p),
         |pv AS (SELECT px.doc_id, px.cell,
         |    (CASE WHEN h.n = 0 THEN 0 ELSE
         |      (('0x' || substr(h.hx, (2 * ((18 * px.y + px.x) % h.n) + 1)::INT, 2))::INT
         |       * 31 + 7 * px.x + 13 * px.y) % 256 END) AS v
         |  FROM px JOIN h USING (doc_id)),
         |grid AS (SELECT doc_id, cell AS i, (sum(v) // 4)::INT AS v
         |  FROM pv GROUP BY doc_id, cell),
         |bits AS (SELECT a.doc_id, ((a.i // 9) * 8 + (a.i % 9))::INT AS k,
         |  CASE WHEN a.v < b.v THEN 1::BIGINT ELSE 0::BIGINT END AS bit
         |  FROM grid a JOIN grid b ON a.doc_id = b.doc_id AND b.i = a.i + 1
         |  WHERE a.i % 9 < 8 AND (a.i // 9) * 8 + (a.i % 9) < 63),
         |ph AS (SELECT doc_id, sum(bit << k)::BIGINT AS phash FROM bits GROUP BY doc_id)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  bit_count(xor(a.phash, b.phash))::BIGINT AS hamming
         |FROM ph a JOIN ph b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.phash, b.phash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin)),
    // ns151: the ns147 arithmetic replay extended with the verify stage -
    // candidate pairs join back to the reconstructed 72-cell grids and
    // keep sum(abs(cell diff)) <= 128, pure integer arithmetic.
    query("ns151_bmp_neardup_verified", ns151)(
      ("""WITH base AS (SELECT doc_id, text FROM documents),
         |fam AS (SELECT d.doc_id,
         |  CASE d.doc_id % 5
         |    WHEN 0 THEN b.text
         |    WHEN 1 THEN b.text
         |    WHEN 2 THEN substr(b.text, 1, 10) || '#' || substr(b.text, 12)
         |    WHEN 3 THEN substr(b.text, 1, 20) || '@' || substr(b.text, 22)
         |    ELSE reverse(b.text) END AS t
         |  FROM base d JOIN base b ON b.doc_id = d.doc_id - d.doc_id % 5),
         |h AS (SELECT doc_id, hex(encode(coalesce(t, ''))) AS hx,
         |    octet_length(encode(coalesce(t, ''))) AS n FROM fam),
         |px AS (SELECT doc_id, (g.i // 9) AS r, (g.i % 9) AS c, g.i AS cell,
         |    (2 * (g.i % 9) + (p.q % 2)) AS x, (2 * (g.i // 9) + (p.q // 2)) AS y
         |  FROM h, (SELECT unnest(range(0, 72)) AS i) g,
         |       (SELECT unnest(range(0, 4)) AS q) p),
         |pv AS (SELECT px.doc_id, px.cell,
         |    (CASE WHEN h.n = 0 THEN 0 ELSE
         |      (('0x' || substr(h.hx, (2 * ((18 * px.y + px.x) % h.n) + 1)::INT, 2))::INT
         |       * 31 + 7 * px.x + 13 * px.y) % 256 END) AS v
         |  FROM px JOIN h USING (doc_id)),
         |grid AS (SELECT doc_id, cell AS i, (sum(v) // 4)::INT AS v
         |  FROM pv GROUP BY doc_id, cell),
         |bits AS (SELECT a.doc_id, ((a.i // 9) * 8 + (a.i % 9))::INT AS k,
         |  CASE WHEN a.v < b.v THEN 1::BIGINT ELSE 0::BIGINT END AS bit
         |  FROM grid a JOIN grid b ON a.doc_id = b.doc_id AND b.i = a.i + 1
         |  WHERE a.i % 9 < 8 AND (a.i // 9) * 8 + (a.i % 9) < 63),
         |ph AS (SELECT doc_id, sum(bit << k)::BIGINT AS phash FROM bits GROUP BY doc_id),
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    bit_count(xor(a.phash, b.phash))::BIGINT AS hamming
         |  FROM ph a JOIN ph b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.phash, b.phash)) <= 3),
         |sadt AS (SELECT c.doc_a, c.doc_b, c.hamming,
         |    sum(abs(ga.v - gb.v))::BIGINT AS sad
         |  FROM cand c
         |  JOIN grid ga ON ga.doc_id = c.doc_a
         |  JOIN grid gb ON gb.doc_id = c.doc_b AND gb.i = ga.i
         |  GROUP BY c.doc_a, c.doc_b, c.hamming)
         |SELECT doc_a, doc_b, hamming, sad FROM sadt WHERE sad <= 128
         |ORDER BY doc_a, doc_b""".stripMargin)),
    // ns153: the ns151 grid replay driving the TWO-TICK lifecycle - a
    // probe doc is rejected iff some already-accepted doc is hamming<=3
    // AND grid-SAD<=128; tick 2's accepted set includes tick 1's
    // survivors (the index append is load-bearing).
    query("ns153_grid_index_lifecycle", ns153)(
      ("""WITH base AS (SELECT doc_id, text FROM documents),
         |fam AS (SELECT d.doc_id,
         |  CASE d.doc_id % 5
         |    WHEN 0 THEN b.text
         |    WHEN 1 THEN b.text
         |    WHEN 2 THEN substr(b.text, 1, 10) || '#' || substr(b.text, 12)
         |    WHEN 3 THEN substr(b.text, 1, 20) || '@' || substr(b.text, 22)
         |    ELSE reverse(b.text) END AS t
         |  FROM base d JOIN base b ON b.doc_id = d.doc_id - d.doc_id % 5),
         |h AS (SELECT doc_id, hex(encode(coalesce(t, ''))) AS hx,
         |    octet_length(encode(coalesce(t, ''))) AS n FROM fam),
         |px AS (SELECT doc_id, (g.i // 9) AS r, (g.i % 9) AS c, g.i AS cell,
         |    (2 * (g.i % 9) + (p.q % 2)) AS x, (2 * (g.i // 9) + (p.q // 2)) AS y
         |  FROM h, (SELECT unnest(range(0, 72)) AS i) g,
         |       (SELECT unnest(range(0, 4)) AS q) p),
         |pv AS (SELECT px.doc_id, px.cell,
         |    (CASE WHEN h.n = 0 THEN 0 ELSE
         |      (('0x' || substr(h.hx, (2 * ((18 * px.y + px.x) % h.n) + 1)::INT, 2))::INT
         |       * 31 + 7 * px.x + 13 * px.y) % 256 END) AS v
         |  FROM px JOIN h USING (doc_id)),
         |grid AS (SELECT doc_id, cell AS i, (sum(v) // 4)::INT AS v
         |  FROM pv GROUP BY doc_id, cell),
         |bits AS (SELECT a.doc_id, ((a.i // 9) * 8 + (a.i % 9))::INT AS k,
         |  CASE WHEN a.v < b.v THEN 1::BIGINT ELSE 0::BIGINT END AS bit
         |  FROM grid a JOIN grid b ON a.doc_id = b.doc_id AND b.i = a.i + 1
         |  WHERE a.i % 9 < 8 AND (a.i // 9) * 8 + (a.i % 9) < 63),
         |ph AS (SELECT doc_id, sum(bit << k)::BIGINT AS phash FROM bits GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db
         |  FROM ph a JOIN ph b ON a.doc_id <> b.doc_id
         |  WHERE bit_count(xor(a.phash, b.phash)) <= 3),
         |sadp AS (SELECT p.da, p.db FROM pairs p
         |  JOIN grid ga ON ga.doc_id = p.da
         |  JOIN grid gb ON gb.doc_id = p.db AND gb.i = ga.i
         |  GROUP BY p.da, p.db HAVING sum(abs(ga.v - gb.v)) <= 128),
         |corpus AS (SELECT doc_id FROM ph WHERE doc_id % 5 <= 1),
         |s1 AS (SELECT doc_id, phash FROM ph WHERE doc_id % 5 = 4
         |  AND NOT EXISTS (SELECT 1 FROM sadp s JOIN corpus c ON s.db = c.doc_id
         |    WHERE s.da = ph.doc_id)),
         |acc2 AS (SELECT doc_id FROM corpus UNION ALL SELECT doc_id FROM s1),
         |s2 AS (SELECT doc_id, phash FROM ph WHERE doc_id % 5 IN (2, 3)
         |  AND NOT EXISTS (SELECT 1 FROM sadp s JOIN acc2 a ON s.db = a.doc_id
         |    WHERE s.da = ph.doc_id))
         |SELECT doc_id, phash FROM s1
         |UNION ALL SELECT doc_id, phash FROM s2 ORDER BY doc_id""".stripMargin)),
  )
}
