package graft.ops

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.ops.PersistedIndex.Kind

/** Specs for ns81 — perceptual-hash (63-bit dHash) image near-dup:
  * bit-packing contract, decoder purity/robustness, banded-join exactness
  * vs brute force, the maxBandFreq skew lever, and the REAL image path
  * (ImageIO BMP round-trips) including dHash's brightness invariance. */
class PerceptualSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ---- dhashOfGrid --------------------------------------------------------

  test("dhashOfGrid packs gradient signs row-major and drops bit 63") {
    // ascending cells in every row -> every comparison true -> all 63 bits
    val asc = Array.tabulate(72)(i => i % 9)
    assert(Perceptual.dhashOfGrid(asc) == (1L << 63) - 1)
    assert(Perceptual.dhashOfGrid(asc) > 0L) // positive-long contract
    // descending -> no bit
    assert(Perceptual.dhashOfGrid(asc.map(-_)) == 0L)
    // single gradient at r=0, c=2 -> bit 2 only
    val one = new Array[Int](72)
    one(3) = 5 // cell(0,3) > cell(0,2) -> bit k=2
    val h = Perceptual.dhashOfGrid(one)
    assert((h & (1L << 2)) != 0)
    // cell(0,3)=5 > cell(0,4)=0 is a false comparison (5 < 0 fails); only
    // bit 2 set
    assert(h == (1L << 2))
    // the r=7,c=7 comparison is the dropped bit: a gradient there changes
    // nothing...
    val top = new Array[Int](72)
    top(71) = 9 // only cell(7,7)<cell(7,8), i.e. k=63 — dropped
    assert(Perceptual.dhashOfGrid(top) == 0L)
    // ...while the k=62 comparison right before it still registers
    val sub = new Array[Int](72)
    sub(70) = 9 // cell(7,6)<cell(7,7) -> k=62; cell(7,7)>cell(7,8) -> no 63
    assert(Perceptual.dhashOfGrid(sub) == (1L << 62))
  }

  // ---- ByteStrideGridDecoder ----------------------------------------------

  test("byte-stride decoder: stride sampling, null/empty robustness") {
    assert(ByteStrideGridDecoder.decode(null).forall(_ == 0))
    assert(ByteStrideGridDecoder.decode(Array.emptyByteArray).forall(_ == 0))
    // 72 bytes -> identity sampling
    val b = Array.tabulate[Byte](72)(i => i.toByte)
    assert(ByteStrideGridDecoder.decode(b).toSeq == (0 until 72))
    // unsigned read: byte -1 reads as 255
    assert(ByteStrideGridDecoder.decode(Array[Byte](-1))(0) == 255)
    // a 1-byte length-preserving edit moves only cells striding onto it
    val n = 300
    val base = Array.tabulate[Byte](n)(i => (i % 97).toByte)
    val edited = base.clone(); edited(10) = 'Z'.toByte
    val (g1, g2) =
      (ByteStrideGridDecoder.decode(base), ByteStrideGridDecoder.decode(edited))
    val moved = (0 until 72).count(i => g1(i) != g2(i))
    assert(moved <= 1) // only the stride (if any) landing on byte 10
  }

  // ---- nearDupPairs: banded join == brute force ---------------------------

  private def bruteForce(hs: Seq[(Long, Long)], maxH: Int): Set[(Long, Long, Long)] =
    (for {
      (ida, ha) <- hs; (idb, hb) <- hs if ida < idb
      d = java.lang.Long.bitCount(ha ^ hb) if d <= maxH
    } yield (ida, idb, d.toLong)).toSet

  test("banded pairs equal brute force (pigeonhole-exact at maxHamming < bands)") {
    // deterministic pseudo-random positive longs + planted near-dups
    def scramble(i: Long): Long = {
      var x = i * 0x9e3779b97f4a7c15L
      x ^= (x >>> 32); x *= 0xbf58476d1ce4e5b9L; x ^= (x >>> 29)
      x & ((1L << 63) - 1)
    }
    val baseHs = (0L until 40L).map(i => i -> scramble(i))
    val planted = Seq(
      100L -> baseHs(3)._2, // exact dup of 3
      101L -> (baseHs(3)._2 ^ 5L), // hamming 2 from 3
      102L -> (baseHs(7)._2 ^ (1L << 62)), // hamming 1, top chunk
      103L -> (baseHs(7)._2 ^ 7L) // hamming 3, one band
    )
    val hs = baseHs ++ planted
    val df = hs.toDF("doc_id", "phash")
    for (maxH <- Seq(0, 1, 3); bands <- Seq(4, 8) if maxH < bands) {
      val got = Perceptual.nearDupPairs(df, maxH, bands).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == bruteForce(hs, maxH), s"maxH=$maxH bands=$bands")
    }
    // sanity: the planted dups are actually found
    val h3 = Perceptual.nearDupPairs(df, 3, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Set((3L, 100L), (3L, 101L), (7L, 102L), (7L, 103L), (100L, 101L))
      .subsetOf(h3))
  }

  test("nearDupPairsVerified: verified pairs ⊆ candidates; a same-sign " +
    "brightness clone passes the hash stage and DIES at the SAD verify") {
    // ByteStrideGridDecoder on 72-byte blobs maps byte i -> cell i, so
    // grids are crafted directly as content bytes.
    val a = Array.tabulate[Byte](72)(i => (i % 9).toByte)    // ascending rows
    val dupA = a.clone(); dupA(40) = (dupA(40) + 2).toByte   // tiny edit
    // same GRADIENT SIGNS as a (dHash hamming 0 — a guaranteed candidate)
    // but every cell shifted +180: content disagrees massively
    val fake = a.map(b => (b + 180).toByte)
    val media = Seq(
      (0L, a), (1L, dupA), (2L, fake)).toDF("doc_id", "content")

    val hs = Perceptual.gridHashes(media)
    val got = hs.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getSeq[Int](2))).toMap
    // fake really is a hash-identical impostor (the coincidence class)
    assert(got(2L)._1 == got(0L)._1)
    assert(got(2L)._2 != got(0L)._2)

    val cand = Perceptual.nearDupPairs(
      hs.select(col("doc_id"), col("phash")), maxHamming = 3, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand == Set((0L, 1L), (0L, 2L), (1L, 2L))) // all three collide

    val verified = Perceptual.nearDupPairsVerified(
      media, maxHamming = 3, bands = 4, maxSad = 720L)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // only the true near-dup survives; its SAD is the exact planted delta
    // (the +2 edit flips one gradient sign, so hamming = 1)
    assert(verified.toSeq == Seq((0L, 1L, 1L, 2L)))
    // verified ⊆ candidates by construction
    assert(verified.map(v => (v._1, v._2)).toSet.subsetOf(cand))
    // maxSad is a real lever: at a permissive threshold the impostors
    // come back with their honest SAD — (180 mod 256) per cell × 72
    val loose = Perceptual.nearDupPairsVerified(
      media, maxHamming = 3, bands = 4, maxSad = Long.MaxValue)
      .collect()
    assert(loose.length == 3)
  }

  test("nearDupPairs validates band/hamming parameters") {
    val df = Seq((1L, 2L)).toDF("doc_id", "phash")
    intercept[IllegalArgumentException](Perceptual.nearDupPairs(df, 4, 4))
    intercept[IllegalArgumentException](Perceptual.nearDupPairs(df, 1, 1))
  }

  test("maxBandFreq drops over-hot buckets (documented recall trade)") {
    // 20 identical hashes flood every band bucket; one isolated pair
    val flood = (0L until 20L).map(i => i -> 0x0123456789abcdL)
    val pair = Seq(100L -> 0x4000000000000000L, 101L -> 0x4000000000000001L)
    val df = (flood ++ pair).toDF("doc_id", "phash")
    val capped = Perceptual.nearDupPairs(df, 3, 4, maxBandFreq = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the flooded family is dropped, the small pair survives
    assert(capped == Set((100L, 101L)))
    val uncapped = Perceptual.nearDupPairs(df, 3, 4)
      .collect().length
    assert(uncapped == 20 * 19 / 2 + 1)
  }

  // ---- real image path (ImageIO BMP) --------------------------------------

  private def bmpBytes(img: BufferedImage): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "bmp", out), "BMP encoder missing")
    out.toByteArray
  }

  /** Deterministic test image: per-pixel value from a fixed integer
    * formula, optionally brightness-shifted. */
  private def mkImage(w: Int, h: Int, shift: Int = 0,
      f: (Int, Int) => Int = (x, y) => (x * 7 + y * 13) % 200): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = math.min(255, math.max(0, f(x, y) + shift))
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    img
  }

  test("image decoder: identical and brightness-shifted images hash equal") {
    val a = ImageGridDecoder.decode(bmpBytes(mkImage(64, 48)))
    val b = ImageGridDecoder.decode(bmpBytes(mkImage(64, 48)))
    assert(a.toSeq == b.toSeq)
    val ha = Perceptual.dhashOfGrid(a)
    // brightness shift moves every cell but flips NO gradient sign — the
    // dHash invariance the operator exists for
    val shifted = ImageGridDecoder.decode(bmpBytes(mkImage(64, 48, shift = 30)))
    assert(Perceptual.dhashOfGrid(shifted) == ha)
    // a resize of the same scene also lands nearby (same gradient field)
    val resized = ImageGridDecoder.decode(bmpBytes(mkImage(128, 96,
      f = (x, y) => (x / 2 * 7 + y / 2 * 13) % 200)))
    assert(java.lang.Long.bitCount(Perceptual.dhashOfGrid(resized) ^ ha) <= 3)
    // a different scene is far away
    val other = ImageGridDecoder.decode(bmpBytes(mkImage(64, 48,
      f = (x, y) => (x * x * 3 + y * 31) % 251)))
    assert(java.lang.Long.bitCount(Perceptual.dhashOfGrid(other) ^ ha) > 10)
    // robustness: garbage bytes and tiny images decode without throwing
    assert(ImageGridDecoder.decode(Array[Byte](1, 2, 3)).forall(_ == 0))
    assert(ImageGridDecoder.decode(bmpBytes(mkImage(3, 2))).length == 72)
  }

  test("end-to-end: BMP families pair up under the banded join") {
    val fams = (0 until 4).flatMap { fam =>
      val f = (x: Int, y: Int) => ((x * (7 + fam) + y * (13 + 2 * fam)) % 200)
      Seq(
        (fam * 10L, bmpBytes(mkImage(64, 48, 0, f))),
        (fam * 10L + 1, bmpBytes(mkImage(64, 48, 0, f))), // exact re-encode
        (fam * 10L + 2, bmpBytes(mkImage(64, 48, 25, f))) // brightness copy
      )
    }
    val media = fams.toDF("doc_id", "content")
    val pairs = Perceptual.nearDupPairs(
        Perceptual.dhash63(media, ImageGridDecoder), maxHamming = 3, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every intra-family pair, no cross-family pair
    val expected = (0 until 4).flatMap { fam =>
      val ids = Seq(fam * 10L, fam * 10L + 1, fam * 10L + 2)
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet
    assert(pairs == expected)
  }

  // ---- real audio path (javax.sound WAV) ----------------------------------

  private def wav16Bytes(samples: Array[Short]): Array[Byte] = {
    import javax.sound.sampled._
    val fmt = new AudioFormat(8000f, 16, 1, true, false) // PCM s16le mono
    val data = new Array[Byte](samples.length * 2)
    samples.indices.foreach { i =>
      data(2 * i) = (samples(i) & 0xff).toByte
      data(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
    }
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, samples.length.toLong)
    val out = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  private def wav8Bytes(samples: Array[Byte]): Array[Byte] = {
    import javax.sound.sampled._
    val fmt = new AudioFormat(8000f, 8, 1, false, false) // PCM u8 mono
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(samples), fmt, samples.length.toLong)
    val out = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Deterministic clip: alternating ±amp square wave whose amplitude
    * envelope is `ampAt(slice9)` — distinct temporal loudness textures
    * land in distinct grid columns. */
  private def clip(n: Int, ampAt: Int => Int): Array[Short] =
    Array.tabulate(n) { i =>
      val amp = ampAt(i * 9 / n)
      (if (i % 2 == 0) amp else -amp).toShort
    }

  test("wav decoder: re-encode invariance (16-bit vs 8-bit), texture distance") {
    val n = 7200
    // rising amplitude staircase: each slice lands in a distinct band row,
    // so the temporal gradient field is rich enough to separate textures
    val quietLoud = clip(n, s => 1000 + 3500 * s)
    val a16 = WavGridDecoder.decode(wav16Bytes(quietLoud))
    // identical clip, identical container -> identical grid
    assert(a16.toSeq == WavGridDecoder.decode(wav16Bytes(quietLoud)).toSeq)
    assert(a16.sum == n) // every sample lands in exactly one cell
    // 16->8-bit re-encode: band((s+32768)>>>13) == band(((s+32768)>>>8)>>>5)
    // by construction, so the grid — and the hash — are IDENTICAL
    val a8 = WavGridDecoder.decode(
      wav8Bytes(quietLoud.map(s => (((s + 32768) >> 8) & 0xff).toByte)))
    assert(a8.toSeq == a16.toSeq)
    assert(Perceptual.dhashOfGrid(a8) == Perceptual.dhashOfGrid(a16))
    // the reversed envelope is a different texture, far away
    val loudQuiet = clip(n, s => 1000 + 3500 * (8 - s))
    val b16 = WavGridDecoder.decode(wav16Bytes(loudQuiet))
    assert(java.lang.Long.bitCount(
      Perceptual.dhashOfGrid(b16) ^ Perceptual.dhashOfGrid(a16)) > 10)
    // robustness: garbage and null decode to the all-zero grid
    assert(WavGridDecoder.decode("not audio".getBytes).forall(_ == 0))
    assert(WavGridDecoder.decode(null).forall(_ == 0))
  }

  test("WavSynth: depth re-encode pair decodes to one grid; ns90 pairs every family") {
    val t = "the quick brown fox jumps over the graft engine 0123456789"
    val w16 = WavSynth.wavOf(t, 16)
    val w8 = WavSynth.wavOf(t, 8)
    // different container bytes, IDENTICAL grid through the real decoder
    assert(!w16.sameElements(w8))
    val g16 = WavGridDecoder.decode(w16)
    assert(g16.toSeq == WavGridDecoder.decode(w8).toSeq)
    assert(g16.sum == t.getBytes("UTF-8").length) // every sample lands once
    // the mixing map spreads amplitude across ALL band rows (raw text
    // bytes would live in two rows and zero out most hash bits)
    assert((0 until 8).forall(r => (0 until 9).exists(c => g16(r * 9 + c) > 0)))
    assert(WavSynth.u8Samples("").isEmpty)
    assertThrows[IllegalArgumentException](WavSynth.wavOf(t, 12))
    // registered ns90: every complete 3-id family pairs its (16-bit,
    // 8-bit) variants at hamming 0 — the depth-dup class byte hashing
    // cannot see
    val out = graft.SparkEntry.queries("ns90_audio_neardup")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val nDocs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .count()
    (0L until nDocs by 3).filter(_ + 1 < nDocs).foreach { f =>
      assert(out.contains((f, f + 1, 0L)), s"family $f depth pair missing")
    }
  }

  // ---- codegen expression path vs imperative decoder path -----------------

  test("phash63 expression == mapPartitions decoder path, bit-identical") {
    // force the imperative path with a trivially-wrapping distinct decoder
    object SameAsStride extends GridDecoder {
      val name = "same-as-stride-test"
      def decode(content: Array[Byte]): Array[Int] =
        ByteStrideGridDecoder.decode(content)
    }
    val media = (Seq((1L, Array.tabulate[Byte](300)(i => (i % 97).toByte)),
      (2L, Array.emptyByteArray), (3L, null.asInstanceOf[Array[Byte]])) ++
      (10L until 40L).map(i =>
        i -> Array.tabulate[Byte](64 + i.toInt)(j => ((j * i) % 251).toByte)))
      .toDF("doc_id", "content")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaExpr = rows(Perceptual.dhash63(media)) // default -> expression
    val viaMp = rows(Perceptual.dhash63(media, SameAsStride))
    assert(viaExpr == viaMp)
    assert(viaExpr(2L) == 0L && viaExpr(3L) == 0L) // empty + NULL -> 0 both
    // and the expression path is a pure projection living inside
    // whole-stage codegen — no mapPartitions barrier (a parquet-backed
    // frame: local relations constant-fold the projection away entirely,
    // which only proves the point harder)
    val parquetMedia = Multimodal.packBinary(
      graft.Tables.load(spark, "/root/testdata/sf0.001", "documents"))
    val p = Perceptual.dhash63(parquetMedia)
      .queryExecution.executedPlan.toString
    assert(!p.contains("MapPartitions"), p.take(800))
    assert(p.contains("phash63"), p.take(800))
    assert(p.contains("*("), p.take(800)) // the codegen-span marker
  }

  // ---- persisted phash index lifecycle ------------------------------------

  test("phash index: build/probe/update lifecycle, update is load-bearing") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_phash_spec_" +
      java.util.UUID.randomUUID().toString.take(8)
    val a = Array.tabulate[Byte](300)(i => ((i * 37 + 11) % 251).toByte)
    val aEdit = a.clone(); aEdit(50) = 0x7f // near-dup of a
    val b = Array.tabulate[Byte](300)(i => ((i * i * 13 + 7) % 241).toByte)
    val bEdit = b.clone(); bEdit(120) = 0x01 // near-dup of b
    // sanity: the fixture separates (a vs b far; edits near)
    def h(x: Array[Byte]) =
      Perceptual.dhashOfGrid(ByteStrideGridDecoder.decode(x))
    assert(java.lang.Long.bitCount(h(a) ^ h(b)) > 6)
    assert(java.lang.Long.bitCount(h(a) ^ h(aEdit)) <= 3)
    assert(java.lang.Long.bitCount(h(b) ^ h(bEdit)) <= 3)

    val corpus = Seq((1L, a), (2L, a)).toDF("doc_id", "content")
    try {
      Perceptual.writePhashIndex(corpus, dir, fingerprint = Some("fp1"))
      assert(PersistedIndex.matches(spark, dir, Kind.Phash, "fp1"))
      assert(!PersistedIndex.matches(spark, dir, Kind.Phash, "other")) // staleness
      // tick 1: b is new (far from corpus), aEdit is a near-dup -> rejected
      val t1 = Perceptual.incrementalNewFromPhashIndex(
        Seq((10L, b), (11L, aEdit)).toDF("doc_id", "content"), dir)
        .localCheckpoint(true)
      assert(t1.collect().map(_.getLong(0)).toSeq == Seq(10L))
      // probing across hash families fails fast
      intercept[IllegalArgumentException] {
        Perceptual.incrementalNewFromPhashIndex(
          Seq((12L, b)).toDF("doc_id", "content"), dir,
          expectDecoder = Some("image-grid"))
      }
      // WITHOUT the update, bEdit would survive (only corpus hashes known)
      val before = Perceptual.incrementalNewFromPhashIndex(
        Seq((20L, bEdit)).toDF("doc_id", "content"), dir)
      assert(before.collect().map(_.getLong(0)).toSeq == Seq(20L))
      // update with tick-1 acceptances; now bEdit is a near-dup of 10L
      Perceptual.updatePhashIndex(t1, dir, fingerprint = Some("fp2"))
      assert(PersistedIndex.matches(spark, dir, Kind.Phash, "fp2")) // restamped
      val after = Perceptual.incrementalNewFromPhashIndex(
        Seq((20L, bEdit), (21L, aEdit)).toDF("doc_id", "content"), dir)
      assert(after.collect().isEmpty) // both rejected -> update load-bearing
      // working copy isolates appends from the base
      val work = s"${dir}_work"
      PersistedIndex.copy(spark, dir, work)
      Perceptual.updatePhashIndex(
        Seq((30L, h(bEdit))).toDF("doc_id", "phash"), work)
      assert(spark.read.parquet(s"$work/hashes").count() ==
        spark.read.parquet(s"$dir/hashes").count() + 1)
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(p, true)
      fs.delete(new org.apache.hadoop.fs.Path(s"${dir}_work"), true)
      ()
    }
  }

  test("phash index compaction: dedups replayed appends, keeps decisions") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_phash_cmp_" +
      java.util.UUID.randomUUID().toString.take(8)
    val a = Array.tabulate[Byte](300)(i => ((i * 37 + 11) % 251).toByte)
    val b = Array.tabulate[Byte](300)(i => ((i * i * 13 + 7) % 241).toByte)
    val bEdit = b.clone(); bEdit(120) = 0x01
    try {
      Perceptual.writePhashIndex(
        Seq((1L, a)).toDF("doc_id", "content"), dir, fingerprint = Some("f"))
      // an accepted tick, replayed once (the at-least-once window)
      val acc = Perceptual.dhash63(Seq((2L, b)).toDF("doc_id", "content"))
      Perceptual.updatePhashIndex(acc, dir)
      Perceptual.updatePhashIndex(acc, dir) // replay: duplicate rows
      assert(spark.read.parquet(s"$dir/hashes").count() == 3L)
      def decision() = Perceptual.incrementalNewFromPhashIndex(
        Seq((10L, bEdit), (11L, a)).toDF("doc_id", "content"), dir)
        .collect().map(_.getLong(0)).toSeq
      val before = decision()
      Perceptual.compactPhashIndex(spark, dir)
      assert(spark.read.parquet(s"$dir/hashes").count() == 2L) // deduped
      assert(decision() == before) // decisions unchanged
      assert(PersistedIndex.matches(spark, dir, Kind.Phash, "f")) // sidecar kept
      // one data file after compaction; idempotent second run
      val p = new org.apache.hadoop.fs.Path(s"$dir/hashes")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def dataFiles() = fs.listStatus(p)
        .count(f => !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith("."))
      assert(dataFiles() == 1)
      Perceptual.compactPhashIndex(spark, dir)
      assert(dataFiles() == 1 && decision() == before)
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      ()
    }
  }

  test("ns82 registered lifecycle: survivors are exactly the tick-1 controls") {
    val out = graft.SparkEntry.queries("ns82_phash_lifecycle")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    // every reversed control survives tick 1; every tick-2 doc (near-dup
    // of either the corpus or a tick-1 acceptance) is rejected
    assert(out.forall(_.getLong(0) % 5 == 4))
    val nDocs = graft.Tables.load(
      spark, "/root/testdata/sf0.001", "documents").count()
    assert(out.length == (0L until nDocs).count(_ % 5 == 4))
  }

  // ---- video keyframe composition (frameSample -> dhash63) ----------------

  test("ns83 keyframe groups: shared blocks group, registered query sane") {
    // two "videos" sharing one identical 64-byte block at different offsets
    val shared = Array.tabulate[Byte](64)(i => ((i * 29 + 3) % 211).toByte)
    val uniqA = Array.tabulate[Byte](64)(i => ((i * 31 + 7) % 199).toByte)
    val uniqB = Array.tabulate[Byte](64)(i => ((i * 41 + 13) % 193).toByte)
    // frames sampled every 2nd 64-byte window -> windows 0 and 2
    val vidA = shared ++ uniqA ++ shared // windows: shared, uniqA, shared
    val vidB = shared ++ uniqB ++ uniqB
    val media = Seq((1L, vidA), (2L, vidB)).toDF("doc_id", "content")
      .withColumn("meta", org.apache.spark.sql.functions.struct(
        org.apache.spark.sql.functions.length(col("content")).cast("long")
          .as("n_bytes")))
    val frames = Multimodal.frameSample(media, frameBytes = 64, everyK = 2)
    val hashed = Perceptual.dhash63(
      frames.select((col("frame_idx") + col("doc_id") * 100).as("doc_id"),
        col("frame").as("content")))
    val groups = hashed.groupBy("phash").count().collect()
      .map(r => r.getLong(1)).sorted.toSeq
    // sampled frames: A->(shared, shared), B->(shared, uniqB):
    // the shared block groups 3 frames; uniqB stands alone
    assert(groups == Seq(1L, 3L))

    val out = graft.SparkEntry.queries("ns83_keyframe_dedup")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(1) >= 2L) // every group is a repeat
      assert(r.getLong(2) >= 1L && r.getLong(2) <= r.getLong(1))
    }
    // exact-copy families guarantee cross-doc groups exist
    assert(out.exists(_.getLong(2) >= 2L))
  }

  // ---- registered query vs its own contract -------------------------------

  test("ns81 registered query: families pair, reversed controls never do") {
    val out = graft.SparkEntry.queries("ns81_image_neardup")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (a, b, h) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(a < b)
      assert(h <= 3)
      assert(a / 5 == b / 5, s"cross-family pair ($a,$b)") // same family only
      assert(a % 5 != 4 && b % 5 != 4, "reversed control paired")
    }
    // the two exact copies (v0,v1) pair at hamming 0 in every family present
    val zeroPairs = out.filter(r => r.getLong(0) % 5 == 0 && r.getLong(1) % 5 == 1)
    assert(zeroPairs.nonEmpty)
    assert(zeroPairs.forall(_.getLong(2) == 0L))
  }

  test("audioSegments: re-encode invariance, silence clip, tie-low dominance") {
    import org.apache.spark.sql.functions._
    // the 16-bit and 8-bit encodings of the SAME text must segment
    // identically (the decoder's re-encode invariance carried through)
    val txt = "the quick brown fox jumps over the lazy dog " * 8
    val media = Seq(
      (1L, WavSynth.wavOf(txt, 16)),
      (2L, WavSynth.wavOf(txt, 8)),
      (3L, Array.emptyByteArray) // undecodable -> all-zero grid
    ).toDF("doc_id", "content")
    val out = Perceptual.audioSegments(media).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_shifts"), r.getAs[Long]("start_band"),
          r.getAs[Long]("end_band")))).toMap
    assert(out(1L) == out(2L))
    // all-zero grid: every slice ties to band 0 (tie-low), zero shifts
    assert(out(3L) == ((0L, 0L, 0L)))
  }

  test("sceneCuts: static clip has zero cuts, a mid-clip content flip is one cut") {
    import org.apache.spark.sql.functions._
    def media(rows: Seq[(Long, Array[Byte])]) =
      rows.toDF("doc_id", "content")
        .select(col("doc_id"), col("content"),
          struct(length(col("content")).cast("long").as("n_bytes")).as("meta"))
    val still = Array.fill(32)("ab").mkString.getBytes  // 4 identical 16-B frames
    val flip = (Array.fill(16)("ab").mkString +        // 2 frames of one texture
      Array.fill(16)("xq9Z").mkString.take(32)).getBytes // 2 of another
    val single = "short".getBytes                       // one frame only
    val out = Perceptual.sceneCuts(
        media(Seq((1L, still), (2L, flip), (3L, single))),
        frameBytes = 16, everyK = 1, cutThreshold = 3)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_frames"), r.getAs[Long]("n_cuts"),
          Option(r.get(r.fieldIndex("max_hamming")))))).toMap
    assert(out(1L)._1 == 4L && out(1L)._2 == 0L) // identical frames: no cut
    assert(out(1L)._3.contains(0L))
    assert(out(2L)._3.contains(4L)) // the flip distance, measured
    assert(out(2L)._2 == 1L, out(2L).toString)   // exactly one transition
    assert(out(3L) == ((1L, 0L, None)))          // single frame: NULL max
  }
}
