package graft.ops

import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, explode, lit, split, when}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, TempDirs}
import graft.ops.PersistedIndex.Kind
import graft.streaming.StreamingWebIngest

/** The persisted-index lifecycle ([[PersistedIndex]]): a publish that dies
  * at any step keeps the previous index and leaves no staging copy, a
  * layout rewrite that fails keeps the old layout, the staleness gate
  * rebuilds what it cannot trust, and every family's probe and update
  * refuses another family's index, naming both kinds. */
class PersistedIndexSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def dirFor(tag: String) = tempDir(s"graft_pi_$tag").toString

  /** Hidden staging or set-aside siblings left in `dir`. */
  private def leftovers(dir: String): Seq[String] =
    new java.io.File(dir).list().toSeq
      .filter(n => n.contains(".tmp-") || n.contains(".bak-"))

  /** The local file system, except that its `call`-th rename fails (it
    * returns false, or throws), and with `andAfter` every later rename
    * returns false too — what a process killed at that rename leaves. */
  private class RenameFaultFs(call: Int, throws: Boolean,
      andAfter: Boolean = false)
      extends FilterFileSystem(
        FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)) {
    private var renames = 0
    override def rename(src: Path, dst: Path): Boolean = {
      renames += 1
      if (renames < call || call == 0) super.rename(src, dst)
      else if (renames == call && throws)
        throw new java.io.IOException(s"fault on rename $call")
      else if (renames > call && !andAfter) super.rename(src, dst)
      else false
    }
  }

  // phash fixture: aEdit is a near-dup of a, b is far from both
  private val a = Array.tabulate[Byte](300)(i => ((i * 37 + 11) % 251).toByte)
  private val aEdit = { val x = a.clone(); x(50) = 0x7f; x }
  private val b = Array.tabulate[Byte](300)(i => ((i * i * 13 + 7) % 241).toByte)

  /** Which of (10 = aEdit, 11 = b) the index at `path` lets through. */
  private def probe(path: String): Seq[Long] =
    Perceptual.incrementalNewFromPhashIndex(
        Seq((10L, aEdit), (11L, b)).toDF("doc_id", "content"), path)
      .collect().map(_.getLong(0)).toSeq.sorted

  // (case, rename call that fails — 0 for none, whether it throws,
  // whether every later rename fails too, whether the build body throws)
  private val faults = Seq(
    ("the build body throws", 0, false, false, true),
    ("the rename aside returns false", 1, false, false, false),
    ("the rename aside throws", 1, true, false, false),
    ("the rename in returns false", 2, false, false, false),
    ("the rename in throws", 2, true, false, false),
    // the in-process restore fails as well: the old index is left set
    // aside, exactly as a kill between the two renames leaves it, and the
    // probe below is the next reader
    ("it dies between its two renames", 2, false, true, false))

  faults.foreach { case (name, call, throws, andAfter, bodyThrows) =>
    test(s"publish keeps the previous index when $name") {
      val dir = dirFor("fault")
      val idx = s"$dir/index"
      Perceptual.writePhashIndex(Seq((1L, a)).toDF("doc_id", "content"), idx)
      val before = probe(idx)
      assert(before == Seq(11L)) // aEdit is a near-dup of the indexed a
      intercept[Exception] {
        PersistedIndex.publish(new RenameFaultFs(call, throws, andAfter),
            new Path(idx)) { tmp =>
          // a complete rebuild over b, which would let aEdit through
          Perceptual.writePhashIndex(
            Seq((2L, b)).toDF("doc_id", "content"), tmp.toString)
          if (bodyThrows) throw new RuntimeException("build failed")
        }
      }
      assert(probe(idx) == before)
      assert(leftovers(dir).isEmpty, leftovers(dir))
    }
  }

  test("publish swaps a rebuild in when no step fails") {
    val dir = dirFor("swap")
    val idx = s"$dir/index"
    Perceptual.writePhashIndex(Seq((1L, a)).toDF("doc_id", "content"), idx)
    PersistedIndex.publish(new RenameFaultFs(0, false), new Path(idx)) { tmp =>
      Perceptual.writePhashIndex(
        Seq((2L, b)).toDF("doc_id", "content"), tmp.toString)
    }
    assert(probe(idx) == Seq(10L))
    assert(leftovers(dir).isEmpty, leftovers(dir))
  }

  test("a throwing fresh build publishes nothing and cleans its staging") {
    val dir = dirFor("fresh")
    val dest = s"$dir/index"
    intercept[RuntimeException] {
      PersistedIndex.build(spark, dest, Kind.Lm, None) { tmp =>
        Seq(1, 2).toDF("x").write.parquet(tmp.toString)
        throw new RuntimeException("boom")
      }
    }
    assert(new java.io.File(dir).list().isEmpty,
      new java.io.File(dir).list().toSeq)
  }

  test("a compaction killed between its renames is put back by the next probe") {
    val dir = dirFor("kill")
    val idx = PublishKillFs.path(spark, s"$dir/index")
    Perceptual.writePhashIndex(Seq((1L, a)).toDF("doc_id", "content"), idx)
    // a replayed tick: a duplicate hash row for the compaction to drop
    Perceptual.updatePhashIndex(
      Perceptual.dhash63(Seq((1L, a)).toDF("doc_id", "content")), idx)
    val before = probe(idx)
    assert(before == Seq(11L))
    PublishKillFs.killing(
      intercept[Exception](Perceptual.compactPhashIndex(spark, idx)))
    assert(probe(idx) == before)
    Perceptual.compactPhashIndex(spark, idx)
    assert(probe(idx) == before)
    assert(leftovers(dir).isEmpty, leftovers(dir))
  }

  // ---- Layout rewrites go through the same publish -------------------------

  test("a failing optimize rewrite keeps the old layout and no staging copy") {
    val dir = dirFor("layout")
    val path = s"$dir/layout"
    val rows = (1L to 20L).map(i => (i, s"p${i % 2}", i * 10))
      .toDF("id", "part", "v")
    def optimize(df: DataFrame) =
      Layout.optimize(df, path, Seq("part"), Seq("id"), numFiles = 1)
    optimize(rows)
    def read() = Layout.read(spark, path).orderBy("id").collect().toSeq
    val before = read()
    // a partition value too long for a directory name fails the write
    // tasks, after the staging dir exists
    intercept[Exception](optimize(rows.withColumn("part",
      when(col("id") === 7L, lit("x" * 300)).otherwise(col("part")))))
    assert(read() == before)
    assert(leftovers(dir).isEmpty, leftovers(dir))
  }

  test("a layout rewrite killed between its renames is put back by the next read") {
    val dir = dirFor("layout_kill")
    val path = PublishKillFs.path(spark, s"$dir/layout")
    val rows = (1L to 20L).map(i => (i, s"p${i % 2}", i * 10))
      .toDF("id", "part", "v")
    Layout.optimize(rows, path, Seq("part"), Seq("id"), numFiles = 1)
    def read() = Layout.read(spark, path).orderBy("id").collect().toSeq
    val before = read()
    PublishKillFs.killing(intercept[Exception](Layout.optimize(
      rows.where(col("id") > 10L), path, Seq("part"), Seq("id"), numFiles = 1)))
    assert(read() == before)
    // the next rewrite clears the staging copy the kill left
    Layout.optimize(rows, path, Seq("part"), Seq("id"), numFiles = 1)
    assert(read() == before)
    assert(leftovers(dir).isEmpty, leftovers(dir))
  }

  // ---- the staleness gate -------------------------------------------------

  test("cached builds once per fingerprint and rebuilds a pre-kind index") {
    val dir = dirFor("cached")
    val src = s"$dir/src"
    Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
      .write.parquet(src)
    var builds = 0
    def cached() = PersistedIndex.cached(spark, Kind.Lm, src) { (path, fp) =>
      builds += 1
      Quality.writeLmModel(spark.read.parquet(src), path, Some(fp))
    }
    val path = cached()
    assert(cached() == path && builds == 1)
    // an index left by an older build: params and fingerprint, no kind
    val fp = PersistedIndex.sourceFingerprint(spark, src)
    PersistedIndex.writeText(spark, new Path(path, "_meta.txt"),
      s"n=4\nv=3\nfingerprint=$fp")
    assert(!PersistedIndex.matches(spark, path, Kind.Lm, fp))
    assert(cached() == path && builds == 2)
    assert(PersistedIndex.matches(spark, path, Kind.Lm, fp))
    // a dir holding no meta at all (the old split sidecars) never matches
    val bare = s"$dir/bare"
    Seq(1).toDF("x").write.parquet(bare)
    PersistedIndex.writeText(spark, new Path(bare, "_fingerprint.txt"), fp)
    assert(!PersistedIndex.matches(spark, bare, Kind.Ivf, fp))
  }

  // ---- every reader checks its kind ---------------------------------------

  private def docs = (1L to 20L)
    .map(i => (i, s"alpha beta w$i gamma${i % 5} delta")).toDF("doc_id", "text")
  private def embs = {
    val rnd = new scala.util.Random(7)
    (0L until 100L).map(i => (i, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
  }
  private def queries = embs.where(col("vec_id") < 2)
    .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
  private def media = Seq((1L, a), (2L, b)).toDF("doc_id", "content")
  private def tokens = docs.limit(20)
    .select(explode(split(col("text"), " ")).as("token"))

  /** One index family: how to build it, probe it and (if it has one)
    * update it. */
  private case class Family(kind: Kind, build: String => Unit,
      probe: String => Unit, update: Option[String => Unit])

  // ordered so that each family's readers meet the NEXT family's index —
  // among them a minhash probe on a phash index and an IVF-PQ probe on an
  // IVF index
  private lazy val families = Seq(
    Family(Kind.Minhash, Dedup.writeMinhashIndex(docs.limit(20), _),
      Dedup.incrementalNewFromIndex(docs.limit(2), _),
      Some(Dedup.updateMinhashIndex(docs.limit(2), _))),
    Family(Kind.Phash, Perceptual.writePhashIndex(media, _),
      Perceptual.incrementalNewFromPhashIndex(media, _),
      Some(Perceptual.updatePhashIndex(Perceptual.dhash63(media), _))),
    Family(Kind.Grid, Perceptual.writeGridIndex(media, _),
      Perceptual.incrementalNewFromGridIndex(media, _),
      Some(Perceptual.updateGridIndex(Perceptual.gridHashes(media), _))),
    Family(Kind.IvfPq, Similarity.writeIvfPqIndex(embs, _),
      Similarity.ivfPqTopKFromIndex(spark, _, queries),
      Some(Similarity.updateIvfPqIndex(embs.limit(2), _))),
    Family(Kind.Ivf, Similarity.writeIvfIndex(embs, _),
      Similarity.ivfTopKFromIndex(spark, _, queries),
      Some(Similarity.updateIvfIndex(embs.limit(2), _))),
    Family(Kind.Pq, Similarity.writePqIndex(embs, _),
      Similarity.pqTopKFromIndex(spark, _, queries),
      Some(Similarity.updatePqIndex(embs.limit(2), _))),
    Family(Kind.Cms, Sketches.writeCmsSketch(tokens, _, "token"),
      Sketches.cmsEstimateFromSketch(spark, _, tokens, "token"),
      Some(Sketches.updateCmsSketch(tokens, _, "token"))),
    Family(Kind.Lm, Quality.writeLmModel(docs.limit(20), _),
      Quality.lmScoreFromModel(docs.limit(2), _), None))

  Seq("minhash", "phash", "grid", "ivfpq", "ivf", "pq", "cms", "lm")
    .zipWithIndex.foreach { case (kind, i) =>
      test(s"$kind readers refuse another kind's index, naming both kinds") {
        val own = families(i)
        val other = families((i + 1) % families.size)
        assert(own.kind.name == kind)
        val path = s"${dirFor(kind)}/index"
        other.build(path)
        (Seq(own.probe) ++ own.update).foreach { read =>
          val e = intercept[IllegalArgumentException](read(path))
          assert(e.getMessage.contains(s"not a ${own.kind} index") &&
            e.getMessage.contains(s"kind '${other.kind}'"), e.getMessage)
        }
        // its own kind's readers accept it
        other.probe(path)
      }
    }

  // ---- the ingest step ----------------------------------------------------

  /** One index family as the ingest step drives it: its corpus index, a
    * batch, its real probe and update, and the rows of its index, all
    * keyed by `key`. */
  private case class Ingest(name: String, key: String,
      build: String => Unit, batch: () => DataFrame,
      probe: (DataFrame, String) => DataFrame,
      update: (DataFrame, String) => Unit, indexed: String => DataFrame)

  private val c = Array.tabulate[Byte](300)(i => ((i * 61 + 5) % 233).toByte)
  private def blobs = Seq((10L, aEdit), (11L, b), (12L, c))
    .toDF("doc_id", "content")

  private lazy val ingests = Seq(
    Ingest("minhash", "doc_id",
      Dedup.writeMinhashIndex(Seq(
        (100L, "the quick brown fox jumps over the lazy dog"),
        (101L, "completely different corpus material right here"))
        .toDF("doc_id", "text"), _),
      () => Seq(
        (1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "the quick brown fox jumps over the lazy cat"),
        (3L, "entirely novel content with no overlap at all"),
        (4L, "another brand new document nothing like the others"))
        .toDF("doc_id", "text"),
      Dedup.incrementalNewFromIndex(_, _), Dedup.updateMinhashIndex(_, _),
      idx => spark.read.parquet(s"$idx/sets").select("doc_id")
        .union(spark.read.parquet(s"$idx/bands").select("doc_id"))),
    Ingest("phash", "doc_id",
      Perceptual.writePhashIndex(Seq((1L, a)).toDF("doc_id", "content"), _),
      () => blobs, Perceptual.incrementalNewFromPhashIndex(_, _),
      Perceptual.updatePhashIndex(_, _),
      idx => spark.read.parquet(s"$idx/hashes")),
    Ingest("grid", "doc_id",
      Perceptual.writeGridIndex(Seq((1L, a)).toDF("doc_id", "content"), _),
      () => blobs, Perceptual.incrementalNewFromGridIndex(_, _),
      Perceptual.updateGridIndex(_, _),
      idx => spark.read.parquet(s"$idx/hashes")),
    Ingest("url ledger", "canonical_url",
      idx => StreamingWebIngest.appendLedger(
        Seq("https://s.example.org/p").toDF("canonical_url"), idx),
      () => Seq((1L, "https://www.s.example.org/p/"),
        (2L, "https://s.example.org/q"), (3L, "https://s.example.org/r"))
        .toDF("doc_id", "url"),
      StreamingWebIngest.frontierProbe(_, _),
      StreamingWebIngest.appendLedger(_, _), spark.read.parquet(_)))

  // where the tick dies: before its update appends anything, or after
  private val deaths = Seq("before", "after")

  for (f <- ingests; death <- deaths)
    test(s"ingest: a ${f.name} tick that dies $death its index append " +
      "loses no survivor on replay") {
      val dir = dirFor("ingest")
      val (idx, sinkPath) = (s"$dir/index", s"$dir/sink")
      f.build(idx)
      def keys(df: DataFrame): Set[Any] =
        df.select(f.key).collect().map(_.get(0)).toSet
      val corpus = keys(f.indexed(idx))
      val expected = keys(f.probe(f.batch(), idx))
      assert(expected.nonEmpty && expected.size < f.batch().count())
      val sink: DataFrame => Unit = _.write.mode("append").parquet(sinkPath)
      var died = false
      val dying: DataFrame => Unit = { rows =>
        if (death == "after") f.update(rows, idx)
        if (!died) { died = true; throw new RuntimeException("killed") }
        if (death == "before") f.update(rows, idx)
      }
      intercept[RuntimeException](
        PersistedIndex.ingest(f.probe(f.batch(), idx), Some(sink))(dying))
      // the replayed tick
      PersistedIndex.ingest(f.probe(f.batch(), idx), Some(sink))(dying)
      val sunk = keys(spark.read.parquet(sinkPath))
      assert(expected.subsetOf(sunk), s"$expected not all in $sunk")
      val indexed = keys(f.indexed(idx))
      assert(indexed.subsetOf(corpus ++ sunk), s"$indexed has rows " +
        s"neither in the corpus $corpus nor in the sink $sunk")
      assert(expected.subsetOf(indexed))
    }
}
