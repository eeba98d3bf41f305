package graft.ops

import java.nio.charset.StandardCharsets

import scala.collection.immutable.ListMap

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The persisted-index lifecycle, once for every index family (minhash,
  * IVF, PQ, IVF-PQ, phash, grid, CMS, LM): one sidecar format, one
  * staleness gate, one crash-safe publish and its restore, one ingest
  * step, one copy and one restamp. A family keeps only its data writer,
  * its probe and its parameters.
  *
  * Every index directory carries one `_meta.txt` of `key=value` lines:
  * `kind`, the family's parameters, and an optional `fingerprint` of the
  * source it was built from ([[sourceFingerprint]]). Underscore-prefixed
  * files are invisible to parquet scans, so data at the root stays a table.
  * All I/O goes through the Hadoop FileSystem of the path itself, so the
  * sidecars live in the same store as the data (`hdfs://`, `s3a://`).
  */
object PersistedIndex {

  /** An index family: the `kind` its meta carries. Every probe and update
    * requires its own kind, so an index is never read as another family. */
  sealed abstract class Kind(val name: String) {
    override def toString: String = name
  }
  object Kind {
    /** `bands` holds one Long `band_key` per (doc, band). The index
      * before it, kind "minhash", held string band values that match no
      * Long key, so it must be rebuilt, not read. */
    case object Minhash extends Kind("minhash64")
    case object Ivf extends Kind("ivf")
    case object Pq extends Kind("pq")
    case object IvfPq extends Kind("ivfpq")
    case object Phash extends Kind("phash")
    case object Grid extends Kind("grid")
    case object Cms extends Kind("cms")
    case object Lm extends Kind("lm")
  }

  /** An index's `_meta.txt`: its kind (empty when the sidecar predates
    * kinds), its family's parameters in write order, and the source
    * fingerprint it was stamped with, if any. */
  final case class Meta(
      kind: String, params: ListMap[String, String],
      fingerprint: Option[String]) {
    def apply(key: String): String = params.getOrElse(key,
      throw new IllegalArgumentException(s"$kind index meta has no `$key`"))
    def int(key: String): Int = apply(key).toInt
  }

  private def fs(spark: SparkSession, path: Path): FileSystem =
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def metaPath(path: String) = new Path(path, "_meta.txt")

  // ---- sidecar I/O -------------------------------------------------------

  def writeText(spark: SparkSession, path: Path, text: String): Unit = {
    val out = fs(spark, path).create(path, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  def readText(spark: SparkSession, path: Path): String = {
    val in = fs(spark, path).open(path)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  /** The index's meta, or None when `path` holds no `_meta.txt`. A
    * missing index is first put back if a killed [[publish]] set it aside
    * ([[present]]); a present one costs the one `exists` of its meta. */
  def meta(spark: SparkSession, path: String): Option[Meta] = {
    val p = metaPath(path)
    val pfs = fs(spark, p)
    if (!pfs.exists(p) && !(present(pfs, new Path(path)) && pfs.exists(p)))
      None
    else {
      val kv = readText(spark, p).split("\n").toSeq
        .filter(_.contains("=")).map(_.split("=", 2)).map(a => a(0) -> a(1))
      Some(Meta(kv.collectFirst { case ("kind", k) => k }.getOrElse(""),
        ListMap(kv.filter { case (k, _) => k != "kind" && k != "fingerprint" }
          : _*),
        kv.collectFirst { case ("fingerprint", f) => f }))
    }
  }

  /** The meta of the `kind` index at `path` — fails naming both kinds when
    * `path` holds another family's index (or one from before kinds), and
    * naming the path when it holds no index at all. */
  def read(spark: SparkSession, path: String, kind: Kind): Meta = {
    val m = meta(spark, path).getOrElse(throw new IllegalArgumentException(
      s"no index at $path (no _meta.txt) - expected kind '$kind'"))
    require(m.kind == kind.name,
      s"index at $path is kind '${if (m.kind.isEmpty) "none" else m.kind}'," +
        s" not a $kind index - rebuild it or read it as its own kind")
    m
  }

  private def writeMeta(spark: SparkSession, path: String, kind: Kind,
      params: Seq[(String, Any)], fingerprint: Option[String]): Unit =
    writeText(spark, metaPath(path),
      ((("kind" -> kind.name) +: params) ++ fingerprint.map("fingerprint" -> _))
        .map { case (k, v) => s"$k=$v" }.mkString("\n"))

  // ---- the lifecycle -----------------------------------------------------

  /** Staleness gate: true iff `path` holds a `kind` index stamped with
    * exactly `fingerprint`. Another kind, a missing or unreadable meta, an
    * unstamped index or a sidecar from before this format all fail — the
    * caller rebuilds instead of serving from the wrong corpus. */
  def matches(spark: SparkSession, path: String, kind: Kind,
      fingerprint: String): Boolean =
    meta(spark, path).exists(m =>
      m.kind == kind.name && m.fingerprint.contains(fingerprint))

  /** Build an index of `kind` at `path` through [[publish]]: `body` writes
    * the data into the staging dir and returns the family's parameters,
    * and the meta goes in last. A reader never sees a half-written index,
    * and a failed build leaves the previous one in place. */
  def build(spark: SparkSession, path: String, kind: Kind,
      fingerprint: Option[String])(body: Path => Seq[(String, Any)]): Unit =
    publish(spark, new Path(path)) { tmp =>
      writeMeta(spark, tmp.toString, kind, body(tmp), fingerprint)
    }

  /** Restamp the `kind` index at `path` with a new source fingerprint,
    * keeping its parameters — after an update, when the caller tracks
    * index identity by content. */
  def restamp(spark: SparkSession, path: String, kind: Kind,
      fingerprint: String): Unit =
    writeMeta(spark, path, kind, read(spark, path, kind).params.toSeq,
      Some(fingerprint))

  /** Whole-directory copy (data + sidecars), Hadoop-FS-portable. */
  def copy(spark: SparkSession, src: String, dst: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val (from, to) = (new Path(src), new Path(dst))
    FileUtil.copy(from.getFileSystem(conf), from, to.getFileSystem(conf), to,
      false, true, conf)
    ()
  }

  /** Stage, write, publish — the one way a directory is replaced: a fresh
    * build, a rebuild, or a self-rewrite (compaction, layout rewrite)
    * whose input's only home is `dest`. `write` fills a hidden staging
    * sibling; the old copy renames aside, the staged one renames in, and
    * only then is the old copy deleted. A failed write or rename throws
    * with `dest` as it was, and the staging dir is deleted on every path.
    * A process killed between the two renames leaves `dest` missing and
    * the old copy aside: the next reader puts it back ([[present]]), and
    * the next publish does so before it deletes what the killed one
    * left. One maintainer per target. */
  def publish(spark: SparkSession, dest: Path)(write: Path => Unit): Unit =
    publish(fs(spark, dest), dest)(write)

  private[ops] def publish(fs: FileSystem, dest: Path)(
      write: Path => Unit): Unit = {
    val (tmp, bak) = (sibling(dest, "tmp"), sibling(dest, "bak"))
    // what a killed publish left: its set-aside copy goes back in place,
    // and only once `dest` is there is a stale aside copy dropped
    if (present(fs, dest)) fs.delete(bak, true)
    fs.delete(tmp, true)
    try {
      write(tmp)
      val hadOld = fs.exists(dest)
      if (hadOld && !fs.rename(dest, bak))
        throw new java.io.IOException(s"cannot move $dest aside to publish")
      // a rename in that fails or throws puts the old copy back; should
      // that fail too, the next reader or publish puts it back
      def restore(): Unit = if (hadOld) present(fs, dest)
      val in = try fs.rename(tmp, dest)
        catch { case e: Throwable => restore(); throw e }
      if (!in) {
        restore()
        throw new java.io.IOException(s"cannot publish $dest; old copy kept")
      }
      if (hadOld) fs.delete(bak, true)
    } finally {
      try fs.delete(tmp, true) catch { case _: Throwable => () }
    }
  }

  /** Whether `dest` exists, once the copy a [[publish]] killed between its
    * two renames set aside is renamed back. Only restores, and only a
    * missing `dest`: one `exists` when nothing is missing, no listing. */
  def present(spark: SparkSession, dest: Path): Boolean =
    present(fs(spark, dest), dest)

  private def present(fs: FileSystem, dest: Path): Boolean =
    fs.exists(dest) || {
      val bak = sibling(dest, "bak")
      fs.exists(bak) && fs.rename(bak, dest)
    }

  // one fixed name per role, so recovery finds them without a listing;
  // a publish clears both before it starts, so at most one of each exists
  private def sibling(dest: Path, tag: String): Path =
    new Path(dest.getParent, s".${dest.getName}.$tag-publish")

  // ---- the ingest step ---------------------------------------------------

  /** One ingest tick against a persisted index, in the order every
    * index-backed dedup shares: fix the rows `probe` lets through, append
    * them to `sink` when one is given, then to the index through
    * `update`, and return them. The snapshot gives the sink and the index
    * the same rows, and keeps the probe — a plan over the index's files —
    * from seeing the update.
    *
    * Sink before index: a tick that dies between the two appends is
    * replayed, its probe lets the same rows through again, and the sink
    * gets a duplicate row (consumers key on the id). The reverse order
    * would index rows the sink never got, and the replay would drop them
    * for good.
    *
    * With a sink (a streaming micro-batch) the snapshot is taken now, and
    * an empty one writes nothing. Without one (a batch tick whose caller
    * unions the result) it is taken lazily, so the update's first append
    * fills it and the tick costs no job of its own; its file list, fixed
    * when the plan was built, misses the appends. One writer per index. */
  def ingest(probe: DataFrame, sink: Option[DataFrame => Unit] = None)(
      update: DataFrame => Unit): DataFrame = {
    val survivors = Materialize.local(probe, eager = sink.isDefined)
    if (sink.isEmpty || !survivors.isEmpty) {
      sink.foreach(_(survivors))
      update(survivors)
    }
    survivors
  }

  // ---- quantizer tables --------------------------------------------------

  /** IVF centroids and PQ codebooks: one `i:v,v,…` line per vector. */
  def writeVectors(spark: SparkSession, path: Path,
      vectors: Seq[(Int, Array[Double])]): Unit =
    writeText(spark, path,
      vectors.map { case (i, v) => s"$i:${v.mkString(",")}" }.mkString("\n"))

  def readVectors(spark: SparkSession, path: Path)
      : Array[(Int, Array[Double])] =
    readText(spark, path).split("\n").filter(_.nonEmpty).map { line =>
      val Array(i, vs) = line.split(":", 2)
      i.toInt -> vs.split(",").map(_.toDouble)
    }

  // ---- staleness keys and the harness cache ------------------------------

  /** Content fingerprint of a source directory/file: md5 over the sorted
    * file listing with sizes and mtimes — one driver-side listing, no data
    * read. It changes whenever the data is rewritten, so an index stamped
    * with it is trusted ([[matches]]) only while the source is unchanged. */
  def sourceFingerprint(spark: SparkSession, sourcePath: String): String = {
    val p = new Path(sourcePath)
    val it = fs(spark, p).listFiles(p, true)
    val entries = collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val f = it.next()
      // _SUCCESS/CRC markers churn without data changes; data files decide
      if (!f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
        entries += s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}"
    }
    md5(entries.sorted.mkString("\n"))
  }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** A scratch dir under `java.io.tmpdir` keyed on `source`'s path AND
    * its fingerprint, so regenerated data gets a new dir. The right home
    * only for a single-machine harness: on a cluster a deployment passes
    * its own shared path to the writers. */
  private def scratchDir(prefix: String, source: String, fp: String) =
    s"${System.getProperty("java.io.tmpdir")}/${prefix}_" +
      md5(s"$source#$fp").take(12)

  /** Build-once gate for the harness's shared base index of `source`: the
    * `kind` index in its [[scratchDir]], built by `build(path, fingerprint)`
    * unless one stamped with the source's current fingerprint is already
    * there. Returns the index path. */
  def cached(spark: SparkSession, kind: Kind, source: String)(
      build: (String, String) => Unit): String = {
    val fp = sourceFingerprint(spark, source)
    val path = scratchDir(s"graft_${kind}_idx", source, fp)
    if (!matches(spark, path, kind, fp)) build(path, fp)
    path
  }

  /** Build-once gate for a harness artifact of `source` that is not an
    * index (a layout, a generated input file set): `build` writes it into
    * a staging dir that is published whole, so the [[scratchDir]] exists
    * only once complete. Returns its path. */
  def scratch(spark: SparkSession, prefix: String, source: String)(
      build: String => Unit): String = {
    val path = new Path(
      scratchDir(prefix, source, sourceFingerprint(spark, source)))
    if (!present(spark, path))
      publish(spark, path)(tmp => build(tmp.toString))
    path.toString
  }

  /** A run-scoped working copy of `base` — appends land on the copy, the
    * shared base stays untouched, and the copy is deleted at JVM exit so
    * repeated runs don't accumulate dirs under tmp. Returns its path. */
  def workingCopy(spark: SparkSession, base: String): String = {
    val work = s"${base}_tick_${java.util.UUID.randomUUID().toString.take(8)}"
    copy(spark, base, work)
    val p = new Path(work)
    fs(spark, p).deleteOnExit(p)
    work
  }
}
