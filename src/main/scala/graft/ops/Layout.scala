package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-layout optimization — the at-rest half of the scale story.
  *
  * At 100 TB the fastest query is the one that never reads most of the
  * corpus: a layout partitioned by the common filter column and
  * range-clustered on the common sort/range columns lets Spark prune whole
  * PARTITION DIRECTORIES at planning time (`PartitionFilters` on the scan)
  * and skip parquet ROW GROUPS via min/max statistics (`PushedFilters`),
  * so a selective query's I/O is proportional to its answer, not the
  * corpus. This operator is how the other operators' outputs (survivor
  * corpora, curated corpora, chunk tables) should be written back to the
  * lake.
  *
  * Mechanics: `repartitionByRange(partitionCols ++ clusterCols)` gives
  * each output file a NON-OVERLAPPING range of the cluster key within its
  * partition directory (a range exchange plans one extra shuffle — the
  * price of clustering, paid once at write); `sortWithinPartitions` makes
  * rows inside each file monotone so every row group's min/max is tight;
  * `partitionBy` splits directories. Range partitioning also bounds file
  *-size skew: a hot partition value spreads over multiple range slices
  * instead of one giant file.
  */
object Layout {

  /** Rewrite `df` as a pruning-friendly parquet layout at `path`:
    * directories split by `partitionCols`, files range-clustered and
    * row-group-sorted by `clusterCols`. Publishes through
    * [[PersistedIndex.publish]] (the persisted-index contract): a layout
    * rewrite is exactly the operation a live reader would otherwise catch
    * mid-overwrite, and a failed write leaves the old layout and no
    * staging copy. */
  def optimize(
      df: DataFrame, path: String,
      partitionCols: Seq[String], clusterCols: Seq[String],
      numFiles: Int = 0): Unit = {
    require(partitionCols.nonEmpty || clusterCols.nonEmpty,
      "nothing to lay out: need partition or cluster columns")
    val keys = (partitionCols ++ clusterCols).map(col)
    val n = if (numFiles > 0) numFiles
      else df.sparkSession.sessionState.conf.numShufflePartitions
    publishLayout(df, path, metaText(partitionCols, clusterCols)) { tmp =>
      df.repartitionByRange(n, keys: _*)
        .sortWithinPartitions(keys: _*)
        .write.mode("overwrite").partitionBy(partitionCols: _*)
        .parquet(tmp.toString)
    }
  }

  /** The [[optimize]]/[[zorder]] rewrite: `write` lays `df` out in the
    * staging dir, the sidecars go in beside it, and the whole layout is
    * published through [[PersistedIndex.publish]]. */
  private def publishLayout(df: DataFrame, path: String, meta: String)(
      write: org.apache.hadoop.fs.Path => Unit): Unit = {
    val spark = df.sparkSession
    val dest = new org.apache.hadoop.fs.Path(path)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    PersistedIndex.publish(spark, dest) { tmp =>
      write(tmp)
      // the source schema rides along as a sidecar: partition-column
      // VALUES become directory names, and reading them back through
      // Spark's type inference would retype string columns that look
      // numeric ("01" -> 1)
      PersistedIndex.writeText(spark, schemaPath(tmp), df.schema.json)
      // layout metadata + the clustered-file manifest are what make
      // [[append]]/[[compact]] possible later: compact treats any data
      // file NOT in the manifest as an un-clustered straggler
      PersistedIndex.writeText(spark, metaPath(tmp), meta)
      PersistedIndex.writeText(spark, manifestPath(tmp),
        dataFiles(fs, tmp).mkString("\n"))
    }
  }

  /** Append rows to an [[optimize]]d layout WITHOUT re-clustering: the fast
    * ingest path (new files land inside the right partition directories but
    * with overlapping cluster ranges, so row-group skipping degrades for
    * them until the next [[compact]]). Readers see old + new immediately. */
  def append(df: DataFrame, path: String): Unit = {
    val meta = readMeta(df.sparkSession, path)
    val missing = meta.schema.fieldNames.toSet -- df.columns.toSet
    require(missing.isEmpty, s"append is missing layout columns: $missing")
    // cast to the STAMPED types, not just the stamped names: an appended
    // file with a narrower physical type (int32 where the layout says
    // bigint) would poison every later read of the layout with a
    // vectorized-reader schema-convert error; an incompatible cast fails
    // HERE instead (ANSI)
    val w = df.select(meta.schema.fields.map(f =>
        col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
      .write.mode("append")
    (if (meta.partitionCols.nonEmpty) w.partitionBy(meta.partitionCols: _*)
     else w).parquet(path)
  }

  final case class CompactReport(
      dirtyPartitions: Int, filesBefore: Int, filesAfter: Int)

  /** Fold appended stragglers back into the clustered layout,
    * INCREMENTALLY: only partition directories containing files outside
    * the manifest are re-clustered (read, range-repartitioned, re-sorted);
    * every clean partition's files are untouched byte-for-byte. Each dirty
    * directory is rebuilt privately and swapped in by the same
    * [[PersistedIndex.publish]] as the whole-layout rewrite, and the
    * manifest is re-stamped last — a crash mid-compact leaves every
    * partition either old or new, both readable, and the next compact
    * simply re-detects stragglers.
    * File count per partition is bounded by `filesPerPartition`.
    *
    * Writer contract (same as the persisted indexes): ONE maintainer per
    * layout. compact rebuilds dirty directories from a point-in-time
    * listing and swaps them whole, so an [[append]] racing into a DIRTY
    * directory mid-compact can be clobbered by the swap — serialize
    * appends and compacts per layout (readers are fine at any point). An
    * append into a CLEAN partition mid-compact is safe: the new manifest
    * is derived from the old manifest plus the rebuilt directories' files
    * only — never a full re-listing — so a concurrent straggler stays
    * unmanifested and the NEXT compact folds it in.
    *
    * Layouts with no partition columns (cluster-only or Z-ordered)
    * degrade to a full rewrite — there is no directory granularity to be
    * incremental over — and there `filesPerPartition` is the TOTAL file
    * count (the layout root is the one "partition"): size it to the data,
    * as [[optimize]]'s `numFiles`, or the default of 1 serializes the
    * whole rewrite into a single file. Data files sitting directly at the
    * layout root of a PARTITIONED layout (not written by [[append]]) are
    * ignored and reported via stderr, never folded. */
  def compact(
      spark: SparkSession, path: String,
      filesPerPartition: Int = 1): CompactReport = {
    require(filesPerPartition > 0, "filesPerPartition must be positive")
    val meta = readMeta(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = dataFiles(fs, root)
    val manifest = PersistedIndex.readText(spark, manifestPath(root))
      .split("\n").filter(_.nonEmpty).toSet
    val stragglers0 = before.filterNot(manifest.contains)
    // a stray file at the root of a partitioned layout has no partition
    // dir to rebuild — skip it loudly rather than crash or fold garbage
    val (rootStrays, stragglers) =
      if (meta.partitionCols.isEmpty) (Nil, stragglers0)
      else stragglers0.partition(!_.contains('/'))
    rootStrays.foreach(f => System.err.println(
      s"[layout] ignoring stray root file $f (not append-written)"))
    if (stragglers.isEmpty)
      return CompactReport(0, before.size, before.size)
    // the full-rewrite paths below just stamped a manifest listing every
    // file — count THAT instead of a second recursive LIST of the tree
    def manifestCount() = PersistedIndex.readText(spark, manifestPath(root))
      .split("\n").count(_.nonEmpty)
    if (meta.zCols.nonEmpty) {
      // Z-ordered layout: the only correct re-cluster is the Z-ORDER
      // rewrite itself (a lexicographic optimize would destroy the
      // interleaving while leaving the sidecars claiming it's intact)
      zorder(read(spark, path), path, meta.zCols, meta.zBits,
        numFiles = filesPerPartition)
      return CompactReport(1, before.size, manifestCount())
    }
    if (meta.partitionCols.isEmpty) {
      optimize(read(spark, path), path, meta.partitionCols, meta.clusterCols,
        numFiles = filesPerPartition)
      return CompactReport(1, before.size, manifestCount())
    }
    // schema of the physical files: partition values live in dir names
    val dataSchema = org.apache.spark.sql.types.StructType(
      meta.schema.fields.filterNot(f => meta.partitionCols.contains(f.name)))
    val dirtyDirs = stragglers.map(rel =>
      rel.substring(0, rel.lastIndexOf('/'))).distinct.sorted
    dirtyDirs.foreach { relDir =>
      val dir = new org.apache.hadoop.fs.Path(root, relDir)
      val clusterKeys = meta.clusterCols.map(col)
      val part = spark.read.schema(dataSchema).parquet(dir.toString)
      PersistedIndex.publish(spark, dir) { tmp =>
        (if (clusterKeys.nonEmpty)
          part.repartitionByRange(filesPerPartition, clusterKeys: _*)
            .sortWithinPartitions(clusterKeys: _*)
        else part.coalesce(filesPerPartition))
          .write.mode("overwrite").parquet(tmp.toString)
        // the staged dir carries a _SUCCESS marker; drop it so partition
        // dirs hold data files only, like partitionBy-written ones
        fs.delete(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"), false)
      }
    }
    // new manifest = old manifest outside the rebuilt dirs + exactly the
    // rebuilt dirs' current files. NOT a full re-listing: a file appended
    // into a clean partition while we compacted must stay unmanifested so
    // the next compact sees it as a straggler.
    val dirtySet = dirtyDirs.toSet
    def dirOf(rel: String) =
      if (rel.contains('/')) rel.substring(0, rel.lastIndexOf('/')) else ""
    // one post-rebuild listing serves both the manifest derivation and the
    // report — a recursive LIST is the dominant metadata cost on an
    // object store, so don't do it twice
    val after = dataFiles(fs, root)
    val rebuiltFiles = after.filter(rel => dirtySet.contains(dirOf(rel)))
    val newManifest =
      (manifest.filterNot(rel => dirtySet.contains(dirOf(rel))).toSeq ++
        rebuiltFiles).sorted
    PersistedIndex.writeText(spark, manifestPath(root),
      newManifest.mkString("\n"))
    CompactReport(dirtyDirs.size, before.size, after.size)
  }

  private final case class LayoutMeta(
      partitionCols: Seq[String], clusterCols: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      zCols: Seq[String] = Nil, zBits: Int = 0)

  // column lists are joined on the unit separator — the one character no
  // identifier contains — instead of hand-rolled (and hand-parsed) JSON;
  // a column named `a,b` or `he said "x"` round-trips exactly
  private val US = ""

  private def metaText(
      partitionCols: Seq[String], clusterCols: Seq[String],
      zCols: Seq[String] = Nil, zBits: Int = 0): String = {
    val zLine =
      if (zCols.isEmpty) "" else s"z${US}$zBits${US}${zCols.mkString(US)}\n"
    s"p${US}${partitionCols.mkString(US)}\nc${US}${clusterCols.mkString(US)}\n" +
      zLine
  }

  private def readMeta(spark: SparkSession, path: String): LayoutMeta = {
    val root = new org.apache.hadoop.fs.Path(path)
    PersistedIndex.present(spark, root)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (partitionCols, clusterCols, zCols, zBits) =
      if (fs.exists(metaPath(root))) {
        val text = PersistedIndex.readText(spark, metaPath(root))
        def list(tag: String): Seq[String] =
          text.linesIterator.find(_.startsWith(tag + US))
            .map(_.split(US, -1).drop(1).filter(_.nonEmpty).toSeq)
            .getOrElse(Nil)
        val z = list("z")
        (list("p"), list("c"),
          if (z.isEmpty) Nil else z.tail, // first z field is the bit count
          if (z.isEmpty) 0 else z.head.toInt)
      } else {
        // layouts stamped before the sidecar format change carry
        // _layout_meta.json — readable forever, re-stamped as .txt on the
        // next optimize/compact of the layout
        val text = PersistedIndex.readText(spark, legacyMetaPath(root))
        def list(key: String): Seq[String] = {
          val re = ("\"" + key + "\"\\s*:\\s*\\[([^\\]]*)\\]").r
          re.findFirstMatchIn(text).map(_.group(1)).getOrElse("")
            .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
            .filter(_.nonEmpty).toSeq
        }
        (list("partition_cols"), list("cluster_cols"),
          Seq.empty[String], 0)
      }
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(PersistedIndex.readText(spark, schemaPath(root)))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    LayoutMeta(partitionCols, clusterCols, schema, zCols, zBits)
  }

  /** Data files under `root`, as sorted root-relative paths (markers and
    * sidecars excluded). */
  private def dataFiles(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[String] = {
    val rootUri = fs.makeQualified(root).toUri
    val it = fs.listFiles(fs.makeQualified(root), true)
    val buf = collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) {
        val rel = rootUri.relativize(f.getPath.toUri).getPath
        // skip files inside hidden staging dirs from a concurrent build
        if (!rel.split("/").exists(_.startsWith("."))) buf += rel
      }
    }
    buf.sorted.toSeq
  }

  private def schemaPath(dir: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(dir, "_layout_schema.json")

  private def metaPath(dir: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(dir, "_layout_meta.txt")

  private def legacyMetaPath(dir: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(dir, "_layout_meta.json")

  private def manifestPath(dir: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(dir, "_layout_manifest.txt")

  /** Z-ORDER clustered rewrite: files clustered on the INTERLEAVED bits
    * of `zCols`, so row-group min/max skipping works on EVERY one of the
    * columns, not just the leading one. [[optimize]]'s lexicographic
    * range-clustering is perfect for its first cluster column and
    * useless for the second (each file spans nearly the full domain of
    * every non-leading column); Z-ordering trades a little locality on
    * the first column for bounded spans on ALL of them — the standard
    * multi-dimension data-skipping layout (Delta's Z-ORDER BY). Worth it
    * exactly when queries filter on different columns at different
    * times; single-filter-column tables should keep [[optimize]].
    *
    * Mechanics: each column quantizes to `bits` levels between its
    * global min and max (ONE driver-side agg of 2 scalars per column —
    * never data-sized), the quantized values interleave bit-by-bit into
    * one z-value, and the write range-partitions + sorts on that z-value
    * (then drops it — parquet stats on the REAL columns are what the
    * reader skips with, so quantization error can only cost locality,
    * never correctness). Same publish and schema sidecar as [[optimize]];
    * [[read]] works unchanged. NULLs quantize to 0 (they
    * cluster with the minimum). */
  def zorder(
      df: DataFrame, path: String, zCols: Seq[String],
      bits: Int = 16, numFiles: Int = 0): Unit = {
    require(zCols.size >= 2,
      "zorder needs at least two columns — use optimize for one")
    require(bits >= 1 && bits * zCols.size <= 63,
      s"bits × columns must fit a long, got $bits × ${zCols.size}")
    require(!df.columns.contains("_z"),
      "input must not contain a '_z' column (reserved)")
    val spark = df.sparkSession
    val d = zCols.size
    // one action: global [min, max] per z column (try_cast: under ANSI
    // semantics a plain cast THROWS on a non-numeric column mid-job —
    // null out instead so the require below names the offending column)
    val aggs = zCols.flatMap(c =>
      Seq(min(expr(s"try_cast(`$c` AS DOUBLE)")),
        max(expr(s"try_cast(`$c` AS DOUBLE)"))))
    val ranges = df.agg(aggs.head, aggs.tail: _*).head()
    zCols.zipWithIndex.foreach { case (c, i) =>
      // null min/max = empty input, an all-NULL column, or a non-numeric
      // column whose double cast nulls out — fail with the cause, not an
      // NPE out of Row.getDouble
      require(!ranges.isNullAt(2 * i),
        s"zorder column '$c' has no numeric range (empty input, all-NULL, " +
          "or non-numeric column)")
    }
    val levels = (1L << bits) - 1
    val quantized = zCols.zipWithIndex.map { case (c, i) =>
      val (lo, hi) = (ranges.getDouble(2 * i), ranges.getDouble(2 * i + 1))
      val span = math.max(hi - lo, java.lang.Double.MIN_VALUE)
      least(lit(levels), greatest(lit(0L),
        ((coalesce(expr(s"try_cast(`$c` AS DOUBLE)"), lit(lo)) - lit(lo))
          / lit(span) * lit(levels.toDouble)).cast("long")))
    }
    val z = (0 until bits).flatMap { j =>
      quantized.zipWithIndex.map { case (q, c) =>
        shiftleft(shiftright(q, j).bitwiseAND(lit(1L)), j * d + c)
      }
    }.reduce(_.bitwiseOR(_))
    val n = if (numFiles > 0) numFiles
      else spark.sessionState.conf.numShufflePartitions
    // z-aware meta: [[append]] works as-is (no partition dirs), and
    // [[compact]] re-runs the Z-ORDER rewrite — a lexicographic
    // re-cluster would silently destroy the interleaving
    publishLayout(df, path, metaText(Nil, Nil, zCols, bits)) { tmp =>
      df.withColumn("_z", z)
        .repartitionByRange(n, col("_z"))
        .sortWithinPartitions(col("_z"))
        .drop("_z")
        .write.mode("overwrite").parquet(tmp.toString)
    }
  }

  /** Write `df` as a BUCKETED table: rows hash-distributed into
    * `numBuckets` files by `bucketCols` (and sorted within each bucket by
    * `sortCols`), registered as `table` with the data at `path`. Bucketing
    * is the CO-LOCATED-JOIN lever: two tables bucketed the same way on
    * their join key sort-merge-join with NO exchange on either side — the
    * shuffle every big fact⋈fact join would otherwise pay at 100 TB is
    * paid ONCE at write time and amortized over every subsequent join,
    * aggregation, or dedup keyed on the bucket columns (spec-pinned:
    * the bucketed join plans zero Exchange).
    *
    * Spark's bucketing lives in the catalog, so this goes through
    * `saveAsTable` (an external table at `path`); readers use
    * `spark.table(table)` — a bare `read.parquet(path)` sees the files
    * but not the bucketing metadata. */
  def bucketize(
      df: DataFrame, table: String, path: String,
      bucketCols: Seq[String], numBuckets: Int,
      sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty, "bucketCols must be non-empty")
    require(numBuckets > 0, "numBuckets must be positive")
    val w = df.write.mode("overwrite").format("parquet")
      .option("path", path)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    val sorted =
      if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w
    sorted.saveAsTable(table)
  }

  /** Read an [[optimize]]d layout. Filters on the partition columns prune
    * directories at planning time; filters on the cluster columns skip row
    * groups via parquet min/max stats. The stamped source schema is
    * applied, so partition columns keep their written types (no directory-
    * name type inference). */
  def read(spark: SparkSession, path: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    PersistedIndex.present(spark, root)
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(PersistedIndex.readText(spark, schemaPath(root)))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    spark.read.schema(schema).parquet(path)
  }

  /** Global EPOCH ORDER — a contiguous total rank (`pos` = 1..N) over an
    * arbitrary sort key, WITHOUT the single-partition window that
    * `row_number() OVER (ORDER BY …)` plans (Spark moves the entire
    * corpus to one task — the classic 100 TB cliff, and the one shape
    * this suite's window operators otherwise never need). This is the
    * data-ordering step of a training run: the epoch's feed order
    * (curriculum bucket, deterministic within-bucket shuffle) is
    * materialized as an explicit rank every shard can be sliced by.
    *
    * Mechanics (the classic two-pass global sort rank):
    *   1. `repartitionByRange(orderCols)` + `sortWithinPartitions` — the
    *      range exchange puts DISJOINT, ordered key ranges in
    *      consecutive partitions; the frame is eagerly
    *      `localCheckpoint`ed because the range boundaries are SAMPLED:
    *      the sizes pass and the rank pass must observe the SAME
    *      partitioning (two independent executions could legally split
    *      differently — the partitioning is frozen, the OUTPUT never
    *      depends on where the split fell, because ranks compose from
    *      per-partition counts).
    *   2. per-partition row counts — a partitions-cardinality aggregate
    *      collected to the driver (bounded model state, the mixCorpus
    *      contract) and folded into cumulative start offsets;
    *   3. `pos = offset(pid) + row_number() OVER (PARTITION BY pid ORDER
    *      BY orderCols)` — every window task ranks ONE partition; the
    *      tiny offsets frame broadcast-joins back on pid.
    *
    * `orderCols` must be a TOTAL key (append a unique tiebreak column):
    * with ties at a range boundary the split — and therefore `pos`
    * among the tied rows — would be sample-dependent. */
  def epochOrder(
      df: DataFrame,
      orderCols: Seq[org.apache.spark.sql.Column],
      numPartitions: Int = 0): DataFrame = {
    require(orderCols.nonEmpty, "epochOrder needs sort columns")
    val spark = df.sparkSession
    val n = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val sorted = Materialize.local(df
      .repartitionByRange(n, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
      .withColumn("__pid", spark_partition_id()), eager = true)
    // bounded collect: one row per non-empty partition
    val counts = sorted.groupBy(col("__pid")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = counts.map(_._1)
      .zip(counts.map(_._2).scanLeft(0L)(_ + _).init)
    val offDf = spark.createDataFrame(offsets.toSeq)
      .toDF("__pid", "__offset")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid")).orderBy(orderCols: _*)
    sorted.join(broadcast(offDf), Seq("__pid"))
      .withColumn("pos",
        (col("__offset") + row_number().over(w)).cast("long"))
      .drop("__pid", "__offset")
  }
}
