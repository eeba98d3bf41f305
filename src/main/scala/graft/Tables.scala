package graft

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StringType, StructField, StructType}

/** Typed rows for the north-star tables — the `Dataset[T]` face of the
  * engine where compile-time safety helps (operator pipelines over known
  * schemas); the config-driven klepto surface stays `DataFrame` because
  * its schemas are discovered at runtime. */
final case class Document(
    doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
final case class Embedding(
    vec_id: Long, embedding: Array[Float], label: Int)

/** Parquet-directory catalog over the driver testdata layout
  * (`<dir>/<table>.parquet`).
  *
  * Mirrors the reference's dynamic catalog discovery
  * (klepto `pkg/reader/mysql/reader.go:34-57`,
  * `pkg/reader/postgres/reader.go:36-62`): tables are discovered from the
  * source, not declared, and schemas come from the files themselves
  * (parquet footer ≅ information_schema.columns,
  * `pkg/reader/engine/engine.go:66-79`).
  */
object Tables {
  /** All driver-provided tables (TPC-H-ish star schema + events +
    * north-star documents/embeddings). */
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // every query path passes through here, so sessions not configured with
    // spark.sql.extensions=graft.functions.GraftExtensions still resolve
    // the custom vec_* expressions (registration is idempotent and cheap)
    graft.functions.VectorFunctions.register(spark)
    parquet(spark, s"$dir/$name.parquet")
  }

  /** The one schema-less parquet open: the files' own schema, read on the
    * driver from the one footer Spark's inference would read, so opening
    * runs no Spark job (Spark runs that footer read as a one-task job).
    * Where [[footerSchema]] declines, Spark infers as usual. Nothing is
    * cached across opens: the files may change between two of them. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).map(spark.read.schema(_).parquet(path))
      .getOrElse(spark.read.parquet(path))

  /** The schema Spark's parquet inference returns for `path`, read from
    * the one footer that inference touches with schema merging off
    * (`ParquetUtils.inferSchema`): `_common_metadata`, else `_metadata`,
    * else the first data file by path, converted by Spark's own
    * `readSchemaFromFooter`. One listing and one footer read. None — the
    * caller lets Spark infer — when session schema merging is on, when the
    * path has subdirectories (partition discovery), or when there is no
    * footer to read, so Spark raises its own error. */
  private[graft] def footerSchema(
      spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) return None
    val hadoopConf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    try {
      val listed = root.getFileSystem(hadoopConf).listStatus(root).toSeq
      if (listed.exists(_.isDirectory)) return None
      def named(n: String) = listed.find(_.getPath.getName == n)
      named("_common_metadata").orElse(named("_metadata"))
        .orElse(listed.filterNot(f => hidden(f.getPath.getName))
          .sortBy(_.getPath.toString).headOption)
        .map { f =>
          val footer = ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(f, hadoopConf),
            ParquetMetadataConverter.SKIP_ROW_GROUPS)
          ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
            new ParquetToSparkSchemaConverter(conf))
        }
    } catch { case NonFatal(_) => None }
  }

  /** Files Spark's file index skips: Hadoop's `_SUCCESS`/`.crc` markers and
    * in-flight copies. */
  private[graft] def hidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".") || name.endsWith("._COPYING_")

  /** Conform a scanned DataFrame to a canonical schema by casting exactly
    * the columns whose ATOMIC (or array-of-atomic) type differs — the same
    * adapt-to-the-scanned-schema discipline as
    * [[graft.ops.Events.tsMicros]], for the typed loaders: an external
    * table's writer owns its physical encoding (int32 vs int64 widths,
    * float vs double vectors), and a re-generation must not break
    * `as[T]`. No-op per column when the types already match, so today's
    * plans carry no cast and pushdown/pruning are untouched; a width
    * change inserts one codegen'd cast at the scan boundary. Renames and
    * non-castable changes still fail fast (TestdataSchemaSpec diagnoses
    * those). */
  private[graft] def conform(df: DataFrame, want: StructType): DataFrame = {
    def atomic(t: DataType): Boolean = t match {
      case _: ArrayType | _: MapType | _: StructType => false
      case _ => true
    }
    // the cast target keeps the SCANNED nullability (casting only widths/
    // precision) — nullability reconciliation stays with as[T]'s UpCast,
    // exactly as without conform; differing containsNull alone is no
    // reason to cast (and Catalyst refuses the nullable→non-null cast)
    def retarget(have: DataType, target: DataType): Option[DataType] =
      (have, target) match {
        case (a: ArrayType, b: ArrayType) =>
          retarget(a.elementType, b.elementType)
            .map(e => ArrayType(e, a.containsNull))
        case (a, b) if atomic(a) && atomic(b) && a != b => Some(b)
        case _ => None
      }
    val cols: Array[Column] = df.schema.fields.map { f =>
      want.fields.find(_.name == f.name)
        .flatMap(w => retarget(f.dataType, w.dataType)) match {
        case Some(t) => col(f.name).cast(t).as(f.name)
        case None => col(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Typed loaders (case-class Encoders): same files, compile-checked
    * columns for operator-pipeline code, physical widths conformed to the
    * case class (see [[conform]]). */
  def documents(spark: SparkSession, dir: String): Dataset[Document] = {
    import spark.implicits._
    conform(load(spark, dir, "documents"),
      implicitly[org.apache.spark.sql.Encoder[Document]].schema).as[Document]
  }

  def embeddings(spark: SparkSession, dir: String): Dataset[Embedding] = {
    import spark.implicits._
    conform(load(spark, dir, "embeddings"),
      implicitly[org.apache.spark.sql.Encoder[Embedding]].schema).as[Embedding]
  }

  /** Format-agnostic scan: the same logical table written by ANY tool in
    * any of Spark's interchange formats (parquet / orc / json / csv)
    * loads to the same DataFrame. This is the scan-layer generalization
    * of [[graft.ops.Events.tsMicros]]'s adapt-to-the-scanned-schema
    * discipline: the WRITER owns the physical encoding; the engine
    * adapts. Text formats carry no types (csv) or weaker types (json),
    * so callers pass the canonical `schema` — applied AT THE SCAN (so
    * csv/json parse straight into the right types, no post-hoc cast
    * pass) and [[conform]]-ed for binary formats whose physical widths
    * may differ. CSV is read multiLine with doubled-quote escaping, the
    * RFC-4180 interchange dialect, so embedded newlines and quotes in
    * document text round-trip. */
  def loadAs(
      spark: SparkSession,
      path: String,
      format: String,
      schema: Option[StructType] = None): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    // text formats re-encode timestamps as strings; the engine's
    // interchange dialect is micro-precision ISO-8601 (Spark's default
    // JSON/CSV writer format carries only millis, which silently loses
    // the sub-millisecond event times parquet/orc keep)
    val tsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    val tsNtzFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    val reader = format match {
      case "csv" => spark.read.format("csv")
        .option("header", "true").option("multiLine", "true")
        .option("quote", "\"").option("escape", "\"")
        .option("timestampFormat", tsFmt)
        .option("timestampNTZFormat", tsNtzFmt)
      case "json" => spark.read.format("json")
        .option("timestampFormat", tsFmt)
        .option("timestampNTZFormat", tsNtzFmt)
      case f => spark.read.format(f)
    }
    def open() =
      if (format == "parquet") parquet(spark, path) else reader.load(path)
    (format, schema) match {
      // text formats: the scan itself parses into the canonical schema
      // (missing fields null, unknown fields never materialize)
      case ("csv" | "json", Some(s)) => reader.schema(s).load(path)
      // binary formats carry their own schema: absorb width re-encodings
      // AND drift (dropped/added/reordered columns) via evolve, so a
      // loadAs caller gets the canonical shape from ANY generation's files
      case (_, Some(s)) => evolve(open(), s)
      case (_, None) => open()
    }
  }

  /** Schema-DRIFT absorption, completing the adapt-to-the-writer ladder
    * ([[graft.ops.Events.tsMicros]] for value encodings, [[conform]] for
    * physical widths, [[loadAs]] for formats): external tables also GAIN
    * and LOSE columns between snapshot generations, and a reader pinned
    * to last month's schema must keep working against both last month's
    * files and this month's. Missing columns materialize as typed nulls
    * (the only honest value for data that was never written); columns the
    * canonical schema doesn't know are dropped (projection, exactly what
    * a SELECT of the canonical columns would do); widths conform. Renames
    * stay a hard error by design — a rename is indistinguishable from a
    * drop+add, and silently nulling a renamed column would corrupt every
    * downstream aggregate, so `TestdataSchemaSpec`-style diagnosis is the
    * correct response. Output column ORDER is the canonical schema's,
    * independent of the file's. */
  def evolve(df: DataFrame, want: StructType): DataFrame = {
    val have = df.schema.fieldNames.toSet
    val withMissing = want.fields.foldLeft(df) { (d, f) =>
      if (have.contains(f.name)) d
      else d.withColumn(f.name, lit(null).cast(f.dataType))
    }
    conform(
      withMissing.select(want.fieldNames.map(col).toIndexedSeq: _*), want)
  }

  /** [[loadAs]] for text formats with malformed-record QUARANTINE: at
    * 100 TB of external json/csv, corrupt lines are an operational
    * certainty (truncated uploads, mixed encodings, a producer bug), and
    * the three built-in answers are all wrong for a pipeline — FAILFAST
    * kills a day-long job on row 40 billion, DROPMALFORMED silently
    * loses data, and plain PERMISSIVE nulls poison downstream operators.
    * This reader splits the scan instead: `(good, quarantined)` — good
    * rows typed to the canonical schema, malformed rows preserved
    * VERBATIM (the raw record text) for repair and replay.
    *
    * Mechanics: PERMISSIVE parse with an internal corrupt-record column;
    * the split is two filters over ONE cached parse (Spark refuses to
    * filter on the corrupt column of an uncached raw scan — and the
    * cache also guarantees both halves see the same parse, so a record
    * is never in both or neither). The cache holds the PARSED columns,
    * not a second copy of the files; the caller's Materialize scope frees
    * it (unpersisting `good` or `bad` would free nothing). */
  def loadWithQuarantine(
      spark: SparkSession,
      path: String,
      format: String,
      schema: StructType): (DataFrame, DataFrame) = {
    require(format == "json" || format == "csv",
      s"quarantine applies to text formats, not $format (binary formats " +
        "fail structurally, not per-record)")
    require(!schema.fieldNames.contains("_corrupt_record"),
      "schema already claims _corrupt_record")
    val withCorrupt = StructType(schema.fields :+
      StructField("_corrupt_record", StringType, nullable = true))
    val raw = graft.ops.Materialize.cached(
      loadAs(spark, path, format, Some(withCorrupt)))
    val good = raw.where(col("_corrupt_record").isNull)
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    val bad = raw.where(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_record"))
    (good, bad)
  }

  /** Discover table names present in a directory (catalog listing, S3). */
  def list(dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet"))
      .map(_.getName.stripSuffix(".parquet"))
      .sorted.toSeq
  }
}
