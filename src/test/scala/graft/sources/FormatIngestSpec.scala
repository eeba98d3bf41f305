package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Harness, SparkTestSession, Tables}
import graft.sinks.ParquetSink

/** Cross-format ingestion parity: the engine must produce IDENTICAL
  * results whether a table arrives as parquet, orc, json, or csv — the
  * writer owns the physical encoding (the round-6 testdata regeneration
  * proved assuming otherwise breaks a live engine). Each leg round-trips
  * the real driver testdata through a format and replays a genuinely
  * sensitive pipeline on top:
  *   - documents → the hashed classifier (every byte of `text` feeds md5,
  *     so one corrupted char — a CSV quoting bug, a JSON escape bug —
  *     flips a bucket and the comparison);
  *   - events → sessionization (timestamps re-encoded by each format
  *     land on whatever type that format defines; `Events.tsMicros`
  *     must adapt).
  *
  * A parquet table opened through `Drivers.read` takes its schema from
  * the one footer Spark's inference would read, on the driver, and must
  * get exactly the schema `spark.read.parquet` infers.
  */
class FormatIngestSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("documents: parquet, orc, json and csv scans agree bit-for-bit") {
    val pq = Tables.load(spark, sf, "documents")
    val want = sortedRows(graft.ops.Quality.classifierScore(pq))
    val tmp = Files.createTempDirectory("graft-fmt-docs").toString
    pq.coalesce(2).write.orc(s"$tmp/docs.orc")
    pq.coalesce(2).write.json(s"$tmp/docs.json")
    pq.coalesce(2).write
      .option("header", "true").option("quote", "\"").option("escape", "\"")
      .csv(s"$tmp/docs.csv")
    for (fmt <- Seq("orc", "json", "csv")) {
      val scanned =
        Tables.loadAs(spark, s"$tmp/docs.$fmt", fmt, Some(pq.schema))
      assert(scanned.schema.map(f => (f.name, f.dataType)) ==
        pq.schema.map(f => (f.name, f.dataType)), s"schema via $fmt")
      assert(sortedRows(graft.ops.Quality.classifierScore(scanned)) == want,
        s"classifier result via $fmt")
    }
  }

  test("readJsonl: explicit schema, corrupt capture, line-exact quarantine") {
    import org.apache.spark.sql.types._
    val tmp = Files.createTempDirectory("graft-jsonl").toString
    val lines = Seq(
      """{"line_id":1,"lang":"de","n_chars":10}""",
      """{"line_id":2,"lang":"en","n_chars":20""", // truncated -> corrupt
      """{"line_id":3,"lang":"fr","n_chars":30}""",
      """not json at all""") // no recoverable id
    Files.write(java.nio.file.Paths.get(tmp, "part.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("line_id", LongType),
      StructField("lang", StringType), StructField("n_chars", LongType)))
    val out = JsonLines.readJsonl(spark, tmp, schema).collect()
      .map(r => (Option(r.getAs[java.lang.Long]("line_id")).map(_.toLong),
        r.getAs[String]("lang"), r.getAs[String](JsonLines.CorruptCol)))
    assert(out.length == 4) // PERMISSIVE: every line emits exactly one row
    val valid = out.filter(_._3 == null)
    assert(valid.map(v => (v._1.get, v._2)).toSet ==
      Set((1L, "de"), (3L, "fr")))
    // malformed lines: typed columns null, raw text captured verbatim
    val corrupt = out.filter(_._3 != null)
    assert(corrupt.map(_._3).toSet ==
      Set(lines(1), lines(3)))
    assert(corrupt.forall(c => c._1.isEmpty && c._2 == null))
    // declaring the corrupt column in the schema is a caller bug
    assertThrows[IllegalArgumentException](JsonLines.readJsonl(spark, tmp,
      schema.add(JsonLines.CorruptCol, StringType)))
  }

  test("loadAs absorbs schema drift in a binary-format snapshot") {
    import org.apache.spark.sql.functions.{col, lit}
    val pq = Tables.load(spark, sf, "documents")
    val tmp = Files.createTempDirectory("graft-fmt-drift").toString
    // an old-generation orc snapshot: n_chars not yet written, a legacy
    // column present, narrowed doc_id, shuffled order
    pq.withColumn("doc_id", col("doc_id").cast("int"))
      .withColumn("legacy", lit(1))
      .select("legacy", "text", "source", "lang", "doc_id")
      .write.orc(s"$tmp/old.orc")
    val got = Tables.loadAs(spark, s"$tmp/old.orc", "orc", Some(pq.schema))
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      pq.schema.map(f => (f.name, f.dataType)))
    val r = got.orderBy("doc_id").head()
    assert(r.getLong(0) == pq.orderBy("doc_id").head().getLong(0))
    assert(r.isNullAt(got.schema.fieldIndex("n_chars")))
  }

  test("events: sessionization is identical across parquet, orc and json") {
    val pq = Tables.load(spark, sf, "events")
    val gap = 28800L * 1000000L
    val want = sortedRows(
      graft.ops.Events.sessionize(graft.ops.Events.tsMicros(pq), gap))
    val tmp = Files.createTempDirectory("graft-fmt-events").toString
    pq.coalesce(2).write.orc(s"$tmp/ev.orc")
    pq.coalesce(2).write
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .option("timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
      .json(s"$tmp/ev.json")
    for (fmt <- Seq("orc", "json")) {
      val scanned =
        Tables.loadAs(spark, s"$tmp/ev.$fmt", fmt, Some(pq.schema))
      assert(sortedRows(graft.ops.Events.sessionize(
        graft.ops.Events.tsMicros(scanned), gap)) == want,
        s"sessionize via $fmt")
    }
  }

  private def read(dir: String, table: String) =
    Drivers.read(spark, Resolved.File(dir, "parquet"), table, JdbcReadOptions())

  private def inferred(dir: String, table: String) =
    spark.read.parquet(s"$dir/$table.parquet").schema

  test("footer schema: equals Spark's inferred schema for every sf0.001 table") {
    for (t <- Tables.all) {
      assert(Drivers.footerSchema(spark, s"$sf/$t.parquet").isDefined, t)
      assert(read(sf, t).schema == inferred(sf, t), t)
    }
  }

  test("footer schema: opening every sf0.001 table runs no Spark job") {
    val work = Harness.work(spark)
    val before = work.snapshot()
    Tables.all.foreach(read(sf, _))
    assert(work.snapshot(before).jobs == 0)
  }

  test("footer schema: ParquetSink output with markers, NTZ, DECIMAL, ARRAY<FLOAT>, empty") {
    val dir = Files.createTempDirectory("graft_footer").toString
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("at", TimestampNTZType),
      StructField("price", DecimalType(12, 2)),
      StructField("vec", ArrayType(FloatType)),
      StructField("name", StringType)))
    val rows = (0 until 20).map(i => Row(i.toLong,
      java.time.LocalDateTime.of(1996, 9, 14, 0, i),
      java.math.BigDecimal.valueOf(i * 125L, 2), Seq(i.toFloat, 0.5f),
      if (i % 3 == 0) null else s"n$i"))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    ParquetSink.write(df, dir, "typed")
    ParquetSink.write(df.limit(0), dir, "empty") // IgnoreData's output
    val names = new java.io.File(s"$dir/typed.parquet").list().toSet
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    for (t <- Seq("typed", "empty")) {
      assert(Drivers.footerSchema(spark, s"$dir/$t.parquet").isDefined, t)
      assert(read(dir, t).schema == inferred(dir, t), t)
    }
    assert(read(dir, "typed").orderBy("id").collect().toSeq ==
      spark.read.parquet(s"$dir/typed.parquet").orderBy("id").collect().toSeq)
  }

  test("footer schema falls back: schema merging on") {
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      assert(Drivers.footerSchema(spark, s"$sf/region.parquet").isEmpty)
      assert(read(sf, "region").schema == inferred(sf, "region"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("footer schema falls back: a partitioned layout keeps Spark's partition discovery") {
    val dir = Files.createTempDirectory("graft_footer_part").toString
    spark.read.parquet(s"$sf/nation.parquet").write
      .partitionBy("n_regionkey").parquet(s"$dir/nation.parquet")
    assert(Drivers.footerSchema(spark, s"$dir/nation.parquet").isEmpty)
    assert(read(dir, "nation").schema == inferred(dir, "nation"))
    assert(read(dir, "nation").schema.fieldNames.contains("n_regionkey"))
  }

  test("footer schema falls back: no footer to read surfaces Spark's own error") {
    val dir = Files.createTempDirectory("graft_footer_none").toString
    val t = new java.io.File(s"$dir/bare.parquet")
    t.mkdir()
    new java.io.File(t, "_SUCCESS").createNewFile()
    assert(Drivers.footerSchema(spark, t.getPath).isEmpty)
    val ours = intercept[AnalysisException](read(dir, "bare"))
    val sparks = intercept[AnalysisException](inferred(dir, "bare"))
    assert(ours.getMessage == sparks.getMessage)
  }
}
