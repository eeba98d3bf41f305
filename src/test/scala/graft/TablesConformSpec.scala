package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Typed-loader counterpart of `EventsEncodingSpec`: a driver testdata
  * regeneration may change physical WIDTHS (int64→int32 counts,
  * float→double vectors) without changing values — `Tables.conform` must
  * absorb that at the scan boundary so `as[Document]`/`as[Embedding]`
  * and every operator above them are encoding-invariant. */
class TablesConformSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val reencodedDir: String = {
    val base = tempDir("conform").toFile
    base.deleteOnExit()
    // documents with n_chars narrowed to int32; embeddings with a
    // double-precision vector and a widened label
    Tables.load(spark, sf, "documents")
      .withColumn("n_chars", col("n_chars").cast("int"))
      .write.parquet(s"${base.getAbsolutePath}/documents.parquet")
    Tables.load(spark, sf, "embeddings")
      .withColumn("embedding",
        expr("transform(embedding, x -> cast(x as double))"))
      .withColumn("label", col("label").cast("long"))
      .write.parquet(s"${base.getAbsolutePath}/embeddings.parquet")
    base.getAbsolutePath
  }

  test("typed loaders absorb width re-encodings value-for-value") {
    val want = Tables.documents(spark, sf).collect()
      .map(d => d.doc_id -> d).toMap
    val got = Tables.documents(spark, reencodedDir).collect()
      .map(d => d.doc_id -> d).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (id, d) => assert(d == want(id), s"doc $id") }

    val wantE = Tables.embeddings(spark, sf).collect()
      .map(e => e.vec_id -> ((e.embedding.toSeq, e.label))).toMap
    val gotE = Tables.embeddings(spark, reencodedDir).collect()
      .map(e => e.vec_id -> ((e.embedding.toSeq, e.label))).toMap
    assert(gotE == wantE)
  }

  test("an operator pipeline is width-encoding-invariant end-to-end") {
    val want = graft.ops.Dedup.exact(Tables.documents(spark, sf).toDF())
      .orderBy("doc_id").collect().toSeq
    val got = graft.ops.Dedup
      .exact(Tables.documents(spark, reencodedDir).toDF())
      .orderBy("doc_id").collect().toSeq
    assert(got == want && want.nonEmpty)
  }

  test("conform is a no-op projection when the schema already matches") {
    val df = Tables.load(spark, sf, "documents")
    assert(Tables.conform(df, df.schema).schema == df.schema)
    // no cast shows up in the analyzed plan for the already-canonical scan
    val plan = Tables.documents(spark, sf).queryExecution.analyzed.toString
    assert(!plan.toLowerCase.contains("cast(n_chars"), plan.take(500))
  }

  test("evolve absorbs dropped, added, and reordered columns") {
    val canonical = Tables.load(spark, sf, "documents").schema
    // an OLD snapshot: no n_chars yet, an extra legacy column, shuffled
    // column order, and a narrowed width — all at once
    val old = Tables.load(spark, sf, "documents")
      .withColumn("doc_id", col("doc_id").cast("int"))
      .withColumn("legacy_flag", org.apache.spark.sql.functions.lit(true))
      .select("legacy_flag", "source", "text", "lang", "doc_id")
    val got = Tables.evolve(old, canonical)
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      canonical.map(f => (f.name, f.dataType)))
    val r = got.orderBy("doc_id").head()
    assert(!r.isNullAt(got.schema.fieldIndex("text")))
    assert(r.isNullAt(got.schema.fieldIndex("n_chars"))) // never written
    assert(!got.columns.contains("legacy_flag"))
    // a same-shape frame passes through untouched
    val same = Tables.load(spark, sf, "documents")
    assert(Tables.evolve(same, canonical).schema == same.schema)
  }
}
