package graft.sources

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, Tables, TempDirs}
import graft.ops.Materialize

/** Malformed-record quarantine: corrupt lines in external json/csv must
  * neither kill the job (FAILFAST) nor vanish (DROPMALFORMED) nor poison
  * typed columns with nulls (plain PERMISSIVE) — they land verbatim in
  * the quarantine frame while every well-formed record parses normally. */
class QuarantineSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  private def schemaOf(ddl: String) =
    org.apache.spark.sql.types.StructType.fromDDL(ddl)

  private def write(dir: String, name: String, lines: Seq[String]): String = {
    val p = Paths.get(dir, name)
    Files.write(p, lines.mkString("\n").getBytes("UTF-8"))
    p.toString
  }

  test("json: broken lines quarantine verbatim, good lines parse typed") {
    val dir = tempDir("graft-quar-json").toString
    val path = write(dir, "docs.json", Seq(
      """{"doc_id": 1, "text": "alpha"}""",
      """{"doc_id": 2, "text": "beta""",          // truncated json
      """{"doc_id": 3, "text": "gamma"}""",
      """not json at all""",
      """{"doc_id": "not-a-number", "text": "delta"}""")) // type mismatch
    Materialize.scope {
      val (good, bad) = Tables.loadWithQuarantine(
        spark, path, "json", schemaOf("doc_id BIGINT, text STRING"))
      val g = good.collect().map(r => (r.getLong(0), r.getString(1))).sorted
      assert(g.toSeq == Seq((1L, "alpha"), (3L, "gamma")))
      val b = bad.collect().map(_.getString(0)).toSet
      assert(b == Set(
        """{"doc_id": 2, "text": "beta""",
        "not json at all",
        """{"doc_id": "not-a-number", "text": "delta"}"""))
    }
  }

  test("csv: bad-arity and bad-type rows quarantine, good rows parse") {
    val dir = tempDir("graft-quar-csv").toString
    val path = write(dir, "docs.csv", Seq(
      "doc_id,text,n",
      "1,alpha,10",
      "2,beta,not-a-number",  // type mismatch on n
      "3,gamma,30"))
    Materialize.scope {
      val (good, bad) = Tables.loadWithQuarantine(
        spark, path, "csv", schemaOf("doc_id BIGINT, text STRING, n BIGINT"))
      val g = good.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2))).sorted
      assert(g.toSeq == Seq((1L, "alpha", 10L), (3L, "gamma", 30L)))
      val b = bad.collect().map(_.getString(0)).toSeq
      assert(b == Seq("2,beta,not-a-number"))
    }
  }

  test("quarantine refuses binary formats and schema collisions") {
    intercept[IllegalArgumentException] {
      Tables.loadWithQuarantine(spark, "/tmp/x", "parquet",
        schemaOf("a BIGINT"))
    }
    intercept[IllegalArgumentException] {
      Tables.loadWithQuarantine(spark, "/tmp/x", "json",
        schemaOf("a BIGINT, _corrupt_record STRING"))
    }
  }

  test("a clean file quarantines nothing") {
    val dir = tempDir("graft-quar-clean").toString
    val path = write(dir, "ok.json", Seq(
      """{"doc_id": 1, "text": "a"}""", """{"doc_id": 2, "text": "b"}"""))
    Materialize.scope {
      val (good, bad) = Tables.loadWithQuarantine(
        spark, path, "json", schemaOf("doc_id BIGINT, text STRING"))
      assert(good.count() == 2 && bad.count() == 0)
    }
  }

  test("the caller's scope frees the parse cache") {
    val dir = tempDir("graft-quar-scope").toString
    val path = write(dir, "docs.json", Seq(
      """{"doc_id": 1, "text": "a"}""", "not json"))
    def persistent = spark.sparkContext.getPersistentRDDs.keySet
    val before = persistent
    Materialize.scope {
      val (good, bad) = Tables.loadWithQuarantine(
        spark, path, "json", schemaOf("doc_id BIGINT, text STRING"))
      assert(good.count() == 1 && bad.count() == 1)
      assert(persistent.size == before.size + 1) // the one cached parse
    }
    assert(persistent == before)
  }
}
