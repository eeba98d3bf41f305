package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, TempDirs}
import graft.sources.Variants.PathSpec

/** Specs for ns101 — VARIANT extraction: total-function discipline
  * (corrupt / missing / type-mismatch all → NULL, never an exception),
  * row-identity preservation, and the projection-only plan. */
class VariantsSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val paths = Seq(
    PathSpec("a", "$.a", "long"),
    PathSpec("nested", "$.b.c", "string"),
    PathSpec("arr1", "$.arr[1]", "long"),
    PathSpec("missing", "$.nope", "string"))

  test("typed extraction over nested objects and arrays") {
    val out = Variants.extractTyped(
        Seq((1L, """{"a":7,"b":{"c":"x"},"arr":[10,20]}"""))
          .toDF("id", "j"), "j", paths)
      .select("id", "ok", "a", "nested", "arr1", "missing")
      .collect().head
    assert(out.getLong(0) == 1L && out.getBoolean(1))
    assert(out.getLong(2) == 7L && out.getString(3) == "x" &&
      out.getLong(4) == 20L && out.isNullAt(5))
  }

  test("corrupt payloads keep identity: ok=false, all extracts NULL") {
    val out = Variants.extractTyped(
        Seq((1L, """{"a":7"""), (2L, "not json at all"),
          (3L, """{"a":1,"b":{"c":"y"},"arr":[0,5]}"""))
          .toDF("id", "j"), "j", paths)
      .select("id", "ok", "a", "nested", "arr1")
      .orderBy("id").collect()
    assert(out.map(_.getBoolean(1)).toSeq == Seq(false, false, true))
    assert(out.take(2).forall(r => r.isNullAt(2) && r.isNullAt(3)))
    assert(out(2).getLong(2) == 1L)
  }

  test("type mismatch is NULL, not an error (try_variant_get)") {
    val out = Variants.extractTyped(
        Seq((1L, """{"a":"not a number"}""")).toDF("id", "j"), "j",
        Seq(PathSpec("a", "$.a", "long")))
      .select("ok", "a").collect().head
    assert(out.getBoolean(0) && out.isNullAt(1))
  }

  test("duplicate output names rejected") {
    intercept[IllegalArgumentException] {
      Variants.extractTyped(Seq((1L, "{}")).toDF("id", "j"), "j",
        Seq(PathSpec("a", "$.x", "long"), PathSpec("a", "$.y", "long")))
    }
  }

  test("plan is projection-only over the scan (no shuffle, no join)") {
    // parquet-backed so projections don't constant-fold to LocalTableScan
    val dir = tempDir("graft_variant_plan").toString
    Seq((1L, """{"a":1}""")).toDF("id", "j")
      .write.mode("overwrite").parquet(dir)
    val p = Variants.extractTyped(spark.read.parquet(dir), "j",
        Seq(PathSpec("a", "$.a", "long")))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
  }
}
