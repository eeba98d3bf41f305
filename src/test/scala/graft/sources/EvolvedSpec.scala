package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, TempDirs}

/** Schema-evolution-tolerant ingestion: mergeSchema null-fill in both
  * directions, partition pruning on the generation column, and the
  * drift report. */
class EvolvedSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def writeGens(): String = {
    val root = tempDir("evolved_spec").toString
    Seq((1L, "en", 10L), (2L, "de", 20L)).toDF("doc_id", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$root/version=0")
    Seq((3L, 30L, 7L), (4L, 40L, 9L)).toDF("doc_id", "n_chars", "quality")
      .write.mode("overwrite").parquet(s"$root/version=1")
    root
  }

  test("readMerged unifies generations: retired columns null-fill forward, added ones backward") {
    val m = Evolved.readMerged(spark, writeGens())
      .select("doc_id", "version", "lang", "quality", "n_chars")
      .orderBy("doc_id").collect()
    assert(m.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L, 3L, 4L))
    // v0 rows: lang present, quality NULL
    assert(m(0).getAs[String]("lang") == "en" && m(0).isNullAt(3))
    // v1 rows: lang NULL, quality present
    assert(m(2).isNullAt(2) && m(2).getAs[Long]("quality") == 7L)
    assert(m(3).getAs[Long]("n_chars") == 40L)
  }

  test("a version predicate prunes to one generation's files (partition pruning)") {
    val root = writeGens()
    val one = Evolved.readMerged(spark, root).where(col("version") === 1)
    assert(one.count() == 2)
    // the predicate lands in the scan's PartitionFilters (directory
    // pruning — v0 files are never opened); inputFiles reflects the
    // UNPRUNED relation, so the plan text is the honest witness
    val scan = one.queryExecution.executedPlan.toString
    val pf = scan.linesIterator.find(_.contains("PartitionFilters"))
      .getOrElse(scan.linesIterator.find(_.contains("FileScan")).getOrElse(""))
    assert(pf.contains("version"), scan.take(1200))
  }

  test("driftReport: per-generation population of the union's columns") {
    val merged = Evolved.readMerged(spark, writeGens())
      .withColumn("version", col("version").cast("long"))
    val r = Evolved.driftReport(merged, "version", Seq("lang", "quality"))
      .orderBy("version").collect()
    assert(r(0).getAs[Long]("n_rows") == 2 &&
      r(0).getAs[Long]("lang_present") == 2 &&
      r(0).getAs[Long]("quality_present") == 0 &&
      !r(0).getAs[Boolean]("quality_live"))
    assert(r(1).getAs[Long]("lang_present") == 0 &&
      r(1).getAs[Boolean]("quality_live"))
  }
}
