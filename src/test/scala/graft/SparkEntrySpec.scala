package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The suite's one session: four cores and four shuffle partitions
  * whatever the machine, so plan and count assertions are stable. */
object SparkTestSession {
  lazy val spark: SparkSession = Harness.session("graft-test", cpus = 4)
}

class SparkEntrySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query executes end-to-end at sf0.001") {
    // catches a broken entry in `sbt test` instead of at the driver gate
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, name)
      val n = df.count()
      // k11 is zero rows by definition; k10's NATION_7 filter can match no
      // supplier at the tiny sf0.001 (oracle-checked non-empty at sf0.01)
      if (name.startsWith("k") && name != "k11_ignore_data" &&
          name != "k10_matcher_reuse")
        assert(n > 0, s"$name returned no rows")
    }
  }

  test("k1 projects two columns ordered by key") {
    val df = SparkEntry.queries("k1_scan_project")(spark, sf)
    assert(df.columns.toSeq == Seq("c_custkey", "c_name"))
    val keys = df.select("c_custkey").collect().map(_.getLong(0))
    assert(keys.sameElements(keys.sorted))
  }

  test("k2 filters by predicate") {
    val df = SparkEntry.queries("k2_filter_match")(spark, sf)
    assert(df.collect().forall(_.getDouble(1) > 100000))
  }

  test("k3 top-k returns exactly 100 rows") {
    assert(SparkEntry.queries("k3_topk_latest")(spark, sf).count() == 100)
  }

  test("k4 limit returns 10 smallest keys") {
    val keys = SparkEntry.queries("k4_limit_pinned")(spark, sf)
      .collect().map(_.getLong(0)).toSeq
    assert(keys == (0L to 9L))
  }

  test("k5 semi-join keeps only orders of BUILDING customers") {
    val df = SparkEntry.queries("k5_subset_onehop")(spark, sf)
    val custs = Tables.load(spark, sf, "customer")
      .where("c_mktsegment = 'BUILDING'")
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    assert(df.collect().forall(r => custs.contains(r.getLong(1))))
    // no fan-out: row count == matching orders count
    val expected = Tables.load(spark, sf, "orders")
      .collect().count(r => custs.contains(r.getLong(1)))
    assert(df.count() == expected)
  }

  test("k7 literal anonymise overwrites every value") {
    val df = SparkEntry.queries("k7_anon_literal")(spark, sf)
    assert(df.select("c_name").distinct().collect().map(_.getString(0))
      .toSeq == Seq("REDACTED"))
  }

  test("k8 digest anonymise is deterministic and value-dependent") {
    val a = SparkEntry.queries("k8_anon_digest")(spark, sf).collect()
    val b = SparkEntry.queries("k8_anon_digest")(spark, sf).collect()
    assert(a.sameElements(b))
    assert(a.map(_.getString(1)).distinct.length > 1)
  }

  test("k11 ignore-data keeps schema with zero rows") {
    val df = SparkEntry.queries("k11_ignore_data")(spark, sf)
    assert(df.count() == 0)
    assert(df.columns.toSeq == Seq("n_nationkey", "n_name", "n_regionkey"))
  }

  test("k12 full copy is value-identical to the source") {
    val src = Tables.load(spark, sf, "region").orderBy("r_regionkey").collect()
    val got = SparkEntry.queries("k12_full_copy")(spark, sf).collect()
    assert(src.sameElements(got))
  }
}
