package graft.tools

import org.apache.spark.sql.functions.{col, lit, raise_error}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.queries.Query

class PlanCostSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def planted(name: String, n: Long) = Query(name, "planted",
    (s, _) => s.range(0, n, 1, 4).groupBy((col("id") % 7).as("k")).count(),
    () => "SELECT 1")

  test("profile reports a failing query and keeps every other query's counts") {
    val boom = Query("ns999_boom", "planted",
      (s, _) => s.range(1).select(raise_error(lit("planted"))),
      () => "SELECT 1")
    val ok = Seq(planted("ns997_small", 100), planted("ns998_large", 10000))
    val p = PlanCost.profile(spark, "", Seq(ok.head, boom, ok(1)))
    assert(p.failed == Seq("ns999_boom"))
    assert(p.costs.map(_._1) == ok.map(_.name))
    // AQE: the map stage's job (4 tasks), then the coalesced result (1)
    p.costs.foreach { case (n, w) =>
      assert((w.jobs, w.stages, w.tasks) == ((2L, 2L, 5L)), n)
      assert(w.shuffleWrite > 0, n)
    }
    assert(p.json.contains("\"failed\": [\"ns999_boom\"]"), p.json)
    ok.foreach(q => assert(p.json.contains(s"\"${q.name}\": {\"jobs\":2,"), p.json))
  }
}
