package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** The registry's construction invariants and its one query selector. */
class RegistrySpec extends AnyFunSuite {

  private def fake(name: String): Query =
    Query(name, "test", (_, _) => sys.error("built"), () => "SELECT 1")

  test("the registry has 167 queries with 167 distinct ids") {
    assert(Registry.all.size == 167)
    assert(Registry.all.map(_.id).distinct.size == 167)
    assert(Registry.all.map(_.name) == Registry.all.map(_.name).sorted)
  }

  test("SparkEntry.queries is the registry keyed by name") {
    assert(graft.SparkEntry.queries.keySet == Registry.all.map(_.name).toSet)
  }

  test("every query belongs to one of the eleven families") {
    assert(Registry.all.map(_.family).toSet == Set("klepto", "dedup", "ann",
      "text", "curate", "mm", "priv", "events", "rel", "sketch", "gov"))
    assert(Registry.all.filter(_.family == "klepto").map(_.id).toSet ==
      (1 to 14).map(i => s"k$i").toSet)
  }

  test("a duplicate id or name throws at construction") {
    val dupId = intercept[IllegalArgumentException](
      Registry.checked(Seq(fake("ns5_a"), fake("ns5_b"), fake("k1_c"))))
    assert(dupId.getMessage.contains("ns5"), dupId.getMessage)
    intercept[IllegalArgumentException](
      Registry.checked(Seq(fake("k1_a"), fake("k1_a"))))
  }

  test("a name that is not <k|ns><n>_<suffix> throws at construction") {
    for (bad <- Seq("ns5", "ns5_", "x5_a", "nsx_a", "K5_a")) {
      val e = intercept[IllegalArgumentException](
        Registry.checked(Seq(fake(bad))))
      assert(e.getMessage.contains(bad), e.getMessage)
    }
  }

  test("building a family evaluates no oracle") {
    val family = new Family("test") {
      val queries = Seq(query("k1_lazy", (_, _) => sys.error("built"))(
        sys.error("oracle evaluated")))
    }
    val Seq(q) = Registry.checked(family.queries)
    assert(q.family == "test" && q.id == "k1")
    assert(intercept[RuntimeException](q.oracle()).getMessage ==
      "oracle evaluated")
  }

  test("select takes an id or a full name, exactly") {
    assert(Registry.select(Seq("ns5")).map(_.name) == Seq("ns5_dedup_embedding"))
    assert(Registry.select(Seq("ns5_dedup_embedding")).map(_.name) ==
      Seq("ns5_dedup_embedding"))
    assert(Registry.select(Seq("ns1")).map(_.name) == Seq("ns1_dedup_exact"))
    assert(Registry.select(Seq("k5", "ns82", "k5_subset_onehop")).map(_.name) ==
      Seq("k5_subset_onehop", "ns82_phash_lifecycle"))
    assert(Registry.select(Nil) == Registry.all)
  }

  test("select throws on unknown entries, naming every one") {
    val e = intercept[IllegalArgumentException](
      Registry.select(Seq("ns5_typo", "k5", "dedup", "ns")))
    for (n <- Seq("ns5_typo", "dedup", "ns")) assert(e.getMessage.contains(n))
    assert(!e.getMessage.contains("k5"), e.getMessage)
  }
}
