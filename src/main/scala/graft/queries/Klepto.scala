package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** K1–K14: klepto's own operator shapes. The K1–K12 set is SURVEY
  * §2.11's canonical compilation of the reference's operator inventory
  * (scan/projection/filter/join-subset/sort/limit/anonymise/copy — klepto
  * `pkg/reader/engine/engine.go:136-167` compiles its whole config to
  * exactly these shapes). */
private[graft] object Klepto extends Family("klepto") {

  /** K1 — S1/P1 table scan + column projection (engine.go:88-94,139). */
  private def k1(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "customer")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** K2 — F1 raw SQL predicate passthrough (engine.go:154-156): the config
    * `Match` string is parsed by Spark's own SQL parser via expr(). */
  private def k2(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .where(expr("o_totalprice > 100000"))
      .select("o_orderkey", "o_totalprice")
      .orderBy("o_orderkey")

  /** K3 — O1+O2 top-k, "latest 100" (docs/usage/config.md:99-120). Catalyst
    * plans TakeOrderedAndProject: no full sort, no shuffle of all rows. */
  private def k3(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .orderBy(col("ts").desc, col("event_id"))
      .limit(100)
      .select("event_id", "user_id")

  /** K4 — O2 limit with pinned order (engine.go:162-164). */
  private def k4(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "customer")
      .orderBy("c_custkey")
      .limit(10)
      .select("c_custkey")

  /** K5 — J1 one-hop relationship subset (engine.go:140-152). The reference
    * emits an inner join used for semi-join purposes; left_semi is the
    * faithful Spark mapping (no fan-out even on non-unique keys) and lets
    * Catalyst broadcast the filtered parent side. */
  private def k5(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
    val parents = Tables.load(s, dir, "customer")
      .where(col("c_mktsegment") === "BUILDING")
    orders
      .join(parents, orders("o_custkey") === parents("c_custkey"), "left_semi")
      .select("o_orderkey", "o_custkey")
      .orderBy("o_orderkey")
  }

  /** K6 — J2 multi-hop join chain (examples/user-orders.toml:33-56):
    * grandparent filter subsets grandchildren via chained semi-joins. */
  private def k6(s: SparkSession, dir: String): DataFrame = {
    val lineitem = Tables.load(s, dir, "lineitem")
    val orders = Tables.load(s, dir, "orders")
    val parents = Tables.load(s, dir, "customer")
      .where(col("c_mktsegment") === "BUILDING")
    val subOrders = orders
      .join(parents, orders("o_custkey") === parents("c_custkey"), "left_semi")
    lineitem
      .join(subOrders, lineitem("l_orderkey") === subOrders("o_orderkey"),
        "left_semi")
      .select("l_orderkey", "l_linenumber")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** K7 — A1 literal anonymise (anonymiser.go:18-20,77-79). */
  private def k7(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "customer")
      .withColumn("c_name", lit("REDACTED"))
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** K8 — A2 deterministic anonymise surrogate: md5 stands in for the seeded
    * faker family (whose realism is property-tested, not oracle-checked). */
  private def k8(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "customer")
      .withColumn("c_name", md5(col("c_name").cast("binary")))
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** K9 — F1+J1+O1+O2 combined (user-orders.toml shape): filtered parent
    * semi-join + top-k on the child. */
  private def k9(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
    val parents = Tables.load(s, dir, "customer").where(col("c_acctbal") > 0)
    orders
      .join(parents, orders("o_custkey") === parents("c_custkey"), "left_semi")
      .orderBy(col("o_orderdate").desc, col("o_orderkey"))
      .limit(100)
      .select("o_orderkey")
  }

  /** K10 — F2 matcher alias reused on a second table (config.go:101-117). */
  private def k10(s: SparkSession, dir: String): DataFrame = {
    val supplier = Tables.load(s, dir, "supplier")
    val nation = Tables.load(s, dir, "nation")
      .where(expr("n_name = 'NATION_7'"))
    supplier
      .join(nation, supplier("s_nationkey") === nation("n_nationkey"),
        "left_semi")
      .select("s_suppkey")
      .orderBy("s_suppkey")
  }

  /** K11 — F3 IgnoreData: structure only, zero rows
    * (dumper/engine/engine.go:99-101). */
  private def k11(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "nation").limit(0)

  /** K12 — W-fidelity full copy (features/mysql_test.go:122-212 analog):
    * unfiltered pass-through must be value-identical. */
  private def k12(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "region").orderBy("r_regionkey")

  /** K13 — the whole config→plan pipeline (klepto steal shape,
    * cmd/steal.go:52-127): TOML config with matcher, relationship,
    * ordered sort, limit → SubsetPlanner → subset DataFrame. */
  private def k13(s: SparkSession, dir: String): DataFrame = {
    val cfg = graft.config.Config.load(
      """[Matchers]
        |  RichCustomers = "customer.c_acctbal > 0"
        |[[Tables]]
        |  Name = "orders"
        |  [Tables.Filter]
        |    Match = "RichCustomers"
        |    Limit = 500
        |    [Tables.Filter.Sorts]
        |      o_orderkey = "asc"
        |  [[Tables.Relationships]]
        |    ForeignKey = "o_custkey"
        |    ReferencedTable = "customer"
        |    ReferencedKey = "c_custkey"
        |""".stripMargin)
    new graft.plan.SubsetPlanner(Tables.load(s, dir, _), cfg).plan("orders")
  }

  /** K14 — A2-A5 deterministic seeded fakers (anonymiser.go:82-107).
    * The persona fakers it exercises (FullName, EmailAddress) are pure
    * codegen md5-indexed corpus picks ([[graft.anonymise.Persona]]), so
    * since r10 the query is FULLY hash-oracle-checked: the oracle SQL —
    * generated from the SAME Corpora vectors, single source of truth —
    * replays every draw bit-for-bit in DuckDB (list-literal corpus
    * indexing; the ns89 md5→60-bit-uniform convention). The committed
    * golden gate ([[graft.GoldenK14Spec]], sha256 at two SFs) is retained
    * belt-and-braces, and the wider non-persona faker surface stays
    * property-tested (AnonymiserSpec/FakersSpec). */
  private def k14(s: SparkSession, dir: String): DataFrame = {
    val cfg = graft.config.TableConfig("customer", anonymise = Seq(
      "c_name" -> "FullName",
      "c_mktsegment" -> "EmailAddress"))
    graft.anonymise.Anonymiser(
      Tables.load(s, dir, "customer"), cfg, keyColumns = Seq("c_custkey"))
      .orderBy("c_custkey")
  }

  val queries: Seq[Query] = Seq(
    query("k1_scan_project", k1)(
      "SELECT c_custkey, c_name FROM customer ORDER BY c_custkey"),
    query("k2_filter_match", k2)(
      ("SELECT o_orderkey, o_totalprice FROM orders " +
        "WHERE o_totalprice > 100000 ORDER BY o_orderkey")),
    query("k3_topk_latest", k3)(
      ("SELECT event_id, user_id FROM events " +
        "ORDER BY ts DESC, event_id LIMIT 100")),
    query("k4_limit_pinned", k4)(
      "SELECT c_custkey FROM customer ORDER BY c_custkey LIMIT 10"),
    query("k5_subset_onehop", k5)(
      ("SELECT o.o_orderkey, o.o_custkey FROM orders o " +
        "JOIN customer c ON c.c_custkey = o.o_custkey " +
        "WHERE c.c_mktsegment = 'BUILDING' ORDER BY o.o_orderkey")),
    query("k6_subset_multihop", k6)(
      ("SELECT l.l_orderkey, l.l_linenumber FROM lineitem l " +
        "JOIN orders o ON o.o_orderkey = l.l_orderkey " +
        "JOIN customer c ON c.c_custkey = o.o_custkey " +
        "WHERE c.c_mktsegment = 'BUILDING' " +
        "ORDER BY l.l_orderkey, l.l_linenumber")),
    query("k7_anon_literal", k7)(
      ("SELECT c_custkey, 'REDACTED' AS c_name FROM customer " +
        "ORDER BY c_custkey")),
    query("k8_anon_digest", k8)(
      ("SELECT c_custkey, md5(c_name) AS c_name FROM customer " +
        "ORDER BY c_custkey")),
    query("k9_combined_topk", k9)(
      ("SELECT o.o_orderkey FROM orders o " +
        "JOIN customer c ON c.c_custkey = o.o_custkey " +
        "WHERE c.c_acctbal > 0 " +
        "ORDER BY o.o_orderdate DESC, o.o_orderkey LIMIT 100")),
    query("k10_matcher_reuse", k10)(
      ("SELECT s.s_suppkey FROM supplier s " +
        "JOIN nation n ON n.n_nationkey = s.s_nationkey " +
        "WHERE n.n_name = 'NATION_7' ORDER BY s.s_suppkey")),
    query("k11_ignore_data", k11)(
      "SELECT * FROM nation WHERE 1 = 0"),
    query("k12_full_copy", k12)(
      "SELECT * FROM region ORDER BY r_regionkey"),
    query("k13_config_pipeline", k13)(
      ("SELECT o.* FROM orders o " +
        "JOIN customer c ON c.c_custkey = o.o_custkey " +
        "WHERE c.c_acctbal > 0 ORDER BY o.o_orderkey LIMIT 500")),
    // k14 replays the md5-indexed persona fakers exactly: every draw is an
    // independent 60-bit uniform from md5(secret␟table␟pk␟tag) indexing an
    // inline corpus list literal — the SQL is GENERATED from the same
    // graft.anonymise.Corpora vectors the engine reads (Persona.sql*), so
    // the two sides cannot drift.
    query("k14_anon_faker", k14)({
      val p = graft.anonymise.Persona
      s"""WITH b AS (SELECT c_custkey, c_nationkey, c_acctbal,
         |  ${p.sqlRowKey("graft", "customer", Seq("c_custkey"))} AS k
         |  FROM customer)
         |SELECT c_custkey, ${p.sqlFullName} AS c_name, c_nationkey,
         |  c_acctbal, ${p.sqlEmail("c_mktsegment")} AS c_mktsegment
         |FROM b ORDER BY c_custkey""".stripMargin
    }),
  )
}
