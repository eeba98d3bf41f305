package graft.sinks

import java.io.StringWriter
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, Steal, Tables}
import graft.config.Config

class SinksSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("ParquetSink round-trips values and writes schema JSON (W5)") {
    val dir = Files.createTempDirectory("graft_pq").toString
    val src = Tables.load(spark, sf, "region")
    ParquetSink.write(src, dir, "region")
    val back = spark.read.parquet(s"$dir/region.parquet")
    assert(back.orderBy("r_regionkey").collect()
      .sameElements(src.orderBy("r_regionkey").collect()))
    val schemaJson = Files.readString(
      java.nio.file.Paths.get(dir, "region.schema.json"))
    assert(org.apache.spark.sql.types.DataType.fromJson(schemaJson) == src.schema)
  }

  test("SqlTextSink emits CREATE TABLE + typed INSERT batches (W4)") {
    val out = new StringWriter()
    SqlTextSink.write(Tables.load(spark, sf, "region").orderBy("r_regionkey"),
      "region", out, batchRows = 2)
    val sql = out.toString
    assert(sql.startsWith("CREATE TABLE region ("))
    assert(sql.contains("INSERT INTO region (\"r_regionkey\", \"r_name\") VALUES"))
    // typed literals: ints unquoted, strings quoted (unlike the reference's
    // stringify-everything, query/dumper.go:122-135)
    assert(sql.contains("(0, 'AFRICA')"))
    // batchRows=2 over 5 rows → 3 INSERT statements
    assert("INSERT INTO".r.findAllIn(sql).length == 3)
  }

  test("SqlTextSink escapes quotes and renders NULL") {
    import org.apache.spark.sql.types._
    assert(SqlTextSink.sqlLiteral(null, StringType) == "NULL")
    assert(SqlTextSink.sqlLiteral("O'Hara", StringType) == "'O''Hara'")
    assert(SqlTextSink.sqlLiteral(Double.box(1.5), DoubleType) == "1.5")
    assert(SqlTextSink.sqlLiteral(Array[Byte](0x0a, 0x7f), BinaryType) == "X'0a7f'")
    assert(SqlTextSink.sqlLiteral(java.time.LocalDateTime.of(1996, 9, 14, 0, 0),
      TimestampNTZType) == "'1996-09-14 00:00:00.000000'")
  }

  test("JdbcSink hook statements match the reference's SQL (W3)") {
    assert(JdbcSink.mysqlHooks ==
      (Seq("SET FOREIGN_KEY_CHECKS=0"), Seq("SET FOREIGN_KEY_CHECKS=1")))
    val (pre, post) = JdbcSink.postgresTriggerHooks(Seq("users", "orders"))
    assert(pre == Seq(
      """ALTER TABLE "users" DISABLE TRIGGER ALL""",
      """ALTER TABLE "orders" DISABLE TRIGGER ALL"""))
    assert(post.forall(_.contains("ENABLE TRIGGER ALL")))
  }

  test("staging swap SQL pins each engine's atomic shape (W1-W3)") {
    // MySQL: multi-table RENAME is the single atomic statement; the old
    // target drops in a separate second batch
    assert(JdbcSink.swapSql("jdbc:mysql://h/db", "users", "users_graft_staging") ==
      Seq(
        Seq("DROP TABLE IF EXISTS users_graft_old",
          "CREATE TABLE IF NOT EXISTS users LIKE users_graft_staging",
          "RENAME TABLE users TO users_graft_old, users_graft_staging TO users"),
        Seq("DROP TABLE IF EXISTS users_graft_old")))
    // Postgres (generic transactional-DDL branch): DROP + RENAME in one txn
    assert(JdbcSink.swapSql("jdbc:postgresql://h/db", "users", "users_graft_staging") ==
      Seq(Seq("DROP TABLE IF EXISTS users",
        "ALTER TABLE users_graft_staging RENAME TO users")))
    // Derby: no IF EXISTS — drop only when the target exists
    assert(JdbcSink.swapSql("jdbc:derby:memory:x", "users", "s", targetExists = false) ==
      Seq(Seq("RENAME TABLE s TO users")))
    // mixed-case table names stay quoted through the swap
    val mc = JdbcSink.swapSql("jdbc:postgresql://h/db", "OrderItems", "OrderItems_graft_staging")
    assert(mc.head.contains("""DROP TABLE IF EXISTS "OrderItems""""), mc)
  }

  test("Steal: full e2e copy fidelity with empty config (features/*_test.go)") {
    val dir = Files.createTempDirectory("graft_steal").toString
    val reports = Steal.run(spark, sf, dir, tables = Nil, concurrency = 4)
    assert(reports.size == Tables.all.size)
    assert(reports.forall(_.ok))
    // value-identical copy for every table (K12 generalized)
    for (t <- Seq("region", "nation", "customer", "orders")) {
      val src = Tables.load(spark, sf, t)
      val dst = spark.read.parquet(s"$dir/$t.parquet")
      assert(dst.count() == src.count(), t)
      assert(dst.exceptAll(src).isEmpty && src.exceptAll(dst).isEmpty, t)
    }
  }

  test("Steal: config-driven subset + anonymise + ignore-data e2e") {
    val dir = Files.createTempDirectory("graft_steal2").toString
    val cfg = Config.load(
      """[Matchers]
        |  Building = "customer.c_mktsegment = 'BUILDING'"
        |[[Tables]]
        |  Name = "customer"
        |  [Tables.Filter]
        |    Match = "c_mktsegment = 'BUILDING'"
        |  [Tables.Anonymise]
        |    c_name = "FullName"
        |[[Tables]]
        |  Name = "orders"
        |  [Tables.Filter]
        |    Match = "Building"
        |  [[Tables.Relationships]]
        |    ForeignKey = "o_custkey"
        |    ReferencedTable = "customer"
        |    ReferencedKey = "c_custkey"
        |[[Tables]]
        |  Name = "nation"
        |  IgnoreData = true
        |""".stripMargin)
    val reports = Steal.run(spark, sf, dir, cfg, concurrency = 4).map(r => r.table -> r).toMap
    assert(reports.values.forall(_.ok))

    // subset applied
    val wantCust = Tables.load(spark, sf, "customer")
      .where("c_mktsegment = 'BUILDING'").count()
    assert(reports("customer").rows == wantCust)
    // anonymised: names replaced, keys intact
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    assert(!cust.select("c_name").collect().map(_.getString(0))
      .exists(_.startsWith("Customer#")))
    // relationship subset matches K5 count
    assert(reports("orders").rows ==
      graft.SparkEntry.queries("k5_subset_onehop")(spark, sf).count())
    // ignore-data: zero rows, schema written
    assert(reports("nation").rows == 0)
    assert(Files.exists(java.nio.file.Paths.get(dir, "nation.schema.json")))
    // unconfigured tables still copied whole (engine.go:76-79)
    assert(reports("region").rows == 5)
  }

  test("Steal: bestEffort reports failures instead of throwing (§7.4.6)") {
    val dir = Files.createTempDirectory("graft_steal3").toString
    val cfg = Config.load(
      """[[Tables]]
        |  Name = "customer"
        |  [Tables.Anonymise]
        |    no_such_column = "FullName"
        |""".stripMargin)
    // fail-fast default
    assertThrows[Exception](Steal.run(spark, sf, dir, cfg, concurrency = 2))
    // best-effort: failure recorded, other tables copied
    val reports = Steal.run(spark, sf, dir, cfg, concurrency = 2,
      bestEffort = true).map(r => r.table -> r).toMap
    assert(!reports("customer").ok)
    assert(reports("region").ok)
  }
}
