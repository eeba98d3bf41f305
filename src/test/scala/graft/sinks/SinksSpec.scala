package graft.sinks

import java.io.StringWriter
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{
  HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.{Harness, SparkTestSession, Steal, Tables, TempDirs}
import graft.config.Config

class SinksSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("ParquetSink round-trips values and writes schema JSON (W5)") {
    val dir = tempDir("graft_pq").toString
    val src = Tables.load(spark, sf, "region")
    ParquetSink.write(src, dir, "region")
    val back = spark.read.parquet(s"$dir/region.parquet")
    assert(back.orderBy("r_regionkey").collect()
      .sameElements(src.orderBy("r_regionkey").collect()))
    val schemaJson = Files.readString(
      java.nio.file.Paths.get(dir, "region.schema.json"))
    assert(org.apache.spark.sql.types.DataType.fromJson(schemaJson) == src.schema)
  }

  test("ParquetSink writes its schema JSON under a file: URI directory") {
    val dir = tempDir("graft_pq_uri").toString
    val src = Tables.load(spark, sf, "region")
    ParquetSink.write(src, s"file://$dir", "region")
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
    val dir = tempDir("graft_steal").toString
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
    val dir = tempDir("graft_steal2").toString
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
    val dir = tempDir("graft_steal3").toString
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

  // The steal's critical path: jobs, opens, dispatch order and the pool.

  /** customer → orders → lineitem, every hop subset by the customer
    * segment. */
  private val chain = Config.load(
    """[Matchers]
      |  Building = "customer.c_mktsegment = 'BUILDING'"
      |[[Tables]]
      |  Name = "customer"
      |  [Tables.Filter]
      |    Match = "c_mktsegment = 'BUILDING'"
      |[[Tables]]
      |  Name = "orders"
      |  [Tables.Filter]
      |    Match = "Building"
      |  [[Tables.Relationships]]
      |    ForeignKey = "o_custkey"
      |    ReferencedTable = "customer"
      |    ReferencedKey = "c_custkey"
      |[[Tables]]
      |  Name = "lineitem"
      |  [Tables.Filter]
      |    Match = "Building"
      |  [[Tables.Relationships]]
      |    ForeignKey = "l_orderkey"
      |    ReferencedTable = "orders"
      |    ReferencedKey = "o_orderkey"
      |  [[Tables.Relationships]]
      |    Table = "orders"
      |    ForeignKey = "o_custkey"
      |    ReferencedTable = "customer"
      |    ReferencedKey = "c_custkey"
      |""".stripMargin)

  /** Runs `body` with a listener registered; returns what it recorded once
    * the bus delivered every event (a collector snapshot drains it). */
  private def listening[L <: AnyRef, T](listener: L)(register: L => Unit,
      unregister: L => Unit)(body: => T): T = {
    register(listener)
    try { val r = body; Harness.work(spark).snapshot(); r }
    finally unregister(listener)
  }

  /** The parquet writes of a run, in completion order: (table, the source
    * relations the write's plan scans). */
  private final class Writes extends QueryExecutionListener {
    val seen = new ConcurrentLinkedQueue[(String, Seq[HadoopFsRelation])]
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      qe.analyzed.collectFirst { case c: InsertIntoHadoopFsRelationCommand =>
        c.outputPath.getName.stripSuffix(".parquet") -> c.query.collect {
          case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
            l.relation.asInstanceOf[HadoopFsRelation]
        }
      }.foreach(seen.add)
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def withWrites[T](body: => T): (T, Seq[(String, Seq[HadoopFsRelation])]) = {
    val w = new Writes
    val r = listening(w)(spark.listenerManager.register,
      spark.listenerManager.unregister)(body)
    (r, w.seen.asScala.toSeq)
  }

  test("Steal: a chained steal runs no job before its writes, one per table plus broadcasts") {
    val dir = tempDir("graft_steal_jobs").toString
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]
    val work = Harness.work(spark)
    val before = work.snapshot()
    val reports = listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e)
    })(spark.sparkContext.addSparkListener, spark.sparkContext.removeSparkListener) {
      Steal.run(spark, sf, dir, chain, concurrency = 4)
    }
    assert(reports.forall(_.ok) && reports.size == Tables.all.size)
    val all = jobs.asScala.toSeq
    // a schema-inference job runs outside any SQL execution; a write and
    // the broadcasts it triggers run inside one
    assert(all.forall(_.properties.getProperty("spark.sql.execution.id") != null),
      all.map(_.properties.getProperty("spark.job.tags")))
    val broadcasts = all.count(j => Option(j.properties.getProperty(
      "spark.job.tags")).exists(_.contains("broadcast exchange")))
    assert(broadcasts > 0)
    assert(all.size == reports.size + broadcasts)
    assert(work.snapshot(before).jobs == all.size)
  }

  test("Steal: each source table is opened once; reports in catalog order") {
    val dir = tempDir("graft_steal_once").toString
    val (reports, writes) = withWrites(Steal.run(spark, sf, dir, chain, concurrency = 4))
    assert(reports.map(_.table) == Tables.all.sorted)
    assert(writes.map(_._1).sorted == Tables.all.sorted)
    // the chain scans customer in three writes and orders in two; every
    // scan of a table shares the one file index its open listed
    val byTable = writes.flatMap(_._2).groupBy(_.location.rootPaths.head.getName)
    assert(byTable("customer.parquet").size == 3)
    assert(byTable("orders.parquet").size == 2)
    for ((t, rels) <- byTable)
      assert(rels.forall(_.location eq rels.head.location), s"$t opened twice")
  }

  test("Steal: tables are dispatched largest-first") {
    val dir = tempDir("graft_steal_order").toString
    val (_, writes) = withWrites(Steal.run(spark, sf, dir, Nil, concurrency = 1))
    val bySize = Tables.all.sortBy(t => -new java.io.File(s"$sf/$t.parquet").length)
    assert(writes.map(_._1) == bySize)
  }

  test("Steal: a file: URI lake steals into a file: URI target, sidecars included") {
    val dir = tempDir("graft_steal_uri").toString
    val reports = Steal.run(spark, s"file://$sf", s"file://$dir", Nil, concurrency = 4)
    assert(reports.map(_.table) == Tables.all.sorted && reports.forall(_.ok))
    for (t <- Tables.all) {
      assert(new java.io.File(s"$dir/$t.schema.json").isFile, t)
      assert(spark.read.parquet(s"$dir/$t.parquet").count() ==
        spark.read.parquet(s"$sf/$t.parquet").count(), t)
    }
  }

  test("Steal pool: fails fast in completion order and starts nothing more") {
    val started = new ConcurrentLinkedQueue[String]
    val aDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException](
      Steal.runPool(Seq("A", "B", "C", "D", "E", "F"), concurrency = 2) {
        case "A" => Thread.sleep(3000); aDone.set(true); "A"
        case "B" => throw new IllegalStateException("B failed")
        case x => started.add(x); Thread.sleep(200); x
      })
    assert(e.getMessage == "B failed")
    assert(!aDone.get, "B's failure waited for A")
    assert(started.size <= 1, started)
  }

  test("Steal pool: returns results in item order") {
    assert(Steal.runPool(Seq(3, 1, 2), concurrency = 3) { ms =>
      Thread.sleep(ms * 50L); ms * 10
    } == Seq(30, 10, 20))
  }
}
