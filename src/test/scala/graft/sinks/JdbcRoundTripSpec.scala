package graft.sinks

import java.sql.DriverManager

import org.apache.spark.JobExecutionStatus
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, Steal, TempDirs}
import graft.config.TableConfig
import graft.sources.Drivers

/** Live-DB round-trip e2e over embedded Derby (the in-JVM JDBC engine on
  * Spark's classpath) — the analog of the reference's containerized
  * `features/mysql_test.go:122-212` / `features/postgres_test.go:117-199`
  * fidelity suites: create schema + rows over JDBC, run the whole
  * steal pipeline (catalog → subset → anonymise → JDBC sink), read the
  * target back and assert row-for-row fidelity. Also exercises
  * [[Ddl.structureFromJdbc]] against a real JDBC catalog and the staging
  * table swap.
  */
class JdbcRoundTripSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  private val srcUrl = "jdbc:derby:memory:graft_src;create=true"
  private val tgtUrl = "jdbc:derby:memory:graft_tgt;create=true"

  private def exec(url: String, sqls: String*): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      sqls.foreach(st.execute)
      st.close()
    } finally conn.close()
  }

  private lazy val fixture: Unit = {
    exec(srcUrl,
      """CREATE TABLE users (
        |  id VARCHAR(36) NOT NULL PRIMARY KEY,
        |  username VARCHAR(50) NOT NULL,
        |  email VARCHAR(255) NOT NULL,
        |  active SMALLINT DEFAULT 1,
        |  created_at TIMESTAMP,
        |  CONSTRAINT uq_username UNIQUE (username)
        |)""".stripMargin,
      """CREATE TABLE orders (
        |  id VARCHAR(36) NOT NULL PRIMARY KEY,
        |  user_id VARCHAR(36) NOT NULL,
        |  amount DOUBLE,
        |  CONSTRAINT fk_user_id FOREIGN KEY (user_id) REFERENCES users (id)
        |)""".stripMargin,
      "CREATE VIEW active_users AS SELECT * FROM users WHERE active = 1",
      "INSERT INTO users VALUES ('u1', 'wbo', 'wbo@example.com', 1, '2017-01-01 00:00:00')",
      "INSERT INTO users VALUES ('u2', 'kp', 'kp@example.com', 1, '2017-01-01 00:00:00')",
      "INSERT INTO users VALUES ('u3', 'lp', 'lp@example.com', 0, '2017-01-01 00:00:00')",
      "INSERT INTO orders VALUES ('o1', 'u1', 10.5)",
      "INSERT INTO orders VALUES ('o2', 'u1', 20.0)",
      "INSERT INTO orders VALUES ('o3', 'u2', 30.25)")
  }

  test("catalog over raw JDBC lists base tables only (views excluded)") {
    fixture
    val tables = Drivers.listTables(spark, srcUrl)
    assert(tables == Seq("ORDERS", "USERS"), tables)
  }

  test("steal round-trip: JDBC source -> anonymise -> JDBC sink, row fidelity") {
    fixture
    val reports = Steal.runDsn(spark, srcUrl, tgtUrl,
      tables = Seq(TableConfig("USERS",
        anonymise = Seq("EMAIL" -> "literal:REDACTED"))),
      concurrency = 1)
    assert(reports.map(r => r.table -> r.ok).toMap ==
      Map("USERS" -> true, "ORDERS" -> true))
    assert(reports.map(r => r.table -> r.rows).toMap ==
      Map("USERS" -> 3L, "ORDERS" -> 3L))

    // row-for-row fidelity on the unconfigured table
    val srcOrders = Drivers.read(spark, srcUrl, "ORDERS")
      .orderBy("ID").collect().map(_.toSeq)
    val tgtOrders = Drivers.read(spark, tgtUrl, "ORDERS")
      .orderBy("ID").collect().map(_.toSeq)
    assert(srcOrders.toSeq == tgtOrders.toSeq)

    // anonymised column replaced, everything else carried
    val users = Drivers.read(spark, tgtUrl, "USERS").orderBy("ID").collect()
    assert(users.map(_.getAs[String]("EMAIL")).forall(_ == "REDACTED"))
    assert(users.map(_.getAs[String]("USERNAME")).toSeq ==
      Seq("wbo", "kp", "lp"))
  }

  test("a configured table the source catalog does not list fails the " +
    "steal before any table is written") {
    fixture
    val tgt = "jdbc:derby:memory:graft_tgt_unlisted;create=true"
    val e = intercept[IllegalArgumentException](Steal.runDsn(spark, srcUrl, tgt,
      tables = Seq(TableConfig("users",
        anonymise = Seq("EMAIL" -> "literal:REDACTED"))),
      concurrency = 1))
    // names the config entry and the catalog's spelling of it
    assert(e.getMessage.contains("'users'") && e.getMessage.contains("USERS"),
      e.getMessage)
    assert(Drivers.listTables(spark, tgt).isEmpty)
  }

  test("JdbcSink caps the write stage at maxConns tasks") {
    val sc = spark.sparkContext
    val group = "graft_jdbc_max_conns"
    val df = spark.range(0, 800, 1, 8).toDF("ID")
    sc.setJobGroup(group, "JdbcSink maxConns")
    try JdbcSink.write(df, JdbcSinkConfig(
      "jdbc:derby:memory:graft_tgt_conns;create=true", "CAPPED", maxConns = 2))
    finally sc.clearJobGroup()
    // the status store is fed asynchronously by the listener bus
    val tracker = sc.statusTracker
    def writeStageTasks: Seq[Int] = tracker.getJobIdsForGroup(group).toSeq
      .flatMap(tracker.getJobInfo).filter(_.status == JobExecutionStatus.SUCCEEDED)
      .flatMap(_.stageIds).flatMap(tracker.getStageInfo).map(_.numTasks)
    val deadline = System.nanoTime() + 10_000_000_000L
    while (writeStageTasks.isEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    val tasks = writeStageTasks
    assert(tasks.nonEmpty && tasks.max <= 2, tasks)
    assert(Drivers.read(spark, "jdbc:derby:memory:graft_tgt_conns", "CAPPED")
      .count() == 800L)
  }

  test("pushdownScan steal e2e: DSv2-routed subset config lands the same " +
    "rows as the V1 leg (VERDICT r12 #4 product path)") {
    fixture
    val cfg = Seq(TableConfig("ORDERS",
      filter = graft.config.Filter(
        sorts = Seq("AMOUNT" -> "desc"), limit = 2)))
    def stealTo(pushdown: Boolean): Seq[Seq[Any]] = {
      val dir = tempDir("graft_pushdown_steal").toString
      val reports = Steal.runDsn(spark, srcUrl,
        s"file://path($dir)/?format=parquet", cfg,
        concurrency = 1, pushdownScan = pushdown)
      assert(reports.forall(_.ok), reports)
      spark.read.parquet(s"$dir/ORDERS.parquet")
        .orderBy("ID").collect().map(_.toSeq).toSeq
    }
    val v2 = stealTo(pushdown = true)
    val v1 = stealTo(pushdown = false)
    assert(v2 == v1)
    // the top-2 amounts, by value: o3 (30.25) and o2 (20.0)
    assert(v2.map(_.head) == Seq("o2", "o3"))
  }

  test("staging swap replaces the target atomically instead of appending") {
    fixture
    val df = Drivers.read(spark, srcUrl, "ORDERS")
    val cfg = JdbcSinkConfig(tgtUrl, "ORDERS_STAGED", staging = true)
    JdbcSink.write(df, cfg)
    JdbcSink.write(df, cfg) // second run must REPLACE, not duplicate
    val n = Drivers.read(spark, tgtUrl, "ORDERS_STAGED").count()
    assert(n == 3L, s"expected 3 rows after re-run, got $n")
  }

  test("views are extracted from the live catalog and replayable") {
    fixture
    val conn = DriverManager.getConnection(srcUrl)
    val views = try Ddl.viewsFromJdbc(conn, srcUrl) finally conn.close()
    assert(views.map(_.name) == Seq("ACTIVE_USERS"), views)
    assert(views.head.definition.toLowerCase.contains("active = 1"),
      views.head.definition)

    // replay on a fresh target (so prior tests' appends don't interfere)
    // and query THROUGH the recreated view — pg_simple.sql users_view parity
    val tgt2Url = "jdbc:derby:memory:graft_tgt_views;create=true"
    val reports = Steal.runDsn(spark, srcUrl, tgt2Url, tables = Nil,
      concurrency = 1)
    assert(reports.forall(_.ok))
    val tgt = DriverManager.getConnection(tgt2Url)
    try {
      val st = tgt.createStatement()
      st.execute(Ddl.createView(
        ViewStructure("ACTIVE_USERS_COPY", views.head.definition),
        Dialect.Postgres).stripSuffix(";"))
      val rs = st.executeQuery("SELECT count(*) FROM ACTIVE_USERS_COPY")
      rs.next()
      assert(rs.getLong(1) == 2L) // u1, u2 are active
      rs.close()
      st.close()
    } finally tgt.close()
  }

  test("mixed-case table round-trips with fidelity (pg_simple.sql OrderItems trap)") {
    fixture
    // the reference fixtures deliberately include a quoted "OrderItems"
    // (fixtures/pg_simple.sql:27-33) to trap quoting bugs: unquoted, every
    // engine case-folds the name away
    exec(srcUrl,
      """CREATE TABLE "OrderItems" (
        |  id VARCHAR(36) NOT NULL PRIMARY KEY,
        |  qty INT NOT NULL
        |)""".stripMargin,
      """INSERT INTO "OrderItems" VALUES ('i1', 2)""",
      """INSERT INTO "OrderItems" VALUES ('i2', 5)""")
    try {
      // catalog reports the exact spelling
      assert(Drivers.listTables(spark, srcUrl).contains("OrderItems"))
      // read resolves the mixed-case name (quoted per engine)
      val src = Drivers.read(spark, srcUrl, "OrderItems")
      assert(src.count() == 2)
      // full pipeline: steal into a fresh target, read back, compare
      val tgtMcUrl = "jdbc:derby:memory:graft_tgt_mc;create=true"
      val reports = Steal.runDsn(spark, srcUrl, tgtMcUrl, tables = Nil,
        concurrency = 1)
      assert(reports.forall(_.ok), reports)
      assert(reports.exists(r => r.table == "OrderItems" && r.rows == 2), reports)
      val back = Drivers.read(spark, tgtMcUrl, "OrderItems")
        .orderBy("ID").collect().map(r => (r.getString(0), r.getInt(1)))
      assert(back.toSeq == Seq(("i1", 2), ("i2", 5)))
    } finally exec(srcUrl, """DROP TABLE "OrderItems"""")
  }

  test("trigger + generated column round-trip through a live Derby catalog") {
    fixture
    exec(srcUrl,
      """CREATE TABLE items (
        |  id INT NOT NULL PRIMARY KEY,
        |  price DECIMAL(10,2) NOT NULL,
        |  qty INT NOT NULL,
        |  total DECIMAL(12,2) GENERATED ALWAYS AS (price * qty)
        |)""".stripMargin,
      "CREATE TABLE item_audit (item_id INT, note VARCHAR(20))",
      """CREATE TRIGGER trg_items AFTER INSERT ON items
        |REFERENCING NEW AS n FOR EACH ROW
        |INSERT INTO item_audit VALUES (n.id, 'inserted')""".stripMargin)
    try {
      val conn = DriverManager.getConnection(srcUrl)
      val (ts, triggers) = try {
        val schema = Drivers.read(spark, srcUrl, "ITEMS").schema
        (Ddl.structureFromJdbc(conn, "ITEMS", schema),
          Ddl.triggersFromJdbc(conn, srcUrl))
      } finally conn.close()
      // extraction: the generation expression and the trigger both survive
      assert(ts.generated.keySet == Set("TOTAL"), ts.generated)
      assert(ts.generated("TOTAL").toLowerCase.replaceAll("\\s+", "")
        .contains("price*qty"), ts.generated)
      val trg = triggers.filter(_.name == "TRG_ITEMS")
      assert(trg.nonEmpty, triggers)
      assert(trg.head.definition.toUpperCase.contains("AFTER INSERT"),
        trg.head.definition)
      // replay on a fresh Derby target, then prove BEHAVIOR round-tripped:
      // inserted rows compute the generated column and fire the trigger
      val tgtGcUrl = "jdbc:derby:memory:graft_tgt_gc;create=true"
      exec(tgtGcUrl,
        Ddl.createTable(ts.copy(table = "ITEMS"), Dialect.Derby)
          .stripSuffix(";"),
        "CREATE TABLE item_audit (item_id INT, note VARCHAR(20))",
        Ddl.createTrigger(trg.head).stripSuffix(";"),
        "INSERT INTO items (id, price, qty) VALUES (7, 2.50, 4)")
      val tgt = DriverManager.getConnection(tgtGcUrl)
      try {
        val st = tgt.createStatement()
        val rs = st.executeQuery("SELECT total FROM items WHERE id = 7")
        assert(rs.next() && rs.getBigDecimal(1).doubleValue() == 10.0)
        rs.close()
        val ra = st.executeQuery(
          "SELECT item_id, note FROM item_audit WHERE item_id = 7")
        assert(ra.next() && ra.getString(2) == "inserted")
        ra.close()
        st.close()
      } finally tgt.close()
    } finally exec(srcUrl, "DROP TRIGGER trg_items", "DROP TABLE items",
      "DROP TABLE item_audit")
  }

  test("JDBC scans push predicates and prune columns to the source engine") {
    fixture
    val df = Drivers.read(spark, srcUrl, "USERS")
      .where(col("ACTIVE") === 1)
      .select("ID", "USERNAME")
    val plan = df.queryExecution.executedPlan.toString
    // the predicate reaches the source DB, not a Spark Filter over a full
    // scan — klepto's whole push-the-query-down strategy (S1/S2)
    assert(plan.contains("PushedFilters:") && plan.contains("EqualTo(ACTIVE,1)"),
      plan.take(1200))
    // column pruning: the JDBC SELECT list excludes EMAIL/CREATED_AT
    val scanLine = plan.linesIterator
      .find(_.contains("JDBCRelation")).getOrElse(plan)
    assert(!scanLine.contains("EMAIL"), scanLine)
    assert(df.collect().length == 2) // u1, u2 active
  }

  test("structureFromJdbc recovers PK, FK, unique and defaults from the catalog") {
    fixture
    val conn = DriverManager.getConnection(srcUrl)
    try {
      val users = Ddl.structureFromJdbc(conn, "USERS",
        Drivers.read(spark, srcUrl, "USERS").schema)
      assert(users.primaryKey == Seq("ID"))
      assert(users.uniques.exists(_._2 == Seq("USERNAME")), users.uniques)
      assert(users.defaults.get("ACTIVE").exists(_.contains("1")), users.defaults)

      val orders = Ddl.structureFromJdbc(conn, "ORDERS",
        Drivers.read(spark, srcUrl, "ORDERS").schema)
      assert(orders.primaryKey == Seq("ID"))
      assert(orders.foreignKeys.map(f =>
        (f.name, f.columns, f.refTable, f.refColumns)) ==
        Seq(("FK_USER_ID", Seq("USER_ID"), "USERS", Seq("ID"))))

      // re-emitted DDL reproduces the fixtures/mysql_simple.sql shape:
      // inline PRIMARY KEY, FK as a named constraint (post-load ALTER)
      val ddl = Ddl.createTable(orders, Dialect.MySql)
      assert(ddl.contains("PRIMARY KEY (`ID`)"), ddl)
      val fkSql = Ddl.addForeignKeys(orders, Dialect.MySql)
      assert(fkSql == Seq("ALTER TABLE `ORDERS` ADD CONSTRAINT `FK_USER_ID` " +
        "FOREIGN KEY (`USER_ID`) REFERENCES `USERS` (`ID`)"), fkSql)
    } finally conn.close()
  }

  test("standalone sequence round-trips; identity backing sequences excluded") {
    val aUrl = "jdbc:derby:memory:graft_seq_a;create=true"
    val bUrl = "jdbc:derby:memory:graft_seq_b;create=true"
    exec(aUrl,
      "CREATE SEQUENCE order_seq AS INTEGER START WITH 5 INCREMENT BY 10",
      // the identity column's engine-managed backing sequence must NOT be
      // carried as a standalone object (it replays via the column itself)
      """CREATE TABLE seq_users (
        |  id INT GENERATED ALWAYS AS IDENTITY,
        |  name VARCHAR(10))""".stripMargin,
      "INSERT INTO seq_users (name) VALUES ('a'), ('b')")
    val conn = DriverManager.getConnection(aUrl)
    val seqs = try Ddl.sequencesFromJdbc(conn, aUrl) finally conn.close()
    assert(seqs.map(_.name) == Seq("ORDER_SEQ"), seqs)
    val s = seqs.head
    assert(s.dataType.toUpperCase.contains("INT"), s)
    assert(s.startWith == 5L && s.incrementBy == 10L, s)

    // replay on a second live engine, re-extract: structurally identical
    exec(bUrl, Ddl.createSequence(s, Dialect.Derby).stripSuffix(";"))
    val connB = DriverManager.getConnection(bUrl)
    try {
      assert(Ddl.sequencesFromJdbc(connB, bUrl) == seqs)
      // and the replayed sequence actually serves: first value = START WITH
      val st = connB.createStatement()
      val rs = st.executeQuery("VALUES NEXT VALUE FOR \"ORDER_SEQ\"")
      try { assert(rs.next() && rs.getInt(1) == 5) } finally rs.close()
      st.close()
    } finally connB.close()
  }
}
