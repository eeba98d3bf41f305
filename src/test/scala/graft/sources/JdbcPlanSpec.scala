package graft.sources

import java.sql.DriverManager

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.config.{Filter, TableConfig}
import graft.plan.SubsetPlanner

/** Physical-plan pins for the `Drivers.read` JDBC path (embedded Derby —
  * the in-JVM engine on Spark's classpath), the live-database twin of
  * PlanSpec's parquet pins. The reference executes the WHOLE subset
  * query inside the source database (`pkg/reader/engine/engine.go:136-167`
  * builds one SELECT with WHERE/ORDER/LIMIT); our contract is that a
  * `Match` predicate and the column projection reach the remote scan via
  * JDBC pushdown, so a 100-TB source table is filtered where it lives,
  * not shipped to Spark first. A refactor of `Drivers.read` (e.g. to a
  * `query` option, which disables V1 filter pushdown) would pass every
  * value check and silently start full-scanning the source — these pins
  * are what catches that.
  */
class JdbcPlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val url = "jdbc:derby:memory:graft_planspec;create=true"

  private lazy val fixture: Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("""CREATE TABLE accounts (
          |  id INT NOT NULL PRIMARY KEY,
          |  name VARCHAR(50) NOT NULL,
          |  balance DOUBLE,
          |  active SMALLINT
          |)""".stripMargin)
      (0 until 20).foreach(i => st.execute(
        s"INSERT INTO accounts VALUES ($i, 'name_$i', ${i * 10.0}, ${i % 2})"))
      st.close()
    } finally conn.close()
  }

  private def load: String => DataFrame = t => Drivers.read(spark, url, t)

  test("F1: Match predicate is pushed into the JDBC scan (PushedFilters)") {
    fixture
    val planner = new SubsetPlanner(load, Seq(TableConfig("ACCOUNTS",
      filter = Filter(matchExpr = "ACTIVE = 1 AND BALANCE > 50.0"))))
    val p = planner.plan("ACCOUNTS").queryExecution.executedPlan.toString
    assert(p.contains("JDBCRelation(ACCOUNTS"), p.take(1200))
    // the `*` prefix inside PushedFilters marks a filter the JDBC source
    // handles ENTIRELY (no Spark-side re-evaluation) — pin that, not just
    // membership: losing the star means the source stopped filtering
    assert(p.contains("*EqualTo(ACTIVE,1)"), p.take(1200))
    assert(p.contains("*GreaterThan(BALANCE,50.0)"), p.take(1200))
  }

  test("P1: column projection prunes the JDBC scan to the selected columns") {
    fixture
    val df = load("ACCOUNTS").select("ID", "NAME")
    val p = df.queryExecution.executedPlan.toString
    // V1 JDBC scans render their column list inline — BALANCE/ACTIVE must
    // not be fetched from the source
    assert(p.contains("JDBCRelation(ACCOUNTS"), p.take(1200))
    assert(!p.contains("BALANCE"), p.take(1200))
    assert(!p.contains("ACTIVE"), p.take(1200))
  }

  test("O2: limit over the JDBC scan stays a streaming CollectLimit " +
    "(no exchange, no full materialization barrier)") {
    fixture
    val planner = new SubsetPlanner(load, Seq(TableConfig("ACCOUNTS",
      filter = Filter(limit = 5))))
    val got = planner.plan("ACCOUNTS")
    val p = got.queryExecution.executedPlan.toString
    // Spark's V1 JDBC relation does not push LIMIT into the remote SQL
    // (that is the DSv2 JDBCTableCatalog's `pushDownLimit`); the honest
    // contract here is that the limit short-circuits the streamed JDBC
    // cursor — a CollectLimit directly over the scan, with NO shuffle and
    // no wide barrier between them. The reference pushes LIMIT textually
    // (`engine.go:158-163`); parity gap documented in COVERAGE.md.
    assert(p.contains("CollectLimit") || p.contains("GlobalLimit"),
      p.take(1200))
    assert(!p.contains("Exchange hashpartitioning"), p.take(1200))
    assert(got.count() == 5L)
  }

  test("PK-derived partitioned scan: N parallel range cursors whose union " +
    "is hash-identical to the single-cursor read (VERDICT r11 #1)") {
    fixture
    // default opts: maxConns=5, ACCOUNTS has integral PK ID spanning 0..19
    val part = Drivers.read(spark, url, "ACCOUNTS")
    assert(part.rdd.getNumPartitions == 5,
      s"expected 5 range partitions, got ${part.rdd.getNumPartitions}")
    val p = part.queryExecution.executedPlan.toString
    assert(p.contains("numPartitions=5"), p.take(1200))
    // the reference's exact single-cursor shape, for comparison
    val single = Drivers.read(spark, url, "ACCOUNTS",
      JdbcReadOptions(autoPartition = false))
    assert(single.rdd.getNumPartitions == 1)
    val a = part.orderBy("ID").collect().map(_.toSeq).toSeq
    val b = single.orderBy("ID").collect().map(_.toSeq).toSeq
    assert(a == b, "partitioned union must equal the single-cursor read")
    // filter pushdown composes with partitioning: both the range WHERE
    // and the Match predicate run at the source
    val filtered = part.filter("ACTIVE = 1")
    val fp = filtered.queryExecution.executedPlan.toString
    assert(fp.contains("*EqualTo(ACTIVE,1)"), fp.take(1200))
    assert(filtered.count() == 10L)
  }

  test("PK-less table falls back to the reference's single-cursor shape; " +
    "tiny key spans don't fan out past the span") {
    fixture
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE nopk_log (msg VARCHAR(20))")
      st.execute("INSERT INTO nopk_log VALUES ('a'), ('b')")
      st.execute("CREATE TABLE tiny (id INT NOT NULL PRIMARY KEY)")
      st.execute("INSERT INTO tiny VALUES (1), (2), (3)")
      st.close()
    } finally conn.close()
    assert(Drivers.read(spark, url, "NOPK_LOG").rdd.getNumPartitions == 1)
    // key span 1..3 < maxConns 5 → only as many range partitions as the
    // splitter can honor (hi - lo = 2), no empty cursors
    assert(Drivers.read(spark, url, "TINY").rdd.getNumPartitions == 2)
  }

  test("read/write governance options land in the JDBC scan " +
    "(--read-timeout/--read-max-conns/fetchsize parity, cmd/steal.go:72-75)") {
    fixture
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    // JDBCRelation/JDBCOptions are private[sql]; read the scan's option
    // map reflectively — the pin is on WHAT reaches the source relation,
    // not on Spark internals' shape
    def jdbcOpts(df: DataFrame): Map[String, String] = {
      val rel = df.queryExecution.analyzed.collect {
        case lr: LogicalRelation => lr.relation
      }.headOption.getOrElse(fail("no relation in plan"))
      val opts = rel.getClass.getMethod("jdbcOptions").invoke(rel)
      val params = opts.getClass.getMethod("parameters").invoke(opts)
        .asInstanceOf[scala.collection.Map[String, String]]
      params.map { case (k, v) => k.toLowerCase -> v }.toMap
    }
    val defaults = jdbcOpts(Drivers.read(spark, url, "ACCOUNTS"))
    assert(defaults.get("querytimeout").contains("300")) // 5 min default
    assert(defaults.get("fetchsize").contains("10000"))
    val custom = jdbcOpts(Drivers.read(spark, url, "ACCOUNTS",
      JdbcReadOptions(timeout = 42, maxConns = 2, fetchSize = 7)))
    assert(custom.get("querytimeout").contains("42"))
    assert(custom.get("fetchsize").contains("7"))
    assert(custom.get("numpartitions").contains("2"))
  }

  test("DSv2 catalog leg: LIMIT is pushed into the remote scan " +
    "(PushedLimit — the reference's engine.go:158-163 textual pushdown, " +
    "done by Catalyst; VERDICT r11 #2)") {
    fixture
    Drivers.registerCatalog(spark, "graftderby", Drivers.resolve(url))
    val df = spark.table("graftderby.APP.ACCOUNTS").limit(7)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedLimit"), p.take(2000))
    assert(df.count() == 7L)
    // top-k pushes as PushedTopN (ORDER BY + LIMIT in the remote SQL)
    val topk = spark.table("graftderby.APP.ACCOUNTS")
      .orderBy(org.apache.spark.sql.functions.col("BALANCE").desc).limit(3)
    val tp = topk.queryExecution.executedPlan.toString
    assert(tp.contains("PushedTopN"), tp.take(2000))
    assert(topk.collect().map(_.getAs[Double]("BALANCE")).toSeq ==
      Seq(190.0, 180.0, 170.0))
    // aggregates push too (PushedAggregates/PushedGroupByExpressions):
    // the source computes COUNT/SUM, Spark only merges partials
    import org.apache.spark.sql.functions.{count, sum}
    val agg = spark.table("graftderby.APP.ACCOUNTS")
      .groupBy("ACTIVE").agg(count("*").as("n"), sum("BALANCE").as("s"))
    val ap = agg.queryExecution.executedPlan.toString
    assert(ap.contains("PushedAggregates"), ap.take(2000))
    assert(agg.collect().map(r =>
      (r.getInt(0), r.getLong(1))).sortBy(_._1).toSeq ==
      Seq((0, 10L), (1, 10L)))
  }

  test("DSN-supplied partitioning wins over PK derivation in ANY casing " +
    "(Spark's JDBC option map is case-insensitive)") {
    def props(ks: String*): java.util.Properties = {
      val p = new java.util.Properties()
      ks.foreach(k => p.setProperty(k, "x"))
      p
    }
    assert(Drivers.hasUserPartitioning(props("partitionColumn")))
    assert(Drivers.hasUserPartitioning(props("partitioncolumn")))
    assert(Drivers.hasUserPartitioning(props("PARTITIONCOLUMN")))
    assert(Drivers.hasUserPartitioning(props("NumPartitions")))
    assert(!Drivers.hasUserPartitioning(props("fetchsize", "user")))
  }

  test("MySQL reads inject useCursorFetch=true unless the DSN chose a " +
    "mode (Connector/J ignores fetchSize otherwise — the whole result " +
    "set would buffer in executor memory per partition cursor)") {
    def props(ks: String*): java.util.Properties = {
      val p = new java.util.Properties()
      ks.foreach(k => p.setProperty(k, "false"))
      p
    }
    val none = new java.util.Properties()
    assert(Drivers.wantsCursorFetch("jdbc:mysql://h:3306/db", none))
    // explicit property in any casing wins — even useCursorFetch=false
    assert(!Drivers.wantsCursorFetch(
      "jdbc:mysql://h:3306/db", props("useCursorFetch")))
    assert(!Drivers.wantsCursorFetch(
      "jdbc:mysql://h:3306/db", props("usecursorfetch")))
    // mode set in the URL query string wins
    assert(!Drivers.wantsCursorFetch(
      "jdbc:mysql://h:3306/db?useCursorFetch=true", none))
    // never injected for non-MySQL engines
    assert(!Drivers.wantsCursorFetch("jdbc:postgresql://h/db", none))
    assert(!Drivers.wantsCursorFetch("jdbc:derby:memory:x", none))
  }

  test("offset composes with the pushed limit over the DSv2 catalog " +
    "(offset stays Spark-side — Derby's grammar needs OFFSET before " +
    "FETCH, which the default builder can't emit)") {
    fixture
    Drivers.registerCatalog(spark, "graftderby", Drivers.resolve(url))
    val df = spark.table("graftderby.APP.ACCOUNTS")
      .orderBy(org.apache.spark.sql.functions.col("ID")).offset(2).limit(3)
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(2, 3, 4))
  }

  test("DSv2 STEAL path (flag-gated, VERDICT r12 #4): a config-built " +
    "Filter.Limit+Sorts subset plan carries PushedTopN in the remote " +
    "scan and is value-identical to the V1 path") {
    fixture
    // exactly what Steal.runDsn(pushdownScan = true) builds for its
    // SubsetPlanner: a loader through the registered catalog, with the
    // namespace resolved from the connection (Derby default schema = APP)
    assert(Drivers.defaultNamespace(Drivers.resolve(url)) == "APP")
    val loader = Drivers.catalogLoader(spark, "graft_src_spec", Drivers.resolve(url))
    val cfg = Seq(TableConfig("ACCOUNTS", filter = Filter(
      matchExpr = "ACTIVE = 1",
      sorts = Seq("BALANCE" -> "desc"), limit = 3)))
    val df = new SubsetPlanner(loader, cfg).plan("ACCOUNTS")
    val p = df.queryExecution.executedPlan.toString
    // the k3/k9 shape, executed AT THE SOURCE: ORDER BY + LIMIT (and the
    // Match predicate) compiled into the remote SQL by Catalyst — the
    // reference's engine.go:158-163 total-pushdown contract in the
    // product path, not just the raw-catalog spec above
    assert(p.contains("PushedTopN"), p.take(2000))
    assert(p.toLowerCase.contains("pushedfilters"), p.take(2000))
    // value-identical to the V1 leg under the same config (top-3 balances
    // of the active rows are unique, so the result set is deterministic)
    val v1 = new SubsetPlanner(load, cfg).plan("ACCOUNTS")
    assert(df.collect().map(_.toSeq).toSeq ==
      v1.collect().map(_.toSeq).toSeq)
  }

  test("DSv2 STEAL path with sorts but NO limit (VERDICT r13 #5): " +
    "PushedTopN is rightly absent, and the V2 plan stays value-identical " +
    "to the V1 path under the same config") {
    fixture
    val loader = Drivers.catalogLoader(spark, "graft_src_nolimit", Drivers.resolve(url))
    val cfg = Seq(TableConfig("ACCOUNTS", filter = Filter(
      matchExpr = "ACTIVE = 1", sorts = Seq("BALANCE" -> "desc"))))
    val df = new SubsetPlanner(loader, cfg).plan("ACCOUNTS")
    val p = df.queryExecution.executedPlan.toString
    // no limit → nothing to compile into FETCH FIRST: PushedTopN/
    // PushedLimit must NOT appear (their presence would mean Catalyst
    // invented a limit), while the Match predicate still pushes
    assert(!p.contains("PushedTopN") && !p.contains("PushedLimit"),
      p.take(2000))
    assert(p.toLowerCase.contains("pushedfilters"), p.take(2000))
    val v1 = new SubsetPlanner(load, cfg).plan("ACCOUNTS")
    // full ordered row-set equality — ACTIVE=1 balances are unique, so
    // the sort is total and both legs must agree row-for-row
    assert(df.collect().map(_.toSeq).toSeq ==
      v1.collect().map(_.toSeq).toSeq)
    assert(df.count() == 10L)
  }

  test("DSv2 catalog carries read governance (ADVICE r13 #2): " +
    "queryTimeout/fetchsize land in the catalog conf and the catalog " +
    "still serves reads; MySQL catalogs get useCursorFetch injected") {
    fixture
    Drivers.registerCatalog(spark, "graft_gov_spec", Drivers.resolve(url),
      JdbcReadOptions(timeout = 42, fetchSize = 7))
    assert(spark.conf.get(
      "spark.sql.catalog.graft_gov_spec.queryTimeout") == "42")
    assert(spark.conf.get(
      "spark.sql.catalog.graft_gov_spec.fetchsize") == "7")
    // the governed catalog still answers queries (the options reach
    // JDBCOptions without breaking the Derby leg)
    assert(spark.table("graft_gov_spec.APP.ACCOUNTS").count() == 20L)
    // MySQL: cursor-fetch injection (registration is conf-only, no
    // connection is opened, so a fake host is fine)
    Drivers.registerCatalog(
      spark, "graft_gov_my", Drivers.resolve("jdbc:mysql://h:3306/db"))
    assert(spark.conf.get(
      "spark.sql.catalog.graft_gov_my.useCursorFetch") == "true")
    // an explicit DSN mode choice is never overridden
    Drivers.registerCatalog(
      spark, "graft_gov_my2",
      Drivers.resolve("jdbc:mysql://h:3306/db?useCursorFetch=false"))
    assert(spark.conf.getOption(
      "spark.sql.catalog.graft_gov_my2.useCursorFetch").isEmpty)
  }

  test("catalogNameFor: stable per DSN, distinct across DSNs, plain " +
    "identifier (ADVICE r13 #4 — a second runDsn must not repoint the " +
    "first run's catalog)") {
    val a = Drivers.catalogNameFor(Drivers.resolve("jdbc:derby:memory:one"))
    assert(a == Drivers.catalogNameFor(Drivers.resolve("jdbc:derby:memory:one")))
    assert(a != Drivers.catalogNameFor(Drivers.resolve("jdbc:derby:memory:two")))
    // same URL, different user: the user rides in the properties
    assert(Drivers.catalogNameFor(Drivers.resolve("postgres://a@h:5432/db")) !=
      Drivers.catalogNameFor(Drivers.resolve("postgres://b@h:5432/db")))
    assert(a.matches("graft_src_[0-9a-f]{12}"))
  }

  test("catalog listing query itself is pushed as a source-side query " +
    "(no client-side view filtering)") {
    // listTables for mysql/postgres ships a information_schema QUERY to the
    // source (Drivers.listTablesQuery) — pin the dialect SQL shape so a
    // refactor can't regress to fetch-all-then-filter
    val my = Drivers.listTablesQuery("jdbc:mysql://h/db").get
    assert(my.contains("table_type = 'BASE TABLE'") && my.contains("DATABASE()"))
    val pg = Drivers.listTablesQuery("jdbc:postgresql://h/db").get
    assert(pg.contains("table_type = 'BASE TABLE'") &&
      pg.contains("NOT IN ('pg_catalog', 'information_schema')"))
  }
}
