package stealbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.{Connection, DriverManager}

/** The embedded-Derby side of `db_subset_db`.
  *
  * The source database is built ONCE per checkout on disk (explicit DDL,
  * Derby's bulk CSV import) and then, per set-up, copied into an in-memory
  * database with `createFrom`, so every operation reads the same bytes
  * without paying a row-by-row load. Targets are fresh in-memory databases
  * per operation and are dropped once read back.
  */
object Derby {

  /** Explicit DDL: strings are VARCHAR (Spark's default CLOB mapping makes
    * Derby reject the pushed-down `C_MKTSEGMENT = '…'`), and primary keys
    * sit on the tables that have a unique key. `lineitem` has none: only
    * 456,861 of its 600,000 (l_orderkey, l_linenumber) pairs are distinct,
    * so it is read through a single cursor. */
  val ddl: Seq[(String, String)] = Seq(
    "REGION" -> "R_REGIONKEY INTEGER NOT NULL, R_NAME VARCHAR(25)",
    "NATION" -> ("N_NATIONKEY INTEGER NOT NULL, N_NAME VARCHAR(25), " +
      "N_REGIONKEY INTEGER"),
    "CUSTOMER" -> ("C_CUSTKEY BIGINT NOT NULL PRIMARY KEY, C_NAME VARCHAR(32), " +
      "C_NATIONKEY INTEGER, C_ACCTBAL DOUBLE, C_MKTSEGMENT VARCHAR(16)"),
    "SUPPLIER" -> ("S_SUPPKEY BIGINT NOT NULL PRIMARY KEY, S_NAME VARCHAR(32), " +
      "S_NATIONKEY INTEGER, S_ACCTBAL DOUBLE"),
    "PART" -> ("P_PARTKEY BIGINT NOT NULL PRIMARY KEY, P_NAME VARCHAR(32), " +
      "P_BRAND VARCHAR(16), P_TYPE VARCHAR(16), P_SIZE INTEGER, " +
      "P_RETAILPRICE DOUBLE"),
    "ORDERS" -> ("O_ORDERKEY BIGINT NOT NULL PRIMARY KEY, O_CUSTKEY BIGINT, " +
      "O_ORDERSTATUS VARCHAR(1), O_TOTALPRICE DOUBLE, O_ORDERDATE TIMESTAMP, " +
      "O_ORDERPRIORITY VARCHAR(16)"),
    "LINEITEM" -> ("L_ORDERKEY BIGINT, L_PARTKEY BIGINT, L_SUPPKEY BIGINT, " +
      "L_LINENUMBER INTEGER, L_QUANTITY DOUBLE, L_EXTENDEDPRICE DOUBLE, " +
      "L_DISCOUNT DOUBLE, L_TAX DOUBLE, L_RETURNFLAG VARCHAR(1), " +
      "L_LINESTATUS VARCHAR(1), L_SHIPDATE TIMESTAMP"),
    "EVENTS" -> ("EVENT_ID BIGINT NOT NULL PRIMARY KEY, TS TIMESTAMP, " +
      "USER_ID BIGINT, EVENT_TYPE VARCHAR(16), VALUE DOUBLE, " +
      "PROPS VARCHAR(32)"))

  def withConn[T](url: String)(f: Connection => T): T = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  /** Build the on-disk source from the lake's import CSVs. */
  def prepare(csvDir: String, dbDir: String): Unit = {
    withConn(s"jdbc:derby:$dbDir;create=true") { c =>
      val st = c.createStatement()
      ddl.foreach { case (t, cols) =>
        st.execute(s"CREATE TABLE $t ($cols)")
        val cs = c.prepareCall(
          "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(NULL, ?, ?, ',', '\"', 'UTF-8', 0)")
        cs.setString(1, t)
        cs.setString(2, new File(csvDir, s"${t.toLowerCase}.csv").getAbsolutePath)
        cs.execute()
        cs.close()
      }
      st.close()
    }
    shutdown(s"jdbc:derby:$dbDir;shutdown=true")
  }

  /** In-memory copy of the prepared source; returns its JDBC URL. */
  def boot(name: String, dbDir: String): String = {
    withConn(s"jdbc:derby:memory:$name;createFrom=$dbDir")(_ => ())
    s"jdbc:derby:memory:$name"
  }

  def drop(name: String): Unit = shutdown(s"jdbc:derby:memory:$name;drop=true")

  /** Derby signals a successful shutdown/drop with an SQLException. */
  private def shutdown(url: String): Unit =
    try DriverManager.getConnection(url).close()
    catch { case _: java.sql.SQLException => () }

  /** Dump every table of `url` as `<dir>/<TABLE>.csv` (header row; every
    * non-NULL value double-quoted, NULL as an empty field) through plain
    * JDBC, so the checker reads back what the sink committed without
    * going through Spark. Returns total rows. */
  def dump(url: String, dir: File): Long = withConn(url) { c =>
    dir.mkdirs()
    val tables = {
      val rs = c.getMetaData.getTables(null, c.getSchema, "%", Array("TABLE"))
      val b = Seq.newBuilder[String]
      while (rs.next()) b += rs.getString("TABLE_NAME")
      rs.close(); b.result()
    }
    tables.map { t =>
      val w = new BufferedWriter(new OutputStreamWriter(
        new FileOutputStream(new File(dir, s"$t.csv")), UTF_8), 1 << 20)
      val st = c.createStatement()
      val rs = st.executeQuery(s"SELECT * FROM \"$t\"")
      val md = rs.getMetaData
      val n = md.getColumnCount
      def q(s: String) = "\"" + s.replace("\"", "\"\"") + "\""
      w.write((1 to n).map(i => q(md.getColumnName(i).toLowerCase)).mkString(","))
      w.write("\n")
      var rows = 0L
      while (rs.next()) {
        var i = 1
        while (i <= n) {
          if (i > 1) w.write(",")
          val v = rs.getString(i)
          if (v != null) w.write(q(v))
          i += 1
        }
        w.write("\n")
        rows += 1
      }
      rs.close(); st.close(); w.close()
      rows
    }.sum
  }
}
