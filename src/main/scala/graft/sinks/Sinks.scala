package graft.sinks

import java.io.Writer

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.types._

/** Write side (≅ klepto `pkg/dumper`). Three sinks, mirroring the
  * reference's drivers re-expressed for Spark's execution model:
  *
  *   - W1/W2 bulk DB load → [[JdbcSink]] (Spark JDBC batch writer + the
  *     reference's FK/trigger pre/post hooks as plain SQL hook lists);
  *   - W4 SQL-text dump → [[SqlTextSink]] (streams INSERTs through
  *     `toLocalIterator` — bounded driver memory; debug/export path only,
  *     SURVEY §7.4.8);
  *   - modern fidelity path → [[ParquetSink]] (atomic via the output
  *     committer; this is the 100 TB path).
  *
  * Structure dump (W5): the reference carries DDL as an opaque string
  * (`pkg/reader/mysql/reader.go:84-111`); Spark carries `StructType`
  * losslessly — [[ParquetSink]] persists it as schema JSON next to the
  * data, and [[SqlTextSink]] emits a `CREATE TABLE` header from
  * `schema.toDDL`.
  */
object ParquetSink {
  /** One `<dir>/<table>.parquet` per table (the testdata layout), plus
    * `<dir>/<table>.schema.json` (W5 structure analog). */
  def write(df: DataFrame, dir: String, table: String,
      dataOnly: Boolean = false): Unit = {
    df.write.mode(SaveMode.Overwrite).parquet(s"$dir/$table.parquet")
    if (!dataOnly) {
      // through the Hadoop FileSystem, like the data: `dir` may be a URI
      val p = new org.apache.hadoop.fs.Path(dir, s"$table.schema.json")
      val out = p.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
        .create(p, true)
      try out.write(df.schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
  }
}

/** SQL-text dumper (≅ `pkg/dumper/query/dumper.go:36-107`).
  *
  * Reference quirks deliberately NOT replicated (SURVEY §2.7): the
  * reference single-quotes every value including numbers
  * (`query/dumper.go:122-135`) and emits MySQL-only `INSERT ... SET`
  * syntax; we emit ANSI `INSERT INTO t (cols) VALUES (...)` with native
  * typed literals. Rows stream via `toLocalIterator` so only one
  * partition is resident on the driver at a time.
  */
object SqlTextSink {

  /** Returns the number of rows written. */
  def write(df: DataFrame, table: String, out: Writer,
      dataOnly: Boolean = false, batchRows: Int = 500): Long = {
    if (!dataOnly)
      out.write(s"CREATE TABLE $table (${df.schema.toDDL});\n")
    val cols = df.columns.map(quoteIdent).mkString(", ")
    val schema = df.schema
    val it = df.toLocalIterator()
    val batch = new scala.collection.mutable.ArrayBuffer[String](batchRows)
    var rows = 0L
    def flush(): Unit = if (batch.nonEmpty) {
      out.write(s"INSERT INTO $table ($cols) VALUES\n  ")
      out.write(batch.mkString(",\n  "))
      out.write(";\n")
      batch.clear()
    }
    while (it.hasNext) {
      batch += rowLiteral(it.next(), schema)
      rows += 1
      if (batch.size >= batchRows) flush()
    }
    flush()
    out.flush()
    rows
  }

  def quoteIdent(name: String): String = "\"" + name.replace("\"", "\"\"") + "\""

  def rowLiteral(row: Row, schema: StructType): String =
    schema.fields.indices.map(i => sqlLiteral(row.get(i), schema.fields(i).dataType))
      .mkString("(", ", ", ")")

  private val utcTs = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    .withZone(java.time.ZoneOffset.UTC)

  private[sinks] def utcTimestamp(i: java.time.Instant): String = utcTs.format(i)

  /** Typed SQL literal (vs the reference's stringify-everything,
    * `query/dumper.go:138-163`). Temporal values are formatted explicitly
    * in UTC — `java.sql.Timestamp.toString` renders in the JVM default
    * timezone, which would make dumps of identical data differ across
    * machines even though the engine pins spark.sql.session.timeZone=UTC. */
  def sqlLiteral(v: Any, dt: DataType): String = v match {
    case null => "NULL"
    case _ => dt match {
      case _: NumericType | BooleanType => v.toString
      case TimestampType | TimestampNTZType | DateType => v match {
        case ts: java.sql.Timestamp => s"'${utcTs.format(ts.toInstant)}'"
        case i: java.time.Instant => s"'${utcTs.format(i)}'"
        case t: java.time.LocalDateTime => s"'${utcTs.format(t)}'"
        case d: java.sql.Date => s"'${d.toLocalDate}'" // field-based, TZ-free
        case other => s"'${other.toString}'" // LocalDate: TZ-free
      }
      case BinaryType =>
        "X'" + v.asInstanceOf[Array[Byte]].map("%02x".format(_)).mkString + "'"
      case _: ArrayType | _: MapType | _: StructType =>
        s"'${v.toString.replace("'", "''")}'"
      case _ => s"'${v.toString.replace("'", "''")}'"
    }
  }
}

/** JDBC batch writer with the reference's constraint-bypass hooks
  * (W1-W3). The hooks are the same statements the reference issues —
  * `SET FOREIGN_KEY_CHECKS=0/1` (mysql/dumper.go:192-194),
  * `ALTER TABLE ... DISABLE/ENABLE TRIGGER ALL`
  * (postgres/dumper.go:81-121) — executed over a plain JDBC connection
  * before/after the distributed write.
  *
  * Transactionality: the reference does one txn per table
  * (mysql/dumper.go:74-99); a distributed write can't, so `staging=true`
  * writes to `<table>_graft_staging` and atomically renames after load
  * (SURVEY §7.4.7 staging-table-and-swap).
  */
/** `queryTimeout`/`maxConns` ≅ the reference's write flags
  * (`cmd/steal.go:76-79`): `--write-timeout` default 30 s →  the JDBC
  * writer's per-statement `queryTimeout`; `--write-max-conns` default 5 →
  * the writer's `numPartitions` option, which coalesces the frame so at
  * most that many concurrent connections ever hit the target. */
final case class JdbcSinkConfig(
    url: String,
    table: String,
    properties: java.util.Properties = new java.util.Properties(),
    batchSize: Int = 10000,
    preSql: Seq[String] = Nil,   // e.g. SET FOREIGN_KEY_CHECKS=0
    postSql: Seq[String] = Nil,  // e.g. SET FOREIGN_KEY_CHECKS=1
    staging: Boolean = false,
    queryTimeout: Int = 30,      // --write-timeout (seconds)
    maxConns: Int = 5)           // --write-max-conns

object JdbcSink {
  /** Hook statements klepto issues for each engine, for parity. */
  def mysqlHooks: (Seq[String], Seq[String]) =
    (Seq("SET FOREIGN_KEY_CHECKS=0"), Seq("SET FOREIGN_KEY_CHECKS=1"))
  def postgresTriggerHooks(tables: Seq[String]): (Seq[String], Seq[String]) = (
    tables.map(t => s"""ALTER TABLE "$t" DISABLE TRIGGER ALL"""),
    tables.map(t => s"""ALTER TABLE "$t" ENABLE TRIGGER ALL"""))

  /** One live FK constraint, as Postgres' catalog reports it
    * (postgres/dumper.go:97-103 `foreignKeyInfo`). */
  final case class PgForeignKey(table: String, name: String, definition: String)

  /** RDS mode (postgres/dumper.go:93-121): an RDS superuser may not
    * `DISABLE TRIGGER ALL`, so the reference drops every FK constraint in
    * the current schema before the load and re-creates it from the saved
    * definition after. The catalog query is the reference's, verbatim
    * semantics: constraint type 'f' in the current schema. */
  val postgresRdsFkQuery: String =
    """SELECT conrelid::regclass::varchar tableName,
      |  conname constraintName,
      |  pg_catalog.pg_get_constraintdef(r.oid, true) constraintDefinition
      |  FROM pg_catalog.pg_constraint r
      |  WHERE r.contype = 'f'
      |  AND r.connamespace = (SELECT n.oid FROM pg_namespace n WHERE n.nspname = current_schema())""".stripMargin

  /** Pre/post statement pairs for RDS mode, from a fetched FK list —
    * exactly the statements postgres/dumper.go:113-116,138-143 issues. */
  def postgresRdsHooks(fks: Seq[PgForeignKey]): (Seq[String], Seq[String]) = (
    fks.map(fk => s"""ALTER TABLE "${fk.table}" DROP CONSTRAINT "${fk.name}""""),
    fks.map(fk =>
      s"""ALTER TABLE "${fk.table}" ADD CONSTRAINT "${fk.name}" ${fk.definition}"""))

  /** Fetch the current schema's FK constraints over a plain connection
    * (the RDS-mode prelude). */
  def fetchPostgresForeignKeys(conn: java.sql.Connection): Seq[PgForeignKey] = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(postgresRdsFkQuery)
      val buf = collection.mutable.ArrayBuffer.empty[PgForeignKey]
      while (rs.next()) buf +=
        PgForeignKey(rs.getString(1), rs.getString(2), rs.getString(3))
      rs.close()
      buf.toSeq
    } finally st.close()
  }

  def write(df: DataFrame, cfg: JdbcSinkConfig): Unit = {
    val target = if (cfg.staging) s"${cfg.table}_graft_staging" else cfg.table
    // a prior failed run may have left a partially-loaded staging table —
    // appending into it would silently duplicate rows
    if (cfg.staging) dropIfExists(cfg, target)
    runSql(cfg, cfg.preSql)
    try {
      append(df, cfg, target)
      if (cfg.staging)
        swapSql(cfg.url, cfg.table, target, tableExists(cfg, cfg.table))
          .foreach(batch => runSqlTxn(cfg, batch))
    } finally runSql(cfg, cfg.postSql)
  }

  /** The one distributed append, into `table` of `cfg`'s database: JDBC
    * batches of `batchSize` rows, `queryTimeout` per statement, and the
    * frame coalesced to at most `maxConns` partitions — one connection
    * each. The coalesce is the writer's `numPartitions` option done by
    * hand: the option calls `df.rdd` before the write, which empties any
    * `Dataset.observe` metrics the caller attached (Steal's row counts). */
  private def append(df: DataFrame, cfg: JdbcSinkConfig, table: String): Unit =
    df.coalesce(cfg.maxConns).write.mode(SaveMode.Append)
      .option("batchsize", cfg.batchSize.toString)
      .option("queryTimeout", cfg.queryTimeout.toString)
      .jdbc(cfg.url,
        graft.sources.Drivers.quoteTableIfNeeded(cfg.url, table),
        cfg.properties)

  /** The staging→target swap, engine-aware so it is ATOMIC (a crash between
    * a separate DROP and RENAME would lose the target table entirely):
    * MySQL's multi-table `RENAME TABLE` is a single atomic statement
    * (the old target moves aside and is dropped in a second batch, which
    * is safe — the target name always resolves); everywhere else DDL is
    * transactional (Postgres/H2/SQLite), so DROP+RENAME run in one txn. */
  private[sinks] def swapSql(
      url: String, table: String, staging: String,
      targetExists: Boolean = true): Seq[Seq[String]] = {
    def q(t: String) = graft.sources.Drivers.quoteTableIfNeeded(url, t)
    if (url.startsWith("jdbc:mysql:"))
      Seq(
        Seq(s"DROP TABLE IF EXISTS ${q(s"${table}_graft_old")}",
          s"CREATE TABLE IF NOT EXISTS ${q(table)} LIKE ${q(staging)}",
          s"RENAME TABLE ${q(table)} TO ${q(s"${table}_graft_old")}, " +
            s"${q(staging)} TO ${q(table)}"),
        Seq(s"DROP TABLE IF EXISTS ${q(s"${table}_graft_old")}"))
    else if (url.startsWith("jdbc:derby:"))
      // Derby DDL is transactional but knows neither IF EXISTS nor
      // ALTER..RENAME — drop only when the target is actually there
      Seq((if (targetExists) Seq(s"DROP TABLE ${q(table)}") else Nil) :+
        s"RENAME TABLE ${q(staging)} TO ${q(table)}")
    else
      Seq(Seq(s"DROP TABLE IF EXISTS ${q(table)}",
        s"ALTER TABLE ${q(staging)} RENAME TO ${q(table)}"))
  }

  /** Runs `f` over a fresh driver-side connection to `cfg`'s database,
    * closing it after. */
  private def withConn[A](cfg: JdbcSinkConfig)(f: java.sql.Connection => A): A = {
    val conn = java.sql.DriverManager.getConnection(cfg.url, cfg.properties)
    try f(conn) finally conn.close()
  }

  private def tableExists(cfg: JdbcSinkConfig, table: String): Boolean =
    withConn(cfg) { conn =>
      Seq(table, table.toUpperCase, table.toLowerCase).distinct.exists { t =>
        val rs = conn.getMetaData.getTables(null, null, t, null)
        try rs.next() finally rs.close()
      }
    }

  private def dropIfExists(cfg: JdbcSinkConfig, table: String): Unit = {
    val t = graft.sources.Drivers.quoteTableIfNeeded(cfg.url, table)
    if (cfg.url.startsWith("jdbc:derby:"))
      try runSql(cfg, Seq(s"DROP TABLE $t"))
      catch { case _: java.sql.SQLException => () } // Derby has no IF EXISTS
    else runSql(cfg, Seq(s"DROP TABLE IF EXISTS $t"))
  }

  private def runSql(cfg: JdbcSinkConfig, stmts: Seq[String]): Unit =
    if (stmts.nonEmpty) withConn(cfg) { conn =>
      val st = conn.createStatement()
      stmts.foreach(st.execute)
      st.close()
    }

  /** Exactly-once per-epoch apply for a streaming `foreachBatch` JDBC
    * sink. Structured Streaming guarantees at-least-once delivery of
    * micro-batches to foreachBatch — after a crash the LAST epoch can be
    * replayed with the same `epochId` — so exactly-once is the sink's
    * job: make applying an epoch idempotent.
    *
    * Protocol (single logical writer per target, the streaming-query
    * contract):
    *   1. a ledger table `<table>_graft_epochs(epoch_id PK)` records
    *      applied epochs; a replayed epoch is skipped before any
    *      distributed work;
    *   2. the batch writes DISTRIBUTED into a per-epoch staging table
    *      (dropped first — a crashed attempt may have left partial rows,
    *      and appending would duplicate);
    *   3. one driver-side TRANSACTION moves rows engine-side
    *      (INSERT INTO target SELECT ... FROM staging, explicit column
    *      list so a pre-existing target's column order can't misalign)
    *      and inserts the epoch into the ledger. Crash before the commit:
    *      the ledger has no row, the replay redoes 2–3. Crash after: the
    *      replay sees the ledger row and skips. The ledger PK is the
    *      second line of defense if two writers ever race — the loser's
    *      transaction rolls back whole.
    *
    * The reference has no streaming mode (SURVEY §2.9); this is the
    * CDC-shaped extension of its per-table-transaction write
    * (`pkg/dumper/mysql/dumper.go:74-99`), with the txn boundary moved to
    * the epoch. Returns true if the epoch was applied, false if it was a
    * replay skip. */
  def writeEpoch(df: DataFrame, cfg: JdbcSinkConfig, epochId: Long): Boolean = {
    require(!cfg.staging,
      "writeEpoch manages its own per-epoch staging; set cfg.staging=false")
    def q(t: String) = graft.sources.Drivers.quoteTableIfNeeded(cfg.url, t)
    val ledger = s"${cfg.table}_graft_epochs"
    val stagingT = s"${cfg.table}_graft_epoch"
    if (!tableExists(cfg, ledger))
      runSql(cfg, Seq(
        s"CREATE TABLE ${q(ledger)} (epoch_id BIGINT NOT NULL PRIMARY KEY)"))
    if (epochApplied(cfg, ledger, epochId)) return false
    dropIfExists(cfg, stagingT)
    runSql(cfg, cfg.preSql)
    try {
      append(df, cfg, stagingT)
      if (!tableExists(cfg, cfg.table))
        runSql(cfg, Seq(createLikeSql(cfg.url, cfg.table, stagingT)))
      // ALWAYS-quoted, mirroring Spark's JdbcDialect.quoteIdentifier: the
      // staging table's columns were created quoted by the distributed
      // writer, so e.g. Derby holds case-sensitive lowercase names that an
      // unquoted reference would upcase past
      def qc(c: String): String =
        if (cfg.url.startsWith("jdbc:mysql:")) "`" + c.replace("`", "``") + "`"
        else "\"" + c.replace("\"", "\"\"") + "\""
      val cols = df.columns.map(qc).mkString(", ")
      runSqlTxn(cfg, Seq(
        s"INSERT INTO ${q(cfg.table)} ($cols) SELECT $cols FROM ${q(stagingT)}",
        s"INSERT INTO ${q(ledger)} (epoch_id) VALUES ($epochId)"))
      dropIfExists(cfg, stagingT)
      true
    } finally runSql(cfg, cfg.postSql)
  }

  /** Empty-copy DDL for the first epoch's target creation, per dialect. */
  private def createLikeSql(url: String, target: String, src: String): String = {
    def q(t: String) = graft.sources.Drivers.quoteTableIfNeeded(url, t)
    if (url.startsWith("jdbc:mysql:")) s"CREATE TABLE ${q(target)} LIKE ${q(src)}"
    else if (url.startsWith("jdbc:derby:"))
      s"CREATE TABLE ${q(target)} AS SELECT * FROM ${q(src)} WITH NO DATA"
    else s"CREATE TABLE ${q(target)} AS SELECT * FROM ${q(src)} WHERE 1=0"
  }

  private def epochApplied(
      cfg: JdbcSinkConfig, ledger: String, epochId: Long): Boolean =
    withConn(cfg) { conn =>
      val st = conn.prepareStatement("SELECT 1 FROM " +
        graft.sources.Drivers.quoteTableIfNeeded(cfg.url, ledger) +
        " WHERE epoch_id = ?")
      try {
        st.setLong(1, epochId)
        val rs = st.executeQuery()
        try rs.next() finally rs.close()
      } finally st.close()
    }

  /** Like runSql but all statements commit (or roll back) as ONE
    * transaction — the swap path. Engines that auto-commit DDL (MySQL)
    * don't go through here. */
  private def runSqlTxn(cfg: JdbcSinkConfig, stmts: Seq[String]): Unit =
    if (stmts.nonEmpty) withConn(cfg) { conn =>
      conn.setAutoCommit(false)
      try {
        val st = conn.createStatement()
        stmts.foreach(st.execute)
        st.close()
        conn.commit()
      } catch { case e: Throwable => conn.rollback(); throw e }
    }
}
