package graft

import java.util.concurrent.{ConcurrentHashMap, ExecutionException,
  ExecutorCompletionService, Executors}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.anonymise.Anonymiser
import graft.config.{Config, TableConfig}
import graft.plan.SubsetPlanner
import graft.sinks.{JdbcSink, JdbcSinkConfig, ParquetSink, SqlTextSink}
import graft.sources.{Drivers, JdbcReadOptions, Resolved}

/** The whole pipeline (≅ `klepto steal`, cmd/steal.go:52-132):
  * catalog → subset plan → anonymise → sink, per table.
  *
  * Reference semantics:
  *   - the SOURCE catalog is the table list of record; config only
  *     customizes (dumper/engine/engine.go:76-79) — unconfigured tables
  *     are copied whole;
  *   - `IgnoreData` tables dump structure only;
  *   - per-table concurrency bounded by a semaphore-like pool, default
  *     NumCPU (dumper/engine/engine.go:88-126, cmd/steal.go:71). Spark
  *     note: tables are independent jobs, so we submit them from parallel
  *     driver threads and let the scheduler interleave stages. Tables are
  *     submitted largest-first (longest-processing-time order), so the
  *     biggest table — the steal's critical path — never waits behind
  *     small ones.
  *
  * Each source table is opened once per steal and shared: planner chains
  * and whole-table copies subset against the same `DataFrame`, so every
  * child sees the same file listing (or JDBC schema) of its parent and no
  * open is paid twice.
  *
  * Deliberate upgrade (SURVEY §7.4.6): fail-fast by default; the
  * reference's log-and-continue per-table error policy is behind
  * `bestEffort = true`.
  */
object Steal {

  final case class StealReport(
      table: String, rows: Long, ok: Boolean, error: Option[String])

  /** Lake directory → lake directory, both parquet. */
  def run(
      spark: SparkSession,
      sourceDir: String,
      targetDir: String,
      tables: Seq[TableConfig],
      secret: String = "graft",
      concurrency: Int = Runtime.getRuntime.availableProcessors(),
      dataOnly: Boolean = false,
      bestEffort: Boolean = false): Seq[StealReport] =
    pipeline(spark, Resolved.File(sourceDir, "parquet"),
      Resolved.File(targetDir, "parquet"), tables, secret, concurrency,
      dataOnly, bestEffort)

  /** DSN-routed variant (≅ `klepto steal --from <dsn> --to <dsn>`,
    * cmd/steal.go:21-44): both DSNs resolve through the driver registry
    * ([[graft.sources.Drivers]]), then run the same [[pipeline]]. */
  def runDsn(
      spark: SparkSession,
      fromDsn: String,
      toDsn: String,
      tables: Seq[TableConfig],
      secret: String = "graft",
      concurrency: Int = Runtime.getRuntime.availableProcessors(),
      dataOnly: Boolean = false,
      bestEffort: Boolean = false,
      out: java.io.Writer = new java.io.PrintWriter(System.out),
      readOpts: JdbcReadOptions = JdbcReadOptions(),
      writeTimeout: Int = 30,
      writeMaxConns: Int = 5,
      pushdownScan: Boolean = false): Seq[StealReport] =
    pipeline(spark, Drivers.resolve(fromDsn), Drivers.resolve(toDsn), tables,
      secret, concurrency, dataOnly, bestEffort, out, readOpts, writeTimeout,
      writeMaxConns, pushdownScan)

  /** The one steal pipeline over resolved endpoints: `Resolved.Jdbc` →
    * JDBC, `Resolved.File` → lake files, `Resolved.Console` → SQL-text
    * dump (W4, a target only).
    *
    * `out` overrides the console writer (klepto's writer selection,
    * `pkg/dumper/query/writer.go:11-33`; injectable for tests).
    * `readOpts`, `writeTimeout` and `writeMaxConns` are the connection
    * governance of a JDBC source and target, with reference-matching
    * defaults (cmd/steal.go:72-79, COVERAGE.md §2.1).
    *
    * `pushdownScan` is the DSv2 total-pushdown leg (VERDICT r12 #4): a
    * JDBC source's CONFIGURED tables plan through a registered
    * JDBCTableCatalog, so Catalyst compiles Filter.Limit + Sorts into the
    * remote SQL (PushedTopN / PushedLimit — the reference's
    * engine.go:158-163 contract, which the V1 path can only approximate
    * with a streaming CollectLimit). Off by default: unconfigured full
    * copies, and configs without a limit, want the V1 PK-partitioned
    * parallel cursors instead — a V2 JDBC scan is one remote query, the
    * right shape only when pushdown shrinks the answer at the source. */
  def pipeline(
      spark: SparkSession,
      source: Resolved,
      target: Resolved,
      tables: Seq[TableConfig],
      secret: String = "graft",
      concurrency: Int = Runtime.getRuntime.availableProcessors(),
      dataOnly: Boolean = false,
      bestEffort: Boolean = false,
      out: java.io.Writer = new java.io.PrintWriter(System.out),
      readOpts: JdbcReadOptions = JdbcReadOptions(),
      writeTimeout: Int = 30,
      writeMaxConns: Int = 5,
      pushdownScan: Boolean = false): Seq[StealReport] = {
    val sized = Drivers.catalog(spark, source) // source of record
    val catalog = sized.map(_._1)
    // a configured table the catalog does not list would never be dumped
    // under its config, while the catalog's own spelling of it (engines
    // fold case) would be copied whole and un-anonymised: fail first
    val unlisted = tables.map(_.name).filterNot(catalog.contains)
    if (unlisted.nonEmpty) throw new IllegalArgumentException(unlisted.map { t =>
      val sameIgnoringCase = catalog.filter(_.equalsIgnoreCase(t))
      s"configured table '$t' is not in the source catalog" +
        sameIgnoringCase.map(c => s" (catalog has '$c')").mkString
    }.mkString("; "))
    val read = once(Drivers.read(spark, source, _, readOpts))
    val configuredLoad = source match {
      case jdbc: Resolved.Jdbc if pushdownScan => once(Drivers.catalogLoader(
        spark, Drivers.catalogNameFor(jdbc), jdbc, readOpts))
      case _ => read
    }
    val planner = new SubsetPlanner(configuredLoad, tables, knownTables = catalog)
    val byName = tables.map(t => t.name -> t).toMap

    /** Writes one table into the target; returns the rows written. */
    def write(df: DataFrame, name: String): Long = target match {
      case Resolved.File(path, "parquet") =>
        counted(df)(ParquetSink.write(_, path, name, dataOnly))
      case Resolved.File(path, format) =>
        counted(df)(_.write.mode("overwrite").format(format)
          .option("header", "true").save(s"$path/$name.$format"))
      case Resolved.Console(_) =>
        // single writer: serialize table dumps like the reference's text
        // dumper (its Dump deliberately ignores concurrency,
        // query/dumper.go:52-99)
        out.synchronized { SqlTextSink.write(df, name, out, dataOnly) }
      case Resolved.Jdbc(url, props) =>
        counted(df)(JdbcSink.write(_, JdbcSinkConfig(url, name, props,
          queryTimeout = writeTimeout, maxConns = writeMaxConns)))
    }

    def dumpTable(name: String): StealReport = try {
      val subset =
        if (byName.contains(name)) planner.plan(name)
        else read(name) // unconfigured: full copy
      val anonymised =
        Anonymiser(subset, byName.getOrElse(name, TableConfig(name)), secret)
      StealReport(name, write(anonymised, name), ok = true, None)
    } catch {
      case e: Exception if bestEffort =>
        StealReport(name, 0, ok = false, Some(e.getMessage))
    }

    // largest first; the sort is stable, so equal (or unknown JDBC) sizes
    // keep catalog order
    val dispatch = sized.sortBy(-_._2).map(_._1)
    val reports = runPool(dispatch, concurrency)(dumpTable)
      .map(r => r.table -> r).toMap
    catalog.map(reports)
  }

  /** Memoizes `open` per table for one steal, safely across pool threads. */
  private def once(open: String => DataFrame): String => DataFrame = {
    val opened = new ConcurrentHashMap[String, DataFrame]
    t => opened.computeIfAbsent(t, open(_))
  }

  /** Runs `write` over `df` with a row-count observation attached, so the
    * count comes from the write's OWN execution — a re-read of the output
    * (or a `count()` on the source) would cost one extra Spark job per
    * table. */
  private def counted(df: DataFrame)(write: DataFrame => Unit): Long = {
    val obs = new Observation()
    write(df.observe(obs, count(lit(1)).as("rows")))
    obs.get("rows").asInstanceOf[Long]
  }

  /** Bounded per-table pool (reference: dumper/engine/engine.go:88-126):
    * runs `work` over `items` in their order, at most `concurrency` at a
    * time, and returns the results in that order. Results are taken as
    * they complete, so the FIRST failure — not the first in submission
    * order — cancels every item not yet started and rethrows the original
    * cause at once. Items already running are neither interrupted nor
    * waited for: a write stopped mid-commit is worse than one that
    * finishes, and the failure should not wait behind the longest table.
    * A bestEffort steal's work never throws, so every table still runs. */
  private[graft] def runPool[A, B](items: Seq[A], concurrency: Int)(
      work: A => B): Seq[B] = {
    val pool = Executors.newFixedThreadPool(math.max(concurrency, 1))
    try {
      val done = new ExecutorCompletionService[B](pool)
      val futures = items.map(a => done.submit(() => work(a)))
      items.foreach { _ =>
        try done.take().get()
        catch {
          case e: ExecutionException =>
            futures.foreach(_.cancel(false))
            throw Option(e.getCause).getOrElse(e)
        }
      }
      futures.map(_.get())
    } finally pool.shutdown()
  }

  /** A command-line endpoint: a DSN (`<type>://…`) or raw `jdbc:` URL
    * resolves through the driver registry; anything else is a parquet
    * directory, taken verbatim — the DSN grammar would mangle a path
    * holding `@` or parentheses. */
  private[graft] def endpoint(arg: String): Resolved =
    if (arg.startsWith("jdbc:") || arg.contains("://")) Drivers.resolve(arg)
    else Resolved.File(arg, "parquet")

  /** CLI-ish entry: `Steal <sourceDirOrDsn> <targetDirOrDsn> [configPath]`. */
  def main(args: Array[String]): Unit = {
    val tables = if (args.length > 2) Config.loadFile(args(2)) else Nil
    val spark = Harness.session("graft-steal")
    spark.sparkContext.setLogLevel("WARN")
    try {
      // connection-governance env knobs, CLI-flag parity with the
      // reference's steal command (cmd/steal.go:72-79); defaults match
      def envInt(k: String, d: Int) = sys.env.get(k).map(_.toInt).getOrElse(d)
      val readOpts = JdbcReadOptions(
        timeout = envInt("GRAFT_READ_TIMEOUT", 300),
        maxConns = envInt("GRAFT_READ_MAX_CONNS", 5),
        fetchSize = envInt("GRAFT_READ_FETCH_SIZE", 10000))
      val (reports, seconds, work) = Harness.measure(spark) {
        pipeline(spark, endpoint(args(0)), endpoint(args(1)), tables,
          readOpts = readOpts,
          writeTimeout = envInt("GRAFT_WRITE_TIMEOUT", 30),
          writeMaxConns = envInt("GRAFT_WRITE_MAX_CONNS", 5),
          pushdownScan = sys.env.get("GRAFT_READ_PUSHDOWN").exists(_.toBoolean))
      }
      reports.foreach { r =>
        println(s"[steal] ${r.table}: rows=${r.rows} ok=${r.ok}" +
          r.error.map(e => s" error=$e").getOrElse(""))
      }
      println(f"[steal] tables=${reports.size} rows=${reports.map(_.rows).sum} " +
        f"jobs=${work.jobs} stages=${work.stages} " +
        f"shuffle_mb=${work.shuffleWrite / 1e6}%.1f " +
        f"spill_mb=${(work.memSpill + work.diskSpill) / 1e6}%.1f " +
        f"seconds=$seconds%.2f")
      if (reports.exists(!_.ok)) sys.exit(1)
    } finally spark.stop()
  }
}
