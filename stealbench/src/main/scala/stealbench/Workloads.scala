package stealbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.plans.logical.Project

import graft.{SparkEntry, Steal, Tables}
import graft.anonymise.Anonymiser
import graft.config.{Config, TableConfig}
import graft.plan.SubsetPlanner
import graft.sinks.{JdbcSink, JdbcSinkConfig, ParquetSink, SqlTextSink}
import graft.sources.{Drivers, JdbcReadOptions}

/** What the Python front end generated from the seed. */
final case class Params(
    workload: String,
    seconds: Double,
    trace: Boolean,
    cpus: Int,
    lake: String,
    work: File,
    config: String,     // TOML path ("" = no config)
    secret: String,
    order: Seq[String], // query visit order (queries workload)
    derbySrc: String)   // prepared on-disk Derby source (db workload)

/** One closed-loop client: one operation at a time, each writing a fresh
  * output `rep`. Outputs of the cold rep and of the latest rep are kept
  * for the checker; every other rep is retired as soon as it is replaced. */
abstract class Workload(val p: Params) {
  def setup(spark: SparkSession): Unit = ()
  def teardown(): Unit = ()
  /** One timed operation; returns the rows it wrote per table. */
  def op(spark: SparkSession, rep: Int): Map[String, Long]
  def outBytes(rep: Int): Long = 0L
  def retire(rep: Int): Unit = ()
  /** Leave `rep`'s output where the checker reads it (`out/rep<k>`). */
  def export(rep: Int): Unit = ()
  /** Traced decomposition of one operation into layer calls. */
  def decompose(spark: SparkSession, t: Tracer, opSpan: Span, rep: Int,
      rows: Map[String, Long]): Map[String, Double]

  def outDir(rep: Int): File = new File(p.work, s"out/rep$rep")
}

object Workload {
  /** The one untimed warm-up operation, between the cold rep 0 and the
    * timed reps. */
  val WarmupRep = 1

  def apply(p: Params): Workload = p.workload match {
    case "lake_subset_parquet" => new LakeSubsetParquet(p)
    case "lake_full_sqltext" => new LakeFullSqlText(p)
    case "db_subset_db" => new DbSubsetDb(p)
    case "queries" => new Queries(p)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmrf)
    f.delete()
  }

  /** Bytes of data files under `f` (Hadoop's `.crc`/`_SUCCESS` markers
    * excluded). */
  def dataBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(dataBytes).sum
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else f.length()

  def writer(f: File): BufferedWriter = new BufferedWriter(
    new OutputStreamWriter(new FileOutputStream(f), UTF_8), 1 << 20)
}

/** The three steals share one decomposition: config, catalog, then per
  * table source open + scan, subset plan, anonymise and sink, each prefix
  * executed into `noop` so a layer's execution self time is the
  * difference between consecutive prefixes. */
abstract class StealWorkload(p: Params) extends Workload(p) {
  protected def tables(): Seq[TableConfig] =
    if (p.config.isEmpty) Nil else Config.loadFile(p.config)
  protected def catalog(spark: SparkSession): Seq[String]
  protected def loader(spark: SparkSession): String => DataFrame
  /** Write `df` as `table` into this iteration's trace sink; returns the
    * units written (data files, INSERT statements or rows). */
  protected def sinkWrite(df: DataFrame, table: String, iter: Int): Long
  protected def sinkDone(iter: Int): Unit = ()
  protected def sinkBytes(iter: Int, table: String): Long = 0L

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  def decompose(spark: SparkSession, t: Tracer, opSpan: Span, rep: Int,
      rows: Map[String, Long]): Map[String, Double] = {
    val (_, root) = t.span("decompose", "steal") {}
    val m = collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val (cfg, cfgSpan) = t.span("config.load", "config", parent = root.id)(tables())
    val (cat, catSpan) = t.span("sources.catalog", "sources", parent = root.id)(catalog(spark))
    val load = loader(spark)
    val planner = new SubsetPlanner(load, cfg, knownTables = cat)
    val byName = cfg.map(c => c.name -> c).toMap
    var serial = Seq.empty[Double]
    var outBytes = 0L
    cat.foreach { name =>
      val (_, tbl) = t.span(name, "steal", name, root.id) {}
      def layer[T](l: String, what: String)(body: => T): (T, Span) =
        t.span(s"$l.$what", l, name, tbl.id)(body)
      // a prefix into noop runs twice and keeps the faster run, so the
      // differences between prefixes are not dominated by run-to-run noise
      def prefix(l: String, df: DataFrame): Span =
        Seq(layer(l, "exec")(noop(df))._2, layer(l, "exec")(noop(df))._2).minBy(_.durNs)
      val (src, open) = layer("sources", "open")(load(name))
      val scan = prefix("sources", src)
      m("sources.open_s") += open.seconds
      m("sources.scan_s") += scan.seconds
      m("sources.rows_in") += t.subtree(scan.id).scanRows
      m("sources.scan_partitions") += t.subtree(scan.id).resultStageTasks
      val c = byName.getOrElse(name, TableConfig(name))
      var prev = scan.seconds
      val planned = if (!byName.contains(name)) src else {
        val (df, build) = layer("plan", "build")(planner.plan(name))
        val exec = prefix("plan", df)
        m("plan.build_s") += build.seconds
        m("plan.exec_s") += exec.seconds - prev
        m("plan.shuffle_mb") += t.subtree(exec.id).shuffleWriteBytes / 1e6
        prev = exec.seconds
        df
      }
      val anonymised = if (c.anonymise.isEmpty) planned else {
        val (df, build) = layer("anonymise", "build")(Anonymiser(planned, c, p.secret))
        val exec = prefix("anonymise", df)
        m("anonymise.build_s") += build.seconds
        m("anonymise.exec_s") += exec.seconds - prev
        prev = exec.seconds
        df
      }
      val (units, sink) = layer("sinks", "write")(sinkWrite(anonymised, name, rep))
      val sinkStats = t.subtree(sink.id)
      m("sinks.write_s") += sink.seconds - prev
      m("sinks.driver_s") += t.driverSeconds(sink)
      m("sinks.statements") += units
      m("sinks.write_tasks") = math.max(m("sinks.write_tasks"),
        sinkStats.resultStageTasks.toDouble)
      outBytes += sinkBytes(rep, name)
      // rows as the traced steal reported them; anonymised cells split by
      // how the projection computes them
      val n = rows.getOrElse(name, 0L).toDouble
      m("plan.rows_out") += n
      if (c.anonymise.nonEmpty) {
        val (udf, codegen) = anonymisedColumns(anonymised, c)
        m("anonymise.udf_cells") += udf * n
        m("anonymise.codegen_cells") += codegen * n
      }
      serial :+= sink.seconds
      t.close(tbl)
    }
    sinkDone(rep)
    t.close(root)
    m("config.load_ms") = cfgSpan.seconds * 1000
    m("sources.catalog_s") = catSpan.seconds
    m("plan.selectivity") =
      if (m("sources.rows_in") > 0) m("plan.rows_out") / m("sources.rows_in") else 0.0
    m("sinks.bytes_per_row") =
      if (m("plan.rows_out") > 0) outBytes / m("plan.rows_out") else 0.0
    m("sinks.out_mb") = outBytes / 1e6
    m("steal.tables") = cat.size.toDouble
    m("steal.serial_sum_s") = serial.sum
    m("steal.slowest_table_s") = if (serial.isEmpty) 0.0 else serial.max
    m("steal.parallel_eff") = serial.sum / (opSpan.seconds * p.cpus)
    m.toMap
  }

  /** (UDF-computed, codegen-computed) anonymised columns of `df`. */
  private def anonymisedColumns(df: DataFrame, c: TableConfig): (Int, Int) = {
    val specs = c.anonymise.map(_._1).toSet
    val anon = df.queryExecution.analyzed match {
      case pr: Project => pr.projectList.filter(n => specs.contains(n.name))
      case _ => Nil
    }
    val udf = anon.count(_.find(_.isInstanceOf[ScalaUDF]).isDefined)
    (udf, anon.size - udf)
  }
}

final class LakeSubsetParquet(p: Params) extends StealWorkload(p) {
  private val traceDir = new File(p.work, "trace_out")
  def op(spark: SparkSession, rep: Int): Map[String, Long] =
    Steal.run(spark, p.lake, outDir(rep).getPath, tables(), p.secret,
      concurrency = p.cpus).map(r => r.table -> r.rows).toMap
  override def outBytes(rep: Int): Long = Workload.dataBytes(outDir(rep))
  override def retire(rep: Int): Unit = Workload.rmrf(outDir(rep))
  protected def catalog(spark: SparkSession): Seq[String] = Tables.list(p.lake)
  protected def loader(spark: SparkSession): String => DataFrame =
    Tables.load(spark, p.lake, _)
  protected def sinkWrite(df: DataFrame, table: String, iter: Int): Long = {
    ParquetSink.write(df, traceDir.getPath, table)
    Option(new File(traceDir, s"$table.parquet").listFiles()).getOrElse(Array.empty)
      .count(_.getName.startsWith("part-")).toLong
  }
  override protected def sinkBytes(iter: Int, table: String): Long =
    Workload.dataBytes(new File(traceDir, s"$table.parquet"))
  override protected def sinkDone(iter: Int): Unit = Workload.rmrf(traceDir)
}

final class LakeFullSqlText(p: Params) extends StealWorkload(p) {
  private val lakeDsn = s"file://path(${p.lake})/?format=parquet"
  private def outFile(rep: Int) = new File(p.work, s"out/rep$rep.sql")
  private val traceFile = new File(p.work, "trace_out.sql")
  private var traceOut: BufferedWriter = _
  private var lastBytes = 0L
  def op(spark: SparkSession, rep: Int): Map[String, Long] = {
    outFile(rep).getParentFile.mkdirs()
    val w = Workload.writer(outFile(rep))
    try Steal.runDsn(spark, lakeDsn, "os://stdout/", tables(), p.secret,
      concurrency = p.cpus, out = w).map(r => r.table -> r.rows).toMap
    finally w.close()
  }
  override def outBytes(rep: Int): Long = outFile(rep).length()
  override def retire(rep: Int): Unit = outFile(rep).delete()
  protected def catalog(spark: SparkSession): Seq[String] =
    Drivers.listTables(spark, lakeDsn)
  protected def loader(spark: SparkSession): String => DataFrame =
    Drivers.read(spark, lakeDsn, _)
  protected def sinkWrite(df: DataFrame, table: String, iter: Int): Long = {
    if (traceOut == null) traceOut = Workload.writer(traceFile)
    val counting = new CountingWriter(traceOut)
    SqlTextSink.write(df, table, counting)
    lastBytes = counting.bytes
    counting.inserts
  }
  override protected def sinkBytes(iter: Int, table: String): Long = lastBytes
  override protected def sinkDone(iter: Int): Unit = {
    if (traceOut != null) traceOut.close()
    traceOut = null
    traceFile.delete()
  }
}

/** Counts characters and INSERT statements passing to the SQL-text sink's
  * writer. */
final class CountingWriter(under: java.io.Writer) extends java.io.Writer {
  var bytes = 0L
  var inserts = 0L
  override def write(s: String): Unit = {
    bytes += s.length
    if (s.startsWith("INSERT INTO")) inserts += 1
    under.write(s)
  }
  def write(cbuf: Array[Char], off: Int, len: Int): Unit = {
    bytes += len
    under.write(cbuf, off, len)
  }
  def flush(): Unit = under.flush()
  def close(): Unit = under.flush()
}

final class DbSubsetDb(p: Params) extends StealWorkload(p) {
  private var srcUrl = ""
  private val readOpts = JdbcReadOptions(maxConns = p.cpus)
  private def tgt(rep: Int) = s"tgt$rep"
  override def setup(spark: SparkSession): Unit =
    srcUrl = Derby.boot("src", p.derbySrc)
  override def teardown(): Unit = Derby.drop("src")
  def op(spark: SparkSession, rep: Int): Map[String, Long] =
    Steal.runDsn(spark, srcUrl, s"jdbc:derby:memory:${tgt(rep)};create=true",
      tables(), p.secret, concurrency = p.cpus, readOpts = readOpts,
      writeMaxConns = p.cpus).map(r => r.table -> r.rows).toMap
  override def retire(rep: Int): Unit = Derby.drop(tgt(rep))
  override def export(rep: Int): Unit = {
    Derby.dump(s"jdbc:derby:memory:${tgt(rep)}", outDir(rep))
    Derby.drop(tgt(rep))
  }
  protected def catalog(spark: SparkSession): Seq[String] =
    Drivers.listTables(spark, srcUrl)
  protected def loader(spark: SparkSession): String => DataFrame =
    Drivers.read(spark, srcUrl, _, readOpts)
  protected def sinkWrite(df: DataFrame, table: String, iter: Int): Long = {
    JdbcSink.write(df, JdbcSinkConfig(s"jdbc:derby:memory:trace$iter;create=true",
      table, maxConns = p.cpus))
    Derby.withConn(s"jdbc:derby:memory:trace$iter") { c =>
      val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM \"$table\"")
      rs.next(); rs.getLong(1)
    }
  }
  override protected def sinkDone(iter: Int): Unit = Derby.drop(s"trace$iter")
}

/** One pass over a fixed set of registered queries into `noop`, each
  * followed by the persistent-RDD sweep. */
final class Queries(p: Params) extends Workload(p) {
  private val names: Seq[String] = p.order.map { id =>
    SparkEntry.queries.keys.find(_.takeWhile(_ != '_') == id)
      .getOrElse(throw new IllegalArgumentException(s"no query $id"))
  }
  private def sweep(spark: SparkSession): Int = {
    val rdds = spark.sparkContext.getPersistentRDDs.values
    rdds.foreach(_.unpersist(blocking = false))
    rdds.size
  }
  /** Every pass runs into `noop` except the warm-up pass
    * ([[Workload.WarmupRep]]), whose outputs land as parquet for the
    * checker. */
  private def run(spark: SparkSession, name: String, rep: Int): Unit = {
    val w = SparkEntry.queries(name)(spark, p.lake).write.mode("overwrite")
    if (rep == Workload.WarmupRep) w.parquet(new File(p.work, s"out/queries/$name").getPath)
    else w.format("noop").save()
  }

  def op(spark: SparkSession, rep: Int): Map[String, Long] = {
    names.foreach { n => run(spark, n, rep); sweep(spark) }
    Map.empty
  }

  def decompose(spark: SparkSession, t: Tracer, opSpan: Span, rep: Int,
      rows: Map[String, Long]): Map[String, Double] = {
    val m = collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val (_, root) = t.span("pass", "ops") {}
    names.foreach { n =>
      val id = n.takeWhile(_ != '_')
      val (_, q) = t.span(n, "query", n, root.id) {}
      val (df, build) = t.span("ops.build", "ops", n, q.id)(SparkEntry.queries(n)(spark, p.lake))
      val (_, exec) = t.span("ops.exec", "ops", n, q.id)(
        df.write.mode("overwrite").format("noop").save())
      val (leaked, sw) = t.span("ops.sweep", "ops", n, q.id)(sweep(spark))
      m("ops.build_s") += build.seconds
      m("ops.exec_s") += exec.seconds
      m("ops.sweep_s") += sw.seconds
      m("ops.leaked_rdds") += leaked
      m(s"ops.${id}_s") = build.seconds + exec.seconds
      t.close(q)
    }
    t.close(root)
    m("ops.queries") = names.size.toDouble
    m.toMap
  }
}
