package graft.sinks

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, Steal, Tables, TempDirs}
import graft.config.Config
import graft.sources.Resolved

/** DSN-routed steal (≅ `klepto steal --from <dsn> --to <dsn>`,
  * cmd/steal.go:21-44): source/target resolve through the driver registry,
  * with the `os://stdout/` text-dump path injectable for assertion
  * (≅ `pkg/dumper/query/writer_test.go:11-30`). */
class DsnStealSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark
  private val srcDsn = "file://path(/root/testdata/sf0.001)/?format=parquet"

  test("file:// → file:// parquet copy is value-identical") {
    val dir = tempDir("graft_dsn_steal").toString
    val reports = Steal.runDsn(spark, srcDsn,
      s"file://path($dir)/?format=parquet", tables = Nil, concurrency = 4)
    assert(reports.size == Tables.all.size && reports.forall(_.ok))
    val src = Tables.load(spark, "/root/testdata/sf0.001", "region")
    val dst = spark.read.parquet(s"$dir/region.parquet")
    assert(dst.exceptAll(src).isEmpty && src.exceptAll(dst).isEmpty)
  }

  test("file:// → os:// dumps CREATE TABLE + INSERTs per table, subset applied") {
    val cfg = Config.load(
      """[[Tables]]
        |  Name = "nation"
        |  [Tables.Filter]
        |    Match = "n_nationkey < 5"
        |  [Tables.Anonymise]
        |    n_name = "literal:X"
        |""".stripMargin)
    val sw = new java.io.StringWriter()
    val reports = Steal.runDsn(spark, srcDsn, "os://stdout/", cfg,
      concurrency = 2, out = sw)
    assert(reports.forall(_.ok))
    // counted as the rows reach the writer
    assert(reports.find(_.table == "nation").map(_.rows).contains(5L), reports)
    val text = sw.toString
    for (t <- Tables.all)
      assert(text.contains(s"CREATE TABLE $t ("), s"missing DDL for $t")
    assert(text.contains("INSERT INTO nation"))
    // subset + literal anonymise reached the text sink
    val nationInserts = text.linesIterator
      .dropWhile(!_.startsWith("INSERT INTO nation")).takeWhile(_.nonEmpty)
      .mkString("\n")
    assert(nationInserts.contains("'X'"))
    assert(!nationInserts.contains("NATION_7"))
  }

  test("main() routes DSNs and jdbc: URLs through the registry, plain paths verbatim") {
    assert(Steal.endpoint("jdbc:derby:memory:x") match {
      case Resolved.Jdbc("jdbc:derby:memory:x", _) => true
      case _ => false
    })
    // the DSN grammar would read these as user@address and protocol(address)
    assert(Steal.endpoint("/tmp/a@b/lake") == Resolved.File("/tmp/a@b/lake", "parquet"))
    assert(Steal.endpoint("/tmp/run(1)/lake") ==
      Resolved.File("/tmp/run(1)/lake", "parquet"))
    Steal.endpoint("postgres://u:p@h:5432/db") match {
      case Resolved.Jdbc(url, props) =>
        assert(url == "jdbc:postgresql://h:5432/db")
        assert(props.getProperty("user") == "u")
      case other => fail(other.toString)
    }
  }

  test("main() arg routing wraps plain dirs as file DSNs") {
    // plain-dir pair must behave exactly like before (delegates to run)
    val dir = tempDir("graft_dsn_main").toString
    val reports = Steal.run(spark, "/root/testdata/sf0.001", dir, Nil,
      concurrency = 2)
    assert(reports.forall(_.ok))
  }
}
