package graft

import scala.sys.process._
import org.scalatest.funsuite.AnyFunSuite

/** Testdata-drift guard round-trip: graft.Verify stamps its dump with
  * per-table source fingerprints; tools/oracle_check.py recomputes them
  * against the live testdata and refuses to compare on mismatch. This spec
  * pins (a) the Scala/Python fingerprint parity the guard depends on,
  * (b) the loud exit-2 refusal on a doctored fingerprint, (c) that an
  * empty oracle set fails instead of passing vacuously and (d) what
  * [[Verify.dump]] writes.
  *
  * Requires python3 + duckdb (driver-side tooling, present in the build
  * container); cancels cleanly where they are absent. */
class VerifyManifestSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def pythonReady: Boolean =
    scala.util.Try(
      Seq("python3", "-c", "import duckdb").! == 0).getOrElse(false)

  private def writeDump(dir: java.nio.file.Path, fp: String,
      oracle: String = "{}"): Unit = {
    java.nio.file.Files.writeString(dir.resolve("manifest.json"),
      s"""{"sf_dir": "$sf", "written_at_ms": 0, "tables": {"region": {"fingerprint": "$fp", "rows": 5}}}""")
    java.nio.file.Files.writeString(dir.resolve("oracle_sql.json"), oracle)
  }

  private def oracleCheck(dir: java.nio.file.Path): (Int, String) = {
    val out = new StringBuilder
    val code = Process(Seq("python3", "tools/oracle_check.py", sf, dir.toString))
      .!(ProcessLogger(l => { out ++= l; out += '\n' }, _ => ()))
    (code, out.toString)
  }

  test("oracle_check accepts a manifest stamped with the live fingerprint") {
    assume(pythonReady, "python3+duckdb unavailable")
    val dir = tempDir("graft_manifest_ok")
    val fp = graft.ops.PersistedIndex.sourceFingerprint(spark, s"$sf/region.parquet")
    SparkEntry.queries("k4_limit_pinned")(spark, sf).coalesce(1)
      .write.parquet(dir.resolve("k4_limit_pinned").toString)
    writeDump(dir, fp, """{"k4_limit_pinned": "SELECT c_custkey FROM """ +
      """customer ORDER BY c_custkey LIMIT 10"}""")
    // exit 0: manifest gate passes (Python recomputes the SAME fingerprint
    // — the parity the guard depends on) and the one query compares clean
    val (code, out) = oracleCheck(dir)
    assert(code == 0, s"expected pass-through on a matching fingerprint: $out")
    assert(out.contains("checked=1 failed=0"), out)
  }

  test("oracle_check fails an empty oracle set instead of passing") {
    assume(pythonReady, "python3+duckdb unavailable")
    val dir = tempDir("graft_manifest_empty")
    val fp = graft.ops.PersistedIndex.sourceFingerprint(spark, s"$sf/region.parquet")
    writeDump(dir, fp)
    val (code, out) = oracleCheck(dir)
    assert(code != 0, s"an empty oracle set passed: $out")
    assert(out.contains("checked=0 failed=0"), out)
  }

  test("Verify.dump writes the selection's oracle and stamps Tables.all") {
    val dir = tempDir("graft_verify_dump")
    Verify.dump(spark, sf, dir.toString,
      graft.queries.Registry.select(Seq("k4")))
    def read(f: String) = java.nio.file.Files.readString(dir.resolve(f))
    assert(read("oracle_sql.json") == "{\"k4_limit_pinned\": \"SELECT " +
      "c_custkey FROM customer ORDER BY c_custkey LIMIT 10\"}")
    val stamped = "\"(\\w+)\": \\{\"fingerprint\"".r
      .findAllMatchIn(read("manifest.json")).map(_.group(1)).toSeq
    assert(stamped == Tables.all)
    assert(spark.read.parquet(dir.resolve("k4_limit_pinned").toString)
      .count() == 10)
  }

  test("oracle_check refuses loudly on a doctored fingerprint") {
    assume(pythonReady, "python3+duckdb unavailable")
    val dir = tempDir("graft_manifest_bad")
    writeDump(dir, "0" * 32)
    val err = new StringBuilder
    val code = Process(Seq("python3", "tools/oracle_check.py", sf, dir.toString))
      .!(ProcessLogger(_ => (), l => { err ++= l; err += '\n' }))
    assert(code == 2, s"expected refusal exit 2, got $code")
    assert(err.toString.contains("REFUSING to compare"), err.toString)
  }
}
