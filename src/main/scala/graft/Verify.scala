package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.queries.{Query, Registry}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_VERIFY_ONLY=ns21,ns2_dedup_minhash (ids or full names)
    // restricts the dump and the oracle JSON for local iteration; an
    // unknown entry fails here, before any Spark work.
    val selected = Registry.select(sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty))
    val spark = Harness.session("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    dump(spark, sfDir, outDir, selected)
    spark.stop()
  }

  /** Writes `selected`'s results, their oracle_sql.json and the testdata
    * manifest.json under `outDir`. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      selected: Seq[Query]): Unit = {
    new java.io.File(outDir).mkdirs()
    for (Query(name, _, build, _) <- selected) {
      try Harness.measure(spark) {
        build(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a PRIOR run's green dump must not survive a failure: local
        // iteration reuses outDir, and a stale parquet here would make
        // the oracle compare pass on results the query no longer produces
        try {
          val dir = new org.apache.hadoop.fs.Path(s"$outDir/$name")
          dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(dir, true)
        } catch { case _: Throwable => () }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = selected.map(e => s"${q(e.name)}: ${q(e.oracle())}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Testdata-drift guard: stamp the dump with a per-table source
    // fingerprint (md5 over the sorted file listing with sizes+mtimes —
    // graft.ops.Dedup.sourceFingerprint, the same key the persisted
    // indexes use). tools/oracle_check.py recomputes the fingerprints
    // against the LIVE testdata and refuses to compare when they differ,
    // so a testdata regeneration between dump and compare fails loudly
    // instead of silently reddening correctness cells (the r6 ts
    // re-encoding and r7 ns71 burns).
    // per-table best-effort: a missing/unreadable table must not fail the
    // whole dump at the stamping step (the queries are already written);
    // it simply goes unguarded, and oracle_check's per-table loop skips it
    val tableEntries = Tables.all.flatMap { t =>
      val path = s"$sfDir/$t.parquet"
      try {
        val fp = graft.ops.Dedup.sourceFingerprint(spark, path)
        val rows = spark.read.parquet(path).count()
        Some(s"${q(t)}: {${q("fingerprint")}: ${q(fp)}, ${q("rows")}: $rows}")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] manifest skip $t: ${e.getMessage}")
        None
      }
    }.mkString("{", ",", "}")
    val manifest = s"{${q("sf_dir")}: ${q(sfDir)}, " +
      s"${q("written_at_ms")}: ${System.currentTimeMillis()}, " +
      s"${q("tables")}: $tableEntries}"
    Files.writeString(Paths.get(s"$outDir/manifest.json"), manifest)
  }
}
