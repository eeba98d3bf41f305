// Dev tool: dump formatted plans for plan review (not part of the library).
// Run: sbt "runMain graft.tools.Explain <sfDir> [id or name...]"
package graft.tools

import org.apache.spark.sql.SparkSession

object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val selected = graft.queries.Registry.select(args.drop(1).toSeq)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    selected.foreach { q =>
      println(s"\n========== ${q.name} ==========")
      q.build(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
