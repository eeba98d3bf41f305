// Dev tool: dump formatted plans for plan review (not part of the library).
// Run: sbt "runMain graft.tools.Explain <sfDir> [id or name...]"
package graft.tools

object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val selected = graft.queries.Registry.select(args.drop(1).toSeq)
    val spark = graft.Harness.session("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    selected.foreach { q =>
      println(s"\n========== ${q.name} ==========")
      q.build(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
