package graft.tools

import graft.Tables

/** Regenerates the default BPE merges resource
  * (`src/main/resources/graft/bpe_merges.txt`) by training
  * [[graft.ops.Bpe.train]] on a documents corpus — the provenance of the
  * shipped table. Usage:
  *
  * {{{ runMain graft.tools.GenBpeMerges <sfDir> <numMerges> <outFile> }}}
  */
object GenBpeMerges {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: GenBpeMerges <sfDir> <numMerges> <outFile>")
    val spark = graft.Harness.session("graft-gen-bpe")
    spark.sparkContext.setLogLevel("WARN")
    val docs = Tables.load(spark, args(0), "documents")
    val merges = graft.ops.Bpe.train(docs, args(1).toInt)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(args(2)),
      graft.ops.Bpe.formatText(merges).getBytes("UTF-8"))
    println(s"[gen-bpe] wrote ${merges.length} merges to ${args(2)}")
    spark.stop()
  }
}
