package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The harness spine: the work collector counts exactly without sleeping,
  * `measure` frees what a query pinned, and the session follows
  * `SPARK_GRAFT_CPUS`. */
class HarnessSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // one shuffle: range over 4 partitions → partial agg → exchange → agg
  private def groupCount(): Int =
    spark.range(0, 10000, 1, 4).groupBy((col("id") % 7).as("k")).count()
      .collect().length

  test("the collector counts one shuffle exactly, 20 times over, with no sleep") {
    val (groups, _, w) = Harness.measure(spark)(groupCount())
    assert(groups == 7)
    // AQE runs the map stage as its own job (4 tasks), then the result
    // job over the coalesced shuffle (1 task; its map stage is skipped)
    assert((w.jobs, w.stages, w.tasks) == ((2L, 2L, 5L)), w)
    assert(w.shuffleWrite > 0 && w.shuffleRead > 0, w)
    assert(w.maxStageShuffleWrite == w.shuffleWrite, w)
    (1 to 20).foreach { i =>
      val (_, _, again) = Harness.measure(spark)(groupCount())
      assert((again.jobs, again.stages, again.tasks) == ((w.jobs, w.stages, w.tasks)),
        s"repetition $i: $again vs $w")
      assert(again.shuffleWrite > 0, s"repetition $i: $again")
    }
  }

  test("a snapshot delta covers only the work after its base") {
    val work = Harness.work(spark)
    val before = work.snapshot()
    spark.range(10).collect()
    val after = work.snapshot(before)
    assert(after.jobs == 1 && after.stages == 1 && after.shuffleWrite == 0, after)
    assert(work.snapshot(work.snapshot()).jobs == 0)
  }

  test("measure frees every persistent RDD the body pinned, also when it throws") {
    def pinned = spark.sparkContext.getPersistentRDDs.size
    Harness.measure(spark) {
      spark.range(100).localCheckpoint(eager = true).count()
      assert(pinned > 0)
    }
    assert(pinned == 0)
    val e = intercept[IllegalStateException] {
      Harness.measure(spark) {
        spark.range(100).localCheckpoint(eager = true)
        assert(pinned > 0)
        throw new IllegalStateException("planted")
      }
    }
    assert(e.getMessage == "planted")
    assert(pinned == 0)
  }

  test("Harness.cpus follows SPARK_GRAFT_CPUS, else the processor count") {
    assert(Harness.cpusFrom(Map("SPARK_GRAFT_CPUS" -> "7")) == 7)
    assert(Harness.cpusFrom(Map("SPARK_GRAFT_CPUS" -> " 32 ")) == 32)
    assert(Harness.cpusFrom(Map.empty) ==
      Runtime.getRuntime.availableProcessors())
    // the test session pins its cores: one count for master and partitions
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }
}

/** Keeps the harness forks from growing back: session building, listener
  * registration and the persistent-RDD sweep live in `Harness.scala`
  * only. The benchmark's own sources are not scanned. */
class HarnessGuardSpec extends AnyFunSuite {
  private def offenders(roots: Seq[String], pattern: String): Seq[String] =
    roots.flatMap { root =>
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala.toList finally walk.close()
    }.filter { p =>
      p.toString.endsWith(".scala") && p.getFileName.toString != "Harness.scala" &&
        pattern.r.findFirstIn(Files.readString(p)).isDefined
    }.map(_.toString).sorted

  test("only Harness builds a SparkSession, in main and in test") {
    val hits = offenders(Seq("src/main/scala", "src/test/scala"),
      """SparkSession\s*\.\s*builder""")
    assert(hits.isEmpty, s"build sessions through Harness.session: $hits")
  }

  test("only Harness registers a SparkListener or sweeps persistent RDDs in main") {
    val hits = offenders(Seq("src/main/scala"),
      """addSparkListener|getPersistentRDDs""")
    assert(hits.isEmpty,
      s"count work with Harness.work and release with Harness.measure: $hits")
  }
}
