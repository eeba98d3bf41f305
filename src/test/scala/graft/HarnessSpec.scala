package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The harness spine: the work collector counts exactly without sleeping,
  * `measure` frees what a query pinned and nothing else, and the session
  * follows `SPARK_GRAFT_CPUS`. */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark

  // specs share one session, and a snapshot made with no scope stays
  // pinned: start from a session that holds none
  override def beforeAll(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

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

  test("measure frees only what the body made: an earlier cache stays, also when it throws") {
    def persistent = spark.sparkContext.getPersistentRDDs.keySet
    val earlier = spark.range(0, 1000, 1, 2).selectExpr("id * 3 AS x").cache()
    assert(earlier.count() == 1000)
    val kept = persistent
    assert(kept.nonEmpty)
    try {
      Harness.measure(spark) {
        val mine = graft.ops.Materialize.local(spark.range(50).toDF(), eager = true)
        assert(mine.count() == 50 && persistent.size > kept.size)
        assert(earlier.where("x % 2 = 0").count() == 500)
      }
      assert(persistent == kept)
      val e = intercept[IllegalStateException] {
        Harness.measure(spark) {
          graft.ops.Materialize.cached(spark.range(70).toDF()).count()
          spark.range(80).localCheckpoint(eager = true)
          assert(persistent.size == kept.size + 2)
          throw new IllegalStateException("planted")
        }
      }
      assert(e.getMessage == "planted")
      assert(persistent == kept)
      assert(earlier.storageLevel.useMemory && earlier.count() == 1000)
    } finally earlier.unpersist(blocking = true)
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

/** Keeps the harness forks from growing back: session building and
  * listener registration live in `Harness.scala` only, materialising or
  * freeing snapshots in `Materialize.scala` only, and schema-less parquet
  * opens in `Tables.scala` only. The benchmark's own sources are not
  * scanned. */
class HarnessGuardSpec extends AnyFunSuite {
  private def offenders(roots: Seq[String], pattern: String,
      owner: String): Seq[String] =
    roots.flatMap { root =>
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala.toList finally walk.close()
    }.filter { p =>
      p.toString.endsWith(".scala") && p.getFileName.toString != owner &&
        pattern.r.findFirstIn(Files.readString(p)).isDefined
    }.map(_.toString).sorted

  test("only Harness builds a SparkSession, in main and in test") {
    val hits = offenders(Seq("src/main/scala", "src/test/scala"),
      """SparkSession\s*\.\s*builder""", "Harness.scala")
    assert(hits.isEmpty, s"build sessions through Harness.session: $hits")
  }

  test("only Harness registers a SparkListener in main") {
    val hits = offenders(Seq("src/main/scala"), "addSparkListener",
      "Harness.scala")
    assert(hits.isEmpty, s"count work with Harness.work: $hits")
  }

  test("only Materialize materialises or frees snapshots in main") {
    val hits = offenders(Seq("src/main/scala"),
      """localCheckpoint\(|\.persist\(|\.cache\(\)|unpersist\(|getPersistentRDDs""",
      "Materialize.scala")
    assert(hits.isEmpty, "make snapshots with Materialize.local or " +
      s"Materialize.cached, free them with Materialize.release or scope: $hits")
  }

  test("only Tables opens parquet without a schema in main") {
    val hits = offenders(Seq("src/main/scala"),
      """\.read\s*\.\s*parquet\(|format\("parquet"\)\s*\.\s*load\(""",
      "Tables.scala")
    assert(hits.isEmpty, "open parquet with Tables.parquet or Tables.load, " +
      s"which read the schema from a footer instead of running a job: $hits")
  }

  test("only PersistedIndex renames files in main") {
    val hits = offenders(Seq("src/main/scala"), """\.rename\(""",
      "PersistedIndex.scala")
    assert(hits.isEmpty, "replace a directory with PersistedIndex.publish, " +
      s"which a killed process cannot leave half-swapped: $hits")
  }

  test("no Scaladoc block in main sits directly above another") {
    // a doc block followed (blank lines only between) by another attaches
    // to nothing: the second one shadows it
    val orphan = """(?m)\*/[ \t]*\n(?:[ \t]*\n)*[ \t]*/\*\*"""
    val hits = offenders(Seq("src/main/scala"), orphan, "")
    assert(hits.isEmpty, "merge or move each doc block onto its def: " +
      hits.mkString(", "))
  }
}
