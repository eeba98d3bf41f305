package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.functions.{col, encode}
import org.scalatest.funsuite.AnyFunSuite

import graft.{Harness, SparkTestSession, TempDirs}

/** The phash and grid index probes: one pass of band-keyed anti-joins
  * that decides each batch row against each index row on its own, builds
  * the index's band keys once whether they broadcast or shuffle, and runs
  * no Spark job until the caller acts. */
class PerceptualProbeSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  // aEdit is a near-dup of a; b and c are far from a and from each other
  private val a = Array.tabulate[Byte](300)(i => ((i * 37 + 11) % 251).toByte)
  private val aEdit = { val x = a.clone(); x(50) = 0x7f; x }
  private val b = Array.tabulate[Byte](300)(i => ((i * i * 13 + 7) % 241).toByte)
  private val c = Array.tabulate[Byte](300)(i => ((i * 61 + 5) % 233).toByte)
  private def grid(x: Array[Byte]) = ByteStrideGridDecoder.decode(x)
  private def h(x: Array[Byte]) = Perceptual.dhashOfGrid(grid(x))

  private def ids(df: DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq.sorted

  private def index(kind: String, corpus: Seq[(Long, Array[Byte])]): String = {
    val path = tempDir(s"graft_probe_$kind").resolve("index").toString
    val media = corpus.toDF("doc_id", "content")
    if (kind == "grid") Perceptual.writeGridIndex(media, path)
    else Perceptual.writePhashIndex(media, path)
    path
  }

  test("the grid probe tests hash and grid of one index row, not of one id") {
    assert(java.lang.Long.bitCount(h(a) ^ h(b)) > 3)
    val idx = index("grid", Seq((1L, b)))
    val farGrid = grid(a).map(255 - _)
    val farHash = h(a) ^ 0x3ffL // 10 bits away
    // id 5 twice: a near hash with a far grid, a far hash with a near grid
    Perceptual.updateGridIndex(Seq((5L, h(a), farGrid), (5L, farHash, grid(a)))
      .toDF("doc_id", "phash", "grid"), idx)
    val batch = Seq((10L, a)).toDF("doc_id", "content")
    assert(ids(Perceptual.incrementalNewFromGridIndex(batch, idx)) == Seq(10L))
    // one row that is near in both rejects it
    Perceptual.updateGridIndex(Seq((6L, h(a) ^ 1L, grid(a)))
      .toDF("doc_id", "phash", "grid"), idx)
    assert(ids(Perceptual.incrementalNewFromGridIndex(batch, idx)).isEmpty)
  }

  test("the phash probe judges each batch row, also when a doc_id repeats") {
    val idx = index("phash", Seq((1L, a)))
    val out = Perceptual.incrementalNewFromPhashIndex(
        Seq((10L, aEdit), (10L, b), (11L, c)).toDF("doc_id", "content"), idx)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sortBy(_._2)
    assert(out == Seq(10L -> h(b), 11L -> h(c)).sortBy(_._2))
  }

  test("building either probe runs no job; an ns82 tick runs 6 jobs") {
    val work = Harness.work(spark)
    // a batch behind a shuffle-or-broadcast join, as ns82's family join
    val docs = graft.Tables.load(spark, sf, "documents")
    val batch = docs.as("d")
      .join(docs.as("o"), col("o.doc_id") === col("d.doc_id") - col("d.doc_id") % 5)
      .select(col("d.doc_id").as("doc_id"), encode(col("o.text"), "UTF-8").as("content"))
    val (phashIdx, gridIdx) = (index("phash", Seq((1L, a))), index("grid", Seq((1L, a))))
    val before = work.snapshot()
    Perceptual.incrementalNewFromPhashIndex(batch, phashIdx)
    Perceptual.incrementalNewFromGridIndex(batch, gridIdx)
    assert(work.snapshot(before).jobs == 0)

    val ns82 = graft.SparkEntry.queries("ns82_phash_lifecycle")
    ns82(spark, sf).collect() // the base index builds once per source
    val tick = work.snapshot()
    // family join, probe, ingest and update at build; second probe at noop
    ns82(spark, sf).write.format("noop").mode("overwrite").save()
    assert(work.snapshot(tick).jobs == 6)
  }

  /** The exchanges in `plan` whose rows carry the index's band keys: the
    * kind of each one made, and how many reuse one. */
  private object Plans extends AdaptiveSparkPlanHelper {
    def bandKeyExchanges(plan: SparkPlan): (Seq[String], Int) = {
      def keyed(p: SparkPlan) = p.output.exists(_.name == "band_key")
      (collect(plan) { case e: Exchange if keyed(e) => e.getClass.getSimpleName },
        collect(plan) { case r: ReusedExchangeExec if keyed(r) => r }.size)
    }
  }

  test("past the broadcast threshold both probes shuffle the index once") {
    val corpus = Seq((1L, a), (2L, b))
    val batch = Seq((10L, aEdit), (11L, c), (12L, b)).toDF("doc_id", "content")
    val probes = Seq[String => DataFrame](
      Perceptual.incrementalNewFromPhashIndex(batch, _),
      Perceptual.incrementalNewFromGridIndex(batch, _))
    Seq("phash", "grid").zip(probes).foreach { case (kind, probe) =>
      val idx = index(kind, corpus)
      def run(): (Seq[Long], (Seq[String], Int)) = {
        val df = probe(idx)
        val out = ids(df)
        (out, Plans.bandKeyExchanges(df.queryExecution.executedPlan))
      }
      val (broadcastOut, broadcastPlan) = run()
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val old = spark.conf.getOption(key)
      spark.conf.set(key, "-1")
      val (shuffleOut, shufflePlan) =
        try run()
        finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      assert(broadcastOut == Seq(11L), kind)
      assert(shuffleOut == broadcastOut, kind)
      // one exchange of the band keys, reused by the other three joins
      assert(broadcastPlan == ((Seq("BroadcastExchangeExec"), 3)), kind)
      assert(shufflePlan == ((Seq("ShuffleExchangeExec"), 3)), kind)
    }
  }
}
