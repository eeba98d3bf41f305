package graft.ops

import java.util.concurrent.{Callable, CountDownLatch, ExecutorService,
  Executors, Future, TimeUnit}

import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, TempDirs}
import graft.streaming.StreamingPerceptual

/** `Materialize` owns every snapshot: a handle frees exactly itself, a
  * scope frees what it made and nothing else (not even what a scope on
  * another thread made at the same time), a lost block behind a
  * checkpoint fails the action instead of returning rows, and the
  * operators that loop or snapshot leave nothing pinned behind a scope. */
class MaterializeSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  private def persistent: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The RDD behind a local snapshot. */
  private def rddId(snapshot: DataFrame): Int =
    snapshot.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id

  private def await(latch: CountDownLatch): Unit =
    assert(latch.await(60, TimeUnit.SECONDS), "the other thread stalled")

  private def on[T](pool: ExecutorService)(body: => T): Future[T] =
    pool.submit(new Callable[T] { def call(): T = body })

  test("local snapshots pin at once, eager or lazy; a handle frees only itself") {
    val before = persistent
    val eager = Materialize.local(spark.range(10).toDF(), eager = true)
    val lazily = Materialize.local(spark.range(20).toDF(), eager = false)
    assert(persistent == before + rddId(eager) + rddId(lazily))
    Materialize.release(eager)
    assert(persistent == before + rddId(lazily))
    // a frame derived from a snapshot is not its handle
    Materialize.release(lazily.select("id"))
    assert(lazily.count() == 20 && persistent == before + rddId(lazily))
    Materialize.release(lazily)
    assert(persistent == before)
  }

  test("a scope frees what its body made, nested or thrown, and keeps the rest") {
    val pinned = Materialize.local(spark.range(5).toDF(), eager = true)
    val before = persistent
    Materialize.scope {
      assert(Materialize.local(spark.range(11).toDF(), eager = false)
        .count() == 11)
      assert(Materialize.cached(spark.range(12).toDF()).count() == 12)
      Materialize.scope {
        Materialize.local(spark.range(14).toDF(), eager = true)
      }
      assert(persistent.size == before.size + 2)
      assert(pinned.count() == 5)
    }
    assert(persistent == before)
    // a raw checkpoint did not go through here: no scope owns it
    val raw = Materialize.scope(spark.range(13).toDF().localCheckpoint(eager = true))
    assert(persistent == before + rddId(raw))
    raw.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.unpersist(blocking = true)
    val e = intercept[IllegalStateException] {
      Materialize.scope {
        Materialize.local(spark.range(15).toDF(), eager = true)
        throw new IllegalStateException("planted")
      }
    }
    assert(e.getMessage == "planted" && persistent == before)
    // made with no scope open: pinned until released by handle
    assert(persistent.contains(rddId(pinned)))
    Materialize.release(pinned)
  }

  test("Latest frees each round's predecessor and, on close, the last") {
    val before = persistent
    val rounds = new Materialize.Latest
    val first = rounds.replace(
      Materialize.local(spark.range(3).toDF(), eager = true))
    val second = rounds.replace(
      Materialize.local(first.selectExpr("id + 1 AS id"), eager = true))
    assert(persistent == before + rddId(second))
    assert(second.count() == 3)
    rounds.close()
    assert(persistent == before)
  }

  test("scopes open at once on two threads keep each other's snapshots") {
    // threads started before any scope opens: they inherit none
    val other, bare = Executors.newSingleThreadExecutor()
    Seq(other, bare).foreach(on(_)(()).get())
    try {
      val before = persistent
      val otherOpen, mineMade, otherDone = new CountDownLatch(1)
      // the other scope opens first and closes while mine still holds
      // snapshots it made after that
      val closed = on(other) {
        Materialize.scope {
          Materialize.local(spark.range(21).toDF(), eager = true)
          otherOpen.countDown()
          await(mineMade)
        }
        otherDone.countDown()
      }
      await(otherOpen)
      val unscoped = Materialize.scope {
        val local = Materialize.local(spark.range(22).toDF(), eager = true)
        val preCache = persistent
        val cached = Materialize.cached(spark.range(23).toDF())
        assert(cached.count() == 23)
        val cacheId = (persistent -- preCache).head
        // made on a thread with no scope open, while both scopes are open
        val unscoped = on(bare)(
          Materialize.local(spark.range(24).toDF(), eager = true)).get()
        mineMade.countDown()
        await(otherDone)
        assert(persistent.contains(rddId(local)) && persistent.contains(cacheId))
        assert(local.count() == 22 && cached.count() == 23)
        unscoped
      }
      closed.get(60, TimeUnit.SECONDS)
      assert(persistent == before + rddId(unscoped))
      assert(unscoped.count() == 24)
      Materialize.release(unscoped)
      assert(persistent == before)
    } finally Seq(other, bare).foreach(_.shutdown())
  }

  test("a scope that closes while another thread makes an eager snapshot keeps it") {
    // a thread started before any scope opens: it inherits none
    val pool = Executors.newSingleThreadExecutor()
    on(pool)(()).get()
    MaterializeSpec.inside = new CountDownLatch(1)
    MaterializeSpec.go = new CountDownLatch(1)
    try {
      val before = persistent
      // the other snapshot is persisted before its eager job runs, and the
      // job waits in partition 1 until this thread's scope has closed
      val gated = udf { (x: Long) =>
        if (x == 3L) {
          MaterializeSpec.inside.countDown()
          MaterializeSpec.go.await(60, TimeUnit.SECONDS)
        }
        x
      }
      val making = Materialize.scope {
        Materialize.local(spark.range(26).toDF(), eager = true)
        val making = on(pool)(Materialize.scope {
          val snap = Materialize.local(
            spark.range(0, 4, 1, 2).select(gated(col("id")).as("x")), eager = true)
          snap.collect().map(_.getLong(0)).sorted.toSeq
        })
        await(MaterializeSpec.inside)
        making
      }
      val inFlight = persistent -- before
      assert(inFlight.size == 1, inFlight)
      MaterializeSpec.go.countDown()
      assert(making.get(60, TimeUnit.SECONDS) == Seq(0L, 1L, 2L, 3L))
      assert(persistent == before)
    } finally { MaterializeSpec.go.countDown(); pool.shutdown() }
  }

  test("a thread started inside a scope makes its snapshots for that scope") {
    val before = persistent
    Materialize.scope {
      val pool = Executors.newFixedThreadPool(2)
      try {
        val made = on(pool)(
          Materialize.local(spark.range(25).toDF(), eager = true)).get()
        assert(made.count() == 25 && persistent == before + rddId(made))
      } finally pool.shutdown()
    }
    assert(persistent == before)
  }

  test("a lost block behind a checkpoint fails the action; a cached frame recomputes") {
    import spark.implicits._
    Materialize.scope {
      val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
        .toDF("doc_a", "doc_b")
      // the distributed loop: its labels are a snapshot the result reads
      val labels = Dedup.resolveClusters(pairs, driverResolveMaxEdges = 0L)
      val expected = labels.collect().toSet
      assert(expected.size == 6)
      val triangles = Graphs.triangleCounts(
        Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst"))
      for (snapshotted <- Seq(labels, triangles)) {
        snapshotted.queryExecution.analyzed.collectLeaves().foreach {
          case lr: LogicalRDD => lr.rdd.unpersist(blocking = true)
          case _ => ()
        }
        val e = intercept[SparkException](snapshotted.collect())
        assert(e.getMessage.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"),
          e.getMessage)
      }
      val preCache = persistent
      val cached = Materialize.cached(pairs.selectExpr("doc_a + doc_b AS s"))
      val rows = cached.collect().toSet
      (persistent -- preCache).foreach(id =>
        spark.sparkContext.getPersistentRDDs(id).unpersist(blocking = true))
      assert(cached.collect().toSet == rows)
    }
  }

  test("each snapshotting operator leaves the persistent RDDs as it found them") {
    import spark.implicits._
    val docs = Seq((1L, "the cat sat on the mat"), (2L, "the cat sat on a hat"),
      (3L, "a dog ran far away"), (4L, "the dog sat")).toDF("doc_id", "text")
    val blob = (k: Int) => Array.tabulate[Byte](300)(i => ((i * k + 7) % 251).toByte)
    val media = (ids: Seq[Long]) =>
      ids.map(i => (i, blob(i.toInt * 2 + 31))).toDF("doc_id", "content")
    val phash = tempDir("graft_mat_phash").resolve("index").toString
    Materialize.scope(Perceptual.writePhashIndex(media(Seq(1L, 2L)), phash))
    val cases: Seq[(String, () => Any)] = Seq(
      "resolveClusters" -> (() => Dedup.resolveClusters(
        Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b"),
        driverResolveMaxEdges = 0L).collect()),
      "Bpe.trainDistributed" -> (() =>
        Bpe.trainDistributed(docs, numMerges = 6, checkpointEvery = 2)),
      "pagerankInt" -> (() => Graphs.pagerankInt(
        Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst"),
        iterations = 6, checkpointEvery = 2).collect()),
      "linearizePaths" -> (() => Graphs.linearizePaths(
        Seq[(Long, Option[Long])]((1L, None), (2L, Some(1L)), (3L, Some(2L)),
          (4L, Some(3L))).toDF("id", "parent"), "id", "parent").collect()),
      "updatePhashIndex" -> (() => Perceptual.updatePhashIndex(
        Perceptual.incrementalNewFromPhashIndex(media(Seq(7L, 8L)), phash),
        phash)),
      "writeMinhashIndex" -> (() => Dedup.writeMinhashIndex(docs,
        tempDir("graft_mat_mh").resolve("index").toString)))
    val leaks = cases.flatMap { case (name, call) =>
      val before = persistent
      Materialize.scope(call())
      Some(name -> (persistent -- before)).filter(_._2.nonEmpty)
    }
    assert(leaks.isEmpty, leaks)
  }

  test("a streaming micro-batch leaves the persistent RDDs as it found them") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_mat_stream")
    val blob = (k: Int) => Array.tabulate[Byte](300)(i => ((i * k + 5) % 233).toByte)
    Materialize.scope(Perceptual.writePhashIndex(
      Seq((1L, blob(37))).toDF("doc_id", "content"),
      dir.resolve("index").toString))
    val before = persistent
    val in = MemoryStream[(Long, Array[Byte])]
    val q = StreamingPerceptual.indexedMediaIngestDedup(
      in.toDF().toDF("doc_id", "content"), dir.resolve("index").toString,
      dir.resolve("accepted").toString, dir.resolve("ckpt").toString)
    try {
      in.addData((2L, blob(61)), (3L, blob(13)))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.parquet(dir.resolve("accepted").toString).count() == 2)
    assert(persistent == before)
  }
}

/** The latches a task of the concurrent-scope case waits on: a static
  * field, since a task's closure is a deserialised copy. */
object MaterializeSpec {
  @volatile var inside, go = new CountDownLatch(0)
}
