package graft

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{ListenerBusBridge, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** The spine of every harness main and of the test session: one session
  * rule, one work collector and one run-and-release step, so every
  * harness runs with the same configuration and counts work the same way. */
object Harness {

  /** `SPARK_GRAFT_CPUS`, or the machine's processor count when unset. */
  def cpus: Int = cpusFrom(sys.env)

  private[graft] def cpusFrom(env: Map[String, String]): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A local session on `cpus` cores with as many shuffle partitions, UTC,
    * no UI. The caller sets its own log level. */
  def session(app: String, cpus: Int = Harness.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts may be parquet TIMESTAMP(NANOS): read it as LongType
      // nanos since epoch, which DuckDB orders the same way
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // the rdd package logs each freed localCheckpoint block at WARN; the
    // operators free only after the last consumer, so it is stderr noise.
    // `setLogLevel` sets only the root logger, so this holds at any level.
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }
    spark
  }

  /** Spark work: counts, and bytes of shuffle and spill;
    * `maxStageShuffleWrite` is the most any one stage wrote. */
  final case class Work(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
      shuffleRead: Long = 0, shuffleWrite: Long = 0, memSpill: Long = 0,
      diskSpill: Long = 0, maxStageShuffleWrite: Long = 0)

  /** Counts jobs started and stages completed with their tasks, shuffle
    * and spill, at zero extra Spark jobs. */
  final class Collector private[Harness] (sc: SparkContext)
      extends SparkListener {
    private var jobs, tasks, shRead, shWrite, memSpill, diskSpill = 0L
    private val stageWrites = ArrayBuffer.empty[Long] // one per stage

    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized(jobs += 1)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val m = Option(e.stageInfo.taskMetrics)
        tasks += e.stageInfo.numTasks
        stageWrites += m.fold(0L)(_.shuffleWriteMetrics.bytesWritten)
        m.foreach { m =>
          shWrite += m.shuffleWriteMetrics.bytesWritten
          shRead += m.shuffleReadMetrics.totalBytesRead
          memSpill += m.memoryBytesSpilled
          diskSpill += m.diskBytesSpilled
        }
      }

    /** The work since `since` (an earlier snapshot of this collector),
      * once the listener bus has delivered every event posted so far: an
      * action that returned before this call is counted in full. */
    def snapshot(since: Work = Work()): Work = {
      ListenerBusBridge.drain(sc)
      synchronized {
        Work(jobs - since.jobs, stageWrites.size - since.stages,
          tasks - since.tasks, shRead - since.shuffleRead,
          shWrite - since.shuffleWrite, memSpill - since.memSpill,
          diskSpill - since.diskSpill,
          stageWrites.view.drop(since.stages.toInt).foldLeft(0L)(math.max))
      }
    }
  }

  private val collectors = new ConcurrentHashMap[SparkContext, Collector]

  /** The session's collector, registered on first use. */
  def work(spark: SparkSession): Collector =
    collectors.computeIfAbsent(spark.sparkContext,
      sc => { val c = new Collector(sc); sc.addSparkListener(c); c })

  /** Runs one query with the context to itself: times `body` alone, then
    * frees what it persisted ([[graft.ops.Materialize.exclusive]]), also
    * when it throws, so blocks and their GC pauses do not pile onto later
    * queries. Returns the result, its seconds and its work. */
  def measure[T](spark: SparkSession)(body: => T): (T, Double, Work) = {
    val collector = work(spark)
    val before = collector.snapshot()
    val (result, seconds) = graft.ops.Materialize.exclusive(spark) {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    (result, seconds, collector.snapshot(before))
  }
}
