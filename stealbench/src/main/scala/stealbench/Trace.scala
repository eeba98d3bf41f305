package stealbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: `op → table → layer call`. Times are epoch ms
  * (comparable with Spark's job timestamps) plus a nanosecond duration. */
final class Span(val id: Int, val parent: Int, val name: String,
    val layer: String, val table: String) {
  var startMs: Long = 0L
  var durNs: Long = 0L
  def seconds: Double = durNs / 1e9
}

/** Engine counters of the jobs that ran under one span. */
final class SpanStats {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs, taskDurMs = 0L
  var spillBytes, shuffleWriteBytes = 0L
  var resultStageTasks = 0L
  var exchanges, broadcasts, scanRows = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Benchmark-side tracing: a SparkListener and a QueryExecutionListener,
  * registered by the benchmark only, that attribute engine work to the
  * span active when it was submitted. Attribution rides on a job-local
  * property; Spark copies local properties into threads created by the
  * submitting thread, so the per-table pool threads of `Steal` keep their
  * op's span. Spans stay in memory until [[json]] is written at exit. */
final class Tracer(spark: SparkSession) {
  import Tracer.SpanKey

  private val sc = spark.sparkContext
  private val nextId = new AtomicInteger(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stats = new ConcurrentHashMap[Int, SpanStats]()
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val resultStages = ConcurrentHashMap.newKeySet[Int]()
  @volatile private var current = -1

  private def statsOf(id: Int): SpanStats = stats.computeIfAbsent(id, _ => new SpanStats)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).foreach { s =>
          jobSpan.put(e.jobId, s)
          jobStart.put(e.jobId, e.time)
          e.stageIds.foreach(stageSpan.put(_, s))
          if (e.stageIds.nonEmpty) resultStages.add(e.stageIds.max)
          val st = statsOf(s)
          st.synchronized { st.jobs += 1 }
        }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.get(e.jobId)).foreach { s =>
        val st = statsOf(s)
        st.synchronized { st.jobIntervals += (jobStart.get(e.jobId) -> e.time) }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
        val st = statsOf(s)
        st.synchronized {
          st.stages += 1
          if (resultStages.contains(e.stageInfo.stageId))
            st.resultStageTasks = math.max(st.resultStageTasks, e.stageInfo.numTasks)
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val st = statsOf(s)
        val m = e.taskMetrics
        st.synchronized {
          st.tasks += 1
          st.taskDurMs += e.taskInfo.duration
          if (m != null) {
            st.cpuNs += m.executorCpuTime
            st.runMs += m.executorRunTime
            st.gcMs += m.jvmGCTime
            st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          }
        }
      }
  }

  private val qel = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
      val s = current
      if (s >= 0) {
        val (ex, bc, rows) = PlanStats.of(qe.executedPlan)
        val st = statsOf(s)
        st.synchronized {
          st.exchanges += ex; st.broadcasts += bc; st.scanRows += rows
        }
      }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def install(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qel)
  }

  def uninstall(): Unit = {
    org.apache.spark.StealbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qel)
  }

  /** Run `body` as a child span of `parent`; jobs it submits carry the
    * span id. The listener bus is drained before the span closes so every
    * event of its jobs is attributed before the next span starts. */
  def span[T](name: String, layer: String, table: String = "",
      parent: Int = -1)(body: => T): (T, Span) = {
    val sp = new Span(nextId.getAndIncrement(), parent, name, layer, table)
    spans.synchronized { spans += sp }
    val prevProp = sc.getLocalProperty(SpanKey)
    val prevCur = current
    sc.setLocalProperty(SpanKey, sp.id.toString)
    current = sp.id
    sp.startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = body
      sp.durNs = System.nanoTime() - t0
      (r, sp)
    } finally {
      if (sp.durNs == 0L) sp.durNs = System.nanoTime() - t0
      org.apache.spark.StealbenchBus.drain(sc)
      current = prevCur
      sc.setLocalProperty(SpanKey, prevProp)
    }
  }

  /** Stretch a grouping span (opened with an empty body) over the
    * children that ran after it. */
  def close(sp: Span): Unit =
    sp.durNs = (System.currentTimeMillis() - sp.startMs) * 1000000L

  /** Counters of a span and all of its descendants. */
  def subtree(id: Int): SpanStats = {
    val kids = spans.synchronized(spans.toList).groupBy(_.parent)
    val out = new SpanStats
    def add(i: Int): Unit = {
      Option(stats.get(i)).foreach { s =>
        out.jobs += s.jobs; out.stages += s.stages; out.tasks += s.tasks
        out.cpuNs += s.cpuNs; out.runMs += s.runMs; out.gcMs += s.gcMs
        out.taskDurMs += s.taskDurMs; out.spillBytes += s.spillBytes
        out.shuffleWriteBytes += s.shuffleWriteBytes
        out.resultStageTasks = math.max(out.resultStageTasks, s.resultStageTasks)
        out.exchanges += s.exchanges; out.broadcasts += s.broadcasts
        out.scanRows += s.scanRows; out.jobIntervals ++= s.jobIntervals
      }
      kids.getOrElse(i, Nil).foreach(k => add(k.id))
    }
    add(id)
    out
  }

  /** Seconds of `sp` during which none of its jobs was running: driver
    * work (planning, probes, formatting on the driver). */
  def driverSeconds(sp: Span): Double = {
    val end = sp.startMs + sp.durNs / 1000000L
    val iv = subtree(sp.id).jobIntervals
      .map { case (a, b) => (math.max(a, sp.startMs), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered, at = 0L
    iv.foreach { case (a, b) =>
      val s = math.max(a, at)
      if (b > s) { covered += b - s; at = b }
    }
    math.max(0.0, sp.seconds - covered / 1000.0)
  }

  /** The `spark.*` per-layer counters of a span subtree. */
  def sparkMetrics(sp: Span, cores: Int): Map[String, Double] = {
    val s = subtree(sp.id)
    Map(
      "spark.jobs" -> s.jobs.toDouble,
      "spark.stages" -> s.stages.toDouble,
      "spark.tasks" -> s.tasks.toDouble,
      "spark.task_cpu_s" -> s.cpuNs / 1e9,
      "spark.task_run_s" -> s.runMs / 1e3,
      "spark.gc_s" -> s.gcMs / 1e3,
      "spark.spill_mb" -> s.spillBytes / 1e6,
      "spark.shuffle_mb" -> s.shuffleWriteBytes / 1e6,
      "spark.exchanges" -> s.exchanges.toDouble,
      "spark.broadcasts" -> s.broadcasts.toDouble,
      "spark.exec_idle_s" -> math.max(0.0, cores * sp.seconds - s.taskDurMs / 1e3))
  }

  def json: String = Json.arr(spans.synchronized(spans.toList).map { sp =>
    val s = Option(stats.get(sp.id))
    Json.obj(
      "id" -> sp.id, "parent" -> sp.parent, "name" -> sp.name,
      "layer" -> sp.layer, "table" -> sp.table, "start_ms" -> sp.startMs,
      "dur_s" -> sp.seconds,
      "jobs" -> s.map(_.jobs).getOrElse(0L),
      "tasks" -> s.map(_.tasks).getOrElse(0L),
      "task_cpu_s" -> s.map(_.cpuNs / 1e9).getOrElse(0.0))
  })
}

object Tracer {
  val SpanKey = "stealbench.span"
}

/** Exchange/broadcast counts and scanned rows of an executed plan,
  * through adaptive query stages and subqueries. */
object PlanStats extends AdaptiveSparkPlanHelper {
  def of(plan: SparkPlan): (Long, Long, Long) = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    (nodes.count(_.isInstanceOf[ShuffleExchangeLike]).toLong,
      nodes.count(_.isInstanceOf[BroadcastExchangeLike]).toLong,
      nodes.collect { case s: DataSourceScanExec =>
        s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }.sum)
  }
}

/** Minimal JSON rendering for the result and span files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Iterable[_] => arr(xs.toSeq)
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
  def arr(xs: Seq[Any]): String = xs.map(value).mkString("[", ",", "]")
}
