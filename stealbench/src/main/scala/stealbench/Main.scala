package stealbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: one closed-loop client in one JVM.
  *
  *   stealbench.Main prepare-derby <csvDir> <dbDir>
  *   stealbench.Main --workload W --seconds S --trace 0|1 --cpus N
  *       --lake DIR --work DIR [--config TOML] [--secret S]
  *       [--order a,b,..] [--derby DIR]
  *
  * Set-up (session + fixture) is timed from JVM start. One cold operation
  * (rep 0) follows, then one untimed warm-up operation
  * ([[Workload.WarmupRep]]), then a fixed number of timed operations, so
  * every commit is timed over the same stretch of the JIT warm-up curve.
  * `seconds` is a deadline: no timed operation starts after it (the first
  * always runs). With `--trace 1` the timed operations are traced ones,
  * each followed by its layer decomposition and bracketed by untraced
  * operations for the tracing overhead. Results go to `<work>/result.json`;
  * spans to `<work>/spans.json`.
  */
object Main {
  /** Timed operations of an untraced run: reps 2..9. */
  private val Timed = 8
  /** Traced operations of a traced run. */
  private val Traced = 3

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("prepare-derby") => Derby.prepare(args(1), args(2))
    case _ => run(args)
  }

  private def session(p: Params): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${p.cpus}]")
      .appName("stealbench")
      .config("spark.sql.shuffle.partitions", p.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.local.dir", new File(p.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(p.work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  private def run(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val p = Params(
      workload = kv("workload"),
      seconds = kv("seconds").toDouble,
      trace = kv.getOrElse("trace", "0") == "1",
      cpus = kv("cpus").toInt,
      lake = kv("lake"),
      work = new File(kv("work")),
      config = kv.getOrElse("config", ""),
      secret = kv.getOrElse("secret", "graft"),
      order = kv.getOrElse("order", "").split(",").filter(_.nonEmpty).toSeq,
      derbySrc = kv.getOrElse("derby", ""))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val w = Workload(p)

    val spark = session(p)
    w.setup(spark)
    val setup = (System.currentTimeMillis() - jvmStartMs) / 1e3

    var attempted, failed = 0
    val errors = ArrayBuffer.empty[String]
    def attempt[T](body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch {
        case e: Exception =>
          failed += 1
          errors += s"${e.getClass.getName}: ${e.getMessage}".take(500)
          e.printStackTrace()
          None
      }
    }
    final case class Sample(wall: Double, cpu: Double)
    def timed(rep: Int): Option[(Sample, Map[String, Long])] = {
      val c0 = processCpuNs()
      val t0 = System.nanoTime()
      attempt(w.op(spark, rep)).map { rows =>
        (Sample((System.nanoTime() - t0) / 1e9, (processCpuNs() - c0) / 1e9), rows)
      }
    }

    val cold = timed(0).map(_._1.wall)
    timed(Workload.WarmupRep)
    var last = Workload.WarmupRep
    def advance(): Int = {
      w.retire(last)
      last += 1
      last
    }

    val samples = ArrayBuffer.empty[Sample]
    var layers = Map.empty[String, Double]
    val deadline = System.nanoTime() + (p.seconds * 1e9).toLong
    def reps(n: Int): Iterator[Int] =
      Iterator.range(0, n).takeWhile(i => i == 0 || System.nanoTime() < deadline)
    if (!p.trace) {
      reps(Timed).foreach(_ => timed(advance()).foreach(samples += _._1))
    } else {
      // each traced operation sits between two untraced ones, so both sides
      // of the overhead ratio come from the same point of the JIT curve
      def untraced(): Option[Double] = timed(advance()).map(_._1.wall)
      val tracer = new Tracer(spark)
      val iters = ArrayBuffer.empty[Map[String, Double]]
      val overheads = ArrayBuffer.empty[Double]
      var before = untraced()
      reps(Traced).foreach { _ =>
        tracer.install()
        val rep = advance()
        val c0 = processCpuNs()
        val (rows, opSpan) = tracer.span("op", "op")(attempt(w.op(spark, rep)))
        val cpu = (processCpuNs() - c0) / 1e9
        rows.foreach { r =>
          samples += Sample(opSpan.seconds, cpu)
          iters += (w.decompose(spark, tracer, opSpan, rep, r) ++
            tracer.sparkMetrics(opSpan, p.cpus) + ("trace.wall_s" -> opSpan.seconds))
        }
        tracer.uninstall()
        val after = untraced()
        for (_ <- rows; b <- before; a <- after) overheads += opSpan.seconds / ((a + b) / 2)
        before = after
      }
      Files.writeString(new File(p.work, "spans.json").toPath, tracer.json)
      val keys = iters.flatMap(_.keys).distinct
      layers = keys.map(k => k -> median(iters.map(_.getOrElse(k, 0.0)).toSeq)).toMap
      if (overheads.nonEmpty) layers += "trace.overhead" -> median(overheads.toSeq)
    }

    val outBytes = w.outBytes(last)
    Seq(0, last).distinct.foreach(r => attempt(w.export(r)))
    val result = Json.obj(
      "workload" -> p.workload,
      "setup_s" -> setup,
      "cold_s" -> cold.getOrElse(Double.NaN),
      "wall_samples" -> samples.map(_.wall).toSeq,
      "cpu_samples" -> samples.map(_.cpu).toSeq,
      "out_bytes" -> outBytes,
      "peak_rss_mb" -> peakRssMb(),
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> errors.toSeq,
      "reps" -> Seq(0, last).distinct,
      "layers" -> layers)
    Files.writeString(new File(p.work, "result.json").toPath, result)
    w.teardown()
    spark.stop()
  }
}
