package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Window-independent cost profile of the query suite: per query, the
  * number of Spark jobs, stages, tasks, and shuffle-write bytes of ONE
  * warm execution. On this host wall-clock comparisons need minute-scale
  * quiet windows that may never arrive (BASELINE.md, hypervisor
  * co-tenancy) — these counters are decided by the PLAN, not the
  * weather, so a structural regression (an extra shuffle, a loop that
  * stopped coalescing, a broadcast that silently became a sort-merge
  * join) shows up as an integer diff in any window.
  *
  * Counts are taken on the SECOND execution (the first pays one-time
  * index builds / checkpoint materializations that belong to setup, and
  * AQE stage decisions can differ cold). Stage counts are AQE stages:
  * with adaptive execution every exchange materialization is its own
  * job, so "jobs" ≈ "stages" ≈ the per-query fixed-overhead unit that
  * dominates small-SF suite wall time.
  *
  * Usage: `java -cp ... graft.tools.PlanCost [sfDir] [id or name...]`
  * — writes target/plan_cost.json (one object per query) and prints a
  * jobs-descending table. Compare two trees by diffing the JSONs.
  */
object PlanCost {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = graft.queries.Registry.select(args.drop(1).toSeq).map(_.name)
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("graft-plan-cost")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val shufB = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
        shufB.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
    })

    def execute(name: String): Unit = {
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }

    val rows = names.flatMap { n =>
      try {
        execute(n) // warm pass: one-time setup + codegen cache
        Thread.sleep(150) // listener drain
        val (j0, s0, t0, b0) = (jobs.get, stages.get, tasks.get, shufB.get)
        execute(n)
        Thread.sleep(150)
        Some((n, jobs.get - j0, stages.get - s0, tasks.get - t0,
          shufB.get - b0))
      } catch { case e: Throwable =>
        System.err.println(s"[plan_cost] $n failed: ${e.getMessage}")
        None
      }
    }
    val json = rows.map { case (n, j, s, t, b) =>
      s"""  "$n": {"jobs":$j,"stages":$s,"tasks":$t,"shuffle_bytes":$b}"""
    }.mkString("{\n", ",\n", "\n}\n")
    val out = java.nio.file.Paths.get("target", "plan_cost.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out,
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(f"${"query"}%-34s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s shufMB")
    rows.sortBy(-_._2).foreach { case (n, j, s, t, b) =>
      println(f"$n%-34s $j%5d $s%6d $t%6d ${b / 1e6}%.1f")
    }
    println(f"[plan_cost] totals: jobs ${rows.map(_._2).sum} stages " +
      f"${rows.map(_._3).sum} tasks ${rows.map(_._4).sum} " +
      f"shufMB ${rows.map(_._5).sum / 1e6}%.0f -> target/plan_cost.json")
    spark.stop()
  }
}
