package graft.tools

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

import graft.Harness
import graft.queries.{Query, Registry}

/** Window-independent cost profile of the query suite: per query, the
  * number of Spark jobs, stages, tasks, and shuffle-write bytes of ONE
  * warm execution. On this host wall-clock comparisons need minute-scale
  * quiet windows that may never arrive (BASELINE.md, hypervisor
  * co-tenancy) — the job, stage and task counters are decided by the
  * PLAN, not the weather, so a structural regression (an extra shuffle,
  * a loop that stopped coalescing, a broadcast that silently became a
  * sort-merge join) shows up as an integer diff in any window.
  * `shuffle_bytes` is not: `RangePartitioner` seeds its sample with the
  * RDD id, so an ordered query's range bounds, and its shuffle bytes,
  * move by a few bytes when the jobs run before it change.
  *
  * Counts are taken on the SECOND execution (the first pays one-time
  * index builds / checkpoint materializations that belong to setup, and
  * AQE stage decisions can differ cold). Stage counts are AQE stages:
  * with adaptive execution every exchange materialization is its own
  * job, so "jobs" ≈ "stages" ≈ the per-query fixed-overhead unit that
  * dominates small-SF suite wall time.
  *
  * Usage: `java -cp ... graft.tools.PlanCost [sfDir] [id or name...]`
  * — writes target/plan_cost.json (one object per query, then the
  * `failed` list) and prints a jobs-descending table; exits 1 when any
  * query failed. Compare two trees by diffing the JSONs.
  */
object PlanCost {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val queries = Registry.select(args.drop(1).toSeq)
    val spark = Harness.session("graft-plan-cost")
    spark.sparkContext.setLogLevel("ERROR")
    val p = try profile(spark, sfDir, queries) finally spark.stop()
    val out = java.nio.file.Paths.get("target", "plan_cost.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.writeString(out, p.json)
    println(f"${"query"}%-34s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s shufMB")
    p.costs.sortBy(-_._2.jobs).foreach { case (n, w) =>
      println(f"$n%-34s ${w.jobs}%5d ${w.stages}%6d ${w.tasks}%6d " +
        f"${w.shuffleWrite / 1e6}%.1f")
    }
    val ws = p.costs.map(_._2)
    println(f"[plan_cost] totals: jobs ${ws.map(_.jobs).sum} stages " +
      f"${ws.map(_.stages).sum} tasks ${ws.map(_.tasks).sum} " +
      f"shufMB ${ws.map(_.shuffleWrite).sum / 1e6}%.0f -> target/plan_cost.json")
    if (p.failed.nonEmpty) sys.exit(1)
  }

  /** Per query, the work of its second execution; `failed` names every
    * query that threw, so a missing query is never a silent drop. */
  final case class Profile(costs: Seq[(String, Harness.Work)],
      failed: Seq[String]) {
    /** One object per profiled query, then the `failed` list. */
    def json: String = (costs.map { case (n, w) =>
      s"""  "$n": {"jobs":${w.jobs},"stages":${w.stages},""" +
        s""""tasks":${w.tasks},"shuffle_bytes":${w.shuffleWrite}}"""
    } :+ failed.map(n => s""""$n"""").mkString("  \"failed\": [", ",", "]"))
      .mkString("{\n", ",\n", "\n}\n")
  }

  /** Runs each query twice into the noop sink (a warm pass, then the
    * counted one); a query that throws is reported and the rest run. */
  def profile(spark: SparkSession, sfDir: String,
      queries: Seq[Query]): Profile = {
    val runs = queries.map(q => q.name -> Try(Seq.fill(2)(
      Harness.measure(spark) {
        q.build(spark, sfDir).write.mode("overwrite").format("noop").save()
      }._3).last))
    val failed = runs.collect { case (n, Failure(e)) =>
      System.err.println(s"[plan_cost] $n failed: ${e.getMessage}")
      n
    }
    Profile(runs.collect { case (n, Success(w)) => n -> w }, failed)
  }
}
