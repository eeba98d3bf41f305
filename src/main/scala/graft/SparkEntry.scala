package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query surface: `entry` plus the name-keyed view of
  * [[graft.queries.Registry]], where each query's builder and its DuckDB
  * oracle SQL are declared together. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Shape = examples/user-orders.toml: relationship subset + filter +
    * top-k (klepto `pkg/reader/engine/engine.go:136-167`). */
  def entry(spark: SparkSession): DataFrame =
    k9(spark, "/root/testdata/sf0.001")

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Registry.all.map(q => q.name -> q.build).toMap
  private def k9 = queries("k9_combined_topk")
}
