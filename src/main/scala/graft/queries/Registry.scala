package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its builder over a testdata directory and the
  * DuckDB SQL whose rows it must hash-match. `oracle` is a thunk because
  * some oracles are computed (ns51's loads the BPE merges file); building
  * the registry evaluates none of them. */
final case class Query(
    name: String,
    family: String,
    build: (SparkSession, String) => DataFrame,
    oracle: () => String) {
  /** The name up to its first `_`: `k5`, `ns82`. */
  val id: String = name.takeWhile(_ != '_')
}

/** A family file names its family once and declares each query with
  * [[query]], builder beside oracle SQL. */
abstract class Family(val family: String) {
  def queries: Seq[Query]
  protected def query(name: String, build: (SparkSession, String) => DataFrame)(
      oracle: => String): Query = Query(name, family, build, () => oracle)
}

/** Every registered query, sorted by name. The harnesses (Verify, Bench,
  * PlanCost, Explain, ScalingSmoke) iterate it through [[select]]. */
object Registry {
  private val Name = """(?:k|ns)\d+_\w+""".r

  /** `qs` sorted by name, after checking every name is `<id>_<suffix>`
    * with id `k<n>` or `ns<n>` and that names and ids are unique. */
  def checked(qs: Seq[Query]): Seq[Query] = {
    val malformed = qs.map(_.name).filterNot(Name.matches)
    require(malformed.isEmpty,
      s"query names must be <k|ns><n>_<suffix>: ${malformed.mkString(", ")}")
    def dups(keys: Seq[String]) =
      keys.groupBy(identity).collect { case (k, v) if v.size > 1 => k }
    val clashes = dups(qs.map(_.name)) ++ dups(qs.map(_.id))
    require(clashes.isEmpty,
      s"duplicate query names or ids: ${clashes.toSeq.sorted.mkString(", ")}")
    qs.sortBy(_.name)
  }

  val all: Seq[Query] = checked(Seq(Klepto, Dedup, Ann, Text, Curate, Mm,
    Priv, Events, Rel, Sketch, Gov).flatMap(_.queries))

  val byName: Map[String, Query] = all.map(q => q.name -> q).toMap

  /** The queries named by id or full name (`ns5`, `ns5_dedup_embedding`)
    * in registry order; no names selects all. Throws on any entry that
    * matches nothing, naming every one. */
  def select(names: Seq[String]): Seq[Query] = {
    def matches(q: Query, n: String) = q.name == n || q.id == n
    val unknown = names.filterNot(n => all.exists(matches(_, n)))
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    if (names.isEmpty) all else all.filter(q => names.exists(matches(q, _)))
  }
}
