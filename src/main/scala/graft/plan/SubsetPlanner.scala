package graft.plan

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, expr}

import graft.config.{Filter, Relationship, TableConfig}

/** Compiles a klepto-style table config into a per-table DataFrame:
  * relationship subsetting + predicate + ordered sorts + limit
  * (≅ the single SELECT built by the reference,
  * `pkg/reader/engine/engine.go:136-167`).
  *
  * Spark-first design decisions:
  *
  *   - '''Semi-join subsetting.''' The reference appends `INNER JOIN`s and
  *     projects only the scanned table's columns (`engine.go:139-152`) — an
  *     inner join used for semi-join purposes. When the filter predicate
  *     references a single table, we plan the chain as nested `left_semi`
  *     joins instead: same rows when referenced keys are unique (they are
  *     PKs in practice), immune to fan-out duplication when they are not,
  *     and Catalyst broadcasts the (filtered, small) parent side. When the
  *     predicate spans several tables we fall back to the reference's exact
  *     shape: flat inner join + qualified predicate + child-only projection.
  *
  *   - '''Shared-parent consistency''' (SURVEY §7.4.3): the reference
  *     recompiles the parent subquery per child table, which can pick
  *     *different* parents across children under a non-unique-sort LIMIT,
  *     silently breaking referential integrity in the copy. We memoize each
  *     parent's subset plan per `planAll` call so every child subsets
  *     against the same parent DataFrame.
  *
  *   - '''Validated predicates''' (SURVEY §7.4.4): `Match` strings are
  *     parsed by Spark's SQL parser up front; the reference forwards them
  *     verbatim and only discovers garbage mid-dump as a logged, non-fatal
  *     DB error.
  *
  * At scale: parent subsets are typically filtered+limited small → Catalyst
  * broadcast-semi-joins them against the large child scan; no shuffle of the
  * child side. Sorts+limit plan as TakeOrderedAndProject (no global sort).
  */
final class SubsetPlanner(
    load: String => DataFrame,
    tables: Seq[TableConfig],
    consistentParents: Boolean = false,
    knownTables: Seq[String] = Nil) {

  private val byName: Map[String, TableConfig] =
    tables.map(t => t.name -> t).toMap

  /** Identifiers resolvable WITHOUT touching the source: configured tables,
    * the caller-supplied catalog (Steal passes its table list), and every
    * table named by a relationship. */
  private val knownNames: Set[String] =
    byName.keySet ++ knownTables ++
      tables.flatMap(_.relationships.flatMap(r =>
        Seq(r.table, r.referencedTable).filter(_.nonEmpty)))

  final case class PlanException(msg: String) extends RuntimeException(msg)

  /** Plan every configured table, memoizing shared parents. */
  def planAll(): Seq[(String, DataFrame)] = {
    val memo = collection.mutable.Map.empty[String, DataFrame]
    tables.map(t => t.name -> plan(t, memo))
  }

  /** Plan one table (fresh memo). */
  def plan(name: String): DataFrame = {
    val t = byName.getOrElse(name,
      throw PlanException(s"no config for table $name"))
    plan(t, collection.mutable.Map.empty)
  }

  private def plan(
      t: TableConfig,
      memo: collection.mutable.Map[String, DataFrame]): DataFrame = {
    // IgnoreData: structure, zero rows (config.go:37-38,
    // dumper/engine/engine.go:99-101)
    if (t.ignoreData) return load(t.name).limit(0)

    val subset = subsetOf(t.name, t.filter, t.relationships, memo)
    val sorted = applySorts(subset, t.filter.sorts, t.name)
    applyLimit(sorted, t.filter.limit)
  }

  /** The filtered/joined row set of `name`, before sorts/limit of children
    * are applied — this is what child tables semi-join against. */
  private def subsetOf(
      name: String,
      filter: Filter,
      rels: Seq[Relationship],
      memo: collection.mutable.Map[String, DataFrame]): DataFrame = {
    val predicate = parsePredicate(filter.matchExpr)
    val predTables = predicate.toSeq.flatMap(_ => referencedTables(filter.matchExpr))

    val relsByChild: Map[String, Seq[Relationship]] = rels.groupBy(_.table)

    // multi-table predicate → faithful flat-join path (engine.go:136-167)
    val multiTablePred = predTables.toSet.size > 1
    if (multiTablePred) flatJoinSubset(name, filter, rels)
    else {
      // single-table (or unqualified) predicate → semi-join chain; the
      // predicate is applied at the table it names (default: the child).
      val predAt: String = predTables.headOption.getOrElse(name)

      def build(tbl: String, seen: Set[String]): DataFrame =
        memo.getOrElseUpdate(s"$tbl|${filter.matchExpr}", {
          if (seen.contains(tbl))
            throw PlanException(s"relationship cycle through $tbl")
          // Consistent-parents mode (SURVEY §7.4.3): children subset against
          // the parent's OWN planned subset (its filter+sorts+limit), so the
          // copied child rows always reference copied parent rows. The
          // reference instead re-derives parents per child WITHOUT the
          // parent's limit (engine.go:140-152) — faithful mode keeps that.
          // The parent subset is MATERIALIZED (eager localCheckpoint) and
          // memoized under the parent's name alone: a lazy plan would
          // re-execute per child, and a non-unique-sort LIMIT could then
          // pick different parent rows per child — the exact integrity
          // break this mode exists to prevent.
          val parentPlan =
            if (consistentParents && tbl != name && byName.contains(tbl))
              Some(memo.getOrElseUpdate(s"materialized|$tbl",
                graft.ops.Materialize.local(plan(byName(tbl), memo), eager = true)).as(tbl))
            else None
          parentPlan.map(df =>
            if (tbl == predAt && predicate.isDefined) df.where(predicate.get)
            else df
          ).getOrElse {
            var df = load(tbl).as(tbl)
            if (tbl == predAt && predicate.isDefined) df = df.where(predicate.get)
            relsByChild.getOrElse(tbl, Nil).foldLeft(df) { (acc, r) =>
              val parent = build(r.referencedTable, seen + tbl)
              acc.join(parent,
                col(s"$tbl.${r.foreignKey}") ===
                  col(s"${r.referencedTable}.${r.referencedKey}"),
                "left_semi")
            }
          }
        })

      // predicate names a table that is neither the child nor on the chain →
      // reject up front (the reference would emit broken SQL)
      val onChain = Set(name) ++ rels.map(_.referencedTable) ++ rels.map(_.table)
      if (!onChain.contains(predAt))
        throw PlanException(
          s"Match references table '$predAt' which is not joined for '$name'")
      build(name, Set.empty)
    }
  }

  /** Reference-exact shape: FROM child JOIN p1 ON .. JOIN p2 ON ..
    * WHERE match, then project child.* (engine.go:139-156,217-224). */
  private def flatJoinSubset(
      name: String, filter: Filter, rels: Seq[Relationship]): DataFrame = {
    var df = load(name).as(name)
    rels.foreach { r =>
      df = df.join(load(r.referencedTable).as(r.referencedTable),
        col(s"${r.table}.${r.foreignKey}") ===
          col(s"${r.referencedTable}.${r.referencedKey}"),
        "inner")
    }
    parsePredicate(filter.matchExpr).foreach(p => df = df.where(p))
    df.select(col(s"$name.*"))
  }

  /** Sort keys may be qualified with the scanned table name
    * (`"users.id" = "asc"`, fixtures/.klepto.toml:10-11); the child keeps
    * its alias through the chain so both `users.id` and `id` resolve. */
  private def applySorts(
      df: DataFrame, sorts: Seq[(String, String)], table: String): DataFrame =
    if (sorts.isEmpty) df
    else df.orderBy(sorts.map { case (c, dir) =>
      if (dir == "desc") col(c).desc else col(c).asc
    }: _*)

  private def applyLimit(df: DataFrame, limit: Long): DataFrame =
    if (limit <= 0) df
    else df.limit(
      if (limit > Int.MaxValue) Int.MaxValue else limit.toInt)

  /** Parse + validate a Match string (must be a boolean expression —
    * rejects the reference's `... ORDER BY ... LIMIT ...` injection abuse,
    * SURVEY §7.4.4). */
  private def parsePredicate(matchExpr: String): Option[Column] =
    if (matchExpr.isEmpty) None
    else {
      // expr() is lazy in Spark 4 (Column wraps a ColumnNode); force the
      // parse now so a garbage Match fails at plan-build, not mid-dump.
      try org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(matchExpr)
      catch {
        case e: Exception =>
          throw PlanException(
            s"Match is not a parseable boolean expression: '$matchExpr' " +
              s"(${e.getMessage.linesIterator.nextOption().getOrElse("")})")
      }
      Some(expr(matchExpr))
    }

  /** Qualified identifiers (`tbl.col`) referenced by a predicate, keeping
    * only known table names. Identifiers inside string literals are
    * ignored. Resolution goes against [[knownNames]] first — configured
    * tables, the supplied catalog, relationship targets — so stray
    * prefixes (a `o.` alias, a function call) cost nothing. Only when the
    * planner was built WITHOUT a catalog does an unknown identifier fall
    * back to a probe-load, and each probe result is cached so a JDBC
    * source sees at most one metadata query per distinct identifier, not
    * one per plan build. */
  private[plan] def referencedTables(matchExpr: String): Seq[String] = {
    val noStrings = matchExpr.replaceAll("'[^']*'", "''")
    val ids = "([A-Za-z_][A-Za-z0-9_]*)\\s*\\.\\s*[A-Za-z_]".r
      .findAllMatchIn(noStrings).map(_.group(1)).toSeq
    val known = ids.filter(t =>
      knownNames.contains(t) || (knownTables.isEmpty && loadable(t)))
    known.distinct
  }

  private val loadableCache = collection.mutable.Map.empty[String, Boolean]
  private def loadable(t: String): Boolean = loadableCache.getOrElseUpdate(t,
    try { load(t); true } catch { case _: Exception => false })
}
