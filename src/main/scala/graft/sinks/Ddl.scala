package graft.sinks

import org.apache.spark.sql.types._

/** Structure (DDL) generation and replay — S5/S6 parity.
  *
  * The reference carries DDL as an opaque string: MySQL concatenates
  * `SHOW CREATE TABLE` statements wrapped in `SET FOREIGN_KEY_CHECKS=0/1`
  * (`pkg/reader/mysql/reader.go:84-111`), Postgres shells out to
  * `pg_dump --schema-only` (`pkg/reader/postgres/pg_dump.go:32-59`), and the
  * dumpers just `Exec` the string (`pkg/dumper/mysql/dumper.go:43-49`,
  * `pkg/dumper/postgres/dumper.go:42-48`).
  *
  * Spark carries `StructType` losslessly, so structure here is *generated*
  * from the schema per target dialect instead of scraped as text — identifier
  * quoting matches the reference's per-engine rules: backticks doubled for
  * MySQL (`mysql/reader.go:114-116`), double quotes for Postgres
  * (`postgres/reader.go:89-91`).
  */
sealed trait Dialect {
  def name: String
  def quote(ident: String): String
  def typeName(dt: DataType): String
  /** Statements issued around structure replay / bulk load, matching the
    * reference's constraint bypass (mysql/dumper.go:192-194). */
  def preamble: Seq[String]
  def postamble: Seq[String]
}

object Dialect {

  case object MySql extends Dialect {
    val name = "mysql"
    def quote(ident: String): String = "`" + ident.replace("`", "``") + "`"
    def typeName(dt: DataType): String = dt match {
      case ByteType => "TINYINT"
      case ShortType => "SMALLINT"
      case IntegerType => "INT"
      case LongType => "BIGINT"
      case FloatType => "FLOAT"
      case DoubleType => "DOUBLE"
      case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
      case BooleanType => "TINYINT(1)" // fixtures/mysql_simple.sql boolean idiom
      case StringType => "TEXT"
      case BinaryType => "BLOB"
      case DateType => "DATE"
      case TimestampType | TimestampNTZType => "TIMESTAMP"
      case other => s"TEXT /* ${other.simpleString} */"
    }
    val preamble = Seq("SET FOREIGN_KEY_CHECKS=0")
    val postamble = Seq("SET FOREIGN_KEY_CHECKS=1")
  }

  case object Postgres extends Dialect {
    val name = "postgres"
    def quote(ident: String): String = "\"" + ident.replace("\"", "\"\"") + "\""
    def typeName(dt: DataType): String = dt match {
      case ByteType | ShortType => "SMALLINT"
      case IntegerType => "INTEGER"
      case LongType => "BIGINT"
      case FloatType => "REAL"
      case DoubleType => "DOUBLE PRECISION"
      case d: DecimalType => s"NUMERIC(${d.precision},${d.scale})"
      case BooleanType => "BOOLEAN"
      case StringType => "TEXT"
      case BinaryType => "BYTEA"
      case DateType => "DATE"
      case TimestampType | TimestampNTZType => "TIMESTAMP"
      case ArrayType(e, _) => s"${typeName(e)}[]"
      case other => s"TEXT /* ${other.simpleString} */"
    }
    val preamble = Nil
    val postamble = Nil
  }

  /** Embedded Derby — the engine our in-sandbox e2e suites run against.
    * Quoting is ANSI (double quotes); types are Derby's closest analogs
    * (Derby has no TEXT — long strings become VARCHAR(32672), its max). */
  case object Derby extends Dialect {
    val name = "derby"
    def quote(ident: String): String = "\"" + ident.replace("\"", "\"\"") + "\""
    def typeName(dt: DataType): String = dt match {
      case ByteType | ShortType => "SMALLINT"
      case IntegerType => "INTEGER"
      case LongType => "BIGINT"
      case FloatType => "REAL"
      case DoubleType => "DOUBLE"
      case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
      case BooleanType => "BOOLEAN"
      case StringType => "VARCHAR(32672)"
      case BinaryType => "BLOB"
      case DateType => "DATE"
      case TimestampType | TimestampNTZType => "TIMESTAMP"
      case other => s"VARCHAR(32672) /* ${other.simpleString} */"
    }
    val preamble = Nil
    val postamble = Nil
  }

  def forName(n: String): Dialect = n match {
    case "mysql" => MySql
    case "postgres" | "postgresql" => Postgres
    case "derby" => Derby
    case other => throw new IllegalArgumentException(s"unknown dialect $other")
  }
}

/** One foreign-key constraint (≅ the FK lines `SHOW CREATE TABLE` carries
  * opaquely, fixtures/mysql_simple.sql:18 `CONSTRAINT fk_user_id FOREIGN KEY
  * (user_id) REFERENCES users (id)`). */
final case class ForeignKey(
    name: String,
    columns: Seq[String],
    refTable: String,
    refColumns: Seq[String])

/** Full table structure — what the reference captures as an opaque DDL
  * string (`SHOW CREATE TABLE` / `pg_dump --schema-only`), carried here as
  * typed data so any dialect can re-emit it: columns (Spark schema),
  * primary key, unique constraints, column defaults, foreign keys,
  * non-unique secondary indexes, CHECK constraints, and identity
  * (serial/auto-increment) columns — everything `SHOW CREATE TABLE` /
  * `pg_dump --schema-only` preserves opaquely (`pkg/reader/mysql/
  * reader.go:84-111`, `pkg/reader/postgres/pg_dump.go:32-59`); without the
  * indexes a copied database silently loses its read performance. CHECK
  * clauses are engine SQL text carried opaquely (same fidelity contract as
  * views). */
final case class TableStructure(
    table: String,
    schema: StructType,
    primaryKey: Seq[String] = Nil,
    uniques: Seq[(String, Seq[String])] = Nil, // (constraint name, columns)
    defaults: Map[String, String] = Map.empty, // column -> SQL default text
    foreignKeys: Seq[ForeignKey] = Nil,
    indexes: Seq[(String, Seq[String])] = Nil, // non-unique (name, columns)
    checks: Seq[(String, String)] = Nil,       // (name, SQL check clause)
    checkAttrs: Map[String, String] = Map.empty, // name -> trailing attrs ("NOT VALID"/"NO INHERIT")
    autoIncrement: Set[String] = Set.empty,    // identity column names
    generated: Map[String, String] = Map.empty, // column -> generation expr
    partitionClause: Option[String] = None,    // "PARTITION BY ..." text
    collations: Map[String, String] = Map.empty, // column -> explicit collation
    exclusions: Seq[(String, String)] = Nil,   // (name, "EXCLUDE USING ..." text)
    comment: Option[String] = None,            // table comment
    columnComments: Map[String, String] = Map.empty,
    nativeTypes: Map[String, String] = Map.empty) // column -> source TYPE_NAME

/** A standalone sequence — one the catalog owns directly, NOT the hidden
  * backing sequence of a serial/identity column (those replay through
  * [[TableStructure.autoIncrement]]; carrying them here too would
  * double-create). `pg_dump --schema-only` preserves these opaquely
  * (`pkg/reader/postgres/pg_dump.go:32-59`); typed here so any dialect
  * can re-emit. */
final case class SequenceStructure(
    name: String,
    dataType: String = "BIGINT",
    startWith: Long = 1L,
    incrementBy: Long = 1L)

/** A user enum type carried through structure replay (r12, closing part
  * of the pg_dump-verbatim residue): Postgres enums are schema-level
  * objects like sequences; labels come from `pg_enum` in sort order and
  * replay as `CREATE TYPE ... AS ENUM (...)` BEFORE any table that
  * references the type, which lets those columns keep their native type
  * instead of degrading to TEXT. */
final case class EnumStructure(name: String, labels: Seq[String])

/** A view carried through structure replay (the reference preserves views
  * opaquely inside `pg_dump --schema-only` output — fixtures/pg_simple.sql:35
  * `users_view` survives a copy). */
final case class ViewStructure(name: String, definition: String)

/** A trigger carried through structure replay — the full `CREATE TRIGGER`
  * statement as opaque engine SQL, the same fidelity contract as views and
  * CHECK clauses (pg_dump preserves triggers verbatim;
  * `pkg/reader/postgres/pg_dump.go:32-59`). */
final case class TriggerStructure(name: String, definition: String)

/** The EXACT Postgres catalog SQL the typed scrape ships, as named
  * constants. Why constants: the zero-egress sandbox has a live
  * PostgreSQL 15 server but no JDBC driver jar, so the only way to
  * execute these statements against a real engine is `psql`
  * (`tools/live_pg_check.sh` + [[PgCatalogProbe]]); holding them here
  * guarantees the probe validates the very strings the scrape runs, with
  * zero drift. `?` placeholders take the table name (the probe
  * substitutes a quoted literal). */
object PgCatalog {
  val views: String =
    "SELECT table_name, pg_get_viewdef(table_name::regclass, true) " +
      "FROM information_schema.views WHERE table_schema = current_schema()"
  val triggers: String =
    "SELECT t.tgname, pg_get_triggerdef(t.oid, true) " +
      "FROM pg_trigger t JOIN pg_class c ON c.oid = t.tgrelid " +
      "JOIN pg_namespace n ON n.oid = c.relnamespace " +
      "WHERE NOT t.tgisinternal AND n.nspname = current_schema()"
  val generated: String =
    "SELECT column_name, generation_expression " +
      "FROM information_schema.columns " +
      "WHERE table_schema = current_schema() AND table_name = ? " +
      "AND is_generated = 'ALWAYS'"
  val collations: String =
    "SELECT column_name, collation_name " +
      "FROM information_schema.columns " +
      "WHERE table_schema = current_schema() AND table_name = ? " +
      "AND collation_name IS NOT NULL"
  val tableComment: String =
    "SELECT obj_description(c.oid, 'pg_class') FROM pg_class c " +
      "JOIN pg_namespace n ON n.oid = c.relnamespace " +
      "WHERE c.relname = ? AND n.nspname = current_schema()"
  val columnComments: String =
    "SELECT a.attname, col_description(c.oid, a.attnum) " +
      "FROM pg_class c " +
      "JOIN pg_namespace n ON n.oid = c.relnamespace " +
      "JOIN pg_attribute a ON a.attrelid = c.oid " +
      "WHERE c.relname = ? AND n.nspname = current_schema() " +
      "AND a.attnum > 0 AND NOT a.attisdropped"
  // CHECKs come from pg_constraint, NOT information_schema — the live
  // PG 15 run (tools/live_pg_check.sh, round 11) caught two real defects
  // in the information_schema shape this replaced: (a) its
  // check_constraints view is keyed by (schema, constraint NAME), but
  // Postgres constraint names are only unique per TABLE, so two tables
  // sharing a CHECK name bled each other's clauses into the scrape; and
  // (b) the system NOT NULL rows it mixes in carry THREE-segment names on
  // this engine (`2200_18230_1_not_null`), escaping the historical
  // two-segment `^[0-9]+_[0-9]+_not_null$` filter. pg_constraint
  // contype='c' is keyed by conrelid (no cross-table bleed) and contains
  // no NOT NULL rows at all before PG 17. The returned
  // pg_get_constraintdef text is "CHECK ((expr))" — [[Ddl.stripPgCheckDef]]
  // unwraps it to the bare clause the TableStructure contract stores.
  val checks: String =
    "SELECT r.conname, pg_catalog.pg_get_constraintdef(r.oid, true) " +
      "FROM pg_catalog.pg_constraint r " +
      "JOIN pg_class c ON c.oid = r.conrelid " +
      "JOIN pg_namespace n ON n.oid = c.relnamespace " +
      "WHERE r.contype = 'c' AND c.relname = ? " +
      "AND n.nspname = current_schema() ORDER BY r.conname"
  val exclusions: String =
    "SELECT r.conname, pg_catalog.pg_get_constraintdef(r.oid, true) " +
      "FROM pg_catalog.pg_constraint r " +
      "JOIN pg_class c ON c.oid = r.conrelid " +
      "JOIN pg_namespace n ON n.oid = c.relnamespace " +
      "WHERE r.contype = 'x' AND c.relname = ? " +
      "AND n.nspname = current_schema() ORDER BY r.conname"
  val partitionKey: String =
    "SELECT pg_get_partkeydef(c.oid) FROM pg_class c " +
      "JOIN pg_namespace n ON n.oid = c.relnamespace " +
      "WHERE c.relname = ? AND c.relkind = 'p' " +
      "AND n.nspname = current_schema()"
  val sequences: String =
    "SELECT s.sequence_name, s.data_type, " +
      "s.start_value::bigint, s.increment::bigint " +
      "FROM information_schema.sequences s " +
      "WHERE s.sequence_schema = current_schema() " +
      "AND NOT EXISTS (SELECT 1 FROM pg_depend d " +
      "JOIN pg_class c ON c.oid = d.objid " +
      "WHERE c.relname = s.sequence_name AND d.deptype IN ('a','i'))"

  /** User enum types with labels in declared order (pg_enum.enumsortorder
    * — the order CREATE TYPE ... AS ENUM must reproduce, because enum
    * comparison follows it). chr(31) (unit separator) joins labels: a
    * label may legally contain commas or whitespace, never control
    * chars. */
  val enums: String =
    "SELECT t.typname, string_agg(e.enumlabel, chr(31) " +
      "ORDER BY e.enumsortorder) " +
      "FROM pg_type t JOIN pg_enum e ON e.enumtypid = t.oid " +
      "JOIN pg_namespace n ON n.oid = t.typnamespace " +
      "WHERE n.nspname = current_schema() " +
      "GROUP BY t.typname ORDER BY t.typname"

  /** Every constant above, named — the probe iterates this. */
  val all: Seq[(String, String)] = Seq(
    "views" -> views, "triggers" -> triggers, "generated" -> generated,
    "collations" -> collations, "table_comment" -> tableComment,
    "column_comments" -> columnComments, "checks" -> checks,
    "exclusions" -> exclusions, "partition_key" -> partitionKey,
    "sequences" -> sequences, "enums" -> enums)
}

object Ddl {

  /** Extract view definitions from a live catalog. Engine-routed: the
    * information_schema shape for MySQL/Postgres, the SYS catalog for
    * embedded Derby (our e2e engine); anything else returns empty (views
    * are then simply not carried, matching the reference's MySQL
    * `SHOW CREATE TABLE` path which also skips them). */
  def viewsFromJdbc(conn: java.sql.Connection, url: String): Seq[ViewStructure] = {
    val query =
      if (url.startsWith("jdbc:mysql:"))
        Some("SELECT table_name, view_definition FROM information_schema.views " +
          "WHERE table_schema = DATABASE()")
      else if (url.startsWith("jdbc:postgresql:"))
        Some(PgCatalog.views)
      else if (url.startsWith("jdbc:derby:"))
        Some("SELECT t.TABLENAME, v.VIEWDEFINITION FROM SYS.SYSVIEWS v " +
          "JOIN SYS.SYSTABLES t ON t.TABLEID = v.TABLEID")
      else None
    query.toSeq.flatMap { q =>
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(q)
        val buf = collection.mutable.ArrayBuffer.empty[ViewStructure]
        try while (rs.next()) buf +=
          ViewStructure(rs.getString(1), viewBody(rs.getString(2)))
        finally rs.close()
        buf.sortBy(_.name).toSeq
      } finally st.close()
    }
  }

  /** Normalize a catalog-reported definition to its SELECT body (Derby
    * stores the whole `CREATE VIEW ... AS ...` text; information_schema
    * engines store the body alone). */
  private[sinks] def viewBody(definition: String): String = {
    val d = definition.trim.stripSuffix(";").trim
    val re = "(?is)^CREATE\\s+VIEW\\s+\\S+(\\s*\\([^)]*\\))?\\s+AS\\s+(.*)$".r
    d match {
      case re(_, body) => body.trim
      case _ => d
    }
  }

  /** CREATE VIEW in the target dialect. Definitions are engine SQL text
    * carried opaquely — the same fidelity contract as the reference's
    * pg_dump passthrough (a cross-engine copy may need manual edits,
    * exactly as it would with the reference). */
  def createView(v: ViewStructure, dialect: Dialect): String =
    s"CREATE VIEW ${dialect.quote(v.name)} AS ${v.definition};"

  /** Triggers from a live catalog, as full `CREATE TRIGGER` statements.
    * Postgres hands back the complete statement (`pg_get_triggerdef`);
    * MySQL and Derby expose the pieces (timing, event, granularity,
    * REFERENCING names, action body) and the statement is reassembled —
    * same reconstruction the engine itself performs for SHOW TRIGGERS. */
  def triggersFromJdbc(
      conn: java.sql.Connection, url: String): Seq[TriggerStructure] = {
    def collect(q: String)(row: java.sql.ResultSet => TriggerStructure) = {
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(q)
        val buf = collection.mutable.ArrayBuffer.empty[TriggerStructure]
        try while (rs.next()) buf += row(rs) finally rs.close()
        buf.sortBy(_.name).toSeq
      } finally st.close()
    }
    if (url.startsWith("jdbc:postgresql:"))
      collect(PgCatalog.triggers)(rs =>
        TriggerStructure(rs.getString(1), rs.getString(2)))
    else if (url.startsWith("jdbc:mysql:"))
      collect("SELECT TRIGGER_NAME, ACTION_TIMING, EVENT_MANIPULATION, " +
        "EVENT_OBJECT_TABLE, ACTION_STATEMENT FROM information_schema.TRIGGERS " +
        "WHERE TRIGGER_SCHEMA = DATABASE()") { rs =>
        // embedded backticks in identifiers double inside backtick quoting,
        // same as partitionClauseFromShowCreate
        def bq(s: String) = "`" + s.replace("`", "``") + "`"
        TriggerStructure(rs.getString(1),
          s"CREATE TRIGGER ${bq(rs.getString(1))} ${rs.getString(2)} " +
            s"${rs.getString(3)} ON ${bq(rs.getString(4))} FOR EACH ROW " +
            rs.getString(5))
      }
    else if (url.startsWith("jdbc:derby:"))
      collect("SELECT tr.TRIGGERNAME, tr.EVENT, tr.FIRINGTIME, tr.TYPE, " +
        "tr.TRIGGERDEFINITION, tr.REFERENCINGNEW, tr.REFERENCINGOLD, " +
        "tr.NEWREFERENCINGNAME, tr.OLDREFERENCINGNAME, tb.TABLENAME " +
        "FROM SYS.SYSTRIGGERS tr " +
        "JOIN SYS.SYSTABLES tb ON tb.TABLEID = tr.TABLEID") { rs =>
        val name = rs.getString(1)
        val event = rs.getString(2) match {
          case "I" => "INSERT"; case "U" => "UPDATE"; case "D" => "DELETE"
          case other => other
        }
        val timing = if (rs.getString(3) == "B") "NO CASCADE BEFORE" else "AFTER"
        val isRow = rs.getString(4) == "R"
        val granularity = if (isRow) "FOR EACH ROW" else "FOR EACH STATEMENT"
        // statement triggers reference TRANSITION TABLES, not transition
        // variables — "NEW AS" on a statement trigger is invalid Derby DDL
        val (newKw, oldKw) =
          if (isRow) ("NEW AS", "OLD AS") else ("NEW TABLE AS", "OLD TABLE AS")
        val refs = Seq(
          if (rs.getBoolean(6)) Some(s"$newKw ${rs.getString(8)}") else None,
          if (rs.getBoolean(7)) Some(s"$oldKw ${rs.getString(9)}") else None
        ).flatten
        val referencing =
          if (refs.isEmpty) "" else s" REFERENCING ${refs.mkString(" ")}"
        TriggerStructure(name,
          s"""CREATE TRIGGER "$name" $timing $event ON "${rs.getString(10)}"""" +
            s"$referencing $granularity ${rs.getString(5)}")
      }
    else Nil
  }

  /** Trigger replay statement (definition already carries everything). */
  def createTrigger(t: TriggerStructure): String =
    t.definition.trim.stripSuffix(";") + ";"

  /** CREATE TABLE for one table in the target dialect (columns only —
    * structure-fidelity callers use the [[TableStructure]] overload). */
  def createTable(table: String, schema: StructType, dialect: Dialect): String =
    createTable(TableStructure(table, schema), dialect)

  /** Source native type names (case-insensitive, length args stripped,
    * `_`/`[]` array markers stripped — arrays of standard elements ARE
    * modeled) that the typed scrape replays as the same type family.
    * Everything else — extension types (citext, hstore, postgis geometry),
    * enums, domains, json/jsonb, uuid, inet/cidr, range types,
    * timestamptz — is exactly the `pg_dump --schema-only` opaque-carry
    * scope (`pkg/reader/postgres/pg_dump.go:32-59`) that this scrape
    * degrades through Spark's read schema to the closest standard analog.
    * [[createTable]] pins that degradation to a pointed per-column
    * diagnostic naming both types, never a silent swap. */
  private val ReplayableNativeTypes: Set[String] = Set(
    "tinyint", "smallint", "mediumint", "int", "integer", "bigint",
    "int2", "int4", "int8", "serial", "smallserial", "bigserial",
    "float", "float4", "float8", "real", "double", "double precision",
    "numeric", "decimal", "dec", "bool", "boolean", "bit",
    "char", "character", "varchar", "character varying", "nchar",
    "nvarchar", "long varchar", "text", "tinytext", "mediumtext",
    "longtext", "clob", "date", "time", "timestamp", "datetime",
    "timestamp without time zone", "blob", "tinyblob", "mediumblob",
    "longblob", "binary", "varbinary", "bytea",
    "char () for bit data", "varchar () for bit data",
    "long varchar for bit data")

  private[sinks] def isReplayableNativeType(typeName: String): Boolean = {
    val n = typeName.toLowerCase
      .replaceAll("\\(\\s*\\d+(\\s*,\\s*\\d+)?\\s*\\)", "")
      .replaceAll("\\s+", " ").trim
      .stripPrefix("_").stripSuffix("[]").trim // pg arrays: _int4 / int4[]
    ReplayableNativeTypes.contains(n)
  }

  /** The closed set of words that may follow a type's base name in a
    * bare (unquoted) type expression: the SQL/pg type-modifier vocabulary
    * (`timestamp with time zone`, `character varying`, `double
    * precision`, `bit varying`) plus Derby/DB2's `for bit data`. Any
    * other word sequence after a type name is a multi-word type NAME and
    * must be quoted (ADVICE r14 #1). */
  private val SafeTypeSuffixWords: Set[String] =
    Set("with", "without", "time", "zone", "varying", "precision",
      "for", "bit", "data")

  /** CREATE TABLE with full fidelity: defaults, NOT NULL, PRIMARY KEY and
    * UNIQUE constraints inline. Foreign keys are deliberately NOT inline —
    * the reference loads data with FK enforcement bypassed and re-enables
    * it after (mysql/reader.go:96-109 wraps the dump in
    * FOREIGN_KEY_CHECKS=0/1), so FKs replay as post-load ALTERs
    * ([[addForeignKeys]]); that also makes any CREATE order valid.
    *
    * `nativeTypeWhitelist` (r12): lowercased source type names the CALLER
    * guarantees exist at replay time — enum types it will `CREATE TYPE`
    * first, extension types it will `CREATE EXTENSION` first
    * ([[structureScriptFull]] computes the set). A Postgres column whose
    * scraped native type is whitelisted replays with THAT type verbatim
    * instead of degrading to the Spark-schema analog, and emits no
    * degradation note — the pg_dump-fidelity upgrade for the one class
    * the typed scrape could not previously carry.
    *
    * `verbatimUnmodeled` (VERDICT r13 #6, `pg_dump.go:32-59` parity): when
    * true, a Postgres replay carries EVERY scraped native type outside the
    * standard-SQL model verbatim — exactly what `pg_dump --schema-only`
    * emits — instead of degrading to the Spark-schema analog with a note.
    * Off by default because the carried type only exists at replay time
    * if the operator installs its extension first (the whitelist/
    * CREATE EXTENSION path does that for the known ones); with the flag
    * the operator takes that responsibility for ALL of them. */
  def createTable(ts: TableStructure, dialect: Dialect,
      nativeTypeWhitelist: Set[String] = Set.empty,
      verbatimUnmodeled: Boolean = false): String = {
    def nativeReplay(colName: String): Option[String] =
      if (dialect != Dialect.Postgres) None
      else ts.nativeTypes.get(colName)
        .filter(tn => nativeTypeWhitelist.contains(tn.toLowerCase) ||
          (verbatimUnmodeled && !isReplayableNativeType(tn)))
        .map { tn =>
          // a TYPE EXPRESSION is not always a bare identifier: pg_dump
          // emits `geometry(Point,4326)`, `timestamp(3) with time zone`,
          // `numeric(10,2)[]` bare — quoting those would turn a
          // parameterized type into a (nonexistent) quoted identifier.
          // Pass through anything matching the safe type-expression
          // grammar (word, optional (args), optional SUFFIX WORDS FROM
          // THE KNOWN TYPE-MODIFIER VOCABULARY, optional []); quote-and-
          // escape everything else. The suffix words are closed-set
          // (ADVICE r14 #1): an arbitrary-word suffix clause let a
          // scraped type NAME like `mood not null` (quoted custom type
          // names can contain spaces) pass unquoted and be reparsed by
          // the target as type `mood` plus an injected NOT NULL
          // constraint — a silent semantics change. A multi-word name
          // outside the vocabulary now quotes, which is also what the
          // target needs to resolve it.
          // args may follow the base name (`geometry(Point,4326)`,
          // `timestamp(3) with time zone`) OR the modifier words
          // (`bit varying(5)`, `character varying(10)`) — pg emits both
          val TypeExpr =
            ("""([A-Za-z_][A-Za-z0-9_]*)(\s*\([0-9A-Za-z_,\s]*\))?""" +
              """((?:\s+[A-Za-z_][A-Za-z0-9_]*)*)""" +
              """(\s*\([0-9A-Za-z_,\s]*\))?(\[\])?""").r
          val safeTypeExpr = tn match {
            case TypeExpr(_, _, suffix, _, _) =>
              suffix.trim.isEmpty || suffix.trim.split("\\s+")
                .forall(w => SafeTypeSuffixWords.contains(w.toLowerCase))
            case _ => false
          }
          if (safeTypeExpr) tn
          else "\"" + tn.replace("\"", "\"\"") + "\""
        }
    val cols = ts.schema.fields.map { f =>
      val identity = ts.autoIncrement.contains(f.name)
      val genExpr = ts.generated.get(f.name)
      // identity implies an engine-generated default — never emit both
      val generated =
        if (genExpr.isDefined)
          // computed column: expression is engine SQL carried opaquely.
          // MySQL/Postgres require STORED for a materialized generated
          // column (Postgres 12+ supports only STORED); Derby's syntax
          // has no keyword.
          (if (dialect == Dialect.Derby)
            s" GENERATED ALWAYS AS (${genExpr.get})"
          else s" GENERATED ALWAYS AS (${genExpr.get}) STORED")
        else if (!identity) ""
        else if (dialect == Dialect.MySql) "" // AUTO_INCREMENT goes last
        else " GENERATED BY DEFAULT AS IDENTITY"
      val default =
        if (identity || genExpr.isDefined) ""
        else ts.defaults.get(f.name).map(d => s" DEFAULT $d").getOrElse("")
      val nullness = if (f.nullable) "" else " NOT NULL"
      val autoInc =
        if (identity && dialect == Dialect.MySql) " AUTO_INCREMENT" else ""
      // explicit column collation: MySQL takes the name bare, Postgres
      // quoted; Derby collates per-database (territory-based) and cannot
      // express it per column — those degrade to the prefix fidelity note
      val collate = ts.collations.get(f.name) match {
        case Some(c) if dialect == Dialect.MySql => s" COLLATE $c"
        case Some(c) if dialect == Dialect.Postgres => s""" COLLATE "$c""""
        case _ => ""
      }
      // MySQL carries column comments inline; Postgres uses COMMENT ON
      // statements ([[createComments]]); Derby has no comment support at
      // all (notes ride with createComments' fidelity lines)
      val comment = ts.columnComments.get(f.name) match {
        case Some(c) if dialect == Dialect.MySql =>
          s" COMMENT '${c.replace("'", "''")}'"
        case _ => ""
      }
      s"  ${dialect.quote(f.name)} " +
        nativeReplay(f.name).getOrElse(dialect.typeName(f.dataType)) +
        s"$collate$generated$default$nullness$autoInc$comment"
    }
    val pk =
      if (ts.primaryKey.isEmpty) Nil
      else Seq(s"  PRIMARY KEY (${ts.primaryKey.map(dialect.quote).mkString(", ")})")
    val uq = ts.uniques.map { case (n, cs) =>
      s"  CONSTRAINT ${dialect.quote(n)} UNIQUE (${cs.map(dialect.quote).mkString(", ")})"
    }
    // pg_get_constraintdef appends constraint attributes AFTER the CHECK
    // group; they must stay outside the CHECK(...) wrapper or the replay is
    // a syntax error. NO INHERIT is legal in a Postgres CREATE TABLE; NOT
    // VALID only exists in ALTER TABLE ADD CONSTRAINT (replaying validates
    // the constraint — strictly stronger), so it degrades to the standard
    // prefix fidelity note. Non-Postgres dialects note both.
    val ck = ts.checks.map { case (n, clause) =>
      val attrs = ts.checkAttrs.getOrElse(n, "")
      val inline =
        if (dialect == Dialect.Postgres && attrs.contains("NO INHERIT"))
          " NO INHERIT"
        else ""
      s"  CONSTRAINT ${dialect.quote(n)} CHECK ($clause)$inline"
    }
    val ckAttrPrefix = ts.checks.flatMap { case (n, _) =>
      val attrs = ts.checkAttrs.getOrElse(n, "")
      val dropped = Seq(
        "NOT VALID" -> attrs.contains("NOT VALID"),
        "NO INHERIT" -> (attrs.contains("NO INHERIT") &&
          dialect != Dialect.Postgres)
      ).collect { case (tok, true) => tok }
      if (dropped.isEmpty) None
      else Some(s"-- CONSTRAINT $n: ${dropped.mkString(", ")} not " +
        "expressible in CREATE TABLE" +
        (if (dropped.contains("NOT VALID")) "; replay validates the constraint"
         else "") + "\n")
    }.mkString
    // exclusion constraints are Postgres-only; the definition text
    // ("EXCLUDE USING gist (...)") is engine SQL carried opaquely, the
    // CHECK/view fidelity contract. Elsewhere: prefix note, never silence.
    val ex =
      if (dialect == Dialect.Postgres)
        ts.exclusions.map { case (n, d) => s"  CONSTRAINT ${dialect.quote(n)} $d" }
      else Nil
    // the partition clause is engine SQL carried opaquely; Derby has no
    // table partitioning, so there it degrades to a comment line BEFORE the
    // statement (the dialect-pinned fidelity note, not silent loss) — the
    // statement itself must still end in ';' so the single-statement
    // `.stripSuffix(";")` replay idiom keeps working
    val (partPrefix, partSuffix) = ts.partitionClause match {
      case Some(p) if dialect == Dialect.Derby =>
        (s"-- $p (no partitioning in derby)\n", "")
      case Some(p) => ("", s" $p")
      case None => ("", "")
    }
    // same fidelity-note contract for collations Derby can't express —
    // a comment INSIDE the column list would swallow the joining comma
    val collPrefix =
      if (dialect == Dialect.Derby && ts.collations.nonEmpty)
        ts.collations.toSeq.sortBy(_._1).map { case (c, coll) =>
          s"-- $c COLLATE $coll (no column collation in derby)\n"
        }.mkString
      else ""
    val exPrefix =
      if (dialect != Dialect.Postgres)
        ts.exclusions.map { case (n, d) =>
          s"-- CONSTRAINT $n $d (exclusion constraints are postgres-only)\n"
        }.mkString
      else ""
    // MySQL's table options: COMMENT precedes the partition clause
    val tblComment = ts.comment match {
      case Some(c) if dialect == Dialect.MySql =>
        s" COMMENT='${c.replace("'", "''")}'"
      case _ => ""
    }
    // extension/custom source types: the typed scrape reads them through
    // Spark\'s schema, which has already swapped the engine type for its
    // closest standard analog — a swap pg_dump would never make. The
    // fidelity contract here matches exclusions/collations: a pointed
    // prefix note per column naming BOTH types, so an operator can
    // `CREATE EXTENSION` + `ALTER COLUMN TYPE` after replay instead of
    // discovering the degradation in production. DdlExoticaSpec pins it.
    val typeNotePrefix = ts.schema.fields.flatMap { f =>
      ts.nativeTypes.get(f.name).filterNot(isReplayableNativeType)
        // whitelisted types replay VERBATIM — nothing degraded, no note
        .filter(_ => nativeReplay(f.name).isEmpty).map { tn =>
        s"-- ${f.name}: source native type \'$tn\' replayed as " +
          s"${dialect.typeName(f.dataType)} (outside the typed scrape\'s " +
          "standard-SQL model; pg_dump --schema-only carries it verbatim)\n"
      }
    }.mkString
    s"$collPrefix$exPrefix$typeNotePrefix$ckAttrPrefix${partPrefix}CREATE TABLE ${dialect.quote(ts.table)} (\n${(cols ++ pk ++ uq ++ ck ++ ex).mkString(",\n")}\n)$tblComment$partSuffix;"
  }

  /** Post-load secondary-index replay: one `CREATE INDEX` per non-unique
    * index, after data load for the same reason FKs replay as ALTERs —
    * building an index on a loaded table is one sort instead of
    * row-at-a-time maintenance during the load. */
  def createIndexes(ts: TableStructure, dialect: Dialect): Seq[String] =
    ts.indexes.map { case (n, cs) =>
      s"CREATE INDEX ${dialect.quote(n)} ON ${dialect.quote(ts.table)} " +
        s"(${cs.map(dialect.quote).mkString(", ")})"
    }

  /** Post-load FK replay: one `ALTER TABLE ... ADD CONSTRAINT` per foreign
    * key (same statement shape the reference's RDS mode re-creates,
    * postgres/dumper.go:138-143). */
  def addForeignKeys(ts: TableStructure, dialect: Dialect): Seq[String] =
    ts.foreignKeys.map { fk =>
      s"ALTER TABLE ${dialect.quote(ts.table)} ADD CONSTRAINT ${dialect.quote(fk.name)} " +
        s"FOREIGN KEY (${fk.columns.map(dialect.quote).mkString(", ")}) " +
        s"REFERENCES ${dialect.quote(fk.refTable)} " +
        s"(${fk.refColumns.map(dialect.quote).mkString(", ")})"
    }

  /** Whole-catalog structure script (≅ `GetStructure`,
    * mysql/reader.go:84-111): preamble + per-table CREATE + postamble. */
  def structureScript(
      tables: Seq[(String, StructType)], dialect: Dialect): String =
    structureScriptFull(
      tables.map { case (t, s) => TableStructure(t, s) }, dialect)

  /** Extension-owned types the replay can make real with one
    * `CREATE EXTENSION IF NOT EXISTS`: type name → owning extension. */
  private val ExtensionTypes: Map[String, String] = Map(
    "citext" -> "citext", "hstore" -> "hstore", "ltree" -> "ltree",
    "cube" -> "cube", "seg" -> "seg")

  /** Full-fidelity catalog script: CREATEs first (any order — FKs aren't
    * inline), then every FK ALTER and secondary-index CREATE, then views
    * and triggers (they may reference any table), inside the dialect's
    * constraint-bypass preamble/postamble. Triggers ride in the structure
    * script like the reference's pg_dump passthrough — a loader that must
    * not fire them during bulk load applies them separately via
    * [[createTrigger]] after data (the same reasoning FKs replay as
    * post-load ALTERs).
    *
    * `verbatimUnmodeled` forwards to [[createTable]] (VERDICT r13 #6):
    * carry unknown extension types verbatim instead of degrading — the
    * operator guarantees the owning extensions exist at replay time. */
  def structureScriptFull(
      tables: Seq[TableStructure], dialect: Dialect,
      views: Seq[ViewStructure] = Nil,
      triggers: Seq[TriggerStructure] = Nil,
      sequences: Seq[SequenceStructure] = Nil,
      enums: Seq[EnumStructure] = Nil,
      verbatimUnmodeled: Boolean = false): String = {
    val sb = new StringBuilder
    sb.append(s"-- graft structure dump (${dialect.name})\n")
    dialect.preamble.foreach(s => sb.append(s).append(";\n"))
    // native-type replay set (Postgres only): enum types this script
    // CREATEs below, plus extension types it can CREATE EXTENSION for —
    // columns of these types keep their source type verbatim
    val extensions =
      if (dialect != Dialect.Postgres) Nil
      else tables.flatMap(_.nativeTypes.values)
        .map(_.toLowerCase).distinct.sorted
        .flatMap(tn => ExtensionTypes.get(tn).map(tn -> _))
    val whitelist: Set[String] =
      if (dialect != Dialect.Postgres) Set.empty
      else enums.map(_.name.toLowerCase).toSet ++ extensions.map(_._1)
    extensions.map(_._2).distinct.foreach(ext =>
      sb.append(s"CREATE EXTENSION IF NOT EXISTS $ext;\n"))
    enums.foreach(e => sb.append(createEnum(e, dialect)).append("\n"))
    // sequences first: a table DEFAULT may call NEXT VALUE FOR / nextval
    sequences.foreach(s => sb.append(createSequence(s, dialect)).append("\n"))
    tables.foreach(t =>
      sb.append(createTable(t, dialect, whitelist, verbatimUnmodeled))
        .append("\n"))
    tables.foreach(t =>
      createComments(t, dialect).foreach(s => sb.append(s).append("\n")))
    tables.foreach(t =>
      addForeignKeys(t, dialect).foreach(s => sb.append(s).append(";\n")))
    tables.foreach(t =>
      createIndexes(t, dialect).foreach(s => sb.append(s).append(";\n")))
    views.foreach(v => sb.append(createView(v, dialect)).append("\n"))
    triggers.foreach(t => sb.append(createTrigger(t)).append("\n"))
    dialect.postamble.foreach(s => sb.append(s).append(";\n"))
    sb.toString
  }

  /** Read PK / unique / default / FK structure from a live JDBC catalog
    * (`java.sql.DatabaseMetaData` — the portable analog of the reference's
    * `SHOW CREATE TABLE` scrape, mysql/reader.go:84-111) and merge it onto
    * the Spark-read schema. Works against any JDBC engine (tested against
    * embedded Derby; MySQL/Postgres expose the same metadata surface). */
  def structureFromJdbc(
      conn: java.sql.Connection, table: String,
      schema: StructType): TableStructure = {
    val md = conn.getMetaData
    // JDBC metadata stores unquoted identifiers case-folded per engine
    val candidates = Seq(table, table.toUpperCase, table.toLowerCase).distinct
    def firstNonEmpty[A](f: String => Seq[A]): Seq[A] =
      candidates.iterator.map(f).find(_.nonEmpty).getOrElse(Nil)

    def collect[A](rs: java.sql.ResultSet)(row: java.sql.ResultSet => A): Seq[A] = {
      val buf = collection.mutable.ArrayBuffer.empty[A]
      try while (rs.next()) buf += row(rs) finally rs.close()
      buf.toSeq
    }

    val pk = firstNonEmpty(t =>
      collect(md.getPrimaryKeys(null, null, t))(rs =>
        (rs.getShort("KEY_SEQ"), rs.getString("COLUMN_NAME"))))
      .sortBy(_._1).map(_._2)

    val fkRows = firstNonEmpty(t =>
      collect(md.getImportedKeys(null, null, t))(rs =>
        (rs.getString("FK_NAME"), rs.getShort("KEY_SEQ"),
          rs.getString("FKCOLUMN_NAME"), rs.getString("PKTABLE_NAME"),
          rs.getString("PKCOLUMN_NAME"))))
    val fks = fkRows.groupBy(_._1).toSeq.sortBy(_._1).map { case (name, rows) =>
      val ordered = rows.sortBy(_._2)
      ForeignKey(name, ordered.map(_._3),
        ordered.head._4, ordered.map(_._5))
    }

    // ALL indexes in one metadata call (unique=false): NON_UNIQUE splits
    // them into unique constraints vs secondary indexes
    val idxRows = firstNonEmpty(t =>
      collect(md.getIndexInfo(null, null, t, false, false))(rs =>
        (rs.getString("INDEX_NAME"), rs.getShort("ORDINAL_POSITION"),
          rs.getString("COLUMN_NAME"), rs.getBoolean("NON_UNIQUE"))))
      .filter(r => r._1 != null && r._3 != null)
    val pkSet = pk.toSet
    val fkNames = fkRows.map(_._1).toSet
    val uniques = idxRows.filter(!_._4).groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (n, rows) => n -> rows.sortBy(_._2).map(_._3) }
      .filter { case (_, cols) => cols.toSet != pkSet } // PK index repeats here
    // Secondary = non-unique, minus constraint plumbing: engines surface
    // FK-backing indexes here (named after the constraint, or Derby's
    // generated SQLyyMMdd… names) — replaying those would double-index the
    // FK columns the target engine already indexes itself.
    val indexes = idxRows.filter(_._4).groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (n, rows) => n -> rows.sortBy(_._2).map(_._3) }
      .filterNot { case (n, _) =>
        fkNames.contains(n) || n.matches("(?i)SQL\\d+") }

    val colRows = firstNonEmpty(t =>
      collect(md.getColumns(null, null, t, null))(rs =>
        (rs.getString("COLUMN_NAME"), rs.getString("COLUMN_DEF"),
          rs.getString("IS_AUTOINCREMENT"),
          // IS_GENERATEDCOLUMN is JDBC 4.1 standard but drivers vary —
          // absent/unsupported reads as "not generated"
          try rs.getString("IS_GENERATEDCOLUMN") catch { case _: Exception => "NO" },
          // the engine's own name for the column type (citext, hstore,
          // geometry…) — what pg_dump would emit verbatim; kept so replay
          // can DIAGNOSE types the typed scrape degrades (see createTable)
          try rs.getString("TYPE_NAME") catch { case _: Exception => null })))
    val autoInc = colRows.collect {
      case (c, _, auto, _, _) if auto != null && auto.equalsIgnoreCase("YES") => c
    }.toSet
    // generated columns: Derby surfaces the expression through COLUMN_DEF
    // ("GENERATED ALWAYS AS ( expr )"); MySQL/Postgres route through
    // information_schema (their drivers leave COLUMN_DEF null for these)
    val genFromMeta = colRows.collect {
      case (c, d, _, g, _) if g != null && g.equalsIgnoreCase("YES") &&
        d != null && parseGeneratedExpr(d).nonEmpty =>
        c -> parseGeneratedExpr(d).get
    }.toMap
    val generated =
      if (genFromMeta.nonEmpty) genFromMeta
      else generatedFromCatalog(conn, candidates)
    val defaults = colRows
      .collect { case (c, d, _, _, _) if d != null && d.trim.nonEmpty &&
        !autoInc.contains(c) && !generated.contains(c) =>
        c -> d.trim } // identity/generation defaults are engine noise
      .toMap
    val nativeTypes = colRows
      .collect { case (c, _, _, _, tn) if tn != null && tn.trim.nonEmpty =>
        c -> tn.trim }
      .toMap

    val (checks, checkAttrs) = checksFromJdbc(conn, candidates)
    val partition = partitionClauseFromCatalog(conn, candidates)
    val collations = collationsFromCatalog(conn, candidates)
    val exclusions = exclusionsFromCatalog(conn, candidates)
    val (tblComment, colComments) = commentsFromCatalog(conn, candidates)

    // schema column names are authoritative (Spark-read case); re-map
    // metadata names onto them case-insensitively
    val byLower = schema.fieldNames.map(n => n.toLowerCase -> n).toMap
    def fix(c: String): String = byLower.getOrElse(c.toLowerCase, c)
    TableStructure(table, schema,
      primaryKey = pk.map(fix),
      uniques = uniques.map { case (n, cs) => n -> cs.map(fix) },
      defaults = defaults.map { case (c, d) => fix(c) -> d },
      foreignKeys = fks.map(f =>
        f.copy(columns = f.columns.map(fix), refColumns = f.refColumns.map(fix))),
      indexes = indexes.map { case (n, cs) => n -> cs.map(fix) },
      checks = checks,
      checkAttrs = checkAttrs,
      autoIncrement = autoInc.map(fix),
      generated = generated.map { case (c, e) => fix(c) -> e },
      partitionClause = partition,
      collations = collations.map { case (c, n) => fix(c) -> n },
      exclusions = exclusions,
      comment = tblComment,
      columnComments = colComments.map { case (c, t) => fix(c) -> t },
      nativeTypes = nativeTypes.map { case (c, t) => fix(c) -> t })
  }

  /** "GENERATED ALWAYS AS ( expr )" → "expr" (Derby's COLUMN_DEF shape). */
  private[sinks] def parseGeneratedExpr(columnDef: String): Option[String] = {
    val re = "(?is)^\\s*GENERATED\\s+ALWAYS\\s+AS\\s*\\((.*)\\)\\s*(STORED|VIRTUAL)?\\s*$".r
    columnDef match {
      case re(expr, _) => Some(expr.trim)
      case _ => None
    }
  }

  /** Generation expressions where JDBC metadata doesn't carry them:
    * MySQL 5.7+ / Postgres 12+ information_schema. */
  private def generatedFromCatalog(
      conn: java.sql.Connection,
      tableCandidates: Seq[String]): Map[String, String] = {
    val url = Option(conn.getMetaData.getURL).getOrElse("")
    val query =
      if (url.startsWith("jdbc:mysql:"))
        Some("SELECT COLUMN_NAME, GENERATION_EXPRESSION " +
          "FROM information_schema.COLUMNS " +
          "WHERE TABLE_SCHEMA = DATABASE() AND TABLE_NAME = ? " +
          "AND GENERATION_EXPRESSION IS NOT NULL AND GENERATION_EXPRESSION != ''")
      else if (url.startsWith("jdbc:postgresql:"))
        Some(PgCatalog.generated)
      else None
    query.toSeq.flatMap { q =>
      tableCandidates.iterator.map { t =>
        val ps = conn.prepareStatement(q)
        try {
          ps.setString(1, t)
          val rs = ps.executeQuery()
          val buf = collection.mutable.ArrayBuffer.empty[(String, String)]
          try while (rs.next()) buf += (rs.getString(1) -> rs.getString(2).trim)
          finally rs.close()
          buf.toSeq
        } finally ps.close()
      }.find(_.nonEmpty).getOrElse(Nil)
    }.toMap
  }

  /** Explicit per-column collations. Postgres' information_schema reports
    * `collation_name` ONLY when a column carries an explicit non-default
    * collation — exactly the set worth replaying. MySQL reports every
    * string column's collation, so it is filtered against the TABLE's
    * default — only deviations carry (re-emitting the default on every
    * column would pin today's server default into the copy). Derby
    * collates per database (territory-based); nothing to extract. */
  private def collationsFromCatalog(
      conn: java.sql.Connection,
      tableCandidates: Seq[String]): Map[String, String] = {
    val url = Option(conn.getMetaData.getURL).getOrElse("")
    val query =
      if (url.startsWith("jdbc:mysql:"))
        Some("SELECT c.COLUMN_NAME, c.COLLATION_NAME " +
          "FROM information_schema.COLUMNS c " +
          "JOIN information_schema.TABLES t " +
          "ON t.TABLE_SCHEMA = c.TABLE_SCHEMA AND t.TABLE_NAME = c.TABLE_NAME " +
          "WHERE c.TABLE_SCHEMA = DATABASE() AND c.TABLE_NAME = ? " +
          "AND c.COLLATION_NAME IS NOT NULL " +
          "AND c.COLLATION_NAME != t.TABLE_COLLATION")
      else if (url.startsWith("jdbc:postgresql:"))
        Some(PgCatalog.collations)
      else None
    query.toSeq.flatMap { q =>
      tableCandidates.iterator.map { t =>
        val ps = conn.prepareStatement(q)
        try {
          ps.setString(1, t)
          val rs = ps.executeQuery()
          val buf = collection.mutable.ArrayBuffer.empty[(String, String)]
          try while (rs.next()) buf += (rs.getString(1) -> rs.getString(2))
          finally rs.close()
          buf.toSeq
        } finally ps.close()
      }.find(_.nonEmpty).getOrElse(Nil)
    }.toMap
  }

  /** Table + column comments from a live catalog (MySQL information_schema
    * TABLE_COMMENT/COLUMN_COMMENT; Postgres obj_description /
    * col_description — the pg_dump COMMENT ON carry; Derby has none). */
  private def commentsFromCatalog(
      conn: java.sql.Connection,
      tableCandidates: Seq[String]): (Option[String], Map[String, String]) = {
    val url = Option(conn.getMetaData.getURL).getOrElse("")
    def one(q: String, bind: Int = 1): Option[String] =
      tableCandidates.iterator.flatMap { t =>
        val ps = conn.prepareStatement(q)
        try {
          (1 to bind).foreach(i => ps.setString(i, t))
          val rs = ps.executeQuery()
          try {
            if (rs.next()) Option(rs.getString(1)).map(_.trim).filter(_.nonEmpty)
            else None
          } finally rs.close()
        } finally ps.close()
      }.nextOption()
    def many(q: String): Map[String, String] =
      tableCandidates.iterator.map { t =>
        val ps = conn.prepareStatement(q)
        try {
          ps.setString(1, t)
          val rs = ps.executeQuery()
          val buf = collection.mutable.ArrayBuffer.empty[(String, String)]
          try while (rs.next()) {
            val c = Option(rs.getString(2)).map(_.trim).filter(_.nonEmpty)
            c.foreach(v => buf += (rs.getString(1) -> v))
          } finally rs.close()
          buf.toSeq
        } finally ps.close()
      }.find(_.nonEmpty).getOrElse(Nil).toMap
    if (url.startsWith("jdbc:mysql:"))
      (one("SELECT TABLE_COMMENT FROM information_schema.TABLES " +
        "WHERE TABLE_SCHEMA = DATABASE() AND TABLE_NAME = ?"),
        many("SELECT COLUMN_NAME, COLUMN_COMMENT " +
          "FROM information_schema.COLUMNS " +
          "WHERE TABLE_SCHEMA = DATABASE() AND TABLE_NAME = ?"))
    else if (url.startsWith("jdbc:postgresql:"))
      (one(PgCatalog.tableComment), many(PgCatalog.columnComments))
    else (None, Map.empty)
  }

  /** Exclusion constraints (Postgres-only, contype 'x'), carried as the
    * full `pg_get_constraintdef` text — the pg_dump opaque-passthrough
    * contract (`pkg/reader/postgres/pg_dump.go:32-59`). */
  private def exclusionsFromCatalog(
      conn: java.sql.Connection,
      tableCandidates: Seq[String]): Seq[(String, String)] = {
    val url = Option(conn.getMetaData.getURL).getOrElse("")
    if (!url.startsWith("jdbc:postgresql:")) return Nil
    tableCandidates.iterator.map { t =>
      val ps = conn.prepareStatement(PgCatalog.exclusions)
      try {
        ps.setString(1, t)
        val rs = ps.executeQuery()
        val buf = collection.mutable.ArrayBuffer.empty[(String, String)]
        try while (rs.next()) buf += (rs.getString(1) -> rs.getString(2))
        finally rs.close()
        buf.toSeq
      } finally ps.close()
    }.find(_.nonEmpty).getOrElse(Nil)
  }

  /** Standalone sequences from a live catalog (serial/identity-owned
    * backing sequences are EXCLUDED — they replay through the identity
    * column itself). Engine-routed like views/triggers: Postgres via
    * information_schema.sequences minus pg_depend-owned ones (the
    * ownership `pg_get_serial_sequence` reports arrives as a deptype
    * 'a'/'i' dependency row), Derby via SYS.SYSSEQUENCES (the live e2e
    * engine), MySQL has no sequences. */
  def sequencesFromJdbc(
      conn: java.sql.Connection, url: String): Seq[SequenceStructure] = {
    def collect(q: String): Seq[SequenceStructure] = {
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(q)
        val buf = collection.mutable.ArrayBuffer.empty[SequenceStructure]
        try while (rs.next()) buf += SequenceStructure(rs.getString(1),
          rs.getString(2), rs.getLong(3), rs.getLong(4))
        finally rs.close()
        buf.sortBy(_.name).toSeq
      } finally st.close()
    }
    if (url.startsWith("jdbc:postgresql:"))
      collect(PgCatalog.sequences)
    else if (url.startsWith("jdbc:derby:"))
      // SEQUENCEDATATYPE is a TypeDescriptor whose string form is the SQL
      // type name. Derby materializes IDENTITY backing sequences in
      // SYS.SYSSEQUENCES too — under the SYS schema, so the user-schema
      // join excludes them the same way pg_depend ownership does on
      // Postgres.
      collect("SELECT q.SEQUENCENAME, " +
        "CAST(q.SEQUENCEDATATYPE AS VARCHAR(128)), " +
        "q.STARTVALUE, q.INCREMENT " +
        "FROM SYS.SYSSEQUENCES q JOIN SYS.SYSSCHEMAS s " +
        "ON s.SCHEMAID = q.SCHEMAID WHERE s.SCHEMANAME <> 'SYS'")
    else Nil
  }

  /** Comment replay: Postgres takes `COMMENT ON` statements after the
    * CREATE; MySQL already carried them inline ([[createTable]]) so this
    * is empty there; Derby (no comment support) gets fidelity-note lines.
    * Returned lines are complete (statement + ';' or note). */
  def createComments(ts: TableStructure, dialect: Dialect): Seq[String] = {
    def esc(s: String) = s.replace("'", "''")
    val all = ts.comment.map(c => (None: Option[String]) -> c).toSeq ++
      ts.columnComments.toSeq.sortBy(_._1).map { case (c, t) => Some(c) -> t }
    dialect match {
      case Dialect.MySql => Nil
      case Dialect.Postgres => all.map {
        case (None, t) =>
          s"COMMENT ON TABLE ${dialect.quote(ts.table)} IS '${esc(t)}';"
        case (Some(c), t) =>
          s"COMMENT ON COLUMN ${dialect.quote(ts.table)}.${dialect.quote(c)} " +
            s"IS '${esc(t)}';"
      }
      case _ => all.map {
        case (None, t) => s"-- COMMENT ON TABLE ${ts.table}: $t (no comments in derby)"
        case (Some(c), t) =>
          s"-- COMMENT ON COLUMN ${ts.table}.$c: $t (no comments in derby)"
      }
    }
  }

  /** CREATE SEQUENCE in the target dialect; MySQL (no sequences) degrades
    * to the fidelity-note comment, the partition-clause contract. */
  def createSequence(s: SequenceStructure, dialect: Dialect): String =
    if (dialect == Dialect.MySql)
      s"-- CREATE SEQUENCE ${s.name} AS ${s.dataType} START WITH " +
        s"${s.startWith} INCREMENT BY ${s.incrementBy} (no sequences in mysql)"
    else
      s"CREATE SEQUENCE ${dialect.quote(s.name)} AS ${s.dataType} " +
        s"START WITH ${s.startWith} INCREMENT BY ${s.incrementBy};"

  /** Enum replay (Postgres-only object; the other dialects note it —
    * their columns stay on the degraded standard type + fidelity note,
    * exactly the pre-r12 behavior). Label order is comparison order. */
  def createEnum(e: EnumStructure, dialect: Dialect): String =
    if (dialect == Dialect.Postgres)
      s"CREATE TYPE ${dialect.quote(e.name)} AS ENUM " +
        e.labels.map(l => s"'${l.replace("'", "''")}'")
          .mkString("(", ", ", ");")
    else
      s"-- CREATE TYPE ${e.name} AS ENUM (${e.labels.mkString(", ")}) " +
        s"(no enum types in ${dialect.name})"

  /** Scrape user enum types from a live Postgres catalog
    * ([[PgCatalog.enums]]); empty on engines without enum types. */
  def enumsFromJdbc(
      conn: java.sql.Connection, url: String): Seq[EnumStructure] = {
    if (!url.startsWith("jdbc:postgresql:")) return Nil
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(PgCatalog.enums)
      val buf = collection.mutable.ArrayBuffer.empty[EnumStructure]
      try while (rs.next()) buf += EnumStructure(rs.getString(1),
        rs.getString(2).split('\u001f').toSeq)
      finally rs.close()
      buf.toSeq
    } finally st.close()
  }

  /** Partition clause of a partitioned table, as opaque `PARTITION BY ...`
    * text: Postgres via `pg_get_partkeydef` (declarative partitioning),
    * MySQL reassembled from information_schema.PARTITIONS (method +
    * expression; RANGE/LIST additionally re-emit the partition list, the
    * part `SHOW CREATE TABLE` carries opaquely). Derby and non-partitioned
    * tables yield None. */
  private def partitionClauseFromCatalog(
      conn: java.sql.Connection,
      tableCandidates: Seq[String]): Option[String] = {
    val url = Option(conn.getMetaData.getURL).getOrElse("")
    if (url.startsWith("jdbc:postgresql:")) {
      tableCandidates.iterator.flatMap { t =>
        val ps = conn.prepareStatement(PgCatalog.partitionKey)
        try {
          ps.setString(1, t)
          val rs = ps.executeQuery()
          try {
            if (rs.next() && rs.getString(1) != null)
              Some(s"PARTITION BY ${rs.getString(1)}")
            else None
          } finally rs.close()
        } finally ps.close()
      }.nextOption()
    } else if (url.startsWith("jdbc:mysql:")) {
      tableCandidates.iterator.flatMap { t =>
        // SHOW CREATE TABLE carries the clause verbatim — including the
        // column lists of RANGE/LIST COLUMNS and KEY(), which
        // information_schema.PARTITIONS does NOT expose (its
        // PARTITION_EXPRESSION is NULL for those) — so prefer it and fall
        // back to catalog reassembly only if it fails
        partitionClauseFromShowCreate(conn, t).orElse {
        val ps = conn.prepareStatement(
          "SELECT PARTITION_METHOD, PARTITION_EXPRESSION, PARTITION_NAME, " +
            "PARTITION_DESCRIPTION FROM information_schema.PARTITIONS " +
            "WHERE TABLE_SCHEMA = DATABASE() AND TABLE_NAME = ? " +
            "AND PARTITION_NAME IS NOT NULL ORDER BY PARTITION_ORDINAL_POSITION")
        try {
          ps.setString(1, t)
          val rs = ps.executeQuery()
          val rows = collection.mutable.ArrayBuffer
            .empty[(String, String, String, String)]
          try while (rs.next()) rows +=
            ((rs.getString(1), rs.getString(2), rs.getString(3), rs.getString(4)))
          finally rs.close()
          if (rows.isEmpty) None
          else {
            val (method, expr, _, _) = rows.head
            val parts = method match {
              case "RANGE" | "RANGE COLUMNS" => " (" + rows.map { case (_, _, n, d) =>
                s"PARTITION `$n` VALUES LESS THAN ($d)" }.mkString(", ") + ")"
              case "LIST" | "LIST COLUMNS" => " (" + rows.map { case (_, _, n, d) =>
                s"PARTITION `$n` VALUES IN ($d)" }.mkString(", ") + ")"
              case _ => s" PARTITIONS ${rows.size}" // HASH/KEY: count only
            }
            // a NULL expression here means the column list isn't in this
            // catalog view (COLUMNS methods, bare KEY()); emitting
            // "(null)" would be invalid DDL — KEY's empty list is legal
            // (uses the primary key), anything else drops the clause
            // rather than replay garbage
            if (expr == null && method != null && !method.endsWith("KEY")) None
            else Some(
              s"PARTITION BY $method (${Option(expr).getOrElse("")})$parts")
          }
        } finally ps.close()
        }
      }.nextOption()
    } else None
  }

  /** MySQL's `PARTITION BY ...` clause lifted verbatim from
    * `SHOW CREATE TABLE` — the reference's opaque-carry contract
    * (`pkg/reader/mysql/reader.go:84-111` keeps `SHOW CREATE TABLE` output
    * whole for the same reason: the server's own rendering is the only
    * complete one). Handles the `／*!50100 ... *／` version-comment wrapper
    * older servers emit. */
  private def partitionClauseFromShowCreate(
      conn: java.sql.Connection, table: String): Option[String] = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(
        "SHOW CREATE TABLE `" + table.replace("`", "``") + "`")
      try {
        if (!rs.next()) None
        else {
          val ddl = rs.getString(2)
          // match against a copy with string literals BLANKED (length-
          // preserving, so indexes map back) — a column/table COMMENT
          // mentioning "partition by" must not be mistaken for the
          // clause. Case-insensitive on the ORIGINAL length (an
          // uppercased copy can shift indexes — ß→SS); last occurrence
          // for safety, though outside literals there is only one.
          val masked = blankStringLiterals(ddl)
          "(?i)PARTITION BY".r.findAllMatchIn(masked).toSeq.lastOption
            .map(m => ddl.substring(m.start).trim.stripSuffix("*/").trim)
        }
      } finally rs.close()
    } catch {
      case _: java.sql.SQLException => None // not MySQL-dialect or no table
    } finally st.close()
  }

  /** Replace the CONTENTS of single-quoted string literals with spaces —
    * length-preserving, so an index found in the masked copy is valid in
    * the original. Handles both `''` and `\'` escapes (MySQL emits
    * backslash escapes in SHOW CREATE TABLE comments). */
  private def blankStringLiterals(s: String): String = {
    val out = s.toCharArray
    var i = 0
    var inStr = false
    while (i < out.length) {
      val c = out(i)
      if (!inStr) { if (c == '\'') inStr = true }
      else c match {
        case '\\' if i + 1 < out.length => // escaped next char
          out(i) = ' '; out(i + 1) = ' '; i += 1
        case '\'' if i + 1 < out.length && out(i + 1) == '\'' =>
          out(i) = ' '; out(i + 1) = ' '; i += 1 // '' escape
        case '\'' => inStr = false
        case _ => out(i) = ' '
      }
      i += 1
    }
    new String(out)
  }

  /** CHECK constraints for a table, engine-routed (JDBC metadata has no
    * portable CHECK surface): Derby's SYS catalog, MySQL 8+ / Postgres
    * information_schema. Clauses are engine SQL text carried opaquely —
    * the reference's `pg_dump` / `SHOW CREATE TABLE` contract. Postgres
    * materializes NOT NULL as `(col IS NOT NULL)` rows; those are already
    * carried by the schema's nullability, so they're filtered. */
  private def checksFromJdbc(
      conn: java.sql.Connection,
      tableCandidates: Seq[String])
      : (Seq[(String, String)], Map[String, String]) = {
    val url = Option(conn.getMetaData.getURL).getOrElse("")
    val query =
      if (url.startsWith("jdbc:derby:"))
        Some("SELECT c.CONSTRAINTNAME, ck.CHECKDEFINITION FROM SYS.SYSCHECKS ck " +
          "JOIN SYS.SYSCONSTRAINTS c ON c.CONSTRAINTID = ck.CONSTRAINTID " +
          "JOIN SYS.SYSTABLES t ON t.TABLEID = c.TABLEID WHERE t.TABLENAME = ?")
      else if (url.startsWith("jdbc:mysql:"))
        Some("SELECT tc.CONSTRAINT_NAME, cc.CHECK_CLAUSE " +
          "FROM information_schema.TABLE_CONSTRAINTS tc " +
          "JOIN information_schema.CHECK_CONSTRAINTS cc " +
          "ON cc.CONSTRAINT_SCHEMA = tc.CONSTRAINT_SCHEMA " +
          "AND cc.CONSTRAINT_NAME = tc.CONSTRAINT_NAME " +
          "WHERE tc.TABLE_SCHEMA = DATABASE() AND tc.TABLE_NAME = ? " +
          "AND tc.CONSTRAINT_TYPE = 'CHECK'")
      else if (url.startsWith("jdbc:postgresql:"))
        Some(PgCatalog.checks) // pg_constraint rationale: see PgCatalog
      else None
    val post: String => (String, Option[String]) =
      if (url.startsWith("jdbc:postgresql:")) splitPgCheckDef
      else (s => (s.trim, None))
    val rows = query.toSeq.flatMap { q =>
      tableCandidates.iterator.map { t =>
        val ps = conn.prepareStatement(q)
        try {
          ps.setString(1, t)
          val rs = ps.executeQuery()
          val buf =
            collection.mutable.ArrayBuffer.empty[(String, String, Option[String])]
          try while (rs.next()) {
            val (clause, attrs) = post(rs.getString(2))
            buf += ((rs.getString(1), clause, attrs))
          } finally rs.close()
          buf.sortBy(_._1).toSeq
        } finally ps.close()
      }.find(_.nonEmpty).getOrElse(Nil)
    }
    (rows.map { case (n, c, _) => n -> c },
      rows.collect { case (n, _, Some(a)) => n -> a }.toMap)
  }

  /** Unwrap `pg_get_constraintdef`'s "CHECK ((expr))" to the bare clause
    * and split off trailing constraint attributes ("NOT VALID",
    * "NO INHERIT") that Postgres emits AFTER the CHECK group — they must
    * not stay inside the clause or [[createTable]]'s `CHECK ($clause)`
    * wrapper produces `CHECK (((expr)) NOT VALID)`, a syntax error on
    * replay. The attribute match requires the tokens to sit after the
    * group's closing paren, so a clause whose string literal merely ends
    * in "NOT VALID" (inside the parens) is never mangled. Validated
    * against live PG 15 output by tools/live_pg_check.sh. */
  private[sinks] def splitPgCheckDef(defn: String): (String, Option[String]) = {
    val t = defn.trim.stripPrefix("CHECK").trim
    val AttrTail =
      "(?i)\\)\\s*((?:NO\\s+INHERIT|NOT\\s+VALID)(?:\\s+(?:NO\\s+INHERIT|NOT\\s+VALID))*)\\s*$".r
    val (body, attrs) = AttrTail.findFirstMatchIn(t) match {
      case Some(m) if t.startsWith("(") =>
        (t.substring(0, m.start + 1).trim,
          Some(m.group(1).toUpperCase.replaceAll("\\s+", " ")))
      case _ => (t, None)
    }
    def outerBalanced(s: String): Boolean = {
      if (!(s.startsWith("(") && s.endsWith(")"))) return false
      var depth = 0
      s.indices.foreach { i =>
        s.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0 && i < s.length - 1) return false
          case _ =>
        }
      }
      depth == 0
    }
    (if (outerBalanced(body)) body.substring(1, body.length - 1).trim else body,
      attrs)
  }

  /** Clause-only view of [[splitPgCheckDef]] (attribute-free inputs). */
  private[sinks] def stripPgCheckDef(defn: String): String =
    splitPgCheckDef(defn)._1
}
