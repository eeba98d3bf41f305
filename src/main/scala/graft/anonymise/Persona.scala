package graft.anonymise

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Row-coherent persona fakers as PURE codegen Columns.
  *
  * Every draw is an independent md5-derived 60-bit uniform over
  * `(secret ␟ table ␟ key… ␟ tag)` — the suite's ns89/minhash
  * determinism-by-hash convention — instead of the r1–r9 sequential
  * splitmix64 stream inside a Scala UDF. Two wins:
  *
  *   - **codegen**: the anonymise projection now fuses into the scan's
  *     whole-stage-codegen span (md5/conv/substring/element_at are all
  *     native expressions; the UDF serialization barrier is gone for the
  *     person-shaped fakers, which are the ones real configs use most);
  *   - **oracle-replayable**: the arithmetic is expressible bit-for-bit
  *     in ANSI SQL (`md5`, hex→int, modulo, list literal indexing), which
  *     is what makes k14 a full hash-checked CORRECTNESS row instead of
  *     the suite's one `no_oracle` cell. DuckDB computes the same md5 of
  *     the same UTF-8 bytes, takes the same 15-hex-char prefix, the same
  *     `% corpus` index, and reads the same corpus value from an inline
  *     list literal generated from [[Corpora]] (single source of truth —
  *     `graft.queries.Klepto` builds the SQL from the same vectors).
  *
  * Reference semantics preserved (pkg/anonymiser/anonymiser.go:82-107,
  * fake.go person surface): same value SHAPES (`First Last`,
  * `word_first##`, `user@wordword.zone`), same `.hex4` collision suffix
  * for EmailAddress/UserName (anonymiser.go:94-102), deterministic-seeded
  * as the suite's documented upgrade over the reference's
  * random-per-row-per-run draw.
  *
  * Coherence contract (pinned by AnonymiserCoherenceSpec): facet values
  * derive from the ROW key only, so FirstName / FullName / UserName /
  * EmailAddress columns of one row describe ONE identity; the `.hex4`
  * uniquifier and the prefix/suffix decorations are COLUMN-scoped (tag
  * carries the column name) so two decorated columns still vary.
  */
object Persona {
  private val FS = "\u001f" // field separator (prefix-unambiguous keys)
  private val NullK = "\u001e" // NULL key-value sentinel (ns89 convention)

  /** Row identity string: secret/table/key values joined with U+001F,
    * NULL key values as the U+001E sentinel (a NULL key must not collide
    * with an empty-string key, and `concat_ws` would silently drop it). */
  def rowKey(secret: String, table: String, keyCols: Seq[Column]): Column =
    concat_ws(FS, (lit(secret) +: lit(table) +:
      keyCols.map(c => coalesce(c.cast("string"), lit(NullK)))): _*)

  /** 60-bit uniform: first 15 hex chars of md5(key ␟ tag), as a long.
    * 15 chars keeps the value positive and exactly representable on both
    * engines (DuckDB replay: `('0x'||substr(md5(k||chr(31)||tag),1,15))::BIGINT`). */
  def u(key: Column, tag: String): Column =
    conv(substring(md5(concat(key, lit(FS + tag)).cast("binary")), 1, 15),
      16, 10).cast("long")

  /** Corpus literal for a pick. An inline `array(lit, lit, …)` codegens
    * one element assignment per corpus entry per pick (~8 picks per
    * persona row), so generated-projection size grows LINEARLY with
    * corpus size and crosses janino's 64 KB method limit somewhere in
    * the low thousands of entries — silently dropping the anonymise
    * projection out of whole-stage codegen (the PQ-encode failure mode,
    * Similarity.scala:446-452), exactly when a user swaps in a bigger
    * name corpus. A `typedLit` ArrayType literal is ONE constant held in
    * the codegen references array — O(1) generated code at any corpus
    * size — so picks use it unconditionally; no size threshold or
    * broadcast fallback is needed at all (a corpus big enough to strain
    * a driver-held literal would break faker semantics long before —
    * PersonaPlanSizeSpec pins code-size flatness through 10k entries). */
  private def corpusLit(corpus: IndexedSeq[String]): Column =
    typedLit(corpus: Seq[String])

  /** Uniform corpus pick (row-scoped tag). */
  def pick(corpus: IndexedSeq[String], key: Column, tag: String): Column =
    element_at(corpusLit(corpus),
      (u(key, tag) % corpus.length).cast("int") + 1)

  import Corpora._

  /** Gender draw + pool pick share the row, so FirstName and FullName
    * columns agree on the same name. */
  def firstName(key: Column): Column =
    when(u(key, "pg") % 2 === 0, pick(femaleFirstNames, key, "pf"))
      .otherwise(pick(maleFirstNames, key, "pf"))

  def lastName(key: Column): Column = pick(lastNames, key, "pl")

  def fullName(key: Column): Column =
    concat(firstName(key), lit(" "), lastName(key))

  /** `word_first##` — the [[Fakers]] username construction, drawn from
    * the row (not the column) so user/email columns share one handle. */
  def userName(key: Column): Column =
    concat(pick(loremWords, key, "uw"), lit("_"), lower(firstName(key)),
      lpad((u(key, "ud") % 100).cast("string"), 2, "0"))

  def domainName(key: Column): Column =
    concat(pick(loremWords, key, "d1"), pick(loremWords, key, "d2"),
      lit("."), pick(domainZones, key, "dz"))

  /** Column-scoped `.hex4` uniquifier (anonymiser.go:94-102's collision
    * suffix, seed-derived): first 4 md5 hex chars of (key ␟ sfx ␟ column). */
  def suffix(key: Column, column: String): Column =
    substring(
      md5(concat(key, lit(FS + "sfx" + FS + column)).cast("binary")), 1, 4)

  /** Column-scoped corpus pick (prefix/suffix decorations vary per column). */
  private def pickCol(corpus: IndexedSeq[String], key: Column, tag: String,
      column: String): Column =
    element_at(corpusLit(corpus),
      (u(key, tag + FS + column) % corpus.length).cast("int") + 1)

  /** The persona-backed faker surface ([[Fakers.personaBacked]]) as
    * Columns; None for every other name (those stay on the Rng UDF). */
  def column(name: String, key: Column, colName: String): Option[Column] =
    name match {
      case "FirstName" => Some(firstName(key))
      case "LastName" => Some(lastName(key))
      case "FullName" => Some(fullName(key))
      case "FullNameWithPrefix" =>
        Some(concat(pickCol(namePrefixes, key, "px", colName), lit(" "),
          fullName(key)))
      case "FullNameWithSuffix" =>
        Some(concat(fullName(key), lit(" "),
          pickCol(nameSuffixes, key, "sx", colName)))
      case "UserName" =>
        Some(concat(userName(key), lit("."), suffix(key, colName)))
      case "EmailAddress" =>
        Some(concat(userName(key), lit("@"), domainName(key), lit("."),
          suffix(key, colName)))
      case _ => None
    }

  // ---- DuckDB replay (oracle-side SQL generation) -------------------------
  // The SQL twin of the Column surface above, generated from the SAME
  // Corpora vectors so engine and oracle cannot drift. Used by
  // the k14 oracle entry in graft.queries.Klepto.

  private def sqlArr(c: IndexedSeq[String]): String =
    c.map(s => "'" + s.replace("'", "''") + "'").mkString("[", ",", "]")

  private def sqlQ(s: String): String = "'" + s.replace("'", "''") + "'"

  /** DuckDB expression for [[u]] over key expression `k`. Tags are
    * escaped: column names (legal with quotes in Spark identifiers) flow
    * into suffix/decoration tags. */
  def sqlU(tag: String): String =
    s"('0x'||substr(md5(k||chr(31)||${sqlQ(tag)}),1,15))::BIGINT"

  def sqlPick(corpus: IndexedSeq[String], tag: String): String =
    s"${sqlArr(corpus)}[((${sqlU(tag)}) % ${corpus.length})::INT + 1]"

  /** DuckDB expression for the row key from literal key column exprs.
    * Secret/table are embedded as SQL string literals — quotes escaped. */
  def sqlRowKey(secret: String, table: String, keyExprs: Seq[String]): String =
    (sqlQ(secret) +: sqlQ(table) +:
      keyExprs.map(e => s"coalesce(($e)::VARCHAR, chr(30))"))
      .mkString("||chr(31)||")

  def sqlFirstName: String =
    s"CASE WHEN (${sqlU("pg")}) % 2 = 0 THEN ${sqlPick(femaleFirstNames, "pf")}" +
      s" ELSE ${sqlPick(maleFirstNames, "pf")} END"

  def sqlLastName: String = sqlPick(lastNames, "pl")

  def sqlUserName: String =
    s"${sqlPick(loremWords, "uw")} || '_' || lower($sqlFirstName) || " +
      s"lpad(((${sqlU("ud")}) % 100)::VARCHAR, 2, '0')"

  def sqlDomainName: String =
    s"${sqlPick(loremWords, "d1")} || ${sqlPick(loremWords, "d2")} || '.' || " +
      sqlPick(domainZones, "dz")

  def sqlSuffix(column: String): String =
    s"substr(md5(k||chr(31)||'sfx'||chr(31)||${sqlQ(column)}), 1, 4)"

  def sqlFullName: String = s"$sqlFirstName || ' ' || $sqlLastName"

  def sqlEmail(column: String): String =
    s"$sqlUserName || '@' || $sqlDomainName || '.' || ${sqlSuffix(column)}"
}
