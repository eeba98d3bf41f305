package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Materialize, PersistedIndex}
import graft.ops.PersistedIndex.Kind
import Shared._

/** Profiling, drift, snapshots, SCD, ingest formats, dataset cards. */
private[graft] object Gov extends Family("gov") {

  /** NS56 — snapshot diff: the re-crawl change-feed. The "new" snapshot is
    * derived deterministically from the old one (first 20 docs dropped,
    * every 37th doc's text edited, first 10 docs re-keyed as additions) so
    * both engines can construct it; the diff must recover exactly those
    * edits as removed/changed/added rows with matching fingerprints. */
  /** The ns56/ns86 shared new-snapshot synthesis: docs 0–19 removed,
    * every 37th text changed, docs 0–9 re-added under shifted ids. The
    * shift is `max(doc_id) + 1` — STRUCTURAL, so added ids can never
    * collide with real ids at any corpus size (a fixed +100000 collided
    * once ScaleProof corpora passed 100k docs, silently violating the
    * diff's key-uniqueness contract). */
  private def snapshotTick(
      d: DataFrame, cols: Seq[String]): DataFrame = {
    val shift = d.agg(max(col("doc_id"))).head.getLong(0) + 1
    d.where(col("doc_id") >= 20)
      .withColumn("text",
        when(col("doc_id") % 37 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
      .unionByName(d.where(col("doc_id") < 10)
        .select((col("doc_id") + shift).as("doc_id") +:
          cols.map(col): _*))
  }

  private def ns56(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val cols = Seq("text", "lang", "source", "n_chars")
    graft.ops.Versioning.snapshotDiff(
      d, snapshotTick(d, cols), "doc_id", cols)
  }

  /** NS58 — Z-order layout: documents rewritten clustered on the
    * INTERLEAVED bits of (n_chars, doc_id), so row-group skipping works
    * on BOTH filter columns (ns41's lexicographic clustering serves only
    * its leading column). The two-dimensional predicate reads the
    * z-layout; the oracle reads the raw table — the rewrite must be
    * answer-invisible, ns41's contract. */
  private def ns58(s: SparkSession, dir: String): DataFrame = {
    val base = PersistedIndex.scratch(s, "graft_zorder",
        s"$dir/documents.parquet")(p =>
      graft.ops.Layout.zorder(
        docs(s, dir), p, Seq("n_chars", "doc_id"), numFiles = 16))
    graft.ops.Layout.read(s, base)
      .where(col("n_chars").between(150, 400) &&
        col("doc_id").between(100, 300))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
  }

  /** NS41 — storage-layout optimization: the corpus rewritten partitioned
    * by lang and range-clustered on n_chars, then a selective query served
    * FROM the layout — the lang predicate prunes partition directories at
    * planning time and the n_chars range reaches parquet min/max stats
    * (both pinned in CorpusOpsSpec). Layout is scratch-cached per content
    * fingerprint, same staleness contract as the indexes. */
  private def ns41(s: SparkSession, dir: String): DataFrame = {
    val base = PersistedIndex.scratch(s, "graft_layout",
        s"$dir/documents.parquet")(p =>
      graft.ops.Layout.optimize(
        docs(s, dir), p, Seq("lang"), Seq("n_chars")))
    graft.ops.Layout.read(s, base)
      .where(col("lang") === "en" &&
        col("n_chars") >= 150 && col("n_chars") <= 400)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"))
  }

  /** NS47 — cross-source overlap matrix: distinct shared 3-grams (and the
    * fraction of the smaller vocabulary) for every source pair — the
    * corpus audit that exposes feeds mirroring each other. Gram-keyed
    * shuffles; per-gram pair work bounded by sources². */
  private def ns47(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.sourceOverlap(docs(s, dir))

  /** NS73 — the fused web-ingest pipeline
    * ([[graft.ops.Curation.webIngest]]): URL dedup -> line dedup over the
    * URL survivors -> cleaned-text quality gate -> exact content dedup,
    * on pages carrying the ns70 URL synthesis AND the ns68 line-structure
    * synthesis. Mirror copies die at stage 1 before inflating line df;
    * boilerplate dies at stage 2; chrome-only pages die at stage 3;
    * identical cleaned bodies collapse at stage 4. */
  private def ns73(s: SparkSession, dir: String): DataFrame =
    graft.ops.Curation.webIngest(
      docs(s, dir).select(col("doc_id"), ns70SynthUrl.as("url"),
        ns68SynthText.as("text")))

  /** NS71 — token-distribution drift between corpus snapshots: the even
    * doc_ids stand in for the accepted corpus, the odd for the incoming
    * crawl; the 50 tokens whose relative frequency moved most are ranked
    * by the exact integer cross-product metric (no float division — see
    * [[graft.ops.Versioning.tokenDrift]]). One token-keyed aggregation +
    * TakeOrderedAndProject. */
  private def ns71(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.ops.Versioning.tokenDrift(
      d.where(col("doc_id") % 2 === 0),
      d.where(col("doc_id") % 2 === 1), topK = 50)
  }

  /** NS76 — dataset-card rollup ([[graft.ops.Curation.describeCorpus]]):
    * the one-row release summary — volume, diversity, token extremes,
    * HLL distinct-text estimate. Exact integers everywhere but the
    * sketch estimate, which follows the ns44 rounding contract. */
  private def ns76(s: SparkSession, dir: String): DataFrame =
    graft.ops.Curation.describeCorpus(docs(s, dir))

  /** NS77 — per-HOST reputation gate ([[graft.ops.Urls.hostReputation]]):
    * pages are released only if their host has enough pages (≥ 3) and a
    * duplicate rate ≤ 500‰ — the Gopher/RefinedWeb host-level filter. The
    * synthesis spreads docs over seven hosts (two url spellings each, so
    * the host normalization is load-bearing), makes host `h0` a template
    * farm (every page the same body → dup gate kills it) and gives
    * doc 0 a singleton host (min-docs gate kills it). One
    * (host, digest)-keyed count-distinct + an AQE-broadcast stats join
    * back; the text column reduces to its md5 before any exchange. */
  private def ns77(s: SparkSession, dir: String): DataFrame = {
    val g = (col("doc_id") % 7).cast("string")
    val url = when(col("doc_id") === 0,
        lit("https://lonely.example.org/only"))
      .when(col("doc_id") % 2 === 0,
        concat(lit("HTTPS://WWW.h"), g, lit(".Example.org:443/p/"),
          col("doc_id").cast("string")))
      .otherwise(concat(lit("https://h"), g, lit(".example.org/p/"),
        col("doc_id").cast("string")))
    graft.ops.Urls.hostReputation(
      docs(s, dir).select(col("doc_id"), url.as("url"),
        when(col("doc_id") % 7 === 0, lit("cheap spam page body"))
          .otherwise(col("text")).as("text")),
      minDocs = 3, maxDupPermille = 500)
  }

  /** NS99 — SCD-2 corpus history ([[graft.ops.Versioning.scdHistory]]):
    * three snapshot versions (the ns56 tick applied twice) collapsed to
    * per-key runs with (valid_from, valid_to, is_current). The tick
    * produces every run shape: stable keys (one run 0→2), the %37 keys
    * re-written at each tick (three single-version runs), keys 10–19
    * terminated at v1, keys <10 terminated at v0 with their shifted
    * reincarnations opening mid-history. One key-hash exchange total;
    * the oracle rebuilds both ticks and the run algebra in SQL
    * windows. */
  private def ns99(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val cols = Seq("text", "lang", "source", "n_chars")
    // v1 is LAZY-checkpointed: it feeds both the history union and v2's
    // synthesis (whose max-shift probe executes v1's whole plan), so
    // without blocks the scan tree doubles. v2 has ONE consumer here —
    // checkpointing it was measured as pure materialization cost
    val v1 = Materialize.local(snapshotTick(d, cols), eager = false)
    val v2 = snapshotTick(v1, cols)
    graft.ops.Versioning.scdHistory(Seq(d, v1, v2), "doc_id", cols)
  }

  /** NS100 — incremental SCD-2 merge ([[graft.ops.Versioning
    * .scdMergeTick]]): ns99's bootstrap history folded forward one tick
    * (v3) by the O(live-keys) merge — current runs ⋈ the new snapshot's
    * narrow fp projection, closed history passing through untouched.
    * The oracle recomputes the FOUR-version history from scratch (the
    * ns86 IVM proof pattern), so hash equality proves the merge algebra
    * exact: same-fp advance, change-close at v−1, gone-close,
    * new-open. */
  private def ns100(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val cols = Seq("text", "lang", "source", "n_chars")
    // ticks LAZY-checkpointed (the ns99 rationale — each feeds the next
    // tick's synthesis AND a history/merge consumer); the history too:
    // the merge reads it twice (closed pass-through + current runs), and
    // unmaterialized that re-runs the three-snapshot window per branch
    val v1 = Materialize.local(snapshotTick(d, cols), eager = false)
    val v2 = Materialize.local(snapshotTick(v1, cols), eager = false)
    val v3 = snapshotTick(v2, cols)
    val h = Materialize.local(
      graft.ops.Versioning.scdHistory(Seq(d, v1, v2), "doc_id", cols), eager = false)
    graft.ops.Versioning.scdMergeTick(h, v3, 3L, "doc_id", cols)
  }

  /** NS101 — VARIANT semi-structured extraction ([[graft.sources
    * .Variants.extractTyped]]): Spark 4's schema-on-read leg beside
    * ns94's schema-declared JSONL. Deterministic nested JSON payloads
    * (object-in-object, numeric stats, an array) built from the
    * documents table, with ns94's truncation injection (`doc_id % 41`)
    * landing mid-string so BOTH parsers must judge the tail invalid;
    * `try_parse_json` parses ONCE into the binary variant encoding and
    * five `try_variant_get` path walks extract typed fields (plus one
    * deliberately-missing path that must be NULL everywhere). The
    * oracle rebuilds the identical payload bytes and extracts with
    * DuckDB's JSON path functions — parser, validity judgment, and
    * every typed cast inside the hash gate. */
  private def ns101(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Variants.PathSpec
    val d = docs(s, dir)
    val langJson = when(col("lang").isNull, lit("null"))
      .otherwise(concat(lit("\""), col("lang"), lit("\"")))
    val json0 = concat(
      lit("{\"doc\":{\"lang\":"), langJson,
      lit(",\"source\":\""), col("source"),
      lit("\"},\"stats\":{\"chars\":"), col("n_chars").cast("string"),
      lit(",\"words\":"),
      size(split(col("text"), " ")).cast("string"),
      lit("},\"tags\":[\"t"), (col("doc_id") % 5).cast("string"),
      lit("\",\"x\"]}"))
    val built = d.select(col("doc_id"), json0.as("j"))
      .select(col("doc_id"),
        when(col("doc_id") % 41 === 0,
          expr("substring(j, 1, length(j) - 7)")).otherwise(col("j"))
          .as("j"))
    graft.sources.Variants.extractTyped(built, "j", Seq(
        PathSpec("j_lang", "$.doc.lang", "string"),
        PathSpec("j_source", "$.doc.source", "string"),
        PathSpec("j_chars", "$.stats.chars", "long"),
        PathSpec("j_words", "$.stats.words", "long"),
        PathSpec("j_tag0", "$.tags[0]", "string"),
        PathSpec("j_title", "$.doc.title", "string")))
      .select(col("doc_id"), col("ok"), col("j_lang"), col("j_source"),
        col("j_chars"), col("j_words"), col("j_tag0"), col("j_title"))
  }

  /** NS103 — majority-vote label resolution ([[graft.ops.Annotation
    * .resolveLabels]]): five deterministic synthetic annotators per
    * document (md5-derived — annotator k flips the true `lang` label to
    * a synthetic `altN` 20% of the time, the noisy-rater model of
    * preference-data pipelines), resolved to one gold label per doc
    * with the explicit lexicographic tie policy. Both the vote
    * synthesis and the resolution replay in the oracle, so the
    * tie-break itself is hash-gated. */
  private def ns103(s: SparkSession, dir: String): DataFrame = {
    val votes = docs(s, dir)
      .select(col("doc_id"), col("lang"))
      .withColumn("k", explode(sequence(lit(1), lit(5))))
      .withColumn("h", expr(
        "CAST(conv(substring(md5(CAST(concat('vote:', CAST(doc_id AS STRING)" +
          ", ':', CAST(k AS STRING)) AS BINARY)), 1, 15), 16, 10) AS BIGINT)"))
      .withColumn("vote_label", expr(
        "CASE WHEN h % 10 < 2 THEN concat('alt', CAST(h DIV 10 % 3 AS STRING))" +
          " ELSE lang END"))
    graft.ops.Annotation.resolveLabels(votes, "doc_id", "vote_label")
  }

  /** Build-once version-partitioned parquet scratch for the
    * schema-evolution legs (the ns94 fingerprint-keyed contract):
    * generation v0 writes (doc_id, lang, n_chars); generation v1
    * RETIRED `lang` and ADDED `quality` — evolution in both
    * directions, so each generation's rows must null-fill the other's
    * column under the merged read. */
  private def evolvedScratch(s: SparkSession, dir: String): String =
    PersistedIndex.scratch(s, "graft_evolved", s"$dir/documents.parquet") {
      root =>
        val d = docs(s, dir)
        d.where(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .write.parquet(s"$root/version=0")
        d.where(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("n_chars"),
            (col("n_chars") % 5).as("quality"))
          .write.parquet(s"$root/version=1")
    }

  /** NS107 — schema-evolution-tolerant read ([[graft.sources.Evolved
    * .readMerged]]): two writer generations with columns retired AND
    * added, read as one unified frame via `mergeSchema` over the
    * version-partitioned root — both null-fill directions (v1 rows'
    * NULL `lang`, v0 rows' NULL `quality`) are inside the hash gate;
    * the oracle rebuilds the union from the base table. The reference
    * reads live JDBC tables where the catalog has exactly one schema —
    * this is the FORMAT-tier capability a long-lived parquet store
    * needs instead. */
  private def ns107(s: SparkSession, dir: String): DataFrame =
    graft.sources.Evolved.readMerged(s, evolvedScratch(s, dir))
      .select(col("doc_id"), col("version").cast("long").as("version"),
        col("lang"), col("quality"), col("n_chars"))

  /** NS108 — schema drift report ([[graft.sources.Evolved
    * .driftReport]]): per generation, which columns of the union it
    * actually populates — the gate an ingestion pipeline reads before
    * widening a training-set schema. One scan + one version-keyed
    * aggregation over generation-cardinality output. */
  private def ns108(s: SparkSession, dir: String): DataFrame =
    graft.sources.Evolved.driftReport(
        graft.sources.Evolved.readMerged(s, evolvedScratch(s, dir))
          .withColumn("version", col("version").cast("long")),
        "version", Seq("lang", "quality"))

  /** NS109 — group-wise winsorization ([[graft.ops.Quality
    * .winsorize]]): per-language p95 capping of document length by
    * EXACT INTEGER RANK — the value at position ⌈19n/20⌉ of the
    * group's total order, never an interpolated float (the Sketches
    * exactness doctrine applied to outlier hygiene; interpolation is
    * engine-dependent, rank selection is not). One lang-keyed exchange
    * serves both windows; the group-cardinality cutoff frame
    * broadcasts back. */
  private def ns109(s: SparkSession, dir: String): DataFrame =
    graft.ops.Quality.winsorize(
        docs(s, dir), "lang", "n_chars", "doc_id", p = 19, q = 20)

  /** NS115 — column completeness profile ([[graft.ops.Integrity
    * .profile]]): the ingestion-gate statistics per column (rows,
    * NULLs, exact distinct, lexicographic string min/max) over the
    * customer table — string-form profiling deliberately, so the
    * artifact is schema-stable and engine-replayable where float
    * formatting is not. One stacked aggregation pass. */
  private def ns115(s: SparkSession, dir: String): DataFrame =
    graft.ops.Integrity.profile(
        Tables.load(s, dir, "customer"),
        Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment"))

  /** NS117 — inter-annotator agreement report ([[graft.ops.Annotation
    * .agreementReport]]): the QC complement of ns103 over the same
    * synthetic five-rater votes — per item, exact pairwise agreement
    * (Σ C(votes_l, 2) over C(n, 2)) in integer per-mille; a float
    * kappa would not hash-replay. Low-agreement items are what a
    * pipeline routes to re-annotation instead of training. */
  private def ns117(s: SparkSession, dir: String): DataFrame = {
    val votes = docs(s, dir)
      .select(col("doc_id"), col("lang"))
      .withColumn("k", explode(sequence(lit(1), lit(5))))
      .withColumn("h", expr(
        "CAST(conv(substring(md5(CAST(concat('vote:', CAST(doc_id AS STRING)" +
          ", ':', CAST(k AS STRING)) AS BINARY)), 1, 15), 16, 10) AS BIGINT)"))
      .withColumn("vote_label", expr(
        "CASE WHEN h % 10 < 2 THEN concat('alt', CAST(h DIV 10 % 3 AS STRING))" +
          " ELSE lang END"))
    graft.ops.Annotation.agreementReport(votes, "doc_id", "vote_label")
  }

  /** NS118 — per-annotator reliability report ([[graft.ops.Annotation
    * .annotatorReport]]): the RATER-management complement of
    * ns103/ns117 — each synthetic annotator scored against the
    * corpus's own majority-resolved gold. The synthesis gives annotator
    * k a flip rate of (k−1)·10% (rater 1 never flips, rater 5 flips
    * 40%), so the report must recover the monotone reliability
    * gradient — exact per-mille accuracy, no floats. */
  private def ns118(s: SparkSession, dir: String): DataFrame = {
    val votes = docs(s, dir)
      .select(col("doc_id"), col("lang"))
      .withColumn("k", explode(sequence(lit(1), lit(5))))
      .withColumn("h", expr(
        "CAST(conv(substring(md5(CAST(concat('vote:', CAST(doc_id AS STRING)" +
          ", ':', CAST(k AS STRING)) AS BINARY)), 1, 15), 16, 10) AS BIGINT)"))
      .withColumn("vote_label", expr(
        "CASE WHEN h % 10 < k - 1 THEN concat('alt', CAST(h DIV 10 % 3 AS " +
          "STRING)) ELSE lang END"))
      .withColumn("k", col("k").cast("long"))
    graft.ops.Annotation.annotatorReport(votes, "doc_id", "k", "vote_label")
  }

  /** NS122 — per-user activity pivot ([[graft.ops.Events.typePivot]]):
    * the wide user × event-type count matrix through Spark's relational
    * PIVOT surface with a PINNED type list (click/view/purchase/signup
    * declared; the corpus's 'error' type must land in `n_other`, not
    * silently widen the schema). Absent cells release as 0; `n_total`
    * closes the row-conservation check. */
  private def ns122(s: SparkSession, dir: String): DataFrame =
    graft.ops.Events.typePivot(Tables.load(s, dir, "events"),
        Seq("click", "view", "purchase", "signup"))

  /** The shared ns148/ns149/ns150 WARC fixture mux: 10-doc groups → one
    * spec-true file each, records ordered by doc_id inside the group
    * (`sort_array` on the struct — `collect_list` alone is
    * partition-order nondeterministic), null texts as empty payloads
    * (the synthesizer contract across the media legs; `coalesce` keeps
    * engine and oracle aligned should a null ever appear). ONE
    * definition so the three queries and the ns148 oracle's size
    * arithmetic cannot desync. */
  private def warcFixture(recs: DataFrame): DataFrame = {
    val mux = udf((ids: Seq[Long], texts: Seq[String]) =>
      graft.ops.WarcSynth.warcOf(ids.zip(texts)))
    recs
      .groupBy((col("doc_id") - col("doc_id") % 10).as("warc_id"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("text"))))
        .as("ds"))
      .select(col("warc_id"),
        mux(expr("transform(ds, x -> x.doc_id)"),
          expr("transform(ds, x -> coalesce(x.text, ''))")).as("content"))
  }

  /** NS148 — WARC ingest ([[graft.ops.WarcSynth]] →
    * [[graft.ops.Warc.records]]): real WARC/1.0 framing — the Common
    * Crawl container, i.e. the actual on-disk format of the canonical
    * web-scale training corpus. The fixture muxes each 10-doc group into
    * one spec-true WARC file (one response record per doc, ordered by
    * doc_id); the engine splits records by the REAL framing (header
    * block to CRLFCRLF, Content-Length-driven payload slice, CRLFCRLF
    * separator — scanning-free, so payloads containing "WARC/1.0" text
    * cannot desync it) and emits the CDX-shaped facts: byte offset,
    * type, target URI, declared length, payload byte-sum. The oracle
    * rebuilds every offset arithmetically (97 + digits(id) +
    * digits(len) + len per record, prefix-summed per file) and payload
    * sums from hex-expanded text — no WARC bytes anywhere. Scale shape:
    * synthesis is fixture-only (one group rollup); the OPERATOR is one
    * mapPartitions framing pass, narrow, corrupt tails keep parsed
    * records (WarcSpec). */
  private def ns148(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).select(col("doc_id"), col("text"))
    graft.ops.Warc.records(warcFixture(base))
  }

  /** NS149 — CDX-indexed WARC fetch ([[graft.ops.Warc.records]] →
    * offset-sliced payloads): the random-access pattern the ns148 index
    * exists FOR — parse once to build the CDX facts, then fetch any
    * record's payload forever via `substring(content, payload_off + 1,
    * content_length)`, a pure CODEGEN slice with no parser in the loop.
    * The md5 of every sliced payload must equal md5(encode(text)) — the
    * oracle computes that directly from the text, so a hash match
    * certifies byte-exactness of offset + slice through a completely
    * independent witness (any off-by-one in header arithmetic, CRLF
    * handling, or multi-byte text lengths breaks the digest). At scale
    * this is the CC-index fetch: the index side is facts-only (tiny,
    * broadcastable), blobs never move, and the slice is whole-stage
    * codegen over the blob column. */
  private def ns149(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).select(col("doc_id"), col("text"))
    // parse + fetch read the SAME materialized blobs
    val warcs = Materialize.local(warcFixture(base), eager = true)
    val index = graft.ops.Warc.records(warcs)
      .select(col("warc_id"), col("target_uri"), col("payload_off"),
        col("content_length"))
    index.join(warcs, "warc_id")
      .select(
        regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
          .cast("long").as("doc_id"),
        col("target_uri"),
        col("content_length"),
        md5(expr("substring(content, payload_off + 1, content_length)"))
          .as("payload_md5"))
  }

  /** NS150 — the full crawl-to-corpus path (WET extraction): WARC →
    * CDX fetch → HTTP split → HTML extract, composed end-to-end as one
    * query — each doc's text is wrapped in HTML, wrapped in an HTTP/1.1
    * response, muxed into a WARC file, then recovered by the REAL
    * machinery: idx1-indexed payload slice (ns149), codegen HTTP framing
    * split (status line + Content-Type header + CRLFCRLF body boundary —
    * `instr`/`regexp_extract`/`substring`, no UDF), and the ns63 HTML
    * extractor. The released row carries the HTTP facts AND the
    * extracted text with chrome-to-content lengths — what a WET file
    * holds per record. Oracle: rebuilds payload text by the same
    * concatenation and replays split + extraction in SQL; the container
    * legs ride on the already-certified ns148/ns149 arithmetic. Scale
    * shape: fixture synthesis aside, one keyed fetch join + pure
    * projection chain — the whole per-record path is codegen. */
  private def ns150(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).select(col("doc_id"), col("text"))
    val http = base.select(col("doc_id"),
      concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"),
        lit("<html><body><h1>Doc "), col("doc_id"),
        lit("</h1><p>"), coalesce(col("text"), lit("")),
        lit("</p></body></html>")).as("text"))
    val warcs = Materialize.local(warcFixture(http), eager = true)
    val payloads = graft.ops.Warc.records(warcs)
      .join(warcs, "warc_id")
      .select(
        regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
          .cast("long").as("doc_id"),
        expr("cast(substring(content, payload_off + 1, content_length) " +
          "as string)").as("payload"))
    val boundary = "instr(payload, '\r\n\r\n')"
    payloads.select(col("doc_id"),
        regexp_extract(col("payload"), "^HTTP/1\\.1 (\\d+)", 1)
          .cast("long").as("http_status"),
        regexp_extract(col("payload"), "(?i)content-type: ([^\\r\\n]+)", 1)
          .as("content_type"),
        expr(s"substring(payload, $boundary + 4)").as("html"))
      .select(col("doc_id"), col("http_status"), col("content_type"),
        length(col("html")).cast("long").as("n_raw"),
        graft.ops.TextAnalysis.htmlToText(col("html")).as("text"))
      .withColumn("n_text", length(col("text")).cast("long"))
      .select(col("doc_id"), col("http_status"), col("content_type"),
        col("n_raw"), col("n_text"), col("text"))
  }

  /** NS86 — incremental token-count maintenance
    * ([[graft.ops.Versioning.maintainTokenCounts]]): the ns56 snapshot
    * tick's count table updated by re-tokenizing ONLY the diff fringe
    * (removed + changed-old subtracted, added + changed-new added) — the
    * incremental-view-maintenance pattern every corpus-wide token
    * statistic needs at re-crawl scale. The oracle recomputes the new
    * snapshot's counts FROM SCRATCH, so hash equality proves the
    * maintenance algebra exact, not merely plausible. Same snapshot
    * synthesis as ns56. */
  private def ns86(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    // tick LAZY-checkpointed: the maintenance consumes the new snapshot
    // twice (fp diff + the added/changed-new tokenization probe)
    val v1 = Materialize.local(
      snapshotTick(d, Seq("text", "lang", "source", "n_chars")), eager = false)
    graft.ops.Versioning.maintainTokenCounts(
      d, v1, graft.ops.Versioning.tokenCountsOf(d))
  }

  /** NS94 — JSONL ingest with corrupt-record policy
    * ([[graft.sources.JsonLines.readJsonl]]): the suite's first
    * non-parquet/JDBC FORMAT leg, through Spark's real JSON datasource —
    * a jsonl snapshot of the documents table is materialized once per
    * testdata fingerprint (scratch-keyed, the ns64/ns82 pattern) with
    * every 11th-ish line deterministically TRUNCATED (doc_id % 11 = 3,
    * last 5 chars dropped — never re-balances to valid JSON), then read
    * back with an explicit schema + PERMISSIVE `_corrupt_record`
    * capture. Valid lines parse to typed columns; malformed lines
    * surface as nulls + raw text, and the query recovers their line id
    * from the corrupt text — observable, countable quarantine, the
    * policy a 100 TB crawl ingest needs (FAILFAST kills the job,
    * DROPMALFORMED silently changes the corpus). The oracle rebuilds
    * the same lines by concatenation and splits on `json_valid` —
    * Spark's parser and DuckDB's must agree line-for-line. */
  private def ns94(s: SparkSession, dir: String): DataFrame = {
    val path = PersistedIndex.scratch(s, "graft_jsonl",
        s"$dir/documents.parquet") { p =>
      // coalesce guards concat's null propagation: a NULL lang would
      // null the whole line, the text writer would emit an empty line,
      // and Spark's JSON reader silently SKIPS empty lines while the
      // oracle still emits the row — 'und' (ISO 639 undetermined) on
      // both sides keeps the row observable
      docs(s, dir)
        .select(col("doc_id"), concat(
          lit("{\"line_id\":"), col("doc_id"),
          lit(",\"lang\":\""), coalesce(col("lang"), lit("und")),
          lit("\",\"n_chars\":"), col("n_chars"), lit("}")).as("j"))
        .selectExpr("CASE WHEN doc_id % 11 = 3 " +
          "THEN substring(j, 1, length(j) - 5) ELSE j END AS raw")
        .write.text(p)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("line_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_chars",
        org.apache.spark.sql.types.LongType)))
    val cc = graft.sources.JsonLines.CorruptCol
    graft.sources.JsonLines.readJsonl(s, path, schema)
      .select(
        coalesce(col("line_id"),
          regexp_extract(col(cc), "\"line_id\":([0-9]+)", 1).cast("long"))
          .as("line_id"),
        col("lang"), col("n_chars"),
        col(cc).isNotNull.as("corrupt"))
  }

  /** NS85 — release mix rollup ([[graft.ops.Curation.releaseRollup]]):
    * the ns76 dataset card drilled down — (source, lang) cells,
    * per-source subtotals, grand total, in ONE rollup pass with
    * grouping-marker columns separating subtotal NULLs from data NULLs.
    * Exact integers only. */
  private def ns85(s: SparkSession, dir: String): DataFrame =
    graft.ops.Curation.releaseRollup(docs(s, dir))

  /** NS64 — persisted LM model lifecycle: the ns59 two-phase pattern for
    * perplexity serving. The model trains ONCE on the even-doc_id half of
    * the corpus (fingerprint-gated, atomic publish), then the whole corpus
    * scores against the frozen artifact — odd docs genuinely exercise the
    * out-of-vocabulary floor path that self-trained ns61 never hits, and
    * `oov_frac` reports it. The oracle replays train-on-half /
    * score-on-all with the same left join + coalesce. */
  private def ns64(s: SparkSession, dir: String): DataFrame =
    graft.ops.Quality.lmScoreFromModel(docs(s, dir),
      PersistedIndex.cached(s, Kind.Lm, s"$dir/documents.parquet") {
        (path, fp) => graft.ops.Quality.writeLmModel(
          docs(s, dir).where(col("doc_id") % 2 === 0), path,
          fingerprint = Some(fp))
      })

  val queries: Seq[Query] = Seq(
    // ns41's oracle reads the RAW table: the layout rewrite must be
    // invisible in the result (pruning changes I/O, never answers).
    query("ns41_layout_pruned", ns41)(
      ("""SELECT source, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars
         |FROM documents WHERE lang = 'en' AND n_chars BETWEEN 150 AND 400
         |GROUP BY source ORDER BY source""".stripMargin)),
    query("ns47_source_overlap", ns47)(
      ("""WITH w AS (SELECT source, string_split(text,' ') w FROM documents),
         |sg AS (SELECT DISTINCT source AS src, unnest([array_to_string(w[i:i+2],' ') for i in range(1, len(w)-1)]) AS shingle FROM w),
         |sizes AS (SELECT src, count(*) AS n FROM sg GROUP BY src),
         |sh AS (SELECT a.src AS src_a, b.src AS src_b, count(*) AS shared_grams FROM sg a JOIN sg b ON a.shingle = b.shingle AND a.src < b.src GROUP BY 1, 2)
         |SELECT src_a, src_b, shared_grams, round(shared_grams::DOUBLE / least(x.n, y.n), 6) AS overlap_frac
         |FROM sh JOIN sizes x ON x.src = sh.src_a JOIN sizes y ON y.src = sh.src_b
         |ORDER BY src_a, src_b""".stripMargin)),
    // ns56 rebuilds the same derived "new" snapshot and diffs by the same
    // chr(31)-joined, chr(30)-null-tagged md5 fingerprint.
    query("ns56_snapshot_diff", ns56)(
      ("""WITH newsnap AS (
         |  SELECT doc_id, CASE WHEN doc_id % 37 = 0 THEN text || ' v2' ELSE text END AS text, lang, source, n_chars
         |  FROM documents WHERE doc_id >= 20
         |  UNION ALL
         |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents), text, lang, source, n_chars FROM documents WHERE doc_id < 10),
         |o AS (SELECT doc_id, md5(concat_ws(chr(31), coalesce(text, chr(30)), coalesce(lang, chr(30)), coalesce(source, chr(30)), coalesce(n_chars::VARCHAR, chr(30)))) AS old_fp FROM documents),
         |n AS (SELECT doc_id, md5(concat_ws(chr(31), coalesce(text, chr(30)), coalesce(lang, chr(30)), coalesce(source, chr(30)), coalesce(n_chars::VARCHAR, chr(30)))) AS new_fp FROM newsnap)
         |SELECT doc_id,
         |  CASE WHEN old_fp IS NULL THEN 'added' WHEN new_fp IS NULL THEN 'removed' ELSE 'changed' END AS status,
         |  old_fp, new_fp
         |FROM o FULL OUTER JOIN n USING (doc_id)
         |WHERE old_fp IS NULL OR new_fp IS NULL OR old_fp <> new_fp
         |ORDER BY doc_id""".stripMargin)),
    // ns58 reads the RAW table (ns41's contract: a layout rewrite changes
    // I/O, never answers).
    query("ns58_layout_zorder", ns58)(
      ("""SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars
         |FROM documents WHERE n_chars BETWEEN 150 AND 400
         |AND doc_id BETWEEN 100 AND 300
         |GROUP BY lang ORDER BY lang""".stripMargin)),
    // Train-on-half / score-on-all replay: the left join's NULL count IS
    // the OOV path, floored at 1/(N+V) by the +1 smoothing.
    query("ns64_lm_lifecycle", ns64)(
      ("""WITH train AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents WHERE doc_id % 2 = 0),
         |cnt AS (SELECT tok, count(*) AS c FROM train GROUP BY tok),
         |tot AS (SELECT sum(c) AS n, count(*) AS v FROM cnt),
         |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |sc AS (SELECT doc_id,
         |    CAST(round(-ln((coalesce(c, 0) + 1)::DOUBLE / (n + v)) * 1e6) AS BIGINT) AS nm,
         |    CASE WHEN c IS NULL THEN 1 ELSE 0 END AS oov
         |  FROM toks LEFT JOIN cnt USING (tok) CROSS JOIN tot),
         |agg AS (SELECT doc_id, count(*) AS n_tokens, sum(nm) AS s, sum(oov) AS n_oov FROM sc GROUP BY doc_id)
         |SELECT doc_id, n_tokens, ((2 * s + n_tokens) // (2 * n_tokens)) / 1e6 AS nll,
         |  ((2000000 * n_oov + n_tokens) // (2 * n_tokens)) / 1e6 AS oov_frac,
         |  s / 1e6 / n_tokens > 9.0 AS rejected
         |FROM agg ORDER BY doc_id""".stripMargin)),
    // ns71 mirrors the exact-integer drift metric: HUGEINT cross-products,
    // no float division anywhere.
    query("ns71_corpus_drift", ns71)(
      ("""WITH tok AS (SELECT doc_id % 2 AS side, unnest(string_split(text, ' ')) AS token FROM documents),
         |cnt AS (SELECT token,
         |  count(*) FILTER (WHERE side = 0) AS cnt_before,
         |  count(*) FILTER (WHERE side = 1) AS cnt_after
         |  FROM tok GROUP BY token),
         |tot AS (SELECT sum(cnt_before) AS ta, sum(cnt_after) AS tb FROM cnt),
         |sel AS (SELECT token, cnt_before, cnt_after,
         |  (cnt_before::HUGEINT * tb - cnt_after::HUGEINT * ta)::BIGINT AS drift_num
         |  FROM cnt, tot)
         |SELECT row_number() OVER (ORDER BY abs(drift_num) DESC, token) AS rank,
         |  token, cnt_before, cnt_after, drift_num
         |FROM sel QUALIFY rank <= 50 ORDER BY rank""".stripMargin)),
    // ns73 chains the already-validated ns70 canonicalization and ns68
    // line-dedup oracles in pipeline order: URL survivors first, line df
    // computed over survivors only, gate, then content dedup.
    query("ns73_web_ingest", ns73)(
      (s"""WITH pages AS (SELECT doc_id,
         |  CASE doc_id % 5
         |  WHEN 0 THEN 'https://WWW.Crawl.Example.org:443//a//' || (doc_id // 5) || '/?utm_source=feed&b=2&a=1#frag'
         |  WHEN 1 THEN 'https://crawl.example.org/a/' || (doc_id // 5) || '?a=1&b=2'
         |  WHEN 2 THEN 'HTTPS://www.crawl.example.org/a/' || (doc_id // 5) || '/?b=2&a=1&gclid=xyz'
         |  WHEN 3 THEN 'https://crawl.example.org:443/a//' || (doc_id // 5) || '?a=1&ref=tw&b=2#x'
         |  ELSE 'http://crawl.example.org:80/a/' || (doc_id // 5) || '?a=1&b=2' END AS url,
         |  '${ns68Banner}' || chr(10) ||
         |  regexp_replace(text, '((?:\\S+ ){7}\\S+) ', '\\1' || chr(10), 'g') ||
         |  chr(10) || '${ns68Footer}' || source AS text FROM documents),
         |parts AS (SELECT doc_id, url, nf,
         |  lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         |  lower(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostraw,
         |  regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS pathraw,
         |  regexp_extract(nf, '\\?([^#]*)', 1) AS qraw
         |  FROM (SELECT doc_id, url, regexp_replace(url, '#.*$$', '') AS nf FROM pages)),
         |canon AS (SELECT doc_id,
         |  CASE WHEN scheme = '' THEN url ELSE scheme || '://' ||
         |    CASE WHEN scheme = 'http' THEN regexp_replace(regexp_replace(hostraw, '^www\\.', ''), ':80$$', '')
         |         WHEN scheme = 'https' THEN regexp_replace(regexp_replace(hostraw, '^www\\.', ''), ':443$$', '')
         |         ELSE regexp_replace(hostraw, '^www\\.', '') END ||
         |    regexp_replace(regexp_replace(pathraw, '/{2,}', '/', 'g'), '/$$', '') ||
         |    CASE WHEN plist = '' THEN '' ELSE '?' || plist END END AS canonical_url
         |  FROM (SELECT *, array_to_string(list_sort(list_filter(string_split(qraw, '&'),
         |    p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|msclkid|ref|mc_cid|mc_eid)(=.*)?$$'))), '&') AS plist
         |    FROM parts)),
         |urlkeep AS (SELECT min(doc_id) AS doc_id FROM canon GROUP BY canonical_url),
         |surv AS (SELECT p.doc_id, p.text FROM pages p JOIN urlkeep USING (doc_id)),
         |lines AS (SELECT doc_id,
         |  unnest(generate_series(1, len(string_split(text, chr(10))))) AS pos,
         |  unnest(string_split(text, chr(10))) AS line FROM surv),
         |freq AS (SELECT line FROM (SELECT DISTINCT line, doc_id FROM lines)
         |  GROUP BY line HAVING count(*) > 1),
         |kept AS (SELECT l.doc_id, l.pos, l.line FROM lines l
         |  ANTI JOIN freq f USING (line)),
         |rebuilt AS (SELECT doc_id,
         |  string_agg(line, chr(10) ORDER BY pos) AS text_clean,
         |  count(*) AS kept_lines FROM kept GROUP BY doc_id),
         |cleaned AS (SELECT s.doc_id, coalesce(r.text_clean, '') AS text_clean,
         |  coalesce(r.kept_lines, 0) AS kept_lines
         |  FROM surv s LEFT JOIN rebuilt r USING (doc_id)),
         |gated AS (SELECT * FROM cleaned
         |  WHERE kept_lines >= 2 AND len(text_clean) >= 40)
         |SELECT min(doc_id) AS doc_id, count(*) AS n_content_copies,
         |  min_by(kept_lines, doc_id) AS kept_lines
         |FROM gated GROUP BY text_clean ORDER BY doc_id""".stripMargin)),
    // ns76 joins the exact base aggregates with the ns44-style global HLL.
    query("ns76_dataset_card", ns76)(
      ("""WITH t AS (SELECT source, lang, length(text) AS nc,
         |  len(string_split(text, ' ')) AS nt, text FROM documents),
         |base AS (SELECT count(*) AS n_docs,
         |  count(DISTINCT source) AS n_sources,
         |  count(DISTINCT lang) AS n_langs,
         |  sum(nc)::BIGINT AS total_chars, sum(nt)::BIGINT AS total_tokens,
         |  min(nt) AS min_tokens, max(nt) AS max_tokens FROM t),
         |h AS (SELECT ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
         |  FROM documents WHERE text IS NOT NULL),
         |r AS (SELECT h % 1024 AS bucket, h // 1024 AS w FROM h),
         |rk AS (SELECT bucket, max(CASE WHEN w = 0 THEN 51 ELSE 50 - (length(bin(w)) - 1) END) AS mr FROM r GROUP BY bucket),
         |agg AS (SELECT count(*) AS n_registers, sum(1.0::DOUBLE / (1::BIGINT << mr)) AS zp FROM rk),
         |e AS (SELECT n_registers, (1024 - n_registers)::DOUBLE AS v,
         |  0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 1024.0::DOUBLE) * 1024.0::DOUBLE * 1024.0::DOUBLE / (zp + (1024 - n_registers)) AS raw_e
         |  FROM agg),
         |est AS (SELECT n_registers,
         |  round(CASE WHEN raw_e <= 2560.0::DOUBLE AND v > 0 THEN 1024.0::DOUBLE * ln(1024.0::DOUBLE / v) ELSE raw_e END, 6) AS distinct_text_est
         |  FROM e)
         |SELECT b.n_docs, b.n_sources, b.n_langs, b.total_chars,
         |  b.total_tokens, b.min_tokens, b.max_tokens,
         |  est.n_registers, est.distinct_text_est
         |FROM base b, est""".stripMargin)),
    // ns77 replays the url synthesis, the hostOf normalization, the
    // (host, md5)-distinct stats, and both release gates.
    query("ns77_host_reputation", ns77)(
      ("""WITH p AS (SELECT doc_id,
         |  CASE WHEN doc_id = 0 THEN 'https://lonely.example.org/only'
         |       WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.h' || (doc_id % 7) || '.Example.org:443/p/' || doc_id
         |       ELSE 'https://h' || (doc_id % 7) || '.example.org/p/' || doc_id END AS url,
         |  CASE WHEN doc_id % 7 = 0 THEN 'cheap spam page body' ELSE text END AS t
         |  FROM documents),
         |h AS (SELECT doc_id, t, host FROM (SELECT doc_id, t,
         |  CASE WHEN scheme = 'http' THEN regexp_replace(nw, ':80$', '')
         |       WHEN scheme = 'https' THEN regexp_replace(nw, ':443$', '')
         |       ELSE nw END AS host
         |  FROM (SELECT doc_id, t,
         |    lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         |    regexp_replace(lower(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), '^www\.', '') AS nw
         |    FROM (SELECT doc_id, t, regexp_replace(url, '#.*$', '') AS nf FROM p)))
         |  WHERE host IS NOT NULL AND host <> ''),
         |g AS (SELECT host, count(*) AS host_docs,
         |  ((count(*) - count(DISTINCT md5(t))) * 1000 // count(*))::BIGINT AS dup_permille
         |  FROM h GROUP BY 1),
         |r AS (SELECT * FROM g WHERE host_docs >= 3 AND dup_permille <= 500)
         |SELECT h.doc_id, h.host, r.host_docs, r.dup_permille
         |FROM h JOIN r USING (host) ORDER BY doc_id""".stripMargin)),
    // ns85 replays the rollup grouping sets with GROUPING markers — the
    // subtotal-NULL vs data-NULL disambiguation is part of the contract.
    query("ns85_release_rollup", ns85)(
      ("""SELECT source, lang,
         |  GROUPING(source)::BIGINT AS g_source,
         |  GROUPING(lang)::BIGINT AS g_lang,
         |  count(*) AS n_docs,
         |  sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
         |FROM documents
         |GROUP BY ROLLUP (source, lang)
         |ORDER BY g_source, g_lang, source NULLS FIRST, lang NULLS FIRST""".stripMargin)),
    // ns86's oracle recomputes the NEW snapshot's token counts from
    // scratch — the engine side maintains them incrementally off the
    // fringe, so hash equality proves the maintenance algebra exact.
    query("ns86_token_maintenance", ns86)(
      ("""WITH newsnap AS (
         |  SELECT doc_id, CASE WHEN doc_id % 37 = 0 THEN text || ' v2' ELSE text END AS text
         |  FROM documents WHERE doc_id >= 20
         |  UNION ALL
         |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents), text FROM documents WHERE doc_id < 10),
         |tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM newsnap)
         |SELECT token, count(*) AS cnt FROM tok
         |GROUP BY token ORDER BY token""".stripMargin)),
    // ns94 rebuilds the jsonl lines by concatenation (identical bytes to
    // the engine's writer) and splits on json_valid: Spark's PERMISSIVE
    // JSON parser and DuckDB's validator must agree line-for-line, and
    // the corrupt branch recovers line_id with the same regex.
    query("ns94_jsonl_ingest", ns94)(
      ("""WITH j0 AS (SELECT doc_id,
         |    '{"line_id":' || doc_id || ',"lang":"' || coalesce(lang, 'und') ||
         |    '","n_chars":' || n_chars || '}' AS j FROM documents),
         |raw AS (SELECT CASE WHEN doc_id % 11 = 3
         |    THEN substr(j, 1, length(j) - 5) ELSE j END AS raw FROM j0)
         |SELECT
         |  CASE WHEN json_valid(raw) THEN json_extract(raw, '$.line_id')::BIGINT
         |       ELSE regexp_extract(raw, '"line_id":([0-9]+)', 1)::BIGINT END AS line_id,
         |  CASE WHEN json_valid(raw) THEN json_extract_string(raw, '$.lang') END AS lang,
         |  CASE WHEN json_valid(raw) THEN json_extract(raw, '$.n_chars')::BIGINT END AS n_chars,
         |  NOT json_valid(raw) AS corrupt
         |FROM raw ORDER BY line_id""".stripMargin)),
    // ns99 rebuilds both snapshot ticks and replays the run algebra with
    // the same lag/lead + conditional-min-over-following-frame device the
    // engine uses; fingerprints follow the suite's chr(31)/chr(30)
    // convention from ns56.
    query("ns99_scd_history", ns99)(
      ("""WITH v0 AS (SELECT doc_id, text, lang, source, n_chars FROM documents),
         |v1 AS (SELECT doc_id, CASE WHEN doc_id % 37 = 0 THEN text || ' v2' ELSE text END AS text, lang, source, n_chars FROM v0 WHERE doc_id >= 20
         |  UNION ALL SELECT doc_id + (SELECT max(doc_id) + 1 FROM v0), text, lang, source, n_chars FROM v0 WHERE doc_id < 10),
         |v2 AS (SELECT doc_id, CASE WHEN doc_id % 37 = 0 THEN text || ' v2' ELSE text END AS text, lang, source, n_chars FROM v1 WHERE doc_id >= 20
         |  UNION ALL SELECT doc_id + (SELECT max(doc_id) + 1 FROM v1), text, lang, source, n_chars FROM v1 WHERE doc_id < 10),
         |u AS (
         |  SELECT doc_id, 0 AS version, md5(concat_ws(chr(31), coalesce(text, chr(30)), coalesce(lang, chr(30)), coalesce(source, chr(30)), coalesce(n_chars::VARCHAR, chr(30)))) AS fp FROM v0
         |  UNION ALL
         |  SELECT doc_id, 1, md5(concat_ws(chr(31), coalesce(text, chr(30)), coalesce(lang, chr(30)), coalesce(source, chr(30)), coalesce(n_chars::VARCHAR, chr(30)))) FROM v1
         |  UNION ALL
         |  SELECT doc_id, 2, md5(concat_ws(chr(31), coalesce(text, chr(30)), coalesce(lang, chr(30)), coalesce(source, chr(30)), coalesce(n_chars::VARCHAR, chr(30)))) FROM v2),
         |m AS (SELECT doc_id, version, fp,
         |    (lag(version) OVER w IS NULL OR lag(version) OVER w <> version - 1 OR lag(fp) OVER w <> fp) AS run_start,
         |    (lead(version) OVER w IS NULL OR lead(version) OVER w <> version + 1 OR lead(fp) OVER w <> fp) AS run_end
         |  FROM u WINDOW w AS (PARTITION BY doc_id ORDER BY version)),
         |e AS (SELECT doc_id, version, fp, run_start,
         |    min(CASE WHEN run_end THEN version END) OVER (PARTITION BY doc_id ORDER BY version ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS run_end_v
         |  FROM m)
         |SELECT doc_id, version::BIGINT AS valid_from, run_end_v::BIGINT AS valid_to, fp, (run_end_v = 2) AS is_current
         |FROM e WHERE run_start ORDER BY doc_id, valid_from""".stripMargin)),
    // ns100's oracle is the ns99 window algebra over FOUR versions — a
    // from-scratch rebuild, so the engine's incremental merge is proven
    // exact, not merely plausible (the ns86 IVM discipline).
    query("ns100_scd_merge", ns100)(
      ("""WITH v0 AS (SELECT doc_id, text, lang, source, n_chars FROM documents),
         |v1 AS (SELECT doc_id, CASE WHEN doc_id % 37 = 0 THEN text || ' v2' ELSE text END AS text, lang, source, n_chars FROM v0 WHERE doc_id >= 20
         |  UNION ALL SELECT doc_id + (SELECT max(doc_id) + 1 FROM v0), text, lang, source, n_chars FROM v0 WHERE doc_id < 10),
         |v2 AS (SELECT doc_id, CASE WHEN doc_id % 37 = 0 THEN text || ' v2' ELSE text END AS text, lang, source, n_chars FROM v1 WHERE doc_id >= 20
         |  UNION ALL SELECT doc_id + (SELECT max(doc_id) + 1 FROM v1), text, lang, source, n_chars FROM v1 WHERE doc_id < 10),
         |v3 AS (SELECT doc_id, CASE WHEN doc_id % 37 = 0 THEN text || ' v2' ELSE text END AS text, lang, source, n_chars FROM v2 WHERE doc_id >= 20
         |  UNION ALL SELECT doc_id + (SELECT max(doc_id) + 1 FROM v2), text, lang, source, n_chars FROM v2 WHERE doc_id < 10),
         |u AS (
         |  SELECT doc_id, 0 AS version, md5(concat_ws(chr(31), coalesce(text, chr(30)), coalesce(lang, chr(30)), coalesce(source, chr(30)), coalesce(n_chars::VARCHAR, chr(30)))) AS fp FROM v0
         |  UNION ALL
         |  SELECT doc_id, 1, md5(concat_ws(chr(31), coalesce(text, chr(30)), coalesce(lang, chr(30)), coalesce(source, chr(30)), coalesce(n_chars::VARCHAR, chr(30)))) FROM v1
         |  UNION ALL
         |  SELECT doc_id, 2, md5(concat_ws(chr(31), coalesce(text, chr(30)), coalesce(lang, chr(30)), coalesce(source, chr(30)), coalesce(n_chars::VARCHAR, chr(30)))) FROM v2
         |  UNION ALL
         |  SELECT doc_id, 3, md5(concat_ws(chr(31), coalesce(text, chr(30)), coalesce(lang, chr(30)), coalesce(source, chr(30)), coalesce(n_chars::VARCHAR, chr(30)))) FROM v3),
         |m AS (SELECT doc_id, version, fp,
         |    (lag(version) OVER w IS NULL OR lag(version) OVER w <> version - 1 OR lag(fp) OVER w <> fp) AS run_start,
         |    (lead(version) OVER w IS NULL OR lead(version) OVER w <> version + 1 OR lead(fp) OVER w <> fp) AS run_end
         |  FROM u WINDOW w AS (PARTITION BY doc_id ORDER BY version)),
         |e AS (SELECT doc_id, version, fp, run_start,
         |    min(CASE WHEN run_end THEN version END) OVER (PARTITION BY doc_id ORDER BY version ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS run_end_v
         |  FROM m)
         |SELECT doc_id, version::BIGINT AS valid_from, run_end_v::BIGINT AS valid_to, fp, (run_end_v = 3) AS is_current
         |FROM e WHERE run_start ORDER BY doc_id, valid_from""".stripMargin)),
    // ns101 rebuilds the identical payload bytes, then extracts with
    // DuckDB's JSON path functions — json_valid must agree with
    // try_parse_json on every injected truncation, and each typed cast
    // must agree with the variant path walk.
    query("ns101_variant_ingest", ns101)(
      ("""WITH b AS (SELECT doc_id,
         |    '{"doc":{"lang":' || CASE WHEN lang IS NULL THEN 'null' ELSE '"' || lang || '"' END ||
         |    ',"source":"' || source || '"},"stats":{"chars":' || n_chars::VARCHAR ||
         |    ',"words":' || len(string_split(text, ' '))::VARCHAR ||
         |    '},"tags":["t' || (doc_id % 5)::VARCHAR || '","x"]}' AS j
         |  FROM documents),
         |t AS (SELECT doc_id, CASE WHEN doc_id % 41 = 0 THEN substr(j, 1, length(j) - 7) ELSE j END AS j FROM b)
         |SELECT doc_id, coalesce(json_valid(j), false) AS ok,
         |  CASE WHEN json_valid(j) THEN json_extract_string(j, '$.doc.lang') END AS j_lang,
         |  CASE WHEN json_valid(j) THEN json_extract_string(j, '$.doc.source') END AS j_source,
         |  CASE WHEN json_valid(j) THEN TRY_CAST(json_extract(j, '$.stats.chars') AS BIGINT) END AS j_chars,
         |  CASE WHEN json_valid(j) THEN TRY_CAST(json_extract(j, '$.stats.words') AS BIGINT) END AS j_words,
         |  CASE WHEN json_valid(j) THEN json_extract_string(j, '$.tags[0]') END AS j_tag0,
         |  CASE WHEN json_valid(j) THEN json_extract_string(j, '$.doc.title') END AS j_title
         |FROM t ORDER BY doc_id""".stripMargin)),
    // ns103: vote synthesis AND resolution replay — the md5-derived
    // annotator noise is the suite-wide hash60 convention, and the
    // lexicographic tie policy is inside the hash gate (row_number
    // ORDER BY votes DESC, label ASC on both sides).
    query("ns103_label_vote", ns103)(
      ("""WITH v AS (SELECT doc_id, lang, k FROM documents
         |    CROSS JOIN (SELECT unnest(range(1, 6)) AS k) r),
         |h AS (SELECT doc_id, lang,
         |    ('0x' || substr(md5('vote:' || doc_id || ':' || k), 1, 15))::BIGINT AS h FROM v),
         |lab AS (SELECT doc_id,
         |    CASE WHEN h % 10 < 2 THEN 'alt' || (h // 10 % 3)::VARCHAR ELSE lang END AS vote_label FROM h),
         |c AS (SELECT doc_id, coalesce(vote_label, chr(30)) AS l, count(*) AS votes FROM lab GROUP BY 1, 2),
         |r AS (SELECT doc_id, l, votes,
         |    sum(votes) OVER (PARTITION BY doc_id) AS n_votes,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY votes DESC, l ASC) AS rk FROM c)
         |SELECT doc_id, CASE WHEN l = chr(30) THEN NULL ELSE l END AS winner_label,
         |  votes, n_votes::BIGINT AS n_votes, votes = n_votes AS is_unanimous
         |FROM r WHERE rk = 1 ORDER BY doc_id""".stripMargin)),
    // ns107/ns108: the oracle rebuilds the two writer generations'
    // union from the base table — the engine's null-fill under
    // mergeSchema must match the explicit NULL columns here.
    query("ns107_evolved_read", ns107)(
      ("""SELECT doc_id, 0::BIGINT AS version, lang, NULL::BIGINT AS quality, n_chars
         |FROM documents WHERE doc_id % 2 = 0
         |UNION ALL
         |SELECT doc_id, 1::BIGINT, NULL, n_chars % 5, n_chars
         |FROM documents WHERE doc_id % 2 = 1
         |ORDER BY doc_id""".stripMargin)),
    query("ns108_schema_drift", ns108)(
      ("""WITH u AS (
         |  SELECT doc_id, 0::BIGINT AS version, lang, NULL::BIGINT AS quality FROM documents WHERE doc_id % 2 = 0
         |  UNION ALL
         |  SELECT doc_id, 1::BIGINT, NULL, n_chars % 5 FROM documents WHERE doc_id % 2 = 1)
         |SELECT version, count(*) AS n_rows,
         |  count(lang) AS lang_present, count(lang) > 0 AS lang_live,
         |  count(quality) AS quality_present, count(quality) > 0 AS quality_live
         |FROM u GROUP BY version ORDER BY version""".stripMargin)),
    // ns109: exact-rank percentile — the cutoff is a value that EXISTS
    // in the group, selected at an integer rank both engines compute
    // identically; no interpolation anywhere.
    query("ns109_winsorize", ns109)(
      ("""WITH r AS (SELECT lang, n_chars, doc_id,
         |    row_number() OVER (PARTITION BY lang ORDER BY n_chars NULLS FIRST, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY lang) AS n
         |  FROM documents),
         |c AS (SELECT lang, n_chars AS cut FROM r WHERE rn = (n * 19 + 19) // 20)
         |SELECT d.doc_id, d.lang, d.n_chars,
         |  least(d.n_chars, c.cut) AS capped, d.n_chars > c.cut AS was_capped
         |FROM documents d JOIN c ON d.lang IS NOT DISTINCT FROM c.lang
         |ORDER BY d.doc_id""".stripMargin)),
    // ns115: per-column stats over the stacked string form — BIGINT
    // keys render identically in both engines' string casts.
    query("ns115_table_profile", ns115)(
      ("""WITH p AS (
         |  SELECT 'c_custkey' AS "column", c_custkey::VARCHAR AS v FROM customer
         |  UNION ALL SELECT 'c_name', c_name FROM customer
         |  UNION ALL SELECT 'c_nationkey', c_nationkey::VARCHAR FROM customer
         |  UNION ALL SELECT 'c_mktsegment', c_mktsegment FROM customer)
         |SELECT "column", count(*) AS n_rows,
         |  count(*) FILTER (WHERE v IS NULL) AS n_null,
         |  count(DISTINCT v) AS n_distinct,
         |  min(v) AS min_str, max(v) AS max_str
         |FROM p GROUP BY "column" ORDER BY "column"""".stripMargin)),
    // ns117: ns103's vote synthesis + the exact pair-counting algebra;
    // n=5 per item here so total_pairs = 10 and per-mille is exact.
    query("ns117_vote_agreement", ns117)(
      ("""WITH v AS (SELECT doc_id, lang, k FROM documents
         |    CROSS JOIN (SELECT unnest(range(1, 6)) AS k) r),
         |h AS (SELECT doc_id, lang,
         |    ('0x' || substr(md5('vote:' || doc_id || ':' || k), 1, 15))::BIGINT AS h FROM v),
         |lab AS (SELECT doc_id,
         |    CASE WHEN h % 10 < 2 THEN 'alt' || (h // 10 % 3)::VARCHAR ELSE lang END AS vote_label FROM h),
         |c AS (SELECT doc_id, coalesce(vote_label, chr(30)) AS l, count(*) AS votes FROM lab GROUP BY 1, 2),
         |a AS (SELECT doc_id, sum(votes)::BIGINT AS n_votes,
         |    sum(votes * (votes - 1) // 2)::BIGINT AS agree_pairs FROM c GROUP BY 1)
         |SELECT doc_id, n_votes, agree_pairs,
         |  n_votes * (n_votes - 1) // 2 AS total_pairs,
         |  CASE WHEN n_votes > 1 THEN agree_pairs * 1000 // (n_votes * (n_votes - 1) // 2) END AS agreement_per_mille
         |FROM a ORDER BY doc_id""".stripMargin)),
    // ns118: vote synthesis (per-annotator flip rate k−1 deciles), the
    // ns103 resolution replay, the null-safe vote-vs-gold match, and
    // the per-mille arithmetic — all inside the hash gate. ::BIGINT on
    // the HUGEINT sum (the ns71 lesson).
    query("ns118_rater_report", ns118)(
      ("""WITH v AS (SELECT doc_id, lang, k FROM documents
         |    CROSS JOIN (SELECT unnest(range(1, 6)) AS k) r),
         |h AS (SELECT doc_id, lang, k,
         |    ('0x' || substr(md5('vote:' || doc_id || ':' || k), 1, 15))::BIGINT AS h FROM v),
         |lab AS (SELECT doc_id, k,
         |    CASE WHEN h % 10 < k - 1 THEN 'alt' || (h // 10 % 3)::VARCHAR ELSE lang END AS vote_label FROM h),
         |c AS (SELECT doc_id, coalesce(vote_label, chr(30)) AS l, count(*) AS votes FROM lab GROUP BY 1, 2),
         |r2 AS (SELECT doc_id, l, row_number() OVER (PARTITION BY doc_id ORDER BY votes DESC, l ASC) AS rk FROM c),
         |g AS (SELECT doc_id, CASE WHEN l = chr(30) THEN NULL ELSE l END AS winner_label FROM r2 WHERE rk = 1)
         |SELECT lab.k, count(*)::BIGINT AS n_votes,
         |  sum(CASE WHEN vote_label IS NOT DISTINCT FROM winner_label THEN 1 ELSE 0 END)::BIGINT AS n_matched,
         |  (sum(CASE WHEN vote_label IS NOT DISTINCT FROM winner_label THEN 1 ELSE 0 END)::BIGINT * 1000) // count(*) AS accuracy_per_mille
         |FROM lab JOIN g USING (doc_id)
         |GROUP BY lab.k ORDER BY lab.k""".stripMargin)),
    // ns122: the pivot replays as FILTER conditional aggregation — the
    // declared-list semantics (undeclared AND NULL types to n_other,
    // absent cells 0) are inside the hash gate.
    query("ns122_type_pivot", ns122)(
      ("""SELECT user_id,
         |  count(*) FILTER (WHERE event_type = 'click') AS n_click,
         |  count(*) FILTER (WHERE event_type = 'view') AS n_view,
         |  count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
         |  count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
         |  count(*) FILTER (WHERE event_type IS NULL OR event_type NOT IN
         |    ('click', 'view', 'purchase', 'signup')) AS n_other,
         |  count(*) AS n_total
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),
    // ns148: WARC record geometry with no container - per-record size
    // 97 + digits(doc_id) + digits(len) + len (the fixed header skeleton
    // plus the two variable-width decimal fields plus the payload),
    // prefix-summed per 10-doc file in doc_id order; payload sums from
    // hex expansion. Every byte of the synthesized file is accounted for
    // (WarcSpec pins sum(rec_size) == file length).
    query("ns148_warc_ingest", ns148)(
      ("""WITH h AS (SELECT doc_id, doc_id - doc_id % 10 AS warc_id,
         |    hex(encode(coalesce(text, ''))) AS hx,
         |    octet_length(encode(coalesce(text, ''))) AS n
         |  FROM documents),
         |sz AS (SELECT doc_id, warc_id, n,
         |    97 + length(doc_id::VARCHAR) + length(n::VARCHAR) + n AS rec_size,
         |    row_number() OVER (PARTITION BY warc_id ORDER BY doc_id) - 1 AS rec_idx
         |  FROM h),
         |off AS (SELECT doc_id, warc_id, n, rec_idx,
         |    coalesce(sum(rec_size) OVER (PARTITION BY warc_id ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS offset
         |  FROM sz),
         |pay AS (SELECT doc_id,
         |    sum(('0x' || substr(hx, (2 * j + 1)::INT, 2))::INT) AS psum
         |  FROM (SELECT doc_id, hx, unnest(range(0, n)) AS j FROM h)
         |  GROUP BY doc_id)
         |SELECT o.warc_id, o.rec_idx::INT AS rec_idx, o.offset::BIGINT AS offset,
         |  (o.offset + 93 + length(o.doc_id::VARCHAR) + length(o.n::VARCHAR))::BIGINT
         |    AS payload_off,
         |  'response' AS warc_type,
         |  'http://example.com/doc/' || o.doc_id AS target_uri,
         |  o.n::BIGINT AS content_length,
         |  coalesce(p.psum, 0)::BIGINT AS payload_sum
         |FROM off o LEFT JOIN pay p USING (doc_id)
         |ORDER BY o.warc_id, o.rec_idx""".stripMargin)),
    // ns149: the independent witness - if the engine's offset+slice is
    // byte-exact, the sliced payload IS encode(text), so its md5 equals
    // md5 of the raw text bytes. No container, no offsets, no arithmetic
    // on the oracle side at all.
    query("ns149_warc_fetch", ns149)(
      ("""SELECT doc_id,
         |  'http://example.com/doc/' || doc_id AS target_uri,
         |  octet_length(encode(coalesce(text, '')))::BIGINT AS content_length,
         |  md5(coalesce(text, '')) AS payload_md5 -- md5(VARCHAR) = UTF-8 bytes
         |FROM documents ORDER BY doc_id""".stripMargin)),
    // ns150: the WET replay - payload text by the same concatenation
    // (container legs already certified by ns148/ns149), HTTP split by
    // the same framing functions, HTML extraction by the ns63 regex
    // chain. chr(13)||chr(10) builds CRLF without embedding control
    // characters in the SQL literal.
    query("ns150_warc_wet", ns150)(
      ("""WITH crlf AS (SELECT chr(13) || chr(10) AS nl),
         |pay AS (SELECT doc_id,
         |    'HTTP/1.1 200 OK' || nl || 'Content-Type: text/html; charset=utf-8'
         |      || nl || nl ||
         |    '<html><body><h1>Doc ' || doc_id || '</h1><p>' || coalesce(text, '') ||
         |    '</p></body></html>' AS p
         |  FROM documents, crlf),
         |sp AS (SELECT doc_id,
         |    regexp_extract(p, '^HTTP/1\.1 ([0-9]+)', 1)::BIGINT AS http_status,
         |    regexp_extract(p, 'Content-[Tt]ype: ([^' || chr(13) || chr(10) || ']+)', 1)
         |      AS content_type,
         |    substr(p, strpos(p, nl || nl) + 4) AS h
         |  FROM pay, crlf),
         |s1 AS (SELECT doc_id, http_status, content_type, length(h) AS n_raw,
         |  regexp_replace(h, '(?s)<script[^>]*>.*?</script>', ' ', 'g') AS t FROM sp),
         |s2 AS (SELECT doc_id, http_status, content_type, n_raw,
         |  regexp_replace(t, '(?s)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM s1),
         |s3 AS (SELECT doc_id, http_status, content_type, n_raw,
         |  regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s2),
         |s4 AS (SELECT doc_id, http_status, content_type, n_raw,
         |  replace(replace(replace(replace(replace(t,
         |  '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&') AS t FROM s3),
         |s5 AS (SELECT doc_id, http_status, content_type, n_raw,
         |  trim(regexp_replace(t, '\s+', ' ', 'g')) AS text FROM s4)
         |SELECT doc_id, http_status, content_type, n_raw,
         |  length(text)::BIGINT AS n_text, text
         |FROM s5 ORDER BY doc_id""".stripMargin)),
  )
}
