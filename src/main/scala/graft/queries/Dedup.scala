package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.PersistedIndex
import graft.ops.PersistedIndex.Kind
import Shared._

/** Exact/near-dup, span/line/url dedup, index lifecycle, decontamination. */
private[graft] object Dedup extends Family("dedup") {

  private def ns1(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.exact(docs(s, dir))
  private def ns2(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.minhashLsh(docs(s, dir))
  private def ns3(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.simhash(docs(s, dir))
  private def ns4(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.ngramJaccard(docs(s, dir))
  /** NS5 — the registered query is the LSH-banded scale path (equality join
    * on band keys, exact cosine on candidates only); the all-pairs exact
    * variant is the spec-level recall check, not a registered query. */
  private def ns5(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.embeddingNearDupLsh(embs(s, dir), threshold = 0.4)
  /** NS14 — incremental ingest dedup: the 20% of docs with doc_id % 5 = 0
    * arrive as a "new batch" and are deduplicated (exact + minhash near-dup)
    * against the other 80% as the existing corpus. */
  private def ns14(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.ops.Dedup.incrementalNew(
      d.where(col("doc_id") % 5 === 0),
      d.where(col("doc_id") % 5 =!= 0))
  }

  /** NS17 — incremental dedup against a PERSISTED minhash corpus index:
    * same decision as ns14, but the corpus is shingled/sketched once into a
    * parquet index (built here on first touch — Bench's untimed warmup pass
    * absorbs the build, so the timed runs measure the pure from-index
    * path) and each ingest tick reads only the index, never the corpus
    * parquet. */
  private def ns17(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.incrementalNewFromIndex(
      docs(s, dir).where(col("doc_id") % 5 === 0), minhashBase(s, dir),
      expectParams = Some((2, 16, 4)))

  /** The ns17/ns18 base index over the 80% corpus, built once per source
    * fingerprint ([[graft.ops.PersistedIndex.cached]]). */
  private def minhashBase(s: SparkSession, dir: String): String =
    PersistedIndex.cached(s, Kind.Minhash, s"$dir/documents.parquet") {
      (path, fp) => graft.ops.Dedup.writeMinhashIndex(
        docs(s, dir).where(col("doc_id") % 5 =!= 0), path,
        fingerprint = Some(fp))
    }

  /** NS18 — index lifecycle: incremental ingest across TWO ticks against one
    * persisted index that is UPDATED between them. Tick 1 dedups its batch
    * against the corpus index and appends the accepted docs
    * ([[graft.ops.Dedup.updateMinhashIndex]]); tick 2 then dedups against
    * corpus + tick-1 survivors without any rebuild — the steady-state shape
    * of a continuously-ingesting training pipeline, where ns17 alone would
    * dedup every tick against a frozen corpus. Runs on a per-run working
    * copy of the shared base index so reruns never see their own appends.
    * Output: all surviving new docs across both ticks. */
  private def ns18(s: SparkSession, dir: String): DataFrame = {
    val work = PersistedIndex.workingCopy(s, minhashBase(s, dir))
    val tick1 = PersistedIndex.ingest(graft.ops.Dedup.incrementalNewFromIndex(
      docs(s, dir).where(col("doc_id") % 10 === 0), work))(
      graft.ops.Dedup.updateMinhashIndex(_, work))
    val tick2 = graft.ops.Dedup.incrementalNewFromIndex(
      docs(s, dir).where(col("doc_id") % 10 === 5), work)
    tick1.union(tick2)
  }

  /** NS21 — benchmark decontamination: every 50th doc stands in for the
    * eval set; the report lists corpus docs sharing any 4-gram with it.
    * The benchmark side broadcasts (eval sets are MBs against a 100 TB
    * corpus), so the corpus never shuffles before the per-doc agg. */
  private def ns21(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.ops.Dedup.decontaminate(
      d.where(col("doc_id") % 50 =!= 0),
      d.where(col("doc_id") % 50 === 0),
      shingleK = 4)
  }

  /** NS152 — Bloom-prefiltered decontamination
    * ([[graft.ops.Dedup.decontaminateBloom]]): ns21's exact semantics
    * (same oracle SQL, hash-identical output is the claim under test)
    * with the 100 TB deployment shape — a distributed-built Bloom filter
    * over the benchmark vocabulary kills ~(1−fpp) of the corpus postings
    * inside the scan stage via Spark's codegen'd `might_contain`
    * machinery, BEFORE the exact join; false positives survive the
    * prefilter and die in the join, so the Bloom stage is pure
    * work-avoidance. */
  private def ns152(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.ops.Dedup.decontaminateBloom(
      d.where(col("doc_id") % 50 =!= 0),
      d.where(col("doc_id") % 50 === 0),
      shingleK = 4)
  }

  /** NS34 — span-level decontamination: ns21's eval split, but the
    * contaminated 4-gram SPANS are redacted and the rest of each doc is
    * kept — the surgical variant of benchmark scrubbing (whole-doc
    * removal throws away a 10k-word page for one quoted question). */
  private def ns34(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.ops.Dedup.scrubContaminatedSpans(
      d.where(col("doc_id") % 50 =!= 0),
      d.where(col("doc_id") % 50 === 0),
      shingleK = 4)
  }

  /** NS37 — semantic dedup (SemDeDup): embeddings clustered by the ns13
    * coarse quantizer, duplicates resolved WITHIN cells only — a vector is
    * dropped iff a lower-id cellmate has cosine ≥ 0.4. The cluster bounds
    * the pair space (Σ|cell|², never n²); cross-cell near-identicals both
    * survive by design. */
  private def ns37(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.semanticDedup(embs(s, dir))

  /** NS40 — intra-corpus duplicate-span removal (exact substring dedup,
    * keep-first): any 4-gram in ≥2 docs keeps its first occurrence (min
    * doc_id) and is redacted everywhere else — ns34's span machinery made
    * self-referential. */
  private def ns40(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.dedupSpans(docs(s, dir))

  /** NS16 — near-dup survivor resolution: ns2's minhash pairs → connected
    * components (min-label propagation with pointer jumping) → the
    * surviving corpus with per-survivor merge counts. The dedup DECISION a
    * training pipeline actually needs — chains (A~B, B~C) collapse to one
    * survivor, which pairwise output alone can't express. */
  private def ns16(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.survivorCorpus(
      docs(s, dir),
      graft.ops.Dedup.minhashLsh(docs(s, dir))
        .select(col("doc_a"), col("doc_b")))

  /** NS68 — corpus-wide line-level dedup (C4/RefinedWeb boilerplate
    * removal): docs are given line structure (a banner shared by every
    * doc, the body chunked 8 words per line, a footer shared per source),
    * then any line occurring in >1 distinct docs is dropped and the
    * survivors reassembled in order. Banner and footers vanish; body
    * lines survive unless two docs genuinely collide. One line-keyed df
    * aggregation + an AQE-broadcast anti probe + one doc-keyed rebuild. */
  private def ns68(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.lineDedup(
      docs(s, dir).select(col("doc_id"), ns68SynthText.as("text")))

  /** NS70 — canonical-URL dedup: five URL spellings per page group
    * (case-shuffled host, www, default ports, duplicate/trailing slashes,
    * tracking params, unsorted query, fragments) collapse under
    * [[graft.ops.Urls.canonicalize]]; the four https variants of a group
    * dedup to one survivor, the http variant stays distinct (scheme is
    * load-bearing). Canonicalization is a narrow codegen'd projection;
    * dedup is ONE canonical-keyed groupBy. */
  private def ns70(s: SparkSession, dir: String): DataFrame =
    graft.ops.Urls.dedupByUrl(
      docs(s, dir).select(col("doc_id"), ns70SynthUrl.as("url")))

  /** NS128 — duplication-multiplicity token-mass histogram
    * ([[graft.ops.Dedup.dupMassHistogram]]): how much of the corpus'
    * token mass sits in text duplicated exactly k times — the
    * "effective dataset size" accounting behind every dedup decision
    * (duplicated text is implicit upweighting). Per multiplicity:
    * groups, docs, total/unique/excess token mass, and the k-row's
    * share of all corpus tokens in exact per-mille; Σ excess over
    * k ≥ 2 is the budget ns1's exact dedup reclaims. The testdata
    * corpus is exact-dup-free (the raw histogram is the single k = 1
    * row), so the fixture amplifies with deterministic twins
    * (doc_id % 7) and triples (% 21) — the k = 1/2/3 algebra is
    * exercised inside the hash gate, ns125-style. */
  private def ns128(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.ops.Dedup.dupMassHistogram(
      d.select(col("text"))
        .unionByName(d.where(col("doc_id") % 7 === 0).select(col("text")))
        .unionByName(d.where(col("doc_id") % 21 === 0).select(col("text"))))
  }

  /** NS136 — incremental duplication-mass maintenance ([[graft.ops
    * .Versioning.maintainDupGroups]] → [[graft.ops.Dedup
    * .dupMassHistogramFromGroups]]): the ns128 histogram kept current
    * across the ns56 snapshot tick by re-digesting ONLY the diff
    * fringe — ns86's IVM algebra applied to the exact-dup accounting.
    * The oracle recomputes the NEW snapshot's histogram from scratch,
    * so hash equality proves the maintenance exact. The tick exercises
    * every fringe class AND moves multiplicities: docs 10–19 removed,
    * doc_id % 37 edited (mass moves between digests), docs < 10 kept
    * AND re-added shifted (k = 1 → 2 twin groups — except doc 0, whose
    * original takes the % 37 edit while its twin keeps the old text,
    * so the twin lands in a fresh k = 1 group: the add-into-changed
    * corner). */
  private def ns136(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    val shift = d.agg(max(col("doc_id"))).head.getLong(0) + 1L
    val edited = d.where(col("doc_id") < 10 || col("doc_id") >= 20)
      .withColumn("text",
        when(col("doc_id") % 37 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
    val twins = d.where(col("doc_id") < 10)
      .select((col("doc_id") + shift).as("doc_id"), col("text"))
    graft.ops.Dedup.dupMassHistogramFromGroups(
      graft.ops.Versioning.maintainDupGroups(
        d, edited.unionByName(twins), graft.ops.Dedup.dupGroupsOf(d)))
  }

  /** NS137 — normalized near-exact dedup ([[graft.ops.Dedup
    * .normalizedExact]]): the case/punctuation-variant collapse
    * byte-exact dedup misses. The corpus has no such variants, so the
    * fixture injects mangled twins for doc_id % 5 = 0 (uppercased, a
    * "  !!" tail — normalization-invariant edits), putting the
    * variant-collapse inside the hash gate; every other doc releases
    * n_variants = 1. */
  private def ns137(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    val shift = d.agg(max(col("doc_id"))).head.getLong(0) + 1L
    val mangled = d.where(col("doc_id") % 5 === 0)
      .select((col("doc_id") + shift).as("doc_id"),
        concat(upper(col("text")), lit("  !!")).as("text"))
    graft.ops.Dedup.normalizedExact(d.unionByName(mangled))
  }

  /** NS134 — near-dup dedup-yield histogram ([[graft.ops.Dedup
    * .clusterSizeHistogram]]): connected components of the ns2 minhash
    * pair graph rolled up by cluster size — clusters, docs, docs a
    * keep-one dedup removes, removal per-mille of the corpus. The
    * near-dup complement of ns128's exact histogram; Σ n_removed over
    * size ≥ 2 is exactly the ns16 survivor yield. */
  private def ns134(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.clusterSizeHistogram(
      docs(s, dir),
      graft.ops.Dedup.minhashLsh(docs(s, dir)).select("doc_a", "doc_b"))

  val queries: Seq[Query] = Seq(
    query("ns1_dedup_exact", ns1)(
      ("SELECT min(doc_id) AS doc_id, count(*) AS n_copies FROM documents " +
        "GROUP BY text ORDER BY doc_id")),
    query("ns2_dedup_minhash", ns2)(minhashPairsSqlTpl.replace("__DOCS__", "documents")),
    query("ns3_dedup_simhash", ns3)(
      ("""WITH words AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         |sh AS (SELECT DISTINCT doc_id, unnest([array_to_string(w[i:i+1],' ') for i in range(1, len(w))]) AS shingle FROM words),
         |wh AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM sh),
         |bits AS (SELECT doc_id, b, CASE WHEN sum(((h >> b) & 1) * 2 - 1) > 0 THEN 1 ELSE 0 END AS bit FROM wh, (SELECT unnest(range(0,60)) AS b) bs GROUP BY doc_id, b),
         |sim AS (SELECT doc_id, sum(bit << b)::BIGINT AS sh FROM bits GROUP BY doc_id),
         |bands AS (SELECT doc_id, sh, p, (sh >> (p*12)) & 4095 AS chunk FROM sim, (SELECT unnest(range(0,5)) AS p) ps),
         |cand AS (SELECT DISTINCT a.doc_id da, a.sh sa, b.doc_id db, b.sh sb FROM bands a JOIN bands b ON a.p = b.p AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
         |SELECT da AS doc_a, db AS doc_b, bit_count(xor(sa, sb)) AS hamming FROM cand WHERE bit_count(xor(sa, sb)) <= 8 ORDER BY doc_a, doc_b""".stripMargin)),
    query("ns4_dedup_ngram", ns4)(
      ("""WITH words AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         |sh AS (SELECT DISTINCT doc_id, unnest([array_to_string(w[i:i+1],' ') for i in range(1, len(w))]) AS shingle FROM words),
         |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id da, b.doc_id db, count(*) i FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |scored AS (SELECT da AS doc_a, db AS doc_b, i::DOUBLE / (x.n + y.n - i) AS j FROM inter JOIN sizes x ON x.doc_id = da JOIN sizes y ON y.doc_id = db)
         |SELECT doc_a, doc_b, round(j, 6) AS jaccard FROM scored WHERE j >= 0.5 ORDER BY doc_a, doc_b""".stripMargin)),
    // ns5/ns7/ns13 mirror the md5-derived LSH/IVF pipelines exactly: the
    // hyperplane constants, sampling keys, band splits and probe sets are
    // all deterministic byte math, so DuckDB reproduces the full
    // approximate pipeline, not just its exact verifier.
    query("ns5_dedup_embedding", ns5)(
      ("""WITH planes AS (SELECT p, list_transform(range(0,64), d -> ((('0x' || substr(md5('plane:' || p || ':' || d), 1, 15))::BIGINT % 2001 - 1000) / 1000.0)) AS pl FROM (SELECT unnest(range(0,8)) AS p)),
         |emb AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |proj AS (SELECT vec_id, p, list_sum(list_transform(range(1,65), i -> v[i] * pl[i])) AS s FROM emb, planes),
         |buck AS (SELECT vec_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS bucket FROM proj GROUP BY vec_id),
         |base AS (SELECT e.vec_id, e.v, sqrt(list_sum(list_transform(e.v, x -> x * x))) AS n, b.bucket FROM emb e JOIN buck b USING (vec_id)),
         |bands AS (SELECT vec_id, v, n, bb.b AS band, (bucket >> (bb.b * 4)) & 15 AS bv FROM base, (SELECT unnest(range(0,2)) AS b) bb),
         |cand AS (SELECT DISTINCT a.vec_id id_a, b.vec_id id_b, round(list_sum(list_transform(range(1,65), i -> a.v[i] * b.v[i])) / (a.n * b.n), 6) AS cosine
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv AND a.vec_id < b.vec_id)
         |SELECT id_a, id_b, cosine FROM cand WHERE cosine >= 0.4 ORDER BY id_a, id_b""".stripMargin)),
    query("ns14_dedup_incremental", ns14)(
      ("""WITH newd AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
         |corp AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 != 0),
         |exacts AS (SELECT n.doc_id, n.text FROM newd n WHERE NOT EXISTS (SELECT 1 FROM corp c WHERE c.text = n.text)),
         |wn AS (SELECT doc_id, string_split(text,' ') w FROM exacts),
         |shn AS (SELECT DISTINCT doc_id, unnest([array_to_string(w[i:i+1],' ') for i in range(1, len(w))]) AS shingle FROM wn),
         |wc AS (SELECT doc_id, string_split(text,' ') w FROM corp),
         |shc AS (SELECT DISTINCT doc_id, unnest([array_to_string(w[i:i+1],' ') for i in range(1, len(w))]) AS shingle FROM wc),
         |mhn AS (SELECT doc_id, s, min(('0x' || substr(md5(shingle || ':' || s), 1, 15))::BIGINT) m FROM shn, (SELECT unnest(range(0,16)) AS s) seeds GROUP BY doc_id, s),
         |bn AS (SELECT doc_id, s // 4 AS band, string_agg(m::VARCHAR, ',' ORDER BY s) bv FROM mhn GROUP BY doc_id, s // 4),
         |mhc AS (SELECT doc_id, s, min(('0x' || substr(md5(shingle || ':' || s), 1, 15))::BIGINT) m FROM shc, (SELECT unnest(range(0,16)) AS s) seeds GROUP BY doc_id, s),
         |bc AS (SELECT doc_id, s // 4 AS band, string_agg(m::VARCHAR, ',' ORDER BY s) bv FROM mhc GROUP BY doc_id, s // 4),
         |cand AS (SELECT DISTINCT a.doc_id da, b.doc_id db FROM bn a JOIN bc b ON a.band = b.band AND a.bv = b.bv),
         |setsn AS (SELECT doc_id, list_distinct(list(shingle)) s FROM shn GROUP BY doc_id),
         |setsc AS (SELECT doc_id, list_distinct(list(shingle)) s FROM shc GROUP BY doc_id),
         |dups AS (SELECT DISTINCT da FROM cand JOIN setsn x ON x.doc_id = cand.da JOIN setsc y ON y.doc_id = cand.db
         |  WHERE len(list_intersect(x.s, y.s))::DOUBLE / len(list_distinct(list_concat(x.s, y.s))) >= 0.5)
         |SELECT doc_id, text FROM exacts WHERE doc_id NOT IN (SELECT da FROM dups) ORDER BY doc_id""".stripMargin)),
    // ns2's pair pipeline verbatim, then connected components as a
    // recursive transitive closure: min reachable doc_id = cluster label —
    // the oracle for the distributed min-label-propagation loop.
    query("ns16_dedup_survivors", ns16)(
      ("""WITH RECURSIVE words AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         |sh AS (SELECT DISTINCT doc_id, unnest([array_to_string(w[i:i+1],' ') for i in range(1, len(w))]) AS shingle FROM words),
         |mh AS (SELECT doc_id, s, min(('0x' || substr(md5(shingle || ':' || s), 1, 15))::BIGINT) m FROM sh, (SELECT unnest(range(0,16)) AS s) seeds GROUP BY doc_id, s),
         |bands AS (SELECT doc_id, s // 4 AS band, string_agg(m::VARCHAR, ',' ORDER BY s) bv FROM mh GROUP BY doc_id, s // 4),
         |cand AS (SELECT DISTINCT a.doc_id da, b.doc_id db FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
         |sets AS (SELECT doc_id, list_distinct(list(shingle)) s FROM sh GROUP BY doc_id),
         |pairs AS (SELECT da AS doc_a, db AS doc_b FROM cand JOIN sets x ON x.doc_id = cand.da JOIN sets y ON y.doc_id = cand.db
         |  WHERE len(list_intersect(x.s, y.s))::DOUBLE / len(list_distinct(list_concat(x.s, y.s))) >= 0.5),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
         |walk AS (SELECT src AS doc_id, src AS reach FROM edges
         |  UNION SELECT wk.doc_id, e.dst FROM walk wk JOIN edges e ON e.src = wk.reach),
         |labels AS (SELECT doc_id, min(reach) AS cluster FROM walk GROUP BY doc_id),
         |sizes AS (SELECT cluster, count(*) AS n FROM labels GROUP BY cluster)
         |SELECT d.doc_id, coalesce(sz.n, 1)::BIGINT AS n_merged
         |FROM documents d
         |LEFT JOIN sizes sz ON sz.cluster = d.doc_id
         |WHERE NOT EXISTS (SELECT 1 FROM labels l WHERE l.doc_id = d.doc_id AND l.cluster != d.doc_id)
         |ORDER BY d.doc_id""".stripMargin)),
    // ns17 = ns14's decision with the index's stored artifacts mirrored:
    // exact-dup rejection via the corpus text md5s (what the index stores)
    // instead of raw text equality — identical results absent collisions.
    query("ns17_dedup_incr_index", ns17)(
      ("""WITH newd AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
         |corp AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 != 0),
         |exacts AS (SELECT n.doc_id, n.text FROM newd n WHERE NOT EXISTS (SELECT 1 FROM corp c WHERE md5(c.text) = md5(n.text))),
         |wn AS (SELECT doc_id, string_split(text,' ') w FROM exacts),
         |shn AS (SELECT DISTINCT doc_id, unnest([array_to_string(w[i:i+1],' ') for i in range(1, len(w))]) AS shingle FROM wn),
         |wc AS (SELECT doc_id, string_split(text,' ') w FROM corp),
         |shc AS (SELECT DISTINCT doc_id, unnest([array_to_string(w[i:i+1],' ') for i in range(1, len(w))]) AS shingle FROM wc),
         |mhn AS (SELECT doc_id, s, min(('0x' || substr(md5(shingle || ':' || s), 1, 15))::BIGINT) m FROM shn, (SELECT unnest(range(0,16)) AS s) seeds GROUP BY doc_id, s),
         |bn AS (SELECT doc_id, s // 4 AS band, string_agg(m::VARCHAR, ',' ORDER BY s) bv FROM mhn GROUP BY doc_id, s // 4),
         |mhc AS (SELECT doc_id, s, min(('0x' || substr(md5(shingle || ':' || s), 1, 15))::BIGINT) m FROM shc, (SELECT unnest(range(0,16)) AS s) seeds GROUP BY doc_id, s),
         |bc AS (SELECT doc_id, s // 4 AS band, string_agg(m::VARCHAR, ',' ORDER BY s) bv FROM mhc GROUP BY doc_id, s // 4),
         |cand AS (SELECT DISTINCT a.doc_id da, b.doc_id db FROM bn a JOIN bc b ON a.band = b.band AND a.bv = b.bv),
         |setsn AS (SELECT doc_id, list_distinct(list(shingle)) s FROM shn GROUP BY doc_id),
         |setsc AS (SELECT doc_id, list_distinct(list(shingle)) s FROM shc GROUP BY doc_id),
         |dups AS (SELECT DISTINCT da FROM cand JOIN setsn x ON x.doc_id = cand.da JOIN setsc y ON y.doc_id = cand.db
         |  WHERE len(list_intersect(x.s, y.s))::DOUBLE / len(list_distinct(list_concat(x.s, y.s))) >= 0.5)
         |SELECT doc_id, text FROM exacts WHERE doc_id NOT IN (SELECT da FROM dups) ORDER BY doc_id""".stripMargin)),
    // ns18 = the ns17 decision applied twice with the index updated between
    // ticks: tick 2's corpus is corp ∪ tick-1 survivors. Pure composition of
    // the same md5 minhash family, so DuckDB reproduces the full lifecycle.
    query("ns18_dedup_index_update", ns18)(
      ("""WITH corp1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 != 0),
         |new1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
         |ex1 AS (SELECT n.doc_id, n.text FROM new1 n WHERE NOT EXISTS (SELECT 1 FROM corp1 c WHERE md5(c.text) = md5(n.text))),
         |wn1 AS (SELECT doc_id, string_split(text,' ') w FROM ex1),
         |shn1 AS (SELECT DISTINCT doc_id, unnest([array_to_string(w[i:i+1],' ') for i in range(1, len(w))]) AS shingle FROM wn1),
         |wc1 AS (SELECT doc_id, string_split(text,' ') w FROM corp1),
         |shc1 AS (SELECT DISTINCT doc_id, unnest([array_to_string(w[i:i+1],' ') for i in range(1, len(w))]) AS shingle FROM wc1),
         |mhn1 AS (SELECT doc_id, s, min(('0x' || substr(md5(shingle || ':' || s), 1, 15))::BIGINT) m FROM shn1, (SELECT unnest(range(0,16)) AS s) seeds GROUP BY doc_id, s),
         |bn1 AS (SELECT doc_id, s // 4 AS band, string_agg(m::VARCHAR, ',' ORDER BY s) bv FROM mhn1 GROUP BY doc_id, s // 4),
         |mhc1 AS (SELECT doc_id, s, min(('0x' || substr(md5(shingle || ':' || s), 1, 15))::BIGINT) m FROM shc1, (SELECT unnest(range(0,16)) AS s) seeds GROUP BY doc_id, s),
         |bc1 AS (SELECT doc_id, s // 4 AS band, string_agg(m::VARCHAR, ',' ORDER BY s) bv FROM mhc1 GROUP BY doc_id, s // 4),
         |cand1 AS (SELECT DISTINCT a.doc_id da, b.doc_id db FROM bn1 a JOIN bc1 b ON a.band = b.band AND a.bv = b.bv),
         |setsn1 AS (SELECT doc_id, list_distinct(list(shingle)) s FROM shn1 GROUP BY doc_id),
         |setsc1 AS (SELECT doc_id, list_distinct(list(shingle)) s FROM shc1 GROUP BY doc_id),
         |dups1 AS (SELECT DISTINCT da FROM cand1 JOIN setsn1 x ON x.doc_id = cand1.da JOIN setsc1 y ON y.doc_id = cand1.db
         |  WHERE len(list_intersect(x.s, y.s))::DOUBLE / len(list_distinct(list_concat(x.s, y.s))) >= 0.5),
         |s1 AS (SELECT doc_id, text FROM ex1 WHERE doc_id NOT IN (SELECT da FROM dups1)),
         |corp2 AS (SELECT doc_id, text FROM corp1 UNION ALL SELECT doc_id, text FROM s1),
         |new2 AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 5),
         |ex2 AS (SELECT n.doc_id, n.text FROM new2 n WHERE NOT EXISTS (SELECT 1 FROM corp2 c WHERE md5(c.text) = md5(n.text))),
         |wn2 AS (SELECT doc_id, string_split(text,' ') w FROM ex2),
         |shn2 AS (SELECT DISTINCT doc_id, unnest([array_to_string(w[i:i+1],' ') for i in range(1, len(w))]) AS shingle FROM wn2),
         |wc2 AS (SELECT doc_id, string_split(text,' ') w FROM corp2),
         |shc2 AS (SELECT DISTINCT doc_id, unnest([array_to_string(w[i:i+1],' ') for i in range(1, len(w))]) AS shingle FROM wc2),
         |mhn2 AS (SELECT doc_id, s, min(('0x' || substr(md5(shingle || ':' || s), 1, 15))::BIGINT) m FROM shn2, (SELECT unnest(range(0,16)) AS s) seeds GROUP BY doc_id, s),
         |bn2 AS (SELECT doc_id, s // 4 AS band, string_agg(m::VARCHAR, ',' ORDER BY s) bv FROM mhn2 GROUP BY doc_id, s // 4),
         |mhc2 AS (SELECT doc_id, s, min(('0x' || substr(md5(shingle || ':' || s), 1, 15))::BIGINT) m FROM shc2, (SELECT unnest(range(0,16)) AS s) seeds GROUP BY doc_id, s),
         |bc2 AS (SELECT doc_id, s // 4 AS band, string_agg(m::VARCHAR, ',' ORDER BY s) bv FROM mhc2 GROUP BY doc_id, s // 4),
         |cand2 AS (SELECT DISTINCT a.doc_id da, b.doc_id db FROM bn2 a JOIN bc2 b ON a.band = b.band AND a.bv = b.bv),
         |setsn2 AS (SELECT doc_id, list_distinct(list(shingle)) s FROM shn2 GROUP BY doc_id),
         |setsc2 AS (SELECT doc_id, list_distinct(list(shingle)) s FROM shc2 GROUP BY doc_id),
         |dups2 AS (SELECT DISTINCT da FROM cand2 JOIN setsn2 x ON x.doc_id = cand2.da JOIN setsc2 y ON y.doc_id = cand2.db
         |  WHERE len(list_intersect(x.s, y.s))::DOUBLE / len(list_distinct(list_concat(x.s, y.s))) >= 0.5),
         |s2 AS (SELECT doc_id, text FROM ex2 WHERE doc_id NOT IN (SELECT da FROM dups2))
         |SELECT doc_id, text FROM s1 UNION ALL SELECT doc_id, text FROM s2 ORDER BY doc_id""".stripMargin)),
    query("ns21_decontaminate", ns21)(
      ("""WITH words AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         |sh AS (SELECT DISTINCT doc_id, unnest([array_to_string(w[i:i+3],' ') for i in range(1, len(w)-2)]) AS shingle FROM words),
         |bench AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 50 = 0)
         |SELECT s.doc_id, count(DISTINCT s.shingle) AS matched_shingles, count(DISTINCT b.bench_id) AS bench_docs
         |FROM sh s JOIN bench b USING (shingle) WHERE s.doc_id % 50 != 0
         |GROUP BY s.doc_id ORDER BY doc_id""".stripMargin)),
    // ns34 mirrors the positional-gram taint + span rebuild: DuckDB's
    // struct comprehension carries (pos, gram), the kept-word
    // comprehension drops indexes covered by any tainted start.
    query("ns34_decontaminate_spans", ns34)(
      ("""WITH cw AS (SELECT doc_id, text, string_split(text,' ') w FROM documents WHERE doc_id % 50 != 0),
         |bench AS (SELECT DISTINCT unnest([array_to_string(w[i:i+3],' ') for i in range(1, len(w)-2)]) AS bsh
         |  FROM (SELECT string_split(text,' ') w FROM documents WHERE doc_id % 50 = 0)),
         |pg AS (SELECT doc_id, unnest([{'pos': i - 1, 'sh': array_to_string(w[i:i+3], ' ')} for i in range(1, len(w)-2)]) AS g FROM cw),
         |t AS (SELECT doc_id, g.pos AS pos FROM pg WHERE g.sh IN (SELECT bsh FROM bench)),
         |cov AS (SELECT doc_id, list(DISTINCT pos) AS starts FROM t GROUP BY doc_id),
         |outp AS (SELECT c.doc_id,
         |    CASE WHEN cov.starts IS NULL THEN c.text
         |    ELSE coalesce(array_to_string([c.w[j] for j in range(1, len(c.w)+1) if len([s for s in cov.starts if j - 1 >= s AND j - 1 < s + 4]) = 0], ' '), '') END AS text,
         |    coalesce(len(cov.starts), 0) AS n_spans
         |  FROM cw c LEFT JOIN cov USING (doc_id))
         |SELECT doc_id, text, n_spans FROM outp ORDER BY doc_id""".stripMargin)),
    // ns37 reuses ns13's coarse-quantizer CTEs (same md5 centroid sample,
    // same (score DESC, c DESC) argmax tie-break), then resolves dups by a
    // within-cell equality self-join on the rounded cosine.
    query("ns37_dedup_semantic", ns37)(
      ("""WITH emb AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |ranked AS (SELECT vec_id, v, row_number() OVER (ORDER BY ('0x' || substr(md5('centroid:' || vec_id), 1, 15))::BIGINT, vec_id) - 1 AS c FROM emb),
         |cent AS (SELECT c, CASE WHEN nrm = 0 THEN list_transform(v, x -> 0.0) ELSE list_transform(v, x -> x / nrm) END AS cv
         |  FROM (SELECT c, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM ranked WHERE c < 16)),
         |ascore AS (SELECT e.vec_id, e.v, cent.c, list_sum(list_transform(range(1,65), i -> e.v[i] * cent.cv[i])) AS s FROM emb e, cent),
         |assigned AS (SELECT vec_id, v, c AS cell FROM ascore QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c DESC) = 1),
         |corpus AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nv, cell FROM assigned),
         |dups AS (SELECT DISTINCT a.vec_id FROM corpus a JOIN corpus b ON a.cell = b.cell AND b.vec_id < a.vec_id
         |  AND round(list_sum(list_transform(range(1,65), i -> a.v[i] * b.v[i])) / (a.nv * b.nv), 6) >= 0.4)
         |SELECT c.vec_id, c.cell, (d.vec_id IS NOT NULL) AS is_dup
         |FROM corpus c LEFT JOIN dups d ON d.vec_id = c.vec_id ORDER BY c.vec_id""".stripMargin)),
    // ns40 = ns34's positional-gram device with a keep-first rule: the
    // gram's min doc_id is the keeper, occurrences in later docs taint.
    query("ns40_dedup_spans", ns40)(
      ("""WITH cw AS (SELECT doc_id, text, string_split(text,' ') w FROM documents),
         |pg AS (SELECT doc_id, unnest([{'pos': i - 1, 'sh': array_to_string(w[i:i+3], ' ')} for i in range(1, len(w)-2)]) AS g FROM cw),
         |keep AS (SELECT g.sh AS sh, min(doc_id) AS keeper FROM pg GROUP BY g.sh HAVING count(DISTINCT doc_id) >= 2),
         |t AS (SELECT pg.doc_id, pg.g.pos AS pos FROM pg JOIN keep ON pg.g.sh = keep.sh WHERE pg.doc_id > keep.keeper),
         |cov AS (SELECT doc_id, list(DISTINCT pos) AS starts FROM t GROUP BY doc_id),
         |outp AS (SELECT c.doc_id,
         |    CASE WHEN cov.starts IS NULL THEN c.text
         |    ELSE coalesce(array_to_string([c.w[j] for j in range(1, len(c.w)+1) if len([s for s in cov.starts if j - 1 >= s AND j - 1 < s + 4]) = 0], ' '), '') END AS text,
         |    coalesce(len(cov.starts), 0) AS n_spans
         |  FROM cw c LEFT JOIN cov USING (doc_id))
         |SELECT doc_id, text, n_spans FROM outp ORDER BY doc_id""".stripMargin)),
    // ns68 replays the line synthesis (banner + 8-word chunking + source
    // footer), then the df>1 line drop and ordered reassembly. DuckDB zips
    // the two parallel unnests (line, ordinal).
    query("ns68_dedup_lines", ns68)(
      (s"""WITH base AS (SELECT doc_id,
         |  '${ns68Banner}' || chr(10) ||
         |  regexp_replace(text, '((?:\\S+ ){7}\\S+) ', '\\1' || chr(10), 'g') ||
         |  chr(10) || '${ns68Footer}' || source AS text FROM documents),
         |lines AS (SELECT doc_id,
         |  unnest(generate_series(1, len(string_split(text, chr(10))))) AS pos,
         |  unnest(string_split(text, chr(10))) AS line FROM base),
         |freq AS (SELECT line FROM (SELECT DISTINCT line, doc_id FROM lines)
         |  GROUP BY line HAVING count(*) > 1),
         |kept AS (SELECT l.doc_id, l.pos, l.line FROM lines l
         |  ANTI JOIN freq f USING (line)),
         |rebuilt AS (SELECT doc_id,
         |  string_agg(line, chr(10) ORDER BY pos) AS text_clean,
         |  count(*) AS kept_lines FROM kept GROUP BY doc_id)
         |SELECT b.doc_id, coalesce(r.text_clean, '') AS text_clean,
         |  coalesce(r.kept_lines, 0) AS kept_lines,
         |  len(string_split(b.text, chr(10))) - coalesce(r.kept_lines, 0) AS dropped_lines
         |FROM base b LEFT JOIN rebuilt r USING (doc_id) ORDER BY doc_id""".stripMargin)),
    // ns70 replays the URL synthesis, then the SAME five canonicalization
    // steps as graft.ops.Urls.canonicalize (fragment, lowercase
    // scheme/host, www + default port, slash collapse, tracking-param
    // strip + sort) — the oracle validates the operator logic, not just
    // the synthesized duplicates.
    query("ns70_dedup_url", ns70)(
      ("""WITH pages AS (SELECT doc_id, CASE doc_id % 5
         |  WHEN 0 THEN 'https://WWW.Crawl.Example.org:443//a//' || (doc_id // 5) || '/?utm_source=feed&b=2&a=1#frag'
         |  WHEN 1 THEN 'https://crawl.example.org/a/' || (doc_id // 5) || '?a=1&b=2'
         |  WHEN 2 THEN 'HTTPS://www.crawl.example.org/a/' || (doc_id // 5) || '/?b=2&a=1&gclid=xyz'
         |  WHEN 3 THEN 'https://crawl.example.org:443/a//' || (doc_id // 5) || '?a=1&ref=tw&b=2#x'
         |  ELSE 'http://crawl.example.org:80/a/' || (doc_id // 5) || '?a=1&b=2' END AS url
         |  FROM documents),
         |parts AS (SELECT doc_id, url, nf,
         |  lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         |  lower(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostraw,
         |  regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS pathraw,
         |  regexp_extract(nf, '\?([^#]*)', 1) AS qraw
         |  FROM (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nf FROM pages)),
         |canon AS (SELECT doc_id,
         |  CASE WHEN scheme = '' THEN url ELSE scheme || '://' ||
         |    CASE WHEN scheme = 'http' THEN regexp_replace(regexp_replace(hostraw, '^www\.', ''), ':80$', '')
         |         WHEN scheme = 'https' THEN regexp_replace(regexp_replace(hostraw, '^www\.', ''), ':443$', '')
         |         ELSE regexp_replace(hostraw, '^www\.', '') END ||
         |    regexp_replace(regexp_replace(pathraw, '/{2,}', '/', 'g'), '/$', '') ||
         |    CASE WHEN plist = '' THEN '' ELSE '?' || plist END END AS canonical_url
         |  FROM (SELECT *, array_to_string(list_sort(list_filter(string_split(qraw, '&'),
         |    p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|msclkid|ref|mc_cid|mc_eid)(=.*)?$'))), '&') AS plist
         |    FROM parts))
         |SELECT min(doc_id) AS doc_id, canonical_url, count(*) AS n_copies
         |FROM canon GROUP BY canonical_url ORDER BY doc_id""".stripMargin)),
    // ns128: grouping by raw text is semantically identical to the
    // engine's md5-of-text digest grouping (the digest never reaches the
    // output — it exists so only 16 bytes ride the engine's shuffle).
    query("ns128_dup_mass", ns128)(
      ("""WITH amp AS (SELECT text FROM documents
         |    UNION ALL SELECT text FROM documents WHERE doc_id % 7 = 0
         |    UNION ALL SELECT text FROM documents WHERE doc_id % 21 = 0),
         |g AS (SELECT text, count(*)::BIGINT AS k,
         |    max(len(string_split(text, ' ')))::BIGINT AS toks
         |  FROM amp GROUP BY text),
         |h AS (SELECT k, count(*)::BIGINT AS n_groups,
         |    (sum(toks * k))::BIGINT AS token_mass,
         |    (sum(toks))::BIGINT AS unique_mass
         |  FROM g GROUP BY k)
         |SELECT k AS multiplicity, n_groups, (k * n_groups)::BIGINT AS n_docs,
         |  token_mass, unique_mass,
         |  (token_mass - unique_mass)::BIGINT AS excess_mass,
         |  (token_mass * 1000) // (SELECT sum(token_mass)::BIGINT FROM h)
         |    AS mass_per_mille
         |FROM h ORDER BY multiplicity""".stripMargin)),
    // ns134: the shared minhash pair template (one source of truth with
    // ns2/ns125) into the ns16 transitive-closure walk, rolled up by
    // component size; singletons derived from the corpus count.
    query("ns134_dedup_yield", ns134)(
      (s"""WITH RECURSIVE
         |p AS (${minhashPairsSqlTpl.replace("__DOCS__", "documents")}),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |  UNION SELECT doc_b, doc_a FROM p),
         |walk AS (SELECT src AS doc_id, src AS reach FROM edges
         |  UNION SELECT wk.doc_id, e.dst FROM walk wk JOIN edges e ON e.src = wk.reach),
         |labels AS (SELECT doc_id, min(reach) AS cluster FROM walk GROUP BY doc_id),
         |sizes AS (SELECT cluster, count(*)::BIGINT AS m FROM labels GROUP BY cluster),
         |hist AS (SELECT m, count(*)::BIGINT AS n_clusters FROM sizes GROUP BY m
         |  UNION ALL
         |  SELECT 1::BIGINT AS m,
         |    ((SELECT count(*) FROM documents) - (SELECT count(*) FROM labels))::BIGINT)
         |SELECT m AS cluster_size, n_clusters, (m * n_clusters)::BIGINT AS n_docs,
         |  ((m - 1) * n_clusters)::BIGINT AS n_removed,
         |  ((m - 1) * n_clusters * 1000) // (SELECT count(*) FROM documents)::BIGINT
         |    AS removed_per_mille
         |FROM hist WHERE n_clusters > 0 ORDER BY cluster_size""".stripMargin)),
    // ns136: the oracle recomputes the ticked snapshot's dup-mass
    // histogram FROM SCRATCH (the ns86 discipline) — the engine maintains
    // the group table off the fringe, so hash equality proves the IVM
    // algebra exact, including the k = 1 → 2 twin moves.
    query("ns136_ivm_dupmass", ns136)(
      ("""WITH newsnap AS (
         |  SELECT doc_id, CASE WHEN doc_id % 37 = 0 THEN text || ' v2' ELSE text END AS text
         |  FROM documents WHERE doc_id < 10 OR doc_id >= 20
         |  UNION ALL
         |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents), text FROM documents WHERE doc_id < 10),
         |g AS (SELECT text, count(*)::BIGINT AS k,
         |    max(len(string_split(text, ' ')))::BIGINT AS toks
         |  FROM newsnap GROUP BY text),
         |h AS (SELECT k, count(*)::BIGINT AS n_groups,
         |    (sum(toks * k))::BIGINT AS token_mass,
         |    (sum(toks))::BIGINT AS unique_mass
         |  FROM g GROUP BY k)
         |SELECT k AS multiplicity, n_groups, (k * n_groups)::BIGINT AS n_docs,
         |  token_mass, unique_mass,
         |  (token_mass - unique_mass)::BIGINT AS excess_mass,
         |  (token_mass * 1000) // (SELECT sum(token_mass)::BIGINT FROM h)
         |    AS mass_per_mille
         |FROM h ORDER BY multiplicity""".stripMargin)),
    // ns137: grouping by the normalized string ≡ the engine's md5-of-
    // normalized digest grouping; regexp_replace carries the 'g' flag
    // (DuckDB replaces only the first match without it — the suite-wide
    // gotcha), and the punct class is spelled as explicit ASCII ranges
    // so Java regex and RE2 read the identical set.
    query("ns137_dedup_normalized", ns137)(
      ("""WITH amp AS (SELECT doc_id, text FROM documents
         |    UNION ALL SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents),
         |      upper(text) || '  !!' FROM documents WHERE doc_id % 5 = 0),
         |n AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
         |    '[!-/:-@\[-`{-~]', ' ', 'g'), ' +', ' ', 'g')) AS norm FROM amp)
         |SELECT min(doc_id)::BIGINT AS doc_id, count(*)::BIGINT AS n_variants
         |FROM n GROUP BY norm ORDER BY doc_id""".stripMargin)),
    // ns152: SAME oracle as ns21 — the Bloom prefilter is work-avoidance
    // only; hash-identical output against the exact-join oracle is the
    // correctness claim
    query("ns152_decontaminate_bloom", ns152)(
      ("""WITH words AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         |sh AS (SELECT DISTINCT doc_id, unnest([array_to_string(w[i:i+3],' ') for i in range(1, len(w)-2)]) AS shingle FROM words),
         |bench AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 50 = 0)
         |SELECT s.doc_id, count(DISTINCT s.shingle) AS matched_shingles, count(DISTINCT b.bench_id) AS bench_docs
         |FROM sh s JOIN bench b USING (shingle) WHERE s.doc_id % 50 != 0
         |GROUP BY s.doc_id ORDER BY doc_id""".stripMargin)),
  )
}
