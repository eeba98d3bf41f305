package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Shared._

/** Similarity search: exact/LSH/IVF top-k, IVF/PQ lifecycle, rerank,
  * recall, audits. */
private[graft] object Ann extends Family("ann") {

  /** Query vectors for similarity search: the first five embeddings. */
  private def simQueries(s: SparkSession, dir: String): DataFrame =
    embs(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))

  private def ns6(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.bruteForceTopK(embs(s, dir), simQueries(s, dir), k = 10)
  private def ns7(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.lshTopK(embs(s, dir), simQueries(s, dir), k = 10)
  private def ns13(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.ivfTopK(embs(s, dir), simQueries(s, dir), k = 10)
  /** NS20 — IVF index lifecycle: ANN serving that stays current across
    * ingest. The index is built from the 80% corpus (frozen coarse
    * quantizer), the 20% batch is appended to its nearest existing cells
    * ([[graft.ops.Similarity.updateIvfIndex]] — no retrain), and queries
    * then probe the updated index: results cover corpus + batch with the
    * corpus-trained centroids. Per-run working copy, same hygiene as
    * ns18. */
  private def ns20(s: SparkSession, dir: String): DataFrame = {
    val fp = graft.ops.Dedup.sourceFingerprint(s, s"$dir/embeddings.parquet")
    val base = scratchIndexDir("graft_ivf_idx", dir, fp)
    if (!graft.ops.Similarity.ivfIndexMatches(s, base, fp))
      graft.ops.Similarity.writeIvfIndex(
        embs(s, dir).where(col("vec_id") % 5 =!= 0), base,
        fingerprint = Some(fp))
    val work = s"${base}_tick_${java.util.UUID.randomUUID().toString.take(8)}"
    graft.ops.Similarity.copyIvfIndex(s, base, work)
    val workPath = new org.apache.hadoop.fs.Path(work)
    workPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      .deleteOnExit(workPath)
    graft.ops.Similarity.updateIvfIndex(
      embs(s, dir).where(col("vec_id") % 5 === 0), work)
    graft.ops.Similarity.ivfTopKFromIndex(s, work, simQueries(s, dir), k = 10)
  }

  /** NS30 — product-quantization ANN: vectors compressed to 8 one-byte
    * codes (16× smaller than raw floats), queries score codes via ADC
    * table lookups — the memory-compression serving path beside LSH
    * (ns7, bucket pruning) and IVF (ns13, cell pruning). Codebook is the
    * md5-sampled deterministic quantizer, so encode + scoring mirror in
    * DuckDB end-to-end. */
  private def ns30(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.pqTopK(embs(s, dir), simQueries(s, dir), k = 10)

  /** NS35 — IVF-PQ: the composed billion-vector serving stack — IVF cells
    * prune WHICH rows are scored (partition-pruned probe scan), PQ codes
    * compress WHAT scoring costs (ADC lookups, no raw vectors in the
    * index at all). Both quantizers are the md5-derived ones from ns13
    * and ns30, so the composite mirrors end-to-end. */
  private def ns35(s: SparkSession, dir: String): DataFrame = {
    val fp = graft.ops.Dedup.sourceFingerprint(s, s"$dir/embeddings.parquet")
    val base = scratchIndexDir("graft_ivfpq_idx", dir, fp)
    if (!graft.ops.Similarity.pqIndexMatches(s, base, fp))
      graft.ops.Similarity.writeIvfPqIndex(
        embs(s, dir), base, fingerprint = Some(fp))
    graft.ops.Similarity.ivfPqTopKFromIndex(
      s, base, simQueries(s, dir), k = 10)
  }

  /** NS52 — IVF-PQ with exact re-ranking: the ns35 ADC stage widened to
    * 4·k candidates, whose raw vectors alone are re-scored with exact
    * cosine (candidate-bounded corpus read, broadcast semi-join shape).
    * Same index artifacts as ns35. */
  private def ns52(s: SparkSession, dir: String): DataFrame = {
    val fp = graft.ops.Dedup.sourceFingerprint(s, s"$dir/embeddings.parquet")
    val base = scratchIndexDir("graft_ivfpq_idx", dir, fp)
    if (!graft.ops.Similarity.pqIndexMatches(s, base, fp))
      graft.ops.Similarity.writeIvfPqIndex(
        embs(s, dir), base, fingerprint = Some(fp))
    graft.ops.Similarity.ivfPqTopKReranked(
      s, base, simQueries(s, dir), embs(s, dir), k = 10, rerankFactor = 4)
  }

  /** NS42 — k-means-trained IVF: two Lloyd iterations refine the md5
    * coarse quantizer (per-dim means rounded to 6 decimals — the contract
    * that makes a TRAINED quantizer oracle-checkable at all), then ns13's
    * probe/score serving runs unchanged on the tightened cells. */
  private def ns42(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.kmeansIvfTopK(embs(s, dir), simQueries(s, dir), k = 10)

  /** NS69 — per-label embedding outlier scoring: spherical per-label
    * centroids (6-decimal rounding contract, as ns42's k-means), then the
    * 10 lowest-cosine members per label — the label-noise filter of
    * semantic curation. Centroid agg shuffles only (label, dim) partials;
    * scoring is a broadcast probe; WindowGroupLimit caps the bottom-k. */
  private def ns69(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.outliers(embs(s, dir), k = 10)

  /** NS111 — late-interaction maxsim retrieval ([[graft.ops.Similarity
    * .maxSimTopK]]): each 64-dim vector read as 8 contiguous 8-dim
    * "token" sub-vectors; score = Σ_qb max_db ⟨qb, db⟩ — the ColBERT
    * scoring geometry beside whole-vector cosine (ns6) and quantized
    * ADC (ns30). One codegen'd higher-order expression per pair keeps
    * float accumulation order fixed by the expression tree, so the
    * score hash-replays; ns6's broadcast-query bounded-NLJ baseline
    * contract. */
  private def ns111(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.maxSimTopK(embs(s, dir), simQueries(s, dir), k = 10)

  /** NS123 — kNN margin scoring ([[graft.ops.Similarity
    * .marginScores]]): the Artetxe–Schwenk distance-margin criterion
    * over the ns6 query set — best-neighbor cosine minus the k=4
    * neighborhood mean, released as the n-scaled exact integer
    * `margin_n_micro` (no division anywhere, so truncate-vs-floor
    * engine divergence cannot occur). The hub-vector false-positive
    * filter of bitext mining and semantic dedup. */
  private def ns123(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.marginScores(embs(s, dir), simQueries(s, dir), k = 4)

  /** NS126 — ANN recall report ([[graft.ops.Similarity.recallReport]]):
    * per query, |LSH top-10 ∩ exact top-10| and recall in exact
    * per-mille — the production index-quality alarm, promoted from an
    * engine-side spec assertion to an oracle-checked operator. Both
    * sides of the comparison (the ns7 LSH pipeline AND the ns6 exact
    * baseline) replay in the oracle, so the metric is end-to-end
    * hash-gated. */
  private def ns126(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.recallReport(
        graft.ops.Similarity.lshTopK(embs(s, dir), simQueries(s, dir), k = 10),
        graft.ops.Similarity.bruteForceTopK(embs(s, dir), simQueries(s, dir),
          k = 10))

  /** NS138 — embedding integrity audit ([[graft.ops.Integrity
    * .embeddingAudit]]): the pre-index ANN data-quality gate. The
    * testdata vectors are clean (the raw audit is one 'ok' row), so
    * the fixture injects the four failure classes — NULL column,
    * truncated dim, NaN components, all-zero — putting every verdict
    * branch and the first-match priority inside the hash gate. */
  private def ns138(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir).select(col("vec_id"), col("embedding"))
    val shift = e.agg(max(col("vec_id"))).head.getLong(0) + 1L
    val bad = e.where(col("vec_id") < 4).select(
      (col("vec_id") + shift).as("vec_id"),
      when(col("vec_id") === 0, lit(null).cast("array<float>"))
        .when(col("vec_id") === 1, slice(col("embedding"), 1, 10))
        .when(col("vec_id") === 2,
          transform(col("embedding"), _ => lit(Float.NaN)))
        .otherwise(transform(col("embedding"), _ => lit(0.0f)))
        .as("embedding"))
    graft.ops.Integrity.embeddingAudit(e.unionByName(bad))
  }

  /** NS143 — cross-modal staleness audit ([[graft.ops.Integrity
    * .staleEmbeddings]]): byte-identical texts whose embeddings
    * disagree — the stale-re-embed bug detector. The raw corpus has no
    * exact text dups, so the fixture injects % 4 twins whose
    * embeddings are the original's EXCEPT the % 8 half, which get the
    * reversed vector (the stale class) — both verdicts in the gate. */
  private def ns143(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    val e = embs(s, dir).select(col("vec_id"), col("embedding"))
    val shift = d.agg(max(col("doc_id"))).head.getLong(0) + 1L
    val twins = d.where(col("doc_id") % 4 === 0)
      .select((col("doc_id") + shift).as("doc_id"), col("text"))
    val twinEmb = e.where(col("vec_id") % 4 === 0)
      .select((col("vec_id") + shift).as("vec_id"),
        when(col("vec_id") % 8 === 0, reverse(col("embedding")))
          .otherwise(col("embedding")).as("embedding"))
    graft.ops.Integrity.staleEmbeddings(
      d.unionByName(twins), e.unionByName(twinEmb))
  }

  /** ns6's full oracle, hoisted so ns126's recall report can embed the
    * SAME exact-baseline replay as a CTE (single source of truth). */
  private val ns6OracleSql: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
      |scored AS (SELECT q.query_id, e.vec_id,
      |  round(list_sum([qv[i]::DOUBLE * e.embedding[i]::DOUBLE for i in range(1,65)]) /
      |    (sqrt(list_sum([qv[i]::DOUBLE * qv[i]::DOUBLE for i in range(1,65)])) *
      |     sqrt(list_sum([e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE for i in range(1,65)]))), 6) AS cosine
      |  FROM embeddings e, q WHERE e.vec_id != q.query_id)
      |SELECT query_id, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank, vec_id, cosine
      |FROM scored QUALIFY rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** ns7's full oracle (the md5-derived LSH pipeline replay), hoisted
    * for the same reuse in ns126. */
  private val ns7OracleSql: String =
    """WITH planes AS (SELECT p, list_transform(range(0,64), d -> ((('0x' || substr(md5('plane:' || p || ':' || d), 1, 15))::BIGINT % 2001 - 1000) / 1000.0)) AS pl FROM (SELECT unnest(range(0,8)) AS p)),
      |emb AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
      |proj AS (SELECT vec_id, p, list_sum(list_transform(range(1,65), i -> v[i] * pl[i])) AS s FROM emb, planes),
      |buck AS (SELECT vec_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS bucket FROM proj GROUP BY vec_id),
      |corpus AS (SELECT e.vec_id, e.v, sqrt(list_sum(list_transform(e.v, x -> x * x))) AS nv, b.bucket FROM emb e JOIN buck b USING (vec_id)),
      |q AS (SELECT e.vec_id AS query_id, e.v AS qv, sqrt(list_sum(list_transform(e.v, x -> x * x))) AS nq, b.bucket AS qb FROM emb e JOIN buck b USING (vec_id) WHERE e.vec_id < 5),
      |probes AS (SELECT query_id, qv, nq, unnest(list_prepend(qb, list_transform(range(0,8), p -> xor(qb, 1::BIGINT << p)))) AS bucket FROM q),
      |scored AS (SELECT DISTINCT pr.query_id, c.vec_id, round(list_sum(list_transform(range(1,65), i -> pr.qv[i] * c.v[i])) / (pr.nq * c.nv), 6) AS cosine
      |  FROM probes pr JOIN corpus c USING (bucket) WHERE c.vec_id != pr.query_id)
      |SELECT query_id, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank, vec_id, cosine
      |FROM scored QUALIFY rank <= 10 ORDER BY query_id, rank""".stripMargin

  val queries: Seq[Query] = Seq(
    query("ns6_simsearch_topk", ns6)(ns6OracleSql),
    query("ns7_simsearch_lsh", ns7)(ns7OracleSql),
    query("ns13_simsearch_ivf", ns13)(
      ("""WITH emb AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |ranked AS (SELECT vec_id, v, row_number() OVER (ORDER BY ('0x' || substr(md5('centroid:' || vec_id), 1, 15))::BIGINT, vec_id) - 1 AS c FROM emb),
         |cent AS (SELECT c, CASE WHEN nrm = 0 THEN list_transform(v, x -> 0.0) ELSE list_transform(v, x -> x / nrm) END AS cv
         |  FROM (SELECT c, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM ranked WHERE c < 16)),
         |ascore AS (SELECT e.vec_id, e.v, cent.c, list_sum(list_transform(range(1,65), i -> e.v[i] * cent.cv[i])) AS s FROM emb e, cent),
         |assigned AS (SELECT vec_id, v, c AS cell FROM ascore QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c DESC) = 1),
         |corpus AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nv, cell FROM assigned),
         |qscore AS (SELECT e.vec_id AS query_id, e.v AS qv, cent.c, list_sum(list_transform(range(1,65), i -> e.v[i] * cent.cv[i])) AS s FROM emb e, cent WHERE e.vec_id < 5),
         |probes AS (SELECT query_id, qv, sqrt(list_sum(list_transform(qv, x -> x * x))) AS nq, c AS cell FROM qscore QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY s DESC, c DESC) <= 4),
         |scored AS (SELECT DISTINCT pr.query_id, corpus.vec_id, round(list_sum(list_transform(range(1,65), i -> pr.qv[i] * corpus.v[i])) / (pr.nq * corpus.nv), 6) AS cosine
         |  FROM probes pr JOIN corpus USING (cell) WHERE corpus.vec_id != pr.query_id)
         |SELECT query_id, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank, vec_id, cosine
         |FROM scored QUALIFY rank <= 10 ORDER BY query_id, rank""".stripMargin)),
    // ns20 = ns13's IVF pipeline with the coarse quantizer trained on the
    // 80% corpus only (the frozen-centroid update contract): centroid
    // ranking is restricted to vec_id % 5 != 0, assignment covers ALL
    // vectors (corpus-built index + appended batch).
    query("ns20_simsearch_ivf_update", ns20)(
      ("""WITH emb AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |ranked AS (SELECT vec_id, v, row_number() OVER (ORDER BY ('0x' || substr(md5('centroid:' || vec_id), 1, 15))::BIGINT, vec_id) - 1 AS c FROM emb WHERE vec_id % 5 != 0),
         |cent AS (SELECT c, CASE WHEN nrm = 0 THEN list_transform(v, x -> 0.0) ELSE list_transform(v, x -> x / nrm) END AS cv
         |  FROM (SELECT c, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM ranked WHERE c < 16)),
         |ascore AS (SELECT e.vec_id, e.v, cent.c, list_sum(list_transform(range(1,65), i -> e.v[i] * cent.cv[i])) AS s FROM emb e, cent),
         |assigned AS (SELECT vec_id, v, c AS cell FROM ascore QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c DESC) = 1),
         |corpus AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nv, cell FROM assigned),
         |qscore AS (SELECT e.vec_id AS query_id, e.v AS qv, cent.c, list_sum(list_transform(range(1,65), i -> e.v[i] * cent.cv[i])) AS s FROM emb e, cent WHERE e.vec_id < 5),
         |probes AS (SELECT query_id, qv, sqrt(list_sum(list_transform(qv, x -> x * x))) AS nq, c AS cell FROM qscore QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY s DESC, c DESC) <= 4),
         |scored AS (SELECT DISTINCT pr.query_id, corpus.vec_id, round(list_sum(list_transform(range(1,65), i -> pr.qv[i] * corpus.v[i])) / (pr.nq * corpus.nv), 6) AS cosine
         |  FROM probes pr JOIN corpus USING (cell) WHERE corpus.vec_id != pr.query_id)
         |SELECT query_id, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank, vec_id, cosine
         |FROM scored QUALIFY rank <= 10 ORDER BY query_id, rank""".stripMargin)),
    // ns30 mirrors the PQ pipeline end-to-end: md5-sampled codebook,
    // per-subspace argmin encode (ties to the smaller code), query LUT of
    // subspace dot products, ADC score as the explicit left-to-right
    // 8-term sum — identical IEEE arithmetic in both engines.
    query("ns30_simsearch_pq", ns30)(
      ("""WITH emb AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |ranked AS (SELECT vec_id, v, row_number() OVER (ORDER BY ('0x' || substr(md5('pq:' || vec_id), 1, 15))::BIGINT, vec_id) - 1 AS c FROM emb),
         |cbl AS (SELECT list(v ORDER BY c) AS l FROM ranked WHERE c < 16),
         |dists AS (SELECT e.vec_id, ss.s, cc.c,
         |    list_sum(list_transform(range(0,8), d -> cbl.l[cc.c+1][ss.s*8+d+1] * cbl.l[cc.c+1][ss.s*8+d+1]))
         |    - 2 * list_sum(list_transform(range(0,8), d -> e.v[ss.s*8+d+1] * cbl.l[cc.c+1][ss.s*8+d+1])) AS dist
         |  FROM emb e, (SELECT unnest(range(0,8)) AS s) ss, (SELECT unnest(range(0,16)) AS c) cc, cbl),
         |codes AS (SELECT vec_id, list(c ORDER BY s) AS cs FROM (SELECT vec_id, s, c FROM dists QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, c) = 1) GROUP BY vec_id),
         |q AS (SELECT e.vec_id AS query_id, list_transform(range(0,128), sc -> list_sum(list_transform(range(0,8), d -> e.v[(sc//16)*8+d+1] * cbl.l[sc%16+1][(sc//16)*8+d+1]))) AS lut FROM emb e, cbl WHERE e.vec_id < 5),
         |scored AS (SELECT q.query_id, c.vec_id,
         |    q.lut[c.cs[1]+1] + q.lut[16+c.cs[2]+1] + q.lut[32+c.cs[3]+1] + q.lut[48+c.cs[4]+1] + q.lut[64+c.cs[5]+1] + q.lut[80+c.cs[6]+1] + q.lut[96+c.cs[7]+1] + q.lut[112+c.cs[8]+1] AS ip
         |  FROM codes c, q WHERE c.vec_id != q.query_id)
         |SELECT query_id, row_number() OVER (PARTITION BY query_id ORDER BY ip DESC, vec_id) AS rank, vec_id, round(ip, 6) AS adc_ip
         |FROM scored QUALIFY rank <= 10 ORDER BY query_id, rank""".stripMargin)),
    // ns35 composes the ns13 coarse-quantizer CTEs (cells, probes) with
    // the ns30 PQ CTEs (codebook, codes, LUT): scored pairs are restricted
    // to each query's probed cells, ranked by the same 8-term ADC sum.
    query("ns35_simsearch_ivfpq", ns35)(
      ("""WITH emb AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |cranked AS (SELECT vec_id, v, row_number() OVER (ORDER BY ('0x' || substr(md5('centroid:' || vec_id), 1, 15))::BIGINT, vec_id) - 1 AS c FROM emb),
         |cent AS (SELECT c, CASE WHEN nrm = 0 THEN list_transform(v, x -> 0.0) ELSE list_transform(v, x -> x / nrm) END AS cv
         |  FROM (SELECT c, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM cranked WHERE c < 16)),
         |ascore AS (SELECT e.vec_id, cent.c, list_sum(list_transform(range(1,65), i -> e.v[i] * cent.cv[i])) AS s FROM emb e, cent),
         |assigned AS (SELECT vec_id, c AS cell FROM ascore QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c DESC) = 1),
         |pranked AS (SELECT vec_id, v, row_number() OVER (ORDER BY ('0x' || substr(md5('pq:' || vec_id), 1, 15))::BIGINT, vec_id) - 1 AS c FROM emb),
         |cbl AS (SELECT list(v ORDER BY c) AS l FROM pranked WHERE c < 16),
         |dists AS (SELECT e.vec_id, ss.s, cc.c,
         |    list_sum(list_transform(range(0,8), d -> cbl.l[cc.c+1][ss.s*8+d+1] * cbl.l[cc.c+1][ss.s*8+d+1]))
         |    - 2 * list_sum(list_transform(range(0,8), d -> e.v[ss.s*8+d+1] * cbl.l[cc.c+1][ss.s*8+d+1])) AS dist
         |  FROM emb e, (SELECT unnest(range(0,8)) AS s) ss, (SELECT unnest(range(0,16)) AS c) cc, cbl),
         |codes AS (SELECT vec_id, list(c ORDER BY s) AS cs FROM (SELECT vec_id, s, c FROM dists QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, c) = 1) GROUP BY vec_id),
         |qsc AS (SELECT e.vec_id AS query_id, cent.c, list_sum(list_transform(range(1,65), i -> e.v[i] * cent.cv[i])) AS s FROM emb e, cent WHERE e.vec_id < 5),
         |probes AS (SELECT query_id, c AS cell FROM qsc QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY s DESC, c DESC) <= 4),
         |q AS (SELECT e.vec_id AS query_id, list_transform(range(0,128), sc -> list_sum(list_transform(range(0,8), d -> e.v[(sc//16)*8+d+1] * cbl.l[sc%16+1][(sc//16)*8+d+1]))) AS lut FROM emb e, cbl WHERE e.vec_id < 5),
         |scored AS (SELECT q.query_id, c2.vec_id,
         |    q.lut[c2.cs[1]+1] + q.lut[16+c2.cs[2]+1] + q.lut[32+c2.cs[3]+1] + q.lut[48+c2.cs[4]+1] + q.lut[64+c2.cs[5]+1] + q.lut[80+c2.cs[6]+1] + q.lut[96+c2.cs[7]+1] + q.lut[112+c2.cs[8]+1] AS ip
         |  FROM codes c2 JOIN assigned a USING (vec_id) JOIN probes pr ON pr.cell = a.cell JOIN q ON q.query_id = pr.query_id
         |  WHERE c2.vec_id != q.query_id)
         |SELECT query_id, row_number() OVER (PARTITION BY query_id ORDER BY ip DESC, vec_id) AS rank, vec_id, round(ip, 6) AS adc_ip
         |FROM scored QUALIFY rank <= 10 ORDER BY query_id, rank""".stripMargin)),
    // ns42 unrolls two Lloyd iterations over the ns13 init: assignment
    // (same argmax tie-break), per-(cell, dim) mean ROUNDED to 6 decimals
    // (absorbs the engines' cross-row float-sum order noise), driver-order
    // renormalization, empty cells keeping their previous centroid via the
    // LEFT JOIN; then the ns13 probe/score tail against the trained cells.
    query("ns42_simsearch_kmeans", ns42)(
      ("""WITH emb AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |ranked AS (SELECT vec_id, v, row_number() OVER (ORDER BY ('0x' || substr(md5('centroid:' || vec_id), 1, 15))::BIGINT, vec_id) - 1 AS c FROM emb),
         |cent0 AS (SELECT c, CASE WHEN nrm = 0 THEN list_transform(v, x -> 0.0) ELSE list_transform(v, x -> x / nrm) END AS cv
         |  FROM (SELECT c, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM ranked WHERE c < 16)),
         |a1 AS (SELECT vec_id, v, c AS cell FROM (SELECT e.vec_id, e.v, cent0.c, list_sum(list_transform(range(1,65), i -> e.v[i] * cent0.cv[i])) AS s FROM emb e, cent0)
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c DESC) = 1),
         |a1n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nv, cell FROM a1),
         |m1 AS (SELECT cell, ii.i, round(sum(v[ii.i] / nv) / count(*), 6) AS m FROM a1n, (SELECT unnest(range(1,65)) AS i) ii WHERE nv > 0 GROUP BY cell, ii.i),
         |g1 AS (SELECT cell, mv, sqrt(list_sum(list_transform(mv, x -> x * x))) AS nrm FROM (SELECT cell, list(m ORDER BY i) AS mv FROM m1 GROUP BY cell)),
         |cent1 AS (SELECT cent0.c, CASE WHEN g1.mv IS NULL THEN cent0.cv WHEN g1.nrm = 0 THEN list_transform(g1.mv, x -> 0.0) ELSE list_transform(g1.mv, x -> x / g1.nrm) END AS cv
         |  FROM cent0 LEFT JOIN g1 ON g1.cell = cent0.c),
         |a2 AS (SELECT vec_id, v, c AS cell FROM (SELECT e.vec_id, e.v, cent1.c, list_sum(list_transform(range(1,65), i -> e.v[i] * cent1.cv[i])) AS s FROM emb e, cent1)
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c DESC) = 1),
         |a2n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nv, cell FROM a2),
         |m2 AS (SELECT cell, ii.i, round(sum(v[ii.i] / nv) / count(*), 6) AS m FROM a2n, (SELECT unnest(range(1,65)) AS i) ii WHERE nv > 0 GROUP BY cell, ii.i),
         |g2 AS (SELECT cell, mv, sqrt(list_sum(list_transform(mv, x -> x * x))) AS nrm FROM (SELECT cell, list(m ORDER BY i) AS mv FROM m2 GROUP BY cell)),
         |cent2 AS (SELECT cent1.c, CASE WHEN g2.mv IS NULL THEN cent1.cv WHEN g2.nrm = 0 THEN list_transform(g2.mv, x -> 0.0) ELSE list_transform(g2.mv, x -> x / g2.nrm) END AS cv
         |  FROM cent1 LEFT JOIN g2 ON g2.cell = cent1.c),
         |assigned AS (SELECT vec_id, v, c AS cell FROM (SELECT e.vec_id, e.v, cent2.c, list_sum(list_transform(range(1,65), i -> e.v[i] * cent2.cv[i])) AS s FROM emb e, cent2)
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c DESC) = 1),
         |corpus AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nv, cell FROM assigned),
         |qscore AS (SELECT e.vec_id AS query_id, e.v AS qv, cent2.c, list_sum(list_transform(range(1,65), i -> e.v[i] * cent2.cv[i])) AS s FROM emb e, cent2 WHERE e.vec_id < 5),
         |probes AS (SELECT query_id, qv, sqrt(list_sum(list_transform(qv, x -> x * x))) AS nq, c AS cell FROM qscore QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY s DESC, c DESC) <= 4),
         |scored AS (SELECT DISTINCT pr.query_id, corpus.vec_id, round(list_sum(list_transform(range(1,65), i -> pr.qv[i] * corpus.v[i])) / (pr.nq * corpus.nv), 6) AS cosine
         |  FROM probes pr JOIN corpus USING (cell) WHERE corpus.vec_id != pr.query_id)
         |SELECT query_id, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank, vec_id, cosine
         |FROM scored QUALIFY rank <= 10 ORDER BY query_id, rank""".stripMargin)),
    // ns52 = ns35's ADC chain widened to 40 candidates, then exact-cosine
    // re-ranked over the raw vectors (same formula as ns6's oracle).
    query("ns52_simsearch_rerank", ns52)(
      ("""WITH emb AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |cranked AS (SELECT vec_id, v, row_number() OVER (ORDER BY ('0x' || substr(md5('centroid:' || vec_id), 1, 15))::BIGINT, vec_id) - 1 AS c FROM emb),
         |cent AS (SELECT c, CASE WHEN nrm = 0 THEN list_transform(v, x -> 0.0) ELSE list_transform(v, x -> x / nrm) END AS cv
         |  FROM (SELECT c, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM cranked WHERE c < 16)),
         |ascore AS (SELECT e.vec_id, cent.c, list_sum(list_transform(range(1,65), i -> e.v[i] * cent.cv[i])) AS s FROM emb e, cent),
         |assigned AS (SELECT vec_id, c AS cell FROM ascore QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c DESC) = 1),
         |pranked AS (SELECT vec_id, v, row_number() OVER (ORDER BY ('0x' || substr(md5('pq:' || vec_id), 1, 15))::BIGINT, vec_id) - 1 AS c FROM emb),
         |cbl AS (SELECT list(v ORDER BY c) AS l FROM pranked WHERE c < 16),
         |dists AS (SELECT e.vec_id, ss.s, cc.c,
         |    list_sum(list_transform(range(0,8), d -> cbl.l[cc.c+1][ss.s*8+d+1] * cbl.l[cc.c+1][ss.s*8+d+1]))
         |    - 2 * list_sum(list_transform(range(0,8), d -> e.v[ss.s*8+d+1] * cbl.l[cc.c+1][ss.s*8+d+1])) AS dist
         |  FROM emb e, (SELECT unnest(range(0,8)) AS s) ss, (SELECT unnest(range(0,16)) AS c) cc, cbl),
         |codes AS (SELECT vec_id, list(c ORDER BY s) AS cs FROM (SELECT vec_id, s, c FROM dists QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, c) = 1) GROUP BY vec_id),
         |qsc AS (SELECT e.vec_id AS query_id, cent.c, list_sum(list_transform(range(1,65), i -> e.v[i] * cent.cv[i])) AS s FROM emb e, cent WHERE e.vec_id < 5),
         |probes AS (SELECT query_id, c AS cell FROM qsc QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY s DESC, c DESC) <= 4),
         |q AS (SELECT e.vec_id AS query_id, list_transform(range(0,128), sc -> list_sum(list_transform(range(0,8), d -> e.v[(sc//16)*8+d+1] * cbl.l[sc%16+1][(sc//16)*8+d+1]))) AS lut FROM emb e, cbl WHERE e.vec_id < 5),
         |scored AS (SELECT q.query_id, c2.vec_id,
         |    q.lut[c2.cs[1]+1] + q.lut[16+c2.cs[2]+1] + q.lut[32+c2.cs[3]+1] + q.lut[48+c2.cs[4]+1] + q.lut[64+c2.cs[5]+1] + q.lut[80+c2.cs[6]+1] + q.lut[96+c2.cs[7]+1] + q.lut[112+c2.cs[8]+1] AS ip
         |  FROM codes c2 JOIN assigned a USING (vec_id) JOIN probes pr ON pr.cell = a.cell JOIN q ON q.query_id = pr.query_id
         |  WHERE c2.vec_id != q.query_id),
         |cand AS (SELECT query_id, vec_id FROM scored QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY ip DESC, vec_id) <= 40),
         |ex AS (SELECT cd.query_id, cd.vec_id,
         |    round(list_sum(list_transform(range(1,65), i -> qe.v[i] * ce.v[i])) /
         |      (sqrt(list_sum(list_transform(qe.v, x -> x * x))) *
         |       sqrt(list_sum(list_transform(ce.v, x -> x * x)))), 6) AS cosine
         |  FROM cand cd JOIN emb qe ON qe.vec_id = cd.query_id JOIN emb ce ON ce.vec_id = cd.vec_id)
         |SELECT query_id, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank, vec_id, cosine
         |FROM ex QUALIFY rank <= 10 ORDER BY query_id, rank""".stripMargin)),
    // ns69 mirrors the spherical centroid (unit members, per-dim avg
    // rounded to 6 — the ns42 rounding contract) and the bottom-k scoring.
    query("ns69_embedding_outliers", ns69)(
      ("""WITH emb AS (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |unit AS (SELECT vec_id, label, v, nv, list_transform(v, x -> x / nv) AS u
         |  FROM (SELECT vec_id, label, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nv FROM emb)
         |  WHERE nv > 0),
         |dims AS (SELECT label, unnest(generate_series(1, len(u))) AS d, unnest(u) AS x FROM unit),
         |cent AS (SELECT label, d, round(avg(x), 6) AS c FROM dims GROUP BY label, d),
         |centv AS (SELECT label, list(c ORDER BY d) AS cv,
         |  sqrt(list_sum(list_transform(list(c ORDER BY d), x -> x * x))) AS nc FROM cent GROUP BY label),
         |scored AS (SELECT u.label, u.vec_id,
         |  round(list_sum(list_transform(range(1, len(u.v) + 1), i -> u.v[i] * cv[i])) / (u.nv * nc), 6) AS cosine
         |  FROM unit u JOIN centv USING (label))
         |SELECT label, row_number() OVER (PARTITION BY label ORDER BY cosine ASC, vec_id) AS rank, vec_id, cosine
         |FROM scored QUALIFY rank <= 10 ORDER BY label, rank""".stripMargin)),
    // ns111: the nested comprehension mirrors the engine's expression
    // tree exactly — qb-sum of db-max of the fixed-order 8-dim dot —
    // so both engines accumulate in the same order before round(6).
    query("ns111_maxsim_topk", ns111)(
      ("""WITH q AS (SELECT vec_id AS query_id, list_transform(embedding, x -> x::DOUBLE) AS qv FROM embeddings WHERE vec_id < 5),
         |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |scored AS (SELECT q.query_id, e.vec_id,
         |  round(list_sum(list_transform(range(0, 8), qb ->
         |    list_max(list_transform(range(0, 8), db ->
         |      list_sum(list_transform(range(1, 9), i -> qv[qb*8+i] * v[db*8+i])))))), 6) AS maxsim
         |  FROM e, q WHERE e.vec_id != q.query_id)
         |SELECT query_id, row_number() OVER (PARTITION BY query_id ORDER BY maxsim DESC, vec_id) AS rank, vec_id, maxsim
         |FROM scored QUALIFY rank <= 10 ORDER BY query_id, rank""".stripMargin)),
    // ns123: the ns6 scored/rank CTEs at k=4, micro conversion, and the
    // division-free n-scaled margin — min_by mirrors Spark's min_by on
    // the unique rank key, so attribution is deterministic both sides.
    query("ns123_knn_margin", ns123)(
      ("""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
         |scored AS (SELECT q.query_id, e.vec_id,
         |  round(list_sum([qv[i]::DOUBLE * e.embedding[i]::DOUBLE for i in range(1,65)]) /
         |    (sqrt(list_sum([qv[i]::DOUBLE * qv[i]::DOUBLE for i in range(1,65)])) *
         |     sqrt(list_sum([e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE for i in range(1,65)]))), 6) AS cosine
         |  FROM embeddings e, q WHERE e.vec_id != q.query_id),
         |topk AS (SELECT query_id, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank,
         |    vec_id, CAST(round(cosine * 1000000) AS BIGINT) AS cm
         |  FROM scored QUALIFY rank <= 4)
         |SELECT query_id,
         |  min_by(vec_id, rank) AS best_id,
         |  min_by(cm, rank) AS best_micro,
         |  sum(cm)::BIGINT AS sum_micro,
         |  count(*) AS n_neighbors,
         |  min_by(cm, rank) * count(*) - sum(cm)::BIGINT AS margin_n_micro
         |FROM topk GROUP BY query_id ORDER BY query_id""".stripMargin)),
    // ns126: the ns6 and ns7 oracles embed verbatim as CTE subqueries
    // (single source of truth — the vals above), then the recall join:
    // both the approximate pipeline and the exact baseline sit inside
    // this hash gate.
    query("ns126_ann_recall", ns126)(
      (s"""WITH ex AS ($ns6OracleSql),
         |ap AS ($ns7OracleSql),
         |x AS (SELECT query_id, count(*) AS n_exact FROM ex GROUP BY 1),
         |h AS (SELECT ex.query_id, count(*) AS n_hit
         |  FROM ex JOIN ap ON ap.query_id = ex.query_id AND ap.vec_id = ex.vec_id
         |  GROUP BY 1)
         |SELECT x.query_id, n_exact,
         |  coalesce(n_hit, 0)::BIGINT AS n_hit,
         |  (coalesce(n_hit, 0)::BIGINT * 1000) // n_exact AS recall_per_mille
         |FROM x LEFT JOIN h USING (query_id) ORDER BY x.query_id""".stripMargin)),
    // ns138: the CASE priority chain replays verbatim; NaN/Inf via
    // isnan/isinf (DuckDB orders NaN as a value, but the non_finite
    // branch catches it before any comparison matters).
    query("ns138_embedding_audit", ns138)(
      ("""WITH amp AS (SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + (SELECT max(vec_id) + 1 FROM embeddings),
         |    CASE WHEN vec_id = 0 THEN NULL
         |         WHEN vec_id = 1 THEN embedding[1:10]
         |         WHEN vec_id = 2 THEN list_transform(embedding, x -> 'NaN'::FLOAT)
         |         ELSE list_transform(embedding, x -> 0.0::FLOAT) END
         |  FROM embeddings WHERE vec_id < 4),
         |v AS (SELECT CASE WHEN embedding IS NULL THEN 'null'
         |    WHEN len(embedding) != 64 THEN 'wrong_dim'
         |    WHEN len([x for x in embedding if isnan(x) OR isinf(x)]) > 0 THEN 'non_finite'
         |    WHEN len([x for x in embedding if x != 0]) = 0 THEN 'zero'
         |    ELSE 'ok' END AS verdict FROM amp),
         |h AS (SELECT verdict, count(*)::BIGINT AS n_vectors FROM v GROUP BY verdict)
         |SELECT verdict, n_vectors,
         |  (n_vectors * 1000) // (SELECT sum(n_vectors)::BIGINT FROM h) AS share_per_mille
         |FROM h ORDER BY verdict""".stripMargin)),
    // ns143: exact-text pair join + the ns6 cosine convention (double
    // cast, index-order dot, 6-decimal round).
    query("ns143_stale_embeddings", ns143)(
      ("""WITH ad AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents), text
         |  FROM documents WHERE doc_id % 4 = 0),
         |ae AS (SELECT vec_id, embedding FROM embeddings
         |  UNION ALL SELECT vec_id + (SELECT max(doc_id) + 1 FROM documents),
         |    CASE WHEN vec_id % 8 = 0 THEN list_reverse(embedding) ELSE embedding END
         |  FROM embeddings WHERE vec_id % 4 = 0),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM ad a JOIN ad b ON a.text = b.text AND a.doc_id < b.doc_id),
         |e2 AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
         |  sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS n FROM ae),
         |c AS (SELECT id_a, id_b,
         |  round(list_sum([ea.v[i] * eb.v[i] for i in range(1, 65)]) / (ea.n * eb.n), 6) AS cosine
         |  FROM p JOIN e2 ea ON ea.vec_id = p.id_a JOIN e2 eb ON eb.vec_id = p.id_b)
         |SELECT id_a, id_b, cosine, cosine < 0.999 AS stale
         |FROM c ORDER BY id_a, id_b""".stripMargin)),
  )
}
