package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import PersistedIndex.Kind

import graft.Tables

/** Approximate-nearest-neighbor similarity search over an embedding column
  * (`Array[Float]`) — north-star extension (SURVEY §7.2 M6).
  *
  * Two paths:
  *   - [[bruteForceTopK]]: exact cosine top-k per query. Queries are a
  *     (small) DataFrame broadcast against the corpus — the corpus is
  *     scanned once, never shuffled, so this scales in corpus size but
  *     linearly; it is the baseline and the verifier.
  *   - [[lshTopK]]: sign-random-projection LSH. Hyperplanes are derived
  *     deterministically from md5, so buckets are reproducible across
  *     engines and runs. Corpus is bucketed once (numPlanes sign bits →
  *     2^numPlanes buckets); a query only scores its own bucket (multi-probe over
  *     Hamming-1 neighbors for recall). This is the 100 TB path: bucket
  *     assignment is one narrow scan, search touches ~corpus/2^bits rows.
  *
  * All arithmetic is double-precision with an explicit left-to-right fold
  * (`aggregate`) so scores are bit-reproducible.
  */
object Similarity {

  /** Left-to-right double dot product. Originally
    * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` — same IEEE result, but the
    * HOF lambda interprets per element outside whole-stage codegen; the
    * custom expression generates a primitive loop ([[graft.functions.DotProduct]]). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vecDot(a, b)

  def norm(a: Column): Column =
    graft.functions.VectorFunctions.vecNorm(a)

  /** Zero-norm guard: a zero vector has no direction, so its cosine to
    * anything is pinned at -1 (the cosine minimum). Without the guard,
    * 0/0 = NaN — and Spark orders NaN ABOVE every double, so one all-zero
    * embedding would become the rank-1 "neighbor" of every query in every
    * top-k, and marginScores' ANSI bigint cast of NaN would throw. */
  private[ops] def guardedCosine(d: Column, na: Column, nb: Column): Column =
    when(na * nb > 0, d / (na * nb)).otherwise(lit(-1.0))

  def cosine(a: Column, b: Column): Column =
    guardedCosine(dot(a, b), norm(a), norm(b))

  /** Exact top-k neighbors for each query id. `queries` is (query_id,
    * query_vec); ranks tie-break on rounded score then neighbor id, so
    * output is total-ordered and engine-reproducible. */
  def bruteForceTopK(
      embeddings: DataFrame, queries: DataFrame, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the codegen vector expressions resolve from the session registry —
    // register defensively (the pqEncode precedent): a fresh session that
    // never went through Tables.load would otherwise fail analysis
    graft.functions.VectorFunctions.register(embeddings.sparkSession)
    // corpus norms hoisted out of the per-(query, vector) scoring —
    // identical IEEE values, ~q× less norm work
    val corpus = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
      .withColumn("nv", norm(col("v")))
    val q = queries.select(col("query_id"),
      col("query_vec").cast("array<double>").as("qv"))
      .withColumn("nq", norm(col("qv")))
    val scored = corpus.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(guardedCosine(
          dot(col("qv"), col("v")), col("nq"), col("nv")), 6)
          .as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cosine"))
  }

  /** S-margin — kNN margin scoring (the Artetxe–Schwenk margin criterion
    * of bitext mining, distance-margin form): a query's best neighbor is
    * trustworthy only if it stands OUT from the query's neighborhood —
    * score = cos(q, nn₁) − mean(cos(q, nnᵢ) for i ≤ k). A hub vector
    * that is everyone's near-neighbor has a high top cosine but a near-
    * zero margin, which is exactly the false-positive class raw cosine
    * thresholds admit in parallel-corpus mining and semantic dedup.
    *
    * Exactness contract: cosines come from [[bruteForceTopK]]'s rounded
    * 6-dp values, converted to integer MICRO units; the margin is
    * released n-SCALED — `margin_n_micro = best·n − Σ cosᵢ` — so the
    * whole statistic is integer add/multiply with NO division, and
    * therefore replays bit-for-bit in any engine (integer division of
    * possibly-negative sums is where engines disagree on truncate-vs-
    * floor; multiplying out the mean sidesteps the hazard entirely).
    * `n_neighbors` is released honestly (< k when the corpus is small),
    * and the n-scaling makes same-n rows directly comparable — the
    * mining threshold is a cut on margin_n_micro at fixed k.
    *
    * Scale shape: [[bruteForceTopK]]'s broadcast-query corpus scan (the
    * exact baseline; compose with the IVF probe for the deployment
    * path), then ONE query-keyed aggregation over queries × k rows —
    * nothing beyond the top-k frame ever shuffles. */
  def marginScores(
      embeddings: DataFrame, queries: DataFrame, k: Int = 4): DataFrame = {
    require(k >= 2, "margin needs at least 2 neighbors")
    bruteForceTopK(embeddings, queries, k)
      .withColumn("cm", expr("CAST(round(cosine * 1000000) AS BIGINT)"))
      .groupBy(col("query_id"))
      .agg(
        min_by(col("vec_id"), col("rank")).as("best_id"),
        min_by(col("cm"), col("rank")).as("best_micro"),
        sum(col("cm")).as("sum_micro"),
        count(lit(1)).as("n_neighbors"))
      .withColumn("margin_n_micro",
        col("best_micro") * col("n_neighbors") - col("sum_micro"))
  }

  /** S-eval — ANN recall report: per query, how much of the EXACT top-k
    * an approximate index actually returned — `n_hit = |approx ∩
    * exact|`, recall in exact integer per-mille. The index-quality
    * monitoring loop every production ANN deployment runs (recall decays
    * silently as the corpus drifts from the quantizer/plane training
    * distribution; this is the alarm that triggers a rebuild), promoted
    * from an engine-side spec assertion to a first-class registered
    * operator so the metric itself is oracle-checkable.
    *
    * Inputs are any two (query_id, vec_id) result frames — compose with
    * [[lshTopK]]/[[ivfTopKFromIndex]]/[[pqTopK]] against
    * [[bruteForceTopK]], or diff two index generations against each
    * other. Queries the approximate side missed entirely still report
    * (recall 0), via the exact-side left join.
    *
    * Scale shape: ONE (query, vec) equi-join of two top-k frames
    * (queries × k rows each — result-set sized, never corpus-sized) and
    * two query-keyed aggregations. Nothing here touches the corpus. */
  def recallReport(approx: DataFrame, exact: DataFrame): DataFrame = {
    val a = approx.select(col("query_id"), col("vec_id"))
    val e = exact.select(col("query_id"), col("vec_id"))
    val hits = a.join(e, Seq("query_id", "vec_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    e.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        expr("coalesce(n_hit, 0L) * 1000 DIV n_exact")
          .as("recall_per_mille"))
  }

  /** Deterministic pseudo-random hyperplane component for (plane p, dim d):
    * md5-derived integer folded into [-1000, 1000] / 1000 — reproducible in
    * any engine with md5 + hex→int. The components are data-INDEPENDENT
    * constants, so they are computed once driver-side (same formula the
    * original SQL expression evaluated per row: md5 of "plane:p:d", first
    * 15 hex chars as a long, % 2001 - 1000, / 1000) and embedded as array
    * literals; per row only the codegen'd dot product remains. */
  private[ops] def planeComponent(p: Int, d: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"plane:$p:$d".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex.take(15), 16) % 2001 - 1000).toDouble / 1000.0
  }

  /** Sign-LSH bucket key: `numPlanes` sign bits of hyperplane projections. */
  def lshBucket(vec: Column, numPlanes: Int = 8, dims: Int = 64): Column =
    (0 until numPlanes).map { p =>
      val plane = array((0 until dims).map(d => lit(planeComponent(p, d))): _*)
      when(dot(vec, plane) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** IVF (inverted-file) ANN top-k — the second scale path besides
    * [[lshTopK]].
    *
    * Coarse quantizer: `numCentroids` corpus vectors chosen deterministically
    * (smallest md5("centroid:" + vec_id) 60-bit prefix — a reproducible
    * uniform sample whose key any md5-capable engine can recompute, unlike
    * xxhash64) and collected to the driver (tiny: C×dims doubles, the one
    * legitimate driver-side materialization here, same role as a broadcast
    * dim table).
    * Every corpus vector is assigned to its nearest centroid by cosine in a
    * single codegen'd scan (C literal-array dot products per row, argmax via
    * array_max over (score, centroid) structs). A query probes its `nProbe`
    * nearest centroids' cells only, so search touches ~corpus·nProbe/C rows.
    * At 100 TB the assignment is one narrow pass and cells can be written
    * out partitioned-by-centroid for partition-pruned probing.
    *
    * Every stage is md5-reproducible → fully oracle-checkable; recall is
    * additionally spec-tested against [[bruteForceTopK]]. */
  def ivfTopK(
      embeddings: DataFrame, queries: DataFrame, k: Int = 10,
      numCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val corpus = normalizedCorpus(embeddings)
    ivfTopKWith(corpus, centroidVectors(corpus, numCentroids), queries, k,
      nProbe)
  }

  /** IVF serving against an explicit quantizer (shared by [[ivfTopK]] and
    * [[kmeansIvfTopK]]). */
  private def ivfTopKWith(
      corpus: DataFrame, centroids: Array[(Int, Array[Double])],
      queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val assigned = corpus.withColumn("cell",
      array_max(cellScores(col("v"), centroids)).getField("c"))
    scoreProbes(assigned, probeCells(queries, centroids, nProbe), k)
  }

  /** Spherical k-means refinement of the coarse quantizer — the TRAINED
    * alternative to the md5 sample: Lloyd iterations (assign to nearest
    * centroid by cosine, recenter each cell on the mean of its members'
    * UNIT vectors, renormalize — cosine geometry only sees direction, so
    * a high-magnitude member must not dominate the mean), which tightens
    * cells around the data's actual modes and is how production IVF
    * quantizers are built (FAISS `train`).
    *
    * Engine-portability contract — the reason a k-means quantizer is
    * normally unverifiable, solved here: each iteration's per-dimension
    * means are ROUNDED to 6 decimals before renormalization. Cross-row
    * float sums are the one place engines (and reruns — Spark's combine
    * order varies with scheduling) disagree at the last few ulps (~1e-12
    * relative); rounding at 1e-6 absorbs that noise, so both engines hand
    * the SAME literal centroids to the next iteration and every
    * assignment, probe and score downstream mirrors exactly. The
    * normalization itself is driver-side exact IEEE ops over the rounded
    * values in dimension order — bit-identical by construction.
    *
    * 100 TB shape: each iteration is ONE corpus scan (C codegen'd dot
    * products per row) + ONE (cell, dim)-keyed aggregation whose shuffle
    * carries only tasks × C × dims partial rows (map-side combine), then a
    * C × dims driver-side collect — the same footprint as the centroid
    * fetch. Empty cells keep their previous centroid (no respawn
    * heuristic: deterministic and mirrorable). `iterations = 0` returns
    * the md5 sample unchanged. */
  def kmeansCentroids(
      embeddings: DataFrame, numCentroids: Int = 16,
      iterations: Int = 2): Array[(Int, Array[Double])] = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    graft.functions.VectorFunctions.register(embeddings.sparkSession)
    // one checkpoint, `iterations` consumers (each Lloyd pass re-scans)
    val corpus0 = normalizedCorpus(embeddings)
    val corpus =
      if (iterations > 0) Materialize.local(corpus0, eager = true) else corpus0
    var cents = centroidVectors(corpus, numCentroids)
    val dims = if (cents.isEmpty) 0 else cents.head._2.length
    for (_ <- 1 to iterations) {
      val assigned = corpus.withColumn("cell",
        array_max(cellScores(col("v"), cents)).getField("c"))
      // SPHERICAL recentering: average the UNIT members, not the raw
      // vectors — a single high-magnitude embedding must not drag the
      // cell mean toward itself (cosine geometry only sees direction).
      // Zero-norm vectors have no direction and sit out the recenter.
      val sums = assigned
        .where(col("nv") > 0)
        .select(col("cell"), posexplode(expr("transform(v, x -> x / nv)")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
        .collect()
      val byCell = sums.groupBy(_.getInt(0))
      cents = cents.map { case (i, old) =>
        byCell.get(i) match {
          case Some(rows) =>
            val m = new Array[Double](dims)
            rows.foreach { r =>
              m(r.getInt(1)) = BigDecimal(r.getDouble(2) / r.getLong(3))
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
            }
            val n = math.sqrt(m.map(x => x * x).sum)
            (i, m.map(x => if (n == 0) 0.0 else x / n))
          case None => (i, old)
        }
      }
    }
    if (iterations > 0) Materialize.release(corpus)
    cents
  }

  /** IVF ANN top-k under a k-means-trained quantizer: [[kmeansCentroids]]
    * refines the md5 init, then serving is [[ivfTopK]]'s probe/score path
    * unchanged. Same oracle-checkability as ns13 — the rounding contract
    * makes the trained centroids literals both engines agree on. */
  def kmeansIvfTopK(
      embeddings: DataFrame, queries: DataFrame, k: Int = 10,
      numCentroids: Int = 16, iterations: Int = 2,
      nProbe: Int = 4): DataFrame = {
    val centroids = kmeansCentroids(embeddings, numCentroids, iterations)
    ivfTopKWith(normalizedCorpus(embeddings), centroids, queries, k, nProbe)
  }

  private[ops] def normalizedCorpus(embeddings: DataFrame): DataFrame = {
    // every IVF/PQ serving path flows through here — defensive codegen-
    // expression registration (the pqEncode precedent) so a fresh session
    // cannot fail analysis on vec_dot/vec_norm
    graft.functions.VectorFunctions.register(embeddings.sparkSession)
    embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
      .withColumn("nv", norm(col("v")))
  }

  /** Deterministic centroid sample (smallest md5 key), normalized
    * driver-side. */
  private[ops] def centroidVectors(
      corpus: DataFrame, numCentroids: Int): Array[(Int, Array[Double])] =
    corpus
      .orderBy(
        conv(substring(md5(concat(lit("centroid:"),
          col("vec_id").cast("string")).cast("binary")), 1, 15), 16, 10)
          .cast("long"),
        col("vec_id"))
      .limit(numCentroids)
      .select(col("v")).collect()
      .map(_.getSeq[Double](0).toArray)
      .map { v =>
        val n = math.sqrt(v.map(x => x * x).sum)
        v.map(x => if (n == 0) 0.0 else x / n)
      }
      .zipWithIndex.map(_.swap)

  /** (cosine-to-centroid, centroid-id) structs; |v| omitted — constant per
    * row, irrelevant to the argmax; centroid id breaks score ties. */
  private[ops] def cellScores(
      vec: Column, centroids: Array[(Int, Array[Double])]): Column =
    array(centroids.toIndexedSeq.map { case (i, c) =>
      struct(dot(vec, array(c.toIndexedSeq.map(lit): _*)).as("s"),
        lit(i).as("c"))
    }: _*)

  /** Queries exploded to their nProbe nearest cells. */
  private def probeCells(
      queries: DataFrame, centroids: Array[(Int, Array[Double])],
      nProbe: Int): DataFrame =
    queries.select(col("query_id"),
      col("query_vec").cast("array<double>").as("qv"))
      .withColumn("nq", norm(col("qv")))
      .withColumn("probe", explode(slice(
        sort_array(cellScores(col("qv"), centroids), asc = false), 1, nProbe)))
      .select(col("query_id"), col("qv"), col("nq"),
        col("probe").getField("c").as("cell"))

  /** Join probes to their cells, exact-score, rank top-k. */
  private def scoreProbes(
      assigned: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = assigned.join(broadcast(probes), Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(guardedCosine(
          dot(col("qv"), col("v")), col("nq"), col("nv")), 6)
          .as("cosine"))
      .distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cosine"))
  }

  /** Persist the IVF index with cells as PARTITION directories plus the
    * centroid table beside them — the 100 TB serving shape: a probe then
    * reads only its cells' files (partition-pruned scan) instead of the
    * whole corpus. Centroids are tiny (C×dims doubles) and stored as text
    * so the index is self-contained. An optional source `fingerprint`
    * goes in the index meta ([[PersistedIndex]]), the same staleness
    * contract as every persisted index. */
  def writeIvfIndex(
      embeddings: DataFrame, path: String, numCentroids: Int = 16,
      fingerprint: Option[String] = None): Unit = {
    val corpus = normalizedCorpus(embeddings)
    val centroids = centroidVectors(corpus, numCentroids)
    val spark = embeddings.sparkSession
    PersistedIndex.build(spark, path, Kind.Ivf, fingerprint) { tmp =>
      corpus.withColumn("cell",
          array_max(cellScores(col("v"), centroids)).getField("c"))
        .write.mode("overwrite").partitionBy("cell").parquet(tmp.toString)
      PersistedIndex.writeVectors(spark, centroidsPath(tmp.toString),
        centroids)
      Seq("numCentroids" -> numCentroids)
    }
  }

  /** Append new vectors to a persisted [[writeIvfIndex]] index. The coarse
    * quantizer (centroid table) stays FROZEN — standard IVF practice: new
    * vectors are assigned to their nearest existing cell in one narrow
    * scan, so the index keeps serving across ingest with no retrain and
    * per-tick work proportional to the batch. Recall degrades only if the
    * data distribution drifts from the one the quantizer was sampled on —
    * the rebuild (writeIvfIndex) is the retrain. Single writer per index;
    * readers between ticks (same contract as
    * [[Dedup.updateMinhashIndex]]). */
  def updateIvfIndex(newEmbeddings: DataFrame, path: String): Unit = {
    val centroids = readCentroids(newEmbeddings.sparkSession, path, Kind.Ivf)
    normalizedCorpus(newEmbeddings)
      .withColumn("cell",
        array_max(cellScores(col("v"), centroids)).getField("c"))
      .write.mode("append").partitionBy("cell").parquet(path)
  }

  // the quantizer tables beside an index's data; each reader first checks
  // the index is of the kind its caller serves
  private def centroidsPath(path: String) =
    new org.apache.hadoop.fs.Path(path, "_centroids.txt")

  private def codebookPath(path: String) =
    new org.apache.hadoop.fs.Path(path, "_pq_codebook.txt")

  private def readCentroids(
      spark: org.apache.spark.sql.SparkSession, path: String,
      kind: Kind): Array[(Int, Array[Double])] = {
    PersistedIndex.read(spark, path, kind)
    PersistedIndex.readVectors(spark, centroidsPath(path))
  }

  private def readPqCodebook(
      spark: org.apache.spark.sql.SparkSession, path: String,
      kind: Kind): Array[Array[Double]] = {
    PersistedIndex.read(spark, path, kind)
    PersistedIndex.readVectors(spark, codebookPath(path))
      .sortBy(_._1).map(_._2)
  }

  /** ANN top-k against a persisted index: the probed cells are computed
    * up front (≤ C values — same driver-side footprint as the centroids)
    * and pushed into the scan as a partition filter, so only nProbe/C of
    * the index is read. Results are identical to [[ivfTopK]] over the
    * same corpus. */
  def ivfTopKFromIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, k: Int = 10, nProbe: Int = 4): DataFrame = {
    val centroids = readCentroids(spark, path, Kind.Ivf)
    val probes = probeCells(queries, centroids, nProbe)
    val wanted = probes.select("cell").distinct().collect().map(_.getInt(0))
    val assigned = Tables.parquet(spark, path)
      .where(col("cell").isin(wanted.toIndexedSeq: _*))
    scoreProbes(assigned, probes, k)
  }

  /** Product-quantization (PQ) ANN — the memory-compression scale path
    * beside [[lshTopK]] (pruning by bucket) and [[ivfTopK]] (pruning by
    * cell). PQ attacks a different 100 TB bottleneck: raw float vectors
    * are 64×4 bytes each, so a trillion-vector corpus cannot keep vectors
    * hot; PQ stores one small int PER SUBSPACE (here 8 ints vs 64 floats —
    * 16× less), and queries score CODES, never raw vectors. The
    * composition with IVF (FAISS's IVF-PQ) is the standard serving stack;
    * here PQ is kept orthogonal: [[pqTopK]] is the flat-scan variant whose
    * code table a 1000-executor cluster can hold in memory when the raw
    * corpus does not fit.
    *
    * Codebook "training" is the same deterministic device as the IVF
    * coarse quantizer: the `numCodes` corpus vectors with the smallest
    * md5("pq:" + vec_id) keys form the codebook (each contributes its
    * subvector to every subspace), so the whole pipeline — sample, encode,
    * asymmetric-distance scoring — is reproducible in any md5-capable
    * engine and therefore oracle-checkable. A k-means codebook would
    * quantize tighter; it would also make the result depend on iteration
    * order, which nothing downstream could verify.
    *
    * Encoding: per subspace `s`, a vector takes the code of the codebook
    * entry with the smallest squared L2 distance on dims [s·subDim,
    * (s+1)·subDim); ties break toward the smaller code via (dist, code)
    * struct-min. The argmin compares ‖e‖² − 2⟨v,e⟩ (the expansion of
    * ‖v−e‖² with the row-constant ‖v‖² dropped): ‖e‖² is a driver-side
    * literal and ⟨v,e⟩ is the codegen'd [[graft.functions.DotProduct]]
    * loop, so the encode is one compact codegen'd projection — a fully
    * unrolled (v−e)² form compiles to ~1000 expression terms and trips
    * janino's method-size limit into interpreted fallback. One scan, no
    * shuffle.
    *
    * Scoring (ADC — asymmetric distance computation): each query
    * precomputes a lookup table of its subvector dot products against all
    * codebook entries (m × numCodes doubles); a corpus vector's
    * approximate inner product is the sum of m table lookups on its codes.
    * The query+LUT side broadcasts; the code table is scanned ONCE, never
    * shuffled; the only exchange is the final per-query top-k window over
    * candidate rows. */
  def pqCodebook(
      embeddings: DataFrame, numCodes: Int = 16): Array[Array[Double]] =
    embeddings.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .orderBy(
        conv(substring(md5(concat(lit("pq:"),
          col("vec_id").cast("string")).cast("binary")), 1, 15), 16, 10)
          .cast("long"),
        col("vec_id"))
      .limit(numCodes)
      .select(col("v")).collect()
      .map(_.getSeq[Double](0).toArray)

  /** One code per subspace: argmin of ‖e‖² − 2⟨v_s, e⟩ over codebook
    * entries (≡ argmin ‖v_s − e‖²), ties to the smaller code. ONE
    * codegen'd expression ([[graft.functions.PqEncode]]) — the previous
    * m × numCodes literal-array tree (~1,300 nodes at the 8×16 default)
    * cost more in per-execution Catalyst optimization than the whole
    * query's compute at small SF, and its 128 slice+dot terms ran per
    * row at every SF. Fold orders, tie-breaks, and short-vector
    * semantics are bit-identical (documented on the expression). */
  private def pqCodes(
      v: Column, m: Int, subDim: Int, cb: Array[Array[Double]]): Column =
    graft.functions.VectorFunctions.pqEncode(v,
      typedlit[Seq[Seq[Double]]](cb.map(_.toSeq).toSeq), lit(m))

  /** Encode a corpus against a codebook: (vec_id, cs) with `cs` the
    * m-element code array — the compact representation a PQ index stores. */
  def pqEncode(
      embeddings: DataFrame, cb: Array[Array[Double]], m: Int = 8): DataFrame = {
    // the encode argmin uses vec_dot; register it so callers that never
    // touched Tables.load (which registers as a side effect) still resolve
    graft.functions.VectorFunctions.register(embeddings.sparkSession)
    val dims = cb.head.length
    require(dims % m == 0, s"dims $dims not divisible by m $m")
    embeddings.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), pqCodes(col("v"), m, dims / m, cb).as("cs"))
  }

  /** Flat-scan PQ top-k by approximate inner product (`adc_ip`). Output
    * ranks tie-break on vec_id; scores are rounded for display, ranked
    * unrounded. */
  def pqTopK(
      embeddings: DataFrame, queries: DataFrame, k: Int = 10,
      m: Int = 8, numCodes: Int = 16): DataFrame = {
    val cb = pqCodebook(embeddings, numCodes)
    pqScoreCodes(pqEncode(embeddings, cb, m), queries, cb, m, k)
  }

  /** ADC scoring of a code table against queries: broadcast per-query
    * LUTs (entry s·numCodes + c = ⟨query subspace s, codebook c⟩), score
    * = the m-term lookup sum, per-query top-k window. */
  private def pqScoreCodes(
      codes: DataFrame, queries: DataFrame, cb: Array[Array[Double]],
      m: Int, k: Int, pairFilter: Column = lit(true)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.VectorFunctions.register(queries.sparkSession)
    val dims = cb.head.length
    require(dims % m == 0, s"dims $dims not divisible by m $m")
    val subDim = dims / m
    val numCodes = cb.length
    // ONE codegen'd expression for the whole LUT (see [[pqCodes]])
    val lut = graft.functions.VectorFunctions.pqLut(col("qv"),
      typedlit[Seq[Seq[Double]]](cb.map(_.toSeq).toSeq), lit(m))
    val q = queries.select(col("query_id"),
        col("query_vec").cast("array<double>").as("qv"))
      .select(col("query_id"), lut.as("lut"))
    val score = (0 until m).map { s =>
      element_at(col("lut"),
        lit(s * numCodes) + element_at(col("cs"), s + 1) + 1)
    }.reduce(_ + _)
    val scored = codes.join(broadcast(q),
        col("vec_id") =!= col("query_id") && pairFilter)
      .select(col("query_id"), col("vec_id"), score.as("ip"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("ip").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"),
        round(col("ip"), 6).as("adc_ip"))
  }

  /** Persist a PQ index: the code table as parquet plus the codebook as a
    * text sidecar — the serving shape where the 16×-compressed codes are
    * what a cluster keeps hot while raw vectors stay cold. Same staleness
    * contract as every persisted index: an optional source `fingerprint`
    * goes in the index meta ([[PersistedIndex]]). */
  def writePqIndex(
      embeddings: DataFrame, path: String, m: Int = 8, numCodes: Int = 16,
      fingerprint: Option[String] = None): Unit = {
    val cb = pqCodebook(embeddings, numCodes)
    val spark = embeddings.sparkSession
    PersistedIndex.build(spark, path, Kind.Pq, fingerprint) { tmp =>
      pqEncode(embeddings, cb, m)
        .write.mode("overwrite").parquet(codesPath(tmp.toString).toString)
      PersistedIndex.writeVectors(spark, codebookPath(tmp.toString),
        cb.indices.map(i => i -> cb(i)))
      Seq("m" -> m, "numCodes" -> numCodes)
    }
  }

  /** Append new vectors to a persisted PQ index with the codebook FROZEN —
    * the same no-retrain contract as [[updateIvfIndex]]: new vectors take
    * codes under the existing quantizer in one narrow scan, so the index
    * serves across ingest; quantization error grows only with
    * distribution drift, and the rebuild (writePqIndex) is the retrain.
    * Single writer per index; readers between ticks. */
  def updatePqIndex(newEmbeddings: DataFrame, path: String): Unit = {
    val spark = newEmbeddings.sparkSession
    val cb = readPqCodebook(spark, path, Kind.Pq)
    // m is READ OFF the stored codes, never taken from the caller — an
    // append with a mismatched subspace count would silently corrupt the
    // table (same parameter-pinning contract as updateMinhashIndex)
    val m = storedM(Tables.parquet(spark, codesPath(path).toString),
      s"PQ index at $path")
    pqEncode(newEmbeddings, cb, m)
      .write.mode("append").parquet(codesPath(path).toString)
  }

  /** ADC top-k served from a persisted code table: identical scoring to
    * [[pqTopK]], but the corpus side is the stored codes — no raw-vector
    * read, no encode work at query time. `m` is read off the stored code
    * arrays. */
  def pqTopKFromIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, k: Int = 10): DataFrame = {
    val cb = readPqCodebook(spark, path, Kind.Pq)
    val codes = Tables.parquet(spark, codesPath(path).toString)
    pqScoreCodes(codes, queries, cb,
      storedM(codes, s"PQ index at $path"), k)
  }

  /** IVF-PQ: the composed serving stack — IVF's coarse quantizer prunes
    * WHICH rows to score (nProbe/C of the corpus, partition-pruned scan),
    * PQ's codes compress WHAT each row costs to score (m table lookups,
    * no raw vector). This is the standard shape for billion-vector
    * serving (FAISS's IndexIVFPQ); here it is pure composition of the two
    * audited pieces: cells from [[writeIvfIndex]]'s assignment, codes
    * from [[pqEncode]], scoring from the ADC path. Both quantizers are
    * md5-derived, so the whole composite remains engine-reproducible.
    *
    * Index layout: parquet partitioned by `cell`, rows (vec_id, cs);
    * centroid + codebook sidecars and the index meta. The raw
    * vectors appear nowhere in the index — at 64-float vectors the index
    * is ~16× smaller than an [[writeIvfIndex]] index over the same
    * corpus, which is the difference between codes-in-memory and
    * floats-on-disk at 10⁹ vectors. */
  def writeIvfPqIndex(
      embeddings: DataFrame, path: String, numCentroids: Int = 16,
      m: Int = 8, numCodes: Int = 16,
      fingerprint: Option[String] = None): Unit = {
    val spark = embeddings.sparkSession
    val corpus = normalizedCorpus(embeddings)
    val centroids = centroidVectors(corpus, numCentroids)
    val cb = pqCodebook(embeddings, numCodes)
    val dims = cb.head.length
    require(dims % m == 0, s"dims $dims not divisible by m $m")
    graft.functions.VectorFunctions.register(spark)
    PersistedIndex.build(spark, path, Kind.IvfPq, fingerprint) { tmp =>
      corpus
        .withColumn("cell",
          array_max(cellScores(col("v"), centroids)).getField("c"))
        .select(col("vec_id"),
          pqCodes(col("v"), m, dims / m, cb).as("cs"), col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(tmp.toString)
      PersistedIndex.writeVectors(spark, centroidsPath(tmp.toString),
        centroids)
      PersistedIndex.writeVectors(spark, codebookPath(tmp.toString),
        cb.indices.map(i => i -> cb(i)))
      Seq("numCentroids" -> numCentroids, "m" -> m, "numCodes" -> numCodes)
    }
  }

  /** Append new vectors to an IVF-PQ index with BOTH quantizers frozen —
    * the same no-retrain contract as [[updateIvfIndex]]/[[updatePqIndex]]:
    * cells come from the stored centroids, codes from the stored codebook
    * (m read off the stored code arrays, never the caller), one narrow
    * scan per tick. Single writer; rebuild = retrain. */
  def updateIvfPqIndex(newEmbeddings: DataFrame, path: String): Unit = {
    val spark = newEmbeddings.sparkSession
    val centroids = readCentroids(spark, path, Kind.IvfPq)
    val cb = readPqCodebook(spark, path, Kind.IvfPq)
    val m = storedM(Tables.parquet(spark, path), s"IVF-PQ index at $path")
    graft.functions.VectorFunctions.register(spark)
    normalizedCorpus(newEmbeddings)
      .withColumn("cell",
        array_max(cellScores(col("v"), centroids)).getField("c"))
      .select(col("vec_id"),
        pqCodes(col("v"), m, cb.head.length / m, cb).as("cs"), col("cell"))
      .write.mode("append").partitionBy("cell").parquet(path)
  }

  /** ANN top-k against an IVF-PQ index: probe cells reach the scan as a
    * partition filter (same pruning contract as [[ivfTopKFromIndex]]),
    * then only the probed cells' CODES are ADC-scored. Approximate on two
    * axes (cell pruning recalls, quantized scores); both are the same
    * md5 constants the oracle replays. */
  def ivfPqTopKFromIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, k: Int = 10, nProbe: Int = 4): DataFrame = {
    val centroids = readCentroids(spark, path, Kind.IvfPq)
    val cb = readPqCodebook(spark, path, Kind.IvfPq)
    val probes = probeCells(queries, centroids, nProbe)
      .select("query_id", "cell").distinct()
    val wanted = probes.select("cell").distinct().collect().map(_.getInt(0))
    val index = Tables.parquet(spark, path)
    val codes = index.where(col("cell").isin(wanted.toIndexedSeq: _*))
    // m comes off the UNFILTERED index: the probe filter legitimately
    // leaves zero rows for an empty query set, but a zero-row INDEX is
    // corrupt and must fail loudly, not serve "no neighbors"
    val m = storedM(index, s"IVF-PQ index at $path")
    // restrict the code table to each query's own probed cells, then ADC
    pqScoreCodes(
      codes.join(broadcast(probes), Seq("cell"))
        .select(col("vec_id"), col("cs"), col("query_id").as("probe_qid")),
      queries, cb, m, k,
      pairFilter = col("probe_qid") === col("query_id"))
  }

  /** IVF-PQ with exact re-ranking — the standard two-stage serving refinement
    * (FAISS's refine/`k_factor` pattern): ADC selects `rerankFactor · k`
    * candidates per query from the compressed codes, then ONLY those
    * candidates' raw vectors are fetched and re-scored with exact cosine.
    * Quantization error decides at most which of the R candidates make the
    * final k, never their scores — so rerank recall ≥ ADC recall at equal k
    * (spec-pinned), at the cost of one candidate-bounded read of the raw
    * corpus.
    *
    * 100 TB shape: stage 1 is [[ivfPqTopKFromIndex]] unchanged (partition-
    * pruned code scan); stage 2 joins the candidate list (queries × R rows,
    * broadcast) against the raw embeddings — one scan with a broadcast
    * semi-join shape, touching full vectors only for candidates. The raw
    * corpus never shuffles. */
  def ivfPqTopKReranked(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, embeddings: DataFrame, k: Int = 10,
      nProbe: Int = 4, rerankFactor: Int = 4): DataFrame = {
    require(rerankFactor >= 1, "rerankFactor must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val cand = ivfPqTopKFromIndex(spark, path, queries, k * rerankFactor, nProbe)
      .select(col("query_id"), col("vec_id"))
    val corpus = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
      .withColumn("nv", norm(col("v")))
    val q = queries.select(col("query_id"),
      col("query_vec").cast("array<double>").as("qv"))
      .withColumn("nq", norm(col("qv")))
    val exact = corpus.join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(guardedCosine(
          dot(col("qv"), col("v")), col("nq"), col("nv")), 6)
          .as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    exact.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cosine"))
  }

  /** Subspace count read off a stored code table — LOUD on an empty one:
    * zero code rows where an index should be means a partially-written or
    * wiped index, and quietly serving "no neighbors" off it would ship
    * wrong answers downstream (the same parameter-pinning contract the
    * append paths enforce). Callers with a legitimately-empty FILTERED
    * view (empty query set) read m off the unfiltered index instead. */
  private def storedM(codes: DataFrame, what: String): Int = {
    val first = codes.select(size(col("cs"))).head(1)
    require(first.nonEmpty, s"$what has no code rows — rebuild the index " +
      "(m cannot be read off an empty code table)")
    first.head.getInt(0)
  }

  private def codesPath(path: String) =
    new org.apache.hadoop.fs.Path(path, "codes")


  /** Per-label embedding outlier scoring — the centroid-distance filter of
    * semantic curation pipelines (flag the vectors farthest from their
    * class mode as label noise / off-topic members). For each label the
    * centroid is the per-dimension mean of the members' UNIT vectors
    * (spherical, as in [[kmeansCentroids]] — magnitude must not dominate),
    * ROUNDED to 6 decimals so both engines hand the same literal centroid
    * to the scoring pass; each member is then scored by cosine to its
    * label's centroid and the `k` LOWEST-cosine members per label are
    * returned as (label, rank, vec_id, cosine), rank 1 = farthest.
    *
    * Zero-norm vectors have no direction: they sit out both the centroid
    * mean and the scoring (mirrored by the oracle).
    *
    * 100 TB shape: centroids are ONE (label, dim)-keyed aggregation whose
    * shuffle carries tasks × |labels| × dims partial rows (map-side
    * combine), collected driver-side (label-cardinality bounded — the
    * same footprint class as the IVF centroid fetch); scoring is a
    * broadcast join of the tiny (label, centroid) frame against the
    * corpus — the corpus itself is never shuffled until the final per-label
    * bottom-k, which WindowGroupLimit caps per partition. */
  def outliers(
      embeddings: DataFrame, k: Int = 10,
      labelCol: String = "label"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = embeddings.sparkSession
    graft.functions.VectorFunctions.register(spark)
    val corpus = embeddings.select(col("vec_id"),
      col(labelCol).as("label"),
      col("embedding").cast("array<double>").as("v"))
      .withColumn("nv", norm(col("v")))
      .where(col("nv") > 0)
    val sums = corpus
      .select(col("label"), posexplode(expr("transform(v, x -> x / nv)")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
      .collect()
    // label handled GENERICALLY (the parameterized labelCol advertises
    // it): the centroid frame carries the input column's own dataType, so
    // a string or bigint label works identically to an int one
    val labelType = embeddings.schema(labelCol).dataType
    val cents: Array[(Any, Array[Double])] = sums.groupBy(_.get(0)).map {
      case (label, rows) =>
        val dims = rows.map(_.getInt(1)).max + 1
        val m = new Array[Double](dims)
        rows.foreach { r =>
          m(r.getInt(1)) = BigDecimal(r.getDouble(2) / r.getLong(3))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        }
        label -> m
    }.toArray.sortBy(_._1.toString)
    val centDf = spark.createDataFrame(
      spark.sparkContext.parallelize(cents.toIndexedSeq.map {
        case (l, c) => org.apache.spark.sql.Row(l, c.toSeq)
      }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("label", labelType),
        org.apache.spark.sql.types.StructField("cv",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)))))
    val scored = corpus.join(broadcast(centDf), Seq("label"))
      .select(col("label"), col("vec_id"),
        round(guardedCosine(
          dot(col("v"), col("cv")), col("nv"), norm(col("cv"))), 6)
          .as("cosine"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("cosine").asc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("label"), col("rank"), col("vec_id"), col("cosine"))
  }

  /** ANN top-k: score only the query's LSH bucket (plus Hamming-1 probe
    * buckets). Approximate vs [[bruteForceTopK]] (recall spec-tested), but
    * deterministic end-to-end — md5-derived hyperplanes make the bucketing
    * reproducible in any engine, so the pipeline itself is oracle-checked. */
  def lshTopK(
      embeddings: DataFrame, queries: DataFrame, k: Int = 10,
      numPlanes: Int = 8, probeHamming1: Boolean = true,
      dims: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.VectorFunctions.register(embeddings.sparkSession)
    // dims MUST match the embedding width: the hyperplanes are dims-wide
    // constants and the dot product folds over min(length) — wider
    // vectors would silently bucket on their first `dims` components
    val corpus = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"),
      lshBucket(col("embedding").cast("array<double>"), numPlanes, dims)
        .as("bucket"))
    val qBase = queries.select(col("query_id"),
      col("query_vec").cast("array<double>").as("qv"),
      lshBucket(col("query_vec").cast("array<double>"), numPlanes, dims)
        .as("qb"))
    // multi-probe: the query's bucket plus all Hamming-1 flips
    val probes =
      if (!probeHamming1) qBase.withColumn("bucket", col("qb"))
      else qBase.select(col("query_id"), col("qv"), explode(array(
        (col("qb") +: (0 until numPlanes).map(p =>
          col("qb").bitwiseXOR(lit(1L << p)))): _*)).as("bucket"))
    val scored = corpus.join(broadcast(probes), Seq("bucket"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qv"), col("v")), 6).as("cosine"))
      .distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cosine"))
  }

  /** S12 — late-interaction (ColBERT-style) maxsim retrieval: each
    * vector is treated as `blocks` contiguous sub-vectors ("token
    * embeddings"), and the query–document score is
    * Σ_{qb} max_{db} ⟨qb, db⟩ — every query token matches its best
    * document token, the retrieval family's third scoring geometry
    * beside whole-vector cosine ([[bruteForceTopK]]) and quantized ADC
    * ([[pqTopK]]). MaxSim rewards documents that cover ALL the query's
    * aspects; a single-vector cosine collapses them into one direction.
    *
    * The whole score is ONE codegen'd higher-order expression per
    * (query, doc) pair — `aggregate` over query blocks of
    * `array_max(transform(...))` over doc blocks, with the inner dot a
    * further fixed-order `aggregate` — so float accumulation order is
    * FIXED BY THE EXPRESSION TREE, not by row-arrival order (a
    * groupBy-sum formulation would be nondeterministic in the last
    * bit and could not hash-replay; the ns6 one-row-expression rule).
    * Rounded to 6 decimals at the end, the family convention.
    *
    * Scale shape: the ns6/ns30 BASELINE contract — broadcast QUERY set
    * (C rows) × one corpus scan, bounded nested-loop by construction;
    * the per-pair cost is blocks² fixed-size dots. The deployment path
    * at corpus scale composes the ivf-style cell probe first
    * ([[ivfTopK]]) and re-scores candidates with maxsim. */
  def maxSimTopK(
      embeddings: DataFrame, queries: DataFrame, k: Int = 10,
      blocks: Int = 8, dims: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(blocks >= 1 && dims % blocks == 0,
      s"dims $dims must divide into blocks $blocks")
    val bs = dims / blocks
    val corpus = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val q = queries.select(col("query_id"),
      col("query_vec").cast("array<double>").as("qv"))
    def blockDot(qb: Column, db: Column): Column =
      aggregate(sequence(lit(1), lit(bs)), lit(0.0), (acc, i) =>
        acc + element_at(col("qv"), (qb * bs + i).cast("int")) *
          element_at(col("v"), (db * bs + i).cast("int")))
    val maxsim = aggregate(sequence(lit(0), lit(blocks - 1)), lit(0.0),
      (acc, qb) => acc + array_max(
        transform(sequence(lit(0), lit(blocks - 1)), db => blockDot(qb, db))))
    val scored = corpus.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(maxsim, 6).as("maxsim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("maxsim").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("maxsim"))
  }
}
