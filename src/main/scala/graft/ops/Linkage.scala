package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Blocked fuzzy record linkage — entity resolution over structured
  * records (the metadata-dedup counterpart of the text/media dedup
  * families: author disambiguation, near-identical catalog rows, dirty
  * customer files merged from several sources).
  *
  * The intractable formulation is pairwise edit distance over the
  * corpus — n² at any scale. The standard fix is BLOCKING: each record
  * emits a handful of cheap keys, only same-key pairs are compared, and
  * multiple complementary keys recover the recall a single key loses.
  * Here: the name's prefix and suffix (plus exact group columns such as
  * a region key) — a single SUBSTITUTION typo falls in at most one of
  * the two windows, so substitution-dirty duplicates always share the
  * other key (the pigeonhole argument the simhash/dHash bands make over
  * bits, made over character windows). General insert/delete edits can
  * shift both windows; the operator's contract is therefore the BLOCKED
  * match — exactly what the oracle replays — with the recall trade
  * documented rather than silently absorbed.
  *
  * Scale shape: explode ×2 block keys (narrow), each one Long hashed
  * from (key-index, key, groups) with null flags ([[Blocking.hashedKey]]),
  * ONE shuffle keyed by it, same-block self-join ([[Blocking.pairs]]) —
  * candidate volume is block-collision volume, never corpus²;
  * `levenshtein` is a codegen'd Spark built-in evaluated only on
  * candidates. `maxBlockFreq` drops over-hot blocks (a "Smith" block in a
  * real name file) at a documented recall cost — [[Blocking.pairs]]'
  * `maxBandFreq` skew lever.
  */
object Linkage {

  /** All (rec_a < rec_b, dist) pairs that share a blocking key and have
    * `levenshtein(name_a, name_b) <= maxDist`, within identical
    * `groupCols` values (null-safe grouping: NULL group keys block
    * together, the kAnonymize policy). `prefixLen`-char prefix and
    * suffix of `nameCol` are the two keys. */
  def fuzzyDuplicates(
      recs: DataFrame,
      idCol: String = "rec_id",
      nameCol: String = "name",
      groupCols: Seq[String] = Seq.empty,
      maxDist: Int = 1,
      prefixLen: Int = 4,
      maxBlockFreq: Long = Long.MaxValue): DataFrame = {
    require(maxDist >= 0, "maxDist must be >= 0")
    require(prefixLen >= 1, "prefixLen must be >= 1")
    val groups = groupCols.map(col)
    val nm = col("nm")
    val keys = Seq(substring(nm, 1, prefixLen),
      nm.substr(greatest(length(nm) - (prefixLen - 1), lit(1)), lit(prefixLen)))
      .zipWithIndex.map { case (key, ki) =>
        Blocking.hashedKey(lit(ki) +: key +: groups: _*)
      }
    // the groups ride along and are compared null-safe in the join, so a
    // key collision across groups can never pair them
    val sameGroup = groupCols.map(c => col(s"a.$c") <=> col(s"b.$c"))
      .foldLeft(lit(true))(_ && _)
    val dist = levenshtein(col("a.nm"), col("b.nm")).cast("long")
    Blocking.pairs(
      Blocking.banded(
        recs.select(Seq(col(idCol).as("rec_id"), col(nameCol).as("nm")) ++ groups: _*),
        keys),
      None, "rec_id", ("rec_a", "rec_b"), on = sameGroup && dist <= maxDist,
      out = Seq(dist.as("dist")), maxBandFreq = maxBlockFreq)
  }

  /** Entity clusters from the pair stream — one row per linked record
    * with its cluster representative, via the shared pointer-jumping CC
    * ([[Dedup.resolveClusters]]): m-duplicate entities cost m rows, not
    * m² pairs, the production shape under heavy duplication (the ns81
    * ScaleProof lesson). */
  def linkClusters(pairs: DataFrame): DataFrame =
    Dedup.resolveClusters(pairs.select(
      col("rec_a").as("doc_a"), col("rec_b").as("doc_b")))

  /** SURVIVORSHIP — one golden record per resolved entity, the step
    * after linkage in every master-data pipeline: the linked cluster is
    * the entity, and ONE of its records must represent it downstream.
    * The rule here is the standard completeness-first policy: the record
    * with the most non-null `attrCols` wins, ties broken by smallest id
    * — a TOTAL order, so the golden choice is deterministic under any
    * partitioning (the suite's hash-replay discipline; a survivorship
    * rule without a tiebreak silently flips winners between runs).
    * Unlinked records are their own singleton entity.
    *
    * Scale shape: clusters come from the shared pointer-jumping CC
    * (label rows, never pairs²); the golden pick is ONE cluster-keyed
    * aggregation using `max_by` over a (completeness, −id) struct —
    * map-side partial argmax, the exchange carries one candidate per
    * cluster per partition (the ns95 bounded-aggregate shape with
    * k = 1). Output: (cluster, golden_id, n_members, completeness),
    * order unspecified. */
  def goldenRecords(
      recs: DataFrame,
      pairs: DataFrame,
      attrCols: Seq[String],
      idCol: String = "rec_id"): DataFrame = {
    require(attrCols.nonEmpty, "survivorship needs attribute columns")
    // the output claims the "cluster" name, so an input attribute by that
    // name would be silently replaced — fail fast instead
    require(!recs.columns.contains("cluster"),
      "recs must not carry a 'cluster' column — rename it before survivorship")
    val completeness = attrCols
      .map(c => when(col(c).isNotNull, lit(1L)).otherwise(lit(0L)))
      .reduce(_ + _)
    // rename the CC output's columns so they can never collide with a
    // record column (incl. idCol == "doc_id"); completeness is computed
    // BEFORE any derived column joins the frame
    val clusters = linkClusters(pairs)
      .withColumnRenamed("doc_id", "__cc_id")
      .withColumnRenamed("cluster", "__cc_cluster")
    recs
      .withColumn("__complete", completeness)
      .join(clusters, col(idCol) === col("__cc_id"), "left_outer")
      .withColumn("cluster", coalesce(col("__cc_cluster"), col(idCol)))
      .groupBy(col("cluster"))
      .agg(
        max_by(col(idCol), struct(col("__complete"), -col(idCol)))
          .as("golden_id"),
        count(lit(1)).as("n_members"),
        max(col("__complete")).as("completeness"))
  }
}
