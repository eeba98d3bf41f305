package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Blocking: the one owner of band keys and candidate pairs for the
  * near-duplicate family (minhash, simhash, sign-LSH, perceptual hashes,
  * record linkage).
  *
  * Every family finds its candidates the same way: each row emits one key
  * per band, rows that share a key are candidates, and the family's exact
  * test (hamming, cosine, jaccard, edit distance) decides. Here each
  * (row, band) key is ONE Long, `band_key`:
  *   - bit-chunk families ([[bitBandKeys]], [[signBandKeys]]) pack
  *     `band << 32 | chunk`, injective because no chunk is wider than 32
  *     bits, so two rows share a key iff they share that band's chunk;
  *   - families whose band value does not fit 64 bits ([[hashedKey]]:
  *     minhash rows, linkage blocks) hash their parts with `xxhash64`,
  *     with a per-part null flag so `(NULL, "x")` and `("x", NULL)` do not
  *     hash alike (`xxhash64` skips NULL arguments).
  *
  * Hashed keys can collide. A true 64-bit collision puts two rows into one
  * bucket that the parts would have kept apart: it can only ADD a
  * candidate, and that candidate is still judged by the family's exact
  * test, so an output changes only by a pair that passes it. With a set
  * `maxBandFreq` the merged bucket also counts as one — the cap counts
  * rows per key, so a collision can make a bucket hot that alone was not.
  *
  * [[pairs]] is the one candidate-pair join: one equality join on
  * `band_key` (a self-join keeps `a.id < b.id`; a cross join pairs a
  * batch with a corpus), the caller's exact test in the join condition,
  * distinct pairs out. Spark picks broadcast or shuffle by size. */
object Blocking {

  /** The key column [[banded]] adds and [[pairs]] joins on. */
  val Key = "band_key"

  /** The `bands` contiguous chunks of the low `bits` bits of `value`, band
    * p at index p, sizes the floor/ceil of bits/bands (63 bits in 4 bands
    * → 16+16+16+15). */
  private def bandChunks(value: Column, bits: Int, bands: Int): Seq[Column] = {
    require(bands >= 1 && bits >= bands, s"cannot split $bits bits into $bands bands")
    val base = bits / bands
    val rem = bits % bands
    val sizes = (0 until bands).map(p => base + (if (p < rem) 1 else 0))
    require(sizes.head <= 32, s"a band of ${sizes.head} bits does not fit beside its index")
    val offsets = sizes.scanLeft(0)(_ + _)
    (0 until bands).map { p =>
      shiftright(value, offsets(p)).bitwiseAND(lit((1L << sizes(p)) - 1))
    }
  }

  /** Band p's key of the low `bits` bits of `value`, `p << 32 | chunk_p`,
    * one Column per band. */
  def bitBandKeys(value: Column, bits: Int, bands: Int): Seq[Column] =
    bandChunks(value, bits, bands).zipWithIndex.map { case (chunk, p) =>
      chunk.bitwiseOR(lit(p.toLong << 32))
    }

  /** Sign-LSH band keys of a packed `numPlanes`-bit bucket, `bandBits`
    * bits per band — the one layout the batch near-dup join and any
    * stream that feeds it use. */
  def signBandKeys(bucket: Column, numPlanes: Int, bandBits: Int): Seq[Column] = {
    require(numPlanes % bandBits == 0, "numPlanes % bandBits != 0")
    bitBandKeys(bucket, numPlanes, numPlanes / bandBits)
  }

  /** One Long key over `parts`: `xxhash64` of every part's null flag, then
    * the parts. The flags fix which parts are present, so NULLs cannot
    * shift a value into another part's place. */
  def hashedKey(parts: Column*): Column =
    xxhash64(parts.map(_.isNull) ++ parts: _*)

  /** `rows` with one row per band key: every column plus [[Key]]. */
  def banded(rows: DataFrame, keys: Seq[Column]): DataFrame =
    rows.select(col("*"), explode(array(keys: _*)).as(Key))

  /** Distinct candidate pairs from [[banded]] rows: every pair of an `a`
    * row and a `b` row with equal keys that also passes `on`, a condition
    * over `a` and `b`.
    *
    * `corpus` = None is the self mode: `b` is `a` again and only pairs
    * with `a.id < b.id` are kept, once however many bands they share.
    * `corpus` = Some(c) is the cross mode: `a` is the batch, `b` is `c`.
    * Output: the ids as `names`, then `out`, columns over `a` and `b` that
    * the pair determines (a distance), so the pairs stay distinct.
    *
    * `maxBandFreq` is the skew lever of the self mode: keys held by more
    * than that many rows leave before the join, at a documented recall
    * cost (a near-constant corpus floods one bucket, whose self-join is
    * quadratic). Default ∞ keeps every candidate. */
  def pairs(
      a: DataFrame,
      corpus: Option[DataFrame],
      id: String,
      names: (String, String),
      on: Column = lit(true),
      out: Seq[Column] = Nil,
      maxBandFreq: Long = Long.MaxValue): DataFrame = {
    require(corpus.isEmpty || maxBandFreq == Long.MaxValue,
      "maxBandFreq caps the buckets of a self-join")
    val left =
      if (maxBandFreq == Long.MaxValue) a
      else {
        val hot = a.groupBy(col(Key)).count()
          .where(col("count") > maxBandFreq).select(col(Key))
        a.join(hot, Seq(Key), "left_anti")
      }
    val (right, order) = corpus match {
      case Some(c) => (c, lit(true))
      case None => (left, col(s"a.$id") < col(s"b.$id"))
    }
    left.as("a").join(right.as("b"),
        col(s"a.$Key") === col(s"b.$Key") && order && on)
      .select(Seq(col(s"a.$id").as(names._1), col(s"b.$id").as(names._2)) ++
        out: _*)
      .distinct()
  }
}
