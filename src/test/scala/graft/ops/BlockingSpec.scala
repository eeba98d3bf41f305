package graft.ops

import org.apache.spark.sql.functions.{col, lit, xxhash64}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** [[Blocking]]: candidate pairs come back once whatever number of bands
  * they share, the cross mode pairs batch with corpus, the hot-bucket cap
  * counts rows per key, and a hashed key keeps NULLs in their parts. */
class BlockingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ids(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("a pair that shares several bands comes back once, as a.id < b.id") {
    // 2 and 1 share all 4 bands of the same value; 3 shares one with them
    val rows = Seq((2L, 0x0123456789abcdL), (1L, 0x0123456789abcdL),
      (3L, 0x0123456789abcdL ^ (1L << 40))).toDF("id", "v")
    val keyed = Blocking.banded(rows, Blocking.bitBandKeys(col("v"), 63, 4))
    val out = Blocking.pairs(keyed, None, "id", ("a", "b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out.sorted == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("cross mode returns each (batch, corpus) pair once") {
    val batch = Seq((1L, 10L), (1L, 20L), (2L, 30L)).toDF("id", Blocking.Key)
    // corpus 1 shares two keys with batch 1, and no id order applies
    val corpus = Seq((1L, 10L), (1L, 20L), (5L, 10L), (6L, 99L))
      .toDF("id", Blocking.Key)
    val out = Blocking.pairs(batch, Some(corpus), "id", ("a", "b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out.sorted == Seq((1L, 1L), (1L, 5L)))
    intercept[IllegalArgumentException](
      Blocking.pairs(batch, Some(corpus), "id", ("a", "b"), maxBandFreq = 1))
  }

  test("maxBandFreq counts buckets by key: two groups fed one key drop as one") {
    // groups 0 and 1 hold 6 rows each; a collision gives them one key, so
    // the bucket holds 12 rows, over a cap of 10 that each group is under
    val collided = (0L until 12L).map(i => (i, i / 6, 7L))
    val control = Seq((100L, 9L, 8L), (101L, 9L, 8L))
    val keyed = (collided ++ control).toDF("id", "g", Blocking.Key)
    def pairs(cap: Long) = ids(Blocking.pairs(keyed, None, "id", ("a", "b"),
      on = col("a.g") === col("b.g"), maxBandFreq = cap))
    assert(pairs(Long.MaxValue).size == 2 * 15 + 1)
    assert(pairs(12L).size == 2 * 15 + 1)
    assert(pairs(10L) == Set((100L, 101L)))
  }

  test("a hashed key tells (NULL, x) from (x, NULL); plain xxhash64 does not") {
    val row = spark.range(1).select(
      Blocking.hashedKey(lit(null).cast("string"), lit("x")),
      Blocking.hashedKey(lit("x"), lit(null).cast("string")),
      xxhash64(lit(null).cast("string"), lit("x")),
      xxhash64(lit("x"), lit(null).cast("string"))).head()
    assert(row.getLong(0) != row.getLong(1))
    assert(row.getLong(2) == row.getLong(3))
  }
}
