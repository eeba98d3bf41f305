package graft.ops

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Specs for ns84 — blocked fuzzy record linkage: multi-key recall
  * (prefix-window typos recovered via the suffix key), the levenshtein
  * gate, null-safe grouping, the hot-block lever, and cluster output. */
class LinkageSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def recs(rows: (Long, String, Integer)*) =
    rows.toDF("rec_id", "name", "nation")

  test("prefix-window typo is recovered via the suffix key (pigeonhole)") {
    val df = recs(
      (1L, "abcdefghijkl", 7),
      (2L, "Xbcdefghijkl", 7), // substitution INSIDE the prefix window
      (3L, "abcdefghijkX", 7), // substitution inside the suffix window
      (4L, "zzzzzzzzzzzz", 7)) // unrelated
    val out = Linkage.fuzzyDuplicates(df, groupCols = Seq("nation"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // 1-2 share ONLY the suffix key; 1-3 share ONLY the prefix key; 2-3
    // differ in two positions -> dist 2 > maxDist, dropped even though
    // they share no window anyway
    assert(out == Set((1L, 2L, 1L), (1L, 3L, 1L)))
  }

  test("group columns gate matches; NULL groups block together") {
    val df = recs(
      (1L, "abcdefghijkl", 1),
      (2L, "abcdefghijkX", 2), // same name family, different nation
      (3L, "qrstuvwxyz12", null),
      (4L, "qrstuvwxyz1X", null)) // both NULL nations -> comparable
    val out = Linkage.fuzzyDuplicates(df, groupCols = Seq("nation"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((3L, 4L)))
    // without grouping, the cross-nation pair appears
    val ungrouped = Linkage.fuzzyDuplicates(df)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ungrouped == Set((1L, 2L), (3L, 4L)))
  }

  test("maxDist widens the match set; maxBlockFreq drops hot blocks") {
    val df = recs(
      (1L, "abcdefghijkl", 7),
      (2L, "abcdeXghijkX", 7)) // two substitutions, shares prefix key
    assert(Linkage.fuzzyDuplicates(df, groupCols = Seq("nation")).count() == 0)
    assert(Linkage.fuzzyDuplicates(df, groupCols = Seq("nation"),
      maxDist = 2).count() == 1)
    // a flooded block: 12 records sharing prefix+suffix; cap drops them,
    // an isolated pair in another nation survives
    val flood = (0L until 12L).map(i => (100L + i, "ffffffffffff", Integer.valueOf(9)))
    val keep = Seq((200L, "abcdefghijkl", Integer.valueOf(3)),
      (201L, "abcdefghijkX", Integer.valueOf(3)))
    val capped = Linkage.fuzzyDuplicates(
        (flood ++ keep).toDF("rec_id", "name", "nation"),
        groupCols = Seq("nation"), maxBlockFreq = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((200L, 201L)))
    // a flooded block whose GROUP KEY is NULL must be capped too — the
    // anti-join has to match null-safe, like the pair join does
    val nullFlood = (0L until 12L).map(i =>
      (300L + i, "gggggggggggg", null.asInstanceOf[Integer]))
    val cappedNull = Linkage.fuzzyDuplicates(
        (nullFlood ++ keep).toDF("rec_id", "name", "nation"),
        groupCols = Seq("nation"), maxBlockFreq = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cappedNull == Set((200L, 201L)))
  }

  test("groups (NULL, x) and (x, NULL) never pair or share a hot block") {
    val df = Seq[(Long, String, String, String)](
      (1L, "abcdefghijkl", null, "x"),
      (2L, "abcdefghijkl", "x", null), // same name, the NULL moved over
      (3L, "abcdefghijkX", null, "x")) // 1's group, shares its prefix block
      .toDF("rec_id", "name", "g1", "g2")
    // 1 and 3 hold the prefix block alone: 2 rows, under a cap of 2; had 2
    // hashed into it, the block would hold 3 rows and drop the 1-3 pair
    Seq(Long.MaxValue, 2L).foreach { cap =>
      val out = Linkage.fuzzyDuplicates(df, groupCols = Seq("g1", "g2"),
          maxBlockFreq = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(out == Set((1L, 3L)), s"maxBlockFreq=$cap")
    }
  }

  test("linkClusters resolves entities linearly (one row per linked rec)") {
    val df = recs(
      (1L, "abcdefghijkl", 7), (2L, "Xbcdefghijkl", 7),
      (3L, "abcdefghijkX", 7), // 1-2, 1-3 pair -> one 3-record entity
      (4L, "zzzzzzzzzzzz", 7))
    val pairs = Linkage.fuzzyDuplicates(df, groupCols = Seq("nation"))
    val clusters = Linkage.linkClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.keySet == Set(1L, 2L, 3L)) // 4 never linked
    assert(clusters.values.toSet.size == 1) // one entity
  }

  test("goldenRecords: completeness-first, id tiebreak, singletons survive") {
    import org.apache.spark.sql.functions.lit
    val df = Seq(
      // cluster {1,2,3}: 2 has both attrs (wins over 1's one and 3's none)
      (1L, "abcdefghijkl", 7, "p1", null.asInstanceOf[String]),
      (2L, "Xbcdefghijkl", 7, "p2", "e2"),
      (3L, "abcdefghijkX", 7, null.asInstanceOf[String],
        null.asInstanceOf[String]),
      // cluster {5,6}: equal completeness -> smaller id wins
      (5L, "mnopqrstuvwx", 7, "p5", "e5"),
      (6L, "mnopqrstuvwX", 7, "p6", "e6"),
      // singleton 9: its own golden record
      (9L, "zzzzzzzzzzzz", 7, null.asInstanceOf[String], "e9"))
      .toDF("rec_id", "name", "nation", "phone", "email")
    val pairs = Linkage.fuzzyDuplicates(df, groupCols = Seq("nation"))
    val out = Linkage.goldenRecords(df, pairs, Seq("phone", "email"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 2L, 3L, 2L), // golden = 2 (completeness 2 beats 1 and 0)
      (5L, 5L, 2L, 2L), // tie on completeness -> min id
      (9L, 9L, 1L, 1L))) // unlinked record is its own entity
    // the policy is partitioning-independent (total order)
    val rep = Linkage.goldenRecords(df.repartition(7), pairs, Seq("phone", "email"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rep.toSeq == out.map(t => (t._1, t._2)).toSeq)
    assertThrows[IllegalArgumentException](
      Linkage.goldenRecords(df, pairs, Seq.empty))
  }

  test("ns84 registered query: one dist-1 pair per entity, families only") {
    val out = graft.SparkEntry.queries("ns84_record_linkage")(
      spark, "/root/testdata/sf0.001").collect()
    val n = graft.Tables.load(spark, "/root/testdata/sf0.001", "customer")
      .count()
    assert(out.length == n) // exactly the v0-v1 typo pair per customer
    out.foreach { r =>
      val (a, b, d) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(a / 3 == b / 3, s"cross-entity pair ($a,$b)")
      assert(a % 3 == 0 && b % 3 == 1, "controls must never pair")
      assert(d == 1L)
    }
  }
}
