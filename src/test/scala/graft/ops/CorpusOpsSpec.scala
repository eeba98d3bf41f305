package graft.ops

import org.apache.spark.sql.functions.{col, explode, lit, split, sum, monotonically_increasing_id}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
  GreaterThanOrEqual, Literal}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, Tables}

/** Specs for the round-4 corpus operators: semantic dedup, TF-IDF keyword
  * extraction, document chunking, intra-corpus span dedup, range join,
  * HLL distinct sketch, layout optimization. */
class CorpusOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  // ---- Dedup.semanticDedup -------------------------------------------------

  test("semanticDedup drops exactly the vectors with a closer lower-id cellmate") {
    // equivalence against a driver-side brute force ON THE OPERATOR'S OWN
    // CELLS: within each cell, a vector is a dup iff a lower-id cellmate
    // has rounded cosine >= threshold — verified independently of Spark
    val embs = Tables.load(spark, sf, "embeddings")
    val out = Dedup.semanticDedup(embs, numCentroids = 8, threshold = 0.4)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"),
        r.getAs[Boolean]("is_dup")))
    assert(out.length == embs.count())
    val vecs = embs.collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      BigDecimal(dot / (na * nb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val byCell = out.groupBy(_._2)
    var dups = 0
    byCell.values.foreach { members =>
      val ids = members.map(_._1).sorted
      members.foreach { case (id, _, isDup) =>
        val expected = ids.filter(_ < id)
          .exists(lo => cos(vecs(lo), vecs(id)) >= 0.4)
        assert(isDup == expected, s"vec $id")
        if (isDup) dups += 1
      }
    }
    assert(dups > 0, "threshold 0.4 should flag some dups at sf0.001")
  }

  test("semanticDedup keeps everything at an impossible threshold") {
    val embs = Tables.load(spark, sf, "embeddings")
    val out = Dedup.semanticDedup(embs, numCentroids = 8, threshold = 1.5)
    assert(out.where("is_dup").count() == 0)
  }

  test("semanticDedup pairs only within cells: equality join, nothing pairwise") {
    val embs = Tables.load(spark, sf, "embeddings")
    val df = Dedup.semanticDedup(embs)
    assert(!df.queryExecution.logical.toString.contains("ResolvedHint"))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
  }

  // ---- TextAnalysis.tfidfKeywords ------------------------------------------

  test("tfidfKeywords scores exact integer tf * floor-log2 idf and ranks ties by term") {
    val in = Seq(
      (1L, "alpha beta alpha beta"), // bigrams: 2x "alpha beta", 1x "beta alpha"
      (2L, "alpha beta gamma"),
      (3L, "delta epsilon"),
      (4L, "zeta")                   // single word: no bigrams
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfKeywords(in, topK = 5).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rank")) ->
        ((r.getAs[String]("term"), r.getAs[Long]("tfidf")))).toMap
    // N=4. df("alpha beta")=2 -> idf=floor(log2(4/2))=1;
    // df("beta alpha")=df("beta gamma")=df("delta epsilon")=1 -> idf=2
    // doc 1: "alpha beta" tf=2 -> 2; "beta alpha" tf=1 -> 2; tie -> term asc
    assert(out((1L, 1)) == (("alpha beta", 2L)))
    assert(out((1L, 2)) == (("beta alpha", 2L)))
    assert(out((2L, 1)) == (("beta gamma", 2L)))
    assert(out((2L, 2)) == (("alpha beta", 1L)))
    assert(out((3L, 1)) == (("delta epsilon", 2L)))
    assert(!out.keys.exists(_._1 == 4L), "no bigrams -> absent")
  }

  test("tfidfKeywords gives idf 0 (never ranks) to terms in more than half the corpus") {
    val in = Seq(
      (1L, "common pair rare one"),
      (2L, "common pair rare two"),
      (3L, "common pair other text"),
      (4L, "common pair other words")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfKeywords(in, topK = 5).collect()
    // "common pair" is in 4/4 docs: N//df = 1 -> idf 0 -> filtered out
    assert(!out.exists(_.getAs[String]("term") == "common pair"))
    assert(out.nonEmpty)
  }

  test("tfidfKeywords joins tf to df on the term key with no broadcast hint") {
    val docs = Tables.load(spark, sf, "documents")
    val df = TextAnalysis.tfidfKeywords(docs)
    // the 1-row corpus count IS hinted; the vocabulary join must not be
    val hints = "ResolvedHint".r
      .findAllIn(df.queryExecution.logical.toString).size
    assert(hints == 1, s"expected only the 1-row count hint, got $hints")
    val p = df.queryExecution.executedPlan.toString
    // exactly one nested-loop join: the broadcast 1-ROW count attach; the
    // vocabulary (tf x df) join must stay an equality hash/merge join
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj == 1, s"expected only the 1-row count BNLJ, got $bnlj:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  // ---- TextAnalysis.chunkDocuments ----------------------------------------

  test("chunkDocuments windows with overlap and clips the last chunk") {
    val in = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 words
      (2L, "a b c"),                                  // shorter than a chunk
      (3L, "p q r s")                                 // exactly one chunk
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocuments(in, chunkTokens = 4, overlap = 1)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id")) ->
        ((r.getAs[Long]("n_tokens"), r.getAs[String]("chunk_text")))).toMap
    // stride 3: starts 0, 3, 6 cover words 1..10
    assert(out((1L, 0L)) == ((4L, "w1 w2 w3 w4")))
    assert(out((1L, 1L)) == ((4L, "w4 w5 w6 w7")))
    assert(out((1L, 2L)) == ((4L, "w7 w8 w9 w10")))
    assert(out((2L, 0L)) == ((3L, "a b c")))
    assert(out((3L, 0L)) == ((4L, "p q r s")))
    assert(out.size == 5)
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkDocuments(in, chunkTokens = 4, overlap = 4)
    }
  }

  test("chunkDocuments covers every token and overlaps adjacent chunks exactly") {
    val docs = Tables.load(spark, sf, "documents")
    val chunks = TextAnalysis.chunkDocuments(docs, chunkTokens = 64, overlap = 16)
      .collect()
    val words = docs.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").split(" ", -1).length).toMap
    chunks.groupBy(_.getAs[Long]("doc_id")).foreach { case (id, g) =>
      val inOrder = g.sortBy(_.getAs[Long]("chunk_id"))
      // chunk i starts at i*stride; last chunk must reach the end
      val n = words(id)
      val last = inOrder.last
      assert(last.getAs[Long]("chunk_id") * 48 + last.getAs[Long]("n_tokens") == n,
        s"doc $id truncated")
      // every chunk but the last is full-size
      inOrder.init.foreach(c => assert(c.getAs[Long]("n_tokens") == 64L))
      // no chunk is redundant: each adds at least one new token
      inOrder.foreach(c =>
        assert(c.getAs[Long]("chunk_id") * 48 < n, s"doc $id empty tail chunk"))
    }
  }

  test("chunkDocuments is shuffle-free before its presentation sort") {
    val docs = Tables.load(spark, sf, "documents")
    val p = TextAnalysis.chunkDocuments(docs)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"), p.take(1200))
  }

  // ---- Dedup.dedupSpans -----------------------------------------------------

  test("dedupSpans keeps the first occurrence and redacts later docs") {
    val in = Seq(
      (1L, "the quick brown fox jumps high"),
      (2L, "lazy dog saw the quick brown fox sleeping"),
      (3L, "entirely original text with no shared phrases"),
      (4L, "a b c d a b c d") // repeated WITHIN one doc only: untouched
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSpans(in, shingleK = 4).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("text"), r.getAs[Long]("n_spans")))).toMap
    // doc 1 is the keeper of "the quick brown fox": unchanged
    assert(out(1L) == (("the quick brown fox jumps high", 0L)))
    // doc 2 loses words [3,7): "the quick brown fox"
    assert(out(2L) == (("lazy dog saw sleeping", 1L)))
    assert(out(3L) == (("entirely original text with no shared phrases", 0L)))
    assert(out(4L) == (("a b c d a b c d", 0L)))
  }

  test("dedupSpans redacts every later doc of a 3-way chain, keeper intact") {
    val shared = "one two three four"
    val in = Seq(
      (10L, s"head $shared tail"),
      (20L, s"$shared middle words here"),
      (30L, s"start extra $shared")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSpans(in, shingleK = 4).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("text"), r.getAs[Long]("n_spans")))).toMap
    assert(out(10L) == ((s"head $shared tail", 0L)))
    assert(out(20L) == (("middle words here", 1L)))
    assert(out(30L) == (("start extra", 1L)))
  }

  test("dedupSpans emits one row per input doc and assumes no broadcast") {
    val docs = Tables.load(spark, sf, "documents")
    val df = Dedup.dedupSpans(docs)
    assert(!df.queryExecution.logical.toString.contains("ResolvedHint"))
    assert(df.count() == docs.count())
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
  }

  // ---- Sampling.mixCorpus ---------------------------------------------------

  test("mixCorpus hits the target mixture, keeps the binding stratum whole") {
    val docs = Tables.load(spark, sf, "documents")
    val weights = Map("en" -> 4.0, "de" -> 2.0, "fr" -> 2.0,
      "es" -> 1.0, "zh" -> 1.0)
    val mixed = Sampling.mixCorpus(docs, "lang", weights)
    val full = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = mixed.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the binding stratum (smallest n/w) survives entirely
    val binding = weights.keys.minBy(s => full(s) / weights(s))
    assert(got(binding) == full(binding))
    // every stratum lands near its target share w_s * B / n_s (md5-bucket
    // variance at ~100-doc strata is real; 35% tolerance catches an
    // inverted or unnormalized mixture without flaking)
    val budget = weights.map { case (s, w) => full(s) / w }.min
    weights.foreach { case (s, w) =>
      val want = math.min(full(s).toDouble, w * budget)
      assert(math.abs(got(s) - want) / want < 0.35, s"$s: ${got(s)} vs $want")
    }
    // deterministic
    assert(Sampling.mixCorpus(docs, "lang", weights).count() == mixed.count())
  }

  test("mixCorpus drops unlisted strata and rejects unsatisfiable mixtures") {
    val docs = Tables.load(spark, sf, "documents")
    val mixed = Sampling.mixCorpus(docs, "lang", Map("en" -> 1.0, "de" -> 1.0))
    assert(mixed.select("lang").distinct().collect()
      .map(_.getString(0)).toSet == Set("en", "de"))
    intercept[IllegalArgumentException] {
      Sampling.mixCorpus(docs, "lang", Map("en" -> 1.0, "tlh" -> 1.0))
    }
    intercept[IllegalArgumentException] {
      Sampling.mixCorpus(docs, "lang", Map("en" -> -1.0))
    }
    // the sampling pass itself is a zero-shuffle filter (the one count
    // aggregation to size rates runs eagerly inside mixCorpus)
    val p = mixed.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"), p.take(1200))
  }

  // ---- Sampling.splitCorpus / sampleExact -----------------------------------

  test("splitCorpus labels every row exactly once, near the fractions, deterministically") {
    val docs = Tables.load(spark, sf, "documents")
    val split = Sampling.splitCorpus(docs,
      Map("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05))
    assert(split.count() == docs.count())
    assert(split.where(col("split").isNull).count() == 0)
    val byLabel = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLabel.keySet == Set("train", "valid", "test"))
    val n = docs.count().toDouble
    assert(byLabel("train") / n > 0.8 && byLabel("train") / n < 0.97)
    // same fractions, same buckets, every run — and disjoint by
    // construction (one CASE per row)
    val again = Sampling.splitCorpus(docs,
      Map("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05))
      .where(col("split") === "test").select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    val first = split.where(col("split") === "test").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(first == again)
    // 1/3 splits don't quantize onto 10000 buckets -> fail fast
    intercept[IllegalArgumentException] {
      Sampling.splitCorpus(docs,
        Map("a" -> (1.0 / 3), "b" -> (1.0 / 3), "c" -> (1.0 / 3)))
    }
    // zero shuffle
    val p = split.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(1200))
  }

  test("splitCorpus accepts every exact 4-decimal fraction set (round, not truncate)") {
    val docs = Tables.load(spark, sf, "documents").limit(50)
    // fractions whose doubles sit one ulp low trip toInt truncation;
    // math.round must accept all of them
    Seq(
      Map("train" -> 0.9903, "valid" -> 0.0094, "test" -> 0.0003),
      Map("a" -> 0.57, "b" -> 0.29, "c" -> 0.14),
      Map("x" -> 0.0001, "y" -> 0.9999)
    ).foreach { fr =>
      val out = Sampling.splitCorpus(docs, fr)
      assert(out.count() == 50, fr.toString)
      assert(out.where(col("split").isNull).count() == 0)
    }
    // a split that quantizes to ZERO buckets would be silently empty
    intercept[IllegalArgumentException] {
      Sampling.splitCorpus(docs, Map("train" -> 0.99999, "valid" -> 0.00001))
    }
    // a pre-existing split column must not be clobbered
    intercept[IllegalArgumentException] {
      Sampling.splitCorpus(
        docs.withColumn("split", col("lang")),
        Map("a" -> 0.5, "b" -> 0.5))
    }
  }

  test("sampleExact returns exactly min(k, stratum size) rows, stable across runs") {
    val docs = Tables.load(spark, sf, "documents")
    val sampled = Sampling.sampleExact(docs, "lang", k = 10)
    val counts = sampled.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    full.foreach { case (lang, n) =>
      assert(counts(lang) == math.min(10L, n), s"$lang")
    }
    // k larger than a stratum: the whole stratum, no padding
    val tiny = Sampling.sampleExact(docs.limit(3), "lang", k = 100)
    assert(tiny.count() == 3)
    // deterministic
    assert(Sampling.sampleExact(docs, "lang", k = 10)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      sampled.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
    // the per-partition sort is capped before the window
    val p = sampled.queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), p.take(1500))
  }

  // ---- Dedup.sourceOverlap --------------------------------------------------

  test("sourceOverlap counts shared distinct grams per source pair") {
    val in = Seq(
      (1L, "s1", "the quick brown fox"),
      (2L, "s1", "another page of text"),
      (3L, "s2", "the quick brown fox appears here"),
      (4L, "s3", "totally unrelated content entirely")
    ).toDF("doc_id", "source", "text")
    val out = Dedup.sourceOverlap(in, shingleK = 3, groupCol = "source")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("shared_grams"), r.getAs[Double]("overlap_frac"))))
      .toMap
    // s1 and s2 share "the quick brown" and "quick brown fox" (2 grams);
    // s1 has 4 distinct grams (2+2), s2 has 4, s3 has 2
    assert(out((s"s1", s"s2")) == ((2L, 0.5)))
    assert(!out.contains(("s1", "s3")))
    assert(!out.contains(("s2", "s3")))
  }

  test("sourceOverlap joins on gram equality only — nothing pairwise by rows") {
    val docs = Tables.load(spark, sf, "documents")
    val df = Dedup.sourceOverlap(docs)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
    // every pair appears at most once
    val pairs = df.select("src_a", "src_b").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(pairs.length == pairs.distinct.length)
  }

  // ---- TextAnalysis.histogram -----------------------------------------------

  test("temperatureSample: √n sizes, smallest stratum whole, exact integer test") {
    // strata 400/100/4 -> s = 20/10/2, s_min = 2 -> rates 1/10, 1/5, 1
    val rows = (0L until 400L).map(i => (i, "a")) ++
      (400L until 500L).map(i => (i, "b")) ++
      (500L until 504L).map(i => (i, "c")) :+ (504L, null: String)
    val df = rows.toDF("doc_id", "lang")
    val out = Sampling.temperatureSample(df, "lang", seed = 7L).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)))
    // the admission set equals an independent Scala replay of the formula
    def u32(id: Long) = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"tmix:7:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8), 16)
    val s = Map(Some("a") -> 20L, Some("b") -> 10L, Some("c") -> 2L,
      (None: Option[String]) -> 1L) // isqrt(1) = 1 for the null stratum
    val sMin = 1L
    val want = rows.map { case (id, l) => id -> Option(l) }
      .filter { case (id, l) => u32(id) * s(l) < 4294967296L * sMin }
    assert(out.toSeq.sortBy(_._1) == want.sortBy(_._1))
    // the smallest stratum (the NULL singleton, s = s_min) keeps everything
    assert(out.exists(_._2.isEmpty))
    // deterministic across runs; seed moves the sample
    assert(Sampling.temperatureSample(df, "lang", seed = 7L).collect()
      .map(_.getLong(0)).toSeq == out.map(_._1).toSeq)
    assert(Sampling.temperatureSample(df, "lang", seed = 8L).collect()
      .map(_.getLong(0)).toSeq != out.map(_._1).toSeq)
    // kept sizes track √n: stratum a (400 docs, rate 1/10) lands near 40
    val keptA = out.count(_._2.contains("a"))
    assert(keptA > 20 && keptA < 60, s"a kept $keptA, expected ~40")
  }

  test("epochOrder: contiguous total rank, partitioning-invariant, no single-partition exchange") {
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("n_chars"))
    val keys = Seq(org.apache.spark.sql.functions.expr("n_chars DIV 256"),
      col("doc_id"))
    def ranks(parts: Int) = Layout.epochOrder(docs, keys, parts)
      .collect().map(r => r.getAs[Long]("pos") -> r.getAs[Long]("doc_id"))
    val base = ranks(32).sortBy(_._1)
    val n = docs.count()
    // pos is exactly 1..N, and matches a driver-side sort of the same keys
    assert(base.map(_._1).toSeq == (1L to n).toSeq)
    val want = docs.collect()
      .map(r => (r.getLong(1) / 256, r.getLong(0)))
      .sortBy(identity).map(_._2).toSeq
    assert(base.map(_._2).toSeq == want)
    // the rank is a pure function of the data, not of the partitioning
    // (range boundaries are sampled; output must not depend on the split)
    assert(ranks(1).sortBy(_._1).toSeq == base.toSeq)
    assert(ranks(7).sortBy(_._1).toSeq == base.toSeq)
    // the plan never funnels the corpus through one task: windows are
    // pid-partitioned, so no SinglePartition exchange anywhere
    val plan = Layout.epochOrder(docs, keys, 32)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("histogram buckets exactly, clamps both tails, excludes nulls") {
    val in = Seq(
      (1L, "a", java.lang.Long.valueOf(-10L)),  // clamped into bucket 0
      (2L, "a", java.lang.Long.valueOf(0L)),
      (3L, "a", java.lang.Long.valueOf(49L)),   // bucket 0
      (4L, "a", java.lang.Long.valueOf(50L)),   // bucket 1
      (5L, "a", java.lang.Long.valueOf(10000L)), // clamped into bucket 2
      (6L, "a", null.asInstanceOf[java.lang.Long]) // excluded, not bucket 2
    ).toDF("doc_id", "lang", "n_chars")
    val out = TextAnalysis.histogram(in, bucketWidth = 50, maxBuckets = 3)
      .collect()
      .map(r => r.getAs[Long]("bucket") ->
        ((r.getAs[Long]("lo"), r.getAs[Long]("hi"), r.getAs[Long]("n"))))
      .toMap
    assert(out(0L) == ((0L, 50L, 3L)))
    assert(out(1L) == ((50L, 100L, 1L)))
    assert(out(2L) == ((100L, 150L, 1L)))
    assert(out.size == 3)
    // counts cover every non-null row exactly once; arity bounded by
    // maxBuckets regardless of outliers in either direction
    assert(out.values.map(_._3).sum == 5L)
  }

  // ---- Layout.optimize / read ----------------------------------------------

  test("optimized layout preserves rows and prunes partitions at planning time") {
    val docs = Tables.load(spark, sf, "documents")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_layout_spec_" +
      java.util.UUID.randomUUID().toString.take(8)
    try {
      Layout.optimize(docs, path, Seq("lang"), Seq("n_chars"))
      val back = Layout.read(spark, path)
      // lossless rewrite (column order may differ; partition col is last)
      assert(back.count() == docs.count())
      assert(back.columns.sorted.toSeq == docs.columns.sorted.toSeq)
      // lang dirs exist
      val dirs = new java.io.File(path).listFiles()
        .filter(_.isDirectory).map(_.getName).sorted
      assert(dirs.exists(_.startsWith("lang=en")), dirs.mkString(","))
      // the lang predicate prunes DIRECTORIES (PartitionFilters), and the
      // n_chars range reaches the parquet reader (PushedFilters) where
      // row-group min/max stats can skip — the two pruning layers at rest
      import org.apache.spark.sql.functions.col
      val q = back.where(col("lang") === "en" && col("n_chars") >= 150)
      val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
      assert(scan.contains("PartitionFilters") && scan.contains("lang"),
        scan.take(800))
      assert(scan.contains("GreaterThanOrEqual(n_chars,150)"), scan.take(800))
      // pruning never changes answers
      assert(q.count() ==
        docs.where(col("lang") === "en" && col("n_chars") >= 150).count())
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    }
  }

  test("layout compaction folds appended stragglers, incrementally and atomically") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, sf, "documents")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_compact_spec_" +
      java.util.UUID.randomUUID().toString.take(8)
    try {
      Layout.optimize(docs.where(col("doc_id") < 400), path,
        Seq("lang"), Seq("n_chars"), numFiles = 2)
      def filesIn(sub: String) = Option(new java.io.File(s"$path/$sub")
        .listFiles()).getOrElse(Array.empty)
        .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(_.getName).sorted.toSeq
      // no stragglers -> no-op, nothing rewritten
      val noop = Layout.compact(spark, path)
      assert(noop.dirtyPartitions == 0 && noop.filesBefore == noop.filesAfter)

      // two appends of 'en'-only rows: only lang=en becomes dirty
      val extra = docs.where(col("doc_id") >= 400 && col("lang") === "en")
      Layout.append(extra, path)
      Layout.append(extra
        .withColumn("doc_id", col("doc_id") + 10000), path)
      val expected = Layout.read(spark, path).orderBy("doc_id")
        .collect().map(_.toSeq).toSeq
      val cleanBefore = filesIn("lang=de")
      val enBefore = filesIn("lang=en")

      val rep = Layout.compact(spark, path, filesPerPartition = 2)
      assert(rep.dirtyPartitions == 1, rep) // only lang=en
      assert(rep.filesAfter < rep.filesBefore, rep)
      // reads are value-identical after compaction
      val back = Layout.read(spark, path).orderBy("doc_id")
        .collect().map(_.toSeq).toSeq
      assert(back == expected)
      // clean partitions untouched byte-for-byte (same file names);
      // the dirty one is rebuilt with a bounded file count
      assert(filesIn("lang=de") == cleanBefore)
      assert(filesIn("lang=en") != enBefore)
      assert(filesIn("lang=en").length <= 2)
      // pruning pins still hold after the rewrite
      val q = Layout.read(spark, path)
        .where(col("lang") === "en" && col("n_chars") >= 150)
      val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
      assert(scan.contains("PartitionFilters") && scan.contains("lang"),
        scan.take(800))
      assert(scan.contains("GreaterThanOrEqual(n_chars,150)"), scan.take(800))
      // a second compact is a no-op: the manifest was re-stamped
      val again = Layout.compact(spark, path, filesPerPartition = 2)
      assert(again.dirtyPartitions == 0)
      // appends must carry the layout's full column set
      intercept[IllegalArgumentException] {
        Layout.append(extra.drop("n_chars"), path)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    }
  }

  test("layout compaction skips stray root files and never folds them into the manifest") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, sf, "documents")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_stray_spec_" +
      java.util.UUID.randomUUID().toString.take(8)
    try {
      Layout.optimize(docs.where(col("doc_id") < 400), path,
        Seq("lang"), Seq("n_chars"), numFiles = 2)
      // plant a data file directly at the layout root — not append-written,
      // has no partition directory to rebuild
      val enDir = new java.io.File(path).listFiles()
        .filter(d => d.isDirectory && d.getName.startsWith("lang=en")).head
      val src = enDir.listFiles().filter(_.getName.endsWith(".parquet")).head
      val stray = new java.io.File(path, "stray.parquet")
      java.nio.file.Files.copy(src.toPath, stray.toPath)
      def manifest() = scala.io.Source.fromFile(
        new java.io.File(path, "_layout_manifest.txt")).mkString

      // a genuine straggler in lang=en plus the root stray: only lang=en is
      // rebuilt; the stray is skipped, not folded
      Layout.append(docs.where(col("doc_id") >= 400 && col("lang") === "en"),
        path)
      val rep = Layout.compact(spark, path, filesPerPartition = 2)
      assert(rep.dirtyPartitions == 1, rep)
      assert(!manifest().contains("stray.parquet"), manifest())
      // the derivation rule (old-manifest ∪ rebuilt dirs, never a full
      // re-listing) keeps the stray unmanifested: a later compact still
      // sees it as unmanaged rather than silently blessing it
      val again = Layout.compact(spark, path, filesPerPartition = 2)
      assert(again.dirtyPartitions == 0, again)
      assert(!manifest().contains("stray.parquet"), manifest())
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    }
  }

  test("zorder clusters BOTH dimensions; lexicographic clustering only the first") {
    import org.apache.spark.sql.functions.{input_file_name, max => fmax, min => fmin}
    val docs = Tables.load(spark, sf, "documents")
    val zPath = s"${System.getProperty("java.io.tmpdir")}/graft_zorder_spec_" +
      java.util.UUID.randomUUID().toString.take(8)
    val lexPath = zPath + "_lex"
    try {
      Layout.zorder(docs, zPath, Seq("n_chars", "doc_id"), numFiles = 8)
      Layout.optimize(docs, lexPath, Seq.empty, Seq("n_chars", "doc_id"),
        numFiles = 8)
      // lossless rewrite
      val back = Layout.read(spark, zPath)
      assert(back.count() == docs.count())
      assert(back.columns.sorted.toSeq == docs.columns.sorted.toSeq)
      // both range predicates reach the parquet reader
      val q = back.where(col("n_chars") >= 150 && col("doc_id") >= 100)
      val leaf = q.queryExecution.executedPlan.collectLeaves().head
      val scan = leaf.toString
      assert(scan.contains("GreaterThanOrEqual(n_chars,150)"), scan.take(800))
      // the PushedFilters list renders truncated, and so does DataFilters
      // once expression ids grow: read the scan's data filters themselves
      val dataFilters = leaf match {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.dataFilters
        case other => fail(s"not a file scan: $other")
      }
      assert(dataFilters.exists {
        case GreaterThanOrEqual(a: AttributeReference, Literal(v: Number, _)) =>
          a.name == "doc_id" && v.longValue == 100L
        case _ => false
      }, dataFilters)
      // mean per-file span fraction of each dimension: z-order bounds BOTH;
      // lexicographic clustering leaves the trailing column near-global
      def spanFrac(path: String, c: String): Double = {
        val global = docs.agg(fmin(col(c)), fmax(col(c))).head()
        val span = (global.getLong(1) - global.getLong(0)).toDouble
        val perFile = Layout.read(spark, path)
          .groupBy(input_file_name()).agg(fmin(col(c)), fmax(col(c)))
          .collect().map(r => (r.getLong(2) - r.getLong(1)) / span)
        perFile.sum / perFile.length
      }
      val zChars = spanFrac(zPath, "n_chars")
      val zIds = spanFrac(zPath, "doc_id")
      val lexIds = spanFrac(lexPath, "doc_id")
      assert(zChars < 0.6, s"z-order n_chars span $zChars")
      assert(zIds < 0.6, s"z-order doc_id span $zIds")
      assert(lexIds > 0.8,
        s"lexicographic trailing-column span $lexIds should be near-global")
      intercept[IllegalArgumentException] {
        Layout.zorder(docs, zPath, Seq("n_chars")) // one column -> optimize
      }
      intercept[IllegalArgumentException] {
        Layout.zorder(docs.withColumn("_z", col("doc_id")), zPath,
          Seq("n_chars", "doc_id"))
      }
      // degenerate inputs fail with the cause, not an NPE (empty frame /
      // non-numeric column have no quantization range)
      val eEmpty = intercept[IllegalArgumentException] {
        Layout.zorder(docs.where(lit(false)), zPath + "_e",
          Seq("n_chars", "doc_id"))
      }
      assert(eEmpty.getMessage.contains("no numeric range"))
      val eStr = intercept[IllegalArgumentException] {
        Layout.zorder(docs, zPath + "_s", Seq("lang", "doc_id"))
      }
      assert(eStr.getMessage.contains("no numeric range"))
      // the append/compact lifecycle is z-aware: appended stragglers fold
      // back via a Z-ORDER rewrite (never a lexicographic re-cluster),
      // and reads stay value-identical
      Layout.append(docs.withColumn("doc_id", col("doc_id") + 10000), zPath)
      val expected = Layout.read(spark, zPath).orderBy("doc_id")
        .collect().map(_.toSeq).toSeq
      val rep = Layout.compact(spark, zPath, filesPerPartition = 8)
      assert(rep.dirtyPartitions == 1 && rep.filesAfter <= 8, rep)
      assert(Layout.read(spark, zPath).orderBy("doc_id")
        .collect().map(_.toSeq).toSeq == expected)
      // post-compact files are z-clustered again on BOTH dims (the
      // doubled doc_id domain still bounds per-file spans)
      assert(spanFrac(zPath, "n_chars") < 0.6)
      assert(Layout.compact(spark, zPath, filesPerPartition = 8)
        .dirtyPartitions == 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(zPath))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(lexPath))
    }
  }

  // ---- Joins.rangeJoin ------------------------------------------------------

  test("rangeJoin matches the plain theta join, half-open bounds, multi-bucket spans") {
    val points = Seq(
      (1L, 101L, 0L), (1L, 102L, 10L), (1L, 103L, 99L), (1L, 104L, 100L),
      (2L, 201L, 50L),
      (3L, 301L, -7L) // negative domain: floor-division bucketing must hold
    ).toDF("user_id", "point_id", "ts")
    val intervals = Seq(
      (1L, 11L, 0L, 100L),   // spans many buckets of size 8
      (1L, 12L, 10L, 11L),   // single-point window
      (2L, 21L, 60L, 60L),   // degenerate: end == start, matches nothing
      (3L, 31L, -10L, -5L)   // negative interval
    ).toDF("user_id", "interval_id", "start_ts", "end_ts")
    val out = Joins.rangeJoin(points, intervals, "ts", "start_ts", "end_ts",
        keys = Seq("user_id"), bucket = 8L)
      .select("interval_id", "point_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = points.as("p").join(intervals.as("i"),
        col("p.user_id") === col("i.user_id") &&
          col("p.ts") >= col("i.start_ts") && col("p.ts") < col("i.end_ts"))
      .select("interval_id", "point_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == expected)
    // spot the semantics: ts=100 excluded (half-open), ts=0 included,
    // the degenerate interval absent, the negative pair present
    assert(out.contains((11L, 101L)) && out.contains((11L, 103L)))
    assert(!out.contains((11L, 104L)))
    assert(out.contains((12L, 102L)))
    assert(!out.exists(_._1 == 21L))
    assert(out.contains((31L, 301L)))
  }

  test("rangeJoin equals the theta join on randomized inputs (property sweep)") {
    // the bucket arithmetic (floor division, negative domains, spans vs
    // bucket sizes, degenerate intervals) is where an off-by-one would
    // hide; sweep random workloads against the reference θ-join
    (1 to 5).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val bucket = 1L + rnd.nextInt(20)
      val points = Seq.tabulate(60)(i =>
        (rnd.nextInt(4).toLong, i.toLong, rnd.nextInt(400) - 200L))
        .toDF("user_id", "point_id", "ts")
      val intervals = Seq.tabulate(25) { i =>
        val start = rnd.nextInt(400) - 200L
        (rnd.nextInt(4).toLong, (1000 + i).toLong, start,
          start + rnd.nextInt(60) - 5L) // sometimes degenerate/negative span
      }.toDF("user_id", "interval_id", "start_ts", "end_ts")
      val got = Joins.rangeJoin(points, intervals, "ts", "start_ts", "end_ts",
          keys = Seq("user_id"), bucket = bucket)
        .select("interval_id", "point_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = points.as("p").join(intervals.as("i"),
          col("p.user_id") === col("i.user_id") &&
            col("p.ts") >= col("i.start_ts") && col("p.ts") < col("i.end_ts"))
        .select("interval_id", "point_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want, s"seed $seed bucket $bucket")
    }
  }

  test("rangeJoin plans an equality join, never a nested loop, and validates inputs") {
    val ev = graft.ops.Events.tsMicros(Tables.load(spark, sf, "events"))
    val points = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts"))
    val intervals = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        (col("ts") - 1000000L).as("start_ts"), col("ts").as("end_ts"))
    val df = Joins.rangeJoin(points, intervals, "ts", "start_ts", "end_ts",
      keys = Seq("user_id"), bucket = 1000000L)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
    intercept[IllegalArgumentException] {
      Joins.rangeJoin(points, intervals, "ts", "start_ts", "end_ts",
        keys = Seq("user_id"), bucket = 0L)
    }
    intercept[IllegalArgumentException] {
      // "ts" exists on both sides -> ambiguous residual, rejected
      Joins.rangeJoin(points, intervals.withColumnRenamed("start_ts", "ts"),
        "ts", "ts", "end_ts", keys = Seq("user_id"), bucket = 10L)
    }
    intercept[IllegalArgumentException] {
      // a pre-existing _bucket column is reserved -> fail fast, not dropped
      Joins.rangeJoin(points.withColumn("_bucket", col("ts")), intervals,
        "ts", "start_ts", "end_ts", keys = Seq("user_id"), bucket = 10L)
    }
  }

  // ---- Sketches.hllDistinct -------------------------------------------------

  test("hllDistinct estimates within 15% of exact, skips nulls, is deterministic") {
    val docs = Tables.load(spark, sf, "documents")
    val exact = docs.groupBy("lang").agg(
        org.apache.spark.sql.functions.countDistinct("text").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = Sketches.hllDistinct(docs, "text", Seq("lang")).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("hll_estimate")).toMap
    exact.foreach { case (lang, n) =>
      val e = est(lang)
      assert(math.abs(e - n) / n < 0.15, s"$lang: est $e vs exact $n")
    }
    val again = Sketches.hllDistinct(docs, "text", Seq("lang")).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("hll_estimate")).toMap
    assert(est == again)
    // nulls are not a distinct value
    val withNulls = Seq(("a", "x"), ("a", "y"), ("a", null), ("a", "x"))
      .toDF("lang", "text")
    val e = Sketches.hllDistinct(withNulls, "text", Seq("lang"))
      .collect().head.getAs[Double]("hll_estimate")
    assert(math.abs(e - 2.0) < 0.5, s"estimate $e for 2 distinct")
    intercept[IllegalArgumentException] {
      Sketches.hllDistinct(docs, "text", Seq("lang"), b = 2)
    }
  }

  test("hllDistinct shuffles registers, never distinct values") {
    val docs = Tables.load(spark, sf, "documents")
    val df = Sketches.hllDistinct(docs, "text", Seq("lang"))
    val p = df.queryExecution.executedPlan.toString
    // both aggregations have partial (map-side) phases: the shuffled rows
    // are (group, bucket, max-rank) registers, bounded by 2^b per group
    // per task — the value column is consumed by md5 inside the scan stage
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 2, s"expected 2 register exchanges:\n${p.take(2000)}")
    assert(p.contains("partial_max(_hll_rank"),
      s"register max must combine map-side before the exchange:\n${p.take(2000)}")
  }

  // ---- Sketches.cms* / quantileBins ----------------------------------------

  test("CMS never undercounts, hits exact counts when wide, merges by sum") {
    val docs = Tables.load(spark, sf, "documents")
    val toks = docs.select(explode(split(col("text"), " ")).as("token"))
      .where(col("token") =!= "")
    val exact = toks.groupBy("token").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val cand = toks.distinct()
    // narrow sketch: estimates are upper bounds (collisions only ADD)
    val narrow = Sketches.cmsEstimate(
      Sketches.cmsBuild(toks, "token", width = 16), cand, "token", width = 16)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (t, n) =>
      assert(narrow(t) >= n, s"undercount for '$t': ${narrow(t)} < $n")
    }
    // wide sketch: all-4-rows collisions are gone, estimates are exact
    val wide = Sketches.cmsEstimate(
      Sketches.cmsBuild(toks, "token", width = 4096), cand, "token",
      width = 4096)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wide == exact)
    // a value the corpus never saw estimates 0 under the wide sketch
    val absent = Sketches.cmsEstimate(
      Sketches.cmsBuild(toks, "token", width = 4096),
      Seq("zz_never_seen").toDF("token"), "token", width = 4096)
      .collect()
    assert(absent.length == 1 && absent.head.getLong(1) == 0L)
    // mergeability: shard sketches summed == whole-corpus sketch
    val half1 = Sketches.cmsBuild(toks.limit(500), "token")
    // (limit twice would re-draw; split deterministically instead)
    val withId = toks.withColumn("i", monotonically_increasing_id())
    val s1 = Sketches.cmsBuild(withId.where(col("i") % 2 === 0), "token")
    val s2 = Sketches.cmsBuild(withId.where(col("i") % 2 === 1), "token")
    val merged = s1.unionByName(s2).groupBy("row", "bucket")
      .agg(sum("cnt").as("cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val whole = Sketches.cmsBuild(toks, "token")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == whole)
    assert(half1.columns.toSeq == Seq("row", "bucket", "cnt"))
  }

  test("persisted CMS sketch: append lifecycle equals one-shot build, params pinned, staleness gated") {
    val docs = Tables.load(spark, sf, "documents")
    val toks = docs.select(explode(split(col("text"), " ")).as("token"))
      .where(col("token") =!= "")
    val cand = toks.distinct()
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_cms_spec_" +
      java.util.UUID.randomUUID().toString.take(8)
    try {
      // build from 60%, append the rest: estimates must equal the
      // one-shot whole-corpus sketch (cells merge by sum)
      val t1 = docs.where(col("doc_id") % 5 <= 2)
      val t2 = docs.where(col("doc_id") % 5 > 2)
      def tk(d: org.apache.spark.sql.DataFrame) = d
        .select(explode(split(col("text"), " ")).as("token"))
        .where(col("token") =!= "")
      Sketches.writeCmsSketch(tk(t1), path, "token", depth = 4, width = 64,
        fingerprint = Some("v1"))
      Sketches.updateCmsSketch(tk(t2), path, "token")
      val served = Sketches.cmsEstimateFromSketch(spark, path, cand, "token")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val oneShot = Sketches.cmsEstimate(
        Sketches.cmsBuild(toks, "token", width = 64), cand, "token",
        width = 64)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(served == oneShot)
      // depth/width come OFF the meta — the serving path cannot be
      // called with mismatched parameters (width=64 was pinned at write)
      assert(Sketches.cmsStoredParams(spark, path) == ((4, 64)))
      // fingerprint staleness gate
      assert(PersistedIndex.matches(spark, path, PersistedIndex.Kind.Cms, "v1"))
      assert(!PersistedIndex.matches(spark, path, PersistedIndex.Kind.Cms, "v2"))
      // working copies serve independently of the base
      val work = path + "_w"
      PersistedIndex.copy(spark, path, work)
      try {
        val copied = Sketches
          .cmsEstimateFromSketch(spark, work, cand, "token")
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(copied == oneShot)
      } finally org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(work))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    }
  }

  test("curriculumBuckets: quartile labels off the bin walk, NULLs excluded") {
    import spark.implicits._
    // binWidth 1 makes the walk exact: boundaries at values 2, 4, 6
    val rows = (1L to 8L).map(v => ("g", Some(v))) :+ (("g", None))
    val out = Sketches.curriculumBuckets(
        rows.toDF("grp", "v"), "v", Seq("grp"),
        numBuckets = 4, binWidth = 1)
      .collect().map(r => r.getAs[Long]("v") -> r.getAs[Long]("bucket"))
      .toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L,
      5L -> 3L, 6L -> 3L, 7L -> 4L, 8L -> 4L)) // NULL row dropped
    // partitioning cannot move a boundary or a label
    val repart = Sketches.curriculumBuckets(
        rows.toDF("grp", "v").repartition(7, org.apache.spark.sql.functions.col("v")),
        "v", Seq("grp"), numBuckets = 4, binWidth = 1)
      .collect().map(r => r.getAs[Long]("v") -> r.getAs[Long]("bucket"))
      .toMap
    assert(repart == out)
  }

  test("quantileBins brackets the exact rank value within one bin width") {
    val docs = Tables.load(spark, sf, "documents")
    val qs = Seq(0.5, 0.9, 0.99)
    val approx = Sketches.quantileBins(docs, "n_chars", Seq("lang"), qs)
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    val byLang = docs.select("lang", "n_chars").collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    for ((lang, vals) <- byLang; q <- qs) {
      val exactQ = vals(math.ceil(q * vals.length).toInt - 1)
      val a = approx((lang, q))
      assert(a <= exactQ && exactQ < a + 16,
        s"$lang q=$q: approx $a does not bracket exact $exactQ")
    }
    // null values are excluded, matching lengthStats' contract
    import spark.implicits._
    val withNulls = Seq(("en", java.lang.Long.valueOf(10L)),
      ("en", java.lang.Long.valueOf(200L)), ("en", null))
      .toDF("lang", "n_chars")
    val r = Sketches.quantileBins(withNulls, "n_chars", Seq("lang"), Seq(1.0))
      .collect()
    assert(r.length == 1 && r.head.getLong(2) == (200L / 16) * 16)
    // signed values bin by FLOOR division: (-16,0) is its own bin, so the
    // lower-edge contract holds on negative domains too
    val signed = Seq(("g", -15L), ("g", -1L), ("g", 5L)).toDF("lang", "v")
    val sr = Sketches.quantileBins(signed, "v", Seq("lang"), Seq(0.5))
      .collect()
    assert(sr.head.getLong(2) == -16L, sr.mkString(","))
  }

  // ---- Joins.bloomSemiJoin --------------------------------------------------

  test("bloomSemiJoin is row-identical to the exact semi-join") {
    val l = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_linenumber")
    val o = Tables.load(spark, sf, "orders")
      .where(col("o_totalprice") > 150000)
      .select(col("o_orderkey").as("l_orderkey"))
    val bloom = Joins.bloomSemiJoin(l, o, "l_orderkey",
        forceBloom = Some(true))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val plain = l.join(o, Seq("l_orderkey"), "left_semi")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(bloom == plain && bloom.nonEmpty)
    // an empty dim side keeps nothing (no bits set -> every probe fails)
    assert(Joins.bloomSemiJoin(l, o.where(lit(false)), "l_orderkey",
      forceBloom = Some(true)).count() == 0)
    // the stats lever: a dim that fits the broadcast threshold skips the
    // Bloom machinery entirely — one exact join, no probe chain
    val auto = Joins.bloomSemiJoin(l, o, "l_orderkey")
    val joins = "Join LeftSemi".r
      .findAllIn(auto.queryExecution.optimizedPlan.toString).size
    assert(joins == 1, s"expected the plain join under the lever, got $joins")
    // a fact/dim key TYPE mismatch must not produce false negatives (the
    // probe hash normalizes through a string cast)
    val intFact = l.withColumn("l_orderkey", col("l_orderkey").cast("int"))
    val mixed = Joins.bloomSemiJoin(intFact, o, "l_orderkey",
        forceBloom = Some(true))
      .collect().map(r => (r.getInt(0).toLong, r.getInt(1))).toSet
    assert(mixed == plain)
    // the reserved working column fails fast, like _salt/_bucket
    intercept[IllegalArgumentException] {
      Joins.bloomSemiJoin(l.withColumn("_bloom_bit", lit(1L)), o,
        "l_orderkey")
    }
  }

  // ---- Versioning.snapshotDiff ----------------------------------------------

  test("snapshotDiff classifies added/removed/changed and distinguishes null from empty") {
    import spark.implicits._
    val old = Seq(
      (1L, "same", "en"), (2L, "edited", "en"),
      (3L, "gone", "de"), (5L, null.asInstanceOf[String], "en"))
      .toDF("doc_id", "text", "lang")
    val neu = Seq(
      (1L, "same", "en"), (2L, "edited v2", "en"),
      (4L, "fresh", "fr"), (5L, "", "en"))
      .toDF("doc_id", "text", "lang")
    val d = Versioning.snapshotDiff(old, neu, "doc_id", Seq("text", "lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // null text and empty text must NOT fingerprint alike (doc 5)
    assert(d == Map(2L -> "changed", 3L -> "removed", 4L -> "added",
      5L -> "changed"))
    val s = Versioning.diffSummary(old, neu, "doc_id", Seq("text", "lang"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s == Map("added" -> 1L, "removed" -> 1L, "changed" -> 2L,
      "unchanged" -> 1L))
    // the diff plan shuffles (key, fp) projections, never the wide columns
    val plan = Versioning.snapshotDiff(
      Tables.load(spark, sf, "documents"),
      Tables.load(spark, sf, "documents"), "doc_id",
      Seq("text", "lang", "source", "n_chars"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("text#") ||
      !"Exchange[^\\n]*text#".r.findFirstIn(plan).isDefined,
      "wide text column must not appear in an exchange")
  }

  test("bucketized tables join co-located: zero exchange on either side") {
    val run = java.util.UUID.randomUUID().toString.take(8)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_bspec_$run"
    val lineitem = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity")
    val orders = Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_orderpriority")
    val oldThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Layout.bucketize(lineitem, s"bspec_l_$run", s"$base/l",
        Seq("l_orderkey"), numBuckets = 8, sortCols = Seq("l_orderkey"))
      Layout.bucketize(orders, s"bspec_o_$run", s"$base/o",
        Seq("o_orderkey"), numBuckets = 8, sortCols = Seq("o_orderkey"))
      val joined = spark.table(s"bspec_l_$run")
        .join(spark.table(s"bspec_o_$run"),
          col("l_orderkey") === col("o_orderkey"))
      val p = joined.queryExecution.executedPlan.toString
      // both scans expose the bucket partitioning, so the sort-merge join
      // needs NO exchange — the write-once shuffle is fully amortized
      assert(p.contains("SortMergeJoin"), p.take(1500))
      assert(!p.contains("Exchange"), p.take(2000))
      // and bucketing is answer-invisible
      assert(joined.count() ==
        lineitem.join(orders,
          col("l_orderkey") === col("o_orderkey")).count())
      intercept[IllegalArgumentException] {
        Layout.bucketize(orders, "x", s"$base/x", Seq.empty, 8)
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThreshold)
      spark.sql(s"DROP TABLE IF EXISTS bspec_l_$run")
      spark.sql(s"DROP TABLE IF EXISTS bspec_o_$run")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }

  test("layout rewrite publishes atomically and validates arguments") {
    val docs = Tables.load(spark, sf, "documents")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_layout_spec_" +
      java.util.UUID.randomUUID().toString.take(8)
    try {
      intercept[IllegalArgumentException] {
        Layout.optimize(docs, path, Seq.empty, Seq.empty)
      }
      Layout.optimize(docs, path, Seq("lang"), Seq("n_chars"))
      val before = Layout.read(spark, path).count()
      // a second rewrite replaces, never appends, and leaves no temp dirs
      Layout.optimize(docs, path, Seq("lang"), Seq("n_chars"))
      assert(Layout.read(spark, path).count() == before)
      val parent = new java.io.File(path).getParentFile
      assert(!parent.listFiles().exists(
        _.getName.startsWith(s".${new java.io.File(path).getName}.tmp-")))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    }
  }
}
