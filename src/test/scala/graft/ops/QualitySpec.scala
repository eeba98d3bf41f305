package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, TempDirs}

/** Model-based quality filters (Quality) and the HTML extractor
  * (TextAnalysis.htmlToText): semantics on crafted fixtures, and the
  * bit-stability-under-partitioning guarantee the exact-integer
  * quantization exists to provide. */
class QualitySpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def corpus(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  // --------------------------------------------------------------- Q1: LM

  test("lmPerplexity: rare-token documents score higher nll than common") {
    val docs = corpus(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the mat"),
      (3L, "zyx qwv jkp lmn zzq xxr")) // tokens the corpus sees once
    val out = Quality.lmPerplexity(docs).collect().sortBy(_.getLong(0))
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    val nll = out.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(nll(3L) > nll(1L) && nll(3L) > nll(2L))
  }

  test("lmPerplexity: bit-identical under any partitioning (exact ints)") {
    val docs = corpus((1L to 40L).map(i =>
      i -> s"w${i % 7} w${i % 3} common common w$i tail${i % 11}"): _*)
    val a = Quality.lmPerplexity(docs).collect().toSeq.sortBy(_.getLong(0))
    val b = Quality.lmPerplexity(docs.repartition(13)).collect().toSeq
      .sortBy(_.getLong(0))
    assert(a == b)
  }

  test("lmPerplexity: rejected flag compares the unrounded mean") {
    val docs = corpus((1L, "a a a a"), (2L, "unique tokens only here"))
    val out = Quality.lmPerplexity(docs, maxNll = 1.8)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    // doc 1: p(a) = (4+1)/(8+5) -> nll = ln(13/5) ~ 0.956 -> kept
    assert(!out(1L))
    // doc 2: each p = 2/13 -> nll = ln(6.5) ~ 1.87 > 1.8 -> rejected
    assert(out(2L))
  }

  // ------------------------------------------- Q3/Q4: persisted LM model

  test("lmScoreFromModel on the training corpus equals self-trained nll") {
    val docs = corpus((1L, "the cat sat"), (2L, "the dog sat"),
      (3L, "a bird flew high"))
    val dir = tempDir("graft-lm-model").toString + "/m"
    Quality.writeLmModel(docs, dir)
    val frozen = Quality.lmScoreFromModel(docs, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val self = Quality.lmPerplexity(docs)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(frozen == self)
    // every token was seen in training: zero OOV anywhere
    assert(Quality.lmScoreFromModel(docs, dir)
      .collect().forall(_.getDouble(3) == 0.0))
  }

  test("lmScoreFromModel floors unseen tokens and reports oov_frac") {
    val train = corpus((1L, "the cat sat"), (2L, "the dog sat"))
    val dir = tempDir("graft-lm-oov").toString + "/m"
    Quality.writeLmModel(train, dir, fingerprint = Some("fp1"))
    val r = Quality.lmScoreFromModel(
        corpus((9L, "zz qq ww"), (10L, "the cat sat")), dir)
      .collect().map(x => x.getLong(0) ->
        (x.getDouble(2), x.getDouble(3))).toMap
    // all-OOV doc: oov_frac 1.0, nll at the floor ln(N+V) = ln(6+4)
    assert(r(9L)._2 == 1.0)
    assert(math.abs(r(9L)._1 - math.log(10.0)) < 1e-5)
    // fully in-vocabulary doc: zero OOV, scored strictly below the floor
    assert(r(10L)._2 == 0.0 && r(10L)._1 < r(9L)._1)
    // build-once gate: matching fingerprint true, stale false
    assert(PersistedIndex.matches(spark, dir, PersistedIndex.Kind.Lm, "fp1"))
    assert(!PersistedIndex.matches(spark, dir, PersistedIndex.Kind.Lm, "fp2"))
    assert(!PersistedIndex.matches(spark, dir + "-nowhere",
      PersistedIndex.Kind.Lm, "fp1"))
  }

  // ------------------------------------------------------- Q2: classifier

  test("classifierScore: deterministic and partitioning-invariant") {
    val docs = corpus((1L to 30L).map(i =>
      i -> s"alpha beta w$i gamma${i % 5} delta"): _*)
    val a = Quality.classifierScore(docs).collect().toSeq
      .sortBy(_.getLong(0))
    val b = Quality.classifierScore(docs.repartition(11)).collect().toSeq
      .sortBy(_.getLong(0))
    assert(a == b)
    a.foreach { r =>
      assert(r.getLong(1) == 5) // n_tokens
      val score = r.getDouble(2)
      assert(score > 0.0 && score < 1.0)
      // kept at threshold 0.5 is exactly "integer weight sum >= 0"
      assert(r.getBoolean(3) == (score >= 0.5))
    }
  }

  test("classifierScore: identical texts get identical scores") {
    val docs = corpus((1L, "same text here"), (2L, "same text here"),
      (3L, "different words entirely present"))
    val out = Quality.classifierScore(docs).collect()
    assert(out(0).getDouble(2) == out(1).getDouble(2))
  }

  // ------------------------------------------- M7: model-based curation

  test("curateModel: language gate drops, dedup collapses to min doc_id") {
    val docs = corpus(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the mat"), // exact dup -> survivor is doc 1
      (3L, "der hund und die katze und der hund"), // de -> dropped
      (4L, "the dog ran in the park"))
    // model gates disabled: survivors are exactly the deduped en docs
    val out = Curation.curateModel(docs, minScore = 0.0, maxNll = 1e9)
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(out == Seq(1L, 4L))
  }

  test("curateModel: classifier and perplexity gates actually gate") {
    val docs = corpus(
      (1L, "the cat sat on the mat"), (2L, "the dog ran in the park"))
    assert(Curation.curateModel(docs, minScore = 1.0).count() == 0)
    assert(Curation.curateModel(docs, minScore = 0.0, maxNll = 0.01)
      .count() == 0)
  }

  test("curateModel: partitioning-invariant (exact-integer gates)") {
    val docs = corpus((1L to 40L).map(i =>
      i -> s"the a of w$i and to in that x${i % 7}"): _*)
    val a = Curation.curateModel(docs, minScore = 0.0, maxNll = 1e9)
      .collect().toSeq.sortBy(_.getLong(0))
    val b = Curation.curateModel(docs.repartition(9),
      minScore = 0.0, maxNll = 1e9).collect().toSeq.sortBy(_.getLong(0))
    assert(a.nonEmpty && a == b)
  }

  test("lmPerplexity on an empty corpus yields an empty result, not a crash") {
    val empty = corpus((1L, "x")).where(col("doc_id") < 0)
    assert(Quality.lmPerplexity(empty).count() == 0)
  }

  // ------------------------------------------------------- T10: htmlToText

  private def extract(html: String): String = {
    val df = Seq((1L, html)).toDF("doc_id", "text")
      .select(TextAnalysis.htmlToText(col("text")).as("t"))
    df.head().getString(0)
  }

  test("htmlToText drops script/style content, strips tags, keeps prose") {
    val html = "<html><head><style>p{x:1}</style>" +
      "<script>var a = 1 < 2 && 3 > 0;</script></head>" +
      "<body><p>Hello <b>world</b></p></body></html>"
    assert(extract(html) == "Hello world")
  }

  test("htmlToText decodes the five entities, amp last (no double-decode)") {
    assert(extract("<p>a &lt;b&gt; &quot;c&quot; &#39;d&#39; e &amp; f</p>")
      == "a <b> \"c\" 'd' e & f")
    // literal "&lt;" written as &amp;lt; must survive as &lt;
    assert(extract("<p>&amp;lt;</p>") == "&lt;")
  }

  test("htmlToText: entity-decoded angle brackets are NOT stripped as tags") {
    assert(extract("<p>&lt;tags&gt;</p>") == "<tags>")
  }

  test("htmlToText collapses whitespace and is stable on plain text") {
    assert(extract("plain  text\n\twith   gaps") == "plain text with gaps")
    assert(extract("already clean") == "already clean")
  }

  test("extractHtml reports raw and extracted lengths") {
    val docs = corpus((7L, "<body><nav>x</nav><p>content here</p></body>"))
    val r = TextAnalysis.extractHtml(docs).head()
    assert(r.getLong(0) == 7L)
    assert(r.getLong(1) == 44L) // n_raw: full page length
    assert(r.getString(3) == "x content here")
    assert(r.getLong(2) == "x content here".length.toLong)
  }
  // ---- Quality.winsorize -----------------------------------------------

  test("winsorize caps at the exact-rank percentile value, which exists in the group") {
    import spark.implicits._
    // group a: values 1..20 -> p95 rank = ceil(19*20/20) = 19 -> cut 19
    // group b: 3 rows -> rank ceil(57/20)=3 -> cut = max -> nothing capped
    val d = ((1L to 20L).map(i => (i, "a", i)) ++
      Seq((101L, "b", 5L), (102L, "b", 7L), (103L, "b", 9L)))
      .toDF("doc_id", "lang", "n_chars")
    val out = Quality.winsorize(d, "lang", "n_chars", "doc_id", 19, 20)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("capped"), r.getAs[Boolean]("was_capped")))).toMap
    assert(out(20L) == ((19L, true)))   // the only capped row in a
    assert(out(19L) == ((19L, false)))  // the cutoff row itself: untouched
    assert(out(1L) == ((1L, false)))
    assert(out(103L) == ((9L, false)))  // small group: cut = its max
  }

  test("winsorize: NULL group is a real stratum; tie-break key makes the cut deterministic") {
    import spark.implicits._
    val d = Seq((1L, null: String, 10L), (2L, null: String, 20L),
      (3L, null: String, 30L), (4L, "x", 1L), (5L, "x", 1L))
      .toDF("doc_id", "lang", "n_chars")
    val out = Quality.winsorize(d, "lang", "n_chars", "doc_id", 1, 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("capped")).toMap
    // NULL group median rank ceil(3/2)=2 -> cut 20; x group all-ties -> cut 1
    assert(out == Map(1L -> 10L, 2L -> 20L, 3L -> 20L, 4L -> 1L, 5L -> 1L))
  }
}
