package graft.ops

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, Tables}

/** Specs for the round-7 web-corpus operators: corpus-wide line-level
  * dedup (C4/RefinedWeb boilerplate removal), per-label embedding outlier
  * scoring, and canonical-URL dedup. */
class WebCorpusOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  // ---- Curation.c4LineFilter ----------------------------------------------

  test("c4LineFilter: each line rule and both page gates fire independently") {
    val in = Seq(
      // doc 1: 3 good sentences + nav + short + js boilerplate -> keep
      (1L, "Home | About\none two three four five.\nsix seven eight nine ten!\n" +
        "does it really work though?\nRead more.\nenable JavaScript to continue."),
      // doc 2: good lines but a brace -> page gate kills it
      (2L, "one two three four five.\nsix seven eight nine ten.\n" +
        "a b c d e f.\nfunction() { leak }"),
      // doc 3: good lines but lorem ipsum (case-insensitive) -> killed
      (3L, "one two three four five.\nsix seven eight nine ten.\n" +
        "we present Lorem Ipsum placeholder text here today."),
      // doc 4: only 2 surviving lines -> below minLines
      (4L, "one two three four five.\nsix seven eight nine ten?\nshort tail"),
      // doc 5: NULL text
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = graft.ops.Curation.c4LineFilter(in).orderBy("doc_id").collect()
    def r(i: Int) = (out(i).getAs[Long]("n_lines"), out(i).getAs[Long]("kept_lines"),
      out(i).getAs[String]("text_clean"), out(i).getAs[Boolean]("keep"))
    assert(r(0) == ((6L, 3L, "one two three four five.\n" +
      "six seven eight nine ten!\ndoes it really work though?", true)))
    assert(r(1)._2 == 3L && !r(1)._4)           // lines fine, '{' page gate
    assert(r(2)._2 == 3L && !r(2)._4)           // 'Lorem Ipsum' page gate
    assert(r(3) == ((3L, 2L, "one two three four five.\n" +
      "six seven eight nine ten?", false)))     // below minLines
    assert(r(4) == ((1L, 0L, "", false)))       // NULL text = empty page
  }

  test("c4LineFilter honors quote terminators and custom thresholds") {
    val in = Seq((1L, "he said \"stop right there now\"\ntiny little line.")).toDF("doc_id", "text")
    val out = graft.ops.Curation.c4LineFilter(in, minWordsPerLine = 3,
      minLines = 1).collect()
    assert(out.head.getAs[Long]("kept_lines") == 2L)
    assert(out.head.getAs[Boolean]("keep"))
    intercept[IllegalArgumentException] {
      graft.ops.Curation.c4LineFilter(in, minWordsPerLine = 0)
    }
  }

  test("c4LineFilter is a zero-shuffle codegen projection") {
    val p = graft.ops.Curation.c4LineFilter(
        Tables.load(spark, sf, "documents").select(col("doc_id"), col("text")))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"expected no shuffle:\n${p.take(1500)}")
  }

  // ---- Dedup.crossFoldLeakage ---------------------------------------------

  private def leakCorpus = {
    import spark.implicits._
    // four dissimilar base docs, each with an exact twin; one near-dup
    // pair (one word changed) with different byte content
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "red orange yellow green blue indigo violet black white gray"),
      (4L, "cat dog bird fish horse cow sheep goat pig duck"))
    val twins = base.map { case (id, t) => (id + 100L, t) }
    val near = Seq(
      (5L, "spark scala query plan join shuffle partition codegen stage task"),
      (6L, "spark scala query plan join shuffle partition codegen stage DIFFERENT"))
    (base ++ twins ++ near).toDF("doc_id", "text")
  }

  test("crossFoldLeakage: exact twins never cross; single fold means zero leak") {
    val one = graft.ops.Dedup.crossFoldLeakage(leakCorpus, folds = 1)
      .collect().head
    assert(one.getAs[Long]("n_pairs") == 5L)        // 4 twin + 1 near pair
    assert(one.getAs[Long]("n_exact_pairs") == 4L)
    assert(one.getAs[Long]("n_exact_cross") == 0L)
    assert(one.getAs[Long]("n_near_cross") == 0L)
    assert(one.getAs[Long]("leak_per_mille") == 0L)
  }

  test("crossFoldLeakage near-cross agrees with an independent fold recomputation") {
    val folds = graft.ops.Sampling.leakSafeFolds(leakCorpus, "text", 10)
      .select(col("doc_id"), col("fold")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expectedNearCross = if (folds(5L) != folds(6L)) 1L else 0L
    val out = graft.ops.Dedup.crossFoldLeakage(leakCorpus, folds = 10)
      .collect().head
    assert(out.getAs[Long]("n_exact_cross") == 0L)
    assert(out.getAs[Long]("n_near_cross") == expectedNearCross)
    assert(out.getAs[Long]("leak_per_mille") == expectedNearCross * 1000 / 5)
  }

  // ---- Urls.blocklistFilter -----------------------------------------------

  test("blocklistFilter: suffix semantics, longest-match attribution, no-host pass") {
    val pages = Seq(
      (1L, "https://ads.bad.example.com/x"),   // subdomain of a listed domain
      (2L, "https://good.org/y"),              // clean
      (3L, null.asInstanceOf[String]),         // no url -> not blockable
      (4L, "relative/path"),                   // schemeless -> no host
      (5L, "https://WWW.Bad.Example.com:443/z") // normalizes to a listed host
    ).toDF("doc_id", "url")
    val bl = Seq("bad.example.com", "example.com").toDF("domain")
    val out = graft.ops.Urls.blocklistFilter(pages, bl)
      .orderBy("doc_id").collect()
    def r(i: Int) = (out(i).getAs[String]("host"),
      out(i).getAs[String]("blocked_domain"), out(i).getAs[Boolean]("blocked"))
    // matches BOTH entries; must attribute the most specific one
    assert(r(0) == (("ads.bad.example.com", "bad.example.com", true)))
    assert(r(1) == (("good.org", null, false)))
    assert(r(2) == ((null, null, false)))
    assert(r(3) == ((null, null, false)))
    assert(r(4) == (("bad.example.com", "bad.example.com", true)))
  }

  test("blocklistFilter requires a domain column and never plans a cartesian") {
    val pages = Seq((1L, "https://a.example.com/x")).toDF("doc_id", "url")
    intercept[IllegalArgumentException] {
      graft.ops.Urls.blocklistFilter(pages, Seq("x").toDF("notdomain"))
    }
    val p = graft.ops.Urls.blocklistFilter(pages,
        Seq("example.com").toDF("domain"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  // ---- Dedup.lineDedup ----------------------------------------------------

  private def lineFixture = Seq(
    (1L, "x\ny\nz"), // x shared with 2 and 3
    (2L, "x\nw"),
    (3L, "x"), // every line boilerplate -> empty survivor
    (4L, "q\nq\nr") // q repeated WITHIN one doc only -> survives
  ).toDF("doc_id", "text")

  test("lineDedup drops df>1 lines everywhere, keeps order, keeps all docs") {
    val out = Dedup.lineDedup(lineFixture).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
    assert(out(1L) == (("y\nz", 2L, 1L)))
    assert(out(2L) == (("w", 1L, 1L)))
    // all-boilerplate doc stays in the output with empty text
    assert(out(3L) == (("", 0L, 1L)))
    // within-doc repetition is NOT document-frequency: q has df=1
    assert(out(4L) == (("q\nq\nr", 3L, 0L)))
  }

  test("lineDedup maxDocFreq=2 keeps lines shared by exactly two docs") {
    val out = Dedup.lineDedup(lineFixture, maxDocFreq = 2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // x has df=3 > 2: still dropped
    assert(out(1L) == "y\nz")
    val two = Seq((1L, "a\nb"), (2L, "a\nc")).toDF("doc_id", "text")
    val kept = Dedup.lineDedup(two, maxDocFreq = 2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // a has df=2 <= 2: kept in both docs
    assert(kept(1L) == "a\nb" && kept(2L) == "a\nc")
  }

  test("lineDedup plan has no cartesian product") {
    val plan = Dedup.lineDedup(lineFixture)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  // ---- Urls.canonicalize / dedupByUrl -------------------------------------

  private def canon(url: String): String =
    Seq(Tuple1(url)).toDF("u")
      .select(Urls.canonicalize(col("u")).as("c"))
      .collect().head.getString(0)

  test("canonicalize: case, www, default ports, slashes, fragment") {
    assert(canon("https://WWW.Site.Example.org:443//a//b/#frag")
      == "https://site.example.org/a/b")
    assert(canon("HTTP://site.example.org:80/") == "http://site.example.org")
    // non-default port is load-bearing and survives
    assert(canon("https://site.example.org:8443/x")
      == "https://site.example.org:8443/x")
    // http does NOT strip :443 (only its own default)
    assert(canon("http://site.example.org:443/x")
      == "http://site.example.org:443/x")
  }

  test("canonicalize: tracking params dropped, survivors sorted") {
    assert(canon("https://s.example.org/p?b=2&utm_source=x&a=1&fbclid=z")
      == "https://s.example.org/p?a=1&b=2")
    // all params tracking -> no '?' at all
    assert(canon("https://s.example.org/p?utm_campaign=c&gclid=g")
      == "https://s.example.org/p")
    // bare tracking key without '=' is still dropped; empties dropped
    assert(canon("https://s.example.org/p?ref&&a=1")
      == "https://s.example.org/p?a=1")
  }

  test("canonicalize: non-absolute input passes through untouched") {
    assert(canon("not a url") == "not a url")
    assert(canon("/relative/path?a=1") == "/relative/path?a=1")
  }

  test("dedupByUrl keeps the min-key survivor with the duplicate count") {
    val pages = Seq(
      (10L, "https://www.s.example.org/a?b=2&a=1"),
      (11L, "https://s.example.org/a/?a=1&b=2&utm_source=x"),
      (12L, "https://s.example.org/other")
    ).toDF("doc_id", "url")
    val out = Urls.dedupByUrl(pages).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSet == Set(
      (10L, "https://s.example.org/a?a=1&b=2", 2L),
      (12L, "https://s.example.org/other", 1L)))
  }

  // ---- seeded fuzz: the properties, batched into single jobs --------------

  test("canonicalize is idempotent over 300 randomized URLs") {
    val rng = new scala.util.Random(4242)
    def part(alphabet: String, n: Int) =
      (0 until n).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString
    val urls = (0 until 300).map { _ =>
      val scheme = Seq("http", "HTTP", "https", "HtTpS")(rng.nextInt(4))
      val www = Seq("", "www.", "WWW.")(rng.nextInt(3))
      val host = part("abcXYZ", 1 + rng.nextInt(5)) + ".example.org"
      val port = Seq("", ":80", ":443", ":8080")(rng.nextInt(4))
      val path = (0 until rng.nextInt(4))
        .map(_ => "/" * (1 + rng.nextInt(2)) + part("abc09", 1 + rng.nextInt(4)))
        .mkString + Seq("", "/")(rng.nextInt(2))
      val params = (0 until rng.nextInt(4)).map(_ =>
        Seq("a=1", "b=2", "utm_source=x", "gclid=z", "ref", "")(rng.nextInt(6)))
      val query = if (params.isEmpty) "" else "?" + params.mkString("&")
      val frag = Seq("", "#f", "#a/b?c")(rng.nextInt(3))
      s"$scheme://$www$host$port$path$query$frag"
    }
    val once = urls.toDF("u")
      .select(Urls.canonicalize(col("u")).as("c1"))
      .select(col("c1"), Urls.canonicalize(col("c1")).as("c2"))
      .collect()
    once.foreach(r => assert(r.getString(0) == r.getString(1),
      s"not idempotent: ${r.getString(0)} -> ${r.getString(1)}"))
  }

  test("lineDedup equals the driver-side brute force on random corpora") {
    val rng = new scala.util.Random(1337)
    (1 to 3).foreach { round =>
      val docs = (1L to 25L).map { id =>
        val lines = (0 until 1 + rng.nextInt(6))
          .map(_ => s"line ${rng.nextInt(8)}") // small space forces overlap
        id -> lines.mkString("\n")
      }
      val maxDf = 1 + rng.nextInt(2)
      // brute force: document frequency per distinct line
      val df = docs.flatMap { case (id, t) => t.split("\n", -1).distinct
        .map(_ -> id) }.groupBy(_._1).map { case (l, xs) => l -> xs.size }
      val expected = docs.map { case (id, t) =>
        val all = t.split("\n", -1)
        val kept = all.filter(l => df(l) <= maxDf)
        (id, kept.mkString("\n"), kept.length.toLong,
          (all.length - kept.length).toLong)
      }.toSet
      val out = Dedup.lineDedup(docs.toDF("doc_id", "text"), maxDf).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(out == expected, s"round $round (maxDocFreq=$maxDf)")
    }
  }

  test("tokenDrift negates exactly under snapshot swap") {
    val a = Seq((1L, "x x y z"), (2L, "w y")).toDF("doc_id", "text")
    val b = Seq((3L, "x w w q")).toDF("doc_id", "text")
    def drifts(d1: org.apache.spark.sql.DataFrame,
        d2: org.apache.spark.sql.DataFrame) =
      Versioning.tokenDrift(d1, d2, topK = 100).collect()
        .map(r => r.getString(1) -> r.getLong(4)).toMap
    val fwd = drifts(a, b)
    val rev = drifts(b, a)
    assert(fwd.keySet == rev.keySet)
    fwd.foreach { case (tok, v) => assert(rev(tok) == -v, tok) }
  }

  // ---- Versioning.maintainTokenCounts -------------------------------------

  test("maintainTokenCounts == full recompute under every edit mix") {
    def counts(df: org.apache.spark.sql.DataFrame) =
      Versioning.tokenCountsOf(df).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val words = Seq("alpha", "beta", "gamma", "delta", "eps")
    // 4 deterministic rounds with different add/remove/change mixes,
    // including a round where a token vanishes entirely (zero-count drop)
    // and one where the fringe is empty
    for (round <- 0 until 4) {
      val old = (0L until 12L).map(i =>
        i -> (0 to (i % 4).toInt).map(j => words(((i + j + round) % 5).toInt))
          .mkString(" ")).toDF("doc_id", "text")
      val neu = old.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val edited = (round match {
        case 0 => // remove 3, change 2, add 2
          (neu -- Seq(0L, 5L, 11L)) ++
            Map(2L -> "zeta zeta", 7L -> (neu(7L) + " beta")) ++
            Map(100L -> "alpha zeta", 101L -> "eps")
        case 1 => neu // empty fringe: maintenance must be the identity
        case 2 => Map(50L -> "gamma") // everything replaced
        case 3 => neu ++ Map(3L -> "beta") // one in-place change
      }).toSeq.toDF("doc_id", "text")
      val maintained = Versioning.maintainTokenCounts(
        old, edited, Versioning.tokenCountsOf(old)).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(maintained == counts(edited), s"round $round")
      assert(maintained.values.forall(_ > 0), s"round $round tombstone")
    }
  }

  // ---- Versioning.maintainDupGroups ----------------------------------------

  test("maintainDupGroups == full re-digest under every edit mix incl. twin moves") {
    def groups(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Dedup.dupGroupsOf(df).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val texts = Seq("a b c", "d e", "a b c", "f g h i", "d e", "j")
    for (round <- 0 until 4) {
      val old = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val base = texts.zipWithIndex.map { case (t, i) => i.toLong -> t }.toMap
      val edited = (round match {
        case 0 => // remove one copy of a k=2 group (k 2 -> 1), add a third
                  // copy of the other (k 2 -> 3), change one unique text
          (base - 0L) ++ Map(3L -> "changed text") ++ Map(100L -> "d e")
        case 1 => base // empty fringe: maintenance is the identity
        case 2 => Map(50L -> "a b c") // everything replaced, one group left
        case 3 => base ++ Map(10L -> "j", 11L -> "j") // unique -> triple
      }).toSeq.toDF("doc_id", "text")
      val maintained = Versioning.maintainDupGroups(
        old, edited, graft.ops.Dedup.dupGroupsOf(old)).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(maintained == groups(edited), s"round $round")
      assert(maintained.values.forall(_._1 > 0), s"round $round tombstone")
    }
  }

  // ---- Curation.releaseRollup ---------------------------------------------

  test("releaseRollup: cells sum to subtotals, subtotals to the grand total") {
    val docs = Seq(
      (1L, "a b", "en", "s1"), (2L, "c", "de", "s1"),
      (3L, "d e f", "en", "s2"), (4L, "g h", null, "s2")
    ).toDF("doc_id", "text", "lang", "source")
    val out = Curation.releaseRollup(docs).collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    val cells = out.filter(r => r._3 == 0 && r._4 == 0)
    val subs = out.filter(r => r._3 == 0 && r._4 == 1)
    val grand = out.filter(r => r._3 == 1 && r._4 == 1)
    // the genuinely-NULL lang row is a CELL (g_lang=0), not a subtotal —
    // the disambiguation the grouping markers exist for
    assert(cells.exists(r => r._1.contains("s2") && r._2.isEmpty))
    assert(cells.map(_._5).sum == 4L && grand.head._5 == 4L)
    assert(subs.map(_._5).sum == 4L && subs.map(_._6).sum == grand.head._6)
    assert(grand.head._6 == 8L) // 2+1+3+2 whitespace tokens
    assert(subs.map(r => r._1.get -> r._5).toMap == Map("s1" -> 2L, "s2" -> 2L))
  }

  // ---- Curation.describeCorpus --------------------------------------------

  test("describeCorpus: exact fields exact, sketch sees distinct texts") {
    val docs = Seq(
      (1L, "a b c", "en", "s1"), (2L, "a b c", "en", "s1"), // exact dup
      (3L, "d e", "de", "s2"), (4L, "f g h i", "en", "s2")
    ).toDF("doc_id", "text", "lang", "source")
    val r = Curation.describeCorpus(docs).collect().head
    assert(r.getAs[Long]("n_docs") == 4L)
    assert(r.getAs[Long]("n_sources") == 2L)
    assert(r.getAs[Long]("n_langs") == 2L)
    assert(r.getAs[Long]("total_chars") == (5 + 5 + 3 + 7))
    assert(r.getAs[Long]("total_tokens") == (3 + 3 + 2 + 4))
    assert(r.getAs[Int]("min_tokens") == 2)
    assert(r.getAs[Int]("max_tokens") == 4)
    // 3 distinct texts; at this cardinality the HLL linear-counting path
    // is exact to well under half a count
    assert(math.abs(r.getAs[Double]("distinct_text_est") - 3.0) < 0.5)
  }

  // ---- Curation.webIngest -------------------------------------------------

  test("webIngest: each pipeline stage kills exactly its own class") {
    val boiler = "shared boilerplate line"
    val pages = Seq(
      // 1 and 2: same canonical URL -> 2 dies at stage 1 (its unique
      // content must then NOT inflate line df)
      (1L, "https://www.s.example.org/p?a=1", s"$boiler\nbody one alpha beta gamma delta"),
      (2L, "https://s.example.org/p/?a=1&utm_source=x", s"$boiler\nbody two wholly different"),
      // 3: boilerplate-only -> dies at stage 3 (gate)
      (3L, "https://s.example.org/q", boiler),
      // 4 and 5: distinct URLs, identical body -> collapse at stage 4
      (4L, "https://s.example.org/r", s"$boiler\nbody one alpha beta gamma delta"),
      (5L, "https://s.example.org/t", s"$boiler\nbody one alpha beta gamma delta")
    ).toDF("doc_id", "url", "text")
    // maxDocFreq = 3: the boiler line (df 4 over the URL survivors 1/3/4/5)
    // is stripped, while the shared body line (df 3) stays under the cap —
    // so the identical bodies reach stage 4 and collapse there, which is
    // the path this fixture demonstrates. (At maxDocFreq = 1 the body line
    // would die at stage 2 instead — line dedup subsumes content dedup for
    // FULLY duplicated docs; stage 4 exists for bodies that survive it.)
    val out = Curation.webIngest(pages, maxDocFreq = 3,
        minKeptLines = 1, minChars = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // released: one survivor (min id 1) for the three identical bodies,
    // with 1 kept line each; doc 2 died at stage 1, doc 3 at stage 3
    assert(out.toSeq == Seq((1L, 3L, 1L)))
  }

  // ---- Events.funnel ------------------------------------------------------

  test("funnel: stages must occur strictly after the previous stage") {
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(s"2026-01-01 00:0$m:00")
    val events = Seq(
      // user 1: full ordered funnel
      (1L, 10L, "view", ts(0)), (1L, 11L, "click", ts(1)),
      (1L, 12L, "purchase", ts(2)),
      // user 2: click BEFORE the first view never counts; no click after
      (2L, 20L, "click", ts(0)), (2L, 21L, "view", ts(1)),
      // user 3: same-timestamp click is NOT strictly after -> stage 1 only
      (3L, 30L, "view", ts(0)), (3L, 31L, "click", ts(0)),
      // user 4: purchase before click -> stage 2 only
      (4L, 40L, "view", ts(0)), (4L, 41L, "purchase", ts(1)),
      (4L, 42L, "click", ts(2)),
      // user 5: only an unrelated event type -> not in output
      (5L, 50L, "error", ts(0))
    ).toDF("user_id", "event_id", "event_type", "ts")
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts").cast("timestamp_ntz").as("ts"))
    val out = Events.funnel(events).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(1L -> 3, 2L -> 1, 3L -> 1, 4L -> 2))
  }

  // ---- Events.retentionCohorts --------------------------------------------

  test("retentionCohorts: first-bucket cohorting, distinct actives per offset") {
    import java.sql.Timestamp
    // bucket = 100 ms windows for a compact fixture (Timestamp carries ms)
    def t(ms: Long) = new Timestamp(ms)
    val events = Seq(
      // user 1: buckets 0, 1, 1 (dup), 2 -> cohort 0, offsets 0,1,2
      (1L, t(10)), (1L, t(110)), (1L, t(150)), (1L, t(250)),
      // user 2: buckets 1, 3 -> cohort 1, offsets 0, 2
      (2L, t(120)), (2L, t(310)),
      // user 3: bucket 0 only -> cohort 0, offset 0
      (3L, t(50))
    ).toDF("user_id", "ts")
      .select(col("user_id"), col("ts").cast("timestamp_ntz").as("ts"))
    val out = Events.retentionCohorts(events, bucketMicros = 100000L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set(
      (0L, 0L, 2L), // users 1, 3 in cohort 0 at offset 0
      (0L, 1L, 1L), (0L, 2L, 1L), // user 1 retained
      (1L, 0L, 1L), (1L, 2L, 1L) // user 2's cohort
    ))
  }

  // ---- Events.transitions -------------------------------------------------

  test("transitions: per-user consecutive pairs only, (ts, event_id) order") {
    import java.sql.Timestamp
    def t(ms: Long) = new Timestamp(ms)
    val events = Seq(
      // user 1: view -> click -> view (tie at ts=200 broken by event_id)
      (1L, 1L, t(100), "view"), (1L, 2L, t(200), "click"),
      (1L, 3L, t(200), "view"),
      // user 2: view -> view; user 3: single event -> no transition
      (2L, 4L, t(50), "view"), (2L, 5L, t(60), "view"),
      (3L, 6L, t(10), "purchase")
    ).toDF("user_id", "event_id", "ts", "event_type")
      .select(col("user_id"), col("event_id"),
        col("ts").cast("timestamp_ntz").as("ts"), col("event_type"))
    val out = Events.transitions(events).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(p => (p._1, p._2))
    assert(out.toSeq == Seq(
      ("click", "view", 1L, 1L),
      ("view", "click", 1L, 1L),
      ("view", "view", 1L, 1L)))
  }

  // ---- Versioning.tokenDrift ----------------------------------------------

  test("tokenDrift ranks by the exact cross-product metric and sums to zero") {
    val before = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val after = Seq((3L, "b b b c")).toDF("doc_id", "text")
    // totals: before=5, after=4
    // a: 3*4 - 0*5 = 12; b: 1*4 - 3*5 = -11; c: 1*4 - 1*5 = -1
    val out = Versioning.tokenDrift(before, after, topK = 10).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.toSeq == Seq(
      (1, "a", 3L, 0L, 12L),
      (2, "b", 1L, 3L, -11L),
      (3, "c", 1L, 1L, -1L)))
    // signed drift sums to zero over the full vocabulary by construction
    assert(out.map(_._5).sum == 0L)
  }

  test("tokenDrift is zero everywhere when the distribution is preserved") {
    val before = Seq((1L, "x y")).toDF("doc_id", "text")
    val after = Seq((2L, "x y x y")).toDF("doc_id", "text") // same dist, 2x mass
    val out = Versioning.tokenDrift(before, after, topK = 10).collect()
    assert(out.forall(_.getLong(4) == 0L))
  }

  // ---- Privacy.kAnonymize -------------------------------------------------

  test("noisyCounts: exact geometric mechanism, seed-deterministic") {
    // engine output must equal an independent Scala recomputation of the
    // documented formula: n + ctz(md5("dp1:seed:key")) - ctz(md5("dp2:..."))
    def ctz60(tag: String, seed: Long, key: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$tag:$seed:$key".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      val h = java.lang.Long.parseLong(hex, 16)
      if (h == 0L) 60L else java.lang.Long.numberOfTrailingZeros(h).toLong
    }
    val rows = (0L until 600L).map(i => (i, s"g${i % 200}"))
      .toDF("id", "grp")
    val out = Privacy.noisyCounts(rows, Seq("grp"), seed = 7L).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.size == 200)
    (0 until 200).foreach { g =>
      val key = s"g$g"
      val expected = 3L + ctz60("dp1", 7L, key) - ctz60("dp2", 7L, key)
      assert(out(key) == expected, key)
    }
    // structural noise sanity over the 200 groups: centered, two-sided,
    // geometric-tailed
    val noise = (0 until 200).map(g => out(s"g$g") - 3L)
    assert(noise.exists(_ > 0) && noise.exists(_ < 0))
    assert(math.abs(noise.sum.toDouble / noise.size) < 0.5) // mean ~ 0
    assert(noise.count(_ == 0L) > 40) // P(0) = 1/3 for diff-of-geometrics
    // same seed reproduces; a different seed moves some group's noise
    val again = Privacy.noisyCounts(rows, Seq("grp"), seed = 7L).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == out)
    val other = Privacy.noisyCounts(rows, Seq("grp"), seed = 8L).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(other != out)
    // NULL group key participates as its own group (sentinel-hashed)
    val withNull = (rows.collect().map(r => (r.getLong(0),
      r.getString(1))) :+ (999L, null)).toSeq.toDF("id", "grp")
    val nullOut = Privacy.noisyCounts(withNull, Seq("grp"), seed = 7L)
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(nullOut.contains(None))
  }

  test("noisyCountsOverDomain: support is the domain; count-1 presence leak closed") {
    def ctz60(tag: String, seed: Long, key: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$tag:$seed:$key".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      val h = java.lang.Long.parseLong(hex, 16)
      if (h == 0L) 60L else java.lang.Long.numberOfTrailingZeros(h).toLong
    }
    def noise(key: String) = ctz60("dp1", 7L, key) - ctz60("dp2", 7L, key)
    val rows = Seq((1L, "a"), (2L, "a"), (3L, "rare")).toDF("id", "grp")
    val domain = Seq("a", "rare", "never").toDF("grp")
    def release(df: org.apache.spark.sql.DataFrame) =
      Privacy.noisyCountsOverDomain(df, Seq("grp"), domain, seed = 7L)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val out = release(rows)
    // every domain key released exactly once; unobserved = noised zero
    assert(out.keySet == Set("a", "rare", "never"))
    assert(out("a") == 2L + noise("a"))
    assert(out("rare") == 1L + noise("rare"))
    assert(out("never") == 0L + noise("never"))
    // the count-1 group case: removing the single "rare" row must not
    // change the release's SUPPORT (only the count moves by 1) — whereas
    // plain noisyCounts drops the key entirely, leaking its presence
    val without = release(rows.where("grp <> 'rare'"))
    assert(without.keySet == out.keySet)
    assert(without("rare") == out("rare") - 1L)
    assert(Privacy.noisyCounts(rows.where("grp <> 'rare'"), Seq("grp"), 7L)
      .collect().map(_.getString(0)).toSet == Set("a"))
    // observed-but-undeclared keys are NOT released (domain = policy)
    assert(!release(rows.union(Seq((9L, "offbook")).toDF("id", "grp")))
      .contains("offbook"))
  }

  test("noisySum: clipped contribution, clip-scaled exact noise") {
    def ctz60(tag: String, seed: Long, key: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$tag:$seed:$key".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      val h = java.lang.Long.parseLong(hex, 16)
      if (h == 0L) 60L else java.lang.Long.numberOfTrailingZeros(h).toLong
    }
    val rows = Seq((1L, "a", 50L), (2L, "a", 500L), (3L, "a", -10L),
      (4L, "b", 100L)).toDF("id", "grp", "v")
    val out = Privacy.noisySum(rows, Seq("grp"), "v", clip = 100L, seed = 5L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // group a: 50 + min(500,100) + max(-10,0) = 150; b: 100 — noise is
    // clip-scaled (multiples of 100), replayed independently here
    def noise(key: String) =
      100L * (ctz60("dp1", 5L, key) - ctz60("dp2", 5L, key))
    assert(out("a") == 150L + noise("a"))
    assert(out("b") == 100L + noise("b"))
    // the released value differs from the true sum ONLY by a multiple of
    // the clip (the sensitivity step the mechanism's ratio bound needs)
    assert((out("a") - 150L) % 100L == 0L)
    assertThrows[IllegalArgumentException](
      Privacy.noisySum(rows, Seq("grp"), "v", clip = 0L, seed = 5L))
  }

  test("kAnonymize releases only groups meeting BOTH the k and l gates") {
    val rows = Seq(
      // group (a,1): size 3, sensitive {10, 20} -> k=3 ok, l=2 ok
      (1L, "a", 1, 10), (2L, "a", 1, 20), (3L, "a", 1, 10),
      // group (b,1): size 3, sensitive {7} -> fails l-diversity
      (4L, "b", 1, 7), (5L, "b", 1, 7), (6L, "b", 1, 7),
      // group (a,2): size 2, sensitive {1, 2} -> fails k
      (7L, "a", 2, 1), (8L, "a", 2, 2)
    ).toDF("c_custkey", "segment", "region", "band")
    val out = Privacy.kAnonymize(rows, Seq("segment", "region"), "band",
        k = 3, l = 2).collect()
      .map(r => (r.getAs[Long]("c_custkey"), r.getAs[Long]("group_size"),
        r.getAs[Int]("n_sensitive"))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, 3L, 2), (2L, 3L, 2), (3L, 3L, 2)))
  }

  // ---- Urls.hostReputation ------------------------------------------------

  test("hostReputation: dup-rate and min-docs gates at host granularity") {
    val rows = Seq(
      // host a: 4 docs (two url spellings normalize together), 3 distinct
      // texts -> dup 250 permille, released
      (1L, "https://a.example.org/p1", "t1"),
      (2L, "HTTPS://WWW.a.Example.org:443/p2", "t2"),
      (3L, "https://a.example.org/p3", "t3"),
      (4L, "https://www.a.example.org/p4", "t3"),
      // host b: 4 docs, 1 distinct text -> dup 750 permille, killed
      (5L, "https://b.example.org/p1", "spam"),
      (6L, "https://b.example.org/p2", "spam"),
      (7L, "https://b.example.org/p3", "spam"),
      (8L, "https://b.example.org/p4", "spam"),
      // host c: 2 distinct docs -> below minDocs, killed
      (9L, "https://c.example.org/p1", "x"),
      (10L, "https://c.example.org/p2", "y")
    ).toDF("doc_id", "url", "text")
    val out = Urls.hostReputation(rows, minDocs = 3, maxDupPermille = 500)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, "a.example.org", 4L, 250L),
      (2L, "a.example.org", 4L, 250L),
      (3L, "a.example.org", 4L, 250L),
      (4L, "a.example.org", 4L, 250L)))
  }

  test("hostReputation: no-host pages are excluded end to end") {
    // 3 distinct schemeless pages + a NULL url: none may form a group or
    // release — a "no host" bucket is not a host
    val rows = Seq(
      (1L, "/about", "a"), (2L, "page.html", "b"), (3L, "../x", "c"),
      (4L, null.asInstanceOf[String], "d"),
      // a real host alongside, so the gate demonstrably still works
      (5L, "https://ok.example.org/1", "p"),
      (6L, "https://ok.example.org/2", "q"),
      (7L, "https://ok.example.org/3", "r")
    ).toDF("doc_id", "url", "text")
    val out = Urls.hostReputation(rows).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(out.toSeq == Seq(5L, 6L, 7L).map(_ -> "ok.example.org"))
  }

  test("hostReputation is invariant under repartitioning") {
    val pages = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("https://h"),
          (col("doc_id") % 5).cast("string"),
          org.apache.spark.sql.functions.lit(".example.org/p")).as("url"),
        col("text"))
    val a = Urls.hostReputation(pages).collect().map(_.toSeq).toSeq
      .sortBy(_.head.asInstanceOf[Long])
    val b = Urls.hostReputation(pages.repartition(13, col("text")))
      .collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])
    assert(a == b && a.nonEmpty)
  }

  // ---- Sampling.capBySource -----------------------------------------------

  test("capBySource admits a hash-ordered prefix per source under the budget") {
    def h60(key: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(key.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val rows = Seq(
      (1L, "web", "a b c d e"), (2L, "web", "a b c d e"),
      (3L, "web", "a b c d e"),
      (4L, "code", "x y") // its own source: first doc always fits
    ).toDF("doc_id", "source", "text")
    // cap 8: in hash order the first web doc (cum 0) and second (cum 5)
    // fit, the third (cum 10) does not
    val out = Sampling.capBySource(rows, capTokens = 8L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val webOrder = Seq(1L, 2L, 3L).sortBy(id => (h60(id), id))
    val expected = (webOrder.take(2).zip(Seq(0L, 5L))
      .map { case (id, cum) => (id, "web", 5L, cum) } :+
      ((4L, "code", 2L, 0L))).sortBy(_._1)
    assert(out.toSeq == expected)
  }

  test("capBySource: raising the cap only ever ADDS docs, repartition-invariant") {
    val docs = Tables.load(spark, sf, "documents")
    val small = Sampling.capBySource(docs, capTokens = 300L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val big = Sampling.capBySource(docs, capTokens = 900L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(small.nonEmpty && small.subsetOf(big) && big.size > small.size)
    val repart = Sampling
      .capBySource(docs.repartition(17, col("text")), capTokens = 300L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(repart == small)
  }

  test("kAnonymize NULL quasi values: grouping and release agree") {
    // NULL region is a legitimate generalization bucket: the NULL group
    // passes the gate AND releases (null-safe join), instead of being
    // counted at the gate and then dropped by an equi-join.
    val rows = Seq(
      (1L, "a", Some(1), 10), (2L, "a", Some(1), 20), (3L, "a", Some(1), 30),
      (4L, "a", None, 1), (5L, "a", None, 2), (6L, "a", None, 3),
      (7L, "b", None, 9) // singleton NULL group -> fails k
    ).toDF("c_custkey", "segment", "region", "band")
    val out = Privacy.kAnonymize(rows, Seq("segment", "region"), "band",
        k = 3, l = 2).collect()
      .map(r => (r.getAs[Long]("c_custkey"), r.getAs[Long]("group_size")))
      .sortBy(_._1)
    assert(out.toSeq ==
      Seq(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 3L, 6L -> 3L))
  }

  // ---- Similarity.outliers ------------------------------------------------

  test("outliers matches the driver-side spherical-centroid brute force") {
    val embs = Tables.load(spark, sf, "embeddings")
    val out = Similarity.outliers(embs, k = 10).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val rows = embs.collect().map(r => (r.getAs[Long]("vec_id"),
      r.getAs[Int]("label"), r.getSeq[Float](1).map(_.toDouble).toArray))
    def norm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    val byLabel = rows.filter(r => norm(r._3) > 0).groupBy(_._2)
    val expected = byLabel.toSeq.flatMap { case (label, members) =>
      val dims = members.head._3.length
      val cent = new Array[Double](dims)
      members.foreach { case (_, _, v) =>
        val n = norm(v)
        (0 until dims).foreach(d => cent(d) += v(d) / n)
      }
      val c = cent.map(s => BigDecimal(s / members.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      val nc = norm(c)
      members.map { case (id, _, v) =>
        val cos = BigDecimal(
          v.zip(c).map { case (x, y) => x * y }.sum / (norm(v) * nc))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (label, id, cos)
      }.sortBy(m => (m._3, m._2)).take(10).zipWithIndex
        .map { case ((l, id, cos), i) => (l, i + 1, id, cos) }
    }.toSet
    assert(out.toSet == expected)
  }

  test("outliers excludes zero-norm vectors from centroid and scoring") {
    val data = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.9f, 0.1f), 0),
      (3L, Array(0.0f, 0.0f), 0) // no direction: sits out entirely
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.outliers(data, k = 10).collect()
    assert(out.map(_.getLong(2)).toSet == Set(1L, 2L))
  }
}
