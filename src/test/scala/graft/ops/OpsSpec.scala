package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, Tables, TempDirs}
import graft.ops.PersistedIndex.Kind

class DedupSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"
  private def docs = Tables.load(spark, sf, "documents")

  test("exact dedup keeps min doc_id per duplicate group") {
    val withDups = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "delta epsilon"), (4L, "alpha beta gamma"), (5L, "delta epsilon"),
      (6L, "unique text here")).toDF("doc_id", "text")
    val out = Dedup.exact(withDups).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 3L -> 2L, 6L -> 1L))
  }

  test("normalizedExact collapses case/punct/whitespace variants, keeps zh intact") {
    val in = Seq(
      (1L, "Hello, World!"),
      (2L, "hello world"),
      (3L, "HELLO   world  !!"),   // all three -> one group, keeper 1
      (4L, "hello worlds"),        // NOT a variant (different letters)
      (5L, "的 是 了"),             // zh untouched by the ASCII punct class
      (6L, "的 是 了")              // byte-exact zh dup still collapses
    ).toDF("doc_id", "text")
    val out = Dedup.normalizedExact(in).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 4L -> 1L, 5L -> 2L))
  }

  test("minhash-LSH finds the exact-jaccard pairs (full recall on clear dups)") {
    val lsh = Dedup.minhashLsh(docs).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.ngramJaccard(docs).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // this corpus separates cleanly (j≈0.97 vs j<0.3): banding 16/4 must
    // catch every true pair, and verification kills false candidates
    assert(lsh == exact)
    assert(exact.nonEmpty)
  }

  test("simhash near-dups are mostly true near-dups (precision vs exact jaccard)") {
    val sim = Dedup.simhash(docs).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.ngramJaccard(docs, threshold = 0.3)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sim.nonEmpty)
    val precision = sim.intersect(exact).size.toDouble / sim.size
    assert(precision >= 0.8, s"precision $precision")
  }

  test("ngram jaccard values are in (0,1] and pairs ordered") {
    val rows = Dedup.ngramJaccard(docs).collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      val j = r.getDouble(2)
      assert(j >= 0.5 && j <= 1.0)
    }
  }

  test("broadcast levers auto-size from stats: hint below threshold, shuffle above, same answers") {
    // small corpus (default 512 MiB threshold): the postings join carries
    // the explicit broadcast hint
    val autoPlan = Dedup.ngramJaccard(docs)
      .queryExecution.optimizedPlan.toString
    assert(autoPlan.toLowerCase.contains("broadcast"), autoPlan.take(800))
    // a 1-byte threshold simulates corpus ≫ executor memory: the hint is
    // gone everywhere. To see the hint's effect on the PHYSICAL plan we
    // must silence Spark's own stats-based auto-broadcast (at real scale
    // the stats are huge and it stays silent by itself; here the corpus is
    // tiny and Spark would rightly re-broadcast it).
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val shuffled = Dedup.ngramJaccard(docs, broadcastThresholdBytes = 1L)
      assert(!shuffled.queryExecution.optimizedPlan.toString
        .toLowerCase.contains("broadcast"))
      assert(shuffled.queryExecution.executedPlan.toString
        .contains("SortMergeJoin"))
      // pinning overrides stats in both directions
      assert(Dedup.ngramJaccard(docs, broadcastPostings = Some(true),
          broadcastThresholdBytes = 1L)
        .queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
      // answers are identical either way
      def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
      assert(shuffled.collect().sortBy(key).toSeq ==
        Dedup.ngramJaccard(docs).collect().sortBy(key).toSeq)

      // minhash: vocab-hash broadcast below threshold, map-side hashing
      // above — bit-identical sketches, so identical pairs either way
      assert(Dedup.minhashLsh(docs)
        .queryExecution.optimizedPlan.toString.toLowerCase.contains("broadcast"))
      val mapSide = Dedup.minhashLsh(docs, broadcastThresholdBytes = 1L)
      assert(!mapSide.queryExecution.optimizedPlan.toString
        .toLowerCase.contains("broadcast"))
      assert(mapSide.collect().sortBy(key).toSeq ==
        Dedup.minhashLsh(docs).collect().sortBy(key).toSeq)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("embedding near-dup returns topN ordered by cosine desc") {
    val rows = Dedup.embeddingNearDup(Tables.load(spark, sf, "embeddings"), 10)
      .collect()
    assert(rows.length == 10)
    val scores = rows.map(_.getDouble(2))
    assert(scores.sameElements(scores.sortBy(-_)))
  }

  test("incremental dedup drops exact and near dups of the corpus, keeps fresh docs") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "completely different corpus material here"),
      (12L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val fresh = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),      // exact dup
      (2L, "the quick brown fox jumps over the lazy cat"),      // near dup (j≈0.78)
      (3L, "entirely novel content with no overlap at all"),    // fresh
      (4L, "completely different corpus material here"))        // exact dup
      .toDF("doc_id", "text")
    val out = Dedup.incrementalNew(fresh, corpus).collect()
      .map(_.getLong(0)).toSeq
    assert(out == Seq(3L), out)
  }

  test("LSH embedding near-dup: high twin recall, scores match exact path") {
    // twins at cosine≈0.999: each pair shares a 4-bit band w.p. ~0.97, so
    // the banded candidate join must recover nearly all of them
    val rnd = new scala.util.Random(13)
    val rows = (0L until 50L).flatMap { i =>
      val base = Array.fill(64)(rnd.nextFloat() * 2 - 1)
      val twin = base.map(v => v + (rnd.nextFloat() - 0.5f) * 0.02f)
      Seq((i * 2, base), (i * 2 + 1, twin))
    }
    val clustered = rows.toDF("vec_id", "embedding")
    val lsh = Dedup.embeddingNearDupLsh(clustered, threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val twins = (0L until 50L).map(i => (i * 2, i * 2 + 1))
    val hits = twins.count(lsh.contains)
    assert(hits >= 45, s"twin recall $hits/50")
    // a candidate's score must equal the exact scorer's (pruning may drop
    // pairs, never mis-score them)
    val exact = Dedup.embeddingNearDup(clustered, topN = 5000).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    lsh.foreach { case (k, c) => assert(exact(k) === c, k) }
  }

  test("persisted minhash index reproduces incrementalNew without corpus re-scan") {
    val dir = tempDir("graft_mh_idx").toString
    val corpusPq = s"$dir/corpus_docs"
    docs.where(col("doc_id") % 5 =!= 0).write.parquet(corpusPq)
    val corpus = spark.read.parquet(corpusPq)
    val fresh = docs.where(col("doc_id") % 5 === 0)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
      .toDF("doc_id", "text") // in-memory: any file scan in the probe plan is index-only
    val idx = s"$dir/index"
    assert(PersistedIndex.meta(spark, idx).isEmpty)
    Dedup.writeMinhashIndex(corpus, idx)
    assert(PersistedIndex.meta(spark, idx).map(_.kind).contains(Kind.Minhash.name))

    val fromIndex = Dedup.incrementalNewFromIndex(fresh, idx)
    // the probe never touches the corpus parquet: every file scan in the
    // plan reads the index, none read corpus_docs
    val plan = fromIndex.queryExecution.executedPlan.toString
    val scanned = "Location.*?\\[([^\\]]*)\\]".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(scanned.nonEmpty)
    assert(scanned.forall(_.contains("index")), scanned)
    assert(!scanned.exists(_.contains("corpus_docs")), scanned)

    val expected = Dedup.incrementalNew(
      fresh, corpus.select("doc_id", "text")).collect().map(_.getLong(0)).toSeq
    assert(fromIndex.collect().map(_.getLong(0)).toSeq == expected)
    assert(expected.nonEmpty)
  }

  test("updateMinhashIndex: two-tick ingest equals one-shot recompute, base untouched") {
    val dir = tempDir("graft_mh_upd").toString
    val corpusPq = s"$dir/corpus_docs"
    docs.where(col("doc_id") % 5 =!= 0).write.parquet(corpusPq)
    val corpus = spark.read.parquet(corpusPq)
    def inMemory(df: DataFrame) = df.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.toDF("doc_id", "text")
    val b1 = inMemory(docs.where(col("doc_id") % 10 === 0))

    val base = s"$dir/index"
    Dedup.writeMinhashIndex(corpus, base)
    val work = s"$dir/index_work"
    PersistedIndex.copy(spark, base, work)

    val s1 = Dedup.incrementalNewFromIndex(b1, work).localCheckpoint(true)
    Dedup.updateMinhashIndex(s1, work)

    // tick 2 carries an exact dup of a tick-1 survivor: only the updated
    // index can catch it — against the frozen base it survives
    val s1Head = s1.orderBy("doc_id").head
    val b2 = inMemory(docs.where(col("doc_id") % 10 === 5))
      .union(Seq((999999L, s1Head.getString(1))).toDF("doc_id", "text"))
    val t2 = Dedup.incrementalNewFromIndex(b2, work)

    // the tick-2 probe plan never touches the corpus parquet
    val scanned = "Location.*?\\[([^\\]]*)\\]".r
      .findAllMatchIn(t2.queryExecution.executedPlan.toString)
      .map(_.group(1)).toSeq
    assert(scanned.nonEmpty && scanned.forall(_.contains("index")), scanned)
    assert(!scanned.exists(_.contains("corpus_docs")), scanned)

    // equivalence with the one-shot recompute over corpus ∪ tick-1 survivors
    val s1Expected = Dedup.incrementalNew(b1, corpus.select("doc_id", "text"))
      .localCheckpoint(true)
    val t2Expected = Dedup.incrementalNew(
      b2, corpus.select("doc_id", "text").union(s1Expected))
    assert(s1.collect().map(_.getLong(0)).toSeq ==
      s1Expected.collect().map(_.getLong(0)).toSeq)
    val t2Ids = t2.collect().map(_.getLong(0)).toSeq
    assert(t2Ids == t2Expected.collect().map(_.getLong(0)).toSeq)
    assert(!t2Ids.contains(999999L)) // cross-tick dup was caught
    // the branched base never saw the append: the same dup survives there
    assert(Dedup.incrementalNewFromIndex(
        Seq((999999L, s1Head.getString(1))).toDF("doc_id", "text"), base)
      .collect().map(_.getLong(0)).toSeq == Seq(999999L))
  }

  test("updateMinhashIndex restamps the sidecar fingerprint when asked, keeps params") {
    val dir = tempDir("graft_mh_upfp").toString
    val idx = s"$dir/idx"
    Dedup.writeMinhashIndex(docs.limit(20), idx, fingerprint = Some("fp-a"))
    assert(PersistedIndex.matches(spark, idx, Kind.Minhash, "fp-a"))
    Dedup.updateMinhashIndex(
      Seq((7777L, "brand new accepted text")).toDF("doc_id", "text"), idx,
      fingerprint = Some("fp-b"))
    assert(!PersistedIndex.matches(spark, idx, Kind.Minhash, "fp-a"))
    assert(PersistedIndex.matches(spark, idx, Kind.Minhash, "fp-b"))
    // params still pinnable after the update (family unchanged)
    Dedup.incrementalNewFromIndex(docs.limit(1), idx,
      expectParams = Some((2, 16, 4)))
  }

  test("incrementalNewFromIndex rejects an index with unreadable parameters") {
    val dir = tempDir("graft_mh_bad").toString
    intercept[Exception] {
      Dedup.incrementalNewFromIndex(docs.limit(1), s"$dir/missing").collect()
    }
  }

  test("incrementalNewFromIndex fails fast when pinned parameters mismatch the sidecar") {
    val dir = tempDir("graft_mh_pin").toString
    val idx = s"$dir/idx"
    Dedup.writeMinhashIndex(docs.limit(10), idx, shingleK = 2, numHashes = 16)
    // matching pin is accepted (plan builds)
    Dedup.incrementalNewFromIndex(docs.limit(1), idx,
      expectParams = Some((2, 16, 4)))
    // any mismatched pin fails fast, naming both sides
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalNewFromIndex(docs.limit(1), idx,
        expectParams = Some((3, 16, 4)))
    }
    assert(e.getMessage.contains("shingleK=2"))
  }

  test("source fingerprint invalidates a persisted index when data is rewritten") {
    val dir = tempDir("graft_mh_fp").toString
    val src = s"$dir/src"
    Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text").write.parquet(src)
    val fp1 = PersistedIndex.sourceFingerprint(spark, src)
    assert(fp1 == PersistedIndex.sourceFingerprint(spark, src)) // stable for same data

    val idx = s"$dir/idx"
    assert(!PersistedIndex.matches(spark, idx, Kind.Minhash, fp1)) // nothing there yet
    Dedup.writeMinhashIndex(spark.read.parquet(src), idx, fingerprint = Some(fp1))
    assert(PersistedIndex.matches(spark, idx, Kind.Minhash, fp1))

    // rewrite the source under the SAME path: fingerprint moves (part file
    // names/sizes/mtimes change), so the stale index no longer matches
    Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"), (3L, "eta theta iota"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(src)
    val fp2 = PersistedIndex.sourceFingerprint(spark, src)
    assert(fp2 != fp1)
    assert(!PersistedIndex.matches(spark, idx, Kind.Minhash, fp2))
    // an index without a recorded fingerprint never matches
    val bare = s"$dir/bare"
    Dedup.writeMinhashIndex(spark.read.parquet(src), bare)
    assert(PersistedIndex.meta(spark, bare).map(_.kind).contains(Kind.Minhash.name))
    assert(!PersistedIndex.matches(spark, bare, Kind.Minhash, fp2))
  }

  test("resolveClusters collapses chains to the transitive component") {
    // 1~2, 2~3 (A~B~C chain: 1 and 3 never paired directly), plus the
    // isolated pair 5~6 — doc 4 is in no pair and must not appear.
    // This small graph exercises the r16 driver union-find fast path.
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val labels = Dedup.resolveClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("resolveClusters: fast path and distributed loop agree; the edge " +
    "gate picks the loop when forced") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (9L, 3L), (7L, 7L))
      .toDF("doc_a", "doc_b")
    val viaLoop = Dedup.resolveClustersCounted(pairs)._1.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaFast = Dedup.resolveClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // driverResolveMaxEdges = 0 forces the wrapper onto the loop
    val viaForcedLoop =
      Dedup.resolveClusters(pairs, driverResolveMaxEdges = 0L).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaFast == viaLoop)
    assert(viaForcedLoop == viaLoop)
  }

  test("resolveClusters converges on a long chain (pointer jumping)") {
    // a 100-link path has diameter 100; pointer jumping must resolve it
    // well inside the iteration cap (the Counted core is ALWAYS the loop)
    val chain = (0L until 100L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels =
      Dedup.resolveClustersCounted(chain, maxIterations = 12)._1.collect()
    assert(labels.length == 101)
    assert(labels.forall(_.getLong(1) == 0L))
  }

  test("resolveClusters hops lever: deeper jumps, fewer rounds, same labels") {
    val chain = (0L until 400L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (l1, r1) = Dedup.resolveClustersCounted(chain, maxIterations = 20)
    val (l3, r3) = Dedup.resolveClustersCounted(chain, maxIterations = 20,
      hops = 3)
    assert(l1.collect().map(r => r.getLong(0) -> r.getLong(1)).sorted.toSeq
      == l3.collect().map(r => r.getLong(0) -> r.getLong(1)).sorted.toSeq)
    // each extra hop composes the compressed pointer map with itself, so
    // reach per round grows ~2^hops and round count drops accordingly
    assert(r3 < r1, s"hops=3 took $r3 rounds vs $r1 at hops=1")
    // the pointer-jumping guarantee the scale proof pins at 100x volume:
    // rounds within ceil(log2(diameter)) + 2 even at hops=1
    assert(r1 <= 11, s"hops=1 rounds $r1 exceed log-diameter bound")
    // a 2-node graph converges immediately regardless of hop depth
    val tiny = Seq((7L, 9L)).toDF("doc_a", "doc_b")
    val (lt, rt) = Dedup.resolveClustersCounted(tiny, hops = 4)
    assert(lt.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == Set((7L, 7L), (9L, 7L)))
    assert(rt <= 2)
  }

  test("resolveClusters: degenerate all-self-pairs graph converges round 0") {
    // ADVICE r15 #3: a pair graph already at its fixpoint (every pair is
    // a self-pair, so round-0 labels are the identity) must converge in
    // ONE round — the sum-equality read compares round 0 against the
    // identity-label sum, which rides the same aggregate job
    val selfPairs = Seq((3L, 3L), (8L, 8L)).toDF("doc_a", "doc_b")
    val (labels, rounds) =
      Dedup.resolveClustersCounted(selfPairs, maxIterations = 1)
    assert(labels.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == Set((3L, 3L), (8L, 8L)))
    assert(rounds == 1)
    // empty graph still converges immediately
    val (empty, r0) = Dedup.resolveClustersCounted(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"), maxIterations = 1)
    assert(empty.isEmpty && r0 == 1)
  }

  test("resolveClusters: one action per round, superseded checkpoints freed") {
    val sc = spark.sparkContext
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { names.add(funcName); actions.incrementAndGet(); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    val before = sc.getPersistentRDDs.size
    spark.listenerManager.register(listener)
    val labels =
      try {
        // deterministic 2-round graph: round 1 moves labels (chain collapse
        // + hop), round 2 observes the fixpoint. Counted core = the loop
        // (the wrapper would take the r16 driver fast path on this size).
        val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
        val out = Dedup.resolveClustersCounted(pairs)._1
        // the listener bus is async — deliver every event posted so far
        org.apache.spark.ListenerBusBridge.drain(sc)
        out
      } finally spark.listenerManager.unregister(listener)
    // Per round exactly ONE job-running action (the `head` agg that
    // materializes the lazy checkpoint AND returns the changed-count); the
    // lazy localCheckpoint emits a job-free listener marker. The old shape
    // ran a second `isEmpty` convergence join per round — gone.
    val seq = names.toArray.map(_.toString).toSeq
    assert(!seq.contains("isEmpty"), seq)
    assert(seq.count(_ == "head") == 2, seq) // deterministic 2-round graph
    assert(seq.length <= 7, seq) // 3 setup ckpts + 2×(lazy-ckpt marker, head)
    // every superseded round's blocks are freed (blocking unpersist): only
    // the final round's label table stays persisted
    val after = sc.getPersistentRDDs.size
    assert(after - before <= 1, s"persisted RDDs grew $before -> $after")
    assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("survivorCorpus keeps min doc_id per cluster with merge counts") {
    val d = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e"),
      (6L, "f")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val out = Dedup.survivorCorpus(d, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(out == Seq(1L -> 3L, 4L -> 1L, 5L -> 2L))
  }

  test("survivorCorpus over minhash pairs matches a driver-side union-find") {
    val pairs = Dedup.minhashLsh(docs).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val expectDupes = members.filter(m => find(m) != m).toSet
    val total = docs.count()
    val out = Dedup.survivorCorpus(
      docs, Dedup.minhashLsh(docs).select("doc_a", "doc_b")).collect()
    assert(out.length == total - expectDupes.size)
    assert(out.map(_.getLong(1)).sum == total) // every doc accounted for
    assert(out.forall(r => !expectDupes.contains(r.getLong(0))))
  }

  test("dupMassHistogram: exact multiplicity accounting and mass conservation") {
    // "a b c" ×3 (3 toks), "d e" ×2 (2 toks), "f" ×1, "g h i j" ×1 (4 toks)
    val in = Seq("a b c", "a b c", "a b c", "d e", "d e", "f", "g h i j")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val out = Dedup.dupMassHistogram(in).collect()
      .map(r => r.getAs[Long]("multiplicity") ->
        ((r.getAs[Long]("n_groups"), r.getAs[Long]("n_docs"),
          r.getAs[Long]("token_mass"), r.getAs[Long]("unique_mass"),
          r.getAs[Long]("excess_mass"), r.getAs[Long]("mass_per_mille"))))
      .toMap
    // total mass = 3*3 + 2*2 + 1 + 4 = 18
    assert(out(1L) == ((2L, 2L, 5L, 5L, 0L, 5L * 1000 / 18)))
    assert(out(2L) == ((1L, 2L, 4L, 2L, 2L, 4L * 1000 / 18)))
    assert(out(3L) == ((1L, 3L, 9L, 3L, 6L, 9L * 1000 / 18)))
    // conservation against the input: Σ token_mass = corpus tokens,
    // Σ n_docs = corpus docs
    assert(out.values.map(_._3).sum == 18L)
    assert(out.values.map(_._2).sum == in.count())
  }

  test("clusterSizeHistogram: exact component sizes, singletons, yield per-mille") {
    val corpus = (1L to 8L).map(i => (i, s"doc number $i body")).toDF("doc_id", "text")
    // components: {1,2,3} via chained pairs, {4,5}; 6/7/8 singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val out = Dedup.clusterSizeHistogram(corpus, pairs).collect()
      .map(r => r.getAs[Long]("cluster_size") ->
        ((r.getAs[Long]("n_clusters"), r.getAs[Long]("n_docs"),
          r.getAs[Long]("n_removed"), r.getAs[Long]("removed_per_mille"))))
      .toMap
    assert(out(1L) == ((3L, 3L, 0L, 0L)))
    assert(out(2L) == ((1L, 2L, 1L, 1000L / 8)))
    assert(out(3L) == ((1L, 3L, 2L, 2000L / 8)))
    // yield consistency: corpus - Σ removed == survivorCorpus cardinality
    val removed = out.values.map(_._3).sum
    assert(corpus.count() - removed == Dedup.survivorCorpus(corpus, pairs).count())
    // doc conservation: Σ n_docs across rows = corpus size
    assert(out.values.map(_._2).sum == corpus.count())
  }
}

class DecontaminationSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val benchmark = Seq(
    (900L, "alpha beta gamma delta epsilon zeta"),
    (901L, "one two three four five")).toDF("doc_id", "text")
  private val corpus = Seq(
    // shares the 4-gram "beta gamma delta epsilon" with bench 900
    (1L, "intro words beta gamma delta epsilon outro"),
    // shares 4-grams with BOTH benchmark docs
    (2L, "alpha beta gamma delta and one two three four"),
    // shares unigrams/bigrams only — below the 4-gram bar
    (3L, "alpha beta unrelated gamma delta elsewhere"),
    (4L, "completely clean document nothing shared here"),
    // too short for any 4-gram
    (5L, "tiny doc")).toDF("doc_id", "text")

  test("decontaminate flags exactly the docs sharing a 4-gram, with counts") {
    val got = Dedup.decontaminate(corpus, benchmark).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // doc 1: one matched shingle, one benchmark doc; doc 2: two shingles
    // ("alpha beta gamma delta", "one two three four") across two bench docs
    assert(got.toSeq == Seq((1L, 1L, 1L), (2L, 2L, 2L)))
  }

  test("removeContaminated is the corpus minus the flagged ids") {
    val kept = Dedup.removeContaminated(corpus, benchmark).collect()
      .map(_.getLong(0)).toSet
    assert(kept == Set(3L, 4L, 5L))
  }

  test("broadcast lever: forced-off plan shuffles, results identical") {
    // silence Spark's stats-based auto-broadcast so the lever's effect on
    // the physical plan is visible (same pattern as the ngramJaccard spec)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val on = Dedup.decontaminate(corpus, benchmark,
        broadcastBenchmark = Some(true))
      val off = Dedup.decontaminate(corpus, benchmark,
        broadcastBenchmark = Some(false))
      assert(on.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
      assert(!off.queryExecution.optimizedPlan.toString
        .toLowerCase.contains("broadcast"))
      assert(on.collect().toSeq == off.collect().toSeq)
      // the auto lever reads tiny-benchmark stats and picks broadcast
      assert(Dedup.decontaminate(corpus, benchmark)
        .queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
      // …and falls back to shuffle above the cap
      assert(!Dedup.decontaminate(corpus, benchmark,
          broadcastThresholdBytes = 1L)
        .queryExecution.optimizedPlan.toString.toLowerCase.contains("broadcast"))
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("decontaminateBloom ≡ decontaminate (the Bloom stage is pure " +
    "work-avoidance), and the prefilter sits in the scan stage") {
    val exact = Dedup.decontaminate(corpus, benchmark).collect().toSeq
    val bloom = Dedup.decontaminateBloom(corpus, benchmark)
    assert(bloom.collect().toSeq == exact)
    // even at an absurd false-positive rate the exact join restores
    // semantics — that's the correctness contract
    assert(Dedup.decontaminateBloom(corpus, benchmark, fpp = 0.9)
      .collect().toSeq == exact)
    // the membership probe is a Filter over the shingle projection — it
    // must appear in the physical plan BELOW the exact join, i.e. inside
    // the corpus-side scan stage
    val plan = bloom.queryExecution.executedPlan.toString
    assert(plan.contains("bloom_might_contain") ||
      plan.contains("might_contain"), plan.take(2000))
  }

  test("scrubContaminatedSpans redacts covered words, keeps the rest byte-identical") {
    val out = Dedup.scrubContaminatedSpans(corpus, benchmark).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    // doc 1: span [2,6) covers "beta gamma delta epsilon"
    assert(out(1L) == (("intro words outro", 1)))
    // doc 2: spans at 0 ("alpha beta gamma delta") and 5 ("one two three
    // four") cover words 0-3 and 5-8; "and" (4) survives
    assert(out(2L) == (("and", 2)))
    // sub-4-gram overlap, clean, and too-short docs pass through untouched
    assert(out(3L) == (("alpha beta unrelated gamma delta elsewhere", 0)))
    assert(out(4L) == (("completely clean document nothing shared here", 0)))
    assert(out(5L) == (("tiny doc", 0)))
  }

  test("scrubContaminatedSpans merges overlapping spans") {
    // corpus doc embeds FIVE consecutive benchmark words -> two overlapping
    // 4-gram matches whose union covers words 1..5
    val b = Seq((9L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val c = Seq((1L, "pre alpha beta gamma delta epsilon post"))
      .toDF("doc_id", "text")
    val out = Dedup.scrubContaminatedSpans(c, b).collect()
      .map(r => (r.getString(1), r.getInt(2))).head
    assert(out == (("pre post", 2)))
  }
}

class CurationSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  test("curate keeps deduped English docs above the quality bar") {
    val en = ("the cat is on the mat and the dog is in the house " * 4).trim
    val docs = Seq(
      (1L, en),                                         // keeps (en, long, stopwords)
      (2L, en),                                         // exact dup of 1 -> dropped
      (3L, "el gato y el perro en la casa de los dos"), // es -> dropped
      (4L, "x y")                                       // en-ish but low quality -> dropped
    ).toDF("doc_id", "text")
    val out = Curation.curate(docs, minQuality = 0.3).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L))
    assert(out.head.getInt(1) == 52) // n_words carried through
  }

  test("curate targets non-English languages with their own stopword vocabulary") {
    val de = ("der hund ist in das haus und die katze ist nicht da " * 4).trim
    val docs = Seq(
      (1L, de),                                          // keeps (de, long, de-stopwords)
      (2L, de),                                          // exact dup of 1 -> dropped
      (3L, ("the cat is on the mat and the dog is here " * 4).trim) // en -> dropped
    ).toDF("doc_id", "text")
    val out = Curation.curate(docs, langCode = "de", minQuality = 0.3).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L))
    // the quality score counted GERMAN markers: with an English stopword
    // override the same doc scores strictly lower (its text has no English
    // markers, so the 0.3-weighted stopword term drops to zero)
    val deScore = out.head.getDouble(2)
    val enStopScore = Curation.curate(docs, langCode = "de",
        minQuality = 0.0, stopwordLang = Some("en"))
      .where(col("doc_id") === 1L).head.getDouble(2)
    assert(deScore > enStopScore)
    intercept[IllegalArgumentException] {
      Curation.curate(docs, langCode = "xx")
    }
    // real corpus: the de slice is non-empty and disjoint from ns15's en slice
    val corpus = graft.Tables.load(spark, sf, "documents")
    val deIds = Curation.curate(corpus, langCode = "de")
      .collect().map(_.getLong(0)).toSet
    val enIds = Curation.curate(corpus)
      .collect().map(_.getLong(0)).toSet
    assert(deIds.nonEmpty)
    assert(deIds.intersect(enIds).isEmpty)
  }

  test("qualityScore counts stopwords in the requested language") {
    val de = "der hund und die katze ist nicht da"
    val docs = Seq((1L, de)).toDF("doc_id", "text")
    val enRatio = TextAnalysis.qualityScore(docs)
      .head.getAs[Double]("stopword_ratio")
    val deRatio = TextAnalysis.qualityScore(docs, stopwordLang = "de")
      .head.getAs[Double]("stopword_ratio")
    assert(enRatio == 0.0)
    assert(deRatio > 0.5)
    intercept[IllegalArgumentException] {
      TextAnalysis.qualityScore(docs, stopwordLang = "xx")
    }
  }

  test("curation plan is one scan + one aggregation shuffle") {
    val df = Curation.curate(graft.Tables.load(spark, sf, "documents"))
    df.collect()
    // AQE's toString repeats the tree under "== Initial Plan ==" — count
    // nodes in the final plan only
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // single pass over text: exactly one parquet scan, one hash shuffle
    // (the dedup groupBy); the trailing sort is the only other exchange
    assert("Scan parquet".r.findAllIn(p).size == 1, p.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(1200))
  }

  test("typed Dataset loaders expose the north-star tables") {
    val d = graft.Tables.documents(spark, sf)
    val e = graft.Tables.embeddings(spark, sf)
    val doc = d.head()
    assert(doc.text.nonEmpty && doc.n_chars > 0)
    assert(e.head().embedding.length == 64)
    // typed transforms compile against the case class
    assert(d.filter(_.lang != null).count() == d.count())
  }
}

class SimilaritySpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private def embs = Tables.load(spark, sf, "embeddings")
  private def queries: DataFrame = embs.where(col("vec_id") < 5)
    .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))

  test("brute-force top-k: k rows per query, ranked by cosine desc") {
    val rows = Similarity.bruteForceTopK(embs, queries, k = 10).collect()
    assert(rows.length == 50)
    rows.groupBy(_.getLong(0)).foreach { case (_, g) =>
      assert(g.map(_.getInt(1)).toSeq.sorted == (1 to 10))
      val scores = g.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(scores.sameElements(scores.sortBy(-_)))
    }
  }

  test("a zero-norm vector cannot poison top-k (cosine pins at -1, " +
    "never NaN; r12 review fix)") {
    import spark.implicits._
    // 0/0 = NaN orders ABOVE all doubles in Spark — ungarded, the zero
    // vector would be EVERY query's rank-1 neighbor
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = Seq((1L, Array(1.0f, 0.0f))).toDF("query_id", "query_vec")
    val rows = Similarity.bruteForceTopK(corpus, q, k = 3).collect()
    assert(rows.map(_.getInt(1)).toSeq == Seq(1, 2)) // honest n < k
    // the real neighbor ranks first; the zero vector ranks LAST at -1
    assert(rows.head.getLong(2) == 2L)
    assert(rows.last.getLong(2) == 3L && rows.last.getDouble(3) == -1.0)
    assert(rows.forall(r => !r.getDouble(3).isNaN))
    // a zero-norm QUERY gets all -1 scores, never NaN, and marginScores'
    // bigint cast survives it
    val zq = Seq((9L, Array(0.0f, 0.0f))).toDF("query_id", "query_vec")
    val zrows = Similarity.bruteForceTopK(corpus, zq, k = 3).collect()
    assert(zrows.nonEmpty && zrows.forall(_.getDouble(3) == -1.0))
    assert(Similarity.marginScores(corpus, zq, k = 2).collect().nonEmpty)
  }

  test("marginScores equals the top-k recomputation; division-free n-scaled margin") {
    val out = Similarity.marginScores(embs, queries, k = 4)
      .orderBy("query_id").collect()
    assert(out.length == 5)
    val topk = Similarity.bruteForceTopK(embs, queries, k = 4).collect()
      .groupBy(_.getLong(0))
    out.foreach { r =>
      val g = topk(r.getLong(0)).sortBy(_.getInt(1))
      val cms = g.map(x => math.round(x.getDouble(3) * 1e6))
      assert(r.getAs[Long]("best_id") == g.head.getLong(2))
      assert(r.getAs[Long]("best_micro") == cms.head)
      assert(r.getAs[Long]("sum_micro") == cms.sum)
      assert(r.getAs[Long]("n_neighbors") == 4L)
      assert(r.getAs[Long]("margin_n_micro") == cms.head * 4 - cms.sum)
      // the top neighbor is never below its own neighborhood mean
      assert(r.getAs[Long]("margin_n_micro") >= 0L)
    }
    intercept[IllegalArgumentException] {
      Similarity.marginScores(embs, queries, k = 1)
    }
  }

  test("recallReport: exact intersection per query; fully-missed queries report zero") {
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L), (3L, 30L))
      .toDF("query_id", "vec_id")
    val approx = Seq((1L, 10L), (1L, 99L), (2L, 20L), (2L, 21L), (4L, 40L))
      .toDF("query_id", "vec_id")
    val out = Similarity.recallReport(approx, exact)
      .orderBy("query_id").collect()
    // queries come from the EXACT side: the spurious query 4 never appears
    assert(out.map(r => (r.getLong(0), r.getAs[Long]("n_exact"),
      r.getAs[Long]("n_hit"), r.getAs[Long]("recall_per_mille"))).toSeq ==
      Seq((1L, 2L, 1L, 500L), (2L, 2L, 2L, 1000L), (3L, 1L, 0L, 0L)))
  }

  test("recallReport over the real pipelines: consistent counts, self-recall is total") {
    val q = embs.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val exact = Similarity.bruteForceTopK(embs, q, k = 10)
    val rep = Similarity.recallReport(
      Similarity.lshTopK(embs, q, k = 10), exact).collect()
    assert(rep.length == 5)
    rep.foreach { r =>
      val (n, h, p) = (r.getAs[Long]("n_exact"), r.getAs[Long]("n_hit"),
        r.getAs[Long]("recall_per_mille"))
      assert(n == 10L && h >= 0L && h <= n && p == h * 1000 / n, s"$r")
    }
    // a result set diffed against itself must report total recall
    val self = Similarity.recallReport(exact, exact).collect()
    assert(self.forall(_.getAs[Long]("recall_per_mille") == 1000L))
  }

  test("maxsim: scalar-replay equivalence, self-exclusion, and the identical-vector bound") {
    // driver-side replay of the exact expression tree on a tiny frame
    val rows = Similarity.maxSimTopK(embs, queries, k = 10).collect()
    assert(rows.length == 50)
    rows.foreach(r => assert(r.getLong(2) != r.getLong(0))) // never self
    val vecs = embs.where(col("vec_id") < 30).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def maxsim(q: Array[Double], d: Array[Double]): Double = {
      val bs = 8
      (0 until 8).map { qb =>
        (0 until 8).map { db =>
          (0 until bs).map(i => q(qb * bs + i) * d(db * bs + i)).sum
        }.max
      }.sum
    }
    // every scored (query, doc) pair with both ids < 30 must match the
    // scalar computation to the rounding contract
    rows.filter(r => r.getLong(0) < 30 && r.getLong(2) < 30).foreach { r =>
      val expect = maxsim(vecs(r.getLong(0)), vecs(r.getLong(2)))
      assert(math.abs(r.getDouble(3) - expect) < 1e-6, r.toString)
    }
    // maxsim(v, v) >= maxsim's diagonal blocks = sum of block self-dots
    // (each query block's best match includes its own twin) — sanity on
    // one vector against an identical copy
    import spark.implicits._
    val one = Seq((100L, vecs(0L).map(_.toFloat))).toDF("vec_id", "embedding")
    val q1 = Seq((0L, vecs(0L).map(_.toFloat))).toDF("query_id", "query_vec")
    val self = Similarity.maxSimTopK(one, q1, k = 1).head.getDouble(3)
    val diag = (0 until 8).map(b =>
      (0 until 8).map(i => vecs(0L)(b * 8 + i) * vecs(0L)(b * 8 + i)).sum).sum
    assert(self >= diag - 1e-6)
  }

  test("cosine is 1 for identical vectors, bounded in [-1,1]") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f)))
      .toDF("a", "b")
    val c = df.select(Similarity.cosine(
      col("a").cast("array<double>"), col("b").cast("array<double>"))).head.getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
    val all = Similarity.bruteForceTopK(embs, queries, k = 100)
      .select("cosine").collect().map(_.getDouble(0))
    assert(all.forall(v => v >= -1.0001 && v <= 1.0001))
  }

  test("LSH top-1 recall is high on clustered data (where ANN is meaningful)") {
    // 50 base vectors, each with a near-duplicate (small perturbation):
    // a vector's true nearest neighbor is its twin, and sign-LSH must put
    // twins in the same bucket with high probability. Uniform random data
    // (the synthetic embeddings table) has no near neighbors, so recall
    // there says nothing — this is the honest ANN test.
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0L until 50L).flatMap { i =>
      val base = Array.fill(64)(rnd.nextFloat() * 2 - 1)
      val twin = base.map(v => v + (rnd.nextFloat() - 0.5f) * 0.02f)
      Seq((i * 2, base), (i * 2 + 1, twin))
    }
    val clustered = rows.toDF("vec_id", "embedding")
    val qs = clustered.where(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val lsh = Similarity.lshTopK(clustered, qs, k = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val hits = (0L until 50L).count(i => lsh.get(i * 2).contains(i * 2 + 1))
    assert(hits >= 45, s"twin recall $hits/50") // sign-LSH robust to 1% noise
  }

  test("LSH on uniform data returns correctly-ranked bucket candidates") {
    val lsh = Similarity.lshTopK(embs, queries, k = 10).collect()
    // uniform random vectors: buckets are sparse, few candidates — but
    // whatever is returned must be ranked within each query
    lsh.groupBy(_.getLong(0)).foreach { case (_, g) =>
      val byRank = g.sortBy(_.getInt(1))
      val scores = byRank.map(_.getDouble(3))
      assert(scores.sameElements(scores.sortBy(-_)))
    }
  }

  test("LSH bucket assignment is deterministic") {
    val a = embs.select(Similarity.lshBucket(
      col("embedding").cast("array<double>")).as("b")).collect().map(_.getLong(0))
    val b = embs.select(Similarity.lshBucket(
      col("embedding").cast("array<double>")).as("b")).collect().map(_.getLong(0))
    assert(a.sameElements(b))
  }

  test("IVF twin recall is high on clustered data") {
    // same honest-ANN setup as the LSH test: each query's true nearest
    // neighbor is its perturbed twin; a twin lands in the same (or a
    // probed) IVF cell because both are near the same centroid
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0L until 50L).flatMap { i =>
      val base = Array.fill(64)(rnd.nextFloat() * 2 - 1)
      val twin = base.map(v => v + (rnd.nextFloat() - 0.5f) * 0.02f)
      Seq((i * 2, base), (i * 2 + 1, twin))
    }
    val clustered = rows.toDF("vec_id", "embedding")
    val qs = clustered.where(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val ivf = Similarity.ivfTopK(clustered, qs, k = 1,
      numCentroids = 8, nProbe = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val hits = (0L until 50L).count(i => ivf.get(i * 2).contains(i * 2 + 1))
    assert(hits >= 45, s"twin recall $hits/50")
  }

  test("IVF results are ranked and deterministic across runs") {
    val a = Similarity.ivfTopK(embs, queries, k = 5).collect()
    val b = Similarity.ivfTopK(embs, queries, k = 5).collect()
    assert(a.toSeq == b.toSeq)
    a.groupBy(_.getLong(0)).foreach { case (_, g) =>
      val scores = g.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(scores.sameElements(scores.sortBy(-_)))
    }
  }

  test("partitioned IVF index matches in-memory IVF and prunes partitions") {
    val dir = tempDir("graft_ivf").toString
    Similarity.writeIvfIndex(embs, dir)
    val fromIdx = Similarity.ivfTopKFromIndex(spark, dir, queries)
    val inMem = Similarity.ivfTopK(embs, queries)
    assert(fromIdx.collect().toSeq == inMem.collect().toSeq)
    // the probe set must reach the scan as a partition filter — at 100 TB
    // this is what turns a full-corpus read into an nProbe/C-cells read
    val plan = fromIdx.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .find(l => l.contains("FileScan") && l.contains("PartitionFilters"))
    assert(scanLine.exists(l =>
      l.substring(l.indexOf("PartitionFilters")).take(200).contains("cell")),
      scanLine.getOrElse(plan.take(1500)))
  }

  test("updateIvfIndex appends to frozen cells: new vectors are found, base untouched") {
    import spark.implicits._
    val dir = tempDir("graft_ivf_upd").toString
    val base = s"$dir/base"
    // corpus: 100 random vectors; batch: near-twins of 5 of them — a twin
    // lands in its base vector's cell (same nearest centroid), so the
    // updated index MUST return it as its base's rank-1 neighbor
    val rnd = new scala.util.Random(21)
    val corpusRows = (0L until 100L)
      .map(i => (i, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val batchRows = (0L until 5L).map { i =>
      (1000L + i, corpusRows(i.toInt)._2.map(v => v + (rnd.nextFloat() - 0.5f) * 0.02f))
    }
    Similarity.writeIvfIndex(
      corpusRows.toDF("vec_id", "embedding"), base, fingerprint = Some("fp-a"))
    assert(PersistedIndex.matches(spark, base, Kind.Ivf, "fp-a"))
    assert(!PersistedIndex.matches(spark, base, Kind.Ivf, "fp-b"))

    val work = s"$dir/work"
    PersistedIndex.copy(spark, base, work)
    Similarity.updateIvfIndex(batchRows.toDF("vec_id", "embedding"), work)

    val qs = corpusRows.take(5)
      .map { case (i, v) => (i, v) }.toDF("query_id", "query_vec")
    val got = Similarity.ivfTopKFromIndex(spark, work, qs, k = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    (0L until 5L).foreach { i =>
      assert(got(i) == 1000L + i, s"query $i top-1 should be its twin")
    }
    // scores match the exact scorer (appended rows never mis-score)
    val all = corpusRows ++ batchRows
    val bf = Similarity.bruteForceTopK(
        all.toDF("vec_id", "embedding"), qs, k = 1).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    Similarity.ivfTopKFromIndex(spark, work, qs, k = 1).collect().foreach { r =>
      assert(bf(r.getLong(0)) == ((r.getLong(2), r.getDouble(3))), r.getLong(0))
    }
    // the branched base never saw the append
    val baseGot = Similarity.ivfTopKFromIndex(spark, base, qs, k = 1).collect()
      .map(_.getLong(2)).toSet
    assert(!baseGot.exists(_ >= 1000L))
    // partition pruning survives the append (cells stay the partition key)
    val plan = Similarity.ivfTopKFromIndex(spark, work, qs, k = 1)
      .queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .find(l => l.contains("FileScan") && l.contains("PartitionFilters"))
    assert(scanLine.exists(l =>
      l.substring(l.indexOf("PartitionFilters")).take(200).contains("cell")),
      scanLine.getOrElse(plan.take(1500)))
  }

  test("IVF probed cells agree with brute force on its own candidates") {
    // every (query, vec) pair IVF returns must carry the same cosine the
    // exact scorer computes — pruning may drop pairs, never mis-score them
    val bf = Similarity.bruteForceTopK(embs, queries, k = 2000).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val ivf = Similarity.ivfTopK(embs, queries, k = 10).collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      assert(bf(key) === r.getDouble(3), key)
    }
  }

  test("PQ: codebook members encode to themselves and score exactly") {
    // when the corpus IS the 16-entry codebook, every vector's nearest
    // codebook entry per subspace is itself (distance 0), so ADC becomes
    // EXACT: adc_ip(q, x) == dot(q, x) bit-for-bit
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val rows = (0L until 16L).map(i => (i, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val corpus = rows.toDF("vec_id", "embedding")
    val qs = corpus.where(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val pq = Similarity.pqTopK(corpus, qs, k = 15).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val vecs = rows.toMap
    pq.foreach { case ((q, x), ip) =>
      val exact = vecs(q).map(_.toDouble).zip(vecs(x).map(_.toDouble))
        .foldLeft(0.0) { case (acc, (a, b)) => acc + a * b }
      assert(math.abs(ip - exact) < 1e-6, s"($q,$x): $ip vs $exact")
    }
    assert(pq.size == 45) // 3 queries × 15
  }

  test("PQ twin recall is high on clustered data") {
    // same honest-ANN setup as LSH/IVF: a twin quantizes to its base's
    // codes in (nearly) every subspace, so ADC ranks it at the top
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val rows = (0L until 50L).flatMap { i =>
      val base = Array.fill(64)(rnd.nextFloat() * 2 - 1)
      val twin = base.map(v => v + (rnd.nextFloat() - 0.5f) * 0.02f)
      Seq((i * 2, base), (i * 2 + 1, twin))
    }
    val clustered = rows.toDF("vec_id", "embedding")
    val qs = clustered.where(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val pq = Similarity.pqTopK(clustered, qs, k = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val hits = (0L until 50L).count(i => pq.get(i * 2).contains(i * 2 + 1))
    assert(hits >= 40, s"twin recall $hits/50")
  }

  test("PQ codes are compact, in-range, and deterministic") {
    val cb = Similarity.pqCodebook(embs)
    assert(cb.length == 16 && cb.forall(_.length == 64))
    val codes = Similarity.pqEncode(embs, cb).collect()
    assert(codes.length == embs.count())
    codes.foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.length == 8) // 8 ints vs 64 floats: the 16× compression
      assert(cs.forall(c => c >= 0 && c < 16))
    }
    val again = Similarity.pqEncode(embs, cb).collect()
    assert(codes.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("PQ index: from-index equals in-memory; frozen-codebook append finds new twins") {
    import spark.implicits._
    val dir = tempDir("graft_pq").toString
    val idx = s"$dir/idx"
    Similarity.writePqIndex(embs, idx, fingerprint = Some("fp-a"))
    assert(PersistedIndex.matches(spark, idx, Kind.Pq, "fp-a"))
    assert(!PersistedIndex.matches(spark, idx, Kind.Pq, "fp-b"))
    val fromIdx = Similarity.pqTopKFromIndex(spark, idx, queries)
    val inMem = Similarity.pqTopK(embs, queries)
    assert(fromIdx.collect().toSeq == inMem.collect().toSeq)

    // append EXACT copies of 3 corpus vectors under new ids: identical
    // vectors take identical codes under the frozen codebook, so each
    // copy's ADC score against any query equals its original's — the
    // appended rows must appear in the served results
    val copies = embs.where(col("vec_id") < 3)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    Similarity.updatePqIndex(copies, idx)
    val updated = Similarity.pqTopKFromIndex(spark, idx, queries, k = 2000)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val origs = updated.filter { case ((_, v), _) => v < 3 }
    origs.foreach { case ((qid, v), ip) =>
      if (qid != v) // self-matches are excluded for the copy's original id
        assert(updated.get((qid, v + 1000000L)).contains(ip),
          s"copy of $v missing or mis-scored for query $qid")
    }
    assert(origs.nonEmpty)
  }

  test("IVF-PQ: probed-cell pruning with PQ-exact scores, partition-pruned scan") {
    val dir = tempDir("graft_ivfpq").toString
    Similarity.writeIvfPqIndex(embs, dir, fingerprint = Some("fp-x"))
    assert(PersistedIndex.matches(spark, dir, Kind.IvfPq, "fp-x"))
    val df = Similarity.ivfPqTopKFromIndex(spark, dir, queries, k = 10)
    val got = df.collect()
    assert(got.nonEmpty)
    // (a) every returned pair's score equals the flat PQ scorer's score
    // for the same pair — cell pruning may drop pairs, never mis-score
    val flat = Similarity.pqTopK(embs, queries, k = 2000).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    got.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      assert(flat(key) == r.getDouble(3), key)
    }
    // (b) ranks are contiguous from 1 and ordered by score desc per query
    got.groupBy(_.getLong(0)).foreach { case (_, g) =>
      val byRank = g.sortBy(_.getInt(1))
      assert(byRank.map(_.getInt(1)).toSeq == (1 to byRank.length))
      val scores = byRank.map(_.getDouble(3))
      assert(scores.sameElements(scores.sortBy(-_)))
    }
    // (c) the probe set reaches the scan as a partition filter
    val plan = df.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .find(l => l.contains("FileScan") && l.contains("PartitionFilters"))
    assert(scanLine.exists(l =>
      l.substring(l.indexOf("PartitionFilters")).take(200).contains("cell")),
      scanLine.getOrElse(plan.take(1500)))
    // (d) deterministic across runs
    assert(Similarity.ivfPqTopKFromIndex(spark, dir, queries).collect().toSeq ==
      Similarity.ivfPqTopKFromIndex(spark, dir, queries).collect().toSeq)
    // (e) frozen-quantizer append: exact copies of 3 corpus vectors under
    // new ids take identical cells AND codes, so each copy scores exactly
    // like its original and is served from the updated index
    import spark.implicits._
    val copies = embs.where(col("vec_id") < 3)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    Similarity.updateIvfPqIndex(copies, dir)
    val updated = Similarity
      .ivfPqTopKFromIndex(spark, dir, queries, k = 2000).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val origs = updated.filter { case ((_, v), _) => v < 3 }
    assert(origs.nonEmpty)
    origs.foreach { case ((qid, v), ip) =>
      if (qid != v)
        assert(updated.get((qid, v + 1000000L)).contains(ip),
          s"copy of $v missing or mis-scored for query $qid")
    }
  }

  test("IVF-PQ rerank: exact scores on ADC candidates, recall >= ADC at equal k") {
    val dir = tempDir("graft_rerank").toString
    Similarity.writeIvfPqIndex(embs, dir)
    val k = 10
    val rer = Similarity
      .ivfPqTopKReranked(spark, dir, queries, embs, k = k, rerankFactor = 4)
      .collect()
    assert(rer.nonEmpty)
    // (a) every reranked score equals the brute-force exact cosine for the
    // same pair — stage 2 must not introduce its own approximation
    val exact = Similarity.bruteForceTopK(embs, queries, k = 2000).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    rer.foreach { r =>
      assert(exact((r.getLong(0), r.getLong(2))) == r.getDouble(3), r.toString)
    }
    // (b) recall vs exact top-k: rerank >= plain ADC at the same k — the
    // whole point of the refinement stage
    val truth = Similarity.bruteForceTopK(embs, queries, k = k).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val adc = Similarity.ivfPqTopKFromIndex(spark, dir, queries, k = k).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val rerSets = rer.groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    def recall(got: Map[Long, Set[Long]]): Double = {
      val per = truth.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
      per.sum / per.size
    }
    assert(recall(rerSets) >= recall(adc),
      s"rerank recall ${recall(rerSets)} < ADC recall ${recall(adc)}")
    // (c) ranks contiguous and ordered per query
    rer.groupBy(_.getLong(0)).foreach { case (_, g) =>
      val byRank = g.sortBy(_.getInt(1))
      assert(byRank.map(_.getInt(1)).toSeq == (1 to byRank.length))
      val scores = byRank.map(_.getDouble(3))
      assert(scores.sameElements(scores.sortBy(-_)))
    }
  }

  test("PQ/IVF-PQ serving returns empty, not an exception, for empty queries") {
    val dir = tempDir("graft_pq_empty").toString
    Similarity.writeIvfPqIndex(embs, dir)
    val pqDir = tempDir("graft_pq_e2").toString
    Similarity.writePqIndex(embs, pqDir)
    val noQueries = queries.where(col("query_id") < 0)
    // an empty query frame leaves zero probed cells / zero scored pairs —
    // the m-read must not head() an empty frame (ADVICE r4)
    assert(Similarity.ivfPqTopKFromIndex(spark, dir, noQueries).count() == 0)
    assert(Similarity.pqTopKFromIndex(spark, pqDir, noQueries).count() == 0)
    // ... but a zero-row INDEX is corrupt, not empty-result: serving off
    // it must fail loudly even though the probe filter tolerates emptiness
    val wiped = spark.read.parquet(s"$pqDir/codes").where(col("vec_id") < 0)
    wiped.write.mode("overwrite").parquet(s"$pqDir/codes_w")
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$pqDir/codes"))
    new java.io.File(s"$pqDir/codes_w").renameTo(
      new java.io.File(s"$pqDir/codes"))
    val e = intercept[IllegalArgumentException] {
      Similarity.pqTopKFromIndex(spark, pqDir, queries).count()
    }
    assert(e.getMessage.contains("no code rows"), e.getMessage)
  }

  test("PQ plan: one corpus scan, broadcast queries, codegen'd encode") {
    val df = Similarity.pqTopK(embs, queries, k = 10)
    val p = df.queryExecution.executedPlan.toString
    // flat-scan shape: code table scanned once against broadcast LUTs —
    // no shuffle of the corpus before the top-k window
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 2, s"expected corpus + query scans, got $scans")
  }

  test("kmeansCentroids with zero iterations IS the md5 sample") {
    import org.apache.spark.sql.functions.col
    val init = Similarity.kmeansCentroids(embs, numCentroids = 8, iterations = 0)
    val sample = {
      // same device the operator uses: normalized corpus, md5 ranking
      val c = embs.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      Similarity.centroidVectors(
        c.withColumn("nv", Similarity.norm(col("v"))), 8)
    }
    assert(init.length == 8)
    init.zip(sample).foreach { case ((i, a), (j, b)) =>
      assert(i == j); assert(a.sameElements(b))
    }
  }

  test("kmeansCentroids is deterministic across runs (rounding absorbs sum-order noise)") {
    val a = Similarity.kmeansCentroids(embs, numCentroids = 8, iterations = 2)
    val b = Similarity.kmeansCentroids(embs, numCentroids = 8, iterations = 2)
    a.zip(b).foreach { case ((i, x), (j, y)) =>
      assert(i == j); assert(x.sameElements(y), s"centroid $i differs")
    }
    // trained centroids are unit-length (spherical k-means) unless a cell
    // was empty and kept its (also unit-length) init
    a.foreach { case (_, v) =>
      val n = math.sqrt(v.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-9 || n == 0.0)
    }
  }

  test("kmeans-trained IVF twin recall is high on clustered data") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0L until 50L).flatMap { i =>
      val base = Array.fill(64)(rnd.nextFloat() * 2 - 1)
      val twin = base.map(v => v + (rnd.nextFloat() - 0.5f) * 0.02f)
      Seq((i * 2, base), (i * 2 + 1, twin))
    }
    val clustered = rows.toDF("vec_id", "embedding")
    val qs = clustered.where(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val out = Similarity.kmeansIvfTopK(clustered, qs, k = 1,
      numCentroids = 8, iterations = 2, nProbe = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val hits = (0L until 50L).count(i => out.get(i * 2).contains(i * 2 + 1))
    assert(hits >= 45, s"twin recall $hits/50")
  }

  test("kmeansIvfTopK output is ranked per query and well-formed") {
    val rows = Similarity.kmeansIvfTopK(embs, queries, k = 5).collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, g) =>
      val byRank = g.sortBy(_.getInt(1))
      assert(byRank.map(_.getInt(1)).toSeq == (1 to byRank.length))
      val scores = byRank.map(_.getDouble(3))
      assert(scores.sameElements(scores.sortBy(-_)))
    }
  }
}

class TextAnalysisSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private def docs = Tables.load(spark, sf, "documents")

  test("languageId predicts a known language code for every doc") {
    val codes = TextAnalysis.langMarkers.map(_._1).toSet
    val rows = TextAnalysis.languageId(docs).collect()
    assert(rows.length == docs.count())
    assert(rows.forall(r => codes.contains(r.getString(2))))
  }

  test("qualityScore features are in sane domains") {
    val rows = TextAnalysis.qualityScore(docs).collect()
    rows.foreach { r =>
      assert(r.getInt(1) > 0)                       // n_chars
      assert(r.getInt(2) > 0)                       // n_words
      assert(r.getDouble(3) > 0 && r.getDouble(3) < 50) // avg_word_len
      assert(r.getDouble(4) >= 0 && r.getDouble(4) <= 1) // stopword_ratio
      assert(r.getDouble(5) >= 0 && r.getDouble(5) <= 1) // quality_score
    }
  }

  test("tokenCounts: ws tokens <= bpe tokens for space-separated text") {
    val rows = TextAnalysis.tokenCounts(docs).collect()
    rows.foreach { r =>
      assert(r.getInt(1) > 0)
      assert(r.getInt(2) >= r.getInt(1)) // every ws token has >=1 bpe token
      assert(r.getLong(3) > 0)
    }
  }

  test("fingerprint: md5 + rolling hash deterministic, rolling in [0, 1e9+7)") {
    val a = TextAnalysis.fingerprint(docs).collect()
    val b = TextAnalysis.fingerprint(docs).collect()
    assert(a.sameElements(b))
    a.foreach { r =>
      assert(r.getString(1).matches("[0-9a-f]{32}"))
      assert(r.getLong(2) >= 0 && r.getLong(2) < 1000000007L)
    }
    // distinct texts → distinct fingerprints (on this corpus)
    assert(a.map(_.getString(1)).distinct.length == a.length)
  }

  test("chunkDocuments carries extra columns through unchanged") {
    import spark.implicits._
    val in = Seq((1L, ("w " * 100).trim, "en", 7L))
      .toDF("doc_id", "text", "lang", "extra")
    val out = TextAnalysis.chunkDocuments(in, carry = Seq("lang", "extra"))
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[String]("lang") == "en")
      assert(r.getAs[Long]("extra") == 7L)
    }
    // and the default (no carry) output schema is unchanged (ns39 contract)
    assert(TextAnalysis.chunkDocuments(in).columns.toSeq ==
      Seq("doc_id", "chunk_id", "n_tokens", "chunk_text"))
  }

  test("chunkLangConsistency flags the embedded-minority span a doc-level langid misses") {
    import spark.implicits._
    // 32 English marker tokens then 32 German marker tokens: doc-level
    // argmax says 'en' (tie broken ascending would say 'de' on equal
    // scores — so make en strictly dominant: 33 en + 31 de), while the
    // second chunk is pure German.
    val mixed = (Seq.fill(33)("the") ++ Seq.fill(31)("und")).mkString(" ")
    val clean = Seq.fill(40)("the").mkString(" ")
    val in = Seq((1L, mixed, "en"), (2L, clean, "en"))
      .toDF("doc_id", "text", "lang")
    // doc-level: both predicted en (agreement — the mixed doc looks clean)
    val docPred = TextAnalysis.languageId(in).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(docPred(1L) == "en" && docPred(2L) == "en")
    // chunk-level: doc 1's second chunk disagrees
    val out = TextAnalysis.chunkLangConsistency(in, chunkTokens = 32)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_chunks"), r.getAs[Long]("n_offlang"),
          r.getAs[Long]("offlang_per_mille"))))
      .toMap
    assert(out(1L)._1 == 2L && out(1L)._2 >= 1L && out(1L)._3 >= 500L)
    assert(out(2L) == ((2L, 0L, 0L)))
  }

  test("charEntropy: hand-computed micro-nats, degenerate flag, empty-doc drop") {
    import spark.implicits._
    val in = Seq(
      (1L, "aabb"),        // 2 chars × 2 -> H = ln 2 exactly
      (2L, "aaaa"),        // degenerate -> H = 0, flagged
      (3L, "abcd"),        // 4 distinct -> H = ln 4
      (4L, "")             // no characters -> dropped
    ).toDF("doc_id", "text")
    val out = TextAnalysis.charEntropy(in).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_chars"), r.getAs[Long]("n_distinct"),
          r.getAs[Long]("entropy_micro"), r.getAs[Boolean]("is_low_entropy"))))
      .toMap
    val ln2 = math.round(math.log(2.0) * 1e6) // 693147
    val ln4 = math.round(math.log(4.0) * 1e6)
    assert(out(1L) == ((4L, 2L, ln2, true)))
    assert(out(2L) == ((4L, 1L, 0L, true)))
    assert(out(3L) == ((4L, 4L, ln4, true))) // ln 4 ≈ 1.386 < 2.5 default
    assert(!out.contains(4L))
    // a prose-like doc clears the default gate
    val prose = Seq((9L, "the quick brown fox jumps over the lazy dog " +
      "while 42 other foxes watch from 7 hills")).toDF("doc_id", "text")
    val p = TextAnalysis.charEntropy(prose).head()
    assert(!p.getAs[Boolean]("is_low_entropy"))
    assert(p.getAs[Long]("entropy_micro") > 2500000L)
  }

  test("langConfusion: exact cells, row conservation, NULL-label row reported") {
    import spark.implicits._
    val in = Seq(
      (1L, "the a of", "en"),          // en -> en
      (2L, "der und zu", "en"),        // en -> de (confusion)
      (3L, "der die das", "de"),       // de -> de
      (4L, "the of and", null: String) // NULL label: own row
    ).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.langConfusion(in).collect()
      .map(r => (Option(r.getString(0)), r.getString(1)) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("row_per_mille")))).toMap
    assert(out == Map(
      (Some("en"), "en") -> ((1L, 500L)),
      (Some("en"), "de") -> ((1L, 500L)),
      (Some("de"), "de") -> ((1L, 1000L)),
      (None, "en") -> ((1L, 1000L))))
    // row conservation on the real corpus: per-lang per-milles Σ ≈ 1000
    // (exact integer floor loses at most |cells|-1 per row)
    val rows = TextAnalysis.langConfusion(docs).collect()
      .groupBy(_.getString(0))
    rows.foreach { case (lang, cells) =>
      val s = cells.map(_.getAs[Long]("row_per_mille")).sum
      assert(s <= 1000 && s > 1000 - cells.length, s"$lang: $s")
    }
  }

  test("vocabGrowth: exact totals, monotone cumulatives, full-corpus type count") {
    val out = TextAnalysis.vocabGrowth(docs).collect()
    assert(out.nonEmpty && out.length <= 10)
    import org.apache.spark.sql.functions._
    val totalToks = docs
      .select(explode(split(col("text"), " ")).as("t")).count()
    val totalTypes = docs
      .select(explode(split(col("text"), " ")).as("t")).distinct().count()
    assert(out.map(_.getAs[Long]("n_tokens")).sum == totalToks)
    assert(out.map(_.getAs[Long]("n_new_types")).sum == totalTypes)
    assert(out.last.getAs[Long]("cum_tokens") == totalToks)
    assert(out.last.getAs[Long]("cum_types") == totalTypes)
    // cumulatives are the running sums, strictly increasing in tokens
    out.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getAs[Long]("cum_tokens") > a.getAs[Long]("cum_tokens"))
        assert(b.getAs[Long]("cum_types") >= a.getAs[Long]("cum_types"))
      case _ =>
    }
  }
}

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private def docs = Tables.load(spark, sf, "documents")

  test("packBinary produces binary content + typed metadata struct") {
    val media = Multimodal.packBinary(docs)
    val schema = media.schema
    assert(schema("content").dataType ==
      org.apache.spark.sql.types.BinaryType)
    assert(schema("meta").dataType.isInstanceOf[
      org.apache.spark.sql.types.StructType])
    val r = media.orderBy("doc_id").head
    val bytes = r.getAs[Array[Byte]]("content")
    val meta = r.getStruct(2)
    assert(bytes.length == meta.getLong(2)) // n_bytes matches content
  }

  test("extractFeatures: per-partition batched, 16-dim normalized histograms") {
    val media = Multimodal.packBinary(docs)
    val feats = Multimodal.extractFeatures(media)
    // partitioning preserved: no shuffle introduced
    assert(feats.rdd.getNumPartitions == media.rdd.getNumPartitions)
    val rows = feats.orderBy("doc_id").collect()
    assert(rows.length == docs.count())
    rows.foreach { r =>
      val f = r.getSeq[Float](1)
      assert(f.length == Multimodal.featureDim)
      assert(math.abs(f.sum - 1.0f) < 1e-3) // normalized histogram
      // exact integer counts ride along and sum to the blob size —
      // consumers never recover counts from the float fractions
      val counts = r.getSeq[Long](2)
      assert(counts.length == Multimodal.featureDim)
      assert(counts.sum == r.getLong(3))
    }
  }

  test("extractFeatures is deterministic (stub decode is pure)") {
    val media = Multimodal.packBinary(docs)
    val a = Multimodal.extractFeatures(media).orderBy("doc_id").collect()
    val b = Multimodal.extractFeatures(media).orderBy("doc_id").collect()
    assert(a.sameElements(b))
  }

  test("featureStats aggregates mean features per source") {
    val media = Multimodal.packBinary(docs)
    val stats = Multimodal.featureStats(
      Multimodal.extractFeatures(media), docs)
    val rows = stats.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Double](1).length == Multimodal.featureDim)
    }
  }

  test("frameSample with everyK=1 reassembles the original blob") {
    val media = Multimodal.packBinary(docs.limit(20))
    val frames = Multimodal.frameSample(media, frameBytes = 64, everyK = 1)
      .collect().groupBy(_.getLong(0))
    val originals = media.select("doc_id", "content").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(frames.nonEmpty)
    frames.foreach { case (id, fs) =>
      val joined = fs.sortBy(_.getInt(1))
        .flatMap(_.getAs[Array[Byte]](3)).toArray
      assert(java.util.Arrays.equals(joined, originals(id)), id)
    }
  }

  test("frameSample everyK=4 keeps every 4th frame with source indices") {
    val media = Multimodal.packBinary(docs.limit(20))
    val all = Multimodal.frameSample(media, 64, everyK = 1).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    val sampled = Multimodal.frameSample(media, 64, everyK = 4).collect()
    sampled.groupBy(_.getLong(0)).foreach { case (id, fs) =>
      assert(fs.length == (all(id) + 3) / 4, id)
      assert(fs.forall(r => r.getInt(2) == r.getInt(1) * 4), id)
    }
  }

  test("ImageLuminanceDecoder decodes a real BMP and a real PNG (pure JVM)") {
    // 8×4 image: left half black (lum 0 → bin 0), right half white
    // (lum 255 → bin 15), so the histogram is fully determined
    val img = new java.awt.image.BufferedImage(
      8, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 8)
      img.setRGB(x, y, if (x < 4) 0x000000 else 0xffffff)
    for (fmt <- Seq("bmp", "png")) {
      val baos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, baos), fmt)
      val hist = ImageLuminanceDecoder.decode(baos.toByteArray)
      assert(hist(0) == 16L, fmt)
      assert(hist(15) == 16L, fmt)
      assert(hist.sum == 32L, fmt)
    }
    // mid-gray lands mid-bin: lum 128 → bin 8
    val gray = new java.awt.image.BufferedImage(
      2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 2) gray.setRGB(x, y, 0x808080)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(gray, "bmp", baos)
    assert(ImageLuminanceDecoder.decode(baos.toByteArray)(8) == 4L)
    // undecodable bytes degrade to all-zero counts, never throw
    assert(ImageLuminanceDecoder.decode("not an image".getBytes).sum == 0L)
    assert(ImageLuminanceDecoder.decode(null).sum == 0L)
  }

  test("WavAmplitudeDecoder decodes real 16-bit PCM WAV (pure JVM)") {
    import javax.sound.sampled._
    // silence → bin 8; +max → bin 15; -max → bin 0
    val samples: Array[Short] =
      Array(0, 0, Short.MaxValue, Short.MinValue)
    val pcm = samples.flatMap(s =>
      Array((s & 0xff).toByte, ((s >> 8) & 0xff).toByte))
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val baos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, samples.length),
      AudioFileFormat.Type.WAVE, baos)
    val hist = WavAmplitudeDecoder.decode(baos.toByteArray)
    assert(hist(8) == 2L)
    assert(hist(15) == 1L)
    assert(hist(0) == 1L)
    assert(hist.sum == samples.length)
    assert(WavAmplitudeDecoder.decode("not audio".getBytes).sum == 0L)
    assert(WavAmplitudeDecoder.decode(null).sum == 0L)
  }

  test("extractFeatures runs a real decoder through the same batched plan") {
    import spark.implicits._
    val img = new java.awt.image.BufferedImage(
      4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 4) img.setRGB(x, y, 0xffffff)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", baos)
    val blob = baos.toByteArray
    val media = Seq((1L, blob), (2L, "garbage".getBytes))
      .toDF("doc_id", "content")
      .withColumn("meta", struct(
        lit("en").as("lang"), lit("img").as("source"),
        length(col("content")).cast("long").as("n_bytes")))
    val out = Multimodal.extractFeatures(media, ImageLuminanceDecoder)
      .orderBy("doc_id").collect()
    assert(out(0).getSeq[Long](2)(15) == 16L) // 16 white pixels
    assert(out(0).getSeq[Float](1)(15) == 1.0f) // normalized
    assert(out(1).getSeq[Long](2).sum == 0L) // corrupt blob → zero row
  }

  test("resizeFeatures mean-pools and preserves the vector mean") {
    val media = Multimodal.packBinary(docs.limit(20))
    val feats = Multimodal.extractFeatures(media)
    val resized = Multimodal.resizeFeatures(feats, outDim = 4)
      .orderBy("doc_id").collect()
    val full = feats.orderBy("doc_id").collect()
    resized.zip(full).foreach { case (r, f) =>
      val small = r.getSeq[Float](1)
      val big = f.getSeq[Float](1)
      assert(small.length == 4)
      assert(math.abs(small.sum / 4 - big.sum / 16) < 1e-4)
    }
  }
}
