package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** T12 — real byte-pair-encoding tokenization (the merges-table algorithm
  * of Sennrich et al. 2016, the public BPE used by GPT-2-style vocabs),
  * replacing the chars/4 estimate wherever a training-data budget needs
  * honest token counts ([[Sampling.packSequences]]'s `tokenCountCol`,
  * corpus mixing weights).
  *
  * The tokenizer is a pure function of an ORDERED merges table: a word is
  * split to characters, then the merge with the lowest rank whose pair is
  * adjacent in the token list is applied (leftmost occurrence first) until
  * no listed pair remains. One occurrence per step is equivalent to the
  * batch form: merge ranks are topologically ordered by construction — a
  * pair can only enter the table after the merges that create its halves —
  * so applying the best pair's leftmost occurrence can never surface a
  * better-ranked pair than the one being applied. That single-step form is
  * what the DuckDB oracle replays verbatim as a recursive CTE
  * ([[oracleSql]]), making the whole tokenizer hash-checkable: integer
  * ranks, string concatenation, no floats anywhere.
  *
  * Scale shape (100 TB), two regimes since r16:
  *   - [[encodeDictionary]] / [[fertilityReport]] keep the DICTIONARY
  *     shape: the per-word merge loop is memoized over the distinct-word
  *     dictionary, never run per corpus row — one data-sized shuffle
  *     (word distinct), the iterative encode over |vocab| words, then an
  *     equality join back to the exploded corpus (AQE broadcasts the
  *     dictionary while it fits). Right when the consumer needs
  *     vocabulary-keyed output anyway.
  *   - [[tokenize]] computes its per-doc summaries INSIDE the document
  *     row: one deterministic UDF walks the pre-token array with a
  *     PER-TASK memoized encoder (entry-capped; see the method doc), so
  *     the distinct-vocabulary exchange, the dictionary join, and the
  *     corpus-sized regroup are gone — zero exchanges. Encode values are
  *     identical per raw pre-token in both regimes.
  * The non-codegen merge loop is O(len²) per distinct word either way —
  * this is the one place an iterative Scala function beats any Catalyst
  * expression, and it runs on the bounded (distinct-word) side.
  *
  * Training ([[train]]) follows the same split: pair counting is the
  * data-sized distributed step (one word-frequency shuffle, capped at
  * `maxVocab` words by frequency — the standard sampling cap), the
  * `numMerges` greedy rounds run driver-side over that bounded dictionary,
  * exactly like public tokenizer trainers. The shipped default table
  * (`graft/bpe_merges.txt`, regenerable via [[graft.tools.GenBpeMerges]])
  * was trained by this routine on the sf0.01 documents corpus.
  */
object Bpe {

  /** Ordered merge table; rank = position. */
  type Merges = Vector[(String, String)]

  /** How raw text becomes the pre-token stream BPE merges run inside.
    * [[PreTokenizer.Whitespace]] is the original space-split (the corpus
    * tables are space-joined); [[PreTokenizer.ByteLevel]] is the
    * GPT-2-style byte-level scheme: the public pre-tokenization regex
    * (contractions, optional-leading-space letter/number runs, punctuation
    * runs, whitespace runs) followed by the public byte→unicode remap, so
    * a leading space becomes 'Ġ' and every token is space-free (the
    * merges-file format and the space-joined fingerprints stay valid). */
  sealed trait PreTokenizer
  object PreTokenizer {
    case object Whitespace extends PreTokenizer
    case object ByteLevel extends PreTokenizer
  }

  /** The byte-level pre-tokenization pattern. One DOCUMENTED divergence
    * from GPT-2's original: the final whitespace alternative is plain
    * `\s+`, not `\s+(?!\S)` — RE2 (the oracle's regex engine) has no
    * lookahead, so a run of N≥2 spaces before a word keeps all N in the
    * whitespace token instead of donating its last space to the word.
    * Both engines implement THIS pattern, so they agree exactly; Java and
    * RE2 share leftmost-first alternation and Unicode \p{L}/\p{N}. */
  val byteLevelPattern: String =
    """'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"""

  /** GPT-2's bytes→unicode table: printable latin-1 bytes map to
    * themselves, everything else (controls, space, DEL, 0x80–0xA0, 0xAD)
    * to U+0100+n in byte order — space(32)→'Ġ', \n→'Ċ', \t→'ĉ'. Total:
    * every byte becomes exactly one printable, non-space character. */
  private[ops] lazy val byteEncoder: Array[String] = {
    val printable =
      (('!' to '~') ++ ('¡' to '¬') ++ ('®' to 'ÿ'))
        .map(_.toInt).toSet
    val enc = new Array[String](256)
    var n = 0
    (0 until 256).foreach { b =>
      if (printable(b)) enc(b) = b.toChar.toString
      else { enc(b) = (256 + n).toChar.toString; n += 1 }
    }
    enc
  }

  /** Remap a pre-token's UTF-8 BYTES through [[byteEncoder]] — a
    * non-ASCII character becomes one mapped char per byte (`"é"` →
    * `"Ã©"`), exactly the public byte-level behavior. */
  def byteMap(s: String): String = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val sb = new java.lang.StringBuilder(bytes.length)
    bytes.foreach(b => sb.append(byteEncoder(b & 0xff)))
    sb.toString
  }

  private def normalize(w: String, pt: PreTokenizer): String = pt match {
    case PreTokenizer.Whitespace => w
    case PreTokenizer.ByteLevel  => byteMap(w)
  }

  /** The corpus-sized pre-token split as a CATALYST column (codegen'd on
    * the data-sized side; the byte remap happens later, on the bounded
    * distinct dictionary only). Both forms emit raw text slices — the
    * dictionary join key is the RAW pre-token on either path. */
  private def preTokensCol(c: org.apache.spark.sql.Column,
      pt: PreTokenizer): org.apache.spark.sql.Column = pt match {
    case PreTokenizer.Whitespace => split(c, " ")
    case PreTokenizer.ByteLevel  =>
      regexp_extract_all(c, lit(byteLevelPattern), lit(0))
  }

  def ranksOf(merges: Merges): Map[(String, String), Int] =
    merges.zipWithIndex.toMap

  /** Apply `merges` to one word: chars, then repeatedly merge the leftmost
    * occurrence of the best-ranked adjacent pair. Deterministic, total. */
  def encodeWord(word: String, ranks: Map[(String, String), Int]): Vector[String] = {
    var toks = splitChars(word)
    var continue = toks.length > 1
    while (continue) {
      var best = Int.MaxValue
      var bi = -1
      var i = 0
      while (i < toks.length - 1) {
        val r = ranks.getOrElse((toks(i), toks(i + 1)), Int.MaxValue)
        if (r < best) { best = r; bi = i }
        i += 1
      }
      if (bi < 0) continue = false
      else {
        toks = toks.take(bi) ++ Vector(toks(bi) + toks(bi + 1)) ++ toks.drop(bi + 2)
        continue = toks.length > 1
      }
    }
    toks
  }

  /** Split a word into CHARACTERS (code points), not UTF-16 code units:
    * a supplementary-plane char (emoji, rare CJK) must be one base token,
    * matching the oracle's character semantics — per-unit splitting would
    * emit unpaired surrogate "tokens" that are not even valid UTF-8 in
    * the merges table. */
  private def splitChars(word: String): Vector[String] =
    word.codePoints().toArray.toVector
      .map(cp => new String(Character.toChars(cp)))

  /** Distinct-word dictionary with each pre-token's token list — the
    * memoized core every corpus-sized consumer joins against. Output:
    * (word, toks), keyed by the RAW pre-token; under
    * [[PreTokenizer.ByteLevel]] the byte remap is applied here, on the
    * bounded dictionary side, never per corpus row. */
  def encodeDictionary(docs: DataFrame, merges: Merges,
      pt: PreTokenizer = PreTokenizer.Whitespace): DataFrame = {
    val ranks = ranksOf(merges)
    val enc = udf((w: String) => encodeWord(normalize(w, pt), ranks))
    docs.select(explode(preTokensCol(col("text"), pt)).as("word"))
      .where(col("word") =!= "")
      .distinct()
      .select(col("word"), enc(col("word")).as("toks"))
  }

  /** Per-document BPE tokenization summary: exact token count plus an md5
    * fingerprint of the full ordered token stream (space-joined) — the
    * fingerprint is what makes the oracle check the TOKENS, not just their
    * number. Output: (doc_id, n_tokens, token_md5); order unspecified.
    *
    * Zero-exchange shape (r16): the whole summary is computed INSIDE the
    * document row — pre-tokens split in codegen, then one UDF walks the
    * array, encoding each distinct word once per task through a memo
    * (Zipf: the hot vocabulary repeats within a task; the memo is capped
    * by an approximate BYTE budget — 32 MB of retained chars per task,
    * ADVICE r16 #5: an entry cap alone let long-word vocabularies reach
    * hundreds of MB across concurrent tasks — so a pathological
    * vocabulary degrades to re-encoding, never to unbounded task
    * memory) and folding the count + md5 as it
    * goes. The previous dictionary-join shape paid a distinct-vocabulary
    * exchange plus an occurrence-level join and a corpus-sized
    * collect_list regroup of every occurrence's token string — at 100 TB
    * two corpus-sized exchanges for work a projection can do. Encode
    * values are identical (same normalize→encodeWord per raw pre-token),
    * so the hashes don't move; docs with no non-empty pre-token stay
    * absent, as before. */
  def tokenize(docs: DataFrame, merges: Merges,
      pt: PreTokenizer = PreTokenizer.Whitespace): DataFrame = {
    val ranks = ranksOf(merges)
    val enc = udf(new (Seq[String] => (Long, String)) with Serializable {
      @transient private lazy val memo =
        new java.util.HashMap[String, Array[String]]()
      // approximate retained chars (key + token strings); 16M chars
      // ≈ 32 MB of char data per task — the memo stops ADMITTING past
      // the budget and lookups degrade to re-encoding
      @transient private var memoChars = 0L
      private val memoCharBudget = 16L << 20
      def apply(words: Seq[String]): (Long, String) = {
        val sb = new java.lang.StringBuilder
        var n = 0L
        words.foreach { w =>
          if (w.nonEmpty) {
            var t = memo.get(w)
            if (t == null) {
              t = encodeWord(normalize(w, pt), ranks).toArray
              if (memoChars < memoCharBudget) {
                memo.put(w, t)
                memoChars += w.length.toLong +
                  t.iterator.map(_.length.toLong).sum
              }
            }
            var i = 0
            while (i < t.length) {
              if (sb.length > 0) sb.append(' ')
              sb.append(t(i)); i += 1
            }
            n += t.length
          }
        }
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        (n, d.map("%02x".format(_)).mkString)
      }
    })
    docs
      .select(col("doc_id"), preTokensCol(col("text"), pt).as("pts"))
      .where(exists(col("pts"), w => w =!= ""))
      .select(col("doc_id"), enc(col("pts")).as("r"))
      .select(col("doc_id"), col("r._1").as("n_tokens"),
        col("r._2").as("token_md5"))
  }

  /** B3 — per-language tokenizer fertility report: BPE tokens per
    * whitespace word and chars per BPE token, per language, in exact
    * per-mille — THE tokenizer-efficiency table behind vocabulary
    * allocation (a language whose fertility runs 2–3× English pays that
    * multiple in effective context length and training compute; the fix
    * is more vocab mass for it, and this report is the evidence). Also
    * releases the raw exact sums (docs, chars, words, tokens) so any
    * other ratio can be recomputed downstream.
    *
    * Scale shape: word occurrences collapse into a (lang, word) count
    * with map-side combine BEFORE touching the dictionary — the
    * vocab×lang frame rides the shuffle, never the corpus — then ONE
    * word-keyed join against the memoized [[encodeDictionary]] (distinct
    * words) and a lang rollup weighted by occurrence count. The doc/char
    * branch is a second narrow lang agg; the two meet in a null-SAFE
    * lang join (`<=>` — a NULL-lang stratum reports, not vanishes).
    * Languages with zero words drop (no fertility to report; division
    * guarded by construction). */
  def fertilityReport(docs: DataFrame, merges: Merges,
      pt: PreTokenizer = PreTokenizer.Whitespace): DataFrame = {
    val dict = encodeDictionary(docs, merges, pt)
      .select(col("word"), size(col("toks")).cast("long").as("n_toks"))
    val occ = docs
      .select(col("lang"), explode(preTokensCol(col("text"), pt)).as("word"))
      .where(col("word") =!= "")
      .groupBy(col("lang"), col("word"))
      .agg(count(lit(1)).as("occ"))
    val tok = occ.join(dict, Seq("word"))
      .groupBy(col("lang"))
      .agg(sum(col("occ")).as("n_words"),
        sum(col("n_toks") * col("occ")).as("n_tokens"))
    val chars = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("n_chars"))
    chars.join(tok, chars("lang") <=> tok("lang"))
      .select(chars("lang"), col("n_docs"), col("n_chars"),
        col("n_words"), col("n_tokens"),
        expr("n_tokens * 1000 DIV n_words").as("fertility_per_mille"),
        expr("n_chars * 1000 DIV n_tokens").as("chars_per_token_mille"))
  }

  /** Train a merges table: distributed word-frequency count (top `maxVocab`
    * words — the cap bounds driver state at vocabulary, never corpus,
    * size), then `numMerges` greedy rounds driver-side. Ties break on
    * (count desc, pair lexicographic) so training is deterministic. Batch
    * merge application (all leftmost non-overlapping occurrences per
    * round) is the training-side convention, as in the public algorithm. */
  def train(docs: DataFrame, numMerges: Int, maxVocab: Int = 50000,
      pt: PreTokenizer = PreTokenizer.Whitespace): Merges = {
    require(numMerges > 0, "numMerges must be positive")
    require(maxVocab > 0, "maxVocab must be positive")
    val freqs = docs.select(explode(preTokensCol(col("text"), pt)).as("word"))
      .where(col("word") =!= "")
      .groupBy("word").count()
      .orderBy(col("count").desc, col("word"))
      .limit(maxVocab)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    var dict: Array[(Vector[String], Long)] =
      freqs.map { case (w, c) => (splitChars(normalize(w, pt)), c) }
    val out = Vector.newBuilder[(String, String)]
    var round = 0
    var exhausted = false
    while (round < numMerges && !exhausted) {
      val counts = collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      dict.foreach { case (toks, c) =>
        var i = 0
        while (i < toks.length - 1) {
          counts((toks(i), toks(i + 1))) += c
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val (l, r) = counts.toSeq
          .minBy { case ((pl, pr), c) => (-c, pl, pr) }._1
        out += ((l, r))
        dict = dict.map { case (toks, c) => (mergeAll(toks, l, r), c) }
        round += 1
      }
    }
    out.result()
  }

  /** [[train]] with the per-round pair counting DISTRIBUTED: the
    * dictionary lives in a DataFrame, each greedy round is one Spark job
    * (adjacent-pair explode → groupBy(l,r).sum → top-1 argmax), and the
    * only driver state is the winning pair per round — so training is no
    * longer bounded by driver memory over the dictionary, just by
    * `numMerges` jobs. Production-scale vocabs (tens of thousands of
    * merges over a multi-million-word dictionary) run where [[train]]'s
    * driver loop would not.
    *
    * Same greedy algorithm, same tie-break (count desc, then pair
    * lexicographic) — equal output to [[train]] for BMP-only vocabularies
    * (Spark compares strings in UTF-8 binary order, the driver in UTF-16
    * unit order; the two agree below the surrogate range, which covers
    * every byte-level mapped char and the corpus tables).
    *
    * Loop hygiene is the [[Dedup.resolveClusters]] pattern: words merge
    * down to single tokens and leave the frame (they can never host a
    * pair again), the lineage is truncated every `checkpointEvery` rounds
    * by an eager localCheckpoint, and superseded checkpoint blocks are
    * freed the moment the next one is materialized. */
  def trainDistributed(docs: DataFrame, numMerges: Int, maxVocab: Int = 50000,
      pt: PreTokenizer = PreTokenizer.Whitespace,
      checkpointEvery: Int = 16): Merges = {
    require(numMerges > 0, "numMerges must be positive")
    require(maxVocab > 0, "maxVocab must be positive")
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    val toToks = udf((w: String) => splitChars(normalize(w, pt)))
    val snapshots = new Materialize.Latest
    var dict = snapshots.replace(Materialize.local(
      docs.select(explode(preTokensCol(col("text"), pt)).as("word"))
        .where(col("word") =!= "")
        .groupBy("word").count()
        .orderBy(col("count").desc, col("word"))
        .limit(maxVocab)
        .select(toToks(col("word")).as("toks"), col("count"))
        .where(size(col("toks")) > 1), eager = true))
    val out = Vector.newBuilder[(String, String)]
    var round = 0
    var exhausted = false
    while (round < numMerges && !exhausted) {
      // one job: every adjacent pair with its weighted count, argmax'd by
      // (count desc, pair lexicographic) — TakeOrdered, driver sees 1 row
      val top = dict
        .select(explode(transform(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          (x, i) => struct(x.as("l"),
            element_at(col("toks"), i + lit(2)).as("r")))).as("p"),
          col("count"))
        .groupBy(col("p").getField("l").as("l"),
          col("p").getField("r").as("r"))
        .agg(sum(col("count")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("l"), col("r"))
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val l = top(0).getAs[String]("l")
        val r = top(0).getAs[String]("r")
        out += ((l, r))
        val applyMerge = udf((toks: Seq[String]) => mergeAll(toks.toVector, l, r))
        dict = dict.select(applyMerge(col("toks")).as("toks"), col("count"))
          .where(size(col("toks")) > 1)
        round += 1
        // eager, so the old snapshot is free to go
        if (round % checkpointEvery == 0 && round < numMerges)
          dict = snapshots.replace(Materialize.local(dict, eager = true))
      }
    }
    snapshots.close()
    out.result()
  }

  /** Batch form used in training: merge every leftmost non-overlapping
    * occurrence of (l, r) in one pass. */
  private[ops] def mergeAll(toks: Vector[String], l: String, r: String): Vector[String] = {
    val b = Vector.newBuilder[String]
    var i = 0
    while (i < toks.length) {
      if (i < toks.length - 1 && toks(i) == l && toks(i + 1) == r) {
        b += (l + r); i += 2
      } else { b += toks(i); i += 1 }
    }
    b.result()
  }

  /** The shipped default table (trained on the sf0.01 documents corpus by
    * [[graft.tools.GenBpeMerges]]); parsed once per JVM. */
  lazy val default: Merges = {
    val in = getClass.getResourceAsStream("/graft/bpe_merges.txt")
    require(in != null, "resource graft/bpe_merges.txt missing")
    try parseText(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
    finally in.close()
  }

  def formatText(merges: Merges): String =
    merges.map { case (l, r) => s"$l $r" }.mkString("\n") + "\n"

  def parseText(text: String): Merges =
    text.linesIterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { line =>
        val sp = line.lastIndexOf(' ')
        require(sp > 0, s"malformed merges line: '$line'")
        (line.substring(0, sp), line.substring(sp + 1))
      }.toVector

  /** ANSI-SQL replay of [[tokenize]] for the DuckDB oracle: the merges
    * table as literal VALUES, the single-step merge loop as a recursive
    * CTE (each step splices the leftmost occurrence of the best-ranked
    * pair; recursion stops when a word has no listed pair left; the
    * terminal token list is the one with minimal length, since every step
    * shortens it). */
  private def oracleCtePrefix(merges: Merges,
      pt: PreTokenizer = PreTokenizer.Whitespace,
      docsRel: String = "documents"): String = {
    require(merges.nonEmpty, "oracle needs at least one merge")
    def lit(s: String) = "'" + s.replace("'", "''") + "'"
    val values = merges.zipWithIndex
      .map { case ((l, r), i) => s"($i,${lit(l)},${lit(r)})" }
      .mkString(",")
    // the same pre-token split both engines run: string_split for
    // Whitespace, the RE2-compatible byteLevelPattern for ByteLevel
    // (leftmost-first alternation agrees between Java regex and RE2 —
    // the pattern was chosen lookahead-free for exactly this replay)
    val splitExpr = pt match {
      case PreTokenizer.Whitespace => "string_split(text,' ')"
      case PreTokenizer.ByteLevel  =>
        s"regexp_extract_all(text,${lit(byteLevelPattern)})"
    }
    // the byte→unicode remap before character splitting. translate() is
    // per-CHARACTER, so this replay is exact for ASCII corpus text (one
    // byte per char; printable ASCII maps to itself, the three
    // whitespace bytes to Ġ/Ċ/ĉ) — which the testdata tables are; the
    // Scala side ([[byteMap]]) is fully general over all 256 bytes
    val mapExpr = pt match {
      case PreTokenizer.Whitespace => "word"
      case PreTokenizer.ByteLevel  =>
        "translate(word, ' ' || chr(10) || chr(9), 'ĠĊĉ')"
    }
    s"""WITH RECURSIVE
       |merges(rank, l, r) AS (FROM (VALUES $values)),
       |words AS (
       |  SELECT DISTINCT w AS word FROM (
       |    SELECT unnest($splitExpr) AS w FROM $docsRel)
       |  WHERE w <> ''
       |),
       |bpe(word, toks) AS (
       |  SELECT word, [m[i:i] for i in range(1, length(m)+1)]
       |  FROM (SELECT word, $mapExpr AS m FROM words)
       |  UNION ALL
       |  SELECT word, toks[1:bi-1] || [toks[bi] || toks[bi+1]] || toks[bi+2:]
       |  FROM (
       |    SELECT b.word, b.toks, arg_min(i, m.rank * 100000 + i) AS bi
       |    FROM bpe b, unnest(range(1, len(b.toks))) AS t(i), merges m
       |    WHERE m.l = b.toks[i] AND m.r = b.toks[i+1]
       |    GROUP BY b.word, b.toks
       |  )
       |),
       |final AS (SELECT word, arg_min(toks, len(toks)) AS toks FROM bpe GROUP BY word),
       |docw AS (
       |  SELECT doc_id, i, w[i] AS word
       |  FROM (SELECT doc_id, $splitExpr AS w FROM $docsRel) d,
       |       unnest(range(1, len(d.w)+1)) AS t(i)
       |  WHERE w[i] <> ''
       |)""".stripMargin
  }

  def oracleSql(merges: Merges,
      pt: PreTokenizer = PreTokenizer.Whitespace,
      docsRel: String = "documents"): String =
    oracleCtePrefix(merges, pt, docsRel) +
      s"""
         |SELECT d.doc_id,
         |  CAST(sum(len(f.toks)) AS BIGINT) AS n_tokens,
         |  md5(string_agg(array_to_string(f.toks,' '), ' ' ORDER BY d.i)) AS token_md5
         |FROM docw d JOIN final f USING (word)
         |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  /** Oracle for [[fertilityReport]]: the same merge-loop CTE rolled up
    * per language — per-doc word/token sums LEFT-join back onto
    * documents (a wordless doc still contributes its chars), then the
    * lang rollup with a `HAVING words > 0` mirroring the engine's inner
    * lang join (a lang with zero words has no fertility to report). */
  def oracleFertilitySql(merges: Merges,
      pt: PreTokenizer = PreTokenizer.Whitespace): String =
    oracleCtePrefix(merges, pt) +
      s""",
         |wt AS (
         |  SELECT d.doc_id, count(*)::BIGINT AS n_words,
         |    CAST(sum(len(f.toks)) AS BIGINT) AS n_tokens
         |  FROM docw d JOIN final f USING (word) GROUP BY d.doc_id)
         |SELECT dd.lang, count(*)::BIGINT AS n_docs,
         |  sum(length(dd.text))::BIGINT AS n_chars,
         |  sum(coalesce(wt.n_words, 0))::BIGINT AS n_words,
         |  sum(coalesce(wt.n_tokens, 0))::BIGINT AS n_tokens,
         |  (sum(coalesce(wt.n_tokens, 0))::BIGINT * 1000)
         |    // sum(coalesce(wt.n_words, 0))::BIGINT AS fertility_per_mille,
         |  (sum(length(dd.text))::BIGINT * 1000)
         |    // sum(coalesce(wt.n_tokens, 0))::BIGINT AS chars_per_token_mille
         |FROM documents dd LEFT JOIN wt USING (doc_id)
         |GROUP BY dd.lang
         |HAVING sum(coalesce(wt.n_words, 0)) > 0
         |ORDER BY dd.lang NULLS FIRST""".stripMargin

  /** Oracle for BPE-budgeted sequence packing: the same merge-loop CTE
    * feeding [[Sampling.packSequences]]'s running-sum slot arithmetic. */
  def oraclePackSql(merges: Merges, tokenBudget: Int): String =
    oracleCtePrefix(merges) +
      s""",
         |doctok AS (
         |  SELECT d.doc_id, CAST(sum(len(f.toks)) AS BIGINT) AS n_tokens
         |  FROM docw d JOIN final f USING (word) GROUP BY d.doc_id),
         |packed AS (
         |  SELECT t.doc_id, dd.lang, t.n_tokens,
         |    CAST(sum(t.n_tokens) OVER (PARTITION BY dd.lang ORDER BY t.doc_id)
         |      - t.n_tokens AS BIGINT) AS off
         |  FROM doctok t JOIN documents dd USING (doc_id))
         |SELECT doc_id, lang, n_tokens,
         |  off // $tokenBudget AS seq_id, off % $tokenBudget AS seq_off
         |FROM packed ORDER BY doc_id""".stripMargin
}
