package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Shared._

/** PII/secrets scrubs, k-anonymity, DP releases. */
private[graft] object Priv extends Family("priv") {

  /** NS22 — PII scrubbing: emails / IPv4s / phone numbers redacted from
    * free text before training admission. The synthetic corpus carries no
    * natural PII, so the query deterministically injects one of each
    * (derived from doc_id) and the operator must find and redact exactly
    * those — the regex engines' agreement is what's under test. Narrow
    * codegen'd projection, zero shuffle. */
  private def ns22(s: SparkSession, dir: String): DataFrame = {
    val injected = docs(s, dir).select(
      col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or +49151"),
        lpad((col("doc_id") % 10000).cast("string"), 7, "0"),
        lit(" from 10."), (col("doc_id") % 256).cast("string"),
        lit(".0."), ((col("doc_id") * 7) % 256).cast("string")).as("text"))
    graft.ops.Privacy.scrubPii(injected)
      .select("doc_id", "n_emails", "n_ipv4", "n_phones", "text")
  }

  /** NS66 — Luhn-validated credit-card scrubbing: every doc gets a
    * deterministic payment blurb — one known-valid card, one
    * checksum-invalid lookalike, and a doc_id-varying candidate whose
    * validity the checksum alone decides (~1 in 10 validate) — then
    * [[graft.ops.Privacy.scrubCreditCards]] must redact exactly the
    * Luhn-valid runs. The oracle replays candidate extraction, the
    * checksum (index lambdas), and the replacement fold in SQL. */
  private def ns66(s: SparkSession, dir: String): DataFrame = {
    val blurb = concat(lit(" pay 4111111111111111 ref "),
      (lit(4242420000000000L) + col("doc_id") % 100000).cast("string"),
      lit(" order 1234567890123456 end "))
    graft.ops.Privacy.scrubCreditCards(
        docs(s, dir).select(col("doc_id"),
          concat(col("text"), blurb).as("text")))
      .select(col("doc_id"), col("n_cands"), col("n_redacted"), col("text"))
  }

  /** NS67 — leaked-credential scrubbing: every doc carries one valid
    * specimen of each secret shape (AWS key, GitHub token, JWT, 40-hex
    * secret — md5-derived so the oracle builds the identical page) plus
    * an AWS lookalike one char short, which must NOT match. The scrub is
    * [[graft.ops.Privacy.scrubSecrets]]; counts are per-pattern. */
  private def ns67(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id").cast("string")
    def m(p: String) = md5(concat(lit(p), d))
    val blurb = concat(
      lit(" key AKIA"), upper(substring(m("aws:"), 1, 16)),
      lit(" fake AKIA"), upper(substring(m("fake:"), 1, 15)),
      lit(" tok ghp_"), substring(concat(m("g1:"), m("g2:")), 1, 36),
      lit(" jwt eyJ"), substring(m("j1:"), 1, 10),
      lit("."), substring(m("j2:"), 1, 12),
      lit("."), substring(m("j3:"), 1, 10),
      lit(" sha "), substring(concat(m("h1:"), m("h2:")), 1, 40),
      lit(" end"))
    graft.ops.Privacy.scrubSecrets(
        docs(s, dir).select(col("doc_id"),
          concat(col("text"), blurb).as("text")))
      .select(col("doc_id"), col("n_aws_keys"), col("n_gh_tokens"),
        col("n_jwts"), col("n_hex_secrets"), col("text"))
  }

  /** NS72 — k-anonymity release gate on the customer table: rows are
    * released only if their (segment, region) quasi-identifier group holds
    * ≥ 50 rows AND ≥ 3 distinct balance bands (l-diversity) — the
    * re-identification check the reference's column-rewriting anonymiser
    * has no answer to. The region and balance-band derivations stand in
    * for the caller's generalization hierarchy. One quasi-key aggregation
    * + an AQE-broadcast stats join. */
  private def ns72(s: SparkSession, dir: String): DataFrame =
    graft.ops.Privacy.kAnonymize(
      Tables.load(s, dir, "customer").select(
        col("c_custkey"),
        col("c_mktsegment").as("segment"),
        (col("c_nationkey") % 5).as("region"),
        floor(col("c_acctbal") / 1000).cast("int").as("balance_band")),
      Seq("segment", "region"), "balance_band", k = 50, l = 3)
      .select("c_custkey", "segment", "region", "group_size", "n_sensitive")

  /** NS97 — DP release of per-language clipped token-mass sums
    * ([[graft.ops.Privacy.noisySum]]): the DP ladder's "how much" beside
    * ns89/ns91's "how many" — per-row contribution clipped to 2000
    * chars (the clip fixes sensitivity; rows above it contribute
    * exactly the bound, a documented bias), noise = clip·(G₁−G₂) with
    * the exact geometric sampling, ε = ln 2. Different seed than ns89 —
    * reusing one seed across releases correlates the draws the
    * mechanism's analysis assumes independent. */
  private def ns97(s: SparkSession, dir: String): DataFrame =
    graft.ops.Privacy.noisySum(docs(s, dir), Seq("lang"), "n_chars",
      clip = 2000L, seed = 7L)

  /** NS89 — differentially-private release counts
    * ([[graft.ops.Privacy.noisyCounts]]): per-language doc counts
    * released under the two-sided geometric mechanism, ε = ln 2 —
    * noise sampled EXACTLY (trailing-zero counts of md5-derived
    * uniforms; no floats), seed-deterministic so the oracle replays the
    * mechanism bit-for-bit. Completes the privacy family's ladder:
    * scrub (ns22/66/67) → k-anonymity gate (ns72) → DP release. */
  private def ns89(s: SparkSession, dir: String): DataFrame =
    graft.ops.Privacy.noisyCounts(docs(s, dir), Seq("lang"), seed = 42L)

  /** NS91 — DP release over a PUBLIC key domain
    * ([[graft.ops.Privacy.noisyCountsOverDomain]]): ns89's mechanism with
    * the observed-keys presence leak closed — every key of a declared
    * public language domain is released exactly once, unobserved keys
    * ("it", "ja" at this SF) as noised ZEROS, so the release's support
    * is the domain itself and carries no information. Same ε = ln 2
    * two-sided geometric, exact integer sampling, oracle bit-replayed. */
  private def ns91(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val domain = Seq("de", "en", "es", "fr", "it", "ja", "zh").toDF("lang")
    graft.ops.Privacy.noisyCountsOverDomain(
      docs(s, dir), Seq("lang"), domain, seed = 42L)
  }

  val queries: Seq[Query] = Seq(
    // ns22's PII injection is mirrored verbatim: BIGINT || VARCHAR coerces
    // to the same decimal strings Spark's cast produces, and the three
    // patterns use the Java/RE2-identical regex subset (classes, bounded
    // repetition, \b) so counts and redactions agree byte-for-byte.
    query("ns22_pii_scrub", ns22)(
      ("""WITH aug AS (SELECT doc_id, text || ' contact user' || doc_id || '@example.com or +49151' || lpad((doc_id % 10000)::VARCHAR, 7, '0') || ' from 10.' || (doc_id % 256) || '.0.' || ((doc_id * 7) % 256) AS text FROM documents),
         |c AS (SELECT doc_id, text,
         |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
         |  len(regexp_extract_all(text, '\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b')) AS n_ipv4,
         |  len(regexp_extract_all(text, '\+[0-9]{7,15}')) AS n_phones FROM aug)
         |SELECT doc_id, n_emails, n_ipv4, n_phones,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |    '\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b', '<IP>', 'g'),
         |    '\+[0-9]{7,15}', '<PHONE>', 'g') AS text
         |FROM c ORDER BY doc_id""".stripMargin)),
    // DuckDB's lambda index is 1-based (Spark's transform index 0-based):
    // "double every second digit from the right" is i%2=0 here, i%2==1
    // there. The replacement fold mirrors aggregate(valid, text, replace).
    query("ns66_pii_luhn", ns66)(
      ("""WITH raw AS (SELECT doc_id, text || ' pay 4111111111111111 ref ' || (4242420000000000 + doc_id % 100000)::VARCHAR || ' order 1234567890123456 end ' AS text FROM documents),
         |c AS (SELECT doc_id, text, regexp_extract_all(text, '\d{13,19}', 0) AS cands FROM raw),
         |v AS (SELECT doc_id, text, cands,
         |  list_filter(cands, x -> length(x) > 0 AND
         |    list_sum(list_transform(string_split(reverse(x), ''), (d, i) ->
         |      CASE WHEN i % 2 = 0 THEN CASE WHEN d::INT * 2 > 9 THEN d::INT * 2 - 9 ELSE d::INT * 2 END ELSE d::INT END)) % 10 = 0) AS valid
         |  FROM c)
         |SELECT doc_id, len(cands)::BIGINT AS n_cands, len(valid)::BIGINT AS n_redacted,
         |  list_reduce(list_prepend(text, valid), (a, b) -> replace(a, b, '<CC>')) AS text
         |FROM v ORDER BY doc_id""".stripMargin)),
    // Same blurb built in SQL; counts on the raw text, then the redaction
    // fold in declaration order (JWT before hex, see secretPatterns).
    query("ns67_secrets_scrub", ns67)(
      ("""WITH raw AS (SELECT doc_id,
         |  text || ' key AKIA' || upper(substr(md5('aws:' || doc_id), 1, 16))
         |       || ' fake AKIA' || upper(substr(md5('fake:' || doc_id), 1, 15))
         |       || ' tok ghp_' || substr(md5('g1:' || doc_id) || md5('g2:' || doc_id), 1, 36)
         |       || ' jwt eyJ' || substr(md5('j1:' || doc_id), 1, 10) || '.' || substr(md5('j2:' || doc_id), 1, 12) || '.' || substr(md5('j3:' || doc_id), 1, 10)
         |       || ' sha ' || substr(md5('h1:' || doc_id) || md5('h2:' || doc_id), 1, 40)
         |       || ' end' AS text FROM documents),
         |cnt AS (SELECT doc_id, text,
         |  len(regexp_extract_all(text, '\bAKIA[0-9A-Z]{16}\b')) AS n_aws_keys,
         |  len(regexp_extract_all(text, '\bghp_[A-Za-z0-9]{36}\b')) AS n_gh_tokens,
         |  len(regexp_extract_all(text, '\beyJ[A-Za-z0-9_-]+\.[A-Za-z0-9_-]+\.[A-Za-z0-9_-]+\b')) AS n_jwts,
         |  len(regexp_extract_all(text, '\b[0-9a-f]{40}\b')) AS n_hex_secrets
         |  FROM raw)
         |SELECT doc_id, n_aws_keys, n_gh_tokens, n_jwts, n_hex_secrets,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
         |    '\bAKIA[0-9A-Z]{16}\b', '<AWS_KEY>', 'g'),
         |    '\bghp_[A-Za-z0-9]{36}\b', '<GH_TOKEN>', 'g'),
         |    '\beyJ[A-Za-z0-9_-]+\.[A-Za-z0-9_-]+\.[A-Za-z0-9_-]+\b', '<JWT>', 'g'),
         |    '\b[0-9a-f]{40}\b', '<HEX_SECRET>', 'g') AS text
         |FROM cnt ORDER BY doc_id""".stripMargin)),
    // ns72 replays the quasi-key group stats and the k/l release gate.
    query("ns72_k_anonymity", ns72)(
      ("""WITH cust AS (SELECT c_custkey, c_mktsegment AS segment,
         |  c_nationkey % 5 AS region,
         |  CAST(floor(c_acctbal / 1000) AS INT) AS balance_band FROM customer),
         |g AS (SELECT segment, region, count(*) AS group_size,
         |  count(DISTINCT balance_band) AS n_sensitive FROM cust GROUP BY 1, 2
         |  HAVING count(*) >= 50 AND count(DISTINCT balance_band) >= 3)
         |SELECT c.c_custkey, c.segment, c.region, g.group_size, g.n_sensitive
         |FROM cust c JOIN g ON c.segment IS NOT DISTINCT FROM g.segment
         |  AND c.region IS NOT DISTINCT FROM g.region
         |ORDER BY c_custkey""".stripMargin)),
    // ns89 replays the exact geometric sampling: Geometric(1/2) = the
    // trailing-zero count of an md5-derived 60-bit uniform, computed as
    // bit_count((h & -h) - 1) — no floats, identical truncation.
    query("ns89_dp_counts", ns89)(
      ("""WITH g AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         |h AS (SELECT lang, n,
         |  ('0x' || substr(md5('dp1:42:' || coalesce(lang, chr(30))), 1, 15))::BIGINT AS h1,
         |  ('0x' || substr(md5('dp2:42:' || coalesce(lang, chr(30))), 1, 15))::BIGINT AS h2
         |  FROM g)
         |SELECT lang,
         |  (n + (CASE WHEN h1 = 0 THEN 60 ELSE bit_count((h1 & -h1) - 1) END)
         |     - (CASE WHEN h2 = 0 THEN 60 ELSE bit_count((h2 & -h2) - 1) END))::BIGINT AS noisy_count
         |FROM h ORDER BY lang NULLS FIRST""".stripMargin)),
    // ns91 replays ns89's mechanism over the declared public domain: a
    // LEFT JOIN from the domain list carries unobserved keys through as
    // coalesced zeros, which then draw noise exactly like real counts.
    query("ns91_dp_domain", ns91)(
      ("""WITH dom AS (SELECT unnest(['de','en','es','fr','it','ja','zh']) AS lang),
         |g AS (SELECT lang, count(*) AS n_obs FROM documents GROUP BY lang),
         |f AS (SELECT dom.lang AS lang, coalesce(n_obs, 0) AS n FROM dom
         |  LEFT JOIN g ON g.lang IS NOT DISTINCT FROM dom.lang),
         |h AS (SELECT lang, n,
         |  ('0x' || substr(md5('dp1:42:' || coalesce(lang, chr(30))), 1, 15))::BIGINT AS h1,
         |  ('0x' || substr(md5('dp2:42:' || coalesce(lang, chr(30))), 1, 15))::BIGINT AS h2
         |  FROM f)
         |SELECT lang,
         |  (n + (CASE WHEN h1 = 0 THEN 60 ELSE bit_count((h1 & -h1) - 1) END)
         |     - (CASE WHEN h2 = 0 THEN 60 ELSE bit_count((h2 & -h2) - 1) END))::BIGINT AS noisy_count
         |FROM h ORDER BY lang NULLS FIRST""".stripMargin)),
    // ns97 replays the clipped sum + clip-scaled geometric noise; the
    // sum stays HUGEINT internally, final cast ::BIGINT (the ns71 rule).
    query("ns97_dp_sum", ns97)(
      ("""WITH g AS (SELECT lang,
         |    sum(least(greatest(n_chars, 0), 2000)) AS n
         |  FROM documents GROUP BY lang),
         |h AS (SELECT lang, n,
         |  ('0x' || substr(md5('dp1:7:' || coalesce(lang, chr(30))), 1, 15))::BIGINT AS h1,
         |  ('0x' || substr(md5('dp2:7:' || coalesce(lang, chr(30))), 1, 15))::BIGINT AS h2
         |  FROM g)
         |SELECT lang,
         |  (n + 2000 * ((CASE WHEN h1 = 0 THEN 60 ELSE bit_count((h1 & -h1) - 1) END)
         |             - (CASE WHEN h2 = 0 THEN 60 ELSE bit_count((h2 & -h2) - 1) END)))::BIGINT AS noisy_sum
         |FROM h ORDER BY lang NULLS FIRST""".stripMargin)),
  )
}
