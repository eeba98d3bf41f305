package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Helpers used by more than one query family. */
private[queries] object Shared {

  def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")
  def embs(s: SparkSession, dir: String) = Tables.load(s, dir, "embeddings")

  val ns68Banner = "every mirror of this crawl shares this banner line"
  val ns68Footer = "boilerplate footer for "

  /** The ns68/ns73 line-structure synthesis: banner + 8-word body lines +
    * per-source footer. */
  def ns68SynthText: org.apache.spark.sql.Column = {
    val chunked = regexp_replace(col("text"), "((?:\\S+ ){7}\\S+) ", "$1\n")
    concat(lit(ns68Banner + "\n"), chunked,
      lit("\n" + ns68Footer), col("source"))
  }

  /** The ns70/ns73 URL synthesis: five spellings per doc_id-group of 5,
    * four of which canonicalize identically (the http variant stays
    * distinct — scheme is load-bearing). */
  def ns70SynthUrl: org.apache.spark.sql.Column = {
    val g = expr("doc_id DIV 5").cast("string")
    val m = col("doc_id") % 5
    when(m === 0, concat(lit("https://WWW.Crawl.Example.org:443//a//"), g,
      lit("/?utm_source=feed&b=2&a=1#frag")))
    .when(m === 1, concat(lit("https://crawl.example.org/a/"), g,
      lit("?a=1&b=2")))
    .when(m === 2, concat(lit("HTTPS://www.crawl.example.org/a/"), g,
      lit("/?b=2&a=1&gclid=xyz")))
    .when(m === 3, concat(lit("https://crawl.example.org:443/a//"), g,
      lit("?a=1&ref=tw&b=2#x")))
    .otherwise(concat(lit("http://crawl.example.org:80/a/"), g,
      lit("?a=1&b=2")))
  }

  /** ns2's full minhash-LSH pair replay, hoisted with a `__DOCS__`
    * source placeholder so ns125's fold-leakage audit runs the SAME
    * pipeline over its twin-amplified corpus (single source of truth). */
  val minhashPairsSqlTpl: String =
    """WITH words AS (SELECT doc_id, string_split(text,' ') w FROM __DOCS__),
      |sh AS (SELECT DISTINCT doc_id, unnest([array_to_string(w[i:i+1],' ') for i in range(1, len(w))]) AS shingle FROM words),
      |mh AS (SELECT doc_id, s, min(('0x' || substr(md5(shingle || ':' || s), 1, 15))::BIGINT) m FROM sh, (SELECT unnest(range(0,16)) AS s) seeds GROUP BY doc_id, s),
      |bands AS (SELECT doc_id, s // 4 AS band, string_agg(m::VARCHAR, ',' ORDER BY s) bv FROM mh GROUP BY doc_id, s // 4),
      |cand AS (SELECT DISTINCT a.doc_id da, b.doc_id db FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
      |sets AS (SELECT doc_id, list_distinct(list(shingle)) s FROM sh GROUP BY doc_id),
      |scored AS (SELECT da AS doc_a, db AS doc_b, len(list_intersect(x.s, y.s))::DOUBLE / len(list_distinct(list_concat(x.s, y.s))) AS j FROM cand JOIN sets x ON x.doc_id = cand.da JOIN sets y ON y.doc_id = cand.db)
      |SELECT doc_a, doc_b, round(j, 6) AS jaccard FROM scored WHERE j >= 0.5 ORDER BY doc_a, doc_b""".stripMargin
}
