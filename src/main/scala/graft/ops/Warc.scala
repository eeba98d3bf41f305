package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Real WARC/1.0 handling — the Common Crawl container, i.e. the actual
  * on-disk format of the canonical 100-TB web-scale training corpus. A
  * pipeline that claims web-scale ingest has to split WARC files into
  * records by the spec's framing (header block terminated by CRLFCRLF,
  * `Content-Length` octets of payload, CRLFCRLF record separator) and
  * recover each record's BYTE OFFSET — offsets are what the Common Crawl
  * index (CDX) stores and what random-access fetches use.
  *
  * Same validation pattern as the WAV/AVI/BMP legs: [[WarcSynth]] writes
  * spec-true bytes deterministically, [[Warc.records]] parses the real
  * framing back, and the ns148 oracle recomputes record offsets and
  * payload sums purely arithmetically (header sizes from digit counts,
  * prefix-summed; payload bytes from hex expansion) — writer, parser,
  * and oracle independent.
  */
object WarcSynth {
  /** Docs per synthesized WARC file (the fixture groups doc_id ranges). */
  val GroupSize = 10

  def url(docId: Long): String = s"http://example.com/doc/$docId"

  /** One response record: minimal fixed-shape header block + payload +
    * record separator. Every byte deterministic in (docId, text). */
  def record(docId: Long, text: String): Array[Byte] = {
    // null -> empty payload, the aviOf/bmpOf synthesizer contract
    val payload =
      if (text == null) Array.emptyByteArray
      else text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val header =
      "WARC/1.0\r\n" +
        "WARC-Type: response\r\n" +
        s"WARC-Target-URI: ${url(docId)}\r\n" +
        s"Content-Length: ${payload.length}\r\n" +
        "\r\n"
    header.getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++
      payload ++ "\r\n\r\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  }

  /** A WARC file holding one response record per (docId, text), in the
    * given order. */
  def warcOf(docs: Seq[(Long, String)]): Array[Byte] =
    docs.iterator.map { case (id, t) => record(id, t) }
      .foldLeft(Array.emptyByteArray)(_ ++ _)
}

/** One parsed WARC record: `offset` is the byte position of its
  * `WARC/1.0` line within the file, `contentLength` the declared payload
  * octets, `payloadSum` the unsigned byte sum of the payload actually
  * sliced at the framed position (cheap content witness — payloads never
  * re-ship into downstream aggregates). */
final case class WarcRecord(
    index: Int, offset: Long, payloadOffset: Long, warcType: String,
    targetUri: String, contentLength: Long, payloadSum: Long)

object Warc {

  /** Parse one WARC file's records by the real framing. Tolerant the way
    * a crawl pipeline must be: header names case-insensitive, unknown
    * headers skipped, a record with a malformed header block or a
    * truncated payload ends the parse cleanly (records before it are
    * kept) — a corrupt tail in a 100-TB crawl must not kill the task. */
  def parseRecords(content: Array[Byte]): Seq[WarcRecord] = {
    if (content == null) return Nil
    val out = collection.mutable.ArrayBuffer.empty[WarcRecord]
    var pos = 0
    var idx = 0
    val n = content.length
    def lineEnd(from: Int): Int = {
      var i = from
      while (i + 1 < n && !(content(i) == '\r' && content(i + 1) == '\n')) i += 1
      if (i + 1 < n) i else -1
    }
    while (pos < n) {
      val start = pos
      // version line
      val ve = lineEnd(pos)
      if (ve < 0 ||
        new String(content, pos, ve - pos, "US-ASCII") != "WARC/1.0")
        return out.toSeq
      pos = ve + 2
      // header lines until the blank CRLF
      var wtype = ""
      var uri = ""
      var clen = -1L
      var ok = true
      var done = false
      while (!done && ok) {
        val he = lineEnd(pos)
        if (he < 0) ok = false
        else if (he == pos) { done = true; pos += 2 } // blank line
        else {
          val line = new String(content, pos, he - pos, "US-ASCII")
          pos = he + 2
          val ci = line.indexOf(':')
          if (ci > 0) {
            val (k, v) = (line.substring(0, ci).trim.toLowerCase,
              line.substring(ci + 1).trim)
            k match {
              case "warc-type" => wtype = v
              case "warc-target-uri" => uri = v
              case "content-length" =>
                clen = try v.toLong catch { case _: Exception => -1L }
              case _ => // unknown headers skipped, per spec
            }
          }
        }
      }
      if (!ok || clen < 0 || pos + clen + 4 > n) return out.toSeq
      var s = 0L
      var i = pos
      val end = pos + clen.toInt
      while (i < end) { s += (content(i) & 0xff); i += 1 }
      out += WarcRecord(idx, start.toLong, pos.toLong, wtype, uri, clen, s)
      idx += 1
      pos = end + 4 // record separator CRLFCRLF
    }
    out.toSeq
  }

  /** Record extraction over a `(warc_id, content)` frame of WARC blobs:
    * one mapPartitions parse pass (binary framing — the legit
    * mapPartitions case), narrow, no shuffle; emits the CDX-shaped
    * (offset, type, uri, length) facts plus the payload byte-sum.
    * Stateless per blob, so it runs unchanged on a streaming frame of
    * fetcher flushes: stream-over-batches equals batch-over-union, and a
    * corrupt blob costs its tail records, not the query
    * (StreamingWarcSpec). Replayed micro-batches re-emit their records;
    * idempotent consumers key on (warc_id, rec_idx). */
  def records(warcs: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("warc_id", LongType, nullable = false),
      StructField("rec_idx", IntegerType, nullable = false),
      StructField("offset", LongType, nullable = false),
      StructField("payload_off", LongType, nullable = false),
      StructField("warc_type", StringType, nullable = false),
      StructField("target_uri", StringType, nullable = false),
      StructField("content_length", LongType, nullable = false),
      StructField("payload_sum", LongType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    warcs.select(col("warc_id"), col("content"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          parseRecords(r.getAs[Array[Byte]](1)).iterator.map { rec =>
            Row(r.getLong(0), rec.index, rec.offset, rec.payloadOffset,
              rec.warcType, rec.targetUri, rec.contentLength, rec.payloadSum)
          }
        }
      }(enc)
      .toDF()
  }
}
