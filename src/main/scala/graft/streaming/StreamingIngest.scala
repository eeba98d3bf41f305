package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Streaming ingestion with malformed-record quarantine — the firehose
  * counterpart of [[graft.Tables.loadWithQuarantine]]. A continuous feed
  * (CDC topic, log shipper, crawler output) delivers json LINES, and the
  * three built-in parse behaviors are as wrong at ingest as they are in
  * batch: failing the query kills the pipeline on one bad producer,
  * dropping loses data forever (there is no re-read of a stream),
  * permissive-nulls poison every downstream operator. Parsing instead
  * tags each record so the caller routes ONE input stream to two sinks —
  * typed rows onward, raw garbage to a quarantine store for repair and
  * replay.
  *
  * Unlike the batch version (two filters over one cached scan), a stream
  * cannot be cached-and-read-twice; the split happens IN-ROW: `from_json`
  * parses once per record, the corrupt column decides the route, and both
  * halves ride the same micro-batch. Stateless — no watermark, no state
  * store, restart replays nothing (same discipline as
  * [[graft.ops.Quality.classifierScoreInline]] on a stream).
  */
object StreamingIngest {

  /** Parse a stream (or batch frame — the twin specs pin equality) of raw
    * json lines in `lineCol` against `schema`. Output: the typed columns
    * of `schema`, plus `is_corrupt` and `raw_record` (the verbatim line
    * for corrupt rows, null for good ones). Rows where json is malformed
    * OR a field fails to type are corrupt, matching the batch reader's
    * PERMISSIVE + corrupt-column contract. */
  def parseWithQuarantine(
      lines: DataFrame,
      schema: StructType,
      lineCol: String = "value"): DataFrame = {
    require(!schema.fieldNames.contains("_corrupt_record"),
      "schema already claims _corrupt_record")
    val withCorrupt = StructType(schema.fields :+
      StructField("_corrupt_record", StringType, nullable = true))
    val parsed = from_json(col(lineCol), withCorrupt,
      Map("mode" -> "PERMISSIVE",
        "columnNameOfCorruptRecord" -> "_corrupt_record"))
    val fields = schema.fieldNames.map(f => col(s"p.$f")).toIndexedSeq
    lines
      .withColumn("p", parsed)
      // from_json yields a NULL struct (not a corrupt marker) for lines
      // that are not json at all — treat both shapes as corrupt
      .withColumn("is_corrupt",
        col("p").isNull || col("p._corrupt_record").isNotNull)
      .withColumn("raw_record",
        when(col("is_corrupt"), col(lineCol)))
      .select(fields ++ Seq(col("is_corrupt"), col("raw_record")): _*)
  }
}
