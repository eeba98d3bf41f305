package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, Tables, TempDirs}

/** The scan layer must adapt to whatever physical timestamp encoding an
  * external table's writer chose — the round-6 testdata regeneration
  * (parquet TIMESTAMP(NANOS) → TIMESTAMP(MICROS) isAdjustedToUTC=0)
  * proved that a single-encoding assumption breaks every events consumer
  * at once. This spec writes the SAME event log in all three encodings an
  * events scan can surface — nanosecond longs (what
  * `spark.sql.legacy.parquet.nanosAsLong` yields on a NANOS file),
  * TIMESTAMP_NTZ micros, and UTC-adjusted TIMESTAMP micros — and asserts
  * the ns25/ns28/ns43 operator pipelines produce identical results on
  * each, so no encoding assumption is load-bearing anywhere downstream of
  * [[Events.tsMicros]]. (The streaming twins consume post-`tsMicros` rows
  * and are exercised against the live testdata encoding in
  * `StreamingSessionsSpec`/`StreamingEventsSpec`.)
  *
  * Reference semantics anchor: klepto never assumes a value encoding —
  * `database.Row` carries whatever the driver returns
  * (`pkg/database/database.go:4-6`) and the dumper switches on the runtime
  * type (`pkg/dumper/query/dumper.go:138-163`). */
class EventsEncodingSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** The event log with ts already normalized to micros longs — the
    * canonical value both re-encodings must round-trip to. */
  private lazy val canon: DataFrame =
    Events.tsMicros(Tables.load(spark, sf, "events"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")

  private lazy val dirs: Map[String, String] = {
    val base = tempDir("events-enc").toFile
    base.deleteOnExit()
    val out = Map(
      "nanos-long" -> canon.withColumn("ts", col("ts") * lit(1000L)),
      "micros-ntz" -> canon.withColumn("ts",
        timestamp_micros(col("ts")).cast(TimestampNTZType)),
      "micros-utc" -> canon.withColumn("ts", timestamp_micros(col("ts"))))
    out.map { case (name, df) =>
      val dir = s"${base.getAbsolutePath}/$name"
      df.coalesce(1).write.mode("overwrite").parquet(dir)
      name -> dir
    }
  }

  private def load(dir: String): DataFrame = spark.read.parquet(dir)

  test("the three encodings scan to the expected Spark types") {
    assert(load(dirs("nanos-long")).schema("ts").dataType == LongType)
    assert(load(dirs("micros-ntz")).schema("ts").dataType == TimestampNTZType)
    assert(load(dirs("micros-utc")).schema("ts").dataType == TimestampType)
  }

  test("tsMicros normalizes every encoding to identical micros longs") {
    val want = canon.select("event_id", "ts").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((name, dir) <- dirs) {
      val got = Events.tsMicros(load(dir)).select("event_id", "ts")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"encoding $name")
      assert(Events.tsMicros(load(dir)).schema("ts").dataType == LongType,
        s"encoding $name must normalize to LongType micros")
    }
  }

  test("tsMicros rejects a non-time column with a clear error") {
    val e = intercept[IllegalArgumentException] {
      Events.tsMicros(canon.withColumn("ts", col("ts").cast("string")))
    }
    assert(e.getMessage.contains("unsupported event-time type"))
  }

  private def sessions(df: DataFrame) =
    Events.sessionize(Events.tsMicros(df), gap = 28800L * 1000000L)
      .orderBy("user_id", "session_idx").collect().toSeq

  private def asof(df: DataFrame) = {
    val ev = Events.tsMicros(df)
    Events.asOfJoin(
        ev.where(col("event_type") === "purchase")
          .select("user_id", "ts", "event_id", "value"),
        ev.where(col("event_type") === "click")
          .select("user_id", "ts", "event_id"))
      .orderBy("event_id").collect().toSeq
  }

  private def ranged(df: DataFrame) = {
    val win = 86400L * 1000000L
    val ev = Events.tsMicros(df)
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        (col("ts") - lit(win)).as("start_ts"), col("ts").as("end_ts"))
    Joins.rangeJoin(views, purchases, "ts", "start_ts", "end_ts",
        keys = Seq("user_id"), bucket = win)
      .select("purchase_id", "view_id", "user_id")
      .orderBy("purchase_id", "view_id").collect().toSeq
  }

  test("sessionize / as-of join / range join are encoding-invariant") {
    val Seq(s0, a0, r0) =
      Seq(sessions(load(dirs("nanos-long"))), asof(load(dirs("nanos-long"))),
        ranged(load(dirs("nanos-long"))))
    assert(s0.nonEmpty && a0.nonEmpty && r0.nonEmpty)
    for (enc <- Seq("micros-ntz", "micros-utc")) {
      assert(sessions(load(dirs(enc))) == s0, s"sessionize on $enc")
      assert(asof(load(dirs(enc))) == a0, s"asOfJoin on $enc")
      assert(ranged(load(dirs(enc))) == r0, s"rangeJoin on $enc")
    }
  }
}
