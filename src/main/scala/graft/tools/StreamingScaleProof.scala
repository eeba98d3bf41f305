package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.ListenerBusBridge
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._

import graft.Tables

/** Two-decade BOUNDED-STATE proof for the streaming twins
  * ([[graft.streaming.StreamingSessions]] /
  * [[graft.streaming.StreamingEvents]]) — the measurement VERDICT r6
  * task 7 asked for: the batch ScaleProof covers ns25/ns28/ns43 growth,
  * but the streaming operators' "state is bounded by active keys, not
  * event volume" claim was spec-pinned yet unmeasured.
  *
  * Synthesis axis — TIME-EXTENDED, not user-extended: the batch
  * ScaleProof grows events by adding users (the 100-TB batch growth
  * shape); for STATE the interesting axis is the opposite one. Here every
  * decade replays the same 1,500 users' log k times, each copy shifted
  * past the previous by span + 3×gap (so no session can straddle copies
  * and no window overlaps), giving k× the events over k× the wall-clock
  * with a CONSTANT active-key population. A state-discipline regression
  * (state growing with events — e.g. sessions never evicted, windows
  * retained past the watermark) shows up as peak state rows scaling with
  * k; the correct shape is FLAT peaks across both decades:
  *
  *   - sessions: ≤ one `SessState` per user ever (open session or the
  *     16-byte numbering counter) — peak ≈ 1,501 rows at 1×, 10×, 100×;
  *   - windows: open (window × type) pairs bounded by the per-batch
  *     watermark horizon — peak ≈ windows-per-copy × types, k-invariant.
  *
  * Ingestion is the real scale path (file-source micro-batches in
  * event-time order — copies are written sequentially so modification
  * times order the FileStreamSource queue; `maxFilesPerTrigger=1` gives
  * one copy per trigger so the watermark advances between copies and
  * evictions actually happen), not a driver-fed MemoryStream. Two
  * far-future sentinel files flush the tail via event-time timeout,
  * exactly as the equivalence specs do.
  *
  * Usage: {{{ sbt "runMain graft.tools.StreamingScaleProof" }}}
  * Env: SPARK_GRAFT_SF_BASE (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_SCALE_FACTORS (default "1,10,100"),
  *      SPARK_GRAFT_SCALE_DIR (default target/streamproof),
  *      SPARK_GRAFT_CPUS (default: the machine's processor count).
  */
object StreamingScaleProof {

  /** Peak state + output totals across every progress event of one query
    * (recentProgress truncates at 100 batches; a listener does not). */
  private final class Peaks extends StreamingQueryListener {
    val peakRows = new AtomicLong(0L)
    val peakBytes = new AtomicLong(0L)
    val outRows = new AtomicLong(0L)
    val batches = new AtomicLong(0L)
    def reset(): Unit = { peakRows.set(0); peakBytes.set(0); outRows.set(0)
      batches.set(0) }
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      batches.incrementAndGet()
      p.stateOperators.foreach { so =>
        peakRows.getAndUpdate(r => math.max(r, so.numRowsTotal))
        peakBytes.getAndUpdate(b => math.max(b, so.memoryUsedBytes))
      }
      if (p.sink.numOutputRows > 0) outRows.addAndGet(p.sink.numOutputRows)
      ()
    }
  }

  private val gapUs = 28800L * 1000000L // 8h, as in ns25

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_BASE", "/root/testdata/sf0.1")
    val factors = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTORS", "1,10,100")
      .split(",").map(_.trim.toInt).toSeq
    val scratch =
      sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "target/streamproof")
    val spark = graft.Harness.session("graft-streaming-scale-proof")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // streaming: AQE off
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val canon = graft.ops.Materialize.cached(graft.ops.Events
      .tsMicros(Tables.load(spark, base, "events"))
      .select("user_id", "event_id", "ts", "event_type", "value")
      .orderBy("ts", "event_id"))
    val (t0, t1, nEv) = {
      val r = canon.agg(min("ts"), max("ts"), count(lit(1))).head
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val span = t1 - t0
    val shift = span + 3 * gapUs
    val nUsers = canon.select("user_id").distinct().count()
    val baseSessions =
      graft.ops.Events.sessionize(canon.toDF(), gapUs).count()
    println(s"[stream-proof] base=$base events=$nEv users=$nUsers " +
      s"span=${span / 1000000L}s sessions/copy=$baseSessions")

    // ---- synthesis: k time-shifted copies, written IN ORDER ------------
    def synthesize(k: Int): String = {
      val dir = s"$scratch/in_x$k"
      val marker = new java.io.File(s"$dir/_streamproof_ok")
      if (marker.exists()) return dir
      println(s"[stream-proof] synthesizing ${k}x time-extended log at $dir")
      (0 until k).foreach { c =>
        canon
          .withColumn("ts", col("ts") + lit(c * shift))
          .withColumn("event_id", col("event_id") + lit(c * nEv))
          .orderBy("ts", "event_id").coalesce(1)
          .write.mode("append").parquet(dir)
      }
      // two sentinel ticks past every session timeout / window end so the
      // watermark flushes the tail (same protocol as the equivalence specs)
      Seq(3L, 7L).foreach { m =>
        Seq((-1L, -m, (k - 1) * shift + t1 + m * gapUs, "sentinel", 0.0))
          .toDF("user_id", "event_id", "ts", "event_type", "value")
          .coalesce(1).write.mode("append").parquet(dir)
      }
      marker.createNewFile()
      dir
    }

    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType),
      StructField("ts", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val peaks = new Peaks
    spark.streams.addListener(peaks)

    def run(name: String, dir: String, build: DataFrame => DataFrame,
        filesPerTrigger: Int): (Long, Long, Long, Long, Double) = {
      peaks.reset()
      val in = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", filesPerTrigger).parquet(dir)
      val tS = System.nanoTime()
      val q = build(in).writeStream.format("noop")
        .option("checkpointLocation", s"$scratch/ckpt/$name")
        .outputMode("append").start()
      q.processAllAvailable()
      q.stop()
      val sec = (System.nanoTime() - tS) / 1e9
      // progress events reach the listener through the async bus — drain
      // it before snapshotting the peaks
      ListenerBusBridge.drain(spark.sparkContext)
      (peaks.peakRows.get, peaks.peakBytes.get, peaks.outRows.get,
        peaks.batches.get, sec)
    }

    case class Decade(k: Int, events: Long,
      sessPeakRows: Long, sessPeakBytes: Long, sessOut: Long, sessSec: Double,
      winPeakRows: Long, winPeakBytes: Long, winOut: Long, winSec: Double,
      asofPeakRows: Long, asofPeakBytes: Long, asofOut: Long, asofSec: Double,
      funPeakRows: Long, funOut: Long, funSec: Double,
      retPeakRows: Long, retCells: Long, retSec: Double,
      trPeakRows: Long, trOut: Long, trSec: Double)

    // retention twin: per-user first-seen records + the (cohort, offset)
    // cell aggregate, horizon = the base span (29 daily offsets). Copies
    // ≥ 2 sit ≥ shift (31 days) past every user's first-seen bucket —
    // beyond the horizon — so the TRIANGLE ITSELF is k-invariant: state
    // peaks AND final cells must be flat across decades.
    val retDayUs = 86400L * 1000000L
    val retMaxOffset = 29
    // inline cell oracle: canon's ts is ALREADY micros-as-long, and
    // Events.retentionCohorts runs tsMicros internally (which would read a
    // LongType as legacy nanos and divide again) — so replicate the
    // distinct-pair/cohort/offset logic directly on the micros
    val baseRetCells = {
      val pairs = canon
        .select(col("user_id"), expr(s"ts DIV ${retDayUs}L").as("bucket"))
        .distinct()
      val firstSeen = pairs.groupBy(col("user_id"))
        .agg(min(col("bucket")).as("cohort"))
      pairs.join(firstSeen, Seq("user_id"))
        .select(col("cohort"), (col("bucket") - col("cohort")).as("off"))
        .where(col("off") <= retMaxOffset)
        .distinct().count()
    }
    def runRetention(name: String, dir: String): (Long, Long, Long, Double) = {
      peaks.reset()
      val in = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)
      val tS = System.nanoTime()
      val q = graft.streaming.StreamingRetention.retentionCells(
          graft.streaming.StreamingRetention.retentionDeltas(
            in.select(col("user_id"), col("ts"))
              .as[graft.streaming.StreamingRetention.REv],
            retDayUs, maxOffset = retMaxOffset))
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", s"$scratch/ckpt/$name")
        .outputMode("complete").start()
      q.processAllAvailable()
      q.stop()
      val sec = (System.nanoTime() - tS) / 1e9
      ListenerBusBridge.drain(spark.sparkContext)
      val cells = spark.table(name).where(col("active_users") > 0).count()
      (peaks.peakRows.get, peaks.peakBytes.get, cells, sec)
    }

    val basePurchases =
      canon.where(col("event_type") === "purchase").count()
    val funnelStages = Seq("view", "click", "purchase")
    val baseFunnelUsers = canon
      .where(col("event_type").isin(funnelStages: _*))
      .select("user_id").distinct().count()

    val results = factors.map { k =>
      val dir = synthesize(k)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$scratch/ckpt"))
      val (sr, sb, so, sn, ss) = run(s"sess_x$k", dir,
        df => graft.streaming.StreamingSessions.sessions(
          df.select("user_id", "event_id", "ts")
            .as[graft.streaming.StreamingSessions.Ev], gapUs).toDF(),
        filesPerTrigger = 1)
      // sessions: every copy's sessions close (the next copy's watermark
      // is past them); only the final sentinel's own session stays open
      val expect = k * baseSessions
      require(so >= expect && so <= expect + 3,
        s"x$k closed sessions $so outside [$expect, ${expect + 3}]")
      val (wr, wb, wo, wn, ws) = run(s"win_x$k", dir,
        df => graft.streaming.StreamingEvents.windowedTypeCounts(
          df.select("ts", "event_type", "value")),
        filesPerTrigger = 1)
      // as-of state is horizon-bounded: pending purchases + in-horizon
      // clicks of roughly ONE trigger, plus the compacted best click per
      // user — flat across decades even though outputs grow k×
      // sentinel rows pass through (asOf buffers only click/purchase
      // kinds, but every row advances the watermark) — filtering them out
      // would leave the max-ts purchase forever pending, since strict
      // finalization needs the watermark BEYOND it
      val (ar, ab, ao, an, as_) = run(s"asof_x$k", dir,
        df => graft.streaming.StreamingAsOf.asOf(
          df.where(col("event_type")
              .isin("click", "purchase", "sentinel"))
            .select(col("user_id"), col("event_id"), col("ts"),
              col("event_type").as("kind"), col("value"))
            .as[graft.streaming.StreamingAsOf.Ev2]).toDF(),
        filesPerTrigger = 1)
      require(ao == k * basePurchases,
        s"x$k finalized purchases $ao != ${k * basePurchases}")
      // funnel: every user's ONE window closes inside copy 1; later
      // copies hit the tombstone — output is user-cardinality and
      // k-INVARIANT (the emit-once proof), state peaks at the buffering
      // phase of copy 1 plus tombstones, flat across decades. Sentinel
      // rows ride along (any type advances the watermark; the sentinel
      // user emits its own reached-0 rows).
      val (fr, fb, fo, fn, fs) = run(s"funnel_x$k", dir,
        df => graft.streaming.StreamingFunnel.funnel(
          df.where(col("event_type")
              .isin("view", "click", "purchase", "sentinel"))
            .select(col("user_id"), col("ts"), col("event_type"))
            .as[graft.streaming.StreamingFunnel.FEv],
          horizonMicros = 6L * 3600L * 1000000L).toDF(),
        filesPerTrigger = 1)
      require(fo >= baseFunnelUsers && fo <= baseFunnelUsers + 2,
        s"x$k funnel rows $fo outside [$baseFunnelUsers, " +
          s"${baseFunnelUsers + 2}] — emit-once violated")
      // retention: cells beyond copy 1 are out of horizon, so the final
      // triangle is k-invariant (+2 slack for the sentinel user's cells)
      val (rr, rb, rc, rs) = runRetention(s"ret_x$k", dir)
      require(rc >= baseRetCells && rc <= baseRetCells + 2,
        s"x$k retention cells $rc outside [$baseRetCells, " +
          s"${baseRetCells + 2}] — triangle grew past the horizon")
      // transitions: per-user chains concatenate across copies, so each
      // user emits k·events_u − 1 pairs = k·nEv − nUsers total (the final
      // sentinel's own pair stays unfinalized — nothing passes its ts);
      // state is carry-per-user + one trigger's buffer, flat across decades
      val (tr2, tb2, to2, tn2, ts2) = run(s"trans_x$k", dir,
        df => graft.streaming.StreamingTransitions.transitions(
          df.select(col("user_id"), col("event_id"), col("ts"),
              col("event_type"))
            .as[graft.streaming.StreamingTransitions.TEv]).toDF(),
        filesPerTrigger = 1)
      require(to2 == k * nEv - nUsers,
        s"x$k transitions $to2 != ${k * nEv - nUsers} — emit-once violated")
      println(f"[stream-proof] x$k%-3d sessions: peak_state_rows=$sr " +
        f"peak_state_bytes=$sb out=$so batches=$sn sec=$ss%.1f | " +
        f"windows: peak_state_rows=$wr peak_state_bytes=$wb out=$wo " +
        f"batches=$wn sec=$ws%.1f | asof: peak_state_rows=$ar " +
        f"peak_state_bytes=$ab out=$ao batches=$an sec=${as_}%.1f | " +
        f"funnel: peak_state_rows=$fr peak_state_bytes=$fb out=$fo " +
        f"batches=$fn sec=$fs%.1f | retention: peak_state_rows=$rr " +
        f"peak_state_bytes=$rb cells=$rc sec=$rs%.1f | transitions: " +
        f"peak_state_rows=$tr2 peak_state_bytes=$tb2 out=$to2 " +
        f"batches=$tn2 sec=$ts2%.1f")
      Decade(k, nEv * k, sr, sb, so, ss, wr, wb, wo, ws, ar, ab, ao, as_,
        fr, fo, fs, rr, rc, rs, tr2, to2, ts2)
    }

    // ---- the bounded-state gate: peaks must be FLAT across decades -----
    val r1 = results.head
    results.tail.foreach { r =>
      require(r.sessPeakRows <= r1.sessPeakRows * 3 / 2 + 8,
        s"sessions state grew with event volume: x${r.k} peak " +
          s"${r.sessPeakRows} vs x${r1.k} peak ${r1.sessPeakRows}")
      require(r.winPeakRows <= r1.winPeakRows * 3 / 2 + 8,
        s"window state grew with event volume: x${r.k} peak " +
          s"${r.winPeakRows} vs x${r1.k} peak ${r1.winPeakRows}")
      require(r.asofPeakRows <= r1.asofPeakRows * 3 / 2 + 8,
        s"as-of state grew with event volume: x${r.k} peak " +
          s"${r.asofPeakRows} vs x${r1.k} peak ${r1.asofPeakRows}")
      require(r.funPeakRows <= r1.funPeakRows * 3 / 2 + 8,
        s"funnel state grew with event volume: x${r.k} peak " +
          s"${r.funPeakRows} vs x${r1.k} peak ${r1.funPeakRows}")
      require(r.retPeakRows <= r1.retPeakRows * 3 / 2 + 8,
        s"retention state grew with event volume: x${r.k} peak " +
          s"${r.retPeakRows} vs x${r1.k} peak ${r1.retPeakRows}")
      require(r.trPeakRows <= r1.trPeakRows * 3 / 2 + 8,
        s"transition state grew with event volume: x${r.k} peak " +
          s"${r.trPeakRows} vs x${r1.k} peak ${r1.trPeakRows}")
    }
    // sessions state is keyed by user: the peak can never exceed the
    // active-key population (+ sentinel + slack for the numbering stubs)
    results.foreach { r =>
      require(r.sessPeakRows <= nUsers + 2,
        s"x${r.k} session state ${r.sessPeakRows} exceeds user count $nUsers")
    }
    println("[stream-proof] PASS: state peaks flat across " +
      s"${factors.mkString("/")}x (sessions ≤ ${nUsers + 2} rows always)")
    spark.stop()
  }
}
