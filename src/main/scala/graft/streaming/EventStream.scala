package graft.streaming

import graft.operators.Sketches
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming path for the events feed. The same transform
  * works in batch and streaming (Spark's unified Dataset semantics);
  * the streaming variant adds a watermark so state for closed windows
  * is dropped — the property that keeps a 100 TB/day feed bounded.
  */
object EventStream {

  /** events (ts = epoch nanos bigint) → tumbling 1 h windowed aggregate
    * per event_type. Works on both `read` and `readStream` inputs.
    */
  def hourlyAgg(events: DataFrame, watermark: String = "2 hours"): DataFrame = {
    val withTs = events
      .withColumn("tstamp", timestamp_seconds(expr("ts div 1000000000")))
    val maybeWatermarked =
      if (events.isStreaming) withTs.withWatermark("tstamp", watermark) else withTs
    maybeWatermarked
      .groupBy(window(col("tstamp"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_value"))
  }

  /** Sliding windowed aggregate (window `length`, step `slide`): each
    * event contributes to length/slide overlapping windows. Works on
    * both batch and stream inputs; the streaming side drops a window's
    * state once the watermark passes its end — at feed scale the state
    * is (windows in flight × event types), not the event count. The
    * batch-equivalent cells are the stream_sliding_agg query contract.
    */
  def slidingAgg(events: DataFrame, length: String = "1 hour",
                 slide: String = "15 minutes",
                 watermark: String = "2 hours"): DataFrame = {
    val withTs = events
      .withColumn("tstamp", timestamp_seconds(expr("ts div 1000000000")))
    val wm = if (events.isStreaming) withTs.withWatermark("tstamp", watermark) else withTs
    wm.groupBy(window(col("tstamp"), length, slide), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("n"), col("sum_value"))
  }

  final case class SessionUpdate(user_id: Long, session_start: Long,
                                 session_end: Long, n_events: Long)

  final case class SessionState(startTs: Long, lastTs: Long, cnt: Long)

  /** Streaming sessionization with custom state: per-user sessions close
    * after `gapSec` of event-time inactivity, finalized when the
    * watermark passes (event-time timeout — processing-time timeouts
    * keep the no-data loop spinning in Spark 4.1 and stall
    * processAllAvailable). State per user is three longs — bounded
    * regardless of stream volume; the state store shards by user across
    * executors.
    *
    * Input: any frame with `user_id` (bigint) and `ts` (epoch nanos
    * bigint — the events table shape).
    */
  def sessionize(events: DataFrame, gapSec: Long = 1800L,
                 lateness: String = "10 seconds"): Dataset[SessionUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    val wm = events
      .withColumn("tstamp", timestamp_seconds(expr("ts div 1000000000")))
      .withWatermark("tstamp", lateness)
      .select(col("user_id"), expr("ts div 1000000000").as("tsec"), col("tstamp"))
      .as[(Long, Long, java.sql.Timestamp)]
    wm.groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[(Long, Long, java.sql.Timestamp)],
         state: GroupState[SessionState]) =>
          val sorted = rows.map(_._2).toSeq.sorted
          var cur = state.getOption
          val closed = scala.collection.mutable.ArrayBuffer.empty[SessionUpdate]
          sorted.foreach { t =>
            cur match {
              case Some(s) if t - s.lastTs <= gapSec =>
                cur = Some(s.copy(lastTs = t, cnt = s.cnt + 1))
              case Some(s) =>
                closed += SessionUpdate(userId, s.startTs, s.lastTs, s.cnt)
                cur = Some(SessionState(t, t, 1))
              case None =>
                cur = Some(SessionState(t, t, 1))
            }
          }
          if (state.hasTimedOut) {
            cur.foreach(s => closed += SessionUpdate(userId, s.startTs, s.lastTs, s.cnt))
            state.remove()
          } else {
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp((s.lastTs + gapSec) * 1000)
            }
          }
          closed.iterator
      }
  }

  /** Streaming exact dedup: drop replayed event_ids, with state bounded
    * by the watermark (dropDuplicatesWithinWatermark — state for ids
    * older than the watermark is evicted, so a 100 TB/day feed keeps a
    * window of ids, not all of history).
    */
  def dedupStream(events: DataFrame, lateness: String = "1 hour"): DataFrame = {
    val withTs = events
      .withColumn("tstamp", timestamp_seconds(expr("ts div 1000000000")))
    if (events.isStreaming)
      withTs.withWatermark("tstamp", lateness)
        .dropDuplicatesWithinWatermark("event_id")
        .drop("tstamp")
    else withTs.dropDuplicates("event_id").drop("tstamp")
  }

  final case class SignalAnomaly(name: String, node: String, tsec: Long,
                                 value: Double, z: Double)

  final case class WelfordState(n: Long, mean: Double, m2: Double)

  /** Streaming k-sigma anomaly detection — the streaming form of the
    * reference's noise_outlier core: per-signal running mean/variance
    * (Welford) held as three numbers of state per signal, scored on
    * arrival. A point is emitted when |z| against the statistics of all
    * PRIOR points reaches `level` (after a `minSamples` warmup); the
    * point then folds into the state either way.
    *
    * State is O(signals), not O(points) — the property that keeps an
    * unbounded feed bounded. Event-time timeout retires signals that go
    * silent past the watermark, so decommissioned nodes don't leak
    * state.
    *
    * Input: long signals (name, node, tsec, value), batch or stream.
    */
  def anomalyStream(signals: DataFrame, level: Double = 3.0,
                    minSamples: Int = 8, lateness: String = "10 seconds",
                    idleTimeoutSec: Long = 86400L): Dataset[SignalAnomaly] = {
    val spark = signals.sparkSession
    import spark.implicits._
    val withTs = signals
      .withColumn("tstamp", timestamp_seconds(col("tsec")))
    val wm = if (signals.isStreaming) withTs.withWatermark("tstamp", lateness) else withTs
    wm.select(col("name"), col("node"), col("tsec"), col("value"), col("tstamp"))
      .as[(String, String, Long, Double, java.sql.Timestamp)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[WelfordState, SignalAnomaly](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (String, String), rows: Iterator[(String, String, Long, Double, java.sql.Timestamp)],
         state: GroupState[WelfordState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val (name, node) = key
            val pts = rows.toArray.sortBy(_._3)
            var s = state.getOption.getOrElse(WelfordState(0L, 0.0, 0.0))
            val out = Seq.newBuilder[SignalAnomaly]
            pts.foreach { case (_, _, tsec, v, _) =>
              if (s.n >= minSamples && s.m2 > 0) {
                val sigma = math.sqrt(s.m2 / (s.n - 1))
                val z = (v - s.mean) / sigma
                if (math.abs(z) >= level) out += SignalAnomaly(name, node, tsec, v, z)
              }
              val n1 = s.n + 1
              val d = v - s.mean
              val mean1 = s.mean + d / n1
              s = WelfordState(n1, mean1, s.m2 + d * (v - mean1))
            }
            state.update(s)
            if (pts.nonEmpty)
              state.setTimeoutTimestamp((pts.last._3 + idleTimeoutSec) * 1000)
            out.result().iterator
          }
      }
  }

  final case class HoltState(n: Long, l: Double, b: Double, band: Double)
  final case class ForecastBreach(name: String, node: String, tsec: Long,
                                  value: Double, fc: Double, lo: Double,
                                  hi: Double)

  /** Streaming forecast-breach alerts: the at-ingest companion of the
    * batch `ad_forecast_interval`. Per signal, keyed state carries the
    * Holt (level, trend) pair plus an EWMA of the |1-step residual| as
    * the live band estimate (a streaming quantile would need a sketch;
    * the EWMA is the fast-at-ingest stand-in, with the exact-at-rest
    * batch query as the authority — the split this codebase applies to
    * every streaming detector). A point outside fc ± mult·band after
    * warmup emits an alert BEFORE the state update, so the breach is
    * judged against the forecast that preceded it. State is O(1) per
    * signal; event-time timeout retires silent signals.
    */
  def forecastBreachStream(signals: DataFrame, mult: Double = 3.0,
                           bandAlpha: Double = 0.1, alpha: Double = 0.3,
                           beta: Double = 0.2, minSamples: Int = 8,
                           lateness: String = "10 seconds",
                           idleTimeoutSec: Long = 86400L): Dataset[ForecastBreach] = {
    val spark = signals.sparkSession
    import spark.implicits._
    val withTs = signals.withColumn("tstamp", timestamp_seconds(col("tsec")))
    val wm = if (signals.isStreaming) withTs.withWatermark("tstamp", lateness)
             else withTs
    wm.select(col("name"), col("node"), col("tsec"), col("value"), col("tstamp"))
      .as[(String, String, Long, Double, java.sql.Timestamp)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[HoltState, ForecastBreach](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (String, String), rows: Iterator[(String, String, Long, Double, java.sql.Timestamp)],
         state: GroupState[HoltState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val (name, node) = key
            val pts = rows.toArray.sortBy(_._3)
            var s = state.getOption.getOrElse(HoltState(0L, 0.0, 0.0, 0.0))
            val out = Seq.newBuilder[ForecastBreach]
            pts.foreach { case (_, _, tsec, v, _) =>
              s = if (s.n == 0L) HoltState(1L, v, 0.0, 0.0)
              else if (s.n == 1L) HoltState(2L, s.l, v - s.l, 0.0)
              else {
                val fc = s.l + s.b
                val resid = v - fc
                if (s.n >= minSamples && s.band > 0) {
                  val lo = fc - mult * s.band
                  val hi = fc + mult * s.band
                  if (v < lo || v > hi)
                    out += ForecastBreach(name, node, tsec, v, fc, lo, hi)
                }
                val lNew = alpha * v + (1 - alpha) * fc
                val bNew = beta * (lNew - s.l) + (1 - beta) * s.b
                val bandNew = (1 - bandAlpha) * s.band +
                  bandAlpha * math.abs(resid)
                HoltState(s.n + 1, lNew, bNew, bandNew)
              }
            }
            state.update(s)
            if (pts.nonEmpty)
              state.setTimeoutTimestamp((pts.last._3 + idleTimeoutSec) * 1000)
            out.result().iterator
          }
      }
  }

  /** Watermarked stream-stream join: for every `leftType` event, the
    * `rightType` events of the same user within `withinSec` after it —
    * the "which errors followed this click" correlation. The event-time
    * range condition is what lets Spark bound the join state: once the
    * watermark passes `lt + withinSec`, the left row can never match
    * again and its state is evicted. Works identically on batch inputs
    * (plain range join).
    */
  def followedBy(events: DataFrame, leftType: String = "click",
                 rightType: String = "error", withinSec: Long = 600L,
                 lateness: String = "30 minutes"): DataFrame = {
    def side(tpe: String, prefix: String): DataFrame = {
      val withTs = events
        .withColumn("tstamp", timestamp_seconds(expr("ts div 1000000000")))
      val wm = if (events.isStreaming) withTs.withWatermark("tstamp", lateness) else withTs
      wm.filter(col("event_type") === tpe)
        .select(col("user_id").as(s"${prefix}_user"),
          col("event_id").as(s"${prefix}_id"), col("tstamp").as(s"${prefix}_t"))
    }
    side(leftType, "l").join(side(rightType, "r"),
      col("l_user") === col("r_user") &&
        col("r_t") >= col("l_t") &&
        col("r_t") <= col("l_t") + expr(s"INTERVAL $withinSec SECONDS"))
      .select(col("l_user").as("user_id"), col("l_id"), col("r_id"),
        col("l_t"), col("r_t"))
  }

  /** Stream-static enrichment: join the event stream against a static
    * (or periodically reloaded) dimension table. Spark broadcasts the
    * static side into every micro-batch — the production shape for
    * slowly-changing dimensions: no streaming state, no watermark, and
    * the dimension can be swapped between batches by re-reading it.
    */
  def enriched(events: DataFrame, dim: DataFrame,
               key: String = "user_id"): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key), "left")

  /** Streaming distinct-users sketch: the HLL registers of
    * [[graft.operators.Sketches.hllRegisters]] maintained AS the
    * streaming state — `max(ρ)` per (day window, bucket) is a plain
    * supported streaming aggregate (max commutes, never retracts), so
    * per-day state is a fixed ≤ 512 integers regardless of traffic and
    * the watermark evicts closed days. Emitted registers are the
    * mergeable currency: fold one day with
    * [[graft.operators.Sketches.hllFold]], or max-merge trailing days
    * for streaming WAU/MAU — and they are bit-identical to the batch
    * registers over the same events, so the estimate never forks
    * between the ingest path and the at-rest path.
    */
  def hllStream(events: DataFrame, watermark: String = "2 hours"): DataFrame = {
    val withTs = events
      .withColumn("tstamp", timestamp_seconds(expr("ts div 1000000000")))
    val wm = if (events.isStreaming) withTs.withWatermark("tstamp", watermark) else withTs
    Sketches.hllRegistersBy(
        wm.withColumn("day", window(col("tstamp"), "1 day")),
        Seq("day"), col("user_id"))
      .select(col("day.start").as("day_start"), col("bucket"), col("r"))
  }

  /** Streaming SHORT-window burn-rate pre-alert: per (node, 1 h
    * tumbling window), error count / total count ÷ `budget`, flagged
    * when it crosses `thresh`. This is the ingest half of the
    * multi-window rule (`Anomaly.sloBurn`): the short burn fires AT
    * the feed with one windowed aggregate of bounded state (windows
    * in flight × nodes), and flagged windows are confirmed against
    * the trailing-6 h long burn at rest — the same
    * fast-at-ingest / exact-at-rest split the curation stream uses.
    * Works identically on batch input (parity pinned in
    * StreamingSpec).
    */
  def burnStream(events: DataFrame, budget: Double = 0.25,
                 thresh: Double = 2.0,
                 watermark: String = "2 hours"): DataFrame = {
    val withTs = events
      .withColumn("tstamp", timestamp_seconds(expr("ts div 1000000000")))
      .withColumn("node", concat(lit("u"), (col("user_id") % 8).cast("string")))
      .withColumn("err", (col("event_type") === "error").cast("long"))
    val wm = if (events.isStreaming) withTs.withWatermark("tstamp", watermark)
             else withTs
    wm.groupBy(window(col("tstamp"), "1 hour"), col("node"))
      .agg(sum("err").as("e"), count(lit(1)).as("n"))
      .select(col("window.start").as("hour_start"), col("node"),
        col("e"), col("n"),
        graft.Num.r4(col("e") / col("n") / lit(budget)).as("burn_1h"))
      .withColumn("pre_page", col("burn_1h") >= lit(thresh))
  }

  final case class LevelState(buf: Seq[Double], times: Seq[Long],
                              mr: Double, n: Long, last: Double)
  final case class LevelShiftAlert(name: String, node: String, tsec: Long,
                                   level_before: Double, level_after: Double,
                                   score: Double)

  /** Streaming level-shift pager: the at-ingest companion of batch
    * `ad_level_shift`. Keyed state per signal is a 2w-point ring of
    * recent values plus an EWMA of the point-to-point moving range —
    * the control-chart scale estimator σ ≈ MR̄/1.128 (a streaming MAD
    * would need a quantile sketch; the moving-range EWMA is the
    * fast-at-ingest stand-in, with the exact-at-rest batch query as
    * the authority — the split every streaming detector here
    * applies). When the ring is full, score = |median(next w) −
    * median(prev w)| / σ̂; a score ≥ thresh emits an alert stamped at
    * the first after-window point (where the new level starts). State
    * is O(w) doubles per signal; event-time timeout retires silent
    * signals.
    */
  def levelShiftStream(signals: DataFrame, w: Int = 5,
                       thresh: Double = 6.0, mrAlpha: Double = 0.2,
                       lateness: String = "10 seconds",
                       idleTimeoutSec: Long = 86400L): Dataset[LevelShiftAlert] = {
    require(w % 2 == 1, s"levelShiftStream needs an odd window, got $w")
    val spark = signals.sparkSession
    import spark.implicits._
    val withTs = signals.withColumn("tstamp", timestamp_seconds(col("tsec")))
    val wm = if (signals.isStreaming) withTs.withWatermark("tstamp", lateness)
             else withTs
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
    wm.select(col("name"), col("node"), col("tsec"), col("value"), col("tstamp"))
      .as[(String, String, Long, Double, java.sql.Timestamp)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[LevelState, LevelShiftAlert](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (String, String), rows: Iterator[(String, String, Long, Double, java.sql.Timestamp)],
         state: GroupState[LevelState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val (name, node) = key
            val pts = rows.toArray.sortBy(_._3)
            var s = state.getOption.getOrElse(
              LevelState(Vector.empty, Vector.empty, 0.0, 0L, 0.0))
            val out = Seq.newBuilder[LevelShiftAlert]
            pts.foreach { case (_, _, tsec, v, _) =>
              val mr1 = if (s.n == 0) 0.0
                        else if (s.n == 1) math.abs(v - s.last)
                        else mrAlpha * math.abs(v - s.last) + (1 - mrAlpha) * s.mr
              val buf1 = (s.buf :+ v).takeRight(2 * w)
              val times1 = (s.times :+ tsec).takeRight(2 * w)
              if (buf1.length == 2 * w && mr1 > 0) {
                val before = med(buf1.take(w))
                val after = med(buf1.drop(w))
                val sigma = mr1 / 1.128
                val score = math.abs(after - before) / sigma
                if (score >= thresh)
                  out += LevelShiftAlert(name, node, times1(w), before, after,
                    math.floor((score + 1e-9) * 1e4 + 0.5) / 1e4)
              }
              s = LevelState(buf1, times1, mr1, s.n + 1, v)
            }
            state.update(s)
            if (pts.nonEmpty)
              state.setTimeoutTimestamp((pts.last._3 + idleTimeoutSec) * 1000)
            out.result().iterator
          }
      }
  }
}
