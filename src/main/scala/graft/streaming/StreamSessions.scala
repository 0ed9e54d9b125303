package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TimeMode, TimerValues, Trigger}
import org.apache.spark.sql.Encoders

/** Timer-based sessionization on `transformWithState` — the event-time
  * TIMER primitive ([[StatefulProcessorHandle.registerTimer]]) plus
  * `ListState`, next to `MapState` ([[StreamHeavyHitters]]). The
  * built-in `session_window` aggregation ([[EventTime.sessionCounts]])
  * covers windowed COUNTS; the processor form is what you write when a
  * session CLOSE must trigger arbitrary logic (emit a summary row, fire a
  * webhook, seal a feature vector) the windowed aggregate can't express.
  *
  * Finalization is WATERMARK-GATED (review r11): a session may only be
  * emitted once the event-time watermark has passed `end + gap`, because
  * until then a legal late row (above the watermark, within `lateness`)
  * can still arrive in a LATER batch and bridge it — to following rows,
  * or to another candidate session. The earlier design closed a session
  * row-driven the moment a same-batch row opened a newer one, and that
  * emitted-too-early session could be split off a run the batch
  * gap-grouping merges (a bridge row in `(end, end+gap]` arriving a batch
  * later, which any `lateness > 0` admits). The state is therefore a
  * short LIST of candidate open sessions (runs the watermark has not
  * finalized — at most ~`lateness/gap + 2` per key), maintained by
  * interval merging, with two drain paths off the same rule:
  *  - row-driven: each batch merges its rows into the candidates and
  *    emits every candidate with `end + gap < watermark`;
  *  - timer-driven: a key that goes QUIET has no future rows, so each
  *    batch re-arms one event-time timer at the earliest candidate's
  *    `end + gap`; the watermark passing it fires
  *    [[SessionProcessor.handleExpiredTimer]], which applies the same
  *    emit rule and re-arms for the next candidate.
  *
  * Exactness: each emitted session is a maximal gap-bounded run of a
  * key's events — identical to the batch gap-grouping — under ANY
  * `lateness` and any disorder the watermark admits, the same
  * finalization semantics as the built-in session window. Sessions whose
  * `end + gap` the final watermark never passes stay open (unemitted) at
  * drain, exactly like the built-in session window.
  */
object StreamSessions {

  /** The driver query's watermark delay (start()'s "1 hour" default, in
    * seconds) — named so [[streamedSessions]]'s completeness require and
    * the lateness it passes cannot drift apart. */
  private val DriverLatenessSec = 3600L

  final case class SessionOut(user_id: Long, start_sec: Long, end_sec: Long,
                              n_events: Long)

  final class SessionProcessor(gapMs: Long)
      extends StatefulProcessor[Long, (Long, java.sql.Timestamp), SessionOut] {
    // candidate open sessions (startMs, lastMs, count), pairwise separated
    // by > gap; short — only runs the watermark has not finalized
    @transient private var sess: org.apache.spark.sql.streaming.ListState[(Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getListState("sess",
        ExpressionEncoder[(Long, Long, Long)](),
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    private def candidates(): List[(Long, Long, Long)] =
      if (sess.exists()) sess.get().toList else Nil

    private def store(kept: List[(Long, Long, Long)]): Unit = {
      sess.clear()
      if (kept.nonEmpty) sess.put(kept.toArray)
    }

    /** One timer at the EARLIEST candidate's close point; firing re-arms
      * for the next. A timer landing on a candidate the watermark has not
      * strictly passed just re-arms — never an early emit. `floorExpiry`
      * matters on the expired-timer path (review r11): Spark fires timers
      * INCLUSIVELY (expiry <= watermark) and auto-deletes the fired
      * (key, expiry) pair AFTER the handler returns — so when the
      * watermark lands exactly on end+gap (strict emit rule not met), a
      * re-arm at the SAME expiry would be destroyed by that auto-delete
      * and a quiet key's finalizable session would never emit. Re-arming
      * at least one ms past the fired expiry both survives the
      * auto-delete and guarantees the next fire satisfies wm > end+gap. */
    private def rearm(kept: List[(Long, Long, Long)],
                      floorExpiry: Long = Long.MinValue): Unit = {
      val h = getHandle
      h.listTimers().foreach(t => h.deleteTimer(t.asInstanceOf[Long]))
      if (kept.nonEmpty)
        h.registerTimer(math.max(kept.map(_._2).min + gapMs, floorExpiry))
    }

    /** Gap-merge stored candidates with the batch's rows (each a 1-event
      * interval): sort by start, fold adjacent-within-gap. Counts add —
      * candidates are pairwise > gap apart, so a row bridges at most
      * forward into the fold head, exactly batch gap-grouping. */
    private def merged(stored: List[(Long, Long, Long)],
                       ts: Array[Long]): List[(Long, Long, Long)] = {
      val all = (stored ++ ts.map(t => (t, t, 1L)))
        .sortBy(x => (x._1, x._2))
      all.foldLeft(List.empty[(Long, Long, Long)]) { (acc, iv) =>
        acc match {
          case h :: rest if iv._1 - h._2 <= gapMs =>
            (h._1, math.max(h._2, iv._2), h._3 + iv._3) :: rest
          case _ => iv :: acc
        }
      }.reverse
    }

    /** Emit rule, shared by both paths: a candidate is FINAL only once the
      * watermark strictly passed `end + gap` — no row the watermark admits
      * (t >= wm) can merge with it (t - end <= gap would need t <= end +
      * gap < wm). Anything earlier could still be bridged by a late row in
      * a LATER batch, the split-vs-oracle hazard (review r11). */
    private def drain(all: List[(Long, Long, Long)], wmMs: Long, key: Long,
                      floorExpiry: Long = Long.MinValue): Iterator[SessionOut] = {
      val (closed, kept) = all.partition(s => s._2 + gapMs < wmMs)
      store(kept)
      rearm(kept, floorExpiry)
      closed.iterator.map(s => SessionOut(key, s._1 / 1000, s._2 / 1000, s._3))
    }

    override def handleInputRows(key: Long, rows: Iterator[(Long, java.sql.Timestamp)],
                                 timerValues: TimerValues): Iterator[SessionOut] = {
      val ts = rows.map(_._2.getTime).toArray.sorted
      if (ts.isEmpty) return Iterator.empty
      drain(merged(candidates(), ts), timerValues.getCurrentWatermarkInMs(), key)
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[SessionOut] = {
      val all = candidates()
      if (all.isEmpty) Iterator.empty
      else drain(all, timerValues.getCurrentWatermarkInMs(), key,
        floorExpiry = expired.getExpiryTimeInMs + 1L)
    }
  }

  /** Drive the events fixture through a checkpointed AvailableNow run as
    * two event-time halves PLUS a sentinel batch carrying one far-future
    * event per user (`max ts + 3·gap`): the sentinel pushes the final
    * watermark to `max + 3·gap − lateness`, strictly past every real
    * session's `end + gap` (since `2·gap > lateness`), so the emitted set
    * is exactly the complete batch gap-grouping of the real events —
    * fully deterministic, no watermark-boundary cases — and the run is
    * graded by the DuckDB gap-grouping oracle. (The sentinel's own
    * 1-event session stays un-finalized and is never emitted.) The
    * mid-stream drain still exercises both paths: the halves span many
    * gaps, so quiet users' timers fire between batches while active
    * users' rows drain finalized candidates inline. */
  def streamedSessions(spark: SparkSession, dir: String,
                       gapSec: Long = 86400L): DataFrame = {
    // the completeness argument above needs the sentinel-driven final
    // watermark (max + 3·gap − lateness) strictly past every real
    // session's end + gap, i.e. 2·gap > lateness — enforced, not assumed
    // (review r11): a smaller gap would silently drop every user's last
    // session versus the oracle instead of failing loud
    require(2 * gapSec > DriverLatenessSec,
      s"streamedSessions needs 2*gap > lateness ($DriverLatenessSec s) " +
        s"for oracle-complete finalization, got gap=$gapSec s")
    val root = graft.ops.TwoBatchScratch.freshRoot(spark, "graft_stream_sess")
    // one materialized scan feeds the split bounds, both halves and the
    // sentinel (5 consumers otherwise re-read the parquet each)
    val ev = graft.ops.Tables.events(spark, dir)
      .select(col("user_id"), col("ts"))
      .localCheckpoint(true)
    // watermark sanity horizon — same guard and rationale as
    // [[StreamJoin.stageEventFeed]] (r13 extremes_time fuzz): one corrupt
    // far-future timestamp would silently drop every later normal event
    val mm = ev.filter(col("ts").isNotNull)
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    if (!mm.isNullAt(0)) {
      val spanDays = (mm.getLong(1) - mm.getLong(0)) / 86400000000L
      require(spanDays <= StreamJoin.SanityHorizonDays,
        s"events at $dir span $spanDays days of event time (> " +
          s"${StreamJoin.SanityHorizonDays}-day watermark sanity horizon): " +
          "an extreme timestamp would advance the watermark past every " +
          "later normal event and drop it silently — repair the feed's " +
          "timestamps before streaming")
    }
    // two event-time halves + the sentinel: the halves span many gaps, so
    // quiet users' timer closes still fire BETWEEN batches (both close
    // paths exercised), while the drain pays 3 micro-batch lifecycles
    // instead of 4 — the per-batch state-store cycle is the fixed cost
    // that dominates a gate-scale run. The crash/resume and multi-batch
    // edge cases live in StreamSessionsSpec with purpose-built feeds.
    DedupStream.stageHalvesWithSentinel(s"$root/feed", ev, "ts") { tmax =>
      ev.select(col("user_id")).distinct()
        .withColumn("ts",
          timestamp_micros(lit(tmax + 3 * gapSec * 1000000L)))
    }
    val q = start(spark, s"$root/feed", s"$root/out", s"$root/ckpt",
      java.time.Duration.ofSeconds(gapSec),
      lateness = s"$DriverLatenessSec seconds")
    try q.processAllAvailable() finally q.stop()
    spark.read.parquet(s"$root/out")
      .orderBy(col("user_id"), col("start_sec"))
  }

  /** Start (or resume) the sessionizer over a staged parquet feed of
    * `(user_id BIGINT, ts TIMESTAMP)` rows. */
  def start(spark: SparkSession, feedDir: String, out: String, ckpt: String,
            gap: java.time.Duration, lateness: String = "1 hour",
            maxFilesPerTrigger: Int = 1): org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    StreamTune.withStateConf(spark) {
      spark.readStream
        .schema("user_id BIGINT, ts TIMESTAMP")
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(feedDir)
        .withWatermark("ts", lateness)
        // keep the watermark-tagged ts column through to the operator.
        // NULL user or event time carries no session signal (the same
        // rule batch session_window applies to null event times) — and
        // the typed encoder would otherwise kill the stream (r12 fuzz)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), col("ts"))
        .as[(Long, java.sql.Timestamp)]
        .groupByKey(_._1)
        .transformWithState(new SessionProcessor(gap.toMillis),
          TimeMode.EventTime(), OutputMode.Append())
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
    }
  }
}
