package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, Trigger}
import org.apache.spark.sql.Encoders

/** Streaming heavy-hitter ALERTS: maintain per-key event counts in keyed
  * state across micro-batches and emit each key exactly once, in the batch
  * where its cumulative count first crosses the threshold — the
  * "hot key / abusive client / trending item" monitor every streaming
  * deployment bolts onto its ingest.
  *
  * State layout: the stream is keyed by a bounded SHARD (`hash(key) %
  * shards`), and each shard keeps a `MapState[key -> count]` — the
  * map-typed state primitive (vs a single `ValueState` per key):
  * per-entry point lookups and updates without deserializing the whole
  * shard's map, which is exactly what RocksDB's prefix-keyed layout
  * provides. Keying by shard instead of by raw key bounds the stateful
  * operator's key cardinality (shard count is a config), while state
  * SIZE stays proportional to live keys either way.
  *
  * Exactness: counts are additive and never evicted, so after an
  * AvailableNow drain the alerted set is exactly the keys whose total
  * count >= threshold — independent of how the feed was batched. The
  * count carried on the alert is the cumulative count at crossing (batch-
  * split-dependent); [[streamedHeavyHitters]] therefore re-joins the
  * final totals so the query output is fully deterministic and
  * DuckDB-oracle-checkable, the same promotion shape as
  * [[DedupStream.streamedPairs]] and [[StreamJoin.streamedAttribution]].
  */
object StreamHeavyHitters {

  /** (key, cumulative count at crossing) emitted at most once per key. */
  final case class Alert(key: Long, at_count: Long)

  final class HeavyHitterProcessor(threshold: Long)
      extends StatefulProcessor[Long, (Long, Long), Alert] {
    import org.apache.spark.sql.streaming.{MapState, TTLConfig}
    @transient private var counts: MapState[Long, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[Long, Long]("counts",
        Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(shard: Long, rows: Iterator[(Long, Long)],
                                 timerValues: TimerValues): Iterator[Alert] = {
      // fold the batch's rows per key first: one state read + one write
      // per DISTINCT key per batch, not per event row
      val batchCounts = rows.foldLeft(Map.empty[Long, Long]) {
        case (m, (_, key)) => m.updated(key, m.getOrElse(key, 0L) + 1L)
      }
      batchCounts.iterator.flatMap { case (key, added) =>
        val before = if (counts.containsKey(key)) counts.getValue(key) else 0L
        val after = before + added
        counts.updateValue(key, after)
        if (before < threshold && after >= threshold) Iterator.single(Alert(key, after))
        else Iterator.empty
      }
    }
  }

  /** Drive the events fixture through a checkpointed AvailableNow run as a
    * two-batch feed (median-event-time split) and return the alerted
    * users with their FINAL totals: `(user_id, n_events)` for every user
    * whose event count reaches `threshold` — deterministic, so the
    * streaming run itself is graded by the batch GROUP BY/HAVING oracle. */
  /** Scratch root for one application's heavy-hitter run (specs read the
    * raw alert log from `<root>/alerts` for the exactly-once check). The
    * prefix exists ONCE: [[streamedHeavyHitters]] passes the same constant
    * to TwoBatchScratch.freshRoot, so the two derivations can never drift
    * apart and leave the spec reading a stale dir (r9 review). */
  private[graft] val ScratchPrefix = "graft_stream_hh"
  private[graft] def scratchRoot(spark: SparkSession): String =
    s"${sys.props("java.io.tmpdir")}/${ScratchPrefix}_" +
      spark.sparkContext.applicationId

  def streamedHeavyHitters(spark: SparkSession, dir: String,
                           threshold: Long = 75, shards: Int = 64): DataFrame = {
    import spark.implicits._
    val root = graft.ops.TwoBatchScratch.freshRoot(spark, ScratchPrefix)
    // one materialized scan feeds the split bound, both halves AND the
    // totals join below (4 parquet scans otherwise — review r11; the
    // sibling drivers' localCheckpoint discipline)
    val ev = graft.ops.Tables.events(spark, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("tsu"), col("user_id"))
      .localCheckpoint(true)
    // empty feed: null midpoint would NPE on getDouble; 0 splits the empty
    // frame into two empty batches and the run reports the empty alert set
    val midRow = ev.agg((min(col("tsu")) + max(col("tsu"))) / 2).head()
    val mid = if (midRow.isNullAt(0)) 0L else midRow.getDouble(0).toLong
    DedupStream.stageBatches(s"$root/feed",
      Seq(ev.filter(col("tsu") <= mid).select(col("user_id")),
        ev.filter(col("tsu") > mid).select(col("user_id"))))
    val q = start(spark, s"$root/feed", s"$root/alerts", s"$root/ckpt",
      threshold, shards)
    try q.processAllAvailable() finally q.stop()
    // explicit schema: a threshold nobody crosses leaves the file sink with
    // only _spark_metadata, and schema INFERENCE over zero data files
    // throws instead of returning the empty alert set (r9 review — the
    // empty-but-typed discipline the other drivers' batch logs follow)
    val alerts = spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "key BIGINT, at_count BIGINT"))
      .parquet(s"$root/alerts")
    val totals = ev
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
    alerts.select(col("key").as("user_id"))
      .join(totals, "user_id")
      .orderBy(col("user_id"))
  }

  /** Start (or RESUME — the checkpoint owns progress) the heavy-hitter
    * stream over a staged parquet feed. Exactly-once across a crash:
    * MapState restores to the last committed batch's snapshot, the
    * replayed batch recomputes the same crossings, and the file sink's
    * metadata log deduplicates the replayed batch's output files —
    * [[StreamHeavyHittersSpec]] kills a run at its last commit and
    * proves the resumed alert log is still alert-per-key-unique. */
  def start(spark: SparkSession, feedDir: String, alertsOut: String,
            ckpt: String, threshold: Long = 75, shards: Int = 64,
            maxFilesPerTrigger: Int = 1): org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    // RocksDB store (required by transformWithState) + the shared
    // fixed-overhead tuning; conf is captured into the checkpoint at
    // creation and restored after start, so co-resident queries keep
    // their own store.
    StreamTune.withStateConf(spark) {
      spark.readStream
        .schema("user_id BIGINT")
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(feedDir)
        // an event without a subject cannot be counted against one: NULL
        // keys have no keyed-state channel (r12 fuzz: the typed encoder
        // otherwise killed the stream on the first null row)
        .filter(col("user_id").isNotNull)
        .as[Long]
        .map(u => (math.floorMod(u, shards.toLong), u))
        .groupByKey(_._1)
        .transformWithState(new HeavyHitterProcessor(threshold),
          TimeMode.None(), OutputMode.Append())
        .writeStream
        .format("parquet")
        .option("path", alertsOut)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
    }
  }
}
