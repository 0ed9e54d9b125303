package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-time streaming semantics — the category the reference lacks
  * entirely (SURVEY.md §2.2: processing is arrival-ordered, no watermarks,
  * no event-time windows). Provided on Structured Streaming primitives.
  */
object EventTime {

  /** Tumbling event-time window aggregate with a watermark: late events
    * beyond `lateness` are dropped; windows finalize (append mode) once the
    * watermark passes their end. */
  def tumblingCounts(events: DataFrame, lateness: String = "10 minutes",
                     width: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total"))

  /** Sliding window variant. */
  def slidingCounts(events: DataFrame, width: String = "1 hour",
                    slide: String = "15 minutes",
                    lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), width, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))

  /** Session windows (gap-based). */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("win_start"), col("user_id"), col("n"))

  /** Stream-stream inner join with event-time bounds: each purchase joins
    * signups of the same user within [signup, signup + horizon]. Watermarks
    * on both sides + the time-range condition let the engine expire join
    * state — without them, stream-stream join state grows forever. */
  def purchaseAttribution(purchases: DataFrame, signups: DataFrame,
                          horizon: String = "1 hour",
                          lateness: String = "10 minutes"): DataFrame = {
    val p = purchases.withWatermark("ts", lateness)
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    val s = signups.withWatermark("ts", lateness)
      .select(col("event_id").as("s_id"), col("user_id").as("s_user"),
        col("ts").as("s_ts"))
    p.join(s,
      col("p_user") === col("s_user") &&
        col("p_ts") >= col("s_ts") &&
        col("p_ts") <= col("s_ts") + expr(s"INTERVAL $horizon"))
  }
}
