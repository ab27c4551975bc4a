package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Batch sessionization: split each user's event stream into sessions at
  * inactivity gaps (the op that produces the reference's precomputed
  * `sessions_30d`-style columns).
  *
  * Classic gap-and-island: one sort-shuffle on (user, ts); session ids
  * are a running sum over the boundary flags — linear, no self-join.
  */
object Sessionize {

  /** Adds `session_id` (0-based per user) to an event frame. */
  def withSessionIds(
      events: DataFrame, userCol: String, tsCol: String,
      gapSeconds: Long): DataFrame = {
    val byUser = Window.partitionBy(userCol).orderBy(tsCol)
    events
      .withColumn("_prev_ts", lag(col(tsCol), 1).over(byUser))
      .withColumn("_new_session",
        when(col("_prev_ts").isNull ||
          unix_micros(col(tsCol)) - unix_micros(col("_prev_ts")) > gapSeconds * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("_new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)) - 1)
      .drop("_prev_ts", "_new_session")
  }

  /** Per-session stats: events, span, value sum. */
  def sessionStats(
      events: DataFrame, userCol: String, tsCol: String, valueCol: String,
      gapSeconds: Long): DataFrame =
    withSessionIds(events, userCol, tsCol, gapSeconds)
      .groupBy(col(userCol), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        unix_micros(min(col(tsCol))).as("start_us"),
        unix_micros(max(col(tsCol))).as("end_us"),
        graft.core.Det.dsum(col(valueCol)).as("sum_value"))

  /** The DECLARATIVE twin of [[sessionStats]]: Spark's native
    * `session_window` aggregation (SessionWindowStateStoreSave at
    * streaming runtime, plain hash agg in batch) instead of the
    * gap-and-island window chain. Near-identical session semantics:
    * each event opens a [ts, ts+gap) window and overlapping windows
    * merge, so events strictly within `gapSeconds` of the previous one
    * join its session. The ONE divergence from [[sessionStats]] is the
    * exact-gap boundary — [ts, ts+gap) is end-EXCLUSIVE, so an event
    * precisely gap seconds later starts a NEW session here, while the
    * lag rule's `diff > gap` keeps it (q114's oracle encodes the `>=`
    * rule for exactly this reason). start/end are min/max event time
    * (the window struct's `end`
    * would be last-event + gap — dropped in favor of the aggregates so
    * both twins emit identical rows, which q114's shared-shape oracle
    * hash-checks). In streaming, watermark the ts column first; closed
    * sessions emit in Append mode.
    *
    * One session_window hash aggregation — no sort-window chain, and the
    * state-store-backed streaming path is why this twin exists.
    */
  def sessionWindowStats(
      events: DataFrame, userCol: String, tsCol: String, valueCol: String,
      gapSeconds: Long): DataFrame =
    events
      .groupBy(col(userCol),
        session_window(col(tsCol), s"$gapSeconds seconds"))
      .agg(
        count(lit(1)).as("n_events"),
        unix_micros(min(col(tsCol))).as("start_us"),
        unix_micros(max(col(tsCol))).as("end_us"),
        graft.core.Det.dsum(col(valueCol)).as("sum_value"))
      .drop("session_window")
}
