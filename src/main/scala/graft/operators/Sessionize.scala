package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch sessionization (gaps-and-islands) — the same session semantics
  * as the streaming `session_window` path ([[graft.streaming.Streaming
  * .userSessions]]), for users who want sessions over data at rest
  * without a streaming runtime. Adjacent events merge while the gap is
  * <= `gapSec` (matching session_window's merge rule), a strictly
  * greater gap opens a new session; `session_end` = last event + gap.
  *
  * Plan shape: ONE shuffle on the user key serves both the windows and
  * the final aggregation (same partitioning), so the whole operator is
  * shuffle-once at any scale; per-user state is a sort within the
  * partition, never a driver structure.
  */
object Sessionize {

  /** Sessions per `user_id` over integer-second `tss`, events ordered
    * (tss, event_id). Output: user_id, session_start, session_end,
    * n_events, first_event, last_event.
    */
  def batch(events: DataFrame, gapSec: Long): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("tss", "event_id")
    events
      .withColumn("_prev", lag(col("tss"), 1).over(w))
      .withColumn("_new",
        when(col("_prev").isNull || col("tss") - col("_prev") > gapSec, 1)
          .otherwise(0))
      .withColumn("_sid", sum(col("_new"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("_sid"))
      .agg(min(col("tss")).as("session_start"),
        (max(col("tss")) + gapSec).as("session_end"),
        count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event"), max(col("event_id")).as("last_event"))
      .drop("_sid")
  }
}
