package graft.streaming

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window

/** Sessionization — gap-based event grouping per user.
  *
  * [[sessionizeBatch]] is the declarative window plan (lag → gap flag →
  * running session id → aggregate): one shuffle on user_id, the
  * backfill/batch path at any scale (q71). Live sessionization is
  * Catalyst's native `session_window` on a watermarked stream (q165,
  * StreamQueries) — the reference has no stateful streaming (SURVEY
  * §2.10); StreamSpec checks that path against this plan.
  */
object Sessionize {

  /** Batch: sessions = runs of events with inter-event gap <= gapSec. */
  def sessionizeBatch(events: DataFrame, gapSec: Long): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events
      .withColumn("prev_ts", F.lag("ts", 1).over(byUser))
      .withColumn("new_sess",
        (F.col("prev_ts").isNull ||
          F.unix_timestamp(F.col("ts")) -
            F.unix_timestamp(F.col("prev_ts")) > gapSec).cast("int"))
      .withColumn("session_id",
        F.sum("new_sess").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(
        F.unix_timestamp(F.min("ts")).as("session_start"),
        F.unix_timestamp(F.max("ts")).as("session_end"),
        F.count(F.lit(1)).as("n_events"),
        F.round(F.sum("value"), 2).as("total"))
  }
}
