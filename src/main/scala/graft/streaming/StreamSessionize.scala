package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming surface over the events table shape
  * (event_id, ts µs, user_id, event_type, value, props).
  *
  * The reference is batch-only (SURVEY.md §2.3: no streaming anywhere),
  * so this is engine extension surface: the same sessionization semantics
  * as ext/Sessionize expressed as continuous state
  * (`flatMapGroupsWithState`), plus watermarked windowed aggregation —
  * the two canonical streaming shapes a training-data pipeline needs
  * (late-data-tolerant rollups, per-entity stateful enrichment).
  *
  * Scale posture: state is partitioned by user_id (same shuffle as the
  * batch window), bounded by a processing-time idle timeout so abandoned
  * users age out of the state store instead of accumulating forever.
  */
case class Event(event_id: Long, ts: Long, user_id: Long,
    event_type: String, value: Double, props: String)

case class SessionizedEvent(event_id: Long, user_id: Long, ts: Long,
    session_seq: Long)

case class SessionState(sessionSeq: Long, lastTs: Long)

object StreamSessionize {

  val DefaultGapMicros: Long = graft.ext.Sessionize.DefaultGapMicros

  /** Continuous sessionization: same 30-min-gap rule as the batch
    * operator, one state entry per user. Events inside a micro-batch are
    * ordered by (ts, event_id) before applying the gap rule, so replaying
    * a batch table through the stream gives identical session numbering.
    *
    * @param idleTimeout when set (production), users idle this long are
    *   evicted from the state store (bounds state size); None keeps
    *   state forever (deterministic tests, bounded keyspaces).
    */
  def sessionize(
      events: Dataset[Event],
      gapMicros: Long = DefaultGapMicros,
      idleTimeout: Option[String] = None): Dataset[SessionizedEvent] = {
    import events.sparkSession.implicits._
    val timeoutConf = idleTimeout
      .map(_ => GroupStateTimeout.ProcessingTimeTimeout())
      .getOrElse(GroupStateTimeout.NoTimeout())
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionizedEvent](
        OutputMode.Append(), timeoutConf) {
        case (userId, it, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var s = state.getOption.getOrElse(SessionState(0L, Long.MinValue))
            val out = it.toSeq.sortBy(e => (e.ts, e.event_id)).map { e =>
              val newSession = s.lastTs == Long.MinValue || e.ts - s.lastTs > gapMicros
              s = SessionState(if (newSession) s.sessionSeq + 1 else s.sessionSeq, e.ts)
              SessionizedEvent(e.event_id, userId, e.ts, s.sessionSeq)
            }
            state.update(s)
            idleTimeout.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }
  }

  /** Watermarked tumbling-window counts per event_type: the canonical
    * late-data-tolerant rollup (watermark bounds state; late events
    * beyond it are dropped deterministically).
    */
  def windowedCounts(
      events: DataFrame,
      windowLength: String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(col("ts")))
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Streaming exact dedup: drop events already seen (by key columns)
    * within the watermark horizon — the streaming face of
    * `Dedup.exact`. State is bounded by the watermark: duplicates
    * arriving later than `watermark` after the original are admitted
    * (the standard correctness/state-size trade).
    */
  def dedupStream(
      events: DataFrame,
      keyCols: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(col("ts")))
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)
      .drop("event_time")
}
