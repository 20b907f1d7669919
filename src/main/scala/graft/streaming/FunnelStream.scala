package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming form of [[graft.operators.Sessions.funnel]]: a per-user stage
  * machine over the live activity stream, emitting a row the moment a user
  * ADVANCES a stage — the real-time "user just converted" signal a
  * dashboard consumes, where the batch funnel is the offline report.
  *
  * Same keyed-state form as [[AlertCooldown]] (`flatMapGroupsWithState` +
  * event-time timeout — the Spark analog of the reference's
  * `KeyedProcessFunction`): state per user is the current stage index plus
  * its completion time (two fields, constant size), and idle users' state
  * expires once the watermark passes the inactivity horizon, so the state
  * store stays bounded by ACTIVE users at scale, not all users ever seen.
  *
  * Semantics match the batch operator's greedy matching: stage i counts
  * only at-or-after stage i−1's completion time; within a batch, rows are
  * processed in event-time order. Late events behind an already-completed
  * stage do not regress state (monotone stage index).
  */
object FunnelStream {

  final case class Activity(user_id: Long, event_type: String, event_time: Timestamp)
  final case class StageHit(user_id: Long, stage: Int, stage_name: String,
                            event_time: Timestamp)
  final case class FunnelState(stage: Int, stageTimeMs: Long)

  val DefaultStages: Seq[String] = Seq("view", "click", "purchase")

  /** Emits one [[StageHit]] per stage advancement per user. */
  def apply(events: Dataset[Activity], stages: Seq[String] = DefaultStages,
            idleTimeoutSec: Long = 3600)
           (implicit spark: SparkSession): Dataset[StageHit] = {
    import spark.implicits._
    val stageIdx = stages.zipWithIndex.toMap
    events
      .withWatermark("event_time", "10 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (user: Long, rows: Iterator[Activity], state: GroupState[FunnelState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(FunnelState(0, Long.MinValue))
            val rowsSeq = rows.toSeq
            val out = rowsSeq.sortBy(_.event_time.getTime).flatMap { a =>
              val next = st.stage // 0-based index of the stage we await
              val t = a.event_time.getTime
              if (next < stages.length && stageIdx.get(a.event_type).contains(next) &&
                  (next == 0 || t >= st.stageTimeMs)) {
                st = FunnelState(next + 1, t)
                Some(StageHit(user, next + 1, stages(next), a.event_time))
              } else None
            }
            state.update(st)
            // anchor the idle timeout to EVENT time, not the watermark: on
            // the first batch the watermark is still epoch 0, and a
            // watermark-anchored timeout would land in 1970 — expiring (and
            // removing) every group's state the moment the real watermark
            // appears in the next batch
            val lastSeen = rowsSeq.map(_.event_time.getTime).max
            val anchor = math.max(state.getCurrentWatermarkMs(), lastSeen)
            state.setTimeoutTimestamp(anchor + math.max(1000L, idleTimeoutSec * 1000L))
            out.iterator
          }
        })
  }
}
