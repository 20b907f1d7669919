package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** D2 streaming form: alert cooldown dedup with TTL state — the engine
  * version of the dashboard's 30-second alert suppression
  * (`front_end/src/hooks/useAlertManager.js:12-29`: repeats of the same
  * (severity, lat@3dp, lon@3dp) key within 30 s are dropped).
  *
  * Implemented with `flatMapGroupsWithState` + event-time timeout — Spark's
  * arbitrary keyed-state API (the analog of the reference's
  * `KeyedProcessFunction` + `ValueState`), here because
  * `dropDuplicatesWithinWatermark` can't express "re-emit after the
  * cooldown elapses, keyed on rolling time" semantics exactly. State per
  * key is one long; the event-time timeout clears state for idle keys once
  * the watermark passes their horizon, so the state store stays bounded by
  * the watermark at scale and expiry never depends on the wall clock.
  */
object AlertCooldown {

  final case class Alert(
      key: String, severity: String, lat: Double, lon: Double,
      value: Int, event_time: Timestamp)

  /** last emitted event-time millis per key */
  final case class Cooldown(lastEmitMs: Long)

  def cooldownKey(severity: String, lat: Double, lon: Double): String =
    f"$severity|${math.rint(lat * 1000) / 1000}%.3f|${math.rint(lon * 1000) / 1000}%.3f"

  /** Suppress alerts whose key emitted within the last `cooldownSec`
    * seconds of event time. Within a batch, rows are processed in
    * event-time order so the first of a burst wins (matches the client's
    * arrival-order behavior under in-order replay).
    */
  def apply(alerts: Dataset[Alert], cooldownSec: Int = 30)
           (implicit spark: SparkSession): Dataset[Alert] = {
    import spark.implicits._
    val cooldownMs = cooldownSec * 1000L
    alerts
      .withWatermark("event_time", "10 seconds")
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: String, rows: Iterator[Alert], state: GroupState[Cooldown]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var last = state.getOption.map(_.lastEmitMs).getOrElse(Long.MinValue)
            val out = rows.toSeq.sortBy(_.event_time.getTime).flatMap { a =>
              val t = a.event_time.getTime
              if (t >= last + cooldownMs || last == Long.MinValue) {
                last = t
                Some(a)
              } else None
            }
            state.update(Cooldown(last))
            // expire state once the watermark is past the cooldown horizon
            // (timeout must be beyond the current watermark or Spark throws)
            val wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(math.max(wm + 1000L, last + cooldownMs * 2))
            out.iterator
          }
        })
  }
}
