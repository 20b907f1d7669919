package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-user sessionization — the gap-based grouping a user-activity stream
  * (the `events` table is exactly that) needs for dashboard analytics.
  *
  * [[sessionize]] is the classic gaps-and-islands formulation — lag →
  * new-session flag → running sum as session id → group. Fully
  * deterministic, exact DuckDB oracle. (No streaming tier: the served
  * dashboard has no session view, so nothing would run one.)
  *
  * Scale: one hash-shuffle on user_id (window partition = the session key);
  * session state per key is a single row of lag state.
  */
object Sessions {

  /** Batch sessionize over validated readings (`sec` event time, `user_id`
    * key). A row starts a new session when it is the user's first or
    * follows a gap > `gapSec`.
    */
  def sessionize(valid: DataFrame, gapSec: Long = 1800): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    val prev = lag(col("sec"), 1).over(w)
    val newSession = when(
      prev.isNull || unix_timestamp(col("sec")) - unix_timestamp(prev) > gapSec, 1
    ).otherwise(0)
    valid
      .withColumn("__new", newSession)
      .withColumn("session_id",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min(col("sec")).as("session_start"),
        max(col("sec")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("cpm")).as("sum_cpm"))
  }

  /** Oracle mirror of [[sessionize]] over the validated-readings SQL. */
  def sessionizeSql(validatedSql: String, gapSec: Long = 1800): String =
    s"""SELECT user_id, session_id,
       |  min(sec) AS session_start, max(sec) AS session_end,
       |  count(*) AS n_events, CAST(sum(cpm) AS BIGINT) AS sum_cpm
       |FROM (
       |  SELECT user_id, sec, cpm,
       |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY sec, event_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
       |  FROM (
       |    SELECT user_id, event_id, sec, cpm,
       |      CASE WHEN prev_sec IS NULL
       |             OR epoch(sec)::BIGINT - epoch(prev_sec)::BIGINT > $gapSec
       |           THEN 1 ELSE 0 END AS is_new
       |    FROM (
       |      SELECT user_id, event_id, sec, cpm,
       |        LAG(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS prev_sec
       |      FROM ($validatedSql) WHERE status = 'valid')))
       |GROUP BY user_id, session_id
       |ORDER BY user_id, session_id""".stripMargin

  /** Ordered funnel over the user-activity stream: per user, the earliest
    * completion time of each stage, where stage i must occur at or after
    * stage i−1's completion (greedy min-time matching — the standard
    * funnel definition), plus the furthest stage reached.
    *
    * Scale shape: the per-stage times are min-over-partition window
    * columns sharing ONE hash shuffle on user_id (unordered frames — no
    * sort), and the per-user collapse groups on the same key, so the whole
    * funnel costs a single exchange. No self-joins: an n-stage funnel as
    * n−1 self-joins would shuffle the events table n−1 times.
    */
  def funnel(valid: DataFrame,
             stages: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val staged = stages.zipWithIndex.foldLeft(valid) { case (df, (s, i)) =>
      val cond =
        if (i == 0) col("event_type") === s
        else col("event_type") === s && col("sec") >= col(s"t_${stages(i - 1)}")
      df.withColumn(s"t_$s", min(when(cond, col("sec"))).over(w))
    }
    // fold wraps the LAST stage outermost, so deeper stages win
    val stageNum = stages.zipWithIndex.foldLeft(lit(0)) { case (acc, (s, i)) =>
      when(col(s"t_$s").isNotNull, i + 1).otherwise(acc)
    }
    val tCols = stages.map(s => first(col(s"t_$s")).as(s"t_$s"))
    staged.groupBy(col("user_id"))
      .agg(tCols.head, tCols.tail: _*)
      .withColumn("funnel_stage", stageNum)
  }

  /** Oracle mirror of [[funnel]]. */
  def funnelSql(validatedSql: String,
                stages: Seq[String] = Seq("view", "click", "purchase")): String = {
    val base = s"SELECT user_id, event_type, sec FROM ($validatedSql) WHERE status = 'valid'"
    val withStages = stages.zipWithIndex.foldLeft(base) { case (inner, (s, i)) =>
      val cond =
        if (i == 0) s"event_type = '$s'"
        else s"event_type = '$s' AND sec >= t_${stages(i - 1)}"
      s"""SELECT *, min(CASE WHEN $cond THEN sec END)
         |  OVER (PARTITION BY user_id) AS t_$s FROM ($inner)""".stripMargin
    }
    val stageCase = stages.zipWithIndex.reverse
      .map { case (s, i) => s"WHEN t_$s IS NOT NULL THEN ${i + 1}" }
      .mkString("CASE ", " ", " ELSE 0 END")
    val tCols = stages.map(s => s"t_$s").mkString(", ")
    s"""SELECT user_id, $tCols, $stageCase AS funnel_stage
       |FROM ($withStages)
       |GROUP BY user_id, $tCols
       |ORDER BY user_id""".stripMargin
  }

  /** Cohort retention matrix — the other standard activity-stream report:
    * users grouped by the day of their first event (cohort), counted
    * distinct on each later active day (offset). Scale shape: cohort day
    * is a min-over-partition window (one user_id shuffle, unordered frame
    * — no sort), then a two-phase distinct-count keyed on the tiny
    * (cohort, offset) grid.
    */
  def retention(valid: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    valid
      .withColumn("day", to_date(col("sec")))
      .withColumn("cohort_day", min(to_date(col("sec"))).over(w))
      .withColumn("day_offset",
        datediff(col("day"), col("cohort_day")).cast("int"))
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
  }

  /** Oracle mirror of [[retention]]. */
  def retentionSql(validatedSql: String): String =
    s"""SELECT cohort_day, day_offset,
       |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
       |FROM (
       |  SELECT user_id, CAST(sec AS DATE) AS day,
       |    min(CAST(sec AS DATE)) OVER (PARTITION BY user_id) AS cohort_day,
       |    CAST(datediff('day',
       |      min(CAST(sec AS DATE)) OVER (PARTITION BY user_id),
       |      CAST(sec AS DATE)) AS INT) AS day_offset
       |  FROM ($validatedSql) WHERE status = 'valid')
       |GROUP BY cohort_day, day_offset
       |ORDER BY cohort_day, day_offset""".stripMargin
}
