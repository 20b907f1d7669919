package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join: for every left row, attach the newest right row with the same
  * key and `right.time <= left.time` (inclusive). The classic time-series
  * enrichment operator — "reading at time t joined to the latest calibration
  * at or before t".
  *
  * The reference engine has no join operators at all (SURVEY.md §2.6); this
  * is part of the engine's generic time-series surface, alongside the
  * oracle's independent algorithm (DuckDB `ASOF JOIN`) as the differential
  * check.
  *
  * Scale design — union + keyed window, NOT a range join:
  * a naive `l JOIN r ON l.k = r.k AND r.t <= l.t` explodes to the full
  * per-key cross product before the "latest" filter. Instead both sides are
  * unioned and sorted once per key — ONE hash shuffle on the key, a
  * per-partition sort, and a running `last(value, ignoreNulls)` window frame.
  * Cost is O(shuffle(|L|+|R|)) regardless of how many right rows precede
  * each left row. Skewed keys behave like any keyed window (salting applies
  * if one key dominates).
  *
  * Contract: `right` must be unique per (key, time) — pre-aggregate it if
  * not (the caller decides which duplicate wins; this operator cannot).
  * Right rows sort BEFORE left rows at the same instant, making the join
  * inclusive: a same-timestamp calibration is visible to the reading.
  */
object AsofJoin {

  /** @param valueCols right-side payload columns to attach (left gets them
    *                  null when no right row is at-or-before its time)
    */
  def asofLast(left: DataFrame, right: DataFrame, keys: Seq[String],
               time: String, valueCols: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    require(valueCols.forall(right.columns.contains), s"right side missing $valueCols")
    require(!valueCols.exists(leftCols.contains),
      s"value columns $valueCols collide with left columns — rename first")

    // superset schema: left payload ∪ right payload, each side null-padded
    val lTagged = valueCols.foldLeft(left) { (df, c) =>
      df.withColumn(c, lit(null).cast(right.schema(c).dataType))
    }.withColumn("__side", lit(1))
    val rTagged = leftCols.filterNot(c => keys.contains(c) || c == time)
      .foldLeft(right.select((keys :+ time) ++ valueCols map col: _*)) { (df, c) =>
        df.withColumn(c, lit(null).cast(left.schema(c).dataType))
      }.withColumn("__side", lit(0))

    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(time).asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = valueCols.foldLeft(lTagged.unionByName(rTagged)) { (df, c) =>
      df.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
    filled.filter(col("__side") === 1).drop("__side")
      .select(leftCols.map(col) ++ valueCols.map(col): _*)
  }

  /** Time-series resampling with LOCF gap fill: per user, a regular `step`
    * grid from their first to last reading, each tick carrying the last
    * observation at or before it — the downsampling step a dashboard or
    * feature pipeline runs before charting/windowing irregular streams.
    * Pure composition: tick generation is a per-user `sequence` explode,
    * the fill is [[asofLast]] (so the plan is the same ONE shuffle of
    * ticks+readings, never a per-key cross product). The first tick sits
    * exactly on the first reading, so the fill is never null.
    */
  def resample(valid: DataFrame, step: String = "1 hour",
               maxTicksPerUser: Long = 1000000L): DataFrame = {
    // right side unique per (key, time) — asofLast's contract. ALSO the
    // source of the per-user bounds: readings carries exactly valid's
    // (user, sec) set, so bounds re-aggregates the SMALL deduped relation.
    // PINNED (local checkpoint): both the bounds branch and the asof union consume
    // readings, and column pruning specializes the two subplans (bounds
    // drops locf_cpm) so exchange reuse cannot deduplicate them — unpinned,
    // the big side's parse+validate+agg ran twice per query (the r8→r9
    // e_resample drift). One pass now feeds both.
    val readings = graft.Materialize(valid.groupBy(col("user_id"), col("sec"))
      .agg(max(col("cpm")).as("locf_cpm")))
    val bounds = readings.groupBy(col("user_id"))
      .agg(min(col("sec")).as("mn"), max(col("sec")).as("mx"))
    // loud guardrail (the nearDupExact contract): a step mis-sized against
    // the data's span would materialize the whole grid inside ONE row's
    // sequence() array — refuse instead of OOMing an executor. The check is
    // IN-PLAN (assert_true over the |users|-row bounds relation, evaluated
    // per row just before the explode): the previous form ran a full
    // pre-aggregation of `valid` at plan-BUILD time just to read the worst
    // span — an extra pass over the big side on every call. Step length is
    // computed per row from mn (so variable-length steps like '1 month'
    // are measured where they apply, not at the epoch).
    val stepSecs =
      unix_timestamp(col("mn") + expr(s"interval $step")) - unix_timestamp(col("mn"))
    val span = unix_timestamp(col("mx")) - unix_timestamp(col("mn"))
    val ticks = bounds
      .withColumn("graft_guard", assert_true(
        stepSecs > 0 && span / stepSecs <= maxTicksPerUser,
        format_string(
          s"resample: user %s spans %d seconds at step '$step' " +
            s"(max $maxTicksPerUser ticks) — choose a coarser step",
          col("user_id"), span)))
      .filter(col("graft_guard").isNull)
      .select(col("user_id"),
        explode(expr(s"sequence(mn, mx, interval $step)")).as("sec"))
    asofLast(ticks, readings, keys = Seq("user_id"), time = "sec",
        valueCols = Seq("locf_cpm"))
      .withColumnRenamed("sec", "tick")
  }

  /** Oracle mirror of [[resample]] — independent algorithm on the oracle
    * side: DuckDB's native ASOF JOIN vs the engine's union+window plan.
    */
  def resampleSql(validatedSql: String, stepSql: String = "INTERVAL 1 HOUR"): String =
    s"""WITH v AS (SELECT * FROM ($validatedSql) WHERE status = 'valid'),
       |r AS (SELECT user_id, sec, max(cpm) AS locf_cpm FROM v GROUP BY 1, 2),
       |b AS (SELECT user_id, min(sec) AS mn, max(sec) AS mx FROM v GROUP BY 1),
       |t AS (SELECT user_id, unnest(generate_series(mn, mx, $stepSql)) AS sec FROM b)
       |SELECT t.user_id AS user_id, t.sec AS tick, r.locf_cpm
       |FROM t ASOF LEFT JOIN r ON t.user_id = r.user_id AND t.sec >= r.sec
       |ORDER BY t.user_id, tick""".stripMargin
}
