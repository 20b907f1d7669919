package graft.operators

import graft.Exprs
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Keyed first-occurrence deduplication — the Spark form of the reference's
  * `DeduplicateProcessFunction` (`flink_process.py:265-277`: ValueState
  * "seen" per composite key, first record wins, state never expires).
  *
  * Three tiers (SURVEY.md §2.3 D1):
  *  - [[keepFirst]]          — batch, fully deterministic (oracle-checkable):
  *                             the k = 1 case of the per-key top-k kernel
  *                             [[graft.Exprs.keepTop]] (one `row_number`
  *                             window per key), rank column dropped.
  *  - `df.dropDuplicates`    — batch, arbitrary survivor (what the reference
  *                             actually guarantees under races).
  *  - streaming              — `dropDuplicatesWithinWatermark` in
  *                             [[graft.streaming.RadiationPipeline]]; bounds
  *                             the reference's unbounded state (SURVEY §7.5).
  *
  * Every batch "best row per key" in the engine (nearest centroid, best
  * codeword, top probe, first alert per cooldown bucket) is a keepFirst
  * call; every "best k rows per key" is a [[graft.Exprs.keepTop]] call.
  *
  * Scale note: keepFirst is one hash-shuffle on the key (window partition);
  * at 100 TB the key must be high-cardinality (it is: a composite natural
  * key) and AQE handles residual skew. No driver-side state.
  */
object Dedup {

  /** Keep the first row per key, ordered by `order` (ties impossible when
    * `order` ends in a unique id). Equivalent oracle:
    * `ROW_NUMBER() OVER (PARTITION BY key ORDER BY order) = 1` — the same
    * rows as [[graft.Exprs.keepTop]] with bound 1, filtered as `rank = 1`.
    */
  def keepFirst(df: DataFrame, key: Seq[Column], order: Seq[Column],
                rankCol: String = "__rn"): DataFrame =
    Exprs.rankWithin(df, key, order, rankCol)
      .filter(col(rankCol) === 1)
      .drop(rankCol)
}
