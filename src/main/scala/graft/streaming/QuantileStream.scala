package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The quantile sketch's in-stream admission gate: the batch
  * [[graft.functions.TextOps.quantileSketch]] estimate (bottom-`K`
  * salted [[graft.Exprs.hex60]] doc-id hashes per source, never the full
  * per-source value multiset the exact quantile needs) frozen into a
  * |sources|-row threshold relation ([[frozenThresholds]]) and broadcast
  * into the arrival stream ([[lenGate]]) — zero keyed state.
  */
object QuantileStream {

  val K = 16

  /** The gate's frozen artifact: the batch sketch's p-th-permille length
    * estimate per source, COLLECTED to a |sources|-row local relation —
    * the quantile member of the family's freeze convention
    * ([[DirGateStream.frozenDirection]], [[BloomStream.bitmapWords]],
    * [[ContamStream.frozenProbes]]).
    * The collect matters, not just the semantics: a LAZY sketch
    * DataFrame passed into the stream-static join re-executes the
    * ENTIRE sketch build chain (per-source windows + their shuffles over
    * the corpus relation) inside EVERY micro-batch — at ingest scale
    * that is a full corpus pass per batch, and the threshold silently
    * tracks a moving table instead of staying frozen. Collected, the
    * static side plans as a LocalTableScan under one broadcast; driver
    * state is |sources| (source, thr) rows, the same bounded-artifact
    * posture as the rest of the family (GatePlanSpec pins the plan).
    */
  def frozenThresholds(spark: SparkSession, dir: String,
                       p: Int = 990): DataFrame = {
    import spark.implicits._
    graft.functions.TextOps.quantileSketch(spark, dir, K, Seq(p))
      .select(col("source"), col("est").as("thr"))
      .as[(String, Long)].collect().toSeq
      .toDF("source", "thr")
  }

  /** The sketch's ADMISSION action, in-stream — the streaming twin of
    * [[graft.functions.TextOps.lenCap]] and the quantile member of the
    * frozen-artifact gate family ([[NbStream]] frozen model,
    * [[BloomStream]] frozen bitmap): the batch
    * sketch's p990 estimate per source is FROZEN into a static
    * (source, thr) relation ([[frozenThresholds]] — pass that, not a
    * lazy sketch DataFrame, or every micro-batch re-runs the sketch
    * build) and broadcast into the arrival stream, so
    * every arrival gets a row-local over-cap verdict with ZERO keyed
    * state and zero shuffle. Verdicts are the batch action's
    * `v > thr_sketch` rule verbatim (same normalize + token count), so
    * stream ≡ batch per doc — the StreamingSpec case pins it on a
    * 2-batch feed. A source absent from the frozen sketch passes
    * ungated (no threshold yet — the conservative admission default).
    */
  def lenGate(docs: DataFrame, thresholds: DataFrame): DataFrame =
    docs
      .withColumn("norm", graft.Exprs.normText(col("text")))
      .withColumn("v",
        coalesce(size(split(col("norm"), " ")).cast("long"), lit(0L)))
      .join(broadcast(thresholds), Seq("source"), "left")
      .select(col("doc_id"), col("source"), col("v"),
        (col("v") > coalesce(col("thr"), lit(Long.MaxValue))).as("over_cap"))
}
