package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** In-stream anisotropy guard — the VECTOR member of the frozen-artifact
  * gate family ([[NbStream]] frozen model, [[BloomStream]] frozen bitmap,
  * [[QuantileStream.lenGate]] frozen percentiles): the batch
  * power-iteration top direction
  * ([[graft.functions.VectorOps.powerIterTop]], the `v_anisotropy`
  * monitor's direction) is FROZEN into a broadcast literal and every
  * arriving vector gets a row-local boilerplate-direction score —
  * `dp = round((v·u)/|v|, 4)`, exactly the registered batch anchor's
  * `dp` column ([[graft.functions.VectorOps.dirGate]], `v_dir_gate`;
  * the rounding is the nearDupLsh cos_sim precedent, so the stream and
  * the anchor gate on the SAME value — r19 VERDICT: an unrounded stream
  * dp passed vectors in |dp| ∈ [0.98995, 0.99) that the anchor flagged)
  * — plus an over-threshold verdict on |dp|: a vector that IS
  * mostly the common direction carries shared boilerplate, not content
  * (Mu & Viswanath, ICLR 2018 "All-but-the-Top"), and admitting it
  * un-projected inflates every cosine it later joins.
  *
  * Zero keyed state, zero shuffle: the direction rides the plan as a
  * 64-double literal and the score is a per-row codegen'd fold — the
  * [[QuantileStream.lenGate]] pattern verbatim, so the gate runs at
  * ingest rate regardless of corpus size. Zero-norm arrivals are
  * excluded exactly as the batch `prepared` relation excludes them
  * (cosine direction is undefined for them, and under ANSI semantics the
  * division would raise rather than emit an Infinity verdict).
  */
object DirGateStream {

  /** The frozen artifact: the batch monitor's rounded top direction —
    * session-shared with `v_anisotropy`/`v_abtt`, so freezing the gate
    * costs nothing beyond the monitor the deployment already runs.
    */
  def frozenDirection(spark: SparkSession, dir: String,
                      iters: Int = 3): Seq[Double] =
    VectorOps.powerIterTop(spark, dir, iters)

  /** `vecs`: a streaming relation with `vec_id BIGINT, v ARRAY<DOUBLE>`.
    * The decision log carries `thr` beside each verdict — a long-lived
    * log whose epochs ran different thresholds (the LSH retune story)
    * stays disambiguable after the fact; one constant column, free at
    * ingest.
    */
  def apply(vecs: DataFrame, direction: Seq[Double],
            thr: Double = 0.99): DataFrame = {
    val xl = typedlit(direction)
    vecs
      .withColumn("nrm", sqrt(VectorOps.dot(col("v"), col("v"))))
      .filter(col("nrm") > 0)
      .withColumn("dp", round(VectorOps.dot(col("v"), xl) / col("nrm"), 4))
      .select(col("vec_id"), col("dp"), lit(thr).as("thr"),
        (abs(col("dp")) >= thr).as("boilerplate"))
  }
}
