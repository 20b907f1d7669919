package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Exprs
import graft.functions.VectorOps

/** Streaming semantic admission — the embedding twin of
  * [[DocStream.curateStream]]'s content gate and [[ImageDedupStream]]'s
  * perceptual gate, completing the modality matrix (text / image / vector):
  * each arriving embedding is admitted only if no vector in the FROZEN base
  * index is a semantic near-duplicate, then exact-content dedup runs within
  * the watermark horizon.
  *
  * Mechanism: the base is the same sign-LSH bucket relation the batch tier
  * builds ([[VectorOps.nearDupLsh]] buckets, [[frozenBase]]), so the stream
  * plans a stream-STATIC left-anti join on `bkt` with the cosine threshold
  * in the join condition — Spark executes it per micro-batch with no
  * streaming state at all for the admission step. Exact duplicates inside
  * the stream (same vector content arriving twice — retries, fan-in) are
  * dropped by `dropDuplicatesWithinWatermark` on a 64-bit content
  * fingerprint; state is one row per distinct fingerprint per horizon.
  *
  * Scope split, deliberately mirroring the image tier: the stream gates
  * against the FROZEN base and exact matches within the horizon; NEAR-dup
  * pairs *inside the increment* remain the batch compaction's job
  * ([[VectorOps.semDedupIncr]]'s `dup_in_increment` class) — a streaming
  * near-dup within the stream would need cross-row candidate state per
  * bucket, which is a batch-shaped join, not per-key stream state. The
  * differential spec pins the two tiers to the same base verdicts.
  *
  * 100 TB posture: the static side is an immutable snapshot, re-broadcast
  * or shuffled once per micro-batch by Spark's stream-static machinery;
  * refreshing it is a restart with a new snapshot (exactly how the frozen
  * IVF/PQ/fingerprint indexes version). Streaming state is bounded by
  * distinct arrivals per watermark horizon, never corpus size — RocksDB
  * holds it unchanged.
  *
  * `vecs` must carry (vec_id, v: array&lt;double&gt;, ingest_ts).
  */
object VectorDedupStream {

  /** The frozen admission index: base-split vectors with norm + sign
    * bucket — the static right side of the stream's anti join. Built once
    * per deployment from the same salted split as [[VectorOps.semDedupIncr]]
    * so the tiers cannot disagree about what "base" means.
    */
  def frozenBase(spark: SparkSession, dir: String, deltaMod: Int = 5,
                 bits: Int = 4): DataFrame =
    VectorOps.prepared(spark, dir)
      .filter(Exprs.arrivalSplit(col("vec_id"), deltaMod) =!= 0)
      .select(VectorOps.bucketExpr(col("v"), bits).as("b_bkt"),
        col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))

  def apply(vecs: DataFrame, base: DataFrame, threshold: Double = 0.4,
            bits: Int = 4, watermark: String = "10 seconds"): DataFrame = {
    val prep = vecs
      .withColumn("nrm", sqrt(VectorOps.dot(col("v"), col("v"))))
      .filter(col("nrm") > 0)
      .withColumn("bkt", VectorOps.bucketExpr(col("v"), bits))
    val admitted = prep.join(base,
      col("bkt") === col("b_bkt") &&
        VectorOps.dot(col("v"), col("vb")) / (col("nrm") * col("nb")) >= threshold,
      "left_anti")
    admitted
      .withColumn("vfp", xxhash64(col("v")))
      .withWatermark("ingest_ts", watermark)
      .dropDuplicatesWithinWatermark("vfp")
      .select("vec_id", "ingest_ts", "bkt", "vfp")
  }
}
