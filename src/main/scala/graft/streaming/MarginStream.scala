package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.Exprs
import graft.functions.VectorOps

/** Streaming margin-based pair mining — the alignment-mining member of the
  * streaming admission matrix (text / image / audio / video / vector /
  * classifier), closing the family: arriving SOURCE-side vectors are mined
  * against the FROZEN target side per micro-batch, the online form of the
  * daily [[VectorOps.marginPairsIncr]] job (yesterday's pairs already
  * shipped; only arrivals need mining).
  *
  * Mechanism: the [[VideoDedupStream.appendStream]] foreachBatch pattern —
  * per micro-batch, build the probe side from the batch's arrivals
  * (nProbe nearest frozen centroids per arrival, centroids broadcast) and
  * run the SAME candidate construction + mutual-top-1 + margin scoring as
  * the batch miners ([[VectorOps.marginJoinScore]], shared verbatim), then
  * write the mined pairs to the epoch's partition. Zero streaming state:
  * the target side and centroids are immutable snapshots (the
  * frozen-index versioning posture of every admission stream), and the
  * mined relation only grows, one partition per epoch.
  *
  * Mutuality contract: rn_b (is this arrival the target's best partner) is
  * evaluated WITHIN the micro-batch's candidate relation — the same
  * asymmetric-staleness contract as [[VectorOps.marginPairsIncr]] (frozen
  * A-side vectors that would out-rank an arrival stay out by contract),
  * one granularity finer: arrivals in different micro-batches don't
  * compete either. A feed delivered in ONE batch is therefore
  * pair-for-pair identical to `marginPairsIncr` on the same split —
  * StreamingSpec pins that parity; compaction owns cross-batch rivalry.
  *
  * 100 TB posture: per micro-batch cost is the batch miner's — candidate
  * pairs cell-bounded (|arrivals| × nProbe × cell size, never
  * n_A × n_B), integer-quantized cosines, one hash exchange per window
  * side. The frozen side shuffles once per batch on `centroid_id`.
  */
object MarginStream {

  /** The frozen mining target: B-parity vectors in their assigned IVF
    * cells + the centroid relation arrivals probe against. Built once per
    * deployment from the same deterministic assignment as the batch
    * miners, so the tiers cannot disagree about cell geometry — and
    * MATERIALIZED once (eager checkpoint, the
    * [[DupSpanStream.frozenShingles]] convention): returned lazily, the
    * target-side prepared⋈ivfAssign join would re-execute inside every
    * micro-batch, which is a corpus join per batch at ingest scale, not
    * a frozen snapshot read. Returns (centroids, targetSide).
    */
  def frozenTarget(spark: SparkSession, dir: String,
                   kCentroids: Int = 16): (DataFrame, DataFrame) = {
    val e = VectorOps.prepared(spark, dir)
    val cents = graft.Materialize(e.filter(col("vec_id") < kCentroids)
      .select(col("vec_id").as("centroid_id"), col("v").as("cv"),
        col("nrm").as("cn")))
    val b = graft.Materialize(e.join(VectorOps.ivfAssign(spark, dir, kCentroids)
          .select(col("vec_id"), col("centroid_id")), "vec_id")
      .filter(pmod(col("label"), lit(2)) === 1)
      .select(col("centroid_id"), col("vec_id").as("b_id"),
        col("v").as("vb"), col("nrm").as("nb")))
    (cents, b)
  }

  /** Mine one micro-batch of arrivals (vec_id, v) against the frozen
    * target — the probe-side construction of `marginCore` over the batch
    * relation, then the shared join/score.
    */
  private[streaming] def mineBatch(arrivals: DataFrame, cents: DataFrame,
                                   target: DataFrame, k: Int,
                                   minMargin: Double, nProbe: Int): DataFrame = {
    val prep = arrivals
      .withColumn("nrm", sqrt(VectorOps.dot(col("v"), col("v"))))
      .filter(col("nrm") > 0)
    val a = Exprs.keepTop(prep.join(broadcast(cents)), Seq(col("vec_id")),
        VectorOps.nearestCentroid, nProbe, "__rn")
      .select(col("centroid_id"), col("vec_id").as("a_id"),
        col("v").as("va"), col("nrm").as("na"))
    VectorOps.marginJoinScore(a, target, k, minMargin)
  }

  /** `vecs` must carry (vec_id, v: array&lt;double&gt;, ingest_ts). Mined
    * pairs land in `outDir` as (a_id, b_id, cos_sim, margin),
    * partitioned by the epoch (`batch_id`).
    *
    * Exactly-once contract: each epoch writes its pairs to its own
    * `batch_id=N` directory with overwrite, the replay rule of
    * [[RadiationPipeline.writeEpoch]]'s Dir sink. A REPLAYED micro-batch
    * (crash between the parquet write and the checkpoint commit) replaces
    * whatever partial output its first attempt left, reads nothing back
    * and leaves every other epoch untouched. Re-fed duplicate ARRIVALS in
    * a later epoch are out of scope here (that is upstream admission
    * dedup's job — DocStream and kin), exactly as in the batch miner,
    * which scores whatever rows its delta split hands it.
    */
  def appendStream(vecs: DataFrame, frozen: (DataFrame, DataFrame),
                   outDir: String, ckptDir: String, k: Int = 4,
                   minMargin: Double = 1.0, nProbe: Int = 4): StreamingQuery = {
    val (cents, target) = frozen
    graft.LocalFs.startStream(vecs, ckptDir)(_
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mineBatch(batch.select(col("vec_id"), col("v")), cents, target, k,
            minMargin, nProbe)
          .write.mode(SaveMode.Overwrite).parquet(s"$outDir/batch_id=$batchId")
      })
  }
}
