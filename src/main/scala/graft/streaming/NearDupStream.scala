package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Exprs
import graft.functions.TextOps

/** Streaming NEAR-dup admission for text — the fuzzy twin of
  * [[DocStream.curateStream]]'s exact content gate, completing the
  * streaming admission matrix across modalities (DocStream exact text /
  * ImageDedupStream perceptual / AudioDedupStream acoustic /
  * VectorDedupStream semantic / this, fuzzy text): each arriving document
  * is admitted only if no document in the FROZEN base MinHash band index
  * is a signature-space near-duplicate, then exact-content dedup runs
  * within the watermark horizon.
  *
  * Mechanism: signatures are computed per ROW with [[TextOps.sigArrayE]]
  * (`array_distinct → transform → array_min`, the same hex60/A/B/P
  * construction as the batch [[TextOps.minhashSignatures]] — spec-pinned
  * equal, so the tiers cannot drift), and admission is two stream-STATIC
  * left-anti equi-joins on the band values with the ≥ `minAgree`-of-8
  * signature-agreement verify in the join condition — the same
  * band-collision + signature-space contract as the batch
  * [[TextOps.nearDupIncr]], planned per micro-batch with ZERO streaming
  * state for the admission step. Exact duplicates inside the stream
  * (retries, fan-in) are dropped by `dropDuplicatesWithinWatermark` on the
  * normalized-content md5; state is one row per distinct content per
  * horizon.
  *
  * Scope split, deliberately mirroring every other modality's stream:
  * the stream gates against the FROZEN base and exact matches within the
  * horizon; near-dup pairs *inside the increment* remain the batch
  * compaction's job ([[TextOps.nearDupIncr]]'s `dup_in_increment` class) —
  * cross-row candidate state per band bucket is a batch-shaped join, not
  * per-key stream state. The differential spec pins the two tiers to the
  * same base verdicts.
  *
  * 100 TB posture: the static side is 10 ints per admitted base document
  * (an immutable snapshot, re-broadcast or shuffled per micro-batch by
  * the stream-static machinery); refreshing it is a restart with a new
  * snapshot, exactly how the frozen image/audio/vector indexes version.
  *
  * `docs` must carry (doc_id, text, ingest_ts).
  */
object NearDupStream {

  /** The frozen admission index: base-split banded signatures — the
    * static right side of the stream's anti joins. Built from the same
    * salted split ([[graft.Exprs.arrivalSplit]]) and the same session-shared
    * signature table as the batch [[TextOps.nearDupIncr]], so the tiers
    * cannot disagree about what "base" means.
    */
  def frozenBase(spark: SparkSession, dir: String, deltaMod: Int = 5): DataFrame =
    TextOps.bandedSignatures(spark, dir)
      .filter(Exprs.arrivalSplit(col("doc_id"), deltaMod) =!= 0)
      .select(col("band1").as("b1") +: col("band2").as("b2") +:
        (0 until 8).map(i => col(s"m$i").as(s"m${i}_b")): _*)

  def apply(docs: DataFrame, base: DataFrame, minAgree: Int = 7,
            watermark: String = "10 seconds"): DataFrame = {
    val withSigs = (0 until 8).foldLeft(
      docs.withColumn("norm", Exprs.normText(col("text")))
        .withColumn("words", split(col("norm"), " ")))(
      (d, i) => d.withColumn(s"m$i", TextOps.sigArrayE(i)))
      .withColumn("band1", concat_ws(",", col("m0"), col("m1"), col("m2"), col("m3")))
      .withColumn("band2", concat_ws(",", col("m4"), col("m5"), col("m6"), col("m7")))
    val agree = (0 until 8).map(i =>
      (col(s"m$i") === col(s"m${i}_b")).cast("int")).reduce(_ + _)
    val admitted = withSigs
      .join(base, col("band1") === col("b1") && agree >= minAgree, "left_anti")
      .join(base, col("band2") === col("b2") && agree >= minAgree, "left_anti")
    admitted
      .withColumn("text_md5", md5(col("norm").cast("binary")))
      .withWatermark("ingest_ts", watermark)
      .dropDuplicatesWithinWatermark("text_md5")
      .select("doc_id", "ingest_ts", "band1", "band2", "text_md5")
  }
}
