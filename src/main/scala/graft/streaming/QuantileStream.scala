package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of [[graft.functions.TextOps.quantileSketch]]: a running
  * per-source length-percentile monitor whose keyed state is the sketch
  * itself — the `k` (hash, value) pairs with the smallest salted
  * [[graft.Exprs.hex60]] doc-id hashes, NEVER the full per-source value
  * multiset the exact quantile needs (the point of the sketch at ingest
  * scale: the batch tier's exact column sorts every doc per source, which
  * a stream cannot hold).
  *
  * The arrival side reuses the batch tier's exact expressions (normalize +
  * split token count, the same `qs:`-salted doc-id hash), and the
  * bottom-k-by-hash merge is a semilattice over the arrival SET — pairs
  * are deduped by HASH (one value survives per doc, matching the batch
  * sample's one-(hash,value)-per-doc shape; a re-fed doc with a CHANGED
  * token count resolves to the min value, a deterministic order-free
  * choice), so the state is order-, batching- AND replay-insensitive
  * (the spec asserts 2-batch ≡ 1-batch). Unlike
  * the KMV estimate the quantile estimate is NOT monotone as the sample
  * composition shifts, so each emission carries a per-source `ver`
  * counter and the LAST emission (max ver) is the convergent one; it
  * equals the batch operator's `est` over the same corpus — the batch
  * tie-break `(v, doc_id)` is irrelevant to the emitted VALUE because
  * rank ties share the value being ranked.
  */
object QuantileStream {

  final case class DocArrival(source: String, h: Long, v: Long)
  final case class QState(pairs: List[(Long, Long)], ver: Long)
  final case class Estimate(source: String, ver: Long, m: Int,
                            est500: Long, est990: Long)

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

  def estimates(docs: DataFrame)(implicit spark: SparkSession): Dataset[Estimate] = {
    import spark.implicits._
    val arrivals = docs
      .withColumn("norm", graft.Exprs.normText(col("text")))
      .select(col("source"),
        graft.Exprs.hex60(concat(lit("qs:"), col("doc_id"))).as("h"),
        coalesce(size(split(col("norm"), " ")).cast("long"), lit(0L)).as("v"))
      .as[DocArrival]
    arrivals.groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (source: String, rows: Iterator[DocArrival], state: GroupState[QState]) => {
          val prev = state.getOption.map(_.pairs).getOrElse(Nil)
          val ver = state.getOption.map(_.ver).getOrElse(0L) + 1
          // dedup by HASH, not by (h, v) pair: the batch sketch keeps one
          // (hash, value) per doc_id, so a re-fed doc with an updated
          // token count must not leave two pairs in state (min v wins —
          // deterministic under any arrival order)
          val merged = (prev ++ rows.map(r => (r.h, r.v)))
            .groupBy(_._1).map { case (h, hv) => (h, hv.map(_._2).min) }
            .toList.sortBy(_._1).take(K)
          state.update(QState(merged, ver))
          val vs = merged.map(_._2).sorted.toIndexedSeq
          val m = vs.size
          def q(p: Int): Long = vs(((m - 1) * p) / 1000)
          Iterator.single(Estimate(source, ver, m, q(500), q(990)))
        })
  }
}
