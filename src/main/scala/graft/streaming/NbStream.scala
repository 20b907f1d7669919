package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Exprs
import graft.functions.TextOps

/** Streaming quality classification — the frozen-model APPLY side of the
  * [[TextOps.nbClassify]] trainer, completing the "fit on a labeled batch,
  * score the firehose" split the batch operator's Scaladoc promises: each
  * arriving document is tagged with its predicted quality bucket and exact
  * bit cost using the [[TextOps.nbFrozenModel]] collected at deploy time.
  *
  * Mechanism: the pruned model (≤ topK tokens × |classes| of Long bit
  * costs) rides the plan as per-class MAP LITERALS, and a document's class
  * score is one `aggregate()` fold over its word array — prior +
  * Σ coalesce(map[token], default). Prediction is `least()` over
  * (bits, class) structs, which reproduces the batch argmin's
  * bits-then-class-name tie-break. Everything is row-local: ZERO streaming
  * state, zero shuffle, no stream-static join — the micro-batch plan is a
  * projection, so throughput is bounded by tokenization, not by any
  * exchange. (Contrast: a stream-static join against the count relation
  * would shuffle every micro-batch on the token key and still need a
  * stateful per-doc re-aggregation; documents arrive WHOLE, so per-row
  * scoring against a broadcast-sized model is strictly better.)
  *
  * Tokenization is the shared `normText → split` construction
  * ([[TextOps.prepared]]'s columns, the ContamStream pattern), so the
  * tiers cannot drift; with a lossless model (topK ≥ |V|) the stream's
  * predictions are spec-pinned identical to the batch classifier.
  *
  * 100 TB posture: the model artifact is the thing that scales DOWN —
  * pruning bounds it regardless of corpus size (a shipped fasttext-style
  * filter does the same), re-training is a batch job, and a model refresh
  * is a restart with a new literal — the same versioning contract as every
  * frozen index in the streaming tier.
  *
  * `docs` must carry (doc_id, text, ingest_ts).
  */
object NbStream {

  def apply(docs: DataFrame, model: Seq[TextOps.NbClassModel]): DataFrame = {
    require(model.nonEmpty, "NbStream needs at least one class model")
    val withWords = docs
      .withColumn("norm", Exprs.normText(col("text")))
      .withColumn("words", split(col("norm"), " "))
    def classBits(m: TextOps.NbClassModel): Column = {
      val (toks, costs) = m.bits.toSeq.sortBy(_._1).unzip
      val costMap =
        if (toks.isEmpty) map().cast("map<string,bigint>")
        else map_from_arrays(typedlit(toks), typedlit(costs))
      aggregate(col("words"), lit(m.priorBits),
        (acc, w) => acc + coalesce(element_at(costMap, w), lit(m.defaultBits)))
    }
    val scored = model.map(m =>
      struct(classBits(m).as("bits"), lit(m.cls).as("cls")))
    // least() needs two children; a one-class model is its own argmin
    val best = if (scored.size == 1) scored.head else least(scored: _*)
    withWords.select(col("doc_id"), col("ingest_ts"),
      best.getField("cls").as("pred_bucket"),
      best.getField("bits").as("bits"))
  }
}
