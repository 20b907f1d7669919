package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming form of [[graft.functions.MixOps.mixRebalance]]: enforce a
  * per-source TOKEN budget over a live document stream — the admission gate
  * a continuous ingest runs so no single source floods the training mix
  * between batch rebalances.
  *
  * Keyed state per source is ONE Long (tokens admitted so far), so the
  * state store is bounded by source cardinality — thousands, not corpus
  * size — and needs no timeout: a quota is a per-run contract, and the
  * tiny state outlives idle periods deliberately. Admission is greedy in
  * (ingest_ts, doc_id) order within each micro-batch (deterministic under
  * replay); a document that would overflow the remaining budget is
  * REJECTED but the stream keeps scanning — a later, smaller document may
  * still fit (best-effort packing, same greedy rule as the batch shard
  * packer's walk). Every decision is emitted with the running total so the
  * drop audit is part of the output, not a side channel.
  */
object QuotaStream {

  final case class QDoc(doc_id: Long, source: String, tok: Long, ingest_ts: Timestamp)
  final case class Decision(doc_id: Long, source: String, tok: Long,
                            admitted: Boolean, admitted_tok: Long)
  final case class QuotaState(consumed: Long)

  /** Emits one [[Decision]] per document, in admission order per source. */
  def apply(docs: Dataset[QDoc], quota: Long)
           (implicit spark: SparkSession): Dataset[Decision] = {
    import spark.implicits._
    docs
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (source: String, rows: Iterator[QDoc], state: GroupState[QuotaState]) => {
          var consumed = state.getOption.map(_.consumed).getOrElse(0L)
          val out = rows.toSeq.sortBy(d => (d.ingest_ts.getTime, d.doc_id)).map { d =>
            val fits = consumed + d.tok <= quota
            if (fits) consumed += d.tok
            Decision(d.doc_id, source, d.tok, fits, consumed)
          }
          state.update(QuotaState(consumed))
          out.iterator
        })
  }
}
