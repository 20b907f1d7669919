package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Exprs

/** Streaming benchmark-decontamination gate — the admission-matrix member
  * that quarantines arrivals overlapping the FROZEN benchmark/probe set
  * before they can enter a training corpus: the online form of the batch
  * [[graft.functions.TextOps.contamination]] relation and `curate`'s
  * `contaminated` gate, for the firehose.
  *
  * Mechanism: the [[NbStream]] frozen-model pattern, not a join — the
  * probe set is tiny by definition (benchmark questions), so each probe's
  * distinct 3-gram shingle set is collected ONCE at freeze time and
  * compiled into the plan as array literals; every arriving document
  * computes its own distinct shingle array row-locally (the exact
  * [[graft.functions.TextOps]] `shingles3` construction — `< 3` words
  * fall back to the whole normalized text, so the tiers cannot drift) and
  * evaluates `size(array_intersect(...))` against each probe, taking the
  * max with the batch tie-break (count desc, probe_id asc). ZERO
  * streaming state, zero shuffle, no stream-static join machinery at all:
  * pure row-local expressions, the cheapest possible plan for a
  * per-arrival gate.
  *
  * Output tags every arrival (`contaminated` = top overlap ≥ `contamMin`,
  * the `curate` threshold) rather than dropping — quarantine routing is
  * the consumer's choice, and the tag stream doubles as the contamination
  * MONITOR (rate of near-benchmark arrivals is itself an alarm signal).
  *
  * 100 TB posture: the probe literals are |probes| × |shingles| strings
  * baked into codegen — the same budget as a broadcast, with no exchange;
  * refreshing the benchmark set is a restart with new literals (frozen-
  * index versioning). A benchmark set too large to compile into literals
  * is the signal to switch to the stream-static join form (the
  * [[DupSpanStream]] machinery); the contract stays identical.
  *
  * `docs` must carry (doc_id, text, ingest_ts).
  */
object ContamStream {

  /** The frozen probe index: (probe_id, distinct shingle set), collected
    * once per deployment from the same probe convention as the batch tier
    * (`doc_id < probeMax`).
    */
  def frozenProbes(spark: SparkSession, dir: String,
                   probeMax: Long = 10): Seq[(Long, Seq[String])] = {
    import spark.implicits._
    graft.functions.TextOps.prepared(spark, dir)
      .filter(col("doc_id") < probeMax)
      .select(col("doc_id"), shingleArrayE.as("shs"))
      .as[(Long, Seq[String])].collect().sortBy(_._1).toSeq
  }

  /** Distinct 3-gram shingle array of a (norm, words) row — the row-local
    * form of the batch `shingles3` explode, same `< 3`-words fallback.
    */
  private def shingleArrayE: Column =
    array_distinct(when(size(col("words")) >= 3,
      expr("transform(sequence(0, size(words)-3), i -> concat(words[i], ' ', words[i+1], ' ', words[i+2]))"))
      .otherwise(array(col("norm"))))

  def apply(docs: DataFrame, probes: Seq[(Long, Seq[String])],
            contamMin: Long = 5): DataFrame = {
    require(probes.nonEmpty, "frozen probe set must not be empty")
    val withSh = docs
      .withColumn("norm", Exprs.normText(col("text")))
      .withColumn("words", split(col("norm"), " "))
      .withColumn("shs", shingleArrayE)
    // per probe: overlap count; max with the batch tie-break (count desc,
    // probe_id asc) via struct ordering on (cnt, -probe_id)
    val scored = array(probes.map { case (pid, shs) =>
      struct(
        size(array_intersect(col("shs"),
          array(shs.map(lit): _*))).cast("long").as("cnt"),
        lit(-pid).as("neg_pid"))
    }: _*)
    withSh
      .withColumn("best", array_max(scored))
      .select(col("doc_id"), col("ingest_ts"),
        (-col("best.neg_pid")).cast("long").as("top_probe_id"),
        col("best.cnt").as("n_shared_shingles"),
        (col("best.cnt") >= contamMin).as("contaminated"))
  }
}
