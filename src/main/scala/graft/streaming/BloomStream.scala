package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.functions.TextOps.bloomShingles]]: the
  * per-arrival shingle-novelty monitor served from the FROZEN base
  * bitmap. The whole filter ships as an (m/64)-long array LITERAL inside
  * the plan — 8 KB at the default m=65536 — so the probe is a row-local
  * codegen'd expression chain: no join, no shuffle, no watermark and ZERO
  * keyed state (the strongest member of the streaming admission matrix's
  * frozen-index family; QuantileStream's length gate at least carries a
  * broadcast relation — here the index fits in the expression tree).
  *
  * Per arrival it emits the doc's distinct-3-shingle count, how many the
  * bloom has seen, and the novelty permille — the ingest-screen readout
  * that decides whether a crawl batch is worth the exact base-index
  * look. No false negatives: a base doc replayed through the stream
  * reads novel_pm = 0 by construction (spec-asserted), so a nonzero
  * novelty is PROOF of new content, never hash luck.
  */
object BloomStream {

  val M = 65536
  val KHash = 3

  /** Fold the batch tier's session-shared distinct-position relation into
    * the serving bitmap — m/64 longs of driver state (the frozen-literal
    * posture: bounded by the FILTER size, never the corpus).
    */
  def bitmapWords(spark: SparkSession, dir: String, m: Int = M,
                  k: Int = KHash, deltaMod: Int = 10): Array[Long] = {
    val words = new Array[Long]((m + 63) / 64)
    graft.functions.TextOps.bloomBits(spark, dir, m, k, deltaMod)
      .collect().foreach { r =>
        val p = r.getLong(0)
        words((p / 64).toInt) |= 1L << (p % 64).toInt
      }
    words
  }

  /** Row-local novelty over a (doc_id, text, source) arrival stream. */
  def novelty(arrivals: DataFrame, words: Array[Long], m: Int = M,
              k: Int = KHash): DataFrame = {
    require(words.length == (m + 63) / 64,
      s"bitmap has ${words.length} words, expected ${(m + 63) / 64} for m=$m")
    val bm = typedlit(words.toSeq)
    def posOf(i: Int, s: Column): Column =
      graft.Exprs.hex60(concat(lit(s"bf$i:"), s)) % lit(m.toLong)
    def bitSet(pos: Column): Column =
      element_at(bm, (pos / lit(64L)).cast("int") + lit(1))
        .bitwiseAND(call_function("shiftleft", lit(1L), (pos % lit(64L)).cast("int"))) =!= lit(0L)
    def seenE(s: Column): Column =
      (0 until k).map(i => bitSet(posOf(i, s))).reduce(_ && _)
    // same shingle construction as the batch tier (TextOps.shingles3):
    // 3-grams over the normalized words, whole-norm fallback for short
    // docs, per-doc distinct; null shingles (null text) drop so the
    // degenerate doc reads 0 shingles / novel_pm -1, both engines' shape
    val sh3 = when(size(col("words")) >= 3,
      expr("transform(sequence(0, size(words)-3), i -> concat(words[i], ' ', words[i+1], ' ', words[i+2]))"))
      .otherwise(array(col("norm")))
    arrivals
      .withColumn("norm", graft.Exprs.normText(col("text")))
      .withColumn("words", split(col("norm"), " "))
      .withColumn("sh", filter(array_distinct(sh3), s => s.isNotNull))
      .select(col("doc_id"), col("source"),
        size(col("sh")).as("n_shingles"),
        size(filter(col("sh"), s => seenE(s))).as("n_seen"))
      .withColumn("novel_pm", expr(
        "CASE WHEN n_shingles > 0 THEN (n_shingles - n_seen) * 1000L div n_shingles ELSE -1L END"))
  }
}
