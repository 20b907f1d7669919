package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Exprs

/** Retrieval tier over the corpus: BM25 lexical search and
  * reciprocal-rank-fusion hybrid search (lexical ∪ semantic), the query
  * side a training-data pipeline runs for decontamination probes, hard-
  * negative mining, and RAG corpus construction. Queries are the probe
  * documents (`doc_id < probeMax` — the same probe-set convention as
  * [[TextOps.contamination]]); the semantic side rides the
  * `doc_id = vec_id` 1:1 embedding contract ([[MixOps]] / `v_embed_stale`).
  *
  * Cross-engine determinism uses the margin-miner pattern: every per-term
  * BM25 contribution quantizes to an integer (floor(x·10⁴ + ½)) BEFORE
  * summation, so per-(query, doc) scores are order-free integer sums and
  * ranking ties break on doc_id identically on both engines. RRF is pure
  * integer arithmetic (10⁶ div (k₀ + rank)).
  */
object Retrieval {

  /** BM25 (k1, b) top-k retrieval of corpus documents for each probe
    * query. Score for doc d, query q:
    *   Σ_{t ∈ q ∩ d} idf(t) · tf(t,d)·(k1+1) / (tf(t,d) + k1·(1−b+b·|d|/avgdl))
    * with idf(t) = ln((N − df + ½)/(df + ½) + 1) (the Lucene form — never
    * negative). Query terms above the df-FRACTION cap (`maxDfFrac` of the
    * corpus, default 0.9) are dropped — stopword semantics: a ubiquitous
    * term contributes near-zero score but corpus-sized candidate fan-out.
    * The cap is a fraction, not an absolute ([[TextOps.jaccardPairs]]'s
    * dfCap), because "ubiquitous" is relative to N; scoring cost is
    * Σ df(t) over the surviving query terms, which on a Zipfian vocabulary
    * with the stopword tail cut is the classic inverted-index bound.
    *
    * Scale shape: one exchange for the (doc, term) tf agg, the tiny query
    * term list broadcast into the term-keyed candidate join, map-side
    * combined integer score sum per (q, doc), then the per-query top-k
    * window. Corpus stats (N, Σlen) are a broadcast 1-row relation; the
    * inverted list is never materialized driver-side.
    */
  def bm25(spark: SparkSession, dir: String, probeMax: Long = 10,
           k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
           maxDfFrac: Double = 0.9): DataFrame = {
    val scored = bm25Scored(spark, dir, probeMax, k1, b, maxDfFrac)
    topDocs(scored, k)
      .orderBy(col("q_id"), col("rank"))
  }

  /** Per-query top-k over BM25 scores (ties by doc_id), the integer score
    * scaled back to its 4-decimal value.
    */
  private def topDocs(scored: DataFrame, k: Int): DataFrame =
    Exprs.keepTop(scored, Seq(col("q_id")), Seq(col("s_int").desc, col("doc_id")), k, "rank")
      .select(col("q_id"), col("rank"), col("doc_id"), (col("s_int") / 10000.0).as("score"))

  /** The inverted index every BM25 entry point serves from, built ONCE:
    * the per-doc tokenized length base `withLen` (doc_id, ws, len) and the
    * session-shared (doc_id, len, w, tf) posting relation under the single
    * SharedRel key `bm25idx|dir`. Extracted so the key and the builder
    * cannot drift apart across consumers ([[bm25Scored]],
    * [[bm25IncrScored]], [[bm25IndexStats]], [[bm25Pruned]]) — four
    * previously-inlined copies forked the index silently if one changed.
    */
  private[graft] def bm25Index(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val withLen = TextOps.prepared(spark, dir).select(
      col("doc_id"),
      filter(col("words"), w => w =!= "").as("ws"))
      .select(col("doc_id"), col("ws"), size(col("ws")).as("len"))
    val tf = graft.SharedRel(spark, s"bm25idx|$dir")(
      withLen.select(col("doc_id"), col("len"), explode(col("ws")).as("w"))
        .groupBy(col("doc_id"), col("len"), col("w"))
        .agg(count(lit(1)).as("tf")))
    (withLen, tf)
  }

  /** The pre-top-k (q_id, doc_id, s_int) score relation of [[bm25]] —
    * candidates from the session-shared inverted index with query terms
    * over `maxDfFrac`·N dropped. Because every contribution comes from a
    * q ∩ d term, capping the QUERY terms is observationally identical to
    * serving from an index with those terms' posting lists pruned — which
    * is exactly how [[bm25Pruned]] reuses this at two cap values.
    */
  private def bm25Scored(spark: SparkSession, dir: String, probeMax: Long,
                         k1: Double, b: Double, maxDfFrac: Double): DataFrame = {
    // the inverted index: session-shared (SharedRel) because it is a
    // derived index relation with MULTIPLE query consumers (d_bm25,
    // d_bm25_pruned and d_hybrid_rrf) and four in-plan consumers (df,
    // query terms, the candidate join, stats' len base) — unshared, each
    // consumer re-ran the explode + count over the corpus (measured
    // 5.8 s → ~2.6 s marginal at sf0.1)
    val (withLen, tf) = bm25Index(spark, dir)
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val stats = withLen.agg(count(lit(1)).as("n_docs"), sum(col("len")).as("sum_len"))
    // query side: distinct probe terms, df-capped; carries df for the idf
    val qTerms = tf.filter(col("doc_id") < probeMax)
      .select(col("doc_id").as("q_id"), col("w"))
      .join(df, "w").crossJoin(broadcast(stats.select(col("n_docs").as("nd"))))
      .filter(col("df").cast("double") <= lit(maxDfFrac) * col("nd"))
      .drop("nd")
    val cands = tf.join(broadcast(qTerms), "w")
      .filter(col("doc_id") =!= col("q_id"))
      .crossJoin(broadcast(stats))
      // ratio, idf, contribution: operand order written identically in the
      // DuckDB mirror so the doubles match bit-for-bit pre-quantization
      .withColumn("ratio",
        col("len").cast("double") * col("n_docs") / col("sum_len"))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("c_int",
        floor(col("idf") * (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("ratio")))
          * 10000 + 0.5).cast("long"))
    cands.groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("c_int")).as("s_int"))
  }

  def bm25Sql(probeMax: Long = 10, k: Int = 10, k1: Double = 1.2,
              b: Double = 0.75, maxDfFrac: Double = 0.9): String =
    s"""WITH d AS (
       |  SELECT doc_id, list_filter(words, w -> w <> '') AS ws
       |  FROM (${TextOps.preparedSql})),
       |wl AS (SELECT doc_id, ws, len(ws) AS len FROM d),
       |tf AS (
       |  SELECT doc_id, len, w, count(*) AS tf
       |  FROM wl, unnest(ws) AS t(w)
       |  GROUP BY doc_id, len, w),
       |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
       |stats AS (SELECT count(*) AS n_docs, sum(len) AS sum_len FROM wl),
       |qt AS (
       |  SELECT tf.doc_id AS q_id, tf.w, df.df
       |  FROM tf JOIN df USING (w), stats
       |  WHERE tf.doc_id < $probeMax
       |    AND CAST(df.df AS DOUBLE) <= $maxDfFrac * stats.n_docs),
       |cands AS (
       |  SELECT qt.q_id, tf.doc_id,
       |    CAST(floor(
       |      ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
       |        * (tf * ${k1 + 1}) /
       |        (tf + $k1 * (${1.0 - b} + $b *
       |          (CAST(len AS DOUBLE) * n_docs / sum_len)))
       |      * 10000 + 0.5) AS BIGINT) AS c_int
       |  FROM tf JOIN qt USING (w), stats
       |  WHERE tf.doc_id <> qt.q_id),
       |scored AS (
       |  SELECT q_id, doc_id, sum(c_int) AS s_int
       |  FROM cands GROUP BY q_id, doc_id)
       |SELECT q_id, rank, doc_id, s_int / 10000.0 AS score FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (
       |    PARTITION BY q_id ORDER BY s_int DESC, doc_id) AS INT) AS rank
       |  FROM scored)
       |WHERE rank <= $k
       |ORDER BY q_id, rank""".stripMargin

  /** Standing-query BM25 over ARRIVALS with FROZEN statistics — the
    * incremental form retrieval serving actually runs: the index
    * statistics (df, N, Σlen) freeze at base-build time (the salted
    * [[TextOps]] `Exprs.arrivalSplit` split — same "base" as every text-tier
    * incremental), standing queries are the probe docs, and only the
    * DELTA documents are scored — the news-alerting / standing-retrieval
    * shape, O(delta) per day. Contract delta vs [[bm25]], stated: idf and
    * avgdl are the BASE corpus's (stale by one increment — the universal
    * serving trade; refreshing them is the recompaction), and ranks are
    * WITHIN the increment (yesterday's alerts already fired). tf is the
    * arrival's own — the only per-arrival term.
    *
    * Same quantized-contribution determinism as [[bm25]]; same plan with
    * the corpus side filtered to the delta split (the filter reaches the
    * scan — delta is a row predicate, not a join).
    */
  def bm25Incr(spark: SparkSession, dir: String, probeMax: Long = 10,
               k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
               maxDfFrac: Double = 0.9, deltaMod: Int = 5): DataFrame = {
    val scored = bm25IncrScored(spark, dir, probeMax, k1, b, maxDfFrac,
      deltaMod)
    topDocs(scored, k)
      .orderBy(col("q_id"), col("rank"))
  }

  /** The pre-top-k (q_id, doc_id, s_int) score relation of [[bm25Incr]],
    * which [[bm25Compact]] also scores under refreshed statistics.
    */
  private def bm25IncrScored(spark: SparkSession, dir: String,
                             probeMax: Long, k1: Double, b: Double,
                             maxDfFrac: Double, deltaMod: Int,
                             freshStats: Boolean = false): DataFrame = {
    val (withLen, tf) = bm25Index(spark, dir)
    val isBase = Exprs.arrivalSplit(col("doc_id"), deltaMod) =!= 0
    // FROZEN statistics: df / N / Σlen over the base split only —
    // unless `freshStats`, which scores the same delta candidates under
    // REFRESHED full-corpus statistics (the [[bm25Compact]] contrast side)
    val df = (if (freshStats) tf else tf.filter(isBase))
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
    val stats = (if (freshStats) withLen else withLen.filter(isBase))
      .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("sum_len"))
    val qTerms = tf.filter(col("doc_id") < probeMax)
      .select(col("doc_id").as("q_id"), col("w"))
      .join(df, "w").crossJoin(broadcast(stats.select(col("n_docs").as("nd"))))
      .filter(col("df").cast("double") <= lit(maxDfFrac) * col("nd"))
      .drop("nd")
    val cands = tf.filter(!isBase && col("doc_id") >= probeMax)
      .join(broadcast(qTerms), "w")
      .crossJoin(broadcast(stats))
      .withColumn("ratio",
        col("len").cast("double") * col("n_docs") / col("sum_len"))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("c_int",
        floor(col("idf") * (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("ratio")))
          * 10000 + 0.5).cast("long"))
    cands.groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("c_int")).as("s_int"))
  }

  def bm25IncrSql(probeMax: Long = 10, k: Int = 10, k1: Double = 1.2,
                  b: Double = 0.75, maxDfFrac: Double = 0.9,
                  deltaMod: Int = 5): String =
    s"""WITH d AS (
       |  SELECT doc_id, list_filter(words, w -> w <> '') AS ws
       |  FROM (${TextOps.preparedSql})),
       |wl AS (SELECT doc_id, ws, len(ws) AS len,
       |         ${Exprs.arrivalSplitSql("doc_id", deltaMod)} <> 0 AS is_base FROM d),
       |tf AS (
       |  SELECT doc_id, len, is_base, w, count(*) AS tf
       |  FROM wl, unnest(ws) AS t(w)
       |  GROUP BY doc_id, len, is_base, w),
       |df AS (SELECT w, count(*) AS df FROM tf WHERE is_base GROUP BY w),
       |stats AS (SELECT count(*) AS n_docs, sum(len) AS sum_len
       |          FROM wl WHERE is_base),
       |qt AS (
       |  SELECT tf.doc_id AS q_id, tf.w, df.df
       |  FROM tf JOIN df USING (w), stats
       |  WHERE tf.doc_id < $probeMax
       |    AND CAST(df.df AS DOUBLE) <= $maxDfFrac * stats.n_docs),
       |cands AS (
       |  SELECT qt.q_id, tf.doc_id,
       |    CAST(floor(
       |      ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
       |        * (tf * ${k1 + 1}) /
       |        (tf + $k1 * (${1.0 - b} + $b *
       |          (CAST(len AS DOUBLE) * n_docs / sum_len)))
       |      * 10000 + 0.5) AS BIGINT) AS c_int
       |  FROM tf JOIN qt USING (w), stats
       |  WHERE NOT tf.is_base AND tf.doc_id >= $probeMax),
       |scored AS (
       |  SELECT q_id, doc_id, sum(c_int) AS s_int
       |  FROM cands GROUP BY q_id, doc_id)
       |SELECT q_id, rank, doc_id, s_int / 10000.0 AS score FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (
       |    PARTITION BY q_id ORDER BY s_int DESC, doc_id) AS INT) AS rank
       |  FROM scored)
       |WHERE rank <= $k
       |ORDER BY q_id, rank""".stripMargin

  /** Inverted-index health monitor — the one-row report a retrieval
    * deployment reads beside [[bm25Compact]]: vocabulary size, corpus and
    * posting mass, the df skew (max df, the permille of postings carried
    * by terms over the [[bm25]] df-fraction cap — the stopword mass the
    * cap exists to cut), and average document length. All integers over
    * the session-shared index; one pass, map-side combined.
    */
  def bm25IndexStats(spark: SparkSession, dir: String,
                     maxDfFrac: Double = 0.9): DataFrame = {
    val (withLen, tf) = bm25Index(spark, dir)
    val stats = withLen.agg(count(lit(1)).as("n_docs"), sum(col("len")).as("sum_len"))
    val df = tf.groupBy(col("w"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("postings"))
    df.crossJoin(broadcast(stats))
      .agg(
        count(lit(1)).as("n_terms"),
        sum(col("postings")).as("n_postings"),
        max(col("df")).as("max_df"),
        sum(when(col("df").cast("double") > lit(maxDfFrac) * col("n_docs"),
          col("postings")).otherwise(lit(0L))).as("capped_postings"),
        first(col("n_docs")).as("n_docs"),
        first(col("sum_len")).as("sum_len"))
      .select(col("n_docs"), col("n_terms"), col("n_postings"), col("max_df"),
        expr("capped_postings * 1000L div n_postings").as("capped_pm"),
        expr("sum_len div n_docs").as("avg_len"))
      // empty/stopword-free corpus: the SQL oracle's GROUP BY over an empty
      // df CTE yields zero rows; drop the degenerate all-null row so both
      // engines agree on the shape (no corpus -> no report)
      .where(col("n_terms") > 0)
  }

  def bm25IndexStatsSql(maxDfFrac: Double = 0.9): String =
    s"""WITH d AS (
       |  SELECT doc_id, list_filter(words, w -> w <> '') AS ws
       |  FROM (${TextOps.preparedSql})),
       |wl AS (SELECT doc_id, len(ws) AS len, ws FROM d),
       |tf AS (
       |  SELECT doc_id, len, w, count(*) AS tf
       |  FROM wl, unnest(ws) AS t(w)
       |  GROUP BY doc_id, len, w),
       |stats AS (SELECT count(*) AS n_docs, sum(len) AS sum_len FROM wl),
       |df AS (SELECT w, count(*) AS df, sum(tf) AS postings FROM tf GROUP BY w)
       |SELECT CAST(stats.n_docs AS BIGINT) AS n_docs,
       |  CAST(count(*) AS BIGINT) AS n_terms,
       |  CAST(sum(postings) AS BIGINT) AS n_postings,
       |  CAST(max(df) AS BIGINT) AS max_df,
       |  CAST(sum(CASE WHEN CAST(df AS DOUBLE) > $maxDfFrac * stats.n_docs
       |           THEN postings ELSE 0 END) * 1000
       |       // sum(postings) AS BIGINT) AS capped_pm,
       |  CAST(stats.sum_len // stats.n_docs AS BIGINT) AS avg_len
       |FROM df, stats GROUP BY stats.n_docs, stats.sum_len""".stripMargin

  /** Index-recompaction audit — the staleness-cost report that tells a
    * BM25 deployment WHEN to re-index (the [[VectorOps]] `v_compact_audit`
    * twin for the retrieval tier): the same delta candidates are scored
    * twice, once under the FROZEN base statistics [[bm25Incr]] serves with
    * (df/N/avgdl stale by one increment — `Retrieval.scala` freeze
    * contract) and once under REFRESHED full-corpus statistics, and the
    * per-standing-query rank drift between the two is folded to integer
    * monitor rows: pair counts per side, common pairs, rank-changed pairs,
    * total absolute rank drift, and how much of the serving top-k is
    * stable. All-integer output — cross-engine exact, no float compare.
    *
    * The df-FRACTION cap is applied per side against its own N (a term can
    * be under the cap frozen and over it refreshed — that asymmetry is
    * real staleness cost and shows up as one-sided pairs). Scale shape:
    * two passes over the shared session inverted index with broadcast
    * stats + query terms (each pass the [[bm25Incr]] plan), then a
    * |queries|·|delta|-bounded rank join — the audit costs two serving
    * queries, never a corpus rebuild.
    */
  def bm25Compact(spark: SparkSession, dir: String, probeMax: Long = 10,
                  k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
                  maxDfFrac: Double = 0.9, deltaMod: Int = 5): DataFrame = {
    val frozen = bm25IncrScored(spark, dir, probeMax, k1, b, maxDfFrac,
      deltaMod)
    val fresh = bm25IncrScored(spark, dir, probeMax, k1, b, maxDfFrac,
      deltaMod, freshStats = true)
    rankDriftFold(frozen, fresh, "frozen", "fresh", k)
  }

  /** The per-query rank-drift monitor fold both serving audits share
    * ([[bm25Compact]] frozen-vs-fresh, [[bm25Pruned]] full-vs-pruned):
    * rank both (q_id, doc_id, s_int) relations per query, full-outer join
    * on the pair, and fold to integer drift rows — pair counts per side,
    * common pairs, rank-changed pairs, total absolute drift, and how much
    * of the top-k survives on both sides. |queries|·|candidates|-bounded.
    */
  private def rankDriftFold(a: DataFrame, b: DataFrame, aName: String,
                            bName: String, k: Int): DataFrame = {
    def ranked(sc: DataFrame, nm: String) = sc.select(col("q_id"), col("doc_id"),
      row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("s_int").desc, col("doc_id"))).as(nm))
    val ra = s"rank_$aName"
    val rb = s"rank_$bName"
    ranked(a, ra)
      .join(ranked(b, rb), Seq("q_id", "doc_id"), "full_outer")
      .groupBy(col("q_id")).agg(
        count(col(ra)).as(s"n_$aName"),
        count(col(rb)).as(s"n_$bName"),
        count(when(col(ra).isNotNull && col(rb).isNotNull,
          1)).as("n_common"),
        count(when(col(ra) =!= col(rb), 1))
          .as("n_rank_changed"),
        coalesce(sum(abs(col(ra) - col(rb))), lit(0L))
          .cast("long").as("sum_abs_drift"),
        count(when(col(ra) <= k && col(rb) <= k, 1))
          .as("topk_stable"))
      .orderBy(col("q_id"))
  }

  def bm25CompactSql(probeMax: Long = 10, k: Int = 10, k1: Double = 1.2,
                     b: Double = 0.75, maxDfFrac: Double = 0.9,
                     deltaMod: Int = 5): String =
    s"""WITH d AS (
       |  SELECT doc_id, list_filter(words, w -> w <> '') AS ws
       |  FROM (${TextOps.preparedSql})),
       |wl AS (SELECT doc_id, ws, len(ws) AS len,
       |         ${Exprs.arrivalSplitSql("doc_id", deltaMod)} <> 0 AS is_base FROM d),
       |tf AS (
       |  SELECT doc_id, len, is_base, w, count(*) AS tf
       |  FROM wl, unnest(ws) AS t(w)
       |  GROUP BY doc_id, len, is_base, w),
       |dfb AS (SELECT w, count(*) AS df FROM tf WHERE is_base GROUP BY w),
       |dff AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
       |sb AS (SELECT count(*) AS n_docs, sum(len) AS sum_len
       |       FROM wl WHERE is_base),
       |sf AS (SELECT count(*) AS n_docs, sum(len) AS sum_len FROM wl),
       |qtb AS (
       |  SELECT tf.doc_id AS q_id, tf.w, dfb.df
       |  FROM tf JOIN dfb USING (w), sb
       |  WHERE tf.doc_id < $probeMax
       |    AND CAST(dfb.df AS DOUBLE) <= $maxDfFrac * sb.n_docs),
       |qtf AS (
       |  SELECT tf.doc_id AS q_id, tf.w, dff.df
       |  FROM tf JOIN dff USING (w), sf
       |  WHERE tf.doc_id < $probeMax
       |    AND CAST(dff.df AS DOUBLE) <= $maxDfFrac * sf.n_docs),
       |scb AS (
       |  SELECT q_id, doc_id, sum(c_int) AS s_int FROM (
       |    SELECT qtb.q_id, tf.doc_id,
       |      CAST(floor(
       |        ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
       |          * (tf * ${k1 + 1}) /
       |          (tf + $k1 * (${1.0 - b} + $b *
       |            (CAST(len AS DOUBLE) * n_docs / sum_len)))
       |        * 10000 + 0.5) AS BIGINT) AS c_int
       |    FROM tf JOIN qtb USING (w), sb
       |    WHERE NOT tf.is_base AND tf.doc_id >= $probeMax)
       |  GROUP BY q_id, doc_id),
       |scf AS (
       |  SELECT q_id, doc_id, sum(c_int) AS s_int FROM (
       |    SELECT qtf.q_id, tf.doc_id,
       |      CAST(floor(
       |        ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
       |          * (tf * ${k1 + 1}) /
       |          (tf + $k1 * (${1.0 - b} + $b *
       |            (CAST(len AS DOUBLE) * n_docs / sum_len)))
       |        * 10000 + 0.5) AS BIGINT) AS c_int
       |    FROM tf JOIN qtf USING (w), sf
       |    WHERE NOT tf.is_base AND tf.doc_id >= $probeMax)
       |  GROUP BY q_id, doc_id),
       |rb AS (SELECT q_id, doc_id, CAST(ROW_NUMBER() OVER (
       |         PARTITION BY q_id ORDER BY s_int DESC, doc_id) AS INT)
       |         AS rank_frozen FROM scb),
       |rf AS (SELECT q_id, doc_id, CAST(ROW_NUMBER() OVER (
       |         PARTITION BY q_id ORDER BY s_int DESC, doc_id) AS INT)
       |         AS rank_fresh FROM scf),
       |j AS (SELECT coalesce(rb.q_id, rf.q_id) AS q_id, rank_frozen, rank_fresh
       |      FROM rb FULL OUTER JOIN rf
       |        ON rb.q_id = rf.q_id AND rb.doc_id = rf.doc_id)
       |SELECT q_id,
       |  CAST(count(rank_frozen) AS BIGINT) AS n_frozen,
       |  CAST(count(rank_fresh) AS BIGINT) AS n_fresh,
       |  CAST(count(CASE WHEN rank_frozen IS NOT NULL
       |                   AND rank_fresh IS NOT NULL THEN 1 END) AS BIGINT)
       |    AS n_common,
       |  CAST(count(CASE WHEN rank_frozen <> rank_fresh THEN 1 END) AS BIGINT)
       |    AS n_rank_changed,
       |  CAST(coalesce(sum(abs(rank_frozen - rank_fresh)), 0) AS BIGINT)
       |    AS sum_abs_drift,
       |  CAST(count(CASE WHEN rank_frozen <= $k AND rank_fresh <= $k THEN 1 END)
       |       AS BIGINT) AS topk_stable
       |FROM j GROUP BY q_id ORDER BY q_id""".stripMargin

  /** Stopword-pruned serving audit — the ACTION that closes the
    * [[bm25IndexStats]] monitor loop: the monitor prices the posting mass
    * carried by over-cap (stopword-grade) terms; this operator actually
    * SERVES from the pruned index and reports what the prune buys and
    * costs. The same probe queries are scored twice through [[bm25Scored]]
    * — once uncapped (`maxDfFrac = 1.0`, the full index) and once with
    * terms over `pruneFrac`·N removed (identical to pruning those terms'
    * posting lists, since every contribution is a q ∩ d term) — and the
    * per-query rank drift between the two is folded by [[rankDriftFold]].
    * Every row carries `pruned_mass_pm`, the permille of posting mass the
    * prune deletes: the serving-cost saving the fidelity loss is weighed
    * against. The default prune point (0.78) sits INSIDE the testdata's
    * stopword band (30 terms, df-frac 0.746–0.804, 999‰ of postings):
    * it prunes the hottest ~half (509‰ of mass) while the rest still
    * serve — and the report shows the real cost of pruning a
    * stopword-dominated query load (candidates survive via the remaining
    * terms, but top-10 stability collapses to 0–6 of 10). A cap below
    * the band (e.g. 0.5) deletes the queries' entire vocabulary:
    * n_pruned = 0 — the "don't prune what your queries are made of"
    * failure the report makes visible either way.
    *
    * Scale shape: two passes over the session-shared inverted index with
    * broadcast stats + query terms (each the [[bm25]] plan — candidate
    * cost Σ df(t), so the pruned pass is itself ~1000× cheaper here), then
    * the |queries|·|candidates| rank join. idf/avgdl stay the full-corpus
    * statistics on BOTH sides: the prune deletes posting lists, it does
    * not pretend the corpus shrank.
    */
  def bm25Pruned(spark: SparkSession, dir: String, probeMax: Long = 10,
                 k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
                 pruneFrac: Double = 0.78): DataFrame = {
    val full = bm25Scored(spark, dir, probeMax, k1, b, 1.0)
    val pruned = bm25Scored(spark, dir, probeMax, k1, b, pruneFrac)
    val (withLen, tf) = bm25Index(spark, dir)
    val nDocs = withLen.agg(count(lit(1)).as("n_docs"))
    val mass = tf.groupBy(col("w"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("postings"))
      .crossJoin(broadcast(nDocs))
      .agg(
        sum(when(col("df").cast("double") > lit(pruneFrac) * col("n_docs"),
          col("postings")).otherwise(lit(0L))).as("pruned_postings"),
        sum(col("postings")).as("n_postings"))
      .select(expr("pruned_postings * 1000L div n_postings")
        .as("pruned_mass_pm"))
    rankDriftFold(full, pruned, "full", "pruned", k)
      .crossJoin(broadcast(mass))
  }

  def bm25PrunedSql(probeMax: Long = 10, k: Int = 10, k1: Double = 1.2,
                    b: Double = 0.75, pruneFrac: Double = 0.78): String = {
    def scoredCte(nm: String, capPred: String): String =
      s"""$nm AS (
         |  SELECT q_id, doc_id, sum(c_int) AS s_int FROM (
         |    SELECT qt.q_id, tf.doc_id,
         |      CAST(floor(
         |        ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
         |          * (tf * ${k1 + 1}) /
         |          (tf + $k1 * (${1.0 - b} + $b *
         |            (CAST(len AS DOUBLE) * n_docs / sum_len)))
         |        * 10000 + 0.5) AS BIGINT) AS c_int
         |    FROM tf JOIN (
         |      SELECT tf.doc_id AS q_id, tf.w, df.df
         |      FROM tf JOIN df USING (w), stats
         |      WHERE tf.doc_id < $probeMax AND $capPred) qt USING (w), stats
         |    WHERE tf.doc_id <> qt.q_id)
         |  GROUP BY q_id, doc_id)""".stripMargin
    s"""WITH d AS (
       |  SELECT doc_id, list_filter(words, w -> w <> '') AS ws
       |  FROM (${TextOps.preparedSql})),
       |wl AS (SELECT doc_id, ws, len(ws) AS len FROM d),
       |tf AS (
       |  SELECT doc_id, len, w, count(*) AS tf
       |  FROM wl, unnest(ws) AS t(w)
       |  GROUP BY doc_id, len, w),
       |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
       |stats AS (SELECT count(*) AS n_docs, sum(len) AS sum_len FROM wl),
       |${scoredCte("scfull", "TRUE")},
       |${scoredCte("scpruned",
           s"CAST(df.df AS DOUBLE) <= $pruneFrac * stats.n_docs")},
       |mass AS (
       |  SELECT CAST(sum(CASE WHEN CAST(p.df AS DOUBLE) > $pruneFrac * stats.n_docs
       |           THEN p.postings ELSE 0 END) * 1000
       |         // sum(p.postings) AS BIGINT) AS pruned_mass_pm
       |  FROM (SELECT w, count(*) AS df, sum(tf) AS postings
       |        FROM tf GROUP BY w) p, stats),
       |rfull AS (SELECT q_id, doc_id, CAST(ROW_NUMBER() OVER (
       |         PARTITION BY q_id ORDER BY s_int DESC, doc_id) AS INT)
       |         AS rank_full FROM scfull),
       |rpruned AS (SELECT q_id, doc_id, CAST(ROW_NUMBER() OVER (
       |         PARTITION BY q_id ORDER BY s_int DESC, doc_id) AS INT)
       |         AS rank_pruned FROM scpruned),
       |j AS (SELECT coalesce(rfull.q_id, rpruned.q_id) AS q_id,
       |        rank_full, rank_pruned
       |      FROM rfull FULL OUTER JOIN rpruned
       |        ON rfull.q_id = rpruned.q_id AND rfull.doc_id = rpruned.doc_id)
       |SELECT q_id,
       |  CAST(count(rank_full) AS BIGINT) AS n_full,
       |  CAST(count(rank_pruned) AS BIGINT) AS n_pruned,
       |  CAST(count(CASE WHEN rank_full IS NOT NULL
       |                   AND rank_pruned IS NOT NULL THEN 1 END) AS BIGINT)
       |    AS n_common,
       |  CAST(count(CASE WHEN rank_full <> rank_pruned THEN 1 END) AS BIGINT)
       |    AS n_rank_changed,
       |  CAST(coalesce(sum(abs(rank_full - rank_pruned)), 0) AS BIGINT)
       |    AS sum_abs_drift,
       |  CAST(count(CASE WHEN rank_full <= $k AND rank_pruned <= $k THEN 1 END)
       |       AS BIGINT) AS topk_stable,
       |  mass.pruned_mass_pm
       |FROM j, mass GROUP BY q_id, mass.pruned_mass_pm ORDER BY q_id""".stripMargin
  }

  /** Reciprocal-rank-fusion hybrid retrieval: the BM25 lexical top-k and
    * the exact-cosine semantic top-k ([[VectorOps.knn]], embeddings joined
    * on the doc_id = vec_id contract) fused per query with
    * rrf(d) = Σ_lists 10⁶ div (k0 + rank_list(d)) — pure integer
    * arithmetic, no cross-engine float at all. The standard k0 = 60
    * (Cormack et al.) keeps tail ranks meaningful; `src` tags whether a
    * fused doc came from one list or both, which is the diagnostic a
    * hybrid deployment actually monitors (lex-only vs sem-only drift).
    *
    * Scale shape: both lists are per-query top-k relations (tiny); the
    * fusion is a full-outer join on (q_id, doc_id) over |queries| × k
    * rows — negligible against either search. The searches themselves
    * carry their own documented postures.
    */
  def hybridRrf(spark: SparkSession, dir: String, nQueries: Int = 10,
                k: Int = 10, k0: Int = 60, maxDfFrac: Double = 0.9): DataFrame = {
    val lex = bm25(spark, dir, probeMax = nQueries, k = k,
        maxDfFrac = maxDfFrac)
      .select(col("q_id"), col("doc_id"), col("rank").as("rank_lex"))
    val sem = VectorOps.knn(spark, dir, nQueries, k)
      .select(col("q_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("rank_sem"))
    val fused = lex.join(sem, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf_ppm",
        coalesce(expr(s"1000000L div ($k0 + rank_lex)"), lit(0L)) +
          coalesce(expr(s"1000000L div ($k0 + rank_sem)"), lit(0L)))
      .withColumn("src",
        when(col("rank_lex").isNotNull && col("rank_sem").isNotNull, "both")
          .when(col("rank_lex").isNotNull, "lex").otherwise("sem"))
    Exprs.keepTop(fused, Seq(col("q_id")), Seq(col("rrf_ppm").desc, col("doc_id")), k, "rank")
      .select(col("q_id"), col("rank"), col("doc_id"), col("rrf_ppm"), col("src"))
      .orderBy(col("q_id"), col("rank"))
  }

  def hybridRrfSql(nQueries: Int = 10, k: Int = 10, k0: Int = 60,
                   maxDfFrac: Double = 0.9): String =
    s"""WITH lex AS (
       |  SELECT q_id, doc_id, rank AS rank_lex FROM (
       |    ${bm25Sql(probeMax = nQueries, k = k, maxDfFrac = maxDfFrac)})),
       |sem AS (
       |  SELECT q_id, neighbor_id AS doc_id, rank AS rank_sem FROM (
       |    ${VectorOps.knnSql(nQueries, k)})),
       |fused AS (
       |  SELECT coalesce(lex.q_id, sem.q_id) AS q_id,
       |    coalesce(lex.doc_id, sem.doc_id) AS doc_id,
       |    coalesce(1000000 // ($k0 + rank_lex), 0)
       |      + coalesce(1000000 // ($k0 + rank_sem), 0) AS rrf_ppm,
       |    CASE WHEN rank_lex IS NOT NULL AND rank_sem IS NOT NULL THEN 'both'
       |         WHEN rank_lex IS NOT NULL THEN 'lex' ELSE 'sem' END AS src
       |  FROM lex FULL OUTER JOIN sem
       |    ON lex.q_id = sem.q_id AND lex.doc_id = sem.doc_id)
       |SELECT q_id, rank, doc_id, CAST(rrf_ppm AS BIGINT) AS rrf_ppm, src FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (
       |    PARTITION BY q_id ORDER BY rrf_ppm DESC, doc_id) AS INT) AS rank
       |  FROM fused)
       |WHERE rank <= $k
       |ORDER BY q_id, rank""".stripMargin
}
