package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Exprs, Tables}

/** Corpus-composition operators for a training-data pipeline: shard packing
  * by token budget, source-mixture rebalancing, per-language quality tiers,
  * and embedding-cosine semantic dedup of documents.
  *
  * Like the rest of the text/vector suite these are built only from
  * codegen'd Spark built-ins plus the shared [[Exprs.hex60]] hash, and every
  * operator has an exact ANSI-SQL mirror so the driver's DuckDB differential
  * oracle can hash-compare results. Selection decisions use INTEGER
  * comparisons (hash-vs-threshold, rational cross-multiplication), never
  * pow/ln/round — the established cross-engine parity rule.
  */
object MixOps {

  // ---- shard packing by token budget (distributed prefix sum) ----

  /** Assign each document to a training shard of ~`budget` whitespace
    * tokens, walking a deterministic global order (salted hash, then
    * doc_id). The naive formulation — one cumulative-sum window over the
    * whole corpus — degenerates to a SINGLE partition at scale, so this is
    * the two-pass distributed prefix sum instead:
    *
    *   1. bucket each doc by hash prefix (`bucket = h % buckets`); the
    *      global order is (bucket, h, doc_id), so a bucket is a contiguous
    *      range of the walk;
    *   2. per-bucket token totals (tiny: `buckets` rows) → running offsets
    *      via a window over that TINY relation (the only unpartitioned
    *      window, bounded by `buckets`, never by data size);
    *   3. cumulative sum WITHIN each bucket (parallel window, `buckets`-way)
    *      plus the broadcast bucket offset = the global prefix sum;
    *   4. `shard_id = tokens_before DIV budget`.
    *
    * At 100 TB: `buckets` sized so one bucket's docs fit an executor
    * (e.g. 10k buckets), the offsets relation stays driver-trivial, and no
    * stage ever sees the corpus in one partition.
    */
  /** The shared distributed prefix sum: given (doc_id, tok, …), walk the
    * deterministic global order (salted hash, then doc_id) and emit each
    * row's running token offset `off` — per-bucket cumulative windows run
    * `buckets`-way parallel, the only unpartitioned window is over the
    * `buckets`-row totals relation, offsets come back as a broadcast join.
    * The engine under [[shardPack]], [[packChunks]] and [[corpusBuild]].
    */
  private[graft] def walkOffsets(d0: DataFrame, buckets: Int): DataFrame = {
    val d = d0
      .withColumn("h", Exprs.hex60(concat(lit("sp:"), col("doc_id").cast("string"))))
      .withColumn("bucket", pmod(col("h"), lit(buckets)))
    val totals = d.groupBy("bucket").agg(sum("tok").as("btok"))
    // window over `buckets` rows — bounded by the parameter, not the data
    val wOff = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals
      .withColumn("boff", coalesce(sum("btok").over(wOff), lit(0L)))
      .select("bucket", "boff")
    val wIn = Window.partitionBy("bucket").orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    d.withColumn("cum_in", coalesce(sum("tok").over(wIn), lit(0L)))
      .join(broadcast(offsets), Seq("bucket"))
      .withColumn("off", col("boff") + col("cum_in"))
  }

  def shardPack(spark: SparkSession, dir: String, buckets: Int = 8,
                budget: Long = 2000L): DataFrame = {
    val d = TextOps.prepared(spark, dir).select(
      col("doc_id"), size(col("words")).cast("long").as("tok"))
    // `div` = exact integer division on BIGINT, mirroring DuckDB `//`
    walkOffsets(d, buckets)
      .withColumn("shard_id", expr(s"off div ${budget}L"))
      .select(col("doc_id"), col("tok").cast("int").as("tok"), col("shard_id"))
      .orderBy("doc_id")
  }

  /** Oracle: the same walk as ONE global window — semantically identical,
    * quadratically simpler to state, and fine at oracle scale.
    */
  def shardPackSql(buckets: Int = 8, budget: Long = 2000L): String =
    s"""WITH d AS (
       |  SELECT doc_id, CAST(len(words) AS BIGINT) AS tok,
       |         ${Exprs.hex60Sql("'sp:' || doc_id::VARCHAR")} AS h
       |  FROM (${TextOps.preparedSql})),
       |k AS (SELECT *, h % $buckets AS bucket FROM d)
       |SELECT doc_id, CAST(tok AS INT) AS tok,
       |  CAST(COALESCE(SUM(tok) OVER (ORDER BY bucket, h, doc_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |       // $budget AS BIGINT) AS shard_id
       |FROM k ORDER BY doc_id""".stripMargin

  /** Doc → fixed-length training-sequence index map: concatenate the corpus
    * in a deterministic pseudo-random order (the [[shardPack]] bucket walk)
    * and cut it into `seqLen`-token chunks; emit each document's global
    * token offset and the chunk span it lands in. This is the
    * concat-and-chunk step that turns a curated corpus into pretraining
    * sequences — the map a dataloader uses to find which documents feed
    * sequence k, and the packing analytics (how many docs straddle a chunk
    * boundary) come straight off it.
    *
    * Scale shape: identical to [[shardPack]] — per-bucket cumulative
    * windows run `buckets`-way parallel, the only unpartitioned window is
    * over the `buckets`-row totals relation, offsets come back as a
    * broadcast join, and the chunk arithmetic is row-local integer
    * division. No global sort of the corpus at any width.
    */
  def packChunks(spark: SparkSession, dir: String, buckets: Int = 8,
                 seqLen: Long = 512L): DataFrame = {
    val d = TextOps.prepared(spark, dir).select(
      col("doc_id"), size(col("words")).cast("long").as("tok"))
    walkOffsets(d, buckets)
      // tok ≥ 1 always (split of a non-empty norm), so off+tok-1 is the
      // doc's LAST token position and the span is inclusive on both ends
      .withColumn("first_chunk", expr(s"off div ${seqLen}L"))
      .withColumn("last_chunk", expr(s"(off + tok - 1) div ${seqLen}L"))
      .select(col("doc_id"), col("tok").cast("int").as("tok"), col("off"),
        col("first_chunk"), col("last_chunk"),
        (col("last_chunk") - col("first_chunk") + 1).cast("int").as("n_chunks"))
      .orderBy("doc_id")
  }

  /** Oracle: the identical walk as ONE global window (see [[shardPackSql]]). */
  def packChunksSql(buckets: Int = 8, seqLen: Long = 512L): String =
    s"""WITH d AS (
       |  SELECT doc_id, CAST(len(words) AS BIGINT) AS tok,
       |         ${Exprs.hex60Sql("'sp:' || doc_id::VARCHAR")} AS h
       |  FROM (${TextOps.preparedSql})),
       |k AS (SELECT *, h % $buckets AS bucket FROM d),
       |o AS (
       |  SELECT doc_id, tok,
       |    COALESCE(SUM(tok) OVER (ORDER BY bucket, h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
       |  FROM k)
       |SELECT doc_id, CAST(tok AS INT) AS tok, CAST(off AS BIGINT) AS off,
       |  CAST(off // $seqLen AS BIGINT) AS first_chunk,
       |  CAST((off + tok - 1) // $seqLen AS BIGINT) AS last_chunk,
       |  CAST((off + tok - 1) // $seqLen - off // $seqLen + 1 AS INT) AS n_chunks
       |FROM o ORDER BY doc_id""".stripMargin

  // ---- curriculum-ordered packing ----

  /** Curriculum-ordered shard packing — the anneal-phase data ordering a
    * pretraining run consumes: the walk visits documents in quality-PHASE
    * order (phase 0 = `low` bucket, 1 = `medium`, 2 = `high`, each phase
    * internally hash-shuffled), so early shards carry the bulk data and the
    * FINAL shards are the highest-quality anneal set — the
    * "save the best data for the learning-rate anneal" schedule, as a
    * deterministic manifest. Quality phase is the row-local
    * [[TextOps.qualityBucketE]] (the ONE score definition `d_quality` /
    * `d_curate` / DocStream use), so the schedule can never disagree with
    * the curation tier about what "high quality" means.
    *
    * Scale shape: identical to [[shardPack]]'s two-pass distributed prefix
    * sum, with (phase, bucket) totals — the only unpartitioned window runs
    * over 3 × `buckets` rows (parameter-bounded, never data-bounded);
    * per-(phase, bucket) cumulative windows run parallel; offsets return
    * as a broadcast join; shard assignment is row-local integer division.
    */
  def curriculumPack(spark: SparkSession, dir: String, buckets: Int = 8,
                     budget: Long = 2000L): DataFrame = {
    val d = TextOps.prepared(spark, dir).select(
      col("doc_id"), size(col("words")).cast("long").as("tok"),
      when(TextOps.qualityBucketE === "low", 0)
        .when(TextOps.qualityBucketE === "medium", 1)
        .otherwise(2).as("phase"))
      .withColumn("h", Exprs.hex60(concat(lit("cu:"), col("doc_id").cast("string"))))
      .withColumn("bucket", pmod(col("h"), lit(buckets)))
    val totals = d.groupBy("phase", "bucket").agg(sum("tok").as("btok"))
    // window over 3 × buckets rows — bounded by parameters, not the data
    val wOff = Window.orderBy("phase", "bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals
      .withColumn("boff", coalesce(sum("btok").over(wOff), lit(0L)))
      .select("phase", "bucket", "boff")
    val wIn = Window.partitionBy("phase", "bucket").orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    d.withColumn("cum_in", coalesce(sum("tok").over(wIn), lit(0L)))
      .join(broadcast(offsets), Seq("phase", "bucket"))
      .withColumn("off", col("boff") + col("cum_in"))
      .select(col("doc_id"), col("phase"), col("tok").cast("int").as("tok"),
        col("off"), expr(s"off div ${budget}L").as("shard_id"))
      .orderBy("doc_id")
  }

  /** Oracle: the same walk as ONE global window over (phase, bucket, h,
    * doc_id) — semantically identical, fine at oracle scale.
    */
  def curriculumPackSql(buckets: Int = 8, budget: Long = 2000L): String =
    s"""WITH q AS (
       |  SELECT doc_id, quality_bucket FROM (${TextOps.qualitySql})),
       |d AS (
       |  SELECT p.doc_id, CAST(len(p.words) AS BIGINT) AS tok,
       |    CASE q.quality_bucket WHEN 'low' THEN 0
       |         WHEN 'medium' THEN 1 ELSE 2 END AS phase,
       |    ${Exprs.hex60Sql("'cu:' || p.doc_id::VARCHAR")} AS h
       |  FROM (${TextOps.preparedSql}) p JOIN q ON q.doc_id = p.doc_id),
       |k AS (SELECT *, h % $buckets AS bucket FROM d)
       |SELECT doc_id, phase, CAST(tok AS INT) AS tok,
       |  CAST(COALESCE(SUM(tok) OVER (ORDER BY phase, bucket, h, doc_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off,
       |  CAST(COALESCE(SUM(tok) OVER (ORDER BY phase, bucket, h, doc_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |       // $budget AS BIGINT) AS shard_id
       |FROM k ORDER BY doc_id""".stripMargin

  // ---- source-mixture rebalancing ----

  /** Per-source target weight: sources carry a numeric suffix in the
    * testdata (`src0`..`srcN`); weight cycles 1..4 so the target mixture is
    * deliberately skewed. A production pipeline would read (source, weight)
    * from a config relation — the shape (broadcast per-source stats, pure
    * row-local keep decision) is the same.
    */
  private def weightE(src: Column): Column =
    pmod(regexp_extract(src, "([0-9]+)", 1).cast("long"), lit(4)) + lit(1L)

  /** Rebalance the corpus toward a weighted target mixture: source `s` with
    * weight `w_s` should contribute `total * w_s / sum(w)` documents, so
    * each of its docs is kept with probability
    * `f_s = min(1, (total * w_s / sum(w)) / count_s)`, decided by the
    * salted integer hash. The keep predicate is the cross-multiplied
    * rational form
    *
    *   (h % mod) * sum(w) * count_s  <  mod * total * w_s
    *
    * — pure BIGINT comparison, no division, no floats, so re-runs and the
    * DuckDB oracle reproduce the exact selection (and `f_s >= 1` needs no
    * special case: the left side is always < mod * sum(w) * count_s).
    *
    * Scale shape: one tiny groupBy over sources (broadcast back), then a
    * row-local predicate on the corpus scan — zero shuffle of the big side.
    */
  def mixRebalance(spark: SparkSession, dir: String, mod: Int = 1000): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val stats = d.groupBy("source").agg(count(lit(1)).as("cnt"))
      .withColumn("w", weightE(col("source")))
    val tot = stats.agg(sum("cnt").as("total"), sum("w").as("sumw"))
    d.join(broadcast(stats), Seq("source"))
      .crossJoin(broadcast(tot))
      .filter(pmod(Exprs.hex60(concat(lit("mx:"), col("doc_id").cast("string"))), lit(mod))
        * col("sumw") * col("cnt") < lit(mod) * col("total") * col("w"))
      .select(col("doc_id"), col("source"), col("w").cast("int").as("w"))
      .orderBy("doc_id")
  }

  def mixRebalanceSql(mod: Int = 1000): String =
    s"""WITH d AS (SELECT doc_id, source FROM documents),
       |stats AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS cnt,
       |         (regexp_extract(source, '([0-9]+)', 1)::BIGINT % 4) + 1 AS w
       |  FROM d GROUP BY source),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
       |               CAST(sum(w) AS BIGINT) AS sumw FROM stats)
       |SELECT doc_id, source, CAST(w AS INT) AS w
       |FROM d JOIN stats USING (source) CROSS JOIN tot
       |WHERE (${Exprs.hex60Sql("'mx:' || doc_id::VARCHAR")} % $mod) * sumw * cnt
       |      < $mod * total * w
       |ORDER BY doc_id""".stripMargin

  // ---- per-language quality tiers (CCNet-style head/middle/tail) ----

  /** Rank documents within each language by the shared quality score and
    * cut into thirds — the CCNet head/middle/tail partitioning. Tier
    * boundaries use integer cross-multiplication (`rnk * 3 <= n`), not a
    * percent float.
    *
    * SKEW: a per-language `row_number` window puts an entire language on
    * ONE reducer, and AQE cannot split a window partition (skew handling
    * applies to joins only) — with one dominant language that single task
    * IS the job at 100 TB. So the global per-language rank is computed by
    * RANGE partitioning instead:
    *
    *   1. `repartitionByRange` on (lang, quality_score desc, doc_id) — the
    *      rank's own total order, so each range partition holds a
    *      contiguous slice of it and a hot language spans MANY partitions;
    *   2. per-(partition, lang) counts — tiny (`rangeParts × |langs|`
    *      rows, the only driver collect, bounded by parameters not data) —
    *      prefix-summed into the offset each slice starts at;
    *   3. a local `row_number` window keyed by (partition-id, lang) — every
    *      window partition is bounded by a range slice, never a language —
    *      plus the broadcast offset = the exact global rank.
    *
    * Output is row-identical to the single-window formulation (the spec
    * asserts it on a 90%-one-language fixture): ranks derive from the same
    * total order, only the partitioning differs. A local checkpoint pins the ranged
    * relation (consumed by both the counts pass and the rank pass).
    */
  def qualityTiers(spark: SparkSession, dir: String, rangeParts: Int = 32): DataFrame =
    qualityTiersOf(spark,
      TextOps.prepared(spark, dir).select(
        col("doc_id"), col("lang"), TextOps.qualityScoreE.as("quality_score")),
      rangeParts)

  /** [[qualityTiers]] over an arbitrary (doc_id, lang, quality_score)
    * relation — the same range-partitioned rank machinery, reusable on a
    * corpus subset (the frozen-base tier computation of [[manifestIncr]]).
    */
  private[graft] def qualityTiersOf(spark: SparkSession, base: DataFrame,
                                    rangeParts: Int = 32): DataFrame = {
    import spark.implicits._
    val ranged = graft.Materialize(base
      .repartitionByRange(rangeParts, col("lang"), col("quality_score").desc, col("doc_id"))
      .withColumn("pid", spark_partition_id()))
    // bounded collect: rangeParts × |langs| rows — partition-slice counts,
    // never data. Range order == rank order, so offsets are prefix sums
    // over ascending pid within each lang.
    val slices = ranged.groupBy("pid", "lang").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    val offsets = slices.groupBy(_._2).toSeq.flatMap { case (lang, rows) =>
      val byPid = rows.sortBy(_._1)
      val nLang = byPid.map(_._3).sum
      var off = 0L
      byPid.map { case (pid, _, cnt) => val o = off; off += cnt; (pid, lang, o, nLang) }
    }
    val offDf = broadcast(offsets.toDF("pid", "lang", "off", "n_lang_l"))
    val wLocal = Window.partitionBy("pid", "lang")
      .orderBy(col("quality_score").desc, col("doc_id"))
    ranged
      .withColumn("r_local", row_number().over(wLocal))
      .join(offDf, Seq("pid", "lang"))
      .withColumn("rnk", (col("r_local") + col("off")).cast("int"))
      .withColumn("n_lang", col("n_lang_l").cast("int"))
      .withColumn("tier",
        when(col("rnk") * 3 <= col("n_lang"), "head")
          .when(col("rnk") * 3 <= col("n_lang") * 2, "middle")
          .otherwise("tail"))
      .select(col("doc_id"), col("lang"), col("n_lang"), col("rnk"),
        col("quality_score"), col("tier"))
      .orderBy("doc_id")
  }

  /** The single-window formulation — the reference implementation the
    * skewed-fixture identity spec checks [[qualityTiers]] against. NOT the
    * production path: one hot language = one reducer.
    */
  private[graft] def qualityTiersWindowed(spark: SparkSession, dir: String): DataFrame = {
    val base = TextOps.prepared(spark, dir).select(
      col("doc_id"), col("lang"), TextOps.qualityScoreE.as("quality_score"))
    val part = Window.partitionBy("lang")
    val w = part.orderBy(col("quality_score").desc, col("doc_id"))
    base
      .withColumn("rnk", row_number().over(w))
      .withColumn("n_lang", count(lit(1)).over(part).cast("int"))
      .withColumn("tier",
        when(col("rnk") * 3 <= col("n_lang"), "head")
          .when(col("rnk") * 3 <= col("n_lang") * 2, "middle")
          .otherwise("tail"))
      .select(col("doc_id"), col("lang"), col("n_lang"), col("rnk"),
        col("quality_score"), col("tier"))
      .orderBy("doc_id")
  }

  /** Oracle reuses [[TextOps.qualitySql]] (the ONE score definition) and
    * joins documents back for `lang`. `quality_score` is emitted unrounded
    * on both sides — the double bits match because the arithmetic is
    * identical; `round()` at a representation boundary would not (the
    * d_quality parity rule).
    */
  def qualityTiersSql(): String =
    s"""WITH s AS (
       |  SELECT q.doc_id, d.lang, q.quality_score
       |  FROM (${TextOps.qualitySql}) q
       |  JOIN (SELECT doc_id, lang FROM documents) d ON q.doc_id = d.doc_id),
       |r AS (
       |  SELECT doc_id, lang, quality_score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
       |           ORDER BY quality_score DESC, doc_id) AS INT) AS rnk,
       |    CAST(COUNT(*) OVER (PARTITION BY lang) AS INT) AS n_lang
       |  FROM s)
       |SELECT doc_id, lang, n_lang, rnk, quality_score,
       |  CASE WHEN rnk * 3 <= n_lang THEN 'head'
       |       WHEN rnk * 3 <= n_lang * 2 THEN 'middle' ELSE 'tail' END AS tier
       |FROM r ORDER BY doc_id""".stripMargin

  // ---- exact per-source cap ----

  /** Exact-K cap per source ("at most K documents per domain"): rank each
    * source's docs by a salted hash (uniform order, independent of every
    * other sampler's salt) and keep rank ≤ K — the deterministic
    * reservoir-sample counterpart to [[mixRebalance]]'s probabilistic
    * thresholds, for when the contract is a hard cap, not an expected
    * fraction.
    *
    * SKEW: a per-source window lands a hot source on ONE reducer, and AQE
    * cannot split a window partition. Because only the top-K of a TOTAL
    * order (h, doc_id) survives, the window is two-staged instead:
    * stage 1 spreads each source over `salts` deterministic sub-partitions
    * (hash of row identity — never a nondeterministic salt, the
    * SPARK-23207 rule) and keeps top-K per (source, salt); stage 2 ranks
    * the ≤ `salts × K` survivors per source. Row-identical to the single
    * window: each true global top-K row ranks ≤ K inside its own salt
    * bucket (a sub-order of the total order), so stage 1 never drops it,
    * and every row preceding it also survives, so its stage-2 rank IS its
    * global rank. Hot-source parallelism ×`salts`; stage-2 partitions are
    * bounded by `salts × K` rows, never by the data.
    */
  def capPerSource(spark: SparkSession, dir: String, k: Int = 15,
                   salts: Int = 8): DataFrame = {
    require(salts >= 1, s"salts must be >= 1, got $salts")
    val h = Exprs.hex60(concat(lit("cap:"), col("doc_id").cast("string")))
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      .withColumn("h", h)
    saltedTop(base, lit(k), salts)
      .select(col("doc_id"), col("source"), col("rnk"))
      .orderBy("doc_id")
  }

  def capPerSourceSql(k: Int = 15): String =
    s"""SELECT doc_id, source, rnk FROM (
       |  SELECT doc_id, source,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY ${Exprs.hex60Sql("'cap:' || doc_id::VARCHAR")}, doc_id) AS INT) AS rnk
       |  FROM documents)
       |WHERE rnk <= $k ORDER BY doc_id""".stripMargin

  // ---- temperature-flattened source mix ----

  /** Temperature-flattened source sampling — the multilingual training
    * recipe "sample source s ∝ n_s^α" at α = 1/2: per-source targets are
    * the rational split of `budget` by weight `isqrt(n_s)` (head sources
    * flatten, tail sources gain share vs proportional sampling), then each
    * source keeps its salted-hash top-`target` — the deterministic
    * counterpart of temperature sampling a data loader applies at read
    * time, pushed into the corpus build where it belongs at 100 TB.
    *
    * Cross-engine parity: `floor(sqrt(n))` of an exact integer count is
    * identical on both engines (IEEE sqrt is correctly rounded, counts
    * ≪ 2^52), and the budget split is integer math (`(budget*w) DIV W`).
    * Targets below 1 stay 0 — temperature sampling reweights, it does not
    * promise coverage (that's [[coresetSample]]'s floor).
    *
    * SKEW: same two-stage window as [[capPerSource]] (hash-salted
    * sub-partitions, top-target per bucket, re-rank survivors) — a hot
    * source never serializes onto one reducer; stage-2 partitions are
    * bounded by `salts × target ≤ salts × budget`, never by data.
    */
  def mixTemperature(spark: SparkSession, dir: String, budget: Long = 300,
                     salts: Int = 8): DataFrame =
    temperatureSelect(
      Tables.documents(spark, dir).select(col("doc_id"), col("source")),
      budget, salts)
      .orderBy("doc_id")

  /** The relation-level core of [[mixTemperature]]: the same α=½ flattened
    * selection over ANY (doc_id, source) relation — the [[corpusBuild]]
    * integration point, where the flattening runs over the deduped/
    * decontaminated survivor set rather than the raw table (sampling a
    * corpus you then dedup re-skews the mix; dedup-then-sample is the
    * order a production build wants).
    */
  private[graft] def temperatureSelect(docs: DataFrame, budget: Long,
                                       salts: Int = 8): DataFrame = {
    require(salts >= 1, s"salts must be >= 1, got $salts")
    val counts = docs.groupBy("source")
      .agg(count(lit(1)).as("n_src"))
      .withColumn("w", floor(sqrt(col("n_src").cast("double"))).cast("long"))
    val totalW = counts.agg(sum("w").as("w_total"))
    val targets = broadcast(counts.crossJoin(broadcast(totalW))
      .withColumn("target",
        least(col("n_src"), expr(s"($budget * w) DIV w_total")))
      .select(col("source"), col("n_src"), col("target")))
    val h = Exprs.hex60(concat(lit("temp:"), col("doc_id").cast("string")))
    val base = docs.select(col("doc_id"), col("source"))
      .withColumn("h", h).join(targets, Seq("source"))
    saltedTop(base, col("target"), salts)
      .select(col("doc_id"), col("source"), col("rnk"), col("target"), col("n_src"))
  }

  /** Per-source top `bound` rows by (h, doc_id) as `rnk`, through the
    * two-stage salted cut [[capPerSource]] describes (`salts` = 1: one
    * per-source window).
    */
  private def saltedTop(base: DataFrame, bound: Column, salts: Int): DataFrame = {
    val order = Seq(col("h"), col("doc_id"))
    val pre =
      if (salts == 1) base
      else Exprs.keepTop(base.withColumn("graft_salt", pmod(hash(col("doc_id")), lit(salts))),
          Seq(col("source"), col("graft_salt")), order, bound, "r1")
        .drop("graft_salt", "r1")
    Exprs.keepTop(pre, Seq(col("source")), order, bound, "rnk")
  }

  def mixTemperatureSql(budget: Long = 300): String =
    s"""WITH c AS (
       |  SELECT source, COUNT(*) AS n_src,
       |    CAST(floor(sqrt(COUNT(*))) AS BIGINT) AS w
       |  FROM documents GROUP BY source),
       |t AS (
       |  SELECT source, n_src,
       |    CAST(least(n_src, ($budget * w) // (SELECT sum(w) FROM c)) AS BIGINT) AS target
       |  FROM c),
       |r AS (
       |  SELECT doc_id, source,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY ${Exprs.hex60Sql("'temp:' || doc_id::VARCHAR")}, doc_id) AS INT) AS rnk
       |  FROM documents)
       |SELECT r.doc_id, r.source, r.rnk, t.target, t.n_src
       |FROM r JOIN t ON r.source = t.source
       |WHERE r.rnk <= t.target
       |ORDER BY r.doc_id""".stripMargin

  // ---- epoch upsampling by quality tier ----

  /** The complement of [[mixRebalance]]'s downsampling: repeat documents by
    * quality tier (head×3, middle×2, tail×1 by default) — the "high-quality
    * data for multiple epochs" training recipe. Emitted as explicit
    * (doc_id, copy_idx) rows so downstream shuffles spread the copies;
    * at 100 TB the explode multiplies rows AFTER the tier shuffle, adding
    * no exchange of its own.
    */
  def epochUpsample(spark: SparkSession, dir: String, head: Int = 3,
                    middle: Int = 2, tail: Int = 1): DataFrame = {
    val epochs = when(col("tier") === "head", head)
      .when(col("tier") === "middle", middle).otherwise(tail)
    qualityTiers(spark, dir)
      .withColumn("n_epochs", epochs)
      .withColumn("copy_idx", explode(sequence(lit(1), col("n_epochs"))))
      .select(col("doc_id"), col("lang"), col("tier"), col("n_epochs"),
        col("copy_idx"))
      .orderBy("doc_id", "copy_idx")
  }

  def epochUpsampleSql(head: Int = 3, middle: Int = 2, tail: Int = 1): String =
    s"""WITH t AS (${qualityTiersSql()}),
       |e AS (
       |  SELECT doc_id, lang, tier,
       |    CASE tier WHEN 'head' THEN $head
       |              WHEN 'middle' THEN $middle ELSE $tail END AS n_epochs
       |  FROM t)
       |SELECT doc_id, lang, tier, CAST(n_epochs AS INT) AS n_epochs,
       |  CAST(c AS INT) AS copy_idx
       |FROM e CROSS JOIN unnest(range(1, n_epochs + 1)) AS u(c)
       |ORDER BY doc_id, copy_idx""".stripMargin

  // ---- embedding-cosine semantic dedup of documents ----

  /** Semantic dedup: a document is dropped when a SMALLER-id document in
    * the same sign-LSH bucket has cosine similarity ≥ `threshold` with it
    * (documents join their embeddings 1:1 on `doc_id = vec_id`). Output is
    * the drop list with the smallest such representative — the per-doc
    * decision a `filter`-style curation step would consume.
    *
    * Scale shape: same as [[VectorOps.nearDupLsh]] — bucket equi-join, no
    * all-pairs; the keep-smallest rule needs only a `min` per dropped doc
    * (one hash agg), not connected components, because "near-dup of
    * ANY smaller id" is already a deterministic decision.
    */
  def semanticDedup(spark: SparkSession, dir: String, threshold: Double = 0.4,
                    bits: Int = 4): DataFrame = {
    val pairs = VectorOps.nearDupLsh(spark, dir, threshold, bits)
    val dropped = pairs.groupBy(col("id_b").as("doc_id"))
      .agg(min(col("id_a")).as("dup_of"))
    dropped.join(Tables.documents(spark, dir).select("doc_id", "source"), Seq("doc_id"))
      .select(col("doc_id"), col("dup_of"), col("source"))
      .orderBy("doc_id")
  }

  /** Cluster-stratified coreset sample — diversity-preserving corpus
    * subsetting: assign every document to its embedding's IVF cell
    * (doc_id = vec_id, the 1:1 contract [[semanticDedup]] uses), then keep
    * a deterministic `fracPct`% from EACH cell, with a coverage floor of
    * one document per non-empty cell. Uniform sampling ([[TextOps]]
    * `d_sample`) preserves the corpus's mode; stratifying by embedding
    * cell preserves its SUPPORT — rare semantic regions survive a 10%
    * cut, which is what a curation pipeline wants from a "diverse subset"
    * stage.
    *
    * Determinism/parity: selection ranks by the salted [[Exprs.hex60]]
    * hash and the quota is integer math (`(n*fracPct + 99) DIV 100` =
    * ceil without touching doubles) — exactly reproducible in the DuckDB
    * oracle. Scale shape: one shuffle on `centroid_id`; both window
    * functions (rank, cell size) share that partitioning, and cell count
    * scales with `kCentroids`, not corpus size — no global window.
    */
  def coresetSample(spark: SparkSession, dir: String, fracPct: Int = 10,
                    kCentroids: Int = 16): DataFrame = {
    val assign = VectorOps.ivfAssign(spark, dir, kCentroids)
      .select(col("vec_id").as("doc_id"), col("centroid_id"))
    val docs = Tables.documents(spark, dir).select("doc_id", "source")
      .join(assign, Seq("doc_id"))
    val cell = Window.partitionBy("centroid_id")
    val byHash = cell.orderBy(
      Exprs.hex60(concat(lit("cs:"), col("doc_id").cast("string"))), col("doc_id"))
    docs
      .withColumn("pick", row_number().over(byHash))
      .withColumn("cluster_n", count(lit(1)).over(cell))
      .filter(col("pick") <=
        greatest(lit(1L), expr(s"(cluster_n * $fracPct + 99) DIV 100")))
      .select(col("doc_id"), col("source"), col("centroid_id"),
        col("pick"), col("cluster_n"))
      .orderBy("doc_id")
  }

  /** [[coresetSample]] with the pick ORDER upgraded from hash-uniform to
    * CENTRALITY-ranked ([[VectorOps.graphRank]] over the mutual-kNN
    * graph): same per-cell quota and coverage floor, but each cell
    * contributes its most REPRESENTATIVE members (highest kNN-graph
    * centrality, vec_id tie-break) instead of a uniform sample — the
    * graph-based coreset recipe (central members summarize their
    * neighborhood; the uniform variant stays as the unbiased baseline,
    * and the shared quota rule makes the two directly comparable). Exact
    * integer scores → deterministic ranking on both engines.
    */
  def coresetCentral(spark: SparkSession, dir: String, fracPct: Int = 10,
                     kCentroids: Int = 16): DataFrame = {
    val assign = VectorOps.ivfAssign(spark, dir, kCentroids)
      .select(col("vec_id").as("doc_id"), col("centroid_id"))
    val rank = VectorOps.graphRank(spark, dir, kCentroids = kCentroids)
      .select(col("vec_id").as("doc_id"), col("score"))
    val docs = Tables.documents(spark, dir).select("doc_id", "source")
      .join(assign, Seq("doc_id")).join(rank, Seq("doc_id"))
    val cell = Window.partitionBy("centroid_id")
    val byRank = cell.orderBy(col("score").desc, col("doc_id"))
    docs
      .withColumn("pick", row_number().over(byRank))
      .withColumn("cluster_n", count(lit(1)).over(cell))
      .filter(col("pick") <=
        greatest(lit(1L), expr(s"(cluster_n * $fracPct + 99) DIV 100")))
      .select(col("doc_id"), col("source"), col("centroid_id"),
        col("pick"), col("cluster_n"), col("score"))
      .orderBy("doc_id")
  }

  def coresetCentralSql(fracPct: Int = 10, kCentroids: Int = 16): String =
    s"""WITH assign0 AS (${VectorOps.ivfAssignSql(kCentroids)}),
       |rank0 AS (${VectorOps.graphRankSql(kCentroids = kCentroids)}),
       |d AS (SELECT doc_id, source, centroid_id, score
       |      FROM documents
       |      JOIN assign0 ON doc_id = assign0.vec_id
       |      JOIN rank0 ON doc_id = rank0.vec_id),
       |ranked AS (
       |  SELECT *,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY centroid_id
       |      ORDER BY score DESC, doc_id) AS INT) AS pick,
       |    COUNT(*) OVER (PARTITION BY centroid_id) AS cluster_n
       |  FROM d)
       |SELECT doc_id, source, centroid_id, pick, cluster_n, CAST(score AS BIGINT) AS score
       |FROM ranked
       |WHERE pick <= greatest(1, (cluster_n * $fracPct + 99) // 100)
       |ORDER BY doc_id""".stripMargin

  def coresetSampleSql(fracPct: Int = 10, kCentroids: Int = 16): String =
    s"""WITH e0 AS (${VectorOps.preparedSql}),
       |c AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn FROM e0 WHERE vec_id < $kCentroids),
       |assign AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT e0.vec_id, c.centroid_id, ROW_NUMBER() OVER (
       |      PARTITION BY e0.vec_id
       |      ORDER BY list_dot_product(e0.v, c.cv) / (e0.nrm * c.cn) DESC, c.centroid_id) AS rn
       |    FROM e0, c)
       |  WHERE rn = 1),
       |d AS (SELECT doc_id, source, centroid_id
       |      FROM documents JOIN assign ON doc_id = vec_id),
       |ranked AS (
       |  SELECT *,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY centroid_id
       |      ORDER BY ${Exprs.hex60Sql("'cs:' || doc_id::VARCHAR")}, doc_id) AS INT) AS pick,
       |    COUNT(*) OVER (PARTITION BY centroid_id) AS cluster_n
       |  FROM d)
       |SELECT doc_id, source, centroid_id, pick, cluster_n
       |FROM ranked
       |WHERE pick <= greatest(1, (cluster_n * $fracPct + 99) // 100)
       |ORDER BY doc_id""".stripMargin

  def semanticDedupSql(threshold: Double = 0.4, bits: Int = 4): String =
    s"""WITH pairs AS (${VectorOps.nearDupLshSql(threshold, bits)}),
       |dropped AS (
       |  SELECT id_b AS doc_id, CAST(min(id_a) AS BIGINT) AS dup_of
       |  FROM pairs GROUP BY id_b)
       |SELECT doc_id, dup_of, source
       |FROM dropped JOIN documents USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---- end-to-end corpus build: the artifact a training-data team ships ----

  /** The COMPOSED pipeline, one relation: curate (lang/quality/exact-dup/
    * benchmark/contamination/sampling gates) minus embedding-cosine
    * near-duplicates ∩ mixture-rebalance keeps, with per-doc quality tier
    * attached,
    * contaminated spans STRIPPED from the surviving text (token counts are
    * post-decontam), and every survivor placed in a token-budgeted shard
    * by the [[shardPack]] walk. Each stage is the already-oracle-checked
    * operator — this operator is their composition plus the shard
    * placement, the thing `RunDocPipeline` writes to disk.
    *
    * Scale shape: the stage outputs join on doc_id (co-partitioned hash
    * joins; every stage output is narrow), the walk is the bucketed prefix
    * sum, and nothing windows the corpus in one partition. Docs the
    * decontam pass doesn't cover (< 3 words — too short for a shingle)
    * pass through with their raw text/counts.
    */
  /** `tempBudget`, when set, inserts the [[mixTemperature]] flattening
    * between the dedup/decontam stages and the shard walk — sampling the
    * SURVIVOR set (α=½ per-source targets over post-dedup counts), the
    * stage order a production build runs. None (the default, and what the
    * `d_shard_manifest` oracle checks) packs every survivor.
    */
  def corpusBuild(spark: SparkSession, dir: String, buckets: Int = 8,
                  budget: Long = 500L, tempBudget: Option[Long] = None,
                  tempSalts: Int = 8): DataFrame = {
    val cur = TextOps.curate(spark, dir).filter(col("keep")).select("doc_id")
    // near-dedup = embedding-cosine semantic dedup (exact dedup is already
    // one of curate's gates). NOT the MinHash-CC cluster collapse: on a
    // shared-vocabulary corpus the LSH band graph is near-complete (53k
    // candidate pairs over 500 sf0.01 docs) and one cluster swallows every
    // curated doc — measured: the build degenerated to ONE survivor. The
    // cosine threshold drops true semantic twins and keeps the corpus;
    // both operators stay available standalone, the BUILD composes the one
    // whose selectivity matches a production near-dedup stage.
    val ded = cur.join(
      semanticDedup(spark, dir).select("doc_id"), Seq("doc_id"), "left_anti")
    val mix = mixRebalance(spark, dir).select("doc_id")
    val tiers = qualityTiers(spark, dir).select(col("doc_id"), col("tier"))
    val clean = TextOps.decontamSpans(spark, dir)
      .select(col("doc_id"),
        (col("n_words") - col("n_contam")).as("tok_clean"), col("text_clean"))
    val base = TextOps.prepared(spark, dir).select(
      col("doc_id"), col("source"), col("norm"),
      size(col("words")).cast("long").as("tok_raw"))
    val survivors = base
      .join(ded, "doc_id").join(mix, "doc_id")
      .join(tiers, "doc_id")
      .join(clean, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("tier"),
        coalesce(col("tok_clean"), col("tok_raw")).as("tok"),
        coalesce(col("text_clean"), col("norm")).as("text_out"))
    val mixed = tempBudget.fold(survivors) { tb =>
      survivors.join(
        temperatureSelect(survivors.select(col("doc_id"), col("source")),
          tb, tempSalts).select("doc_id"),
        "doc_id")
    }
    walkOffsets(mixed, buckets)
      .withColumn("shard_id", expr(s"off div ${budget}L"))
      .select(col("doc_id"), col("source"), col("tier"), col("tok"),
        col("shard_id"), col("text_out"))
  }

  /** The manifest relation a consumer trusts the shards by: per shard, doc
    * count, post-decontam token count, tier composition, and an
    * order-independent content checksum (bit_xor of the per-doc text
    * hash). Oracle-checked end to end as `d_shard_manifest` — the SQL
    * recomputes the ENTIRE chain (every gate, the span strip, the walk)
    * and must land on identical manifests, so a drift anywhere in the
    * composition surfaces as a checksum mismatch.
    */
  def shardManifest(spark: SparkSession, dir: String, buckets: Int = 8,
                    budget: Long = 500L,
                    tempBudget: Option[Long] = None): DataFrame =
    corpusBuild(spark, dir, buckets, budget, tempBudget)
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("tok").as("n_tokens"),
        // order-independent content checksum: bit_xor of the per-doc
        // 60-bit text hash (the aggregate form of Exprs.hex60)
        expr("bit_xor(cast(conv(substring(md5(text_out), 1, 15), 16, 10) as bigint))")
          .as("checksum"),
        sum(when(col("tier") === "head", 1L).otherwise(0L)).as("n_head"),
        sum(when(col("tier") === "middle", 1L).otherwise(0L)).as("n_middle"),
        sum(when(col("tier") === "tail", 1L).otherwise(0L)).as("n_tail"))
      .orderBy("shard_id")

  def shardManifestSql(buckets: Int = 8, budget: Long = 500L): String =
    s"""WITH cur AS (SELECT doc_id FROM (${TextOps.curateSql()}) WHERE keep),
       |sdrop AS (SELECT doc_id FROM (${semanticDedupSql()})),
       |ded AS (
       |  SELECT doc_id FROM cur
       |  WHERE NOT EXISTS (SELECT 1 FROM sdrop WHERE sdrop.doc_id = cur.doc_id)),
       |mix AS (SELECT doc_id FROM (${mixRebalanceSql()})),
       |tiers AS (SELECT doc_id, tier FROM (${qualityTiersSql()})),
       |clean AS (SELECT doc_id, n_words - n_contam AS tok_clean, text_clean
       |          FROM (${TextOps.decontamSpansSql()})),
       |base AS (SELECT doc_id, source, norm,
       |                CAST(len(words) AS BIGINT) AS tok_raw
       |         FROM (${TextOps.preparedSql})),
       |s AS (
       |  SELECT base.doc_id, tier,
       |    COALESCE(tok_clean, tok_raw) AS tok,
       |    COALESCE(text_clean, norm) AS text_out,
       |    ${Exprs.hex60Sql("'sp:' || base.doc_id::VARCHAR")} AS h
       |  FROM base JOIN ded USING (doc_id)
       |       JOIN mix USING (doc_id) JOIN tiers USING (doc_id)
       |       LEFT JOIN clean USING (doc_id)),
       |o AS (
       |  SELECT tier, tok, text_out,
       |    COALESCE(SUM(tok) OVER (ORDER BY h % $buckets, h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
       |  FROM s)
       |SELECT CAST(off // $budget AS BIGINT) AS shard_id,
       |  count(*) AS n_docs,
       |  CAST(sum(tok) AS BIGINT) AS n_tokens,
       |  CAST(bit_xor(${Exprs.hex60Sql("text_out")}) AS BIGINT) AS checksum,
       |  CAST(sum(CASE WHEN tier = 'head' THEN 1 ELSE 0 END) AS BIGINT) AS n_head,
       |  CAST(sum(CASE WHEN tier = 'middle' THEN 1 ELSE 0 END) AS BIGINT) AS n_middle,
       |  CAST(sum(CASE WHEN tier = 'tail' THEN 1 ELSE 0 END) AS BIGINT) AS n_tail
       |FROM o GROUP BY 1 ORDER BY shard_id""".stripMargin

  // ---- incremental corpus build: the daily-delta path ----

  /** Incremental corpus-build / manifest maintenance — the text-side analog
    * of `VectorOps.ivfIncrement`: yesterday's corpus (the BASE, docs with
    * `hex60('inc:'||doc_id) % deltaMod != 0`) was built and shipped; today
    * a DELTA arrives (the remaining ~1/deltaMod, salted-hash split so the
    * delta decorrelates from every data column — the testdata's `source`
    * IS a function of `doc_id % 20`, so a bare modulo split would hand the
    * delta only sources the base never saw) and must pass the full gate
    * chain against the base's FROZEN state — never causing a base rebuild:
    *
    *   - exact dedup: delta doc vs the base fingerprint set (any base hash
    *     kills the newcomer regardless of id order — [[TextOps.dedupIncrement]]
    *     semantics) plus min-id first-occurrence within the delta;
    *   - semantic near-dup: a delta doc paired (either direction) with ANY
    *     base doc drops, plus keep-smallest-id within the delta — base
    *     survivors are never re-dropped by a smaller delta id;
    *   - mixture gate: the rational keep predicate evaluated with the
    *     base's frozen per-source stats (a source unseen in the base has no
    *     frozen rate and is dropped — the conservative production default);
    *   - quality tier: frozen score cutoffs (min base score per tier per
    *     lang); a lang unseen in the base tiers to `tail` (null cutoffs);
    *   - contamination / decontam spans: probe set is static (benchmark
    *     docs), so the per-doc relations are split-independent and shared;
    *   - shard walk: delta survivors walk their own bucketed order APPENDED
    *     at the base's total token offset — the open shard fills first,
    *     then new shards; base (doc → shard, off) assignments are untouched
    *     by construction (the spec asserts it).
    *
    * Scale shape: every base relation here is what a production deployment
    * has PERSISTED (fingerprint index, source stats, tier cutoffs, shard
    * tail offset — all tiny or bucketed); the delta pass touches the base
    * only through broadcast-size frozen state and the pair relation, and
    * appending is one prefix sum over the delta. Nothing rewrites a base
    * row, which is the entire point of the operator.
    */
  /** Documents + the per-doc gate columns both incremental chains read. */
  private def incrDocs(spark: SparkSession, dir: String, deltaMod: Int): DataFrame =
    TextOps.prepared(spark, dir)
      .withColumn("pred_lang", TextOps.predLangE)
      .withColumn("quality_bucket", TextOps.qualityBucketE)
      .withColumn("quality_score", TextOps.qualityScoreE)
      .withColumn("hmd5", md5(col("norm").cast("binary")))
      .withColumn("tok_raw", size(col("words")).cast("long"))
      .withColumn("is_delta", Exprs.arrivalSplit(col("doc_id"), deltaMod) === 0)
      .select("doc_id", "lang", "source", "norm", "pred_lang",
        "quality_bucket", "quality_score", "hmd5", "tok_raw", "is_delta")

  // the split-independent curate gates (lang, quality, benchmark,
  // contamination, sampling) — the dedup gate differs per chain
  private def rowGatesF(df: DataFrame, cont: DataFrame, keepLang: String,
                        probeMax: Long, contamMin: Long, sampleMod: Int,
                        sampleKeep: Int): DataFrame =
    df.filter(col("pred_lang") === keepLang &&
        col("quality_bucket") =!= "low" &&
        col("doc_id") >= probeMax &&
        pmod(Exprs.hex60(col("doc_id").cast("string")), lit(sampleMod)) < sampleKeep)
      .join(cont, Seq("doc_id"), "left")
      .filter(coalesce(col("n_shared_shingles"), lit(0L)) < contamMin)

  private def mixGateF(docs: DataFrame, statsB: DataFrame, totB: DataFrame,
                       mixMod: Int): DataFrame = docs.select("doc_id", "source")
    .join(broadcast(statsB), Seq("source"))
    .crossJoin(broadcast(totB))
    .filter(pmod(Exprs.hex60(concat(lit("mx:"), col("doc_id").cast("string"))),
        lit(mixMod)) * col("sumw") * col("cnt")
      < lit(mixMod) * col("total") * col("w"))
    .select("doc_id")

  private def survivorsF(docs: DataFrame, cur: DataFrame, dropped: DataFrame,
                         tiers: DataFrame, clean: DataFrame, statsB: DataFrame,
                         totB: DataFrame, mixMod: Int): DataFrame = docs
    .join(cur, "doc_id")
    .join(dropped, Seq("doc_id"), "left_anti")
    .join(mixGateF(docs, statsB, totB, mixMod), "doc_id")
    .join(tiers.select("doc_id", "tier"), "doc_id")
    .join(clean, Seq("doc_id"), "left")
    .select(col("doc_id"), col("source"), col("tier"),
      coalesce(col("tok_clean"), col("tok_raw")).as("tok"),
      coalesce(col("text_clean"), col("norm")).as("text_out"))

  private def contRel(spark: SparkSession, dir: String, probeMax: Long): DataFrame =
    TextOps.contamination(spark, dir, probeMax)
      .select(col("doc_id"), col("n_shared_shingles"))

  private def cleanRel(spark: SparkSession, dir: String, probeMax: Long): DataFrame =
    TextOps.decontamSpans(spark, dir, probeMax)
      .select(col("doc_id"),
        (col("n_words") - col("n_contam")).as("tok_clean"), col("text_clean"))

  /** Everything the delta pass consumes from yesterday's build. All of it
    * is tiny or narrow — the persistable artifact boundary
    * ([[freezeBaseState]] writes exactly these relations).
    */
  private final case class FrozenBase(
    walkB: DataFrame,      // base assignments (doc_id..shard_id, text_out)
    baseHashes: DataFrame, // (hmd5) — the fingerprint index
    statsB: DataFrame,     // (source, cnt, w) — frozen mix rates
    totB: DataFrame,       // (total, sumw) — 1 row
    cuts: DataFrame,       // (lang, head_cut, mid_cut) — tier cutoffs
    baseTok: DataFrame)    // (base_tok) — 1-row shard high-water mark

  /** Yesterday's build: corpusBuild semantics restricted to the base
    * split, plus the frozen state extraction.
    */
  private def incrBaseState(
      spark: SparkSession, dir: String, buckets: Int, budget: Long,
      deltaMod: Int, keepLang: String, probeMax: Long, contamMin: Long,
      sampleMod: Int, sampleKeep: Int, mixMod: Int): FrozenBase =
    // "Yesterday's build" is one deterministic relation with two in-session
    // consumers (the freeze scaffold and the single-query d_manifest_incr
    // proof) — unmemoized, each re-ran the full base gate chain (measured
    // ~4 s twice at sf0.1). The state is a tuple of relations, not one
    // DataFrame, so it memoizes through SharedRel.once.
    graft.SharedRel.once(spark,
      s"incrbase|$dir|$buckets|$budget|$deltaMod|$keepLang|$probeMax|" +
        s"$contamMin|$sampleMod|$sampleKeep|$mixMod") {
      val cont = contRel(spark, dir, probeMax)
      val clean = cleanRel(spark, dir, probeMax)
      // nearDupLsh is session-shared (SharedRel) — no second pin here
      val pairs = VectorOps.nearDupLsh(spark, dir).select("id_a", "id_b")
      val b = graft.Materialize(incrDocs(spark, dir, deltaMod).filter(!col("is_delta")))
      val repB = b.groupBy("hmd5").agg(min("doc_id").as("rep_doc_id"))
      val curB = rowGatesF(b, cont, keepLang, probeMax, contamMin, sampleMod, sampleKeep)
        .join(repB, "hmd5").filter(col("doc_id") === col("rep_doc_id"))
        .select("doc_id")
      val dropB = pairs
        .filter(Exprs.arrivalSplit(col("id_a"), deltaMod) =!= 0 &&
          Exprs.arrivalSplit(col("id_b"), deltaMod) =!= 0)
        .select(col("id_b").as("doc_id")).distinct()
      val statsB = b.groupBy("source").agg(count(lit(1)).as("cnt"))
        .withColumn("w", weightE(col("source")))
      val totB = statsB.agg(sum("cnt").as("total"), sum("w").as("sumw"))
      val tiersB = graft.Materialize(qualityTiersOf(spark,
        b.select(col("doc_id"), col("lang"), col("quality_score")))
        .select("doc_id", "lang", "quality_score", "tier"))
      val survB = graft.Materialize(survivorsF(b, curB, dropB, tiersB, clean, statsB, totB, mixMod))
      val walkB = walkOffsets(survB, buckets)
        .withColumn("shard_id", expr(s"off div ${budget}L"))
        .withColumn("from_delta", lit(false))
      val cuts = tiersB.groupBy("lang").agg(
        min(when(col("tier") === "head", col("quality_score"))).as("head_cut"),
        min(when(col("tier") === "middle", col("quality_score"))).as("mid_cut"))
      val baseTok = survB.agg(coalesce(sum("tok"), lit(0L)).as("base_tok"))
      FrozenBase(walkB, b.select("hmd5").distinct(), statsB, totB, cuts, baseTok)
    }

  /** Today's increment: the full gate chain over the delta split against a
    * [[FrozenBase]] — the ONLY code path for delta semantics, whether the
    * frozen state was computed in-session ([[incrAssignments]]) or read
    * back from disk ([[applyDeltaFrom]]).
    */
  private def incrDeltaWalk(
      spark: SparkSession, dir: String, frozen: FrozenBase, buckets: Int,
      budget: Long, deltaMod: Int, keepLang: String, probeMax: Long,
      contamMin: Long, sampleMod: Int, sampleKeep: Int, mixMod: Int): DataFrame = {
    val cont = contRel(spark, dir, probeMax)
    val clean = cleanRel(spark, dir, probeMax)
    val pairs = VectorOps.nearDupLsh(spark, dir).select("id_a", "id_b")
    val d = graft.Materialize(incrDocs(spark, dir, deltaMod).filter(col("is_delta")))
    val repD = d.groupBy("hmd5").agg(min("doc_id").as("rep_doc_id"))
    val curD = rowGatesF(d, cont, keepLang, probeMax, contamMin, sampleMod, sampleKeep)
      .join(repD, "hmd5").filter(col("doc_id") === col("rep_doc_id"))
      .join(frozen.baseHashes, Seq("hmd5"), "left_anti")
      .select("doc_id")
    // any pair whose id_b is delta drops id_b (partner is base OR a
    // smaller-id delta doc); a delta id_a paired with a base id_b drops too
    val pA = Exprs.arrivalSplit(col("id_a"), deltaMod)
    val pB = Exprs.arrivalSplit(col("id_b"), deltaMod)
    val dropD = pairs.filter(pB === 0).select(col("id_b").as("doc_id"))
      .union(pairs.filter(pA === 0 && pB =!= 0).select(col("id_a").as("doc_id")))
      .distinct()
    val tiersD = d.select(col("doc_id"), col("lang"), col("quality_score"))
      .join(broadcast(frozen.cuts), Seq("lang"), "left")
      .withColumn("tier",
        when(col("quality_score") >= col("head_cut"), "head")
          .when(col("quality_score") >= col("mid_cut"), "middle")
          .otherwise("tail"))
    val survD = survivorsF(d, curD, dropD, tiersD, clean,
      frozen.statsB, frozen.totB, mixMod)
    walkOffsets(survD, buckets)
      .crossJoin(broadcast(frozen.baseTok))
      .withColumn("off", col("off") + col("base_tok"))
      .withColumn("shard_id", expr(s"off div ${budget}L"))
      .withColumn("from_delta", lit(true))
  }

  private val IncrCols = Seq("doc_id", "source", "tier", "tok", "off",
    "shard_id", "from_delta", "text_out")

  private[graft] def incrAssignments(
      spark: SparkSession, dir: String, buckets: Int = 8, budget: Long = 500L,
      deltaMod: Int = 10, keepLang: String = "en", probeMax: Long = 10,
      contamMin: Long = 5, sampleMod: Int = 10, sampleKeep: Int = 8,
      mixMod: Int = 1000): DataFrame = {
    val frozen = incrBaseState(spark, dir, buckets, budget, deltaMod, keepLang,
      probeMax, contamMin, sampleMod, sampleKeep, mixMod)
    val walkD = incrDeltaWalk(spark, dir, frozen, buckets, budget, deltaMod,
      keepLang, probeMax, contamMin, sampleMod, sampleKeep, mixMod)
    frozen.walkB.select(IncrCols.map(col): _*)
      .unionByName(walkD.select(IncrCols.map(col): _*))
  }

  /** The merged post-delta manifest — base shards byte-identical (delta
    * docs only ever land at `off >= base_total`), the open shard topped up,
    * new shards appended; `n_delta` counts the appended docs per shard.
    * Oracle-checked as `d_manifest_incr`: the SQL recomputes the entire
    * base chain AND the frozen-state delta chain independently and must
    * land on identical manifests.
    */
  private def manifestAgg(assignments: DataFrame): DataFrame =
    assignments
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("tok").as("n_tokens"),
        expr("bit_xor(cast(conv(substring(md5(text_out), 1, 15), 16, 10) as bigint))")
          .as("checksum"),
        sum(when(col("tier") === "head", 1L).otherwise(0L)).as("n_head"),
        sum(when(col("tier") === "middle", 1L).otherwise(0L)).as("n_middle"),
        sum(when(col("tier") === "tail", 1L).otherwise(0L)).as("n_tail"),
        sum(when(col("from_delta"), 1L).otherwise(0L)).as("n_delta"))

  def manifestIncr(spark: SparkSession, dir: String, buckets: Int = 8,
                   budget: Long = 500L, deltaMod: Int = 10): DataFrame =
    manifestAgg(incrAssignments(spark, dir, buckets, budget, deltaMod))
      .orderBy("shard_id")

  /** Persist the frozen base state — the artifact boundary between
    * yesterday's build and today's increment. What lands in `stateDir` is
    * exactly what the 100 TB daily job stores: the fingerprint index, the
    * per-source mix rates, the tier cutoffs, the shard high-water mark,
    * the base manifest, and the base assignments (kept only so consumers
    * can read the full corpus map; the delta pass itself never opens it).
    */
  def freezeBaseState(spark: SparkSession, dir: String, stateDir: String,
                      buckets: Int = 8, budget: Long = 500L,
                      deltaMod: Int = 10): Unit = {
    val frozen = incrBaseState(spark, dir, buckets, budget, deltaMod,
      keepLang = "en", probeMax = 10, contamMin = 5, sampleMod = 10,
      sampleKeep = 8, mixMod = 1000)
    // Writes are coalesced: every frozen relation except the assignments is
    // a handful of rows (stats/cuts/manifest) or one narrow hash column —
    // 32 task-files apiece is pure commit-protocol overhead at any scale;
    // the wide assignments keep a few files for parallel re-read.
    val walkB = frozen.walkB.select(IncrCols.map(col): _*)
    walkB.coalesce(4).write.mode("overwrite").parquet(s"$stateDir/assignments")
    frozen.baseHashes.coalesce(4).write.mode("overwrite").parquet(s"$stateDir/hashes")
    frozen.statsB.coalesce(1).write.mode("overwrite").parquet(s"$stateDir/mix_stats")
    frozen.totB.coalesce(1).write.mode("overwrite").parquet(s"$stateDir/mix_totals")
    frozen.cuts.coalesce(1).write.mode("overwrite").parquet(s"$stateDir/tier_cuts")
    frozen.baseTok.coalesce(1).write.mode("overwrite").parquet(s"$stateDir/high_water")
    manifestAgg(walkB).coalesce(1).write.mode("overwrite").parquet(s"$stateDir/manifest")
  }

  /** The production daily increment: run ONLY the delta chain against the
    * state [[freezeBaseState]] persisted — the base corpus is never read
    * (only its tiny frozen relations are) — and emit the merged manifest
    * by associative fold: counts add, the xor checksum combines, closed
    * base shards pass through untouched. Differentially spec-asserted
    * row-identical to the oracle-checked single-query [[manifestIncr]].
    */
  def applyDeltaFrom(spark: SparkSession, dir: String, stateDir: String,
                     buckets: Int = 8, budget: Long = 500L,
                     deltaMod: Int = 10): DataFrame = {
    val frozen = FrozenBase(
      walkB = spark.read.parquet(s"$stateDir/assignments"),
      baseHashes = spark.read.parquet(s"$stateDir/hashes"),
      statsB = spark.read.parquet(s"$stateDir/mix_stats"),
      totB = spark.read.parquet(s"$stateDir/mix_totals"),
      cuts = spark.read.parquet(s"$stateDir/tier_cuts"),
      baseTok = spark.read.parquet(s"$stateDir/high_water"))
    val walkD = incrDeltaWalk(spark, dir, frozen, buckets, budget, deltaMod,
      keepLang = "en", probeMax = 10, contamMin = 5, sampleMod = 10,
      sampleKeep = 8, mixMod = 1000)
    val deltaM = manifestAgg(walkD.select(IncrCols.map(col): _*))
      .select(col("shard_id"), col("n_docs").as("d_docs"),
        col("n_tokens").as("d_toks"), col("checksum").as("d_ck"),
        col("n_head").as("d_h"), col("n_middle").as("d_m"),
        col("n_tail").as("d_t"))
    val baseM = spark.read.parquet(s"$stateDir/manifest")
      .select(col("shard_id"), col("n_docs").as("b_docs"),
        col("n_tokens").as("b_toks"), col("checksum").as("b_ck"),
        col("n_head").as("b_h"), col("n_middle").as("b_m"),
        col("n_tail").as("b_t"))
    baseM.join(deltaM, Seq("shard_id"), "full_outer")
      .select(col("shard_id"),
        (coalesce(col("b_docs"), lit(0L)) + coalesce(col("d_docs"), lit(0L))).as("n_docs"),
        (coalesce(col("b_toks"), lit(0L)) + coalesce(col("d_toks"), lit(0L))).as("n_tokens"),
        coalesce(col("b_ck"), lit(0L)).bitwiseXOR(coalesce(col("d_ck"), lit(0L)))
          .as("checksum"),
        (coalesce(col("b_h"), lit(0L)) + coalesce(col("d_h"), lit(0L))).as("n_head"),
        (coalesce(col("b_m"), lit(0L)) + coalesce(col("d_m"), lit(0L))).as("n_middle"),
        (coalesce(col("b_t"), lit(0L)) + coalesce(col("d_t"), lit(0L))).as("n_tail"),
        coalesce(col("d_docs"), lit(0L)).as("n_delta"))
      .orderBy("shard_id")
  }

  def manifestIncrSql(buckets: Int = 8, budget: Long = 500L,
                      deltaMod: Int = 10, keepLang: String = "en",
                      probeMax: Long = 10, contamMin: Long = 5,
                      sampleMod: Int = 10, sampleKeep: Int = 8,
                      mixMod: Int = 1000): String =
    s"""WITH prep AS (${TextOps.preparedSql}),
       |p AS (
       |  SELECT prep.doc_id, prep.lang, prep.source, prep.norm,
       |    CAST(len(prep.words) AS BIGINT) AS tok_raw, md5(prep.norm) AS h,
       |    l.pred_lang, q.quality_bucket, q.quality_score,
       |    ${Exprs.arrivalSplitSql("prep.doc_id", deltaMod)} = 0 AS is_delta
       |  FROM prep
       |  JOIN (${TextOps.langidSql}) l ON prep.doc_id = l.doc_id
       |  JOIN (${TextOps.qualitySql}) q ON prep.doc_id = q.doc_id),
       |cont AS (SELECT doc_id, n_shared_shingles
       |         FROM (${TextOps.contaminationSql(probeMax)})),
       |clean AS (SELECT doc_id, n_words - n_contam AS tok_clean, text_clean
       |          FROM (${TextOps.decontamSpansSql(probeMax)})),
       |pairs AS (SELECT id_a, id_b FROM (${VectorOps.nearDupLshSql()})),
       |repb AS (SELECT h, min(doc_id) AS rep FROM p WHERE NOT is_delta GROUP BY h),
       |curb AS (
       |  SELECT p.doc_id FROM p JOIN repb ON p.h = repb.h
       |  LEFT JOIN cont ON p.doc_id = cont.doc_id
       |  WHERE NOT p.is_delta AND p.pred_lang = '$keepLang'
       |    AND p.quality_bucket <> 'low' AND p.doc_id = repb.rep
       |    AND p.doc_id >= $probeMax
       |    AND COALESCE(cont.n_shared_shingles, 0) < $contamMin
       |    AND ${Exprs.hex60Sql("p.doc_id::VARCHAR")} % $sampleMod < $sampleKeep),
       |dropb AS (SELECT DISTINCT id_b AS doc_id FROM pairs
       |          WHERE ${Exprs.arrivalSplitSql("id_a", deltaMod)} <> 0
       |            AND ${Exprs.arrivalSplitSql("id_b", deltaMod)} <> 0),
       |statsb AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS cnt,
       |    (regexp_extract(source, '([0-9]+)', 1)::BIGINT % 4) + 1 AS w
       |  FROM p WHERE NOT is_delta GROUP BY source),
       |totb AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
       |                CAST(sum(w) AS BIGINT) AS sumw FROM statsb),
       |mixb AS (
       |  SELECT doc_id FROM p JOIN statsb USING (source) CROSS JOIN totb
       |  WHERE NOT is_delta
       |    AND (${Exprs.hex60Sql("'mx:' || doc_id::VARCHAR")} % $mixMod)
       |        * sumw * cnt < $mixMod * total * w),
       |rb AS (
       |  SELECT doc_id, lang, quality_score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
       |           ORDER BY quality_score DESC, doc_id) AS INT) AS rnk,
       |    CAST(COUNT(*) OVER (PARTITION BY lang) AS INT) AS n_lang
       |  FROM p WHERE NOT is_delta),
       |tb AS (
       |  SELECT doc_id, lang, quality_score,
       |    CASE WHEN rnk * 3 <= n_lang THEN 'head'
       |         WHEN rnk * 3 <= n_lang * 2 THEN 'middle' ELSE 'tail' END AS tier
       |  FROM rb),
       |cuts AS (
       |  SELECT lang,
       |    min(CASE WHEN tier = 'head' THEN quality_score END) AS head_cut,
       |    min(CASE WHEN tier = 'middle' THEN quality_score END) AS mid_cut
       |  FROM tb GROUP BY lang),
       |sb AS (
       |  SELECT p.doc_id, p.source, tb.tier,
       |    COALESCE(clean.tok_clean, p.tok_raw) AS tok,
       |    COALESCE(clean.text_clean, p.norm) AS text_out,
       |    ${Exprs.hex60Sql("'sp:' || p.doc_id::VARCHAR")} AS wh
       |  FROM p JOIN curb USING (doc_id) JOIN mixb USING (doc_id)
       |       JOIN tb ON p.doc_id = tb.doc_id
       |       LEFT JOIN clean ON p.doc_id = clean.doc_id
       |  WHERE NOT EXISTS (SELECT 1 FROM dropb WHERE dropb.doc_id = p.doc_id)),
       |ob AS (
       |  SELECT tier, tok, text_out,
       |    COALESCE(SUM(tok) OVER (ORDER BY wh % $buckets, wh, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
       |  FROM sb),
       |btot AS (SELECT COALESCE(CAST(sum(tok) AS BIGINT), 0) AS base_tok FROM sb),
       |basehash AS (SELECT DISTINCT h FROM p WHERE NOT is_delta),
       |repd AS (SELECT h, min(doc_id) AS rep FROM p WHERE is_delta GROUP BY h),
       |curd AS (
       |  SELECT p.doc_id FROM p JOIN repd ON p.h = repd.h
       |  LEFT JOIN cont ON p.doc_id = cont.doc_id
       |  WHERE p.is_delta AND p.pred_lang = '$keepLang'
       |    AND p.quality_bucket <> 'low'
       |    AND NOT EXISTS (SELECT 1 FROM basehash WHERE basehash.h = p.h)
       |    AND p.doc_id = repd.rep AND p.doc_id >= $probeMax
       |    AND COALESCE(cont.n_shared_shingles, 0) < $contamMin
       |    AND ${Exprs.hex60Sql("p.doc_id::VARCHAR")} % $sampleMod < $sampleKeep),
       |dropd AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT id_b AS doc_id FROM pairs
       |    WHERE ${Exprs.arrivalSplitSql("id_b", deltaMod)} = 0
       |    UNION ALL
       |    SELECT id_a AS doc_id FROM pairs
       |    WHERE ${Exprs.arrivalSplitSql("id_a", deltaMod)} = 0
       |      AND ${Exprs.arrivalSplitSql("id_b", deltaMod)} <> 0)),
       |mixd AS (
       |  SELECT doc_id FROM p JOIN statsb USING (source) CROSS JOIN totb
       |  WHERE is_delta
       |    AND (${Exprs.hex60Sql("'mx:' || doc_id::VARCHAR")} % $mixMod)
       |        * sumw * cnt < $mixMod * total * w),
       |td AS (
       |  SELECT p.doc_id,
       |    CASE WHEN p.quality_score >= cuts.head_cut THEN 'head'
       |         WHEN p.quality_score >= cuts.mid_cut THEN 'middle'
       |         ELSE 'tail' END AS tier
       |  FROM p LEFT JOIN cuts ON p.lang = cuts.lang WHERE p.is_delta),
       |sd AS (
       |  SELECT p.doc_id, p.source, td.tier,
       |    COALESCE(clean.tok_clean, p.tok_raw) AS tok,
       |    COALESCE(clean.text_clean, p.norm) AS text_out,
       |    ${Exprs.hex60Sql("'sp:' || p.doc_id::VARCHAR")} AS wh
       |  FROM p JOIN curd USING (doc_id) JOIN mixd USING (doc_id)
       |       JOIN td ON p.doc_id = td.doc_id
       |       LEFT JOIN clean ON p.doc_id = clean.doc_id
       |  WHERE NOT EXISTS (SELECT 1 FROM dropd WHERE dropd.doc_id = p.doc_id)),
       |od AS (
       |  SELECT tier, tok, text_out,
       |    COALESCE(SUM(tok) OVER (ORDER BY wh % $buckets, wh, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      + btot.base_tok AS off
       |  FROM sd CROSS JOIN btot),
       |allrows AS (
       |  SELECT tier, tok, text_out, off, FALSE AS from_delta FROM ob
       |  UNION ALL
       |  SELECT tier, tok, text_out, off, TRUE AS from_delta FROM od)
       |SELECT CAST(off // $budget AS BIGINT) AS shard_id,
       |  count(*) AS n_docs,
       |  CAST(sum(tok) AS BIGINT) AS n_tokens,
       |  CAST(bit_xor(${Exprs.hex60Sql("text_out")}) AS BIGINT) AS checksum,
       |  CAST(sum(CASE WHEN tier = 'head' THEN 1 ELSE 0 END) AS BIGINT) AS n_head,
       |  CAST(sum(CASE WHEN tier = 'middle' THEN 1 ELSE 0 END) AS BIGINT) AS n_middle,
       |  CAST(sum(CASE WHEN tier = 'tail' THEN 1 ELSE 0 END) AS BIGINT) AS n_tail,
       |  CAST(sum(CASE WHEN from_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_delta
       |FROM allrows GROUP BY 1 ORDER BY shard_id""".stripMargin

  // ---- DSIR-style importance resampling ----

  /** Hashed n-gram importance weights (the DSIR recipe, Xie et al. 2023):
    * every document scored by how much more likely its token features are
    * under the TARGET distribution (the probe/benchmark docs,
    * `doc_id < probeMax` — the [[TextOps.contamination]] probe convention)
    * than under the RAW corpus distribution — the data-selection signal
    * that upweights target-domain-looking documents without a trained
    * classifier. Features are unigrams + bigrams hashed into `buckets`
    * cells ([[Exprs.hex60]] mod buckets); both distributions add-1
    * smoothed over the cells; the per-cell log-likelihood ratio
    * ln(p_target/p_raw) quantizes ONCE per cell (buckets values total —
    * the narrowest possible ln exposure, same class as `v_kmeans_step`'s
    * round) and each document's log weight is the INTEGER sum of its
    * features' quantized ratios — order-free, cross-engine exact. `keep`
    * is the deterministic resample: logw_q > 0 (more target-like than
    * raw).
    *
    * Scale shape: feature explode → (doc, cell) with map-side combine;
    * the two distributions are `buckets`-row relations (broadcast); the
    * per-doc sum is one map-side-combined agg. Nothing is
    * vocabulary-bound — that is the entire point of the hashing.
    */
  def dsirWeights(spark: SparkSession, dir: String, probeMax: Long = 10,
                  buckets: Int = 64): DataFrame =
    // session-shared: the verdict relation feeds its own driver query AND
    // the per-source mix monitor
    graft.SharedRel(spark, s"dsir|$dir|$probeMax|$buckets") {
      val d = TextOps.prepared(spark, dir).select(
        col("doc_id"), filter(col("words"), w => w =!= "").as("ws"))
      // r21: unigram + bigram features explode from ONE row-local array —
      // the former posexplode + doc-keyed lead window paired adjacent words
      // through a full shuffle+sort of the token mass, then unioned a second
      // explode pass for the unigrams; adjacency is a property of the row's
      // own array (slice-guarded index list, safe for 0/1-word docs)
      val feats = graft.Materialize(d.select(col("doc_id"), explode(concat(col("ws"), expr(
          """transform(slice(sequence(0, greatest(size(ws) - 1, 0)),
            |          1, greatest(size(ws) - 1, 0)),
            |  i -> concat(ws[i], ' ', ws[i + 1]))""".stripMargin))).as("f"))
        .withColumn("cell", pmod(Exprs.hex60(col("f")), lit(buckets.toLong))))
      val tCnt = feats.filter(col("doc_id") < probeMax)
        .groupBy(col("cell")).agg(count(lit(1)).as("tc"))
      val rCnt = feats.groupBy(col("cell")).agg(count(lit(1)).as("rc"))
      val tTot = feats.filter(col("doc_id") < probeMax)
        .agg(count(lit(1)).as("tt"))
      val rTot = feats.agg(count(lit(1)).as("rt"))
      val frame = spark.range(buckets).select(col("id").as("cell"))
      val ratio = frame
        .join(tCnt, Seq("cell"), "left").join(rCnt, Seq("cell"), "left")
        .crossJoin(broadcast(tTot)).crossJoin(broadcast(rTot))
        .select(col("cell"),
          floor((log((coalesce(col("tc"), lit(0L)) + lit(1.0)) /
                     (col("tt") + lit(buckets.toDouble))) -
                 log((coalesce(col("rc"), lit(0L)) + lit(1.0)) /
                     (col("rt") + lit(buckets.toDouble))))
            * 10000 + 0.5).cast("long").as("r_int"))
      val perDoc = feats.join(broadcast(ratio), "cell")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_feats"), sum(col("r_int")).as("logw_q"))
      d.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_feats"), lit(0L)).as("n_feats"),
          coalesce(col("logw_q"), lit(0L)).as("logw_q"))
        .withColumn("keep", col("logw_q") > 0)
        .orderBy("doc_id")
    }

  /** Per-source DSIR keep rates — the monitor row the mixture owner reads:
    * which sources look target-like under the importance weights (the
    * [[dsirWeights]] verdicts folded onto the source key, the
    * `v_dup_rate_incr` monitor-family shape: |sources| rows of integer
    * permille however large the corpus).
    */
  def dsirMix(spark: SparkSession, dir: String, probeMax: Long = 10,
              buckets: Int = 64): DataFrame =
    dsirWeights(spark, dir, probeMax, buckets)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")),
        "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep").cast("long")).as("n_keep"),
        sum(col("logw_q")).as("sum_logw_q"))
      .withColumn("keep_permille", expr("n_keep * 1000L div n_docs"))
      .orderBy(col("source"))

  def dsirMixSql(probeMax: Long = 10, buckets: Int = 64): String =
    s"""WITH w AS (${dsirWeightsSql(probeMax, buckets)})
       |SELECT d.source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN w.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       |  CAST(sum(w.logw_q) AS BIGINT) AS sum_logw_q,
       |  CAST(sum(CASE WHEN w.keep THEN 1 ELSE 0 END) * 1000
       |    // count(*) AS BIGINT) AS keep_permille
       |FROM w JOIN documents d USING (doc_id)
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  def dsirWeightsSql(probeMax: Long = 10, buckets: Int = 64): String =
    s"""WITH d AS (
       |  SELECT doc_id, list_filter(words, w -> w <> '') AS ws
       |  FROM (${TextOps.preparedSql})),
       |uni AS (SELECT doc_id, w FROM d, unnest(ws) AS t(w)),
       |bi AS (
       |  SELECT doc_id, f
       |  FROM d, unnest(list_transform(range(1, len(ws)),
       |    i -> ws[i] || ' ' || ws[i + 1])) AS t(f)),
       |feats AS (
       |  SELECT doc_id, ${Exprs.hex60Sql("f")} % $buckets AS cell FROM (
       |    SELECT doc_id, w AS f FROM uni
       |    UNION ALL SELECT doc_id, f FROM bi)),
       |tc AS (SELECT cell, count(*) AS tc FROM feats WHERE doc_id < $probeMax GROUP BY cell),
       |rc AS (SELECT cell, count(*) AS rc FROM feats GROUP BY cell),
       |tt AS (SELECT count(*) AS tt FROM feats WHERE doc_id < $probeMax),
       |rt AS (SELECT count(*) AS rt FROM feats),
       |ratio AS (
       |  SELECT fr.cell,
       |    CAST(floor((ln((coalesce(tc, 0) + 1.0) / (tt + ${buckets.toDouble}))
       |              - ln((coalesce(rc, 0) + 1.0) / (rt + ${buckets.toDouble})))
       |      * 10000 + 0.5) AS BIGINT) AS r_int
       |  FROM (SELECT CAST(range AS BIGINT) AS cell FROM range($buckets)) fr
       |  LEFT JOIN tc USING (cell) LEFT JOIN rc USING (cell), tt, rt),
       |per_doc AS (
       |  SELECT doc_id, count(*) AS n_feats, sum(r_int) AS logw_q
       |  FROM feats JOIN ratio USING (cell) GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(n_feats, 0) AS BIGINT) AS n_feats,
       |  CAST(coalesce(logw_q, 0) AS BIGINT) AS logw_q,
       |  coalesce(logw_q, 0) > 0 AS keep
       |FROM d LEFT JOIN per_doc USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---- lexical vs semantic dedup verdict agreement ----

  /** Cross-tier dedup agreement audit — which near-dup verdicts the
    * deployed LEXICAL tier ([[TextOps.jaccardPairs]], exact df-capped
    * Jaccard ≥ 0.9) and the deployed SEMANTIC tier
    * ([[VectorOps.nearDupLsh]], sign-LSH-bucketed cosine ≥ 0.4 over
    * `doc_id = vec_id`, the [[semanticDedup]] contract) each catch:
    * `n_both` / `lex_only` / `sem_only` plus the two coverage permilles
    * (`lex_covered_pm` = of the lexical pairs, how many the semantic
    * tier also surfaces, and vice versa). The answer drives tier layout
    * at 100 TB — a high-overlap corpus runs the cheap lexical pass
    * first and spends embeddings only on the remainder; a low-overlap
    * corpus needs both.
    *
    * Pure composition: both pair relations are session-shared and
    * independently oracle-checked; this query adds one full-outer join
    * on the pair key and a single global fold — no new scan of either
    * corpus. Both inputs orient pairs as (smaller id, larger id), so
    * the join key is exact.
    */
  def dedupAgreement(spark: SparkSession, dir: String,
                     jThreshold: Double = 0.9,
                     cosThreshold: Double = 0.4): DataFrame = {
    val lex = TextOps.jaccardPairs(spark, dir, jThreshold)
      .select(col("doc_a"), col("doc_b")).withColumn("lex", lit(1L))
    val sem = VectorOps.nearDupLsh(spark, dir, cosThreshold)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      .withColumn("sem", lit(1L))
    lex.join(sem, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        coalesce(sum(col("lex")), lit(0L)).as("n_lex"),
        coalesce(sum(col("sem")), lit(0L)).as("n_sem"),
        coalesce(sum(when(col("lex").isNotNull && col("sem").isNotNull, 1L)),
          lit(0L)).as("n_both"))
      .select(col("n_lex"), col("n_sem"), col("n_both"),
        (col("n_lex") - col("n_both")).as("lex_only"),
        (col("n_sem") - col("n_both")).as("sem_only"),
        expr("n_both * 1000 div greatest(n_lex, 1)").as("lex_covered_pm"),
        expr("n_both * 1000 div greatest(n_sem, 1)").as("sem_covered_pm"))
  }

  /** [[dedupAgreement]]'s ACTION — the cross-tab's `sem_only` cell mined
    * as data, not just counted: pairs the EMBEDDING tier calls duplicates
    * (cos ≥ `cosThreshold`) whose SURFACES genuinely diverge (exact
    * word-set jaccard ≤ `jCap`, computed directly on the mined pairs
    * rather than inherited from the lexical tier's df-capped candidate
    * generation) are paraphrase candidates — same meaning, different
    * words: the alignment/augmentation training pairs a semantic-dedup
    * pass would otherwise silently discard as "duplicates".
    *
    * Scale shape: rides the session-shared near-dup pair index; the
    * jaccard enrichment is two |pairs|-bounded payload joins by doc_id
    * (the [[graft.functions.TextOps.jaccardPairs]] verify idiom) — no new
    * candidate generation, no self-join.
    */
  def paraphraseMine(spark: SparkSession, dir: String,
                     cosThreshold: Double = 0.4,
                     jCap: Double = 0.5): DataFrame = {
    val sem = VectorOps.nearDupLsh(spark, dir, cosThreshold)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("cos_sim"))
    val d = TextOps.prepared(spark, dir)
      .select(col("doc_id"), array_distinct(col("words")).as("ws"))
    sem
      .join(d.select(col("doc_id").as("doc_a"), col("ws").as("ws_a")), "doc_a")
      .join(d.select(col("doc_id").as("doc_b"), col("ws").as("ws_b")), "doc_b")
      .withColumn("n_shared", size(array_intersect(col("ws_a"), col("ws_b"))).cast("long"))
      .withColumn("n_union",
        (size(col("ws_a")) + size(col("ws_b"))).cast("long") - col("n_shared"))
      .filter(col("n_shared") / col("n_union").cast("double") <= jCap)
      .select(col("doc_a"), col("doc_b"), col("cos_sim"),
        round(col("n_shared") / col("n_union").cast("double"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  def paraphraseMineSql(cosThreshold: Double = 0.4,
                        jCap: Double = 0.5): String =
    s"""WITH sem AS (
       |  SELECT id_a AS doc_a, id_b AS doc_b, cos_sim
       |  FROM (${VectorOps.nearDupLshSql(cosThreshold)})),
       |d AS (
       |  SELECT doc_id, list_distinct(words) AS ws
       |  FROM (${TextOps.preparedSql})),
       |j AS (
       |  SELECT sem.doc_a, sem.doc_b, sem.cos_sim,
       |    CAST(len(list_intersect(a.ws, b.ws)) AS BIGINT) AS n_shared,
       |    CAST(len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))
       |      AS BIGINT) AS n_union
       |  FROM sem
       |  JOIN d a ON sem.doc_a = a.doc_id
       |  JOIN d b ON sem.doc_b = b.doc_id)
       |SELECT doc_a, doc_b, cos_sim,
       |  round(n_shared / CAST(n_union AS DOUBLE), 4) AS jaccard
       |FROM j
       |WHERE n_shared / CAST(n_union AS DOUBLE) <= $jCap
       |ORDER BY doc_a, doc_b""".stripMargin

  def dedupAgreementSql(jThreshold: Double = 0.9,
                        cosThreshold: Double = 0.4): String =
    s"""WITH lex AS (
       |  SELECT doc_a, doc_b, 1 AS lex
       |  FROM (${TextOps.jaccardPairsSql(jThreshold)})),
       |sem AS (
       |  SELECT id_a AS doc_a, id_b AS doc_b, 1 AS sem
       |  FROM (${VectorOps.nearDupLshSql(cosThreshold)})),
       |j AS (
       |  SELECT l.lex, s.sem
       |  FROM lex l FULL OUTER JOIN sem s
       |    ON l.doc_a = s.doc_a AND l.doc_b = s.doc_b)
       |SELECT
       |  CAST(COALESCE(sum(lex), 0) AS BIGINT) AS n_lex,
       |  CAST(COALESCE(sum(sem), 0) AS BIGINT) AS n_sem,
       |  CAST(COALESCE(sum(CASE WHEN lex IS NOT NULL AND sem IS NOT NULL
       |                         THEN 1 END), 0) AS BIGINT) AS n_both,
       |  CAST(COALESCE(sum(lex), 0)
       |    - COALESCE(sum(CASE WHEN lex IS NOT NULL AND sem IS NOT NULL
       |                        THEN 1 END), 0) AS BIGINT) AS lex_only,
       |  CAST(COALESCE(sum(sem), 0)
       |    - COALESCE(sum(CASE WHEN lex IS NOT NULL AND sem IS NOT NULL
       |                        THEN 1 END), 0) AS BIGINT) AS sem_only,
       |  CAST(COALESCE(sum(CASE WHEN lex IS NOT NULL AND sem IS NOT NULL
       |                         THEN 1 END), 0) * 1000
       |    // greatest(COALESCE(sum(lex), 0), 1) AS BIGINT) AS lex_covered_pm,
       |  CAST(COALESCE(sum(CASE WHEN lex IS NOT NULL AND sem IS NOT NULL
       |                         THEN 1 END), 0) * 1000
       |    // greatest(COALESCE(sum(sem), 0), 1) AS BIGINT) AS sem_covered_pm
       |FROM j""".stripMargin
}
