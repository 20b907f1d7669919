package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Exprs, Materialize, Tables}
import graft.operators.Dedup
import graft.plans.BloomJoin

/** Text-analysis + document-dedup operators for a large-scale training-data
  * pipeline (builder brief: dedup / quality / language-ID / token counting /
  * fingerprinting over the `documents` table).
  *
  * Everything is pure column expressions (whole-stage codegen, no UDFs) and
  * has an exact DuckDB mirror via the shared md5-prefix hash [[Exprs.hex60]],
  * so even MinHash signatures are oracle-checkable.
  *
  * Scale design: all operators are explode → hash-shuffle on (block, word) or
  * (doc) keys — no driver-side state, no cross-product without a blocking
  * key. At 100 TB the blocking keys (language, length bucket, band signature)
  * bound every join's fan-out.
  */
object TextOps {

  /** MinHash parameters — fixed odd multipliers/offsets mod a prime.
    * 8 hashes = 2 bands × 4 rows (LSH for jaccard ≈ 0.9 working point).
    */
  val P = 1000003L
  val A: Seq[Long] = Seq(541L, 1223L, 2741L, 4409L, 6863L, 8317L, 9341L, 10627L)
  val B: Seq[Long] = Seq(1087L, 2131L, 3259L, 5417L, 7451L, 8923L, 9973L, 11657L)

  val STOPWORDS: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** documents + normalized text and word array. */
  /** The normalized-and-tokenized documents relation every text-tier
    * consumer starts from — session-shared ([[graft.SharedRel]]): ~150
    * registered queries (and most SharedRel index builds) each re-ran the
    * parquet scan + regex normalize + split otherwise (measured 0.43 s/
    * pass vs 0.15 s from the checkpoint at sf0.1, and self-joining
    * consumers pay the pass several times in one plan). This is the
    * production posture too: a 100 TB pipeline writes the normalized
    * token table ONCE and derives everything from it — the scan-level
    * doc_id pushdown the checkpoint gives up is a row-group skip on a
    * table this shape re-reads from memory anyway.
    */
  def prepared(spark: SparkSession, dir: String): DataFrame =
    graft.SharedRel(spark, s"prepared|$dir") {
      Tables.documents(spark, dir).select(
        col("doc_id"), col("lang"), col("source"), col("n_chars"),
        Exprs.normText(col("text")).as("norm"))
        .withColumn("words", split(col("norm"), " "))
    }

  val preparedSql: String =
    s"""SELECT doc_id, lang, source, n_chars,
       |       ${Exprs.normTextSql("text")} AS norm,
       |       string_split(${Exprs.normTextSql("text")}, ' ') AS words
       |FROM documents""".stripMargin

  // ---- token counting ----

  /** Whitespace tokens + a BPE-ish regex token count + average word length.
    * Integer inputs → double division: bit-identical across engines.
    */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    prepared(spark, dir).select(
      col("doc_id"),
      length(col("norm")).as("n_chars_norm"),
      size(col("words")).as("ws_tokens"),
      size(regexp_extract_all(col("norm"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("re_tokens"),
      // per-row deterministic arithmetic → identical bits on both engines;
      // NOT rounded (round() half-way cases at representation boundaries
      // differ between engines, see d_quality history)
      (length(regexp_replace(col("norm"), " ", "")) / size(col("words"))).as("avg_word_len"))

  val tokenStatsSql: String =
    s"""SELECT doc_id,
       |  CAST(length(norm) AS INT) AS n_chars_norm,
       |  CAST(len(words) AS INT) AS ws_tokens,
       |  CAST(len(regexp_extract_all(norm, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS re_tokens,
       |  CAST(length(replace(norm, ' ', '')) AS INT) / CAST(len(words) AS INT) AS avg_word_len
       |FROM ($preparedSql) ORDER BY doc_id""".stripMargin

  // ---- quality scoring ----

  // shared per-row expressions over `prepared` columns (norm, words) — one
  // definition each so quality() and curate() cannot drift apart
  private def nWordsE: Column = size(col("words"))
  private def nStopE: Column = {
    val stopArr = array(STOPWORDS.map(lit): _*)
    size(filter(col("words"), w => array_contains(stopArr, w)))
  }
  /** Heuristic quality score over `prepared` columns (pure row expr). */
  def qualityScoreE: Column = {
    val avgLen = length(regexp_replace(col("norm"), " ", "")) / nWordsE
    lit(0.5) * least(lit(1.0), nWordsE / 200.0) +
      lit(0.3) * (lit(1.0) - nStopE / nWordsE.cast("double")) +
      lit(0.2) * least(lit(1.0), avgLen / 8.0)
  }
  def qualityBucketE: Column =
    when(qualityScoreE >= 0.75, "high")
      .when(qualityScoreE >= 0.5, "medium").otherwise("low")
  /** Per-language marker scores over `prepared` columns — the ONE
    * definition [[langid]], [[predLangE]] and therefore [[curate]] /
    * [[graft.streaming.DocStream]] all build from.
    */
  def langScoresE: Seq[(String, Column)] = LangMarkers.map { case (l, ms) =>
    val arr = array(ms.map(lit): _*)
    l -> size(filter(col("words"), w => array_contains(arr, w)))
  }

  /** Marker-word language argmax over `prepared` columns (pure row expr);
    * same scores and tie-break as [[langid]].
    */
  def predLangE: Column = {
    val scores = langScoresE
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("unknown"): Column) { case ((l, sc), acc) =>
      when(sc === best && best > 0, l).otherwise(acc)
    }
  }

  /** Heuristic quality score: length component + non-stopword density +
    * word-length component, bucketed. All inputs integers so the double
    * arithmetic matches the oracle bit-for-bit.
    */
  def quality(spark: SparkSession, dir: String): DataFrame =
    prepared(spark, dir).select(
      col("doc_id"),
      nWordsE.as("n_words"),
      nStopE.as("n_stopwords"),
      (nStopE / nWordsE.cast("double")).as("stop_ratio"),
      qualityScoreE.as("quality_score"),
      qualityBucketE.as("quality_bucket"))

  val qualitySql: String = {
    val stopList = STOPWORDS.map(s => s"'$s'").mkString(", ")
    s"""SELECT doc_id, n_words, n_stopwords,
       |  n_stopwords / CAST(n_words AS DOUBLE) AS stop_ratio,
       |  score AS quality_score,
       |  CASE WHEN score >= 0.75 THEN 'high'
       |       WHEN score >= 0.5 THEN 'medium' ELSE 'low' END AS quality_bucket
       |FROM (
       |  -- all literals cast to DOUBLE: DuckDB's DECIMAL literal arithmetic
       |  -- would otherwise diverge from Spark's double math in the last bit
       |  SELECT doc_id, n_words, n_stopwords,
       |    CAST(0.5 AS DOUBLE) * least(CAST(1.0 AS DOUBLE), n_words / CAST(200.0 AS DOUBLE)) +
       |    CAST(0.3 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - n_stopwords / CAST(n_words AS DOUBLE)) +
       |    CAST(0.2 AS DOUBLE) * least(CAST(1.0 AS DOUBLE), avg_len / CAST(8.0 AS DOUBLE)) AS score
       |  FROM (
       |    SELECT doc_id,
       |      CAST(len(words) AS INT) AS n_words,
       |      CAST(len(list_filter(words, w -> w IN ($stopList))) AS INT) AS n_stopwords,
       |      CAST(length(replace(norm, ' ', '')) AS INT) / CAST(len(words) AS INT) AS avg_len
       |    FROM ($preparedSql)))
       |ORDER BY doc_id""".stripMargin
  }

  // ---- language ID (marker-word heuristic) ----

  /** Marker-word language scores + argmax with a fixed tie-break order.
    * (A real deployment would use char-n-gram profiles; the operator shape —
    * per-language score columns + deterministic argmax — is the same.)
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "es" -> Seq("el", "la", "los"),
    "de" -> Seq("der", "die", "das"),
    "fr" -> Seq("le", "les", "une"),
    "zh" -> Seq("shi", "bu", "wo"))

  def langid(spark: SparkSession, dir: String): DataFrame =
    prepared(spark, dir).select(
      (Seq(col("doc_id"), col("lang"), predLangE.as("pred_lang")) ++
        langScoresE.map { case (l, e) => e.as(s"score_$l") }): _*)

  val langidSql: String = {
    val scoreCols = LangMarkers.map { case (l, ms) =>
      val list = ms.map(m => s"'$m'").mkString(", ")
      s"CAST(len(list_filter(words, w -> w IN ($list))) AS INT) AS score_$l"
    }.mkString(",\n      ")
    val bestExpr = LangMarkers.map { case (l, _) => s"score_$l" }
      .reduce((a, b) => s"greatest($a, $b)")
    // right-fold: first language in declaration order wins ties
    val predExpr = LangMarkers.reverse.foldLeft("'unknown'") { case (acc, (l, _)) =>
      s"CASE WHEN score_$l = best AND best > 0 THEN '$l' ELSE $acc END"
    }
    val outCols = LangMarkers.map { case (l, _) => s"score_$l" }.mkString(", ")
    s"""SELECT doc_id, lang, $predExpr AS pred_lang,
       |  $outCols
       |FROM (
       |  SELECT *, $bestExpr AS best FROM (
       |    SELECT doc_id, lang,
       |      $scoreCols
       |    FROM ($preparedSql)))
       |ORDER BY doc_id""".stripMargin
  }

  // ---- fingerprinting ----

  /** Document fingerprints: md5 of the normalized text + the minimum 60-bit
    * hash over 3-word shingles (winnowing-style representative shingle).
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val shingles = when(size(col("words")) >= 3,
      expr("transform(sequence(0, size(words)-3), i -> concat(words[i], ' ', words[i+1], ' ', words[i+2]))"))
      .otherwise(array(col("norm")))
    prepared(spark, dir)
      .withColumn("sh", explode(shingles))
      .groupBy(col("doc_id"))
      .agg(min(Exprs.hex60(col("sh"))).as("min_shingle_h"),
           first(md5(col("norm").cast("binary"))).as("doc_md5"))
      .select("doc_id", "doc_md5", "min_shingle_h")
  }

  val fingerprintSql: String =
    s"""SELECT doc_id, md5(norm) AS doc_md5,
       |  min(${Exprs.hex60Sql("sh")}) AS min_shingle_h
       |FROM (
       |  SELECT doc_id, norm,
       |    CASE WHEN len(words) >= 3
       |         THEN words[i] || ' ' || words[i+1] || ' ' || words[i+2]
       |         ELSE norm END AS sh
       |  FROM ($preparedSql),
       |       unnest(range(1, CASE WHEN len(words) >= 3 THEN len(words)-1 ELSE 2 END)) AS t(i))
       |GROUP BY doc_id, norm ORDER BY doc_id""".stripMargin

  /** Winnowing fingerprint selection (the MOSS algorithm): over the 3-word
    * shingle hash sequence, every sliding window of `w` consecutive hashes
    * contributes its MINIMUM (rightmost on ties), and the distinct selected
    * (hash, position) pairs are the document's fingerprints. Guarantees any
    * shared run of ≥ w+2 words between two documents shares a fingerprint,
    * at expected density 2/(w+1) — the principled sparse sketch where
    * [[fingerprint]] keeps only the single global min.
    *
    * The rightmost-min tie-break is encoded arithmetically so both engines
    * compute it as a plain integer `min`: key = (h % 2^40)·2^20 +
    * (2^20−1−pos). Positions are bounded by 2^20 shingles per doc (a >1M-word
    * document should be split upstream); hashes are truncated to 40 bits,
    * which only makes hash ties — resolved deterministically — marginally
    * more likely. Scale shape: per-doc windows (parallel across docs, no
    * global sort), explode → window → distinct, all map-side-combinable.
    */
  def winnow(spark: SparkSession, dir: String, w: Int = 4): DataFrame = {
    val HB = 1099511627776L // 2^40
    val PB = 1048576L // 2^20
    // (r21 negative result, kept for the record: a fully row-local form —
    // keys via one array transform, window mins via per-element slice
    // scans, dedup via array_distinct — MEASURED 45 s vs 0.7 s at sf0.1.
    // The md5 keying inside interpreted higher-order-function lambdas
    // loses whole-stage codegen and pays interpreted-expression overhead
    // per shingle; the explode keeps the hashing inside a codegen'd
    // projection and the per-doc window is the cheap part. Contrast
    // d_repetition, where the row-local fold's lambdas are cheap compares
    // and the deleted shuffles dominated.)
    val keyed = prepared(spark, dir).filter(size(col("words")) >= 3)
      .select(col("doc_id"), posexplode(
        expr("transform(sequence(0, size(words)-3), i -> concat(words[i], ' ', words[i+1], ' ', words[i+2]))")))
      .withColumn("key",
        pmod(Exprs.hex60(col("col")), lit(HB)) * PB + (lit(PB - 1) - col("pos")))
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(-(w - 1), Window.currentRow)
    keyed.withColumn("sel_key", min(col("key")).over(win))
      .filter(col("pos") >= w - 1) // complete windows only
      .select(col("doc_id"),
        expr(s"sel_key div ${PB}L").as("sel_hash"),
        (lit(PB - 1) - pmod(col("sel_key"), lit(PB))).cast("int").as("sel_pos"))
      .distinct()
      .orderBy(col("doc_id"), col("sel_pos"))
  }

  def winnowSql(w: Int = 4): String =
    s"""WITH sh AS (
       |  SELECT doc_id, CAST(i - 1 AS INT) AS pos,
       |         words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS sh
       |  FROM (${preparedSql}), unnest(range(1, len(words)-1)) AS t(i)
       |  WHERE len(words) >= 3),
       |keyed AS (
       |  SELECT doc_id, pos,
       |    (${Exprs.hex60Sql("sh")} % 1099511627776) * 1048576 + (1048575 - pos) AS key
       |  FROM sh),
       |win AS (
       |  SELECT doc_id, pos, MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN ${w - 1} PRECEDING AND CURRENT ROW) AS sel_key
       |  FROM keyed)
       |SELECT DISTINCT doc_id,
       |  CAST(sel_key // 1048576 AS BIGINT) AS sel_hash,
       |  CAST(1048575 - (sel_key % 1048576) AS INT) AS sel_pos
       |FROM win WHERE pos >= ${w - 1}
       |ORDER BY doc_id, sel_pos""".stripMargin

  // ---- per-source curation report ----

  /** Per-source corpus report — the summary a curation pass reads before
    * deciding source weights: doc count, quality-bucket histogram, and how
    * many docs are exact duplicates of something in the corpus. All-integer
    * outputs (a cross-engine avg of doubles is NOT deterministic — partial
    * aggregation reorders IEEE addition). Scale shape: md5-groupBy dup
    * counts (map-side combined) + shuffle joins on hash/doc_id + one final
    * per-source agg over a handful of groups.
    */
  def sourceStats(spark: SparkSession, dir: String): DataFrame = {
    val q = quality(spark, dir).select(col("doc_id"), col("quality_bucket"))
    val p = prepared(spark, dir).select(col("doc_id"), col("source"),
      md5(col("norm").cast("binary")).as("h"))
    val dupCounts = p.groupBy(col("h")).agg(count(lit(1)).as("nh"))
    p.join(dupCounts, "h").join(q, "doc_id")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum((col("nh") > 1).cast("long")).as("n_dup_docs"),
        sum((col("quality_bucket") === "high").cast("long")).as("n_high"),
        sum((col("quality_bucket") === "medium").cast("long")).as("n_medium"),
        sum((col("quality_bucket") === "low").cast("long")).as("n_low"))
      .orderBy(col("source"))
  }

  val sourceStatsSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source, md5(norm) AS h FROM ($preparedSql)),
       |dc AS (SELECT h, count(*) AS nh FROM d GROUP BY h),
       |q AS (SELECT doc_id, quality_bucket FROM ($qualitySql))
       |SELECT source,
       |  count(*) AS n_docs,
       |  CAST(sum(CASE WHEN nh > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
       |  CAST(sum(CASE WHEN quality_bucket = 'high' THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
       |  CAST(sum(CASE WHEN quality_bucket = 'medium' THEN 1 ELSE 0 END) AS BIGINT) AS n_medium,
       |  CAST(sum(CASE WHEN quality_bucket = 'low' THEN 1 ELSE 0 END) AS BIGINT) AS n_low
       |FROM d JOIN dc USING (h) JOIN q USING (doc_id)
       |GROUP BY source ORDER BY source""".stripMargin

  // ---- benchmark decontamination ----

  /** Train/test contamination check: for every corpus doc, its strongest
    * 3-gram-shingle overlap with a probe ("benchmark") set — here the docs
    * with `doc_id < probeMax`, in production the benchmark table. The shape
    * every decontamination pass uses: distinct shingles on both sides, an
    * equi-join on the shingle (bucketed by construction — no pairwise doc
    * scan), per-(doc, probe) counts with map-side combine, then a top-1
    * window per doc. Emits only docs that share at least one shingle.
    */
  /** Distinct 3-gram shingles per document (short docs fall back to their
    * whole normalized text) — the ONE shingle relation [[contamination]]
    * and [[containmentPairs]] both build on.
    */
  private def shingles3(spark: SparkSession, dir: String): DataFrame = {
    val sh3 = when(size(col("words")) >= 3,
      expr("transform(sequence(0, size(words)-3), i -> concat(words[i], ' ', words[i+1], ' ', words[i+2]))"))
      .otherwise(array(col("norm")))
    prepared(spark, dir)
      .select(col("doc_id"), explode(array_distinct(sh3)).as("sh"))
  }

  /** SQL mirror of [[shingles3]] (a `SELECT doc_id, sh` relation). */
  private val shingles3Sql: String =
    s"""SELECT DISTINCT doc_id, sh FROM (
       |    SELECT doc_id,
       |      CASE WHEN len(words) >= 3
       |           THEN words[i] || ' ' || words[i+1] || ' ' || words[i+2]
       |           ELSE norm END AS sh
       |    FROM ($preparedSql),
       |         unnest(range(1, CASE WHEN len(words) >= 3 THEN len(words)-1 ELSE 2 END)) AS t(i))""".stripMargin

  /** Per-document n-gram novelty — the share of a doc's distinct 3-gram
    * shingles FIRST seen in that doc (corpus order = doc_id): the
    * monitoring metric a training-data pipeline tracks to catch template
    * floods and boilerplate creep (novelty collapses toward 0 as a
    * near-duplicate wave arrives) and to rank documents by new-content
    * contribution. first-seen = `min(doc_id)` per shingle — ONE hash agg
    * over the shingle relation plus the equi-join back; no pairwise scan,
    * the [[dedupExact]] scale shape on the shingle key.
    */
  def novelty(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingles3(spark, dir)
    val first = sh.groupBy("sh").agg(min("doc_id").as("first_doc"))
    sh.join(first, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      // int/int → double division, bit-identical across engines (the
      // d_quality parity rule: never round at a representation boundary)
      .withColumn("novelty", col("n_novel") / col("n_shingles").cast("double"))
      .orderBy("doc_id")
  }

  val noveltySql: String =
    s"""WITH sh AS (
       |  $shingles3Sql),
       |f AS (SELECT sh, min(doc_id) AS first_doc FROM sh GROUP BY sh)
       |SELECT doc_id,
       |  CAST(count(*) AS BIGINT) AS n_shingles,
       |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |  sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
       |    / CAST(count(*) AS DOUBLE) AS novelty
       |FROM sh JOIN f USING (sh)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Per-source arrival QUALITY-drift monitor — the fourth member of the
    * arrival-monitor family ([[graft.functions.VectorOps.embeddingDrift]]
    * watches WHERE the delta's embeddings sit, [[novelty]] its n-grams,
    * `v_dup_rate_incr` how much is already owned; this watches whether a
    * source's arrivals are getting WORSE): per source, the high-quality
    * permille among base docs vs delta docs (the salted [[Exprs.arrivalSplit]]
    * split, same arrival contract as every incremental operator) and the
    * signed drift. A source whose delta high-permille collapses is a
    * degraded scraper or a spam flood — caught before the docs enter the
    * corpus build.
    *
    * Parity rule: the monitor reports BUCKET COUNTS and integer permille,
    * never a mean of the double score — a double sum's value depends on
    * fold order and would break the cross-engine oracle (the same rule as
    * `v_quantize`'s order-independent error columns).
    *
    * Scale shape: one scan, row-local bucket + split exprs, one
    * |sources|-key hash agg — delta-bound nothing; the whole monitor is a
    * map-side-combined groupBy.
    */
  def qualityDriftIncr(spark: SparkSession, dir: String,
                       deltaMod: Int = 5): DataFrame = {
    val d = prepared(spark, dir).select(
      col("source"),
      (Exprs.arrivalSplit(col("doc_id"), deltaMod) === 0).as("is_delta"),
      (qualityBucketE =!= "low").as("ok"))
    d.groupBy("source").agg(
      sum(when(!col("is_delta"), 1L).otherwise(0L)).as("n_base"),
      sum(when(col("is_delta"), 1L).otherwise(0L)).as("n_delta"),
      sum(when(!col("is_delta") && col("ok"), 1L).otherwise(0L)).as("ok_base"),
      sum(when(col("is_delta") && col("ok"), 1L).otherwise(0L)).as("ok_delta"))
      // permille via exact integer division; sources with an empty side
      // report -1 (distinguishable from a true 0‰) instead of dividing by 0
      .withColumn("ok_pm_base",
        when(col("n_base") > 0, expr("ok_base * 1000L div n_base")).otherwise(-1L))
      .withColumn("ok_pm_delta",
        when(col("n_delta") > 0, expr("ok_delta * 1000L div n_delta")).otherwise(-1L))
      .withColumn("drift_pm",
        when(col("n_base") > 0 && col("n_delta") > 0,
          col("ok_pm_delta") - col("ok_pm_base")).otherwise(lit(null).cast("long")))
      .select("source", "n_base", "n_delta", "ok_base", "ok_delta",
        "ok_pm_base", "ok_pm_delta", "drift_pm")
      .orderBy("source")
  }

  def qualityDriftIncrSql(deltaMod: Int = 5): String =
    s"""WITH d AS (
       |  SELECT source,
       |    (${Exprs.arrivalSplitSql("doc_id", deltaMod)}) = 0 AS is_delta,
       |    quality_bucket <> 'low' AS ok
       |  FROM ($qualitySql) q
       |  JOIN (SELECT doc_id AS qid, source FROM documents) s ON s.qid = q.doc_id),
       |agg AS (
       |  SELECT source,
       |    CAST(sum(CASE WHEN NOT is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
       |    CAST(sum(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
       |    CAST(sum(CASE WHEN NOT is_delta AND ok THEN 1 ELSE 0 END) AS BIGINT) AS ok_base,
       |    CAST(sum(CASE WHEN is_delta AND ok THEN 1 ELSE 0 END) AS BIGINT) AS ok_delta
       |  FROM d GROUP BY source)
       |SELECT source, n_base, n_delta, ok_base, ok_delta,
       |  CASE WHEN n_base > 0 THEN ok_base * 1000 // n_base ELSE -1 END AS ok_pm_base,
       |  CASE WHEN n_delta > 0 THEN ok_delta * 1000 // n_delta ELSE -1 END AS ok_pm_delta,
       |  CASE WHEN n_base > 0 AND n_delta > 0
       |       THEN (ok_delta * 1000 // n_delta) - (ok_base * 1000 // n_base)
       |       ELSE NULL END AS drift_pm
       |FROM agg ORDER BY source""".stripMargin

  /** Admission-threshold retune — the ACTION [[qualityDriftIncr]]'s
    * collapsing delta keep-rate feeds: when a source's arrivals degrade,
    * the deployed fixed threshold (score ≥ 0.5, the `quality_bucket ≠
    * low` gate every curate path uses) either floods the corpus with the
    * degraded tail or, for an improving source, throttles it — the knob a
    * deployment actually turns is the per-source threshold that RESTORES
    * the base keep-rate on the delta. Computed by exact order statistics,
    * not approximate quantiles: rank the delta's scores (score desc,
    * doc_id asc — total order, so both engines pick the same row), take
    * `target_keep = n_delta * keep_base div n_base` and read `tau` off
    * the rank-target_keep row; `keep_retuned` counts score ≥ tau
    * (tie-inclusive, so it can exceed target_keep by the tie width —
    * reported rather than hidden). Sentinels: sources with an empty side
    * report -1 permille; tau is null when target_keep = 0 (nothing may
    * pass) and keep_retuned is then 0.
    *
    * Scale shape: one scan + |sources|-key agg for the rates; the ranking
    * window partitions by source over DELTA rows only (the increment,
    * not the corpus); no global window, no driver-side quantile state.
    * `percentile_approx` would be cheaper still at 100 TB but trades the
    * exact cross-engine contract for an epsilon — the exact form is the
    * oracle-checkable reference; swap in the sketch only when the rank
    * shuffle measures as the bottleneck.
    */
  def qualityRequota(spark: SparkSession, dir: String,
                     deltaMod: Int = 5): DataFrame = {
    val d = prepared(spark, dir).select(
      col("doc_id"), col("source"),
      (Exprs.arrivalSplit(col("doc_id"), deltaMod) === 0).as("is_delta"),
      qualityScoreE.as("score"))
    val agg0 = d.groupBy("source").agg(
      sum(when(!col("is_delta"), 1L).otherwise(0L)).as("n_base"),
      sum(when(col("is_delta"), 1L).otherwise(0L)).as("n_delta"),
      sum(when(!col("is_delta") && col("score") >= 0.5, 1L).otherwise(0L))
        .as("keep_base"),
      sum(when(col("is_delta") && col("score") >= 0.5, 1L).otherwise(0L))
        .as("keep_delta"))
      .withColumn("target_keep",
        when(col("n_base") > 0, expr("n_delta * keep_base div n_base"))
          .otherwise(lit(null).cast("long")))
    val wd = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("doc_id"))
    val ranked = d.filter(col("is_delta"))
      .withColumn("rk", row_number().over(wd))
    val tau = ranked
      .join(agg0.select(col("source"), col("target_keep")), "source")
      .filter(col("rk") === col("target_keep"))
      .select(col("source"), col("score").as("tau"))
    val retuned = ranked.join(tau, "source")
      .filter(col("score") >= col("tau"))
      .groupBy("source").agg(count(lit(1)).as("n_retuned"))
    agg0.join(tau, Seq("source"), "left").join(retuned, Seq("source"), "left")
      .select(col("source"), col("n_base"), col("n_delta"),
        when(col("n_base") > 0, expr("keep_base * 1000L div n_base"))
          .otherwise(-1L).as("keep_pm_base"),
        when(col("n_delta") > 0, expr("keep_delta * 1000L div n_delta"))
          .otherwise(-1L).as("keep_pm_delta"),
        col("target_keep"), col("tau"),
        coalesce(col("n_retuned"), lit(0L)).as("keep_retuned"),
        when(col("n_delta") > 0,
          expr("coalesce(n_retuned, cast(0 as bigint)) * 1000 div n_delta"))
          .otherwise(-1L).as("keep_retuned_pm"))
      .orderBy("source")
  }

  def qualityRequotaSql(deltaMod: Int = 5): String =
    s"""WITH d AS (
       |  SELECT q.doc_id, s.source,
       |    (${Exprs.arrivalSplitSql("q.doc_id", deltaMod)}) = 0 AS is_delta,
       |    q.quality_score AS score
       |  FROM ($qualitySql) q
       |  JOIN (SELECT doc_id AS sid, source FROM documents) s ON s.sid = q.doc_id),
       |agg0 AS (
       |  SELECT source,
       |    CAST(sum(CASE WHEN NOT is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
       |    CAST(sum(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
       |    CAST(sum(CASE WHEN NOT is_delta AND score >= 0.5 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS keep_base,
       |    CAST(sum(CASE WHEN is_delta AND score >= 0.5 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS keep_delta
       |  FROM d GROUP BY source),
       |t AS (
       |  SELECT *, CASE WHEN n_base > 0
       |    THEN CAST(n_delta * keep_base // n_base AS BIGINT) END AS target_keep
       |  FROM agg0),
       |ranked AS (
       |  SELECT source, doc_id, score,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |                       ORDER BY score DESC, doc_id) AS rk
       |  FROM d WHERE is_delta),
       |tau AS (
       |  SELECT r.source, r.score AS tau
       |  FROM ranked r JOIN t ON r.source = t.source AND r.rk = t.target_keep),
       |ret AS (
       |  SELECT r.source, CAST(count(*) AS BIGINT) AS n_retuned
       |  FROM ranked r JOIN tau ON r.source = tau.source AND r.score >= tau.tau
       |  GROUP BY r.source)
       |SELECT t.source, n_base, n_delta,
       |  CASE WHEN n_base > 0 THEN keep_base * 1000 // n_base ELSE -1 END
       |    AS keep_pm_base,
       |  CASE WHEN n_delta > 0 THEN keep_delta * 1000 // n_delta ELSE -1 END
       |    AS keep_pm_delta,
       |  target_keep, tau.tau AS tau,
       |  COALESCE(n_retuned, 0) AS keep_retuned,
       |  CASE WHEN n_delta > 0 THEN COALESCE(n_retuned, 0) * 1000 // n_delta
       |       ELSE -1 END AS keep_retuned_pm
       |FROM t LEFT JOIN tau ON t.source = tau.source
       |       LEFT JOIN ret ON t.source = ret.source
       |ORDER BY t.source""".stripMargin

  /** Bounded-memory distinct counting — the K-minimum-values sketch, the
    * SURVEY §7.2 "approx distinct" north-star done with an EXACT
    * cross-engine contract instead of `approx_count_distinct` (whose HLL
    * bytes differ per engine and cannot be oracled): per source, keep the
    * `k` smallest [[graft.Exprs.hex60]] hashes of the distinct words; the
    * classic KMV estimator `(k-1) · 2^60 / h_k` (h_k = k-th smallest)
    * estimates the distinct count from a k-value state, and the report
    * prices it against the exact count as integer permille error. Both
    * engines hash with the same md5 prefix and run the same IEEE double
    * estimate, so the differential is exact — the sketch is
    * "approximate" w.r.t. the truth, never w.r.t. the oracle.
    *
    * Distinctness is by HASH (the value the sketch actually sees — a
    * 2^-60 collision would fold two words on both engines identically).
    * Scale shape: one distinct-hash agg, one per-source top-k window
    * over distinct hashes, one |sources|-key fold. At 100 TB the point
    * is the SERVING state: k longs per source replaces the
    * |vocabulary|-sized exact distinct state; the exact column here is
    * the verification harness, priced by the err_pm column it enables.
    */
  def distinctKmv(spark: SparkSession, dir: String, k: Int = 16): DataFrame = {
    val dw = prepared(spark, dir)
      .select(col("source"), explode(col("words")).as("w"))
      .select(col("source"),
        graft.Exprs.hex60(concat(lit("kmv:"), col("w"))).as("h"))
      .distinct()
    val exact = dw.groupBy("source").agg(count(lit(1)).as("n_exact"))
    val topk = Exprs.keepTop(dw, Seq(col("source")), Seq(col("h")), k, "rk")
      .groupBy("source").agg(max(col("h")).as("h_k"), count(lit(1)).as("n_k"))
    exact.join(topk, "source")
      .select(col("source"), col("n_exact"), col("h_k"),
        when(col("n_k") < k, col("n_exact"))
          .otherwise(expr(s"CAST(floor((${k - 1}.0d * 1152921504606846976.0d) / h_k) AS BIGINT)"))
          .as("est"))
      .withColumn("err_pm",
        expr("abs(est - n_exact) * 1000L div n_exact"))
      .orderBy("source")
  }

  def distinctKmvSql(k: Int = 16): String =
    s"""WITH dw AS (
       |  SELECT DISTINCT source, ${graft.Exprs.hex60Sql("'kmv:' || w")} AS h
       |  FROM (SELECT source, unnest(words) AS w FROM ($preparedSql))),
       |exact AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_exact FROM dw GROUP BY source),
       |topk AS (
       |  SELECT source, max(h) AS h_k, count(*) AS n_k FROM (
       |    SELECT source, h,
       |      ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk
       |    FROM dw)
       |  WHERE rk <= $k GROUP BY source)
       |SELECT source, n_exact, h_k,
       |  CAST(est AS BIGINT) AS est,
       |  CAST(abs(est - n_exact) * 1000 // n_exact AS BIGINT) AS err_pm
       |FROM (
       |  SELECT e.source, n_exact, h_k,
       |    CASE WHEN n_k < $k THEN n_exact
       |         ELSE CAST(floor((CAST(${k - 1}.0 AS DOUBLE) * CAST(1152921504606846976.0 AS DOUBLE)) / h_k) AS BIGINT)
       |         END AS est
       |  FROM exact e JOIN topk USING (source))
       |ORDER BY source""".stripMargin

  /** Bounded-memory frequency estimation — the Count-Min sketch, the
    * frequency-counting sibling of [[distinctKmv]] with the same
    * cross-engine contract: `depth` salted [[graft.Exprs.hex60]] hash rows
    * of `width` counters each; a term's estimate is the MIN of its
    * `depth` bucket counters, which can only OVER-estimate (every
    * colliding term adds mass, none removes it), so `over_pm =
    * (est − n_exact)·1000 div n_exact` is a nonnegative integer both
    * engines compute identically. The report prices the sketch on the
    * top-`k` exact terms (deterministic tie-break by term).
    *
    * Scale shape: the serving state is `depth·width` longs REGARDLESS of
    * vocabulary size — the 100 TB answer to [[topTerms]]' exact
    * |vocab|-sized count table; one word-count agg builds the counters,
    * and the candidate probe is `k·depth`-bounded with both small sides
    * (`k` candidates, `depth·width` counters) explicitly broadcast. The
    * exact column is the verification harness the sketch is priced
    * against, same posture as the KMV tier.
    */
  /** Corpus-wide exact word counts — the verification side both CMS
    * reports price against. SharedRel key `wordcounts` (consumers:
    * [[heavyHitters]], [[hhWiden]]): each report's plan reads the count
    * relation many times (three hash-row branches plus the counter and
    * probe sides), so an unmaterialized build re-ran the explode+agg up
    * to 9× per query — the r19 sorted-order `d_hh_widen` adjacency spike.
    * Vocabulary-bounded rows, one explode+agg pass to build.
    */
  private def wordCounts(spark: SparkSession, dir: String): DataFrame =
    graft.SharedRel(spark, s"wordcounts|$dir")(
      prepared(spark, dir)
        .select(explode(col("words")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n_exact")))

  def heavyHitters(spark: SparkSession, dir: String, depth: Int = 3,
                   width: Int = 64, k: Int = 20): DataFrame = {
    val cnt = wordCounts(spark, dir)
    val buckets = (0 until depth).map { r =>
      cnt.select(lit(r).as("r"),
        (Exprs.hex60(concat(lit(s"cms$r:"), col("w"))) % lit(width.toLong)).as("bkt"),
        col("w"), col("n_exact"))
    }.reduce(_.unionByName(_))
    val counters = buckets.groupBy("r", "bkt").agg(sum("n_exact").as("c"))
    val cand = cnt.orderBy(col("n_exact").desc, col("w")).limit(k)
    buckets.join(broadcast(cand.select(col("w"))), "w")
      .join(broadcast(counters), Seq("r", "bkt"))
      .groupBy(col("w"), col("n_exact"))
      .agg(min(col("c")).as("est"))
      .select(col("w").as("term"), col("n_exact"), col("est"),
        expr("(est - n_exact) * 1000L div n_exact").as("over_pm"))
      .orderBy(col("n_exact").desc, col("term"))
  }

  def heavyHittersSql(depth: Int = 3, width: Int = 64, k: Int = 20): String = {
    require(depth == 3, "oracle SQL unrolls exactly 3 hash rows")
    s"""WITH p AS ($preparedSql),
       |cnt AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS n_exact
       |  FROM (SELECT unnest(words) AS w FROM p) GROUP BY w),
       |bkts AS (
       |  SELECT 0 AS r, w, n_exact,
       |         ${Exprs.hex60Sql("'cms0:' || w")} % $width AS bkt FROM cnt
       |  UNION ALL SELECT 1, w, n_exact,
       |         ${Exprs.hex60Sql("'cms1:' || w")} % $width FROM cnt
       |  UNION ALL SELECT 2, w, n_exact,
       |         ${Exprs.hex60Sql("'cms2:' || w")} % $width FROM cnt),
       |counters AS (
       |  SELECT r, bkt, CAST(sum(n_exact) AS BIGINT) AS c
       |  FROM bkts GROUP BY 1, 2),
       |cand AS (SELECT w FROM cnt ORDER BY n_exact DESC, w LIMIT $k)
       |SELECT b.w AS term, b.n_exact,
       |  CAST(min(c.c) AS BIGINT) AS est,
       |  CAST((min(c.c) - b.n_exact) * 1000 // b.n_exact AS BIGINT) AS over_pm
       |FROM bkts b JOIN cand USING (w) JOIN counters c USING (r, bkt)
       |GROUP BY b.w, b.n_exact
       |ORDER BY b.n_exact DESC, term""".stripMargin
  }

  /** Sketch-widening action — what a deployment does when
    * [[heavyHitters]]' over_pm monitor reads hot: double the counter
    * width and price the fidelity recovered. Both widths share ONE
    * hash, so the coarse bucket is the fold of its two children
    * (`h % 64 == (h % 128) % 64` ⇒ counter64[b] = counter128[b] +
    * counter128[b+64]): the wide sketch strictly REFINES the narrow
    * one, per-row counters can only shrink, and `est_w128 ≤ est_w64`
    * holds for every term by construction — `recovered_pm =
    * over_w64_pm − over_w128_pm` is a nonnegative integer both engines
    * agree on (the monotone-refinement invariant the spec pins; two
    * independently-hashed sketches would NOT guarantee it per-term).
    *
    * Scale shape: identical to [[heavyHitters]] — one word-count agg
    * feeds both widths' counters (the wide relation is built once, the
    * narrow is a second k-bounded agg of the same rows), candidate and
    * counter probe sides broadcast, serving state depth·width longs.
    */
  def hhWiden(spark: SparkSession, dir: String, depth: Int = 3,
              width: Int = 64, k: Int = 20): DataFrame = {
    val wide = width * 2
    val cnt = wordCounts(spark, dir)
    val buckets = (0 until depth).map { r =>
      cnt.select(lit(r).as("r"), col("w"), col("n_exact"),
        (Exprs.hex60(concat(lit(s"cms$r:"), col("w"))) % lit(wide.toLong)).as("bw"))
    }.reduce(_.unionByName(_))
      .withColumn("bn", col("bw") % lit(width.toLong))
    val countersWide = buckets.groupBy("r", "bw").agg(sum("n_exact").as("cw"))
    val countersNarrow = buckets.groupBy("r", "bn").agg(sum("n_exact").as("cn"))
    val cand = cnt.orderBy(col("n_exact").desc, col("w")).limit(k)
    buckets.join(broadcast(cand.select(col("w"))), "w")
      .join(broadcast(countersWide), Seq("r", "bw"))
      .join(broadcast(countersNarrow), Seq("r", "bn"))
      .groupBy(col("w"), col("n_exact"))
      .agg(min(col("cn")).as("est_w64"), min(col("cw")).as("est_w128"))
      .select(col("w").as("term"), col("n_exact"),
        col("est_w64"), col("est_w128"),
        expr("(est_w64 - n_exact) * 1000L div n_exact").as("over_w64_pm"),
        expr("(est_w128 - n_exact) * 1000L div n_exact").as("over_w128_pm"))
      .withColumn("recovered_pm", col("over_w64_pm") - col("over_w128_pm"))
      .orderBy(col("n_exact").desc, col("term"))
  }

  def hhWidenSql(depth: Int = 3, width: Int = 64, k: Int = 20): String = {
    require(depth == 3, "oracle SQL unrolls exactly 3 hash rows")
    val wide = width * 2
    s"""WITH p AS ($preparedSql),
       |cnt AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS n_exact
       |  FROM (SELECT unnest(words) AS w FROM p) GROUP BY w),
       |bkts AS (
       |  SELECT r, w, n_exact, bw, bw % $width AS bn FROM (
       |    SELECT 0 AS r, w, n_exact,
       |           ${Exprs.hex60Sql("'cms0:' || w")} % $wide AS bw FROM cnt
       |    UNION ALL SELECT 1, w, n_exact,
       |           ${Exprs.hex60Sql("'cms1:' || w")} % $wide FROM cnt
       |    UNION ALL SELECT 2, w, n_exact,
       |           ${Exprs.hex60Sql("'cms2:' || w")} % $wide FROM cnt)),
       |cw AS (SELECT r, bw, CAST(sum(n_exact) AS BIGINT) AS cw
       |       FROM bkts GROUP BY 1, 2),
       |cn AS (SELECT r, bn, CAST(sum(n_exact) AS BIGINT) AS cn
       |       FROM bkts GROUP BY 1, 2),
       |cand AS (SELECT w FROM cnt ORDER BY n_exact DESC, w LIMIT $k),
       |folded AS (
       |  SELECT b.w AS term, b.n_exact,
       |    CAST(min(cn.cn) AS BIGINT) AS est_w64,
       |    CAST(min(cw.cw) AS BIGINT) AS est_w128
       |  FROM bkts b JOIN cand USING (w)
       |    JOIN cw USING (r, bw) JOIN cn USING (r, bn)
       |  GROUP BY b.w, b.n_exact)
       |SELECT term, n_exact, est_w64, est_w128,
       |  CAST((est_w64 - n_exact) * 1000 // n_exact AS BIGINT) AS over_w64_pm,
       |  CAST((est_w128 - n_exact) * 1000 // n_exact AS BIGINT) AS over_w128_pm,
       |  CAST((est_w64 - n_exact) * 1000 // n_exact
       |     - (est_w128 - n_exact) * 1000 // n_exact AS BIGINT) AS recovered_pm
       |FROM folded
       |ORDER BY n_exact DESC, term""".stripMargin
  }

  // ---- Bloom membership sketch (bounded-state set membership) ----

  /** The membership boundary the Bloom tier screens: "base" is
    * yesterday's corpus (the same hex60("inc:"||doc_id) % deltaMod split
    * convention as the incremental-build chain), probes are the DISTINCT
    * 3-shingles of today's arrivals ([[shingles3]] is the one shingle
    * relation the whole contamination family shares). Session-shared:
    * the member report, the prefilter action and both stats-sweep sizes
    * all start from these two relations.
    */
  private def bloomSplit(spark: SparkSession, dir: String,
                         deltaMod: Int): (DataFrame, DataFrame) =
    graft.SharedRel.once(spark, s"bloomsplit|$dir|$deltaMod") {
      // ONE distinct over (shingle, side) — base and probes are then
      // projections of the same checkpointed relation (two separate
      // explode+distinct passes measured 6.5 s vs 4.1 s at sf0.1; a
      // shingle living on both sides keeps one row per side, which is
      // exactly the two DISTINCT sets)
      val sides = Materialize(
        shingles3(spark, dir).select(col("sh").as("shingle"),
            (Exprs.arrivalSplit(col("doc_id"), deltaMod) === 0).as("is_delta"))
          .distinct())
      (sides.filter(!col("is_delta")).select("shingle"),
       sides.filter(col("is_delta")).select("shingle"))
    }

  private def bloomPosE(i: Int, s: Column, m: Int): Column =
    Exprs.hex60(concat(lit(s"bf$i:"), s)) % lit(m.toLong)

  /** The filter itself: the distinct set positions of the base shingles
    * under `k` salted [[graft.Exprs.hex60]] hashes into `m` buckets —
    * ≤ m rows standing in for the m-BIT bitmap a serving deployment
    * broadcasts (the relation form is what a SQL oracle can see; the
    * semantics are identical). Session-shared per (m, k).
    */
  private[graft] def bloomBits(spark: SparkSession, dir: String, m: Int, k: Int,
                               deltaMod: Int): DataFrame =
    graft.SharedRel(spark, s"bloombits|$dir|$deltaMod|$m|$k") {
      val (base, _) = bloomSplit(spark, dir, deltaMod)
      base.select(explode(array((0 until k).map(i =>
          bloomPosE(i, col("shingle"), m)): _*)).as("pos"))
        .distinct()
    }

  /** Per-probe verdict relation: a probe shingle is `bloom_seen` iff ALL
    * `k` of its positions are set; `exact_seen` is the ground-truth base
    * join. A Bloom filter has NO false negatives — `fn` is constructible
    * in the verdict CASE but unreachable (PropertySpec asserts it never
    * fires on random corpora), so `bloom_seen=false` is a PROOF of
    * novelty and the serving side may skip the exact index for those
    * rows ([[bloomPrefilter]] is that action).
    */
  private def bloomProbe(spark: SparkSession, dir: String, m: Int, k: Int,
                         deltaMod: Int): DataFrame =
    graft.SharedRel(spark, s"bloomprobe|$dir|$deltaMod|$m|$k") {
      val (base, probes) = bloomSplit(spark, dir, deltaMod)
      val bits = bloomBits(spark, dir, m, k, deltaMod)
      val pp = probes.select(col("shingle"),
        explode(array((0 until k).map(i =>
          bloomPosE(i, col("shingle"), m)): _*)).as("pos"))
      // the bitmap side broadcasts (≤ m narrow rows — the 8 KB serving
      // artifact); counting non-null matches of exactly k rows per probe
      // is the ALL-positions-set test (duplicate positions from intra-item
      // hash collisions match or miss identically on every arm)
      val bloomSeen = pp
        .join(broadcast(bits.withColumn("hit", lit(1L))), Seq("pos"), "left")
        .groupBy("shingle")
        .agg((count(col("hit")) === k).as("bloom_seen"))
      val exact = base.withColumn("exact_seen", lit(true))
      probes.join(bloomSeen, "shingle")
        .join(exact, Seq("shingle"), "left")
        .withColumn("exact_seen", coalesce(col("exact_seen"), lit(false)))
        .withColumn("verdict",
          when(col("bloom_seen") && col("exact_seen"), "tp")
            .when(col("bloom_seen") && !col("exact_seen"), "fp")
            .when(!col("bloom_seen") && !col("exact_seen"), "tn")
            .otherwise("fn"))
    }

  /** Bounded-memory set membership — the Bloom filter, fourth member of
    * the sketch family ([[distinctKmv]] distinct / [[heavyHitters]]
    * frequency / [[quantileSketch]] rank) with the same cross-engine
    * contract: both engines hash with the same salted md5 prefixes and
    * compute the identical verdict per probe shingle, so the sketch is
    * approximate w.r.t. the truth, never w.r.t. the oracle.
    *
    * Scale shape: the serving state is `m` BITS regardless of corpus
    * size — the 100 TB answer to keeping the full base shingle set hot
    * for ingest screening; the filter build is one distinct-position agg
    * over the base, the probe is a broadcast join against the bitmap
    * stand-in plus one |probes|-key fold, and the exact column is the
    * verification harness the sketch is priced against.
    */
  def bloomShingles(spark: SparkSession, dir: String, m: Int = 65536,
                    k: Int = 3, deltaMod: Int = 10): DataFrame =
    bloomProbe(spark, dir, m, k, deltaMod)
      .select(col("shingle"), col("bloom_seen"), col("exact_seen"),
        col("verdict"))
      .orderBy("shingle")

  private def bloomArmsSql(src: String, m: Int, k: Int): String =
    (0 until k).map { i =>
      s"SELECT shingle, ${Exprs.hex60Sql(s"'bf$i:' || shingle")} % $m AS pos FROM $src"
    }.mkString("\n  UNION ALL ")

  private def bloomCoreSql(m: Int, k: Int, deltaMod: Int): String =
    s"""spl AS (
       |  SELECT sh AS shingle,
       |    ${Exprs.arrivalSplitSql("doc_id", deltaMod)} = 0 AS is_delta
       |  FROM ($shingles3Sql)),
       |base AS (SELECT DISTINCT shingle FROM spl WHERE NOT is_delta),
       |probes AS (SELECT DISTINCT shingle FROM spl WHERE is_delta),
       |bits AS (SELECT DISTINCT pos FROM (
       |  ${bloomArmsSql("base", m, k)})),
       |pp AS (
       |  ${bloomArmsSql("probes", m, k)}),
       |bl AS (
       |  SELECT pp.shingle, count(bits.pos) = $k AS bloom_seen
       |  FROM pp LEFT JOIN bits ON pp.pos = bits.pos GROUP BY pp.shingle),
       |pv AS (
       |  SELECT p.shingle, bl.bloom_seen, base.shingle IS NOT NULL AS exact_seen,
       |    CASE WHEN bl.bloom_seen AND base.shingle IS NOT NULL THEN 'tp'
       |         WHEN bl.bloom_seen THEN 'fp'
       |         WHEN base.shingle IS NULL THEN 'tn'
       |         ELSE 'fn' END AS verdict
       |  FROM probes p JOIN bl ON p.shingle = bl.shingle
       |  LEFT JOIN base ON p.shingle = base.shingle)""".stripMargin

  def bloomShinglesSql(m: Int = 65536, k: Int = 3, deltaMod: Int = 10): String =
    s"""WITH ${bloomCoreSql(m, k, deltaMod)}
       |SELECT shingle, bloom_seen, exact_seen, verdict FROM pv
       |ORDER BY shingle""".stripMargin

  /** The membership monitor's ACTION — serve the ingest overlap check
    * with the Bloom prefilter: probes the filter proves novel
    * (`bloom_seen = false`) skip the exact base-index join entirely;
    * only the maybe subset pays it. `seen` is row-identical to
    * [[bloomShingles]]' `exact_seen` (the no-false-negative guarantee —
    * spec-asserted differentially), while the expensive equi-join's
    * probe side shrinks by the `saved_pm` share [[bloomStats]] prices.
    * At 100 TB the base index is a disk-resident table and the filter
    * is an 8 KB broadcast bitmap: this is the canonical workload cut.
    */
  def bloomPrefilter(spark: SparkSession, dir: String, m: Int = 65536,
                     k: Int = 3, deltaMod: Int = 10): DataFrame = {
    val (base, _) = bloomSplit(spark, dir, deltaMod)
    val pv = bloomProbe(spark, dir, m, k, deltaMod)
    // ONLY the maybe subset reaches the exact join — the plan the action
    // is about (PlanAuditSpec pins the filter under the join)
    val confirmed = pv.filter(col("bloom_seen")).select("shingle")
      .join(base, Seq("shingle"), "left_semi")
      .withColumn("seen", lit(true))
    pv.select(col("shingle"), col("bloom_seen").as("probed"))
      .join(confirmed, Seq("shingle"), "left")
      .withColumn("seen", coalesce(col("seen"), lit(false)))
      .orderBy("shingle")
  }

  def bloomPrefilterSql(m: Int = 65536, k: Int = 3, deltaMod: Int = 10): String =
    s"""WITH ${bloomCoreSql(m, k, deltaMod)},
       |confirmed AS (
       |  SELECT shingle FROM pv JOIN base USING (shingle)
       |  WHERE bloom_seen)
       |SELECT pv.shingle, pv.bloom_seen AS probed,
       |  confirmed.shingle IS NOT NULL AS seen
       |FROM pv LEFT JOIN confirmed ON pv.shingle = confirmed.shingle
       |ORDER BY pv.shingle""".stripMargin

  /** The sizing-sweep report a deployment reads before choosing `m`:
    * one row per candidate (m, k) with the filter's fill, false-positive
    * permille among true novelties, and the share of the exact-join
    * workload the prefilter saves. All-integer permille math; divisions
    * guarded so a degenerate corpus yields -1 sentinels on both engines
    * (the bm25IndexStats empty-corpus lesson). The sweep deliberately
    * includes an UNDERSIZED row — (32768, 2) runs at high fill on
    * testdata — so the false-positive path and the prefilter's
    * exact-join rescue are exercised at query level, not merely
    * constructible (the fp branch was dead at the two right-sized
    * configs).
    */
  def bloomStats(spark: SparkSession, dir: String,
                 sizes: Seq[(Int, Int)] =
                   Seq((32768, 2), (65536, 3), (262144, 4)),
                 deltaMod: Int = 10): DataFrame = {
    val (base, probes) = bloomSplit(spark, dir, deltaMod)
    val nBase = base.agg(count(lit(1)).as("n_base"))
    val nProbes = probes.agg(count(lit(1)).as("n_probes"))
    sizes.map { case (m, k) =>
      val bitsSet = bloomBits(spark, dir, m, k, deltaMod)
        .agg(count(lit(1)).as("bits_set"))
      val pv = bloomProbe(spark, dir, m, k, deltaMod).agg(
        sum(when(col("bloom_seen"), 1L).otherwise(0L)).as("n_maybe"),
        sum(when(col("exact_seen"), 1L).otherwise(0L)).as("n_seen"))
      nBase.crossJoin(broadcast(nProbes)).crossJoin(broadcast(bitsSet))
        .crossJoin(broadcast(pv))
        .select(lit(m).cast("long").as("m"), lit(k).cast("long").as("k"),
          col("n_base"), col("bits_set"),
          expr(s"bits_set * 1000L div ${m}L").as("fill_pm"),
          col("n_probes"),
          coalesce(col("n_maybe"), lit(0L)).as("n_maybe"),
          coalesce(col("n_seen"), lit(0L)).as("n_seen"))
        .withColumn("n_fp", col("n_maybe") - col("n_seen"))
        .withColumn("fp_pm", expr(
          "CASE WHEN n_probes > n_seen THEN n_fp * 1000L div (n_probes - n_seen) ELSE -1L END"))
        .withColumn("saved_pm", expr(
          "CASE WHEN n_probes > 0 THEN (n_probes - n_maybe) * 1000L div n_probes ELSE -1L END"))
    }.reduce(_.unionByName(_)).orderBy("m")
  }

  def bloomStatsSql(sizes: Seq[(Int, Int)] =
                      Seq((32768, 2), (65536, 3), (262144, 4)),
                    deltaMod: Int = 10): String = {
    val arms = sizes.map { case (m, k) =>
      s"""SELECT ${m}::BIGINT AS m, ${k}::BIGINT AS k,
         |  (SELECT count(*) FROM base)::BIGINT AS n_base,
         |  (SELECT count(*) FROM (SELECT DISTINCT pos FROM (
         |     ${bloomArmsSql("base", m, k)})))::BIGINT AS bits_set,
         |  (SELECT count(*) FROM probes)::BIGINT AS n_probes,
         |  (SELECT count(*) FROM (
         |     SELECT pp.shingle FROM (${bloomArmsSql("probes", m, k)}) pp
         |     LEFT JOIN (SELECT DISTINCT pos FROM (
         |       ${bloomArmsSql("base", m, k)})) bits ON pp.pos = bits.pos
         |     GROUP BY pp.shingle HAVING count(bits.pos) = $k))::BIGINT AS n_maybe,
         |  (SELECT count(*) FROM probes JOIN base USING (shingle))::BIGINT AS n_seen""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH spl AS (
       |  SELECT sh AS shingle,
       |    ${Exprs.arrivalSplitSql("doc_id", deltaMod)} = 0 AS is_delta
       |  FROM (${shingles3Sql})),
       |base AS (SELECT DISTINCT shingle FROM spl WHERE NOT is_delta),
       |probes AS (SELECT DISTINCT shingle FROM spl WHERE is_delta),
       |raw AS (
       |$arms)
       |SELECT m, k, n_base, bits_set, bits_set * 1000 // m AS fill_pm,
       |  n_probes, n_maybe, n_seen, n_maybe - n_seen AS n_fp,
       |  CASE WHEN n_probes > n_seen
       |       THEN (n_maybe - n_seen) * 1000 // (n_probes - n_seen)
       |       ELSE -1 END AS fp_pm,
       |  CASE WHEN n_probes > 0 THEN (n_probes - n_maybe) * 1000 // n_probes
       |       ELSE -1 END AS saved_pm
       |FROM raw ORDER BY m""".stripMargin
  }

  /** The membership sketch's MAINTENANCE op — the lifecycle step after
    * [[bloomShingles]] (monitor) and [[bloomPrefilter]] (serve): fold the
    * day's genuinely-novel shingles into the frozen bitmap (a Bloom
    * filter is append-only — OR-ing positions is the entire merge, no
    * rebuild), price the fill creep, and make the RESIZE call: when the
    * grown fill crosses `resizePm` the report also prices the rebuild at
    * 2m over base ∪ arrivals — the m-doubling decision a serving
    * deployment actually takes (the [[heavyHitters]]→[[hhWiden]] shape,
    * applied to the filter's own capacity planning).
    *
    * Scale shape: the merge is one ≤(m + k·|novel|)-row distinct union —
    * O(delta) against the frozen ≤m-row state, never a base re-scan; the
    * 2m rebuild arm is the only base-wide pass and is exactly what the
    * resize pays in production. All counts fold to one row of integers.
    */
  def bloomGrow(spark: SparkSession, dir: String, m: Int = 65536,
                k: Int = 3, deltaMod: Int = 10,
                resizePm: Long = 500L): DataFrame = {
    val (base, probes) = bloomSplit(spark, dir, deltaMod)
    val bits = bloomBits(spark, dir, m, k, deltaMod)
    val novel = bloomProbe(spark, dir, m, k, deltaMod)
      .filter(!col("exact_seen")).select("shingle")
    val grown = bits.select("pos").union(
      novel.select(explode(array((0 until k).map(i =>
        bloomPosE(i, col("shingle"), m)): _*)).as("pos"))).distinct()
    val m2 = m * 2
    // the resize alternative: rebuild at 2m over the merged shingle set
    // (base ∪ probes ≡ base ∪ novel — seen probes are already members)
    val rebuilt = base.union(probes).distinct()
      .select(explode(array((0 until k).map(i =>
        bloomPosE(i, col("shingle"), m2)): _*)).as("pos")).distinct()
    val counts = Seq(
      novel.agg(count(lit(1)).as("n_novel")),
      bits.agg(count(lit(1)).as("bits_before")),
      grown.agg(count(lit(1)).as("bits_after")),
      rebuilt.agg(count(lit(1)).as("bits_next")))
    counts.reduce((a, b) => a.crossJoin(broadcast(b)))
      .select(lit(m).cast("long").as("m"), lit(k).cast("long").as("k"),
        col("n_novel"), col("bits_before"), col("bits_after"),
        expr(s"bits_before * 1000L div ${m}L").as("fill_before_pm"),
        expr(s"bits_after * 1000L div ${m}L").as("fill_after_pm"),
        expr(s"bits_after * 1000L div ${m}L >= ${resizePm}L").as("resize"),
        lit(m2).cast("long").as("m_next"), col("bits_next"),
        expr(s"bits_next * 1000L div ${m2}L").as("fill_next_pm"))
  }

  def bloomGrowSql(m: Int = 65536, k: Int = 3, deltaMod: Int = 10,
                   resizePm: Long = 500L): String = {
    val m2 = m * 2
    s"""WITH ${bloomCoreSql(m, k, deltaMod)},
       |novel AS (SELECT shingle FROM pv WHERE NOT exact_seen),
       |grown AS (
       |  SELECT DISTINCT pos FROM (
       |    SELECT pos FROM bits
       |    UNION ALL
       |    SELECT pos FROM (${bloomArmsSql("novel", m, k)}))),
       |merged AS (SELECT shingle FROM base UNION SELECT shingle FROM probes),
       |rebuilt AS (SELECT DISTINCT pos FROM (
       |  ${bloomArmsSql("merged", m2, k)})),
       |c AS (
       |  SELECT (SELECT count(*) FROM novel)::BIGINT AS n_novel,
       |         (SELECT count(*) FROM bits)::BIGINT AS bits_before,
       |         (SELECT count(*) FROM grown)::BIGINT AS bits_after,
       |         (SELECT count(*) FROM rebuilt)::BIGINT AS bits_next)
       |SELECT ${m}::BIGINT AS m, ${k}::BIGINT AS k, n_novel,
       |  bits_before, bits_after,
       |  bits_before * 1000 // $m AS fill_before_pm,
       |  bits_after * 1000 // $m AS fill_after_pm,
       |  bits_after * 1000 // $m >= $resizePm AS resize,
       |  ${m2}::BIGINT AS m_next, bits_next,
       |  bits_next * 1000 // $m2 AS fill_next_pm
       |FROM c""".stripMargin
  }

  /** Shard-merge contract of the sketch tier — the query-level PROOF that
    * the KMV / Count-Min / Bloom sketches support the map-reduce
    * deployment a 100 TB build actually runs: build one sketch PER SHARD
    * over salted doc_id shards (embarrassingly parallel — the per-shard
    * build touches only its shard's rows, no cross-shard traffic), merge
    * the shard states (KMV: union of the k-min sets re-cut to bottom-k;
    * CMS: element-wise counter sum; Bloom: bitmap OR = position-set
    * union), and show the merged state is CELL-IDENTICAL to the
    * single-pass sketch over the whole corpus. The streaming Bloom gate
    * ([[graft.streaming.BloomStream]]) serves the same bitmap
    * batch-by-batch; this is the across-executor form, oracle-checked
    * (same [[graft.Exprs.hex60]] contract, no RNG — a shard is a pure
    * hash residue both engines compute).
    *
    * All FOUR sketch families are covered — the quantile sample merges
    * the same way (per-shard bottom-k (hash, doc, value) rows unioned and
    * re-cut), closing the quartet: KMV / CMS / Bloom / quantile each
    * carry the shard-parallel build a 100 TB corpus needs.
    *
    * One row per (sketch, key): `merged`/`single` are the headline
    * statistic read from each state (the KMV estimate per source / total
    * CMS counter mass / Bloom set-bit count / the quantile p990 estimate
    * per source) and `diff_cells` the symmetric-difference size of the
    * two STATES — 0 everywhere is the contract. Bottom-k correctness
    * argument (KMV and quantile alike): a row in the global bottom-k has
    * global rank ≤ k, hence rank ≤ k within its own shard, so it
    * survives the per-shard cut — the shard union can never lose a
    * global-bottom-k member.
    */
  def sketchMerge(spark: SparkSession, dir: String, nShards: Int = 4,
                  kKmv: Int = 16, depth: Int = 3, width: Int = 64,
                  mBloom: Int = 65536, kBloom: Int = 3): DataFrame = {
    val shardE = pmod(
      Exprs.hex60(concat(lit("shard:"), col("doc_id").cast("string"))),
      lit(nShards.toLong))
    // ---- KMV: per-source bottom-k of distinct word hashes ----
    // (r21 note: eagerly checkpointing dw/bucketed/sh for their two
    // consumers each was MEASURED SLOWER at sf0.1 — 7.5 → 10.0 s — the
    // three serialized materialization jobs cost more than recomputing the
    // cheap subtrees off the already-checkpointed `prepared`; kept lazy)
    val dw = prepared(spark, dir)
      .select(col("source"), shardE.as("shard"), explode(col("words")).as("w"))
      .select(col("source"), col("shard"),
        Exprs.hex60(concat(lit("kmv:"), col("w"))).as("h"))
      .distinct()
    val wSh = Window.partitionBy(col("source"), col("shard")).orderBy(col("h"))
    val wSrc = Window.partitionBy(col("source")).orderBy(col("h"))
    // one source-keyed exchange serves BOTH cuts (r22, the marginJoinScore
    // window-ordering rule): the (source)-window ranks first, so the
    // (source, shard) window above it needs only a re-sort —
    // hashpartitioning(source) already satisfies its clustering. The
    // single-pass bottom-k uses dense_rank, which on ranking-by-h-alone
    // equals the previous distinct-then-row_number (duplicate h values
    // from two shards share one dense rank); the tiny residual distinct
    // collapses those duplicates after the filter.
    val ranked = dw
      .withColumn("rk_src", dense_rank().over(wSrc))
      .withColumn("rk_sh", row_number().over(wSh))
    val shardState = ranked.filter(col("rk_sh") <= kKmv).select("source", "h")
    // same hash can reach the pool from two shards (a word is not
    // sharded — docs are): the merge dedups by hash, exactly the
    // streaming twin's set semantics
    val mergedK = Exprs.keepTop(shardState.distinct(), Seq(col("source")), Seq(col("h")),
        kKmv, "rk")
      .select("source", "h")
    val singleK = ranked.filter(col("rk_src") <= kKmv)
      .select("source", "h").distinct()
    def kmvEst(state: DataFrame): DataFrame = state.groupBy("source")
      .agg(max(col("h")).as("h_k"), count(lit(1)).as("n_k"))
      .select(col("source"),
        when(col("n_k") < kKmv, col("n_k"))
          .otherwise(expr(s"CAST(floor((${kKmv - 1}.0d * 1152921504606846976.0d) / h_k) AS BIGINT)"))
          .as("est"))
    val kmvDiff = mergedK.withColumn("inm", lit(1))
      .join(singleK.withColumn("ins", lit(1)), Seq("source", "h"), "full_outer")
      .groupBy("source")
      .agg(sum(when(col("inm").isNull || col("ins").isNull, 1L).otherwise(0L))
        .as("diff_cells"))
    val kmvRows = kmvEst(mergedK).withColumnRenamed("est", "merged")
      .join(kmvEst(singleK).withColumnRenamed("est", "single"), "source")
      .join(kmvDiff, "source")
      .select(lit("kmv").as("sketch"), col("source").as("key"),
        lit(nShards.toLong).as("n_shards"),
        col("merged"), col("single"), col("diff_cells"))
    // ---- CMS: depth x width counters over word occurrences ----
    val ws = prepared(spark, dir)
      .select(shardE.as("shard"), explode(col("words")).as("w"))
    // one pass (r21): the depth rows explode from an inline array instead of
    // a depth-way unionByName that re-scanned the exploded words per row
    val bucketed = ws.select(col("shard"),
      explode(array((0 until depth).map(r => struct(lit(r).as("r"),
        (Exprs.hex60(concat(lit(s"cms$r:"), col("w"))) % lit(width.toLong)).as("bkt"))): _*))
        .as("rb"))
      .select(col("shard"), col("rb.r").as("r"), col("rb.bkt").as("bkt"))
    val shardCounters = bucketed.groupBy("shard", "r", "bkt")
      .agg(count(lit(1)).as("c"))
    val mergedC = shardCounters.groupBy("r", "bkt").agg(sum(col("c")).as("c"))
    val singleC = bucketed.groupBy("r", "bkt").agg(count(lit(1)).as("c"))
    val cmsDiff = mergedC.withColumnRenamed("c", "cm")
      .join(singleC.withColumnRenamed("c", "cs"), Seq("r", "bkt"), "full_outer")
      .agg(coalesce(sum(when(
        coalesce(col("cm"), lit(-1L)) =!= coalesce(col("cs"), lit(-2L)), 1L)
        .otherwise(0L)), lit(0L)).as("diff_cells"))
    val cmsRows = mergedC.agg(sum(col("c")).as("merged"))
      .crossJoin(broadcast(singleC.agg(sum(col("c")).as("single"))))
      .crossJoin(broadcast(cmsDiff))
      .select(lit("cms").as("sketch"), lit("all").as("key"),
        lit(nShards.toLong).as("n_shards"),
        col("merged"), col("single"), col("diff_cells"))
    // ---- Bloom: set positions of the corpus 3-shingles ----
    val sh = shingles3(spark, dir)
      .select(shardE.as("shard"), col("sh").as("shingle")).distinct()
    def posArms(src: DataFrame): DataFrame = src.select(
      explode(array((0 until kBloom).map(i =>
        bloomPosE(i, col("shingle"), mBloom)): _*)).as("pos"))
    // per-shard bitmaps OR'd = one distinct over the per-(shard, shingle)
    // rows' positions; the single-pass side hashes the deduped shingle set
    val mergedB = posArms(sh).distinct()
    val singleB = posArms(sh.select("shingle").distinct()).distinct()
    val bloomDiff = mergedB.withColumn("inm", lit(1))
      .join(singleB.withColumn("ins", lit(1)), Seq("pos"), "full_outer")
      .agg(coalesce(sum(when(col("inm").isNull || col("ins").isNull, 1L)
        .otherwise(0L)), lit(0L)).as("diff_cells"))
    val bloomRows = mergedB.agg(count(lit(1)).as("merged"))
      .crossJoin(broadcast(singleB.agg(count(lit(1)).as("single"))))
      .crossJoin(broadcast(bloomDiff))
      .select(lit("bloom").as("sketch"), lit("all").as("key"),
        lit(nShards.toLong).as("n_shards"),
        col("merged"), col("single"), col("diff_cells"))
    // ---- quantile: per-source bottom-k (hash, doc, value) sample ----
    val qd = prepared(spark, dir).select(
      col("source"), shardE.as("shard"), col("doc_id"),
      Exprs.hex60(concat(lit("qs:"), col("doc_id"))).as("h"),
      coalesce(size(col("words")).cast("long"), lit(0L)).as("v"))
    val wQSh = Window.partitionBy(col("source"), col("shard"))
      .orderBy(col("h"), col("doc_id"))
    val wQSrc = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    // same one-exchange window ordering as the KMV arm; plain row_number
    // on both cuts here — qd is per-doc, so (source, h, doc_id) rows are
    // unique and no cross-shard dedup exists to fold
    val qRanked = qd
      .withColumn("rk_src", row_number().over(wQSrc))
      .withColumn("rk_sh", row_number().over(wQSh))
    val qShard = qRanked.filter(col("rk_sh") <= kKmv)
      .select("source", "doc_id", "h", "v")
    val qMerged = Exprs.keepTop(qShard, Seq(col("source")), Seq(col("h"), col("doc_id")),
        kKmv, "rk")
      .select("source", "doc_id", "h", "v")
    val qSingle = qRanked.filter(col("rk_src") <= kKmv)
      .select("source", "doc_id", "h", "v")
    // p990 of the sample — the quantileSketch rank rule verbatim
    def qEst(state: DataFrame): DataFrame = {
      val wv = Window.partitionBy(col("source")).orderBy(col("v"), col("doc_id"))
      val mm = state.groupBy("source").agg(count(lit(1)).as("mm"))
      state.withColumn("srk", row_number().over(wv))
        .join(broadcast(mm), "source")
        .filter(col("srk") === expr("((mm - 1) * 990) div 1000 + 1"))
        .select(col("source"), col("v").as("est"))
    }
    val qDiff = qMerged.select("source", "h").withColumn("inm", lit(1))
      .join(qSingle.select("source", "h").withColumn("ins", lit(1)),
        Seq("source", "h"), "full_outer")
      .groupBy("source")
      .agg(sum(when(col("inm").isNull || col("ins").isNull, 1L).otherwise(0L))
        .as("diff_cells"))
    val qntRows = qEst(qMerged).withColumnRenamed("est", "merged")
      .join(qEst(qSingle).withColumnRenamed("est", "single"), "source")
      .join(qDiff, "source")
      .select(lit("qnt").as("sketch"), col("source").as("key"),
        lit(nShards.toLong).as("n_shards"),
        col("merged"), col("single"), col("diff_cells"))
    kmvRows.unionByName(cmsRows).unionByName(bloomRows).unionByName(qntRows)
      .orderBy("sketch", "key")
  }

  def sketchMergeSql(nShards: Int = 4, kKmv: Int = 16, depth: Int = 3,
                     width: Int = 64, mBloom: Int = 65536,
                     kBloom: Int = 3): String = {
    val shardSql = s"${Exprs.hex60Sql("'shard:' || doc_id::VARCHAR")} % $nShards"
    val cmsArms = (0 until depth).map { r =>
      s"SELECT shard, $r AS r, ${Exprs.hex60Sql(s"'cms$r:' || w")} % $width AS bkt FROM wsh"
    }.mkString("\n  UNION ALL ")
    def bloomArms(src: String) = (0 until kBloom).map { i =>
      s"SELECT ${Exprs.hex60Sql(s"'bf$i:' || shingle")} % $mBloom AS pos FROM $src"
    }.mkString("\n  UNION ALL ")
    val estExpr = s"""CASE WHEN count(*) < $kKmv THEN count(*)
       |      ELSE CAST(floor((CAST(${kKmv - 1}.0 AS DOUBLE) * CAST(1152921504606846976.0 AS DOUBLE)) / max(h)) AS BIGINT) END""".stripMargin
    s"""WITH p AS ($preparedSql),
       |sdw AS (
       |  SELECT DISTINCT source, $shardSql AS shard,
       |    ${Exprs.hex60Sql("'kmv:' || w")} AS h
       |  FROM (SELECT doc_id, source, unnest(words) AS w FROM p)),
       |kshard AS (
       |  SELECT source, h FROM (
       |    SELECT source, h, ROW_NUMBER() OVER (
       |      PARTITION BY source, shard ORDER BY h) AS rk FROM sdw)
       |  WHERE rk <= $kKmv),
       |kmerged AS (
       |  SELECT source, h FROM (
       |    SELECT source, h, ROW_NUMBER() OVER (
       |      PARTITION BY source ORDER BY h) AS rk
       |    FROM (SELECT DISTINCT source, h FROM kshard))
       |  WHERE rk <= $kKmv),
       |ksingle AS (
       |  SELECT source, h FROM (
       |    SELECT source, h, ROW_NUMBER() OVER (
       |      PARTITION BY source ORDER BY h) AS rk
       |    FROM (SELECT DISTINCT source, h FROM sdw))
       |  WHERE rk <= $kKmv),
       |kme AS (SELECT source, CAST($estExpr AS BIGINT) AS est
       |        FROM kmerged GROUP BY source),
       |kse AS (SELECT source, CAST($estExpr AS BIGINT) AS est
       |        FROM ksingle GROUP BY source),
       |kdiff AS (
       |  SELECT source, CAST(sum(CASE WHEN inm IS NULL OR ins IS NULL
       |    THEN 1 ELSE 0 END) AS BIGINT) AS diff_cells
       |  FROM (SELECT source, h, 1 AS inm FROM kmerged) m
       |  FULL OUTER JOIN (SELECT source, h, 1 AS ins FROM ksingle) s
       |  USING (source, h) GROUP BY source),
       |wsh AS (
       |  SELECT $shardSql AS shard, w
       |  FROM (SELECT doc_id, unnest(words) AS w FROM p)),
       |cb AS (
       |  $cmsArms),
       |csh AS (SELECT shard, r, bkt, count(*) AS c FROM cb GROUP BY 1, 2, 3),
       |cm AS (SELECT r, bkt, CAST(sum(c) AS BIGINT) AS c FROM csh GROUP BY 1, 2),
       |cs AS (SELECT r, bkt, CAST(count(*) AS BIGINT) AS c FROM cb GROUP BY 1, 2),
       |cdiff AS (
       |  SELECT CAST(COALESCE(sum(CASE WHEN COALESCE(m.c, -1) <> COALESCE(s.c, -2)
       |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS diff_cells
       |  FROM cm m FULL OUTER JOIN cs s USING (r, bkt)),
       |bsh AS (
       |  SELECT DISTINCT $shardSql AS shard, sh AS shingle
       |  FROM ($shingles3Sql)),
       |bm AS (SELECT DISTINCT pos FROM (
       |  ${bloomArms("bsh")})),
       |bs AS (SELECT DISTINCT pos FROM (
       |  ${bloomArms("(SELECT DISTINCT shingle FROM bsh)")})),
       |bdiff AS (
       |  SELECT CAST(COALESCE(sum(CASE WHEN inm IS NULL OR ins IS NULL
       |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS diff_cells
       |  FROM (SELECT pos, 1 AS inm FROM bm) m
       |  FULL OUTER JOIN (SELECT pos, 1 AS ins FROM bs) s USING (pos)),
       |qd AS (
       |  SELECT source, $shardSql AS shard, doc_id,
       |    ${Exprs.hex60Sql("'qs:' || doc_id::VARCHAR")} AS h,
       |    COALESCE(len(words), 0) AS v
       |  FROM p),
       |qshard AS (
       |  SELECT source, doc_id, h, v FROM (
       |    SELECT source, doc_id, h, v, ROW_NUMBER() OVER (
       |      PARTITION BY source, shard ORDER BY h, doc_id) AS rk FROM qd)
       |  WHERE rk <= $kKmv),
       |qmerged AS (
       |  SELECT source, doc_id, h, v FROM (
       |    SELECT source, doc_id, h, v, ROW_NUMBER() OVER (
       |      PARTITION BY source ORDER BY h, doc_id) AS rk FROM qshard)
       |  WHERE rk <= $kKmv),
       |qsingle AS (
       |  SELECT source, doc_id, h, v FROM (
       |    SELECT source, doc_id, h, v, ROW_NUMBER() OVER (
       |      PARTITION BY source ORDER BY h, doc_id) AS rk FROM qd)
       |  WHERE rk <= $kKmv),
       |qme AS (
       |  SELECT source, CAST(v AS BIGINT) AS est FROM (
       |    SELECT source, v, ROW_NUMBER() OVER (
       |      PARTITION BY source ORDER BY v, doc_id) AS srk,
       |      count(*) OVER (PARTITION BY source) AS mm
       |    FROM qmerged)
       |  WHERE srk = ((mm - 1) * 990) // 1000 + 1),
       |qse AS (
       |  SELECT source, CAST(v AS BIGINT) AS est FROM (
       |    SELECT source, v, ROW_NUMBER() OVER (
       |      PARTITION BY source ORDER BY v, doc_id) AS srk,
       |      count(*) OVER (PARTITION BY source) AS mm
       |    FROM qsingle)
       |  WHERE srk = ((mm - 1) * 990) // 1000 + 1),
       |qdiff AS (
       |  SELECT source, CAST(sum(CASE WHEN inm IS NULL OR ins IS NULL
       |    THEN 1 ELSE 0 END) AS BIGINT) AS diff_cells
       |  FROM (SELECT source, h, 1 AS inm FROM qmerged) m
       |  FULL OUTER JOIN (SELECT source, h, 1 AS ins FROM qsingle) s
       |  USING (source, h) GROUP BY source)
       |SELECT * FROM (
       |  SELECT 'kmv' AS sketch, kme.source AS key, ${nShards}::BIGINT AS n_shards,
       |    kme.est AS merged, kse.est AS single, kdiff.diff_cells
       |  FROM kme JOIN kse USING (source) JOIN kdiff USING (source)
       |  UNION ALL
       |  SELECT 'cms', 'all', ${nShards}::BIGINT,
       |    (SELECT CAST(sum(c) AS BIGINT) FROM cm),
       |    (SELECT CAST(sum(c) AS BIGINT) FROM cs),
       |    (SELECT diff_cells FROM cdiff)
       |  UNION ALL
       |  SELECT 'bloom', 'all', ${nShards}::BIGINT,
       |    (SELECT CAST(count(*) AS BIGINT) FROM bm),
       |    (SELECT CAST(count(*) AS BIGINT) FROM bs),
       |    (SELECT diff_cells FROM bdiff)
       |  UNION ALL
       |  SELECT 'qnt', qme.source, ${nShards}::BIGINT,
       |    qme.est, qse.est, qdiff.diff_cells
       |  FROM qme JOIN qse USING (source) JOIN qdiff USING (source))
       |ORDER BY sketch, key""".stripMargin
  }

  def contamination(spark: SparkSession, dir: String, probeMax: Long = 10): DataFrame =
    // session-shared: the contamination index is consumed by d_contamination,
    // curate (d_curate + both corpus builds) and the incremental delta pass —
    // a production pipeline persists this relation once per benchmark set
    graft.SharedRel(spark, s"contam|$dir|$probeMax") {
      import org.apache.spark.sql.expressions.Window
      val ex = shingles3(spark, dir)
      val probe = ex.filter(col("doc_id") < probeMax)
        .select(col("doc_id").as("probe_id"), col("sh"))
      val shared = ex.filter(col("doc_id") >= probeMax)
        .join(probe, "sh")
        .groupBy(col("doc_id"), col("probe_id"))
        .agg(count(lit(1)).as("n_shared_shingles"))
      Dedup.keepFirst(shared, Seq(col("doc_id")),
          Seq(col("n_shared_shingles").desc, col("probe_id")), "rn")
        .select(col("doc_id"), col("probe_id").as("top_probe_id"),
          col("n_shared_shingles"))
    }

  def contaminationSql(probeMax: Long = 10): String =
    s"""WITH ex AS (
       |  $shingles3Sql),
       |shared AS (
       |  SELECT c.doc_id, p.doc_id AS probe_id, count(*) AS n_shared_shingles
       |  FROM ex c JOIN ex p ON c.sh = p.sh
       |  WHERE c.doc_id >= $probeMax AND p.doc_id < $probeMax
       |  GROUP BY 1, 2)
       |SELECT doc_id, probe_id AS top_probe_id, n_shared_shingles FROM (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY doc_id ORDER BY n_shared_shingles DESC, probe_id) AS rn
       |  FROM shared)
       |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Span-level decontamination: instead of dropping a whole document that
    * overlaps the benchmark/probe set ([[contamination]] / [[curate]]'s
    * gate), surgically remove the contaminated token WINDOWS and keep the
    * rest — the modern decontamination recipe (a 10k-word page quoting one
    * benchmark question loses 40 tokens, not the page). A corpus doc's
    * 3-gram shingle at position i that matches any probe shingle
    * contaminates tokens [i, i+2]; overlapping windows merge into spans.
    *
    * Contract: applies to docs with ≥ 3 words (shorter docs have no 3-gram
    * positions — they stay on the doc-level gate). Output per corpus doc:
    * token/span counts and the cleaned text (surviving words, original
    * order; "" when fully contaminated).
    *
    * Scale shape: positioned shingle explode → equi-join the broadcast-size
    * probe shingle set → per-doc window/agg, every per-doc step bounded by
    * that doc's own length (the lag window and re-assembly collect shuffle
    * on doc_id, never corpus-wide).
    */
  def decontamSpans(spark: SparkSession, dir: String, probeMax: Long = 10): DataFrame =
    // session-shared: the span-cleaned relation feeds d_decontam_spans AND
    // both corpus builds
    graft.SharedRel(spark, s"decontam|$dir|$probeMax") {
      import org.apache.spark.sql.expressions.Window
      val probe = shingles3(spark, dir).filter(col("doc_id") < probeMax)
        .select("sh").distinct()
      // materialized once: the normalization+split feeds THREE consumers
      // (positioned shingles, word re-assembly, final counts); norm itself is
      // not needed past this point (≥3-word docs never take the whole-norm
      // shingle fallback), so the checkpoint carries only (doc_id, words)
      val pw = Materialize(prepared(spark, dir)
        .filter(col("doc_id") >= probeMax && size(col("words")) >= 3)
        .select(col("doc_id"), col("words")))
      val sh = pw.select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, size(words)-3), i -> concat(words[i], ' ', words[i+1], ' ', words[i+2]))"))
        .as(Seq("i", "sh")))
      // same one-exchange span fold as the substring-dedup family
      // ([[spanFold]]): the contaminated positions collect into a sorted
      // per-doc array and the span stats + re-assembly are row-local
      val hits = sh.join(broadcast(probe), "sh")
        .select(col("doc_id"), explode(expr("sequence(i, i + 2)")).as("p"))
      spanFold(pw, hits).withColumnRenamed("n_dup", "n_contam")
    }

  def decontamSpansSql(probeMax: Long = 10): String =
    s"""WITH probe AS (
       |  SELECT DISTINCT sh FROM ($shingles3Sql) WHERE doc_id < $probeMax),
       |pw AS (
       |  SELECT doc_id, words FROM ($preparedSql)
       |  WHERE doc_id >= $probeMax AND len(words) >= 3),
       |sh AS (
       |  SELECT doc_id, i - 1 AS i,
       |         words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS sh
       |  FROM pw, unnest(range(1, len(words) - 1)) AS t(i)),
       |hits AS (
       |  SELECT DISTINCT doc_id, i + d AS p
       |  FROM sh JOIN probe USING (sh), unnest(range(0, 3)) AS u(d)),
       |spans AS (
       |  SELECT doc_id, count(*) AS n_contam,
       |    CAST(sum(CASE WHEN prev IS NULL OR p - prev <> 1 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_spans
       |  FROM (SELECT doc_id, p,
       |          lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev FROM hits)
       |  GROUP BY doc_id),
       |wp AS (
       |  SELECT doc_id, i - 1 AS p, words[i] AS word
       |  FROM pw, unnest(range(1, len(words) + 1)) AS t(i)),
       |clean AS (
       |  SELECT doc_id, string_agg(word, ' ' ORDER BY p) AS text_clean
       |  FROM wp
       |  WHERE NOT EXISTS (SELECT 1 FROM hits h
       |                    WHERE h.doc_id = wp.doc_id AND h.p = wp.p)
       |  GROUP BY doc_id)
       |SELECT pw.doc_id, CAST(len(words) AS BIGINT) AS n_words,
       |  COALESCE(n_contam, 0) AS n_contam,
       |  COALESCE(n_spans, 0) AS n_spans,
       |  COALESCE(text_clean, '') AS text_clean
       |FROM pw LEFT JOIN spans ON pw.doc_id = spans.doc_id
       |        LEFT JOIN clean ON pw.doc_id = clean.doc_id
       |ORDER BY pw.doc_id""".stripMargin

  /** Substring-level EXACT dedup (the Lee et al. "Deduplicating Training
    * Data Makes Language Models Better" cut, fixed-width form): a sliding
    * `n`-token window whose text occurs anywhere else in the corpus —
    * another document, or an earlier position of the same document — is a
    * duplicated substring; every occurrence except the globally FIRST
    * (min (doc_id, position)) is cut. Overlapping cut windows merge into
    * maximal spans; output mirrors [[decontamSpans]] (the span-merge
    * machinery is the same, pointed at corpus-frequent shingles instead
    * of probe shingles): per-doc token/span counts and the cleaned text.
    * This is the memorization-risk cut a training pipeline runs BESIDE
    * decontamination — verbatim boilerplate (licenses, navigation chrome,
    * quoted passages) disappears while each unique passage survives in
    * exactly one place.
    *
    * Contract: docs with ≥ `n` words (shorter docs have no windows — the
    * doc-level dedup ladder owns them). Suffix arrays find VARIABLE-length
    * maximal runs; the fixed-`n` shingle form is the shuffle-native
    * equivalent (any shared run of length ≥ n is covered by its length-n
    * sub-windows, so cut coverage is identical for runs ≥ n).
    *
    * Scale shape: positioned shingle explode → shingle-keyed first-
    * occurrence agg (map-side combined; only shingles with ≥ 2 occurrences
    * survive to the join) → equi-join back on the shingle → per-doc span
    * merge bounded by each doc's own length. Skew bound: the hottest
    * shingle's occurrence list lands in one agg task — the same hot-key
    * bound every LSH band join in this file carries; AQE splits the join
    * side at 100 TB.
    */
  def dupSpans(spark: SparkSession, dir: String, n: Int = 5): DataFrame =
    // session-shared: the relation feeds its own verdict query and the
    // optional [[curate]] gate
    graft.SharedRel(spark, s"dupspans|$dir|$n") {
      val pw = Materialize(prepared(spark, dir).filter(size(col("words")) >= n)
        .select(col("doc_id"), col("words")))
      spanFoldArr(pw, sortedCutArrays(spark, dir, n)
        .withColumnRenamed("all_cuts", "cuts"))
    }

  /** Cut positions (doc_id, p): every position covered by a duplicated
    * n-window occurrence except the globally FIRST (min (doc_id, i)) per
    * shingle. The relation the span merge ([[dupSpans]]) and the
    * maximal-run floor ([[dupRuns]]) both aggregate. keeper = globally
    * first (doc_id, i) per shingle key; only shingles seen twice survive
    * into the cut join. No DISTINCT and no checkpoint: the downstream
    * collect_set dedups map-side.
    */
  private def firstOccCutHits(pw: DataFrame, n: Int): DataFrame = {
    val sh = posShingles(pw, n)
    val keep = sh.groupBy(col("sh"))
      .agg(min(struct(col("doc_id"), col("i"))).as("k"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
      .select(col("sh"), col("k.doc_id").as("k_doc"), col("k.i").as("k_i"))
    sh.join(keep, "sh")
      .filter(!(col("doc_id") === col("k_doc") && col("i") === col("k_i")))
      .select(col("doc_id"), explode(expr(s"sequence(i, i + ${n - 1})")).as("p"))
  }

  /** One sorted, distinct cut-position array per cut doc — the single
    * doc-keyed exchange of the span family (`collect_set` dedups
    * map-side).
    */
  private def cutArraysOf(hits: DataFrame): DataFrame =
    hits.groupBy("doc_id").agg(array_sort(collect_set(col("p"))).as("all_cuts"))

  /** The corpus-wide sorted cut arrays, session-shared (key `spancuts`,
    * r22): `d_dup_spans` (via the dupspans build), `d_dup_runs` and
    * `d_dup_runs_strict` all aggregate the IDENTICAL
    * explode → first-occurrence agg → cut-join chain — only the
    * row-local minRun floor differs between them, yet each re-ran the
    * full shingle pipeline per query. The `inc` segment is the
    * incremental twin ([[dupSpansIncr]] / [[dupRunsIncr]], whose frozen
    * base-set + in-increment-keeper chain is likewise identical pairwise).
    */
  private def sortedCutArrays(spark: SparkSession, dir: String, n: Int): DataFrame =
    graft.SharedRel(spark, s"spancuts|$dir|$n")(
      cutArraysOf(firstOccCutHits(
        prepared(spark, dir).filter(size(col("words")) >= n)
          .select(col("doc_id"), col("words")), n)))

  /** The span-merge + re-assembly tail shared by the substring-dedup
    * family: given (doc_id, words) docs and the cut positions (doc_id, p)
    * (duplicates tolerated — the fold dedups), merge contiguous cuts into
    * spans and rebuild the surviving text.
    *
    * r21 shape: ONE doc-keyed exchange — the positions fold into a sorted
    * per-doc array (`collect_set` dedups map-side, replacing the upstream
    * DISTINCT shuffle), and every span statistic plus the text
    * re-assembly is then a row-local linear fold over that array via
    * [[spanFoldArr]]. The previous form paid a doc-keyed `lag` window, a
    * `posexplode` of the full token mass, a (doc,p) anti-join and a
    * `collect_list` re-sort — three extra exchanges, two of them carrying
    * every token of every doc. Per-doc work stays O(len): `array_except`
    * is hash-set based, `element_at` by index is O(1).
    */
  private[graft] def spanFold(pw: DataFrame, hits: DataFrame): DataFrame =
    spanFoldArr(pw,
      hits.groupBy("doc_id").agg(array_sort(collect_set(col("p"))).as("cuts")))

  /** Row-local tail of [[spanFold]]: `cuts` holds one sorted, distinct
    * position array per cut doc. An empty or null array is treated as
    * "no cuts" inside the fold itself (r21 VERDICT #8 / ADVICE: the
    * non-empty contract was caller-enforced convention only — an empty
    * array would make nSpans' filter lambda probe `element_at(c, 1)` and
    * `sequence(0, -1)` descend; the guard makes the contract enforced
    * rather than documented).
    */
  private[graft] def spanFoldArr(pw: DataFrame, cuts: DataFrame): DataFrame = {
    val c = col("cuts")
    val noCuts = c.isNull || size(c) === 0
    // island starts within the sorted array = span count, linear scan
    val nSpans = size(filter(sequence(lit(0), size(c) - 1),
      i => (i === 0) || (element_at(c, i + 1) =!= element_at(c, i) + 1)))
    // surviving words = positions not cut, original order (array_except
    // preserves left-operand order), re-joined in one pass
    val keptText = array_join(
      transform(array_except(sequence(lit(0), size(col("words")) - 1), c),
        i => element_at(col("words"), i + 1)), " ")
    pw.join(cuts, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("words")).cast("long").as("n_words"),
        coalesce(size(c), lit(0)).cast("long").as("n_dup"),
        when(noCuts, lit(0)).otherwise(nSpans).cast("long").as("n_spans"),
        when(noCuts, array_join(col("words"), " "))
          .otherwise(keptText).as("text_clean"))
      .orderBy(col("doc_id"))
  }

  /** Positioned `n`-token shingles of (doc_id, words) rows, keyed by the
    * 60-bit [[Exprs.hex60]] hash of the shingle text: at corpus scale the
    * shingle-keyed agg/join shuffles 8 bytes per window instead of the
    * n-word string (the payload never needs the text back — cuts are
    * positional), and the hash is oracle-portable so the differential
    * check stays exact.
    */
  private[graft] def posShingles(d: DataFrame, n: Int): DataFrame =
    d.select(col("doc_id"), posexplode(expr(
      s"transform(sequence(0, size(words)-$n), i -> array_join(slice(words, i+1, $n), ' '))"))
      .as(Seq("i", "sh")))
      .select(col("doc_id"), col("i"), Exprs.hex60(col("sh")).as("sh"))

  /** O(delta) incremental form of [[dupSpans]] — the daily-increment cut:
    * only DELTA documents (the salted [[Exprs.arrivalSplit]] split) are span-cut,
    * against (a) the FROZEN base shingle set — base owns every first
    * occurrence by contract, its own spans were cut at base-build time —
    * and (b) earlier occurrences WITHIN the increment (the batch keeper
    * rule restricted to delta). The same asymmetric-staleness contract as
    * [[nearDupIncr]]: base documents are never re-opened; a base doc that
    * first duplicated a run only after the increment arrived is the
    * recompaction's job. In production the base shingle set is the stored
    * substring index; here it derives from the same split so the oracle
    * can recompute it.
    */
  def dupSpansIncr(spark: SparkSession, dir: String, n: Int = 5,
                   deltaMod: Int = 5): DataFrame = {
    val pw = Materialize(incrPw(spark, dir, n, deltaMod).filter(col("is_delta"))
      .select("doc_id", "words"))
    spanFoldArr(pw, sortedCutArraysIncr(spark, dir, n, deltaMod)
      .withColumnRenamed("all_cuts", "cuts"))
  }

  private def incrPw(spark: SparkSession, dir: String, n: Int,
                     deltaMod: Int): DataFrame =
    prepared(spark, dir).filter(size(col("words")) >= n)
      .select(col("doc_id"), col("words"),
        (Exprs.arrivalSplit(col("doc_id"), deltaMod) === 0).as("is_delta"))

  /** The incremental cut positions: a delta doc's window is cut when it
    * hits the FROZEN base shingle set (base owns every first occurrence
    * by contract) or an earlier occurrence WITHIN the increment (the
    * batch keeper rule restricted to delta rows).
    */
  private def incrCutHits(spark: SparkSession, dir: String, n: Int,
                          deltaMod: Int, pwD: DataFrame): DataFrame = {
    val pwAll = incrPw(spark, dir, n, deltaMod)
    val shD = posShingles(pwD, n)
    val baseSet = posShingles(pwAll.filter(!col("is_delta"))
      .select("doc_id", "words"), n).select("sh").distinct()
    val ofBase = shD.join(baseSet, "sh").select(col("doc_id"), col("i"))
    val keepD = shD.groupBy(col("sh"))
      .agg(min(struct(col("doc_id"), col("i"))).as("k"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
      .select(col("sh"), col("k.doc_id").as("k_doc"), col("k.i").as("k_i"))
    val inDelta = shD.join(keepD, "sh")
      .filter(!(col("doc_id") === col("k_doc") && col("i") === col("k_i")))
      .select(col("doc_id"), col("i"))
    ofBase.unionAll(inDelta)
      .select(col("doc_id"), explode(expr(s"sequence(i, i + ${n - 1})")).as("p"))
  }

  /** Incremental twin of [[sortedCutArrays]] (`spancuts|inc|…`):
    * [[dupSpansIncr]] and [[dupRunsIncr]] previously each re-ran the
    * identical delta-shingle chain.
    */
  private def sortedCutArraysIncr(spark: SparkSession, dir: String, n: Int,
                                  deltaMod: Int): DataFrame =
    graft.SharedRel(spark, s"spancuts|inc|$dir|$n|$deltaMod")(
      cutArraysOf(incrCutHits(spark, dir, n, deltaMod,
        Materialize(incrPw(spark, dir, n, deltaMod)
          .filter(col("is_delta")).select("doc_id", "words")))))

  def dupSpansIncrSql(n: Int = 5, deltaMod: Int = 5): String =
    s"""WITH pwa AS (
       |  SELECT doc_id, words, (${Exprs.arrivalSplitSql("doc_id", deltaMod)}) = 0 AS is_delta
       |  FROM ($preparedSql) WHERE len(words) >= $n),
       |pw AS (SELECT doc_id, words FROM pwa WHERE is_delta),
       |shd AS (
       |  SELECT doc_id, i - 1 AS i,
       |         ${Exprs.hex60Sql(s"array_to_string(words[i : i + ${n - 1}], ' ')")} AS sh
       |  FROM pw, unnest(range(1, len(words) - ${n - 1} + 1)) AS t(i)),
       |bset AS (
       |  SELECT DISTINCT ${Exprs.hex60Sql(s"array_to_string(words[i : i + ${n - 1}], ' ')")} AS sh
       |  FROM pwa, unnest(range(1, len(words) - ${n - 1} + 1)) AS t(i)
       |  WHERE NOT is_delta),
       |cut AS (
       |  SELECT doc_id, i FROM shd JOIN bset USING (sh)
       |  UNION ALL
       |  SELECT doc_id, i FROM (
       |    SELECT doc_id, i,
       |      ROW_NUMBER() OVER (PARTITION BY sh ORDER BY doc_id, i) AS rn
       |    FROM shd)
       |  WHERE rn > 1),
       |hits AS (
       |  SELECT DISTINCT doc_id, i + d AS p
       |  FROM cut, unnest(range(0, $n)) AS u(d)),
       |spans AS (
       |  SELECT doc_id, count(*) AS n_dup,
       |    CAST(sum(CASE WHEN prev IS NULL OR p - prev <> 1 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_spans
       |  FROM (SELECT doc_id, p,
       |          lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev FROM hits)
       |  GROUP BY doc_id),
       |wp AS (
       |  SELECT doc_id, i - 1 AS p, words[i] AS word
       |  FROM pw, unnest(range(1, len(words) + 1)) AS t(i)),
       |clean AS (
       |  SELECT doc_id, string_agg(word, ' ' ORDER BY p) AS text_clean
       |  FROM wp
       |  WHERE NOT EXISTS (SELECT 1 FROM hits h
       |                    WHERE h.doc_id = wp.doc_id AND h.p = wp.p)
       |  GROUP BY doc_id)
       |SELECT pw.doc_id, CAST(len(words) AS BIGINT) AS n_words,
       |  COALESCE(n_dup, 0) AS n_dup,
       |  COALESCE(n_spans, 0) AS n_spans,
       |  COALESCE(text_clean, '') AS text_clean
       |FROM pw LEFT JOIN spans ON pw.doc_id = spans.doc_id
       |        LEFT JOIN clean ON pw.doc_id = clean.doc_id
       |ORDER BY pw.doc_id""".stripMargin

  def dupSpansSql(n: Int = 5): String =
    s"""WITH pw AS (
       |  SELECT doc_id, words FROM ($preparedSql) WHERE len(words) >= $n),
       |sh AS (
       |  SELECT doc_id, i - 1 AS i,
       |         ${Exprs.hex60Sql(s"array_to_string(words[i : i + ${n - 1}], ' ')")} AS sh
       |  FROM pw, unnest(range(1, len(words) - ${n - 1} + 1)) AS t(i)),
       |dup AS (
       |  SELECT doc_id, i FROM (
       |    SELECT doc_id, i,
       |      ROW_NUMBER() OVER (PARTITION BY sh ORDER BY doc_id, i) AS rn
       |    FROM sh)
       |  WHERE rn > 1),
       |hits AS (
       |  SELECT DISTINCT doc_id, i + d AS p
       |  FROM dup, unnest(range(0, $n)) AS u(d)),
       |spans AS (
       |  SELECT doc_id, count(*) AS n_dup,
       |    CAST(sum(CASE WHEN prev IS NULL OR p - prev <> 1 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_spans
       |  FROM (SELECT doc_id, p,
       |          lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev FROM hits)
       |  GROUP BY doc_id),
       |wp AS (
       |  SELECT doc_id, i - 1 AS p, words[i] AS word
       |  FROM pw, unnest(range(1, len(words) + 1)) AS t(i)),
       |clean AS (
       |  SELECT doc_id, string_agg(word, ' ' ORDER BY p) AS text_clean
       |  FROM wp
       |  WHERE NOT EXISTS (SELECT 1 FROM hits h
       |                    WHERE h.doc_id = wp.doc_id AND h.p = wp.p)
       |  GROUP BY doc_id)
       |SELECT pw.doc_id, CAST(len(words) AS BIGINT) AS n_words,
       |  COALESCE(n_dup, 0) AS n_dup,
       |  COALESCE(n_spans, 0) AS n_spans,
       |  COALESCE(text_clean, '') AS text_clean
       |FROM pw LEFT JOIN spans ON pw.doc_id = spans.doc_id
       |        LEFT JOIN clean ON pw.doc_id = clean.doc_id
       |ORDER BY pw.doc_id""".stripMargin

  /** Variable-length maximal-run cut — the Lee-et-al form [[dupSpans]]
    * approximates: dedup deployments don't cut every duplicated 5-token
    * window, they cut maximal duplicated RUNS of at least `minRun`
    * tokens (minRun > n — the knob that separates "verbatim boilerplate
    * block" from "five common words in a row"). The fixed-width pass
    * already produces maximal spans of contiguous cut positions; this
    * operator islands them (gaps-and-islands: p − row_number per doc),
    * keeps only islands of length ≥ `minRun`, and feeds the surviving
    * positions through the same [[spanFold]] tail — so a doc whose only
    * duplication is a lone shingle-width span keeps its text intact,
    * while long verbatim runs are cut exactly as before. Keeper
    * semantics inherit from [[dupSpans]]: first global occurrence owns
    * the run; only non-keeper occurrences generate cut positions.
    *
    * Scale shape: identical to [[dupSpans]] (60-bit hashed shingle keys
    * through every shuffle, per-doc folds bounded by doc length) plus
    * one doc-keyed window pair over the hit positions — the hit relation
    * is the duplicated-token subset, far below corpus token mass.
    */
  def dupRuns(spark: SparkSession, dir: String, n: Int = 5, minRun: Int = 8): DataFrame = {
    val pw = Materialize(prepared(spark, dir).filter(size(col("words")) >= n)
      .select(col("doc_id"), col("words")))
    // the cut chain is the session-shared spancuts relation — only the
    // row-local minRun floor differs between dupSpans/dupRuns variants
    spanFoldArr(pw, minRunFloor(sortedCutArrays(spark, dir, n), minRun))
  }

  /** Fold the cut positions into sorted per-doc arrays and keep only
    * positions lying on a maximal contiguous run of at least `minRun`
    * positions — the gaps-and-islands filter shared by [[dupRuns]] and
    * [[dupRunsIncr]], as a row-local linear fold over each doc's sorted
    * array (island starts/ends zipped, sub-`minRun` islands dropped).
    * The r20 form was a doc-keyed `row_number` + `count` window pair over
    * the position rows — one more exchange and two window sorts; one
    * doc-keyed aggregation (map-side deduped) now feeds [[spanFoldArr]]
    * directly. Docs whose every island is below the floor fold to an
    * empty array and are dropped: an output-shape choice (a fully spared
    * doc has no cut row), not a [[spanFoldArr]] requirement.
    */
  private def minRunFloor(cutArrays: DataFrame, minRun: Int): DataFrame = {
    val c = col("all_cuts")
    val idx = sequence(lit(0), size(c) - 1)
    val starts = filter(idx,
      i => (i === 0) || (element_at(c, i + 1) =!= element_at(c, i) + 1))
    val ends = filter(idx,
      i => (i === size(c) - 1) || (element_at(c, i + 2) =!= element_at(c, i + 1) + 1))
    val kept = flatten(zip_with(starts, ends, (s, e) =>
      when(e - s + 1 >= minRun, slice(c, s + 1, e - s + 1))
        .otherwise(slice(c, lit(1), lit(0)))))
    cutArrays
      .select(col("doc_id"), kept.as("cuts"))
      .filter(size(col("cuts")) > 0)
  }

  /** O(delta) incremental form of [[dupRuns]] — [[dupSpansIncr]]'s cut
    * positions (frozen base shingle set + in-increment keepers) passed
    * through the same maximal-run floor: a delta arrival loses only runs
    * of ≥ `minRun` tokens it duplicates, against an index that is never
    * re-opened. Same asymmetric-staleness contract as [[dupSpansIncr]].
    */
  def dupRunsIncr(spark: SparkSession, dir: String, n: Int = 5,
                  minRun: Int = 8, deltaMod: Int = 5): DataFrame = {
    val pw = Materialize(incrPw(spark, dir, n, deltaMod).filter(col("is_delta"))
      .select("doc_id", "words"))
    spanFoldArr(pw, minRunFloor(sortedCutArraysIncr(spark, dir, n, deltaMod), minRun))
  }

  def dupRunsIncrSql(n: Int = 5, minRun: Int = 8, deltaMod: Int = 5): String =
    s"""WITH pwa AS (
       |  SELECT doc_id, words, (${Exprs.arrivalSplitSql("doc_id", deltaMod)}) = 0 AS is_delta
       |  FROM ($preparedSql) WHERE len(words) >= $n),
       |pw AS (SELECT doc_id, words FROM pwa WHERE is_delta),
       |shd AS (
       |  SELECT doc_id, i - 1 AS i,
       |         ${Exprs.hex60Sql(s"array_to_string(words[i : i + ${n - 1}], ' ')")} AS sh
       |  FROM pw, unnest(range(1, len(words) - ${n - 1} + 1)) AS t(i)),
       |bset AS (
       |  SELECT DISTINCT ${Exprs.hex60Sql(s"array_to_string(words[i : i + ${n - 1}], ' ')")} AS sh
       |  FROM pwa, unnest(range(1, len(words) - ${n - 1} + 1)) AS t(i)
       |  WHERE NOT is_delta),
       |cut AS (
       |  SELECT doc_id, i FROM shd JOIN bset USING (sh)
       |  UNION ALL
       |  SELECT doc_id, i FROM (
       |    SELECT doc_id, i,
       |      ROW_NUMBER() OVER (PARTITION BY sh ORDER BY doc_id, i) AS rn
       |    FROM shd)
       |  WHERE rn > 1),
       |hits0 AS (
       |  SELECT DISTINCT doc_id, i + d AS p
       |  FROM cut, unnest(range(0, $n)) AS u(d)),
       |isl AS (
       |  SELECT doc_id, p,
       |    p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS grp
       |  FROM hits0),
       |hits AS (
       |  SELECT doc_id, p FROM (
       |    SELECT doc_id, p,
       |      count(*) OVER (PARTITION BY doc_id, grp) AS span_len
       |    FROM isl)
       |  WHERE span_len >= $minRun),
       |spans AS (
       |  SELECT doc_id, count(*) AS n_dup,
       |    CAST(sum(CASE WHEN prev IS NULL OR p - prev <> 1 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_spans
       |  FROM (SELECT doc_id, p,
       |          lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev FROM hits)
       |  GROUP BY doc_id),
       |wp AS (
       |  SELECT doc_id, i - 1 AS p, words[i] AS word
       |  FROM pw, unnest(range(1, len(words) + 1)) AS t(i)),
       |clean AS (
       |  SELECT doc_id, string_agg(word, ' ' ORDER BY p) AS text_clean
       |  FROM wp
       |  WHERE NOT EXISTS (SELECT 1 FROM hits h
       |                    WHERE h.doc_id = wp.doc_id AND h.p = wp.p)
       |  GROUP BY doc_id)
       |SELECT pw.doc_id, CAST(len(words) AS BIGINT) AS n_words,
       |  COALESCE(n_dup, 0) AS n_dup,
       |  COALESCE(n_spans, 0) AS n_spans,
       |  COALESCE(text_clean, '') AS text_clean
       |FROM pw LEFT JOIN spans ON pw.doc_id = spans.doc_id
       |        LEFT JOIN clean ON pw.doc_id = clean.doc_id
       |ORDER BY pw.doc_id""".stripMargin

  def dupRunsSql(n: Int = 5, minRun: Int = 8): String =
    s"""WITH pw AS (
       |  SELECT doc_id, words FROM ($preparedSql) WHERE len(words) >= $n),
       |sh AS (
       |  SELECT doc_id, i - 1 AS i,
       |         ${Exprs.hex60Sql(s"array_to_string(words[i : i + ${n - 1}], ' ')")} AS sh
       |  FROM pw, unnest(range(1, len(words) - ${n - 1} + 1)) AS t(i)),
       |dup AS (
       |  SELECT doc_id, i FROM (
       |    SELECT doc_id, i,
       |      ROW_NUMBER() OVER (PARTITION BY sh ORDER BY doc_id, i) AS rn
       |    FROM sh)
       |  WHERE rn > 1),
       |hits0 AS (
       |  SELECT DISTINCT doc_id, i + d AS p
       |  FROM dup, unnest(range(0, $n)) AS u(d)),
       |isl AS (
       |  SELECT doc_id, p,
       |    p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS grp
       |  FROM hits0),
       |hits AS (
       |  SELECT doc_id, p FROM (
       |    SELECT doc_id, p,
       |      count(*) OVER (PARTITION BY doc_id, grp) AS span_len
       |    FROM isl)
       |  WHERE span_len >= $minRun),
       |spans AS (
       |  SELECT doc_id, count(*) AS n_dup,
       |    CAST(sum(CASE WHEN prev IS NULL OR p - prev <> 1 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_spans
       |  FROM (SELECT doc_id, p,
       |          lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev FROM hits)
       |  GROUP BY doc_id),
       |wp AS (
       |  SELECT doc_id, i - 1 AS p, words[i] AS word
       |  FROM pw, unnest(range(1, len(words) + 1)) AS t(i)),
       |clean AS (
       |  SELECT doc_id, string_agg(word, ' ' ORDER BY p) AS text_clean
       |  FROM wp
       |  WHERE NOT EXISTS (SELECT 1 FROM hits h
       |                    WHERE h.doc_id = wp.doc_id AND h.p = wp.p)
       |  GROUP BY doc_id)
       |SELECT pw.doc_id, CAST(len(words) AS BIGINT) AS n_words,
       |  COALESCE(n_dup, 0) AS n_dup,
       |  COALESCE(n_spans, 0) AS n_spans,
       |  COALESCE(text_clean, '') AS text_clean
       |FROM pw LEFT JOIN spans ON pw.doc_id = spans.doc_id
       |        LEFT JOIN clean ON pw.doc_id = clean.doc_id
       |ORDER BY pw.doc_id""".stripMargin

  /** Per-source duplicated-token rate — the monitor row the substring-
    * dedup owner reads next to the dup-rate / quality-drift monitors:
    * which sources are shipping verbatim-duplicated text, as |sources|
    * rows of integer permille (the [[dupSpans]] verdicts folded onto the
    * source key). Rides the session-shared span relation — one doc-keyed
    * join + a map-side-combined fold, nothing new shuffles.
    */
  def dupSpanRate(spark: SparkSession, dir: String): DataFrame =
    dupSpans(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")),
        "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_dup")).as("n_dup"))
      .withColumn("dup_permille", expr("n_dup * 1000L div n_words"))
      .orderBy(col("source"))

  def dupSpanRateSql(n: Int = 5): String =
    s"""WITH s AS (${dupSpansSql(n)})
       |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(s.n_words) AS BIGINT) AS n_words,
       |  CAST(sum(s.n_dup) AS BIGINT) AS n_dup,
       |  CAST(sum(s.n_dup) * 1000 // sum(s.n_words) AS BIGINT) AS dup_permille
       |FROM s JOIN documents d USING (doc_id)
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** The boilerplate report — WHICH runs dominate the duplication
    * [[dupSpans]] cuts: the top-k most-repeated n-token windows with
    * occurrence and doc counts (license headers, navigation chrome,
    * quoted templates — what a curation owner reads before deciding
    * whether to cut or to special-case). This is the one member of the
    * family that carries the shingle TEXT (the report is for humans), so
    * it explodes its own positioned text rather than riding the hashed
    * [[posShingles]] key; the agg is vocabulary-bounded and the top-k is
    * a TakeOrdered, never a corpus-wide window.
    */
  def dupTopRuns(spark: SparkSession, dir: String, n: Int = 5,
                 k: Int = 20): DataFrame = {
    val pw = prepared(spark, dir).filter(size(col("words")) >= n)
      .select(col("doc_id"), col("words"))
    val counts = pw.select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(words)-$n), i -> array_join(slice(words, i+1, $n), ' '))"))
        .as("sh"))
      .groupBy(col("sh"))
      .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_occ") >= 2)
      .orderBy(col("n_occ").desc, col("sh")).limit(k)
    val w = Window.orderBy(col("n_occ").desc, col("sh"))
    counts.withColumn("rank", row_number().over(w))
      .select(col("rank"), col("sh").as("run"), col("n_docs"), col("n_occ"))
      .orderBy(col("rank"))
  }

  def dupTopRunsSql(n: Int = 5, k: Int = 20): String =
    s"""WITH pw AS (
       |  SELECT doc_id, words FROM ($preparedSql) WHERE len(words) >= $n),
       |counts AS (
       |  SELECT sh, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
       |  FROM (
       |    SELECT doc_id, array_to_string(words[i : i + ${n - 1}], ' ') AS sh
       |    FROM pw, unnest(range(1, len(words) - ${n - 1} + 1)) AS t(i))
       |  GROUP BY sh)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_occ DESC, sh) AS INT) AS rank,
       |  sh AS run, CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(n_occ AS BIGINT) AS n_occ
       |FROM counts WHERE n_occ >= 2
       |ORDER BY n_occ DESC, sh LIMIT $k""".stripMargin

  // ---- repetition signals (Gopher-style quality filters) ----

  /** Per-doc repetition signals — the Gopher/C4 family of quality filters a
    * training-data pipeline cuts on: duplicate-word fraction, duplicate
    * 2-gram fraction, and the share of all 2-grams taken by the most
    * frequent one. Pure integer counts → double divisions, bit-identical
    * across engines (no per-row round). Scale shape: one explode +
    * map-side-combined hash agg per doc — the same plan family as
    * [[tokenStats]].
    */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    val grams = when(size(col("words")) >= 2,
      expr("transform(sequence(0, size(words)-2), i -> concat(words[i], ' ', words[i+1]))"))
      .otherwise(array(col("norm")))
    // r21 shape: fully ROW-LOCAL — every output is a per-doc statistic of
    // the doc's own gram multiset, so the former explode → two-level hash
    // agg (which shuffled the whole gram mass by (doc, gram) and again by
    // doc) is replaced by a map-only fold: sort the doc's grams once, count
    // distincts with the hash-set `array_distinct`, and take the longest
    // equal-adjacent run with one linear `aggregate` scan. Zero exchanges
    // at any scale; per-doc cost O(g log g) in that doc's own gram count.
    // (An earlier variant that kept the aggs but hoisted the gram array
    // into a named pre-Generate column measured 2× SLOWER — the win here
    // comes from deleting the shuffles, not from hoisting.)
    prepared(spark, dir)
      .select(col("doc_id"), size(col("words")).as("n_words"),
        size(array_distinct(col("words"))).as("n_distinct_words"),
        array_sort(grams).as("gs"))
      .select(col("doc_id"), col("n_words"), col("n_distinct_words"),
        size(col("gs")).as("n_2grams"),
        size(array_distinct(col("gs"))).as("n_distinct_2grams"),
        // longest run of equal adjacent grams in the sorted array = the top
        // gram's multiplicity; the filtered index list is empty for a
        // single-gram doc (sequence(0,0) then drop i=0), folding to 1
        expr("""aggregate(
            filter(sequence(0, size(gs) - 1), i -> i >= 1),
            named_struct('run', 1, 'best', 1),
            (acc, i) -> named_struct(
              'run', IF(element_at(gs, i + 1) = element_at(gs, i), acc.run + 1, 1),
              'best', greatest(acc.best,
                IF(element_at(gs, i + 1) = element_at(gs, i), acc.run + 1, 1))),
            acc -> acc.best)""").as("top_2gram_n"))
      .select(col("doc_id"), col("n_words"),
        (lit(1.0) - col("n_distinct_words") / col("n_words").cast("double"))
          .as("dup_word_frac"),
        (lit(1.0) - col("n_distinct_2grams") / col("n_2grams").cast("double"))
          .as("dup_2gram_frac"),
        (col("top_2gram_n") / col("n_2grams").cast("double")).as("top_2gram_frac"))
  }

  val repetitionSql: String =
    s"""SELECT doc_id, n_words,
       |  CAST(1.0 AS DOUBLE) - n_distinct_words / CAST(n_words AS DOUBLE) AS dup_word_frac,
       |  CAST(1.0 AS DOUBLE) - n_distinct_2grams / CAST(n_2grams AS DOUBLE) AS dup_2gram_frac,
       |  top_2gram_n / CAST(n_2grams AS DOUBLE) AS top_2gram_frac
       |FROM (
       |  SELECT doc_id, n_words, n_distinct_words,
       |    count(*) AS n_distinct_2grams, sum(n) AS n_2grams, max(n) AS top_2gram_n
       |  FROM (
       |    SELECT doc_id, n_words, n_distinct_words, g, count(*) AS n
       |    FROM (
       |      SELECT doc_id,
       |        CAST(len(words) AS INT) AS n_words,
       |        CAST(len(list_distinct(words)) AS INT) AS n_distinct_words,
       |        CASE WHEN len(words) >= 2 THEN words[i] || ' ' || words[i+1]
       |             ELSE norm END AS g
       |      FROM ($preparedSql),
       |           unnest(range(1, CASE WHEN len(words) >= 2 THEN len(words) ELSE 2 END)) AS t(i))
       |    GROUP BY 1, 2, 3, 4)
       |  GROUP BY 1, 2, 3)
       |ORDER BY doc_id""".stripMargin

  /** Per-doc top-k rarity-weighted terms — the tf-idf shape with a RATIONAL
    * rarity weight `(N+1)/(df+1)` instead of its logarithm, so the score is
    * a pure integer-ratio double and bit-identical across engines (ln() is
    * not guaranteed to round identically). Ranking is order-isomorphic to
    * tf-idf for fixed N. Scale shape: explode → per-(doc,word) counts with
    * map-side combine, document frequencies from a second hash agg over the
    * SAME relation, shuffle join on word, per-doc top-k window (no global
    * sort).
    */
  def topTerms(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // corpus size stays INSIDE the plan (broadcast 1-row cross join, like
    // the oracle's scalar subquery) — an eager count() here would cost a
    // full extra scan at every query construction
    val nDocs = prepared(spark, dir).agg(count(lit(1)).as("n_docs"))
    val tf = prepared(spark, dir)
      .select(col("doc_id"), size(col("words")).as("n_words"),
        explode(col("words")).as("w"))
      .groupBy(col("doc_id"), col("n_words"), col("w"))
      .agg(count(lit(1)).as("n"))
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "w")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("n") / col("n_words").cast("double") *
          ((col("n_docs") + lit(1.0)) / (col("df") + lit(1)).cast("double")))
    Exprs.keepTop(scored, Seq(col("doc_id")), Seq(col("score").desc, col("w")), k, "rank")
      .select(col("doc_id"), col("rank"), col("w").as("term"), col("score"))
  }

  def topTermsSql(k: Int = 3): String =
    s"""WITH p AS ($preparedSql),
       |n AS (SELECT count(*) AS n_docs FROM p),
       |tf AS (
       |  SELECT doc_id, CAST(len(words) AS INT) AS n_words, w, count(*) AS n
       |  FROM (SELECT doc_id, words, unnest(words) AS w FROM p)
       |  GROUP BY 1, 2, 3),
       |df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
       |scored AS (
       |  SELECT tf.doc_id, tf.w,
       |    tf.n / CAST(tf.n_words AS DOUBLE)
       |      * ((n.n_docs + CAST(1.0 AS DOUBLE)) / CAST(df.df + 1 AS DOUBLE)) AS score
       |  FROM tf JOIN df USING (w), n)
       |SELECT doc_id, rank, w AS term, score FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (
       |    PARTITION BY doc_id ORDER BY score DESC, w) AS INT) AS rank
       |  FROM scored)
       |WHERE rank <= $k
       |ORDER BY doc_id, rank""".stripMargin

  // ---- exact dedup ----

  /** Exact dedup by content hash: one representative (min doc_id) per
    * normalized-text md5, with the duplicate count.
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    prepared(spark, dir)
      .groupBy(md5(col("norm").cast("binary")).as("text_md5"))
      .agg(min(col("doc_id")).as("rep_doc_id"), count(lit(1)).as("n_copies"))
      .select("rep_doc_id", "text_md5", "n_copies")

  val dedupExactSql: String =
    s"""SELECT min(doc_id) AS rep_doc_id, md5(norm) AS text_md5, count(*) AS n_copies
       |FROM ($preparedSql)
       |GROUP BY md5(norm) ORDER BY rep_doc_id""".stripMargin

  /** [[dedupExact]] with Unicode NFC canonicalization before hashing —
    * the multilingual-correctness form: composed (U+00E9) and decomposed
    * (e + U+0301) renderings of the same text are different byte strings,
    * so the raw-byte group misses duplicates any real web crawl contains
    * (different OCR/browser/OS producers mix the two encodings freely).
    * Built on the codegen `graft.plans.NfcNormalize` expression; DuckDB's
    * `nfc_normalize` mirrors it exactly (both implement the Unicode
    * standard algorithm). `n_forms` counts distinct RAW byte forms inside
    * the group — > 1 is precisely the duplicate class the raw-byte dedup
    * would have leaked, so the relation doubles as the encoding-drift
    * monitor. Identical plan shape to [[dedupExact]]: one hash-agg on the
    * content hash, no extra exchange for the normalization (row-local,
    * inside the scan's codegen stage).
    */
  def dedupNfc(spark: SparkSession, dir: String): DataFrame =
    prepared(spark, dir)
      .groupBy(md5(graft.plans.UnicodeExprs.nfcNormalize(col("norm"))
        .cast("binary")).as("text_md5"))
      .agg(min(col("doc_id")).as("rep_doc_id"), count(lit(1)).as("n_copies"),
        countDistinct(md5(col("norm").cast("binary"))).as("n_forms"))
      .select("rep_doc_id", "text_md5", "n_copies", "n_forms")

  val dedupNfcSql: String =
    s"""SELECT min(doc_id) AS rep_doc_id, md5(nfc_normalize(norm)) AS text_md5,
       |  count(*) AS n_copies, count(DISTINCT md5(norm)) AS n_forms
       |FROM ($preparedSql)
       |GROUP BY md5(nfc_normalize(norm)) ORDER BY rep_doc_id""".stripMargin

  // ---- n-gram (word-set) jaccard near-dup ----

  /** Exact word-set Jaccard over blocked candidate pairs (same language +
    * length bucket), with a document-frequency cap on candidate GENERATION
    * (prefix-filtering style):
    *
    *  1. candidates come from an equi-join on (block, word) restricted to
    *     words whose per-block df ≤ `dfCap` — a ubiquitous token can no
    *     longer fan a block out to d² join rows, so the worst-case join
    *     size is `dfCap² × distinct-capped-words` per block instead of
    *     quadratic in block population;
    *  2. each candidate pair is then verified EXACTLY over the full word
    *     sets (`array_intersect`), so reported n_shared/n_union/jaccard are
    *     the uncapped values.
    *
    * Contract delta vs the uncapped formulation: a true pair is missed only
    * when EVERY shared word is hotter than `dfCap` in the block — at the
    * ≥0.9 near-dup threshold such pairs share nearly all their vocabulary,
    * so any rare word in either doc generates the candidate. The oracle SQL
    * mirrors the cap, so both tiers compute the same relation.
    *
    * Session-shared ([[graft.SharedRel]], key `jacpairs`): the relation is
    * the exact-pair oracle THREE consumers run in full — its own
    * `d_jaccard_pairs` query, the [[lshSweep]] S-curve (which prices
    * every banding against it), and the [[lshRecall]] harness. Each
    * previously re-ran candidate generation + verify from scratch
    * (~2 s/pass at sf0.1 in the r20 min artifact, 3× per session). A
    * production dedup stores the verified pair relation once and serves
    * every audit from it.
    */
  def jaccardPairs(spark: SparkSession, dir: String, threshold: Double = 0.9,
                   dfCap: Int = 100): DataFrame =
    graft.SharedRel(spark, s"jacpairs|$dir|$threshold|$dfCap") {
      // materialized once: normText + split + array_distinct feed three
      // consumers (candidate explode + both exact-verify sides) and dominate
      // the per-doc cost
      val d = Materialize(prepared(spark, dir).select(
        col("doc_id"), col("lang"), expr("n_chars DIV 100").as("bkt"),
        array_distinct(col("words")).as("ws")))
      val ex = d.select(col("doc_id"), col("lang"), col("bkt"), explode(col("ws")).as("w"))
      // the hot-word list is tiny (only tokens in > dfCap docs of one block),
      // so df filtering is a map-side-combined groupBy + broadcast anti-join —
      // no window sort over the full exploded relation
      val hot = ex.groupBy("lang", "bkt", "w").agg(count(lit(1)).as("df"))
        .filter(col("df") > dfCap).drop("df")
      val rare = ex.join(broadcast(hot), Seq("lang", "bkt", "w"), "left_anti")
      val cands = rare.as("a").join(rare.as("b"),
          col("a.lang") === col("b.lang") && col("a.bkt") === col("b.bkt") &&
          col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      cands
        .join(d.select(col("doc_id").as("doc_a"), col("ws").as("ws_a")), "doc_a")
        .join(d.select(col("doc_id").as("doc_b"), col("ws").as("ws_b")), "doc_b")
        .withColumn("n_shared", size(array_intersect(col("ws_a"), col("ws_b"))).cast("long"))
        .withColumn("n_union",
          (size(col("ws_a")) + size(col("ws_b"))).cast("long") - col("n_shared"))
        .withColumn("jaccard", round(col("n_shared") / col("n_union").cast("double"), 4))
        .filter(col("n_shared") / col("n_union").cast("double") >= threshold)
        .select("doc_a", "doc_b", "n_shared", "n_union", "jaccard")
    }

  def jaccardPairsSql(threshold: Double = 0.9, dfCap: Int = 100): String =
    s"""WITH d AS (
       |  SELECT doc_id, lang, n_chars // 100 AS bkt, list_distinct(words) AS ws
       |  FROM ($preparedSql)),
       |ex AS (SELECT doc_id, lang, bkt, unnest(ws) AS w FROM d),
       |rare AS (
       |  SELECT doc_id, lang, bkt, w FROM (
       |    SELECT *, count(*) OVER (PARTITION BY lang, bkt, w) AS df FROM ex)
       |  WHERE df <= $dfCap),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM rare a JOIN rare b
       |    ON a.lang = b.lang AND a.bkt = b.bkt AND a.w = b.w AND a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(da.ws, db.ws)) AS BIGINT) AS n_shared,
       |    CAST(len(da.ws) + len(db.ws) AS BIGINT)
       |      - CAST(len(list_intersect(da.ws, db.ws)) AS BIGINT) AS n_union
       |  FROM cands
       |  JOIN d da ON da.doc_id = doc_a
       |  JOIN d db ON db.doc_id = doc_b)
       |SELECT doc_a, doc_b, n_shared, n_union,
       |  round(n_shared / CAST(n_union AS DOUBLE), 4) AS jaccard
       |FROM pairs
       |WHERE n_shared / CAST(n_union AS DOUBLE) >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Per-language document-length distribution: exact percentiles (both
    * engines interpolate linearly over the sorted values, so results agree
    * exactly) + count. The approximate tier at 100 TB is
    * `approx_percentile` (t-digest), registered rows-only like the HLL
    * query.
    */
  def lengthStats(spark: SparkSession, dir: String): DataFrame =
    prepared(spark, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        expr("percentile(n_chars, 0.25)").as("p25"),
        expr("percentile(n_chars, 0.5)").as("p50"),
        expr("percentile(n_chars, 0.75)").as("p75"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("lang"))

  val lengthStatsSql: String =
    s"""SELECT lang, count(*) AS n_docs,
       |  quantile_cont(n_chars, 0.25) AS p25,
       |  quantile_cont(n_chars, 0.5) AS p50,
       |  quantile_cont(n_chars, 0.75) AS p75,
       |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Corpus vocabulary statistics: top-k words by document frequency and
    * total frequency — the classic map-side-combined word count.
    */
  def vocab(spark: SparkSession, dir: String, k: Int = 50): DataFrame =
    prepared(spark, dir)
      .select(col("doc_id"), explode(col("words")).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_total"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_total").desc, col("w"))
      .limit(k)

  def vocabSql(k: Int = 50): String =
    s"""SELECT w, count(*) AS n_total,
       |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
       |FROM (SELECT doc_id, unnest(words) AS w FROM ($preparedSql))
       |GROUP BY w ORDER BY n_total DESC, w LIMIT $k""".stripMargin

  /** Deterministic hash sampling — reproducible downsampling for training
    * sets: keep documents whose content-independent id hash lands in the
    * first `pct` of `mod` buckets. Unlike `df.sample`, re-runs and engines
    * agree exactly.
    */
  def hashSample(spark: SparkSession, dir: String, mod: Int = 10, keep: Int = 1): DataFrame =
    prepared(spark, dir)
      .withColumn("bucket", pmod(graft.Exprs.hex60(col("doc_id").cast("string")), lit(mod)))
      .filter(col("bucket") < keep)
      .select("doc_id", "lang", "source", "bucket")

  def hashSampleSql(mod: Int = 10, keep: Int = 1): String =
    s"""SELECT doc_id, lang, source, bucket FROM (
       |  SELECT doc_id, lang, source,
       |    ${graft.Exprs.hex60Sql("doc_id::VARCHAR")} % $mod AS bucket
       |  FROM documents)
       |WHERE bucket < $keep ORDER BY doc_id""".stripMargin

  /** Quality-weighted deterministic sampling — the "mix by quality" step of
    * a training-data pipeline: each doc is kept with probability
    * proportional to its quality-bucket weight, decided by an integer hash
    * threshold (weighted Bernoulli). Deliberately NOT the u^(1/w) weighted
    * reservoir: pow/ln are not bit-identical across engines, while integer
    * hash-vs-threshold comparisons are — so re-runs AND the DuckDB oracle
    * reproduce the exact selection. The hash is salted ('ws:' prefix) so
    * this sample is independent of [[hashSample]] / [[curate]]'s gate.
    * Scale shape: pure row-local predicate, zero shuffle.
    */
  def weightedSample(spark: SparkSession, dir: String, mod: Int = 1000,
                     tHigh: Int = 800, tMed: Int = 400, tLow: Int = 100): DataFrame = {
    val thresh = when(col("quality_bucket") === "high", tHigh)
      .when(col("quality_bucket") === "medium", tMed).otherwise(tLow)
    prepared(spark, dir)
      .withColumn("quality_bucket", qualityBucketE)
      .withColumn("bucket",
        pmod(Exprs.hex60(concat(lit("ws:"), col("doc_id").cast("string"))), lit(mod)))
      .filter(col("bucket") < thresh)
      .select("doc_id", "source", "quality_bucket", "bucket")
  }

  def weightedSampleSql(mod: Int = 1000, tHigh: Int = 800, tMed: Int = 400,
                        tLow: Int = 100): String =
    s"""SELECT doc_id, source, quality_bucket, bucket FROM (
       |  SELECT doc_id, source, quality_bucket,
       |    ${Exprs.hex60Sql("'ws:' || doc_id::VARCHAR")} % $mod AS bucket
       |  FROM ($qualitySql) JOIN (SELECT doc_id AS qid, source FROM documents)
       |    ON doc_id = qid)
       |WHERE bucket < CASE quality_bucket WHEN 'high' THEN $tHigh
       |                                   WHEN 'medium' THEN $tMed ELSE $tLow END
       |ORDER BY doc_id""".stripMargin

  // ---- MinHash signatures + LSH band candidate pairs ----

  private def wordHash: Column = pmod(Exprs.hex60(col("w")), lit(P))

  /** 8-hash MinHash signature per document over the distinct word set.
    * Shared-hash construction keeps this oracle-checkable (Exprs.hex60).
    */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame = {
    val ex = prepared(spark, dir)
      .select(col("doc_id"), explode(array_distinct(col("words"))).as("w"))
      .withColumn("h", wordHash)
    val aggs = A.indices.map(i => min(pmod(col("h") * A(i) + B(i), lit(P))).as(s"m$i"))
    ex.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  def minhashSigSqlInner: String = {
    val h = Exprs.hex60Sql("w")
    val mins = A.indices.map(i =>
      s"min(((($h % $P) * ${A(i)} + ${B(i)}) % $P)) AS m$i").mkString(",\n    ")
    s"""SELECT doc_id,
       |    $mins
       |  FROM (SELECT doc_id, unnest(list_distinct(words)) AS w FROM ($preparedSql))
       |  GROUP BY doc_id""".stripMargin
  }

  /** LSH candidate pairs: 2 bands × 4 rows — docs agreeing on either band's
    * 4 minhashes become candidates. Join key is the band value (bounded
    * fan-out); at 100 TB this is the standard minhash-LSH bucket join.
    */
  /** Banded signatures, materialized once: the explode + md5 + two-level
    * hash agg is the dominant cost of every LSH consumer and would otherwise
    * recompute per use (canonical-plan reuse doesn't cover a broadcast and
    * a probe side of the same subplan). The cluster-scale analog is writing
    * signatures to a table and joining that.
    */
  def bandedSignatures(spark: SparkSession, dir: String): DataFrame =
    // the signature TABLE a production dedup maintains once per corpus —
    // shared per session across its consumers (pair join, CC clustering,
    // the recall harness) via SharedRel
    graft.SharedRel(spark, s"minhash-banded|$dir")(
      minhashSignatures(spark, dir)
        .withColumn("band1", concat_ws(",", col("m0"), col("m1"), col("m2"), col("m3")))
        .withColumn("band2", concat_ws(",", col("m4"), col("m5"), col("m6"), col("m7"))))

  /** The deployed 2×4 banded candidate pair relation — session-shared
    * ([[graft.SharedRel]], key `minhashpairs`): consumed in full by its
    * own `d_minhash_pairs` query AND the [[lshRecall]] harness's
    * candidate side; both previously re-ran the two band self-joins over
    * the shared signature table (~2 s/pass at sf0.1). The serving-path
    * analog of storing the candidate index a dedup pipeline probes.
    */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    graft.SharedRel(spark, s"minhashpairs|$dir") {
      val sig = bandedSignatures(spark, dir)
      // A pair can only appear in both joins when BOTH bands match, so the
      // band2 join emits only pairs whose band1 differs — exact dedup with a
      // per-row filter instead of a global 5M-row DISTINCT shuffle.
      val j1 = sig.as("a").join(sig.as("b"),
          col("a.band1") === col("b.band1") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      val j2 = sig.as("a").join(sig.as("b"),
          col("a.band2") === col("b.band2") && col("a.band1") =!= col("b.band1") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      j1.union(j2)
    }

  val minhashPairsSql: String =
    s"""WITH sig AS (
       |  $minhashSigSqlInner),
       |banded AS (
       |  SELECT doc_id,
       |    m0 || ',' || m1 || ',' || m2 || ',' || m3 AS band1,
       |    m4 || ',' || m5 || ',' || m6 || ',' || m7 AS band2
       |  FROM sig)
       |SELECT doc_a, doc_b FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b ON a.band1 = b.band1 AND a.doc_id < b.doc_id
       |  UNION ALL
       |  SELECT a.doc_id, b.doc_id
       |  FROM banded a JOIN banded b
       |    ON a.band2 = b.band2 AND a.band1 <> b.band1 AND a.doc_id < b.doc_id)
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- n-gram frequency ----

  /** Top-k word bigrams per language by total frequency — n-gram extraction
    * as a pure array transform + the standard explode → map-side-combined
    * count. Tie-break on the bigram string pins the ranking.
    */
  def ngramTop(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bigrams = when(size(col("words")) >= 2,
      expr("transform(sequence(0, size(words)-2), i -> concat(words[i], ' ', words[i+1]))"))
      .otherwise(array())
    val counts = prepared(spark, dir)
      .select(col("lang"), explode(bigrams).as("bigram"))
      .groupBy(col("lang"), col("bigram"))
      .agg(count(lit(1)).as("n"))
    Exprs.keepTop(counts, Seq(col("lang")), Seq(col("n").desc, col("bigram")), k, "rank_in_lang")
      .select("lang", "rank_in_lang", "bigram", "n")
      .orderBy(col("lang"), col("rank_in_lang"))
  }

  def ngramTopSql(k: Int = 5): String =
    s"""WITH bg AS (
       |  SELECT lang, words[i] || ' ' || words[i+1] AS bigram
       |  FROM ($preparedSql), unnest(range(1, len(words))) AS t(i)),
       |counts AS (SELECT lang, bigram, count(*) AS n FROM bg GROUP BY 1, 2)
       |SELECT lang, rank_in_lang, bigram, n FROM (
       |  SELECT lang, bigram, n, CAST(ROW_NUMBER() OVER (
       |    PARTITION BY lang ORDER BY n DESC, bigram) AS INT) AS rank_in_lang
       |  FROM counts)
       |WHERE rank_in_lang <= $k
       |ORDER BY lang, rank_in_lang""".stripMargin

  // ---- duplicate clustering (connected components over LSH candidates) ----

  /** Connected components over the MinHash-LSH candidate graph — the
    * clustering step of a production dedup pipeline (each cluster keeps one
    * representative). Min-label propagation to a fixpoint: every node takes
    * the minimum label among itself and its neighbors each round.
    *
    * Scale notes: the LSH graph is a union of band-cliques, so the diameter
    * (= round count) stays small; each round is one hash-shuffle join of the
    * edge list against the current labels. The driver-side loop only reads a
    * single convergence count per round (no data is collected). At a 100 TB
    * corpus the same loop runs with the edges persisted on the cluster —
    * the alternating large-star/small-star formulation (Kiveris et al.,
    * "Connected Components in MapReduce") halves the round count if the
    * graph ever gets chain-shaped; band-clique graphs don't need it.
    */
  /** The converged cluster relation is session-shared: three queries
    * consume it (the cluster report, the keep/drop apply, the
    * quality-aware apply), it is deterministic, and a production dedup
    * maintains the label table next to the signature table rather than
    * re-propagating per consumer — the [[bandedSignatures]] argument one
    * level up.
    */
  def dupClusters(spark: SparkSession, dir: String): DataFrame =
    graft.SharedRel(spark, s"dupcc|$dir") {
      // Propagate over the bipartite doc ↔ band-bucket incidence graph (2 rows
      // per doc), NOT the pairwise candidate graph: a bucket holding b docs
      // contributes b incidence rows instead of b·(b-1)/2 edges, so a
      // degenerate hot bucket costs O(b) per round rather than O(b²) — the
      // difference between 65 s and ~2 s on the synthetic corpus, and between
      // feasible and quadratic blow-up at 100 TB. Components are identical:
      // two docs share a band value iff they are connected through its bucket
      // node.
      val banded = bandedSignatures(spark, dir)
      val inc = Materialize(
        banded.select(col("doc_id"), concat(lit("1:"), col("band1")).as("bkt"))
          .union(banded.select(col("doc_id"), concat(lit("2:"), col("band2")).as("bkt"))))
      var labels = Materialize(banded.select(col("doc_id")).withColumn("label", col("doc_id")))
      var changed = 1L
      var rounds = 0
      while (changed > 0 && rounds < 25) {
        // bucket label = min over members; doc label = min over its buckets.
        // The convergence count rides along as an Observation on the job that
        // materializes the round — one Spark job per round, no second pass.
        val bmin = inc.join(labels, "doc_id")
          .groupBy(col("bkt")).agg(min(col("label")).as("bmin"))
        val stepped = inc.join(bmin, "bkt")
          .groupBy(col("doc_id")).agg(min(col("bmin")).as("nbr_min"))
          .join(labels, "doc_id")
          .select(col("doc_id"), least(col("label"), col("nbr_min")).as("label"),
            (col("nbr_min") < col("label")).cast("long").as("chg"))
        val obs = org.apache.spark.sql.Observation()
        // sever lineage: each round is one shuffle, not a growing chain
        val next = Materialize(stepped.observe(obs, sum(col("chg")).as("changed")))
        changed = obs.get("changed").asInstanceOf[Long]
        labels = next.drop("chg")
        rounds += 1
      }
      System.err.println(s"[dupClusters] converged in $rounds rounds (last delta $changed)")
      // fail loudly rather than return partially-propagated labels: a
      // diameter > cap graph would otherwise ship silently wrong clusters
      require(changed == 0,
        s"dupClusters did not converge within $rounds rounds ($changed labels still moving)")
      labels
        .withColumn("cluster_size", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("label"))))
        .select(col("doc_id"), col("label").as("cluster_rep"), col("cluster_size"))
        .orderBy(col("doc_id"))
    }

  /** Oracle: transitive min via recursive CTE (a genuinely different
    * algorithm — fixpoint closure vs label propagation).
    */
  val dupClustersSql: String =
    s"""WITH RECURSIVE sig AS (
       |  $minhashSigSqlInner),
       |banded AS (
       |  SELECT doc_id,
       |    m0 || ',' || m1 || ',' || m2 || ',' || m3 AS band1,
       |    m4 || ',' || m5 || ',' || m6 || ',' || m7 AS band2
       |  FROM sig),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b ON a.band1 = b.band1 AND a.doc_id < b.doc_id
       |  UNION ALL
       |  SELECT a.doc_id, b.doc_id
       |  FROM banded a JOIN banded b
       |    ON a.band2 = b.band2 AND a.band1 <> b.band1 AND a.doc_id < b.doc_id),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(doc, r) AS (
       |  SELECT doc_id, doc_id FROM banded
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.doc),
       |rep AS (SELECT doc, min(r) AS cluster_rep FROM reach GROUP BY doc)
       |SELECT doc AS doc_id, cluster_rep,
       |  count(*) OVER (PARTITION BY cluster_rep) AS cluster_size
       |FROM rep ORDER BY doc_id""".stripMargin

  /** The dedup APPLY step — what a pipeline actually ships: every doc
    * tagged keep/drop, keeping exactly one representative (the min-id
    * label) per near-dup cluster. Pure composition of [[dupClusters]] with
    * a column compare; the doc payload joins back by doc_id downstream, so
    * the decision relation stays narrow (3 columns) however wide the docs
    * are.
    */
  def dedupApply(spark: SparkSession, dir: String): DataFrame =
    dupClusters(spark, dir)
      .select(col("doc_id"), col("cluster_rep"),
        (col("doc_id") === col("cluster_rep")).as("keep"))

  val dedupApplySql: String = {
    // the cluster oracle minus its ORDER BY/cluster_size tail, re-projected
    val inner = dupClustersSql
      .replace("SELECT doc AS doc_id, cluster_rep,\n  count(*) OVER (PARTITION BY cluster_rep) AS cluster_size\nFROM rep ORDER BY doc_id",
        "SELECT doc AS doc_id, cluster_rep, doc = cluster_rep AS keep\nFROM rep ORDER BY doc_id")
    require(inner != dupClustersSql, "dedupApplySql: tail rewrite did not apply")
    inner
  }

  /** Quality-aware dedup apply — [[dedupApply]] with the OTHER
    * representative policy a production pipeline runs: keep the
    * highest-[[quality]] member of each near-dup cluster (tie: min
    * doc_id), not the min-id member. Min-id is the cheapest deterministic
    * choice, but when a boilerplate family spans a clean original and a
    * truncated scrape, the id order is arbitrary about which survives —
    * argmax-quality keeps the member the downstream model should train on
    * (the C4/RefinedWeb "keep the best duplicate" recipe).
    *
    * Composition, no new machinery: cluster labels from [[dupClusters]],
    * scores from [[quality]] (both already oracle-pinned), one narrow
    * doc_id equi-join, and a per-cluster argmax window — partition
    * cardinality is the cluster size, so the window is bounded by the
    * largest duplicate family, never the corpus. The argmax orders on the
    * bit-identical quality double with a doc_id tie-break, so a last-bit
    * float divergence can't flip the representative (same guard as every
    * rank in the ANN tier).
    */
  def dedupBest(spark: SparkSession, dir: String): DataFrame = {
    val clusters = dupClusters(spark, dir)
      .select(col("doc_id"), col("cluster_rep"))
    val q = quality(spark, dir).select(col("doc_id"), col("quality_score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_rep"))
      .orderBy(col("quality_score").desc, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    clusters.join(q, "doc_id")
      .withColumn("best_id", first(col("doc_id")).over(w))
      .select(col("doc_id"), col("cluster_rep"), col("best_id"),
        (col("doc_id") === col("best_id")).as("keep"))
      .orderBy(col("doc_id"))
  }

  val dedupBestSql: String =
    s"""WITH cl AS (SELECT doc_id, cluster_rep FROM ($dupClustersSql)),
       |q AS (SELECT doc_id, quality_score FROM ($qualitySql)),
       |j AS (SELECT cl.doc_id, cl.cluster_rep, q.quality_score
       |      FROM cl JOIN q USING (doc_id)),
       |best AS (
       |  SELECT cluster_rep, doc_id AS best_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (
       |      PARTITION BY cluster_rep
       |      ORDER BY quality_score DESC, doc_id) AS rn
       |    FROM j)
       |  WHERE rn = 1)
       |SELECT j.doc_id, j.cluster_rep, b.best_id, j.doc_id = b.best_id AS keep
       |FROM j JOIN best b ON j.cluster_rep = b.cluster_rep
       |ORDER BY j.doc_id""".stripMargin

  /** Cross-source duplication matrix — near-dup candidate pairs rolled up
    * by (source, source): which ingestion feeds duplicate EACH OTHER, the
    * attribution report that decides which crawler or vendor gets cut. The
    * off-diagonal cells are the actionable ones (two feeds shipping the
    * same content); the diagonal is within-feed redundancy the per-source
    * dedup already handles. Sources are emitted least-first so each
    * unordered feed pair lands in one cell.
    *
    * Scale: the pair relation is the banded [[minhashPairs]] (never
    * all-pairs); attribution adds two narrow doc_id→source joins and a
    * |sources|²-bounded agg — the matrix itself is tiny at any corpus
    * size.
    */
  def dupMatrix(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    minhashPairs(spark, dir)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val dupMatrixSql: String =
    s"""WITH pairs AS (SELECT doc_a, doc_b FROM ($minhashPairsSql)),
       |tagged AS (
       |  SELECT least(da.source, db.source) AS source_a,
       |         greatest(da.source, db.source) AS source_b
       |  FROM pairs
       |  JOIN documents da ON pairs.doc_a = da.doc_id
       |  JOIN documents db ON pairs.doc_b = db.doc_id)
       |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
       |FROM tagged GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  /** Crawl-budget reallocation — the ACTION [[dupMatrix]]'s cross-source
    * attribution feeds: content a source shares with ANOTHER source is
    * content the corpus pays for twice, so its per-source cap should
    * shrink by exactly the redundant fraction. A document is
    * OWNED-ELSEWHERE when it is the larger-id side of a cross-source
    * near-dup pair (the min-id keeper convention every dedup tier uses —
    * the smaller id is the copy the corpus keeps, so the larger-id
    * source is the one crawling redundantly). Per source:
    * `owned_pm` (redundant permille), `k_eff = max(1, k·(1000−owned_pm)
    * div 1000)` — then the operator EXECUTES the reallocation: the
    * salted-hash cap walk (`d_cap_per_source`'s machinery) under the
    * adjusted per-source quota, emitting the kept selection with its
    * quota columns. A source whose content is 40% owned elsewhere loses
    * 40% of its budget; a fully-original source keeps all of k.
    *
    * Scale shape: the pair relation is the session-shared banded
    * minhash join (never all-pairs); ownership is one distinct + one
    * |sources|-key agg; the selection is the same per-source rank window
    * as the fixed cap — nothing global, nothing quadratic.
    */
  def sourceBudget(spark: SparkSession, dir: String, k: Int = 100): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val owned = minhashPairs(spark, dir)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .filter(col("sa") =!= col("sb"))
      .select(col("doc_b").as("doc_id")).distinct()
    val stats = src.join(owned.withColumn("own", lit(true)), Seq("doc_id"), "left")
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("own").isNotNull, 1L).otherwise(0L)).as("n_owned"))
      .withColumn("owned_pm", expr("n_owned * 1000L div n_docs"))
      .withColumn("k_eff",
        greatest(lit(1L), expr(s"${k}L * (1000 - owned_pm) div 1000")))
    val w = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    src
      .withColumn("h", Exprs.hex60(concat(lit("cap:"), col("doc_id").cast("string"))))
      .join(stats.select("source", "owned_pm", "k_eff"), "source")
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= col("k_eff"))
      .select(col("doc_id"), col("source"), col("rnk"),
        col("owned_pm"), col("k_eff"))
      .orderBy("doc_id")
  }

  def sourceBudgetSql(k: Int = 100): String =
    s"""WITH pairs AS (SELECT doc_a, doc_b FROM ($minhashPairsSql)),
       |owned AS (
       |  SELECT DISTINCT doc_b AS doc_id
       |  FROM pairs
       |  JOIN documents da ON pairs.doc_a = da.doc_id
       |  JOIN documents db ON pairs.doc_b = db.doc_id
       |  WHERE da.source <> db.source),
       |stats AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CASE WHEN o.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_owned
       |  FROM documents d LEFT JOIN owned o ON d.doc_id = o.doc_id
       |  GROUP BY source),
       |q AS (
       |  SELECT source,
       |    CAST(n_owned * 1000 // n_docs AS BIGINT) AS owned_pm,
       |    CAST(greatest(1, $k * (1000 - n_owned * 1000 // n_docs) // 1000)
       |         AS BIGINT) AS k_eff
       |  FROM stats),
       |ranked AS (
       |  SELECT doc_id, source,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY ${Exprs.hex60Sql("'cap:' || doc_id::VARCHAR")}, doc_id)
       |      AS BIGINT) AS rnk
       |  FROM documents)
       |SELECT r.doc_id, r.source, r.rnk, q.owned_pm, q.k_eff
       |FROM ranked r JOIN q USING (source)
       |WHERE r.rnk <= q.k_eff
       |ORDER BY r.doc_id""".stripMargin

  /** Incremental dedup — the shape a DAILY ingest runs: dedup the new
    * increment (docs with `doc_id >= splitId`, standing in for "today's
    * crawl") against the existing corpus WITHOUT touching the corpus
    * itself. The base side collapses to its distinct content hashes (at
    * production scale: a bucketed hash-index table maintained across
    * increments, so the join co-locates without a shuffle of the base);
    * the increment additionally keeps one representative per new hash.
    * Decision relation for increment docs only: `dup_of_base` /
    * `dup_in_increment` / `kept`.
    */
  def dedupIncrement(spark: SparkSession, dir: String, splitId: Long = 250): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = prepared(spark, dir).select(col("doc_id"), col("source"),
      md5(col("norm").cast("binary")).as("text_md5"))
    val base = p.filter(col("doc_id") < splitId)
      .select(col("text_md5")).distinct().withColumn("in_base", lit(1))
    val incr = p.filter(col("doc_id") >= splitId)
      .withColumn("rep_doc_id",
        min(col("doc_id")).over(Window.partitionBy(col("text_md5"))))
    incr.join(base, Seq("text_md5"), "left")
      .withColumn("drop_reason",
        when(col("in_base").isNotNull, "dup_of_base")
          .when(col("doc_id") =!= col("rep_doc_id"), "dup_in_increment")
          .otherwise("kept"))
      .select(col("doc_id"), col("source"), col("text_md5"),
        (col("drop_reason") === "kept").as("keep"), col("drop_reason"))
  }

  def dedupIncrementSql(splitId: Long = 250): String =
    s"""WITH p AS (SELECT doc_id, source, md5(norm) AS text_md5 FROM ($preparedSql)),
       |base AS (SELECT DISTINCT text_md5 FROM p WHERE doc_id < $splitId),
       |incr AS (
       |  SELECT doc_id, source, text_md5,
       |    min(doc_id) OVER (PARTITION BY text_md5) AS rep_doc_id
       |  FROM p WHERE doc_id >= $splitId)
       |SELECT doc_id, source, text_md5, drop_reason = 'kept' AS keep, drop_reason
       |FROM (
       |  SELECT incr.doc_id, incr.source, incr.text_md5,
       |    CASE WHEN base.text_md5 IS NOT NULL THEN 'dup_of_base'
       |         WHEN incr.doc_id <> incr.rep_doc_id THEN 'dup_in_increment'
       |         ELSE 'kept' END AS drop_reason
       |  FROM incr LEFT JOIN base ON incr.text_md5 = base.text_md5)
       |ORDER BY doc_id""".stripMargin

  // ---- incremental NEAR-dup (frozen MinHash band index) ----

  /** Incremental NEAR-dup for text — the fuzzy daily-arrival form that
    * [[dedupIncrement]] (exact md5) cannot provide: classify each DELTA
    * document against the FROZEN base MinHash band index and against
    * smaller-id delta documents. Candidates come from the same 2-band × 4-row
    * LSH index as [[minhashPairs]] (band equality, never all-pairs); each
    * candidate is then verified IN SIGNATURE SPACE — near means agreeing on
    * ≥ `minAgree` of the 8 minhashes (agreement fraction is the standard
    * unbiased MinHash estimator of Jaccard, so 7/8 ≈ J ≥ 0.875). Verdicts:
    * `dup_of_base` (min base rep for lineage), `dup_in_increment` (min
    * smaller-id delta rep), else `kept` — the same contract as the
    * image/audio/video/vector incremental twins, so text now has both an
    * exact AND a near-dup frozen-index daily job.
    *
    * Contract delta vs exact word-set verification ([[jaccardPairs]] /
    * [[containmentPairs]], which remain the exact-verify operators): the
    * admission verdict is a function of the 8-hash signature alone. That is
    * deliberate, not a shortcut — on a template-heavy corpus the band
    * buckets are huge and HALF the candidate pairs are true near-dups
    * (measured at sf0.1: 786k of 1.6M), so any exact verify must ship two
    * full word arrays onto every candidate row — a multi-GB shuffle whose
    * cost no pre-filter can bound below the true-pair count. Signature-space
    * verification is how production MinHash dedup runs at corpus scale: the
    * candidate row already carries both signatures, so the verify is 8 int
    * comparisons, no array payload anywhere, and the whole frozen base index
    * is 10 ints per admitted document.
    *
    * Scale shape: the banded signature relation is the session-shared
    * [[bandedSignatures]] table a production dedup maintains anyway; the
    * delta side is 1/`deltaMod` of arrivals, the base side is probed through
    * two band equi-joins (bounded fan-out, int-only payload). Base×base
    * pairs are never recomputed — they were settled when those documents
    * were admitted, keeping the daily job O(delta), not O(corpus²).
    */
  def nearDupIncr(spark: SparkSession, dir: String, deltaMod: Int = 5,
                  minAgree: Int = 7): DataFrame = {
    val sig = bandedSignatures(spark, dir)
      .withColumn("is_delta", Exprs.arrivalSplit(col("doc_id"), deltaMod) === 0)
    val ms = (0 until 8).map(i => s"m$i")
    def side(suffix: String)(d: DataFrame): DataFrame =
      d.select(col("doc_id").as(s"id$suffix") +:
        col("band1").as(s"band1$suffix") +: col("band2").as(s"band2$suffix") +:
        ms.map(m => col(m).as(s"$m$suffix")): _*)
    val delta = side("")(sig.filter(col("is_delta")))
    val base = side("_b")(sig.filter(!col("is_delta")))
    val nAgreeE: Column = ms.map(m =>
      (col(m) === col(s"${m}_b")).cast("int")).reduce(_ + _)

    // Band-bucket candidates (two equi-joins, band2 only where band1
    // differs — the minhashPairs dedup-by-construction trick), verified by
    // signature agreement on the already-joined rows.
    def witnesses(right: DataFrame, extraPred: Column): DataFrame = {
      val j1 = delta.join(right, col("band1") === col("band1_b") && extraPred)
      val j2 = delta.join(right,
        col("band2") === col("band2_b") && col("band1") =!= col("band1_b") && extraPred)
      j1.union(j2).filter(nAgreeE >= minAgree).select(col("id"), col("id_b"))
    }
    val ofBase = witnesses(base, lit(true))
      .groupBy("id").agg(min("id_b").as("dup_of_b"))
    val inDelta = witnesses(side("_b")(sig.filter(col("is_delta"))),
      col("id_b") < col("id"))
      .groupBy("id").agg(min("id_b").as("dup_in_d"))

    delta.select(col("id"))
      .join(ofBase, Seq("id"), "left")
      .join(inDelta, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        (col("dup_of_b").isNull && col("dup_in_d").isNull).as("keep"),
        when(col("dup_of_b").isNotNull, "dup_of_base")
          .when(col("dup_in_d").isNotNull, "dup_in_increment")
          .otherwise("kept").as("drop_reason"),
        coalesce(col("dup_of_b"), col("dup_in_d")).as("dup_of"))
      .orderBy("doc_id")
  }

  def nearDupIncrSql(deltaMod: Int = 5, minAgree: Int = 7): String = {
    val agree = (0 until 8).map(i => s"CAST(d.m$i = b.m$i AS INT)").mkString(" + ")
    s"""WITH sig AS (
       |  $minhashSigSqlInner),
       |banded AS (
       |  SELECT doc_id, m0, m1, m2, m3, m4, m5, m6, m7,
       |    m0 || ',' || m1 || ',' || m2 || ',' || m3 AS band1,
       |    m4 || ',' || m5 || ',' || m6 || ',' || m7 AS band2,
       |    (${Exprs.arrivalSplitSql("doc_id", deltaMod)}) = 0 AS is_delta
       |  FROM sig),
       |base AS (SELECT * FROM banded WHERE NOT is_delta),
       |delta AS (SELECT * FROM banded WHERE is_delta),
       |ofbase AS (
       |  SELECT id, min(id_b) AS dup_of_b FROM (
       |    SELECT d.doc_id AS id, b.doc_id AS id_b
       |    FROM delta d JOIN base b ON d.band1 = b.band1
       |    WHERE $agree >= $minAgree
       |    UNION ALL
       |    SELECT d.doc_id, b.doc_id
       |    FROM delta d JOIN base b ON d.band2 = b.band2 AND d.band1 <> b.band1
       |    WHERE $agree >= $minAgree)
       |  GROUP BY id),
       |indelta AS (
       |  SELECT id, min(id_b) AS dup_in_d FROM (
       |    SELECT d.doc_id AS id, b.doc_id AS id_b
       |    FROM delta d JOIN delta b ON d.band1 = b.band1 AND b.doc_id < d.doc_id
       |    WHERE $agree >= $minAgree
       |    UNION ALL
       |    SELECT d.doc_id, b.doc_id
       |    FROM delta d JOIN delta b
       |      ON d.band2 = b.band2 AND d.band1 <> b.band1 AND b.doc_id < d.doc_id
       |    WHERE $agree >= $minAgree)
       |  GROUP BY id),
       |out AS (
       |  SELECT d.doc_id,
       |    (ob.dup_of_b IS NULL AND ind.dup_in_d IS NULL) AS keep,
       |    CASE WHEN ob.dup_of_b IS NOT NULL THEN 'dup_of_base'
       |         WHEN ind.dup_in_d IS NOT NULL THEN 'dup_in_increment'
       |         ELSE 'kept' END AS drop_reason,
       |    COALESCE(ob.dup_of_b, ind.dup_in_d) AS dup_of
       |  FROM delta d
       |  LEFT JOIN ofbase ob ON d.doc_id = ob.id
       |  LEFT JOIN indelta ind ON d.doc_id = ind.id)
       |SELECT * FROM out ORDER BY doc_id""".stripMargin
  }

  // ---- PII redaction audit ----

  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhoneRe = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"

  /** PII scrubbing audit — the redaction pass a training corpus runs before
    * release: per doc, how many email/phone patterns matched and the hash
    * of the text AFTER replacing them with typed placeholders. Pure
    * row-local regex expressions (both engines run RE2-compatible
    * patterns), zero shuffle; the decision of what to redact ships as a
    * narrow audit relation, the redacted text itself is recomputed on
    * write-out.
    */
  def redact(spark: SparkSession, dir: String): DataFrame = {
    val redacted = regexp_replace(
      regexp_replace(col("norm"), EmailRe, "<email>"), PhoneRe, "<phone>")
    prepared(spark, dir).select(
      col("doc_id"),
      size(regexp_extract_all(col("norm"), lit(EmailRe), lit(0))).as("n_emails"),
      size(regexp_extract_all(col("norm"), lit(PhoneRe), lit(0))).as("n_phones"),
      md5(redacted.cast("binary")).as("redacted_md5"))
  }

  val redactSql: String =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(norm, '$EmailRe')) AS INT) AS n_emails,
       |  CAST(len(regexp_extract_all(norm, '$PhoneRe')) AS INT) AS n_phones,
       |  md5(regexp_replace(regexp_replace(norm, '$EmailRe', '<email>', 'g'),
       |      '$PhoneRe', '<phone>', 'g')) AS redacted_md5
       |FROM ($preparedSql) ORDER BY doc_id""".stripMargin

  // ---- compression-ratio quality signal ----

  /** Deflate compression ratio per document — the Gopher-recipe quality
    * signal the heuristic score can't see: boilerplate and templated spam
    * compress far below natural prose, whatever their word statistics.
    * Computed over the normalized text with ONE explicitly-pinned
    * Deflater configuration (level 6, default strategy, zlib wrapper) so
    * the number is a property of the bytes, not of a knob; one Deflater
    * instance is reused (reset) across a partition — row-local, zero
    * shuffle, the mapPartitions shape of the multimodal codecs.
    *
    * No DuckDB oracle — SQL has no zlib — so this query takes the
    * driver's weaker rows-only check by design; the cross-run contract is
    * spec-pinned instead (determinism, bounds, and the
    * repetitive-compresses-better ordering).
    */
  def compressRatio(spark: SparkSession, dir: String,
                    repetitiveMax: Int = 300): DataFrame = {
    import spark.implicits._
    prepared(spark, dir).select(col("doc_id"), col("norm"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(6)
        val buf = new Array[Byte](1 << 16)
        // release the native zlib buffers at task end — without end() they
        // sit off-heap until GC finds the Deflater, which on a long-lived
        // executor running many tasks is an accumulation, not a leak-free
        // steady state
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => deflater.end()))
        it.map { case (id, norm) =>
          val raw =
            if (norm == null) Array.emptyByteArray
            else norm.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          deflater.reset()
          deflater.setInput(raw)
          deflater.finish()
          var n = 0L
          while (!deflater.finished()) n += deflater.deflate(buf)
          (id, raw.length.toLong, n)
        }
      }
      .toDF("doc_id", "n_bytes", "n_compressed")
      .withColumn("ratio_pm",
        when(col("n_bytes") === 0, lit(null).cast("long"))
          .otherwise(expr("n_compressed * 1000L div n_bytes")))
      .withColumn("repetitive",
        coalesce(col("ratio_pm") < repetitiveMax, lit(false)))
      .orderBy("doc_id")
  }

  /** [[compressRatio]] re-expressed on the codegen'd
    * `graft.plans.DeflatedLength` expression — identical output, but the
    * scan → project pipeline stays inside whole-stage codegen instead of
    * round-tripping every document through a `Dataset[(Long, String)]`
    * encoder. A null/missing text maps to the empty byte string on the
    * compressed side (matching the mapPartitions form) and 0 on the byte
    * side, so the two forms are row-for-row equal — spec-pinned.
    */
  def compressRatioExpr(spark: SparkSession, dir: String,
                        repetitiveMax: Int = 300): DataFrame =
    prepared(spark, dir).select(
      col("doc_id"),
      coalesce(octet_length(col("norm")), lit(0)).cast("long").as("n_bytes"),
      graft.plans.CompressExprs.deflatedLength(coalesce(col("norm"), lit("")))
        .as("n_compressed"))
      .withColumn("ratio_pm",
        when(col("n_bytes") === 0, lit(null).cast("long"))
          .otherwise(expr("n_compressed * 1000L div n_bytes")))
      .withColumn("repetitive",
        coalesce(col("ratio_pm") < repetitiveMax, lit(false)))
      .orderBy("doc_id")

  /** The SQL-expressible projection of the compression signal — UTF-8 byte
    * length of the normalized text per document. This is the oracle-checked
    * half of the [[compressRatio]] split: the deflate columns have no SQL
    * rendering (no zlib in any SQL engine) and stay spec-pinned, while the
    * byte denominator every ratio divides by IS differentially checked
    * here; a spec cross-foots the two relations so the oracle transitively
    * anchors the zlib relation's denominator.
    */
  def compressBytes(spark: SparkSession, dir: String): DataFrame =
    prepared(spark, dir).select(
      col("doc_id"),
      coalesce(octet_length(col("norm")), lit(0)).cast("long").as("n_bytes"))
      .orderBy("doc_id")

  val compressBytesSql: String =
    s"""SELECT doc_id,
       |  CAST(coalesce(octet_length(encode(norm)), 0) AS BIGINT) AS n_bytes
       |FROM ($preparedSql) ORDER BY doc_id""".stripMargin

  // ---- k-anonymity over release metadata ----

  /** k-anonymity suppression/generalization over the quasi-identifier
    * pair (source, lang) — the privacy gate a dataset RELEASE runs on its
    * metadata columns (the complement of [[redact]]'s content-side pass):
    * a row whose QI combination identifies fewer than `k` documents is a
    * re-identification handle. Local-recoding ladder, deterministic:
    *
    *   level 0 — (source, lang) group has ≥ k members → published as-is
    *   level 1 — source generalized to '*'; the row publishes if the
    *             generalized group (failing rows sharing its lang) has
    *             ≥ k members
    *   level 2 — still under k → suppressed (group_n reports the
    *             undersized generalized group for the audit)
    *
    * `group_n` is always the size of the row's FINAL anonymity group, so
    * the k-property is checkable by regrouping the published rows on
    * (source_out, lang_out) — the spec does exactly that. Scale shape:
    * two window counts (first on the QI pair, second on lang over the
    * failing subset) — map-side-combinable key counts bounded by
    * |sources|×|langs|, never corpus-bound.
    */
  def kAnon(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val w0 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"), col("lang"))
    val l0 = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"))
      .withColumn("n0", count(lit(1)).over(w0))
    val w1 = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
    val failing = l0.filter(col("n0") < k)
      .withColumn("n1", count(lit(1)).over(w1))
    val passed = l0.filter(col("n0") >= k)
      .select(col("doc_id"), col("source").as("source_out"),
        col("lang").as("lang_out"), lit(0).as("level"), col("n0").as("group_n"))
    val generalized = failing
      .select(col("doc_id"), lit("*").as("source_out"),
        when(col("n1") >= k, col("lang")).otherwise(lit("*")).as("lang_out"),
        when(col("n1") >= k, 1).otherwise(2).as("level"),
        col("n1").as("group_n"))
    passed.unionByName(generalized).orderBy(col("doc_id"))
  }

  /** The PUBLISHABLE projection of [[kAnon]] — level-2 (suppressed) rows
    * dropped. [[kAnon]] is the AUDIT view: its level-2 rows carry their
    * real doc_id so the suppression decision is reviewable, which means a
    * consumer that ships the audit view unfiltered re-releases the
    * undersized (*,*) group. This relation is the one a release actually
    * publishes — every (source_out, lang_out) group in it has ≥ k members,
    * spec-checked including the absence of any suppressed row.
    */
  def kAnonRelease(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    kAnon(spark, dir, k).filter(col("level") < 2)

  def kAnonReleaseSql(k: Int = 10): String =
    s"""SELECT * FROM (${kAnonSql(k)}) WHERE level < 2 ORDER BY doc_id""".stripMargin

  def kAnonSql(k: Int = 10): String =
    s"""WITH l0 AS (
       |  SELECT doc_id, source, lang,
       |    count(*) OVER (PARTITION BY source, lang) AS n0
       |  FROM documents),
       |failing AS (
       |  SELECT doc_id, source, lang,
       |    count(*) OVER (PARTITION BY lang) AS n1
       |  FROM l0 WHERE n0 < $k)
       |SELECT doc_id, source AS source_out, lang AS lang_out,
       |  0 AS level, CAST(n0 AS BIGINT) AS group_n
       |FROM l0 WHERE n0 >= $k
       |UNION ALL
       |SELECT doc_id, '*' AS source_out,
       |  CASE WHEN n1 >= $k THEN lang ELSE '*' END AS lang_out,
       |  CASE WHEN n1 >= $k THEN 1 ELSE 2 END AS level,
       |  CAST(n1 AS BIGINT) AS group_n
       |FROM failing
       |ORDER BY doc_id""".stripMargin

  // ---- end-to-end curation pipeline ----

  /** The composed curation pipeline — the decision relation a training-data
    * run actually ships: EVERY document tagged keep/drop with its first
    * failing gate, gates applied in the order a real pipeline applies them
    * (cheap row-local cuts before shuffle-bearing ones):
    *
    *   1. `lang`         — predicted language ≠ `keepLang` ([[predLangE]])
    *   2. `quality`      — quality bucket `low` ([[qualityBucketE]])
    *   3. `duplicate`    — not the min-id representative of its exact
    *                       content-hash group ([[dedupExact]] semantics)
    *   4. `benchmark`    — the doc IS benchmark material (probe set)
    *   5. `contaminated` — ≥ `contamMin` 3-gram shingles shared with a
    *                       probe doc ([[contamination]])
    *   6. `sampled_out`  — deterministic hash sample ([[hashSample]]
    *                       mechanism), keeping `sampleKeep`/`sampleMod`
    *   7. `kept`
    *
    * Scale shape: gates 1, 2, 4, 6 are fused per-row expressions (zero
    * shuffle); gate 3 is ONE hash shuffle on the content md5; gate 5 is the
    * bucketed shingle equi-join of [[contamination]] joined back by doc_id.
    * The decision relation stays narrow however wide the docs are — payload
    * re-joins by doc_id downstream, exactly like [[dedupApply]].
    */
  /** `dupTokenMax >= 0` arms the OPTIONAL substring-dedup gate: a doc
    * whose [[dupSpans]] cut covers more than `dupTokenMax` tokens drops
    * with reason `dup_span` (after the contamination gate — both are
    * span-level verdicts — and before sampling). Default −1 = off, the
    * reference 6-gate chain; [[curateFunnel]] reports the default chain.
    */
  def curate(spark: SparkSession, dir: String, keepLang: String = "en",
             probeMax: Long = 10, contamMin: Long = 5,
             sampleMod: Int = 10, sampleKeep: Int = 8,
             dupTokenMax: Long = -1L): DataFrame =
    // session-shared: three consumers (the verdict query, the funnel
    // report, the corpus build's keep set) and a deterministic relation —
    // the dupClusters argument
    graft.SharedRel(spark,
      s"curate|$dir|$keepLang|$probeMax|$contamMin|$sampleMod|$sampleKeep|$dupTokenMax") {
      val base = curatePrefix(spark, dir, probeMax)
      val dupCond: Column =
        if (dupTokenMax >= 0) coalesce(col("n_dup"), lit(0L)) > dupTokenMax
        else lit(false)
      val reason = when(col("pred_lang") =!= keepLang, "lang")
        .when(col("quality_bucket") === "low", "quality")
        .when(col("doc_id") =!= col("rep_doc_id"), "duplicate")
        .when(col("doc_id") < probeMax, "benchmark")
        .when(coalesce(col("n_shared_shingles"), lit(0L)) >= contamMin, "contaminated")
        .when(dupCond, "dup_span")
        .when(pmod(Exprs.hex60(col("doc_id").cast("string")), lit(sampleMod)) >= sampleKeep,
          "sampled_out")
        .otherwise("kept")
      val withDup = if (dupTokenMax >= 0)
        base.join(dupSpans(spark, dir).select(col("doc_id"), col("n_dup")),
          Seq("doc_id"), "left")
      else base
      withDup
        .withColumn("drop_reason", reason)
        .select(col("doc_id"), col("source"), col("pred_lang"),
          col("quality_bucket"), (col("drop_reason") === "kept").as("keep"),
          col("drop_reason"))
    }

  /** The gate-independent curate prefix — language/quality annotation,
    * exact-hash representative, contamination join — shared across
    * PARAMETERIZATIONS (the plain `d_curate` chain and the span-gated
    * `d_curate_spans` both ride it; unshared, each dupTokenMax value
    * re-ran the full annotate+window+contamination build: measured
    * 4.4 s + 0.9 s → one 4.4 s build at sf0.1). The per-param gates are
    * pure projections over this relation.
    */
  private def curatePrefix(spark: SparkSession, dir: String,
                           probeMax: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.SharedRel(spark, s"curatebase|$dir|$probeMax") {
      val base = prepared(spark, dir)
        .withColumn("pred_lang", predLangE)
        .withColumn("quality_bucket", qualityBucketE)
        .withColumn("h", md5(col("norm").cast("binary")))
        .withColumn("rep_doc_id",
          min(col("doc_id")).over(Window.partitionBy(col("h"))))
      val cont = contamination(spark, dir, probeMax)
        .select(col("doc_id"), col("n_shared_shingles"))
      base.join(cont, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), col("pred_lang"),
          col("quality_bucket"), col("rep_doc_id"), col("n_shared_shingles"))
    }
  }

  /** The curation FUNNEL report — per-gate drop counts in pipeline order
    * with the surviving population after each gate, zero-filled so every
    * stage appears even when nothing fails it (the dashboard a curation
    * run is monitored by; [[curate]]'s first-failing-gate contract makes
    * the cumulative subtraction exact). `n_remaining` is the population
    * ENTERING the next stage; the terminal `kept` row reaches 0 by
    * construction. 7-row output; the only cost is [[curate]] itself plus
    * one |gates|-row window.
    */
  def curateFunnel(spark: SparkSession, dir: String, keepLang: String = "en",
                   probeMax: Long = 10, contamMin: Long = 5,
                   sampleMod: Int = 10, sampleKeep: Int = 8): DataFrame = {
    import spark.implicits._
    val gates = Seq((1, "lang"), (2, "quality"), (3, "duplicate"),
      (4, "benchmark"), (5, "contaminated"), (6, "sampled_out"), (7, "kept"))
      .toDF("stage_idx", "gate")
    val verdicts = curate(spark, dir, keepLang, probeMax, contamMin,
      sampleMod, sampleKeep)
    val counts = verdicts.groupBy(col("drop_reason").as("gate"))
      .agg(count(lit(1)).as("n"))
    val total = verdicts.agg(count(lit(1)).as("t"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("stage_idx"))
    gates.join(counts, Seq("gate"), "left")
      .crossJoin(broadcast(total))
      .withColumn("n_docs", coalesce(col("n"), lit(0L)).cast("long"))
      .withColumn("n_remaining",
        (col("t") - sum(col("n_docs")).over(w)).cast("long"))
      .select(col("stage_idx"), col("gate"), col("n_docs"), col("n_remaining"))
      .orderBy(col("stage_idx"))
  }

  def curateFunnelSql(keepLang: String = "en", probeMax: Long = 10,
                      contamMin: Long = 5, sampleMod: Int = 10,
                      sampleKeep: Int = 8): String =
    s"""WITH v AS (${curateSql(keepLang, probeMax, contamMin, sampleMod, sampleKeep)}),
       |gates(stage_idx, gate) AS (VALUES
       |  (1,'lang'),(2,'quality'),(3,'duplicate'),(4,'benchmark'),
       |  (5,'contaminated'),(6,'sampled_out'),(7,'kept')),
       |c AS (SELECT drop_reason AS gate, CAST(count(*) AS BIGINT) AS n
       |      FROM v GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM v)
       |SELECT stage_idx, gate, n_docs,
       |  CAST(t - sum(n_docs) OVER (ORDER BY stage_idx) AS BIGINT) AS n_remaining
       |FROM (
       |  SELECT g.stage_idx, g.gate,
       |    CAST(coalesce(c.n, 0) AS BIGINT) AS n_docs, tot.t
       |  FROM gates g LEFT JOIN c USING (gate) CROSS JOIN tot)
       |ORDER BY stage_idx""".stripMargin

  def curateSql(keepLang: String = "en", probeMax: Long = 10,
                contamMin: Long = 5, sampleMod: Int = 10,
                sampleKeep: Int = 8, dupTokenMax: Long = -1L): String = {
    val dupCte =
      if (dupTokenMax >= 0)
        s",\nds AS (SELECT doc_id, n_dup FROM (${dupSpansSql()}))"
      else ""
    val dupCase =
      if (dupTokenMax >= 0)
        s"\n         WHEN coalesce(ds.n_dup, 0) > $dupTokenMax THEN 'dup_span'"
      else ""
    val dupJoin =
      if (dupTokenMax >= 0) "\n  LEFT JOIN ds ON d.doc_id = ds.doc_id"
      else ""
    s"""WITH lang AS (SELECT doc_id, pred_lang FROM ($langidSql)),
       |q AS (SELECT doc_id, quality_bucket FROM ($qualitySql)),
       |d AS (SELECT doc_id, source, md5(norm) AS h FROM ($preparedSql)),
       |rep AS (SELECT h, min(doc_id) AS rep_doc_id FROM d GROUP BY h),
       |cont AS (SELECT doc_id, n_shared_shingles FROM (${contaminationSql(probeMax)}))$dupCte
       |SELECT doc_id, source, pred_lang, quality_bucket,
       |  drop_reason = 'kept' AS keep, drop_reason
       |FROM (
       |  SELECT d.doc_id, d.source, lang.pred_lang, q.quality_bucket,
       |    CASE WHEN lang.pred_lang <> '$keepLang' THEN 'lang'
       |         WHEN q.quality_bucket = 'low' THEN 'quality'
       |         WHEN d.doc_id <> rep.rep_doc_id THEN 'duplicate'
       |         WHEN d.doc_id < $probeMax THEN 'benchmark'
       |         WHEN coalesce(cont.n_shared_shingles, 0) >= $contamMin THEN 'contaminated'$dupCase
       |         WHEN ${Exprs.hex60Sql("d.doc_id::VARCHAR")} % $sampleMod >= $sampleKeep
       |           THEN 'sampled_out'
       |         ELSE 'kept' END AS drop_reason
       |  FROM d
       |  JOIN lang ON d.doc_id = lang.doc_id
       |  JOIN q ON d.doc_id = q.doc_id
       |  JOIN rep ON d.h = rep.h
       |  LEFT JOIN cont ON d.doc_id = cont.doc_id$dupJoin)
       |ORDER BY doc_id""".stripMargin
  }

  // ---- SimHash ----

  /** SimHash width (the full [[Exprs.hex60]] hash width) and the block
    * split used for candidate pairing. 4 blocks × 15 bits: four blocks make
    * the hamming ≤ 3 candidate set EXACT by pigeonhole (a pair differing in
    * ≤ 3 bits cannot differ in all 4 blocks), and a 15-bit block key
    * (32,768 values) keeps the self-join selective — an 8-bit key (256
    * values) would degenerate to ~n²/256 candidate pairs at corpus scale.
    */
  val SimhashBits = 60
  val SimhashBlocks = 4
  private val BlockBits = SimhashBits / SimhashBlocks // 15
  private val BlockMask = (1L << BlockBits) - 1

  /** 60-bit SimHash over the distinct word set: bit j of the signature is
    * the sign of Σ_words (bit j of hash(word) ? +1 : -1).
    */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    val ex = prepared(spark, dir)
      .select(col("doc_id"), explode(array_distinct(col("words"))).as("w"))
      .withColumn("h", Exprs.hex60(col("w")))
    val bitSums = (0 until SimhashBits).map(j =>
      sum(shiftright(col("h"), j).bitwiseAND(1) * 2 - 1).as(s"s$j"))
    val sig = (0 until SimhashBits).map(j =>
      when(col(s"s$j") > 0, 1L << j).otherwise(0L)).reduce(_ + _)
    ex.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), sig.as("simhash60"))
  }

  /** SimHash near-dup candidate pairs, blocked on the 4×15-bit split: one
    * equi-join per block, earlier-block-inequality predicates replacing a
    * global DISTINCT (same trick as the minhash band join). For
    * `maxHamming` ≤ [[SimhashBlocks]] − 1 the result is exact, not a
    * candidate approximation.
    */
  def simhashPairs(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    val blocks = (0 until SimhashBlocks).map(k => s"b$k")
    // signature agg feeds all join sides; materialize once
    val s = Materialize(blocks.zipWithIndex.foldLeft(simhash(spark, dir)) { case (df, (b, k)) =>
      df.withColumn(b, shiftright(col("simhash60"), k * BlockBits).bitwiseAND(BlockMask))
    })
    def joinOn(k: Int): DataFrame = {
      val cond = (col(s"a.b$k") === col(s"b.b$k")) +:
        (0 until k).map(i => col(s"a.b$i") =!= col(s"b.b$i"))
      s.as("a").join(s.as("b"),
          cond.reduce(_ && _) && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          expr("CAST(bit_count(a.simhash60 ^ b.simhash60) AS INT)").as("hamming"))
    }
    (0 until SimhashBlocks).map(joinOn).reduce(_ union _)
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def simhashPairsSql(maxHamming: Int = 3): String = {
    val blockCols = (0 until SimhashBlocks).map(k =>
      s"(simhash60 >> ${k * BlockBits}) & $BlockMask AS b$k").mkString(",\n    ")
    val arms = (0 until SimhashBlocks).map { k =>
      val disj = (0 until k).map(i => s" AND a.b$i <> b.b$i").mkString
      s"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(bit_count(xor(a.simhash60, b.simhash60)) AS INT) AS hamming
         |  FROM s a JOIN s b ON a.b$k = b.b$k$disj AND a.doc_id < b.doc_id""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH s AS (SELECT doc_id, simhash60,
       |    $blockCols
       |  FROM ($simhashSql)),
       |cand AS (
       |  $arms)
       |SELECT doc_a, doc_b, hamming FROM cand
       |WHERE hamming <= $maxHamming
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  val simhashSql: String = {
    val h = Exprs.hex60Sql("w")
    val bitSums = (0 until SimhashBits).map(j =>
      s"CAST(sum((($h >> $j) & 1) * 2 - 1) AS BIGINT) AS s$j").mkString(",\n    ")
    val sig = (0 until SimhashBits).map(j =>
      s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    s"""SELECT doc_id, CAST($sig AS BIGINT) AS simhash60 FROM (
       |  SELECT doc_id,
       |    $bitSums
       |  FROM (SELECT doc_id, unnest(list_distinct(words)) AS w FROM ($preparedSql))
       |  GROUP BY doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  // ---- segment-level dedup (the line-dedup pass of RefinedWeb / C4) ----

  /** Sub-document dedup: drop every occurrence of a fixed-width word
    * segment that appears more than once in the corpus, and re-assemble
    * each document from its surviving segments in original order. This is
    * the "remove duplicated lines" pass of the C4 / RefinedWeb recipes
    * (boilerplate navigation text, cookie banners, repeated headers), with
    * `width`-word segments standing in for lines because the synthetic
    * corpus has no newline structure.
    *
    * Scale shape: posexplode → one map-side-combined hash agg, REDUCED to
    * the duplicate set (`n >= 2`) — the n==1/n>1 bit is the whole signal,
    * so the join target is the duplicated segments, a tiny fraction of the
    * frequency table on any real corpus. A bloom sketch of that set
    * ([[graft.plans.BloomJoin.bloomFlag]]) routes segments it PROVES
    * unique (no false negatives) straight to the output; only sketch hits
    * pay the exact equi-join that discharges false positives. Per-doc
    * re-assembly via sort-free `array_sort(collect_list(struct(pos, seg)))`
    * (the collect is bounded by a document's own segment count, never by
    * the corpus). At 100 TB the second full-corpus shuffle of the naive
    * segs⋈freq join collapses to a shuffle of the duplicate hits only.
    */
  def segmentDedup(spark: SparkSession, dir: String, width: Int = 5,
                   bloomBits: Long = 1L << 23): DataFrame = {
    // ceil(n/width) segments; slice() tolerates a short tail segment
    val segments = expr(
      s"""transform(sequence(0, (size(words) + ${width - 1}) div $width - 1),
         |  i -> concat_ws(' ', slice(words, i * $width + 1, $width)))""".stripMargin)
    val segs = prepared(spark, dir)
      .select(col("doc_id"), posexplode(segments).as(Seq("pos", "seg")))
    // pinned: consumed by the sketch build (eager) and the exact join
    val dups = Materialize(segs.groupBy(col("seg")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select(col("seg")))
    // sketch sized by BIT BUDGET (1 MB default ≈ 840k duplicate segments at
    // ~1% fpp), not by counting dups — the count was one extra job per call
    // whose only purpose was sizing, and an over-budget duplicate set only
    // costs routing efficiency, never correctness (the exact join below
    // discharges every false positive)
    val flagged = BloomJoin.bloomFlag(segs, "seg", dups, "seg", "might",
      numBits = bloomBits)
    val clear = flagged.filter(!col("might"))
      .select(col("doc_id"), col("pos"), col("seg"), lit(false).as("dup"))
    val resolved = flagged.filter(col("might"))
      .join(dups.withColumn("__d", lit(true)), Seq("seg"), "left")
      .select(col("doc_id"), col("pos"), col("seg"),
        coalesce(col("__d"), lit(false)).as("dup"))
    clear.unionByName(resolved)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segs"),
        count(when(!col("dup"), lit(1))).as("n_kept"),
        // when() without otherwise → null for dropped segs; collect_list
        // skips nulls, array_sort orders by pos (first struct field)
        array_join(
          expr("transform(array_sort(collect_list(CASE WHEN NOT dup THEN struct(pos, seg) END)), x -> x.seg)"),
          " ").as("text_dedup"))
      .orderBy(col("doc_id"))
  }

  def segmentDedupSql(width: Int = 5): String =
    s"""WITH segs AS (
       |  SELECT doc_id, i AS pos,
       |    array_to_string(words[(i * $width + 1):((i + 1) * $width)], ' ') AS seg
       |  FROM ($preparedSql),
       |       unnest(range(0, (len(words) + ${width - 1}) // $width)) AS t(i)),
       |freq AS (SELECT seg, count(*) AS n FROM segs GROUP BY seg)
       |SELECT doc_id,
       |  count(*) AS n_segs,
       |  count(*) FILTER (n = 1) AS n_kept,
       |  coalesce(string_agg(seg, ' ' ORDER BY pos) FILTER (n = 1), '') AS text_dedup
       |FROM segs JOIN freq USING (seg)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- unigram information content (perplexity-style quality filter) ----

  /** Per-document unigram information content — the frequency-based stand-in
    * for the perplexity filter every LLM-data recipe runs (CCNet / Gopher
    * score docs with a small LM; the dominant signal is token rarity).
    * Each token costs `log2(N) − log2(count)` bits, computed EXACTLY as
    * `length(bin(N)) − length(bin(count))` (integer floor-log2 via the
    * binary-string length — bit-identical on any engine, unlike libm
    * `log()` whose last bit is build-dependent). High bits/token = rare
    * vocabulary (possibly noise), low = boilerplate.
    *
    * Scale shape: token explode → map-side-combined count agg → equi-join
    * tokens⋈counts on the word key → per-doc sum. The count table is
    * Zipf-distributed: at 100 TB it cannot broadcast whole, and AQE's
    * skew-join split (`spark.sql.adaptive.skewJoin.enabled`) cuts a hot
    * word's oversized shuffle partition at run time. The corpus total N is
    * a 1-row agg, a free broadcast.
    */
  def lmBits(spark: SparkSession, dir: String): DataFrame = {
    val tokens = prepared(spark, dir)
      .select(col("doc_id"), explode(col("words")).as("w"))
    val counts = tokens.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("n_total"))
    tokens.join(counts, "w")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        (length(bin(col("n_total"))) - length(bin(col("cnt")))).cast("long").as("bits"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("bits")).as("sum_bits"))
      // ONE integer/integer double division — deterministic across engines
      .withColumn("bits_per_token",
        col("sum_bits") / col("n_tokens").cast("double"))
      .orderBy(col("doc_id"))
  }

  val lmBitsSql: String =
    s"""WITH tokens AS (
       |  SELECT doc_id, unnest(words) AS w FROM ($preparedSql)),
       |counts AS (SELECT w, count(*) AS cnt FROM tokens GROUP BY w),
       |total AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM counts)
       |SELECT doc_id,
       |  count(*) AS n_tokens,
       |  CAST(sum(length(bin(n_total)) - length(bin(cnt))) AS BIGINT) AS sum_bits,
       |  CAST(sum(length(bin(n_total)) - length(bin(cnt))) AS BIGINT)
       |    / CAST(count(*) AS DOUBLE) AS bits_per_token
       |FROM tokens JOIN counts USING (w) CROSS JOIN total
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Bigram LM scoring in exact integer bits — the CCNet/KenLM perplexity
    * filter one order up from [[lmBits]]'s unigram model: fluent text is
    * cheap under a bigram model trained on the corpus itself, word salad
    * and shuffled boilerplate are expensive even when their UNIGRAM stats
    * look normal (exactly the gap `d_repetition`'s surface features and
    * `d_lm_bits` both miss). Add-one smoothing throughout; every cost is a
    * `length(bin(x))` difference (⌊log2⌋+1 — the [[lmBits]] portability
    * trick, no libm anywhere):
    *
    *   first token:  ⌊log2(N + V)⌋+1 − ⌊log2(cnt(w) + 1)⌋+1
    *   later tokens: ⌊log2(ctx(w₁) + V)⌋+1 − ⌊log2(c₂(w₁,w₂) + 1)⌋+1
    *
    * with ctx(w₁) = bigram-context occurrences of w₁ (so the conditional
    * is properly normalized over observed contexts) and V the corpus
    * vocabulary. Same output schema as [[lmBits]] (family parity), so the
    * two models' bits_per_token are directly comparable per document.
    *
    * Scale shape: the bigram model is a (w₁, w₂)-keyed count relation —
    * vocabulary²-bounded, joined on the bigram key with map-side combine,
    * broadcast while it fits (AQE decides); the corpus shuffles only on
    * token/bigram/doc keys. Train/apply on one corpus here (the oracle
    * needs one relation); production freezes the counts like the NB tier.
    */
  def lm2Bits(spark: SparkSession, dir: String): DataFrame =
    // session-shared: the relation feeds its own driver query AND the
    // ensemble gate; the bigram model build is the expensive half
    graft.SharedRel(spark, s"lm2|$dir") {
      val d = prepared(spark, dir).select(col("doc_id"), col("words"))
      val toks = d.select(col("doc_id"), explode(col("words")).as("w"))
      // r21: adjacent-word pairs are a row-local array transform (the former
      // posexplode + doc-keyed lead window shuffled and sorted the whole
      // token mass just to look one element ahead); slice-guarded index list
      // is safe for 0/1-word docs
      val bi = d.select(col("doc_id"), explode(expr(
          """transform(slice(sequence(0, greatest(size(words) - 1, 0)),
            |          1, greatest(size(words) - 1, 0)),
            |  i -> named_struct('w1', words[i], 'w2', words[i + 1]))""".stripMargin))
          .as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      val uniCnt = toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      val biCnt = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      val ctxCnt = bi.groupBy(col("w1")).agg(count(lit(1)).as("ctx"))
      val stats = uniCnt.agg(sum(col("cnt")).as("n_total"),
        count(lit(1)).as("v_size"))
      // the first token is just words[0] — no positional explode needed
      val firstBits = d.filter(size(col("words")) > 0)
        .select(col("doc_id"), col("words").getItem(0).as("w"))
        .join(uniCnt, "w").crossJoin(broadcast(stats))
        .select(col("doc_id"),
          (length(bin(col("n_total") + col("v_size"))) -
            length(bin(col("cnt") + 1))).cast("long").as("bits"))
      val nextBits = bi
        .join(biCnt, Seq("w1", "w2")).join(ctxCnt, "w1")
        .crossJoin(broadcast(stats))
        .select(col("doc_id"),
          (length(bin(col("ctx") + col("v_size"))) -
            length(bin(col("c2") + 1))).cast("long").as("bits"))
      firstBits.unionAll(nextBits)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("bits")).as("sum_bits"))
        .withColumn("bits_per_token",
          col("sum_bits") / col("n_tokens").cast("double"))
        .orderBy(col("doc_id"))
    }

  val lm2BitsSql: String =
    s"""WITH d AS (SELECT doc_id, words FROM ($preparedSql)),
       |toks AS (SELECT doc_id, unnest(words) AS w FROM d),
       |firsts AS (SELECT doc_id, words[1] AS w FROM d WHERE len(words) > 0),
       |bi AS (
       |  SELECT doc_id, f[1] AS w1, f[2] AS w2
       |  FROM d, unnest(list_transform(range(1, len(words)),
       |    i -> [words[i], words[i + 1]])) AS t(f)),
       |uni AS (SELECT w, count(*) AS cnt FROM toks GROUP BY w),
       |bic AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY w1, w2),
       |ctx AS (SELECT w1, count(*) AS ctx FROM bi GROUP BY w1),
       |stats AS (
       |  SELECT CAST(sum(cnt) AS BIGINT) AS n_total,
       |         CAST(count(*) AS BIGINT) AS v_size FROM uni),
       |costs AS (
       |  SELECT doc_id,
       |    length(bin(n_total + v_size)) - length(bin(cnt + 1)) AS bits
       |  FROM firsts JOIN uni USING (w) CROSS JOIN stats
       |  UNION ALL
       |  SELECT bi.doc_id,
       |    length(bin(ctx + v_size)) - length(bin(c2 + 1)) AS bits
       |  FROM bi JOIN bic USING (w1, w2) JOIN ctx USING (w1)
       |       CROSS JOIN stats)
       |SELECT doc_id, count(*) AS n_tokens,
       |  CAST(sum(bits) AS BIGINT) AS sum_bits,
       |  CAST(sum(bits) AS BIGINT) / CAST(count(*) AS DOUBLE) AS bits_per_token
       |FROM costs GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Min-K% Prob membership audit — the memorization-detection statistic
    * of Shi et al., ICLR 2024 "Detecting Pretraining Data from Large
    * Language Models" (public), over the repo's exact-integer bigram LM:
    * score every document under a model trained ONLY on the frozen base
    * split (the [[lm2Bits]] costs with LEFT joins + add-one floors for
    * unseen words/bigrams/contexts), then per document average the bits
    * of its `kPm`‰ MOST-expensive tokens (ties broken by position). A
    * member's worst tokens were all seen in training so its tail stays
    * cheap; a non-member's tail carries its unseen bigrams — the
    * separation lives exactly in the min-k tail, which is why the
    * statistic beats the full-document mean the plain perplexity filter
    * uses. `is_member` (the base-split flag) makes the relation its own
    * labeled evaluation set.
    *
    * Scale shape: the frozen model is the base-split count relations
    * (vocabulary-bounded, joined on token/bigram keys with map-side
    * combine); the only window is per-document (bits desc, pos) — never
    * corpus-wide. All costs are `length(bin(x))` integers; the one
    * division is integer permille.
    */
  def minKProb(spark: SparkSession, dir: String, kPm: Int = 200,
               deltaMod: Int = 5): DataFrame = {
    val d = prepared(spark, dir)
      .select(col("doc_id"), col("words"),
        (Exprs.arrivalSplit(col("doc_id"), deltaMod) =!= 0).as("is_member"))
    // r21: bigrams are a row-local positional array transform (the former
    // posexplode + doc-keyed lead window shuffled and sorted the whole
    // token mass); is_member rides the row, so the frozen-model filter is
    // a projection instead of a join back to the doc relation
    val toks = d.select(col("doc_id"), col("is_member"),
      explode(col("words")).as("w"))
    val bi = d.select(col("doc_id"), col("is_member"), explode(expr(
        """transform(slice(sequence(0, greatest(size(words) - 1, 0)),
          |          1, greatest(size(words) - 1, 0)),
          |  i -> named_struct('pos', i, 'w1', words[i], 'w2', words[i + 1]))""".stripMargin))
        .as("b"))
      .select(col("doc_id"), col("is_member"), col("b.pos").as("pos"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))
    // FROZEN model: counts over the base split only
    val toksB = toks.filter(col("is_member"))
    val biB = bi.filter(col("is_member"))
    val uniB = toksB.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val bicB = biB.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val ctxB = biB.groupBy(col("w1")).agg(count(lit(1)).as("ctx"))
    val statsB = uniB.agg(sum(col("cnt")).as("n_total"),
      count(lit(1)).as("v_size"))
    // per-token costs for EVERY doc, unseen events at the add-one floor
    val firstBits = d.filter(size(col("words")) > 0)
      .select(col("doc_id"), lit(0).as("pos"), col("words").getItem(0).as("w"))
      .join(uniB, Seq("w"), "left").crossJoin(broadcast(statsB))
      .select(col("doc_id"), col("pos").as("cpos"),
        (length(bin(col("n_total") + col("v_size"))) -
          length(bin(coalesce(col("cnt"), lit(0L)) + 1))).cast("long").as("bits"))
    val nextBits = bi
      .join(bicB, Seq("w1", "w2"), "left").join(ctxB, Seq("w1"), "left")
      .crossJoin(broadcast(statsB))
      .select(col("doc_id"), (col("pos") + 1).as("cpos"),
        (length(bin(coalesce(col("ctx"), lit(0L)) + col("v_size"))) -
          length(bin(coalesce(col("c2"), lit(0L)) + 1))).cast("long").as("bits"))
    val costs = firstBits.unionAll(nextBits)
    val wk = Window.partitionBy(col("doc_id"))
      .orderBy(col("bits").desc, col("cpos"))
    val wn = Window.partitionBy(col("doc_id"))
    costs.withColumn("rk", row_number().over(wk))
      .withColumn("n_tokens", count(lit(1)).over(wn))
      .withColumn("k_tokens",
        greatest(expr(s"n_tokens * $kPm div 1000"), lit(1L)))
      .groupBy(col("doc_id"))
      .agg(first(col("n_tokens")).as("n_tokens"),
        first(col("k_tokens")).as("k_tokens"),
        sum(col("bits")).as("sum_bits"),
        sum(when(col("rk") <= col("k_tokens"), col("bits")).otherwise(lit(0L)))
          .as("mink_sum_bits"))
      .join(d.select(col("doc_id"), col("is_member")), "doc_id")
      .select(col("doc_id"), col("is_member"), col("n_tokens"),
        col("k_tokens"), col("sum_bits"), col("mink_sum_bits"),
        expr("mink_sum_bits * 1000 div k_tokens").as("mink_bits_pt_pm"))
      .orderBy(col("doc_id"))
  }

  def minKProbSql(kPm: Int = 200, deltaMod: Int = 5): String =
    s"""WITH d AS (
       |  SELECT doc_id, words, (${Exprs.arrivalSplitSql("doc_id", deltaMod)}) <> 0 AS is_member
       |  FROM ($preparedSql)),
       |toks AS (
       |  SELECT doc_id, is_member, i - 1 AS pos, words[i] AS w
       |  FROM d, unnest(range(1, len(words) + 1)) AS t(i)),
       |bi AS (
       |  SELECT doc_id, is_member, i - 1 AS pos,
       |    words[i] AS w1, words[i + 1] AS w2
       |  FROM d, unnest(range(1, len(words))) AS t(i)),
       |uni AS (SELECT w, count(*) AS cnt FROM toks WHERE is_member GROUP BY w),
       |bic AS (SELECT w1, w2, count(*) AS c2 FROM bi WHERE is_member
       |        GROUP BY w1, w2),
       |ctx AS (SELECT w1, count(*) AS ctx FROM bi WHERE is_member GROUP BY w1),
       |stats AS (
       |  SELECT CAST(sum(cnt) AS BIGINT) AS n_total,
       |         CAST(count(*) AS BIGINT) AS v_size FROM uni),
       |costs AS (
       |  SELECT doc_id, pos AS cpos,
       |    length(bin(n_total + v_size))
       |      - length(bin(COALESCE(cnt, 0) + 1)) AS bits
       |  FROM (SELECT * FROM toks WHERE pos = 0) f
       |  LEFT JOIN uni USING (w) CROSS JOIN stats
       |  UNION ALL
       |  SELECT bi.doc_id, pos + 1,
       |    length(bin(COALESCE(ctx, 0) + v_size))
       |      - length(bin(COALESCE(c2, 0) + 1))
       |  FROM bi LEFT JOIN bic USING (w1, w2) LEFT JOIN ctx USING (w1)
       |       CROSS JOIN stats),
       |ranked AS (
       |  SELECT doc_id, bits,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY bits DESC, cpos) AS rk,
       |    count(*) OVER (PARTITION BY doc_id) AS n_tokens
       |  FROM costs),
       |agg AS (
       |  SELECT doc_id,
       |    CAST(max(n_tokens) AS BIGINT) AS n_tokens,
       |    CAST(greatest(max(n_tokens) * $kPm // 1000, 1) AS BIGINT) AS k_tokens,
       |    CAST(sum(bits) AS BIGINT) AS sum_bits,
       |    CAST(sum(CASE WHEN rk <= greatest(n_tokens * $kPm // 1000, 1)
       |      THEN bits ELSE 0 END) AS BIGINT) AS mink_sum_bits
       |  FROM ranked GROUP BY doc_id)
       |SELECT agg.doc_id, d.is_member, n_tokens, k_tokens, sum_bits,
       |  mink_sum_bits,
       |  CAST(mink_sum_bits * 1000 // k_tokens AS BIGINT) AS mink_bits_pt_pm
       |FROM agg JOIN d ON agg.doc_id = d.doc_id
       |ORDER BY agg.doc_id""".stripMargin

  /** Quality-ensemble gate — the "no single filter ships alone" pattern
    * every production curation stack converges on: three INDEPENDENT
    * quality signals vote and a document drops only on agreement
    * (2-of-3), which bounds each signal's false-positive damage:
    *
    *   heur_low — the surface-statistics bucket ([[quality]])
    *   nb_low   — the trained token classifier ([[nbClassify]])
    *   lm_low   — bigram-LM fluency: bits/token (integer permille) in the
    *              corpus's top decile ([[lm2Bits]])
    *
    * The decile flag avoids a corpus-wide ranking window: bits/token
    * quantizes to an integer permille, so the threshold comes from the
    * VALUE-DOMAIN histogram (group-by permille + one running sum over
    * that tiny relation — the shard-walk posture; the only unpartitioned
    * window is bounded by the permille domain, never by corpus size).
    * Ties at the threshold all flag — deterministic on both engines.
    */
  def qualityEnsemble(spark: SparkSession, dir: String): DataFrame = {
    val nc = nbClassify(spark, dir).select(col("doc_id"),
      (col("quality_bucket") === "low").as("heur_low"),
      (col("pred_bucket") === "low").as("nb_low"))
    val lm = lm2Bits(spark, dir)
      .select(col("doc_id"), expr("sum_bits * 1000L div n_tokens").as("bpt_pm"))
    val hist = lm.groupBy(col("bpt_pm")).agg(count(lit(1)).as("n"))
    val hw = org.apache.spark.sql.expressions.Window
      .orderBy(col("bpt_pm").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val total = hist.agg(sum(col("n")).as("n_docs"))
    val flagged = hist
      .withColumn("n_above", coalesce(sum(col("n")).over(hw), lit(0L)))
      .crossJoin(broadcast(total))
      .filter(col("n_above") < expr("(n_docs + 9) div 10"))
      .select(col("bpt_pm"), lit(true).as("lm_low"))
    nc.join(lm, "doc_id")
      .join(broadcast(flagged), Seq("bpt_pm"), "left")
      .withColumn("lm_low", coalesce(col("lm_low"), lit(false)))
      .withColumn("n_low_votes",
        col("heur_low").cast("int") + col("nb_low").cast("int") +
          col("lm_low").cast("int"))
      .withColumn("keep", col("n_low_votes") <= 1)
      .select(col("doc_id"), col("heur_low"), col("nb_low"), col("lm_low"),
        col("n_low_votes"), col("keep"))
      .orderBy(col("doc_id"))
  }

  // lazy: nbClassifySql initializes later in the file
  lazy val qualityEnsembleSql: String =
    s"""WITH nc AS (
       |  SELECT doc_id, quality_bucket = 'low' AS heur_low,
       |         pred_bucket = 'low' AS nb_low
       |  FROM ($nbClassifySql)),
       |lm AS (
       |  SELECT doc_id, sum_bits * 1000 // n_tokens AS bpt_pm
       |  FROM ($lm2BitsSql)),
       |hist AS (SELECT bpt_pm, count(*) AS n FROM lm GROUP BY bpt_pm),
       |total AS (SELECT CAST(sum(n) AS BIGINT) AS n_docs FROM hist),
       |flagged AS (
       |  SELECT bpt_pm, TRUE AS lm_low FROM (
       |    SELECT bpt_pm,
       |      coalesce(sum(n) OVER (ORDER BY bpt_pm DESC
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_above
       |    FROM hist) h, total
       |  WHERE n_above < (n_docs + 9) // 10)
       |SELECT nc.doc_id, heur_low, nb_low,
       |  coalesce(lm_low, FALSE) AS lm_low,
       |  CAST(CAST(heur_low AS INT) + CAST(nb_low AS INT)
       |    + CAST(coalesce(lm_low, FALSE) AS INT) AS INT) AS n_low_votes,
       |  CAST(heur_low AS INT) + CAST(nb_low AS INT)
       |    + CAST(coalesce(lm_low, FALSE) AS INT) <= 1 AS keep
       |FROM nc JOIN lm USING (doc_id)
       |     LEFT JOIN flagged USING (bpt_pm)
       |ORDER BY doc_id""".stripMargin

  // ---- Naive-Bayes quality classifier (self-distilled token model) ----

  /** Multinomial Naive-Bayes quality classifier, computed EXACTLY in
    * integer bit costs — the "train a cheap classifier on heuristic
    * labels, apply it to the firehose" recipe (the GPT-3/CCNet quality
    * filter, with the [[quality]] heuristic standing in for the curated
    * positive set). Class = quality bucket; features = whitespace tokens;
    * per-token cost in bits with add-one smoothing:
    * `⌊log2(tot_c + |V|)⌋ − ⌊log2(cnt_{w,c} + 1)⌋`, evaluated as
    * `length(bin(x))` differences (the [[lmBits]] portability trick — no
    * libm, bit-identical on any engine); class prior the same way over
    * document counts. Prediction = argmin total bits, class-name
    * tie-break. Trained and applied on the same corpus here (the oracle
    * needs one deterministic relation); a production run fits on a labeled
    * sample and applies the frozen counts to arrivals.
    *
    * Scale shape: training is one map-side-combined (class, token) count;
    * scoring joins each token against the |V|×|classes| model relation —
    * broadcastable while the model fits (AQE decides), a hash join on the
    * token key beyond that — then one (doc, class) agg and a
    * |classes|-bounded argmin window per doc. The corpus is never
    * shuffled on anything but token and doc keys; driver state is zero.
    */
  /** The scored prediction relation is session-shared: the per-doc report
    * and the confusion matrix ([[nbEval]]) both consume it, and the
    * scoring pass is the expensive half of the classifier.
    */
  def nbClassify(spark: SparkSession, dir: String): DataFrame =
    graft.SharedRel(spark, s"nbpred|$dir") {
      val p = prepared(spark, dir)
      val lab = p.select(col("doc_id"), qualityBucketE.as("cls"))
      val tokens = p.select(col("doc_id"), explode(col("words")).as("w"))
      val tokc = tokens.join(lab, "doc_id")
        .groupBy(col("cls"), col("w")).agg(count(lit(1)).as("c"))
      val totals = tokc.groupBy(col("cls")).agg(sum(col("c")).as("tot"))
      val vocab = tokens.agg(countDistinct(col("w")).as("vocab"))
      val classes = lab.select(col("cls")).distinct()
      val nDocs = lab.agg(count(lit(1)).as("n_docs"))
      val priors = lab.groupBy(col("cls")).agg(count(lit(1)).as("n_c"))
      def flog2(c: Column): Column = length(bin(c))
      val scored = tokens
        .crossJoin(broadcast(classes))
        .join(tokc, Seq("cls", "w"), "left")
        .join(broadcast(totals), "cls")
        .crossJoin(broadcast(vocab))
        .select(col("doc_id"), col("cls"),
          (flog2(col("tot") + col("vocab")) -
            flog2(coalesce(col("c"), lit(0L)) + lit(1L))).cast("long").as("tb"))
        .groupBy(col("doc_id"), col("cls"))
        .agg(sum(col("tb")).as("tok_bits"))
        .join(broadcast(priors), "cls")
        .crossJoin(broadcast(nDocs))
        .withColumn("bits",
          col("tok_bits") + (flog2(col("n_docs")) - flog2(col("n_c"))).cast("long"))
      Dedup.keepFirst(scored, Seq(col("doc_id")), Seq(col("bits"), col("cls")), "rn")
        .select(col("doc_id"), col("cls").as("pred_bucket"), col("bits"))
        .join(lab.select(col("doc_id"), col("cls").as("quality_bucket")), "doc_id")
        .withColumn("correct", col("pred_bucket") === col("quality_bucket"))
        .select("doc_id", "pred_bucket", "bits", "quality_bucket", "correct")
        .orderBy("doc_id")
    }

  val nbClassifySql: String =
    s"""WITH p AS ($preparedSql),
       |lab AS (SELECT doc_id, quality_bucket AS cls FROM ($qualitySql)),
       |tokens AS (SELECT doc_id, unnest(words) AS w FROM p),
       |tokc AS (
       |  SELECT l.cls, t.w, count(*) AS c
       |  FROM tokens t JOIN lab l USING (doc_id) GROUP BY 1, 2),
       |totals AS (SELECT cls, CAST(sum(c) AS BIGINT) AS tot FROM tokc GROUP BY cls),
       |v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS vocab FROM tokens),
       |classes AS (SELECT DISTINCT cls FROM lab),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM lab),
       |priors AS (SELECT cls, CAST(count(*) AS BIGINT) AS n_c FROM lab GROUP BY cls),
       |tokbits AS (
       |  SELECT t.doc_id, c.cls,
       |    CAST(sum(length(bin(tot.tot + v.vocab))
       |           - length(bin(coalesce(tc.c, 0) + 1))) AS BIGINT) AS tok_bits
       |  FROM tokens t
       |  CROSS JOIN classes c
       |  LEFT JOIN tokc tc ON tc.cls = c.cls AND tc.w = t.w
       |  JOIN totals tot ON tot.cls = c.cls
       |  CROSS JOIN v
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT tb.doc_id, tb.cls,
       |    tb.tok_bits + CAST(length(bin(nd.n_docs)) - length(bin(pr.n_c)) AS BIGINT) AS bits
       |  FROM tokbits tb JOIN priors pr ON pr.cls = tb.cls CROSS JOIN nd),
       |pred AS (
       |  SELECT doc_id, cls AS pred_bucket, bits FROM (
       |    SELECT *, ROW_NUMBER() OVER (
       |      PARTITION BY doc_id ORDER BY bits, cls) AS rn
       |    FROM scored)
       |  WHERE rn = 1)
       |SELECT pred.doc_id, pred.pred_bucket, pred.bits,
       |  lab.cls AS quality_bucket, pred.pred_bucket = lab.cls AS correct
       |FROM pred JOIN lab USING (doc_id)
       |ORDER BY pred.doc_id""".stripMargin

  /** One frozen class model for [[graft.streaming.NbStream]]: per-token
    * bit costs for the tokens that SURVIVED pruning, the default cost an
    * unseen/pruned token pays, and the class prior — all in the exact
    * integer bit arithmetic of [[nbClassify]].
    */
  final case class NbClassModel(cls: String, bits: Map[String, Long],
                                defaultBits: Long, priorBits: Long)

  /** Driver-collected FROZEN NB model — the shipped-classifier artifact
    * the streaming scorer applies row-locally. Trained by the same
    * (class, token) aggregation as [[nbClassify]]; per class only the
    * `topK` highest-count tokens keep exact costs (row_number window,
    * count-desc + token tie-break — the pruning every shipped text
    * classifier does), everything else pays the class's unseen-token
    * default. Driver state is ≤ topK × |classes| rows — the pruning runs
    * DISTRIBUTED before the collect, so the full vocabulary never lands
    * on the driver. With topK ≥ |V| the model is lossless and the stream
    * scorer is prediction-identical to [[nbClassify]] (spec-pinned).
    */
  def nbFrozenModel(spark: SparkSession, dir: String,
                    topK: Int = 4096): Seq[NbClassModel] = {
    val p = prepared(spark, dir)
    val lab = p.select(col("doc_id"), qualityBucketE.as("cls"))
    val tokens = p.select(col("doc_id"), explode(col("words")).as("w"))
    val tokc = tokens.join(lab, "doc_id")
      .groupBy(col("cls"), col("w")).agg(count(lit(1)).as("c"))
    val totals = tokc.groupBy(col("cls")).agg(sum(col("c")).as("tot"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val vocab = tokens.select(col("w")).distinct().count()
    val nDocs = lab.count()
    val priors = lab.groupBy(col("cls")).agg(count(lit(1)).as("n_c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // length(bin(x)) for x >= 1, the nbClassify arithmetic on the driver
    def flog2(x: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(x)
    val kept = Exprs.keepTop(tokc, Seq(col("cls")), Seq(col("c").desc, col("w")), topK, "rn")
      .select("cls", "w", "c").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    priors.keys.toSeq.sorted.map { cls =>
      val denomBits = flog2(totals(cls) + vocab)
      val bits = kept.collect { case (`cls`, tok, c) =>
        tok -> (denomBits - flog2(c + 1))
      }.toMap
      NbClassModel(cls, bits,
        defaultBits = denomBits - flog2(1L),
        priorBits = flog2(nDocs) - flog2(priors(cls)))
    }
  }

  /** The classifier's confusion matrix — the per-(actual, predicted)
    * counts a pipeline gates deployment on. |classes|²-bounded from
    * [[nbClassify]]'s output; at scale the matrix agg is free next to the
    * scoring pass.
    */
  def nbEval(spark: SparkSession, dir: String): DataFrame =
    nbClassify(spark, dir)
      .groupBy(col("quality_bucket"), col("pred_bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("quality_bucket"), col("pred_bucket"))

  val nbEvalSql: String =
    s"""SELECT quality_bucket, pred_bucket, CAST(count(*) AS BIGINT) AS n
       |FROM ($nbClassifySql)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- shingle containment (quote / subset-document detection) ----

  /** Asymmetric near-dup detection: document pairs where the smaller
    * shingle set is largely CONTAINED in the other — catches quotes,
    * excerpt pages, and superset re-crawls that symmetric Jaccard misses
    * (a 100-word quote inside a 10k-word page has Jaccard ≈ 0.01 but
    * containment ≈ 1.0). Candidates come from a self-join of
    * [[shingles3]] — [[contamination]]'s shingle relation — with
    * [[jaccardPairs]]'s df-CAP mechanism applied to it: shingles in more
    * than `dfCap` docs are dropped before the self-join, so one
    * boilerplate shingle cannot degenerate the join to quadratic
    * (containment scores are computed over the CAPPED sets — denominator
    * and intersection use the same universe, documented contract).
    */
  /** Shared candidate scaffold for the shingle-overlap pair family: the
    * df-capped shingle self-join with per-doc capped-set sizes joined in —
    * [[containmentPairs]] and [[jaccard3Pairs]] differ only in the score
    * they derive from (n_shared, n_a, n_b).
    */
  private def shinglePairCounts(spark: SparkSession, dir: String, dfCap: Int): DataFrame =
    // the candidate scaffold is itself a derived relation two operators
    // score differently — computed once per (session, dir, dfCap)
    graft.SharedRel(spark, s"shingle-pairs|$dir|$dfCap") {
      // materialized once: the shingle explode feeds FOUR consumers (df
      // counts, both self-join sides, per-doc sizes) and dominates per-doc
      // cost — same shape as [[jaccardPairs]]'s materialization point
      val ex = Materialize(shingles3(spark, dir))
      // the hot list is tiny (shingles in > dfCap docs) → broadcast anti-join,
      // never a shuffle join against the full per-shingle df relation
      val hot = ex.groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .filter(col("df") > dfCap).drop("df")
      val capped = ex.join(broadcast(hot), Seq("sh"), "left_anti")
      val sizes = capped.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      capped.as("a")
        .join(capped.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .agg(count(lit(1)).as("n_shared"))
        .join(sizes.select(col("doc_id").as("a_id"), col("n_sh").as("n_a")), "a_id")
        .join(sizes.select(col("doc_id").as("b_id"), col("n_sh").as("n_b")), "b_id")
    }

  def containmentPairs(spark: SparkSession, dir: String, threshold: Double = 0.3,
                       dfCap: Int = 50): DataFrame =
    shinglePairCounts(spark, dir, dfCap)
      .withColumn("n_small", least(col("n_a"), col("n_b")))
      // ONE integer/integer double division — deterministic across engines
      .withColumn("containment", col("n_shared") / col("n_small").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("a_id"), col("b_id"), col("n_shared"), col("n_small"),
        col("containment"))
      .orderBy(col("a_id"), col("b_id"))

  /** 3-gram (shingle) Jaccard near-dup pairs — the N-GRAM instantiation of
    * the Jaccard dedup family the word-set [[jaccardPairs]] cannot cover:
    * shingles are order-SENSITIVE, so two docs over the same vocabulary in
    * different order (exactly this corpus's shape) score low here and high
    * there. Same df-capped candidate generation as [[containmentPairs]];
    * the score divides by the capped-set UNION.
    */
  def jaccard3Pairs(spark: SparkSession, dir: String, threshold: Double = 0.5,
                    dfCap: Int = 50): DataFrame =
    shinglePairCounts(spark, dir, dfCap)
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_shared"))
      .withColumn("jaccard3",
        round(col("n_shared") / col("n_union").cast("double"), 4))
      .filter(col("n_shared") / col("n_union").cast("double") >= threshold)
      .select(col("a_id"), col("b_id"), col("n_shared"), col("n_union"),
        col("jaccard3"))
      .orderBy(col("a_id"), col("b_id"))

  def jaccard3PairsSql(threshold: Double = 0.5, dfCap: Int = 50): String =
    s"""WITH ex AS (
       |  $shingles3Sql),
       |capped AS (
       |  SELECT doc_id, sh FROM ex
       |  WHERE sh IN (SELECT sh FROM ex GROUP BY sh HAVING count(*) <= $dfCap)),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM capped GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
       |  FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT a_id, b_id, n_shared,
       |  sa.n_sh + sb.n_sh - n_shared AS n_union,
       |  round(n_shared / CAST(sa.n_sh + sb.n_sh - n_shared AS DOUBLE), 4) AS jaccard3
       |FROM pairs
       |  JOIN sizes sa ON sa.doc_id = pairs.a_id
       |  JOIN sizes sb ON sb.doc_id = pairs.b_id
       |WHERE n_shared / CAST(sa.n_sh + sb.n_sh - n_shared AS DOUBLE) >= $threshold
       |ORDER BY a_id, b_id""".stripMargin

  def containmentPairsSql(threshold: Double = 0.3, dfCap: Int = 50): String =
    s"""WITH ex AS (
       |  $shingles3Sql),
       |capped AS (
       |  SELECT doc_id, sh FROM ex
       |  WHERE sh IN (SELECT sh FROM ex GROUP BY sh HAVING count(*) <= $dfCap)),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM capped GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
       |  FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT a_id, b_id, n_shared,
       |  least(sa.n_sh, sb.n_sh) AS n_small,
       |  n_shared / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE) AS containment
       |FROM pairs
       |  JOIN sizes sa ON sa.doc_id = pairs.a_id
       |  JOIN sizes sb ON sb.doc_id = pairs.b_id
       |WHERE n_shared / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE) >= $threshold
       |ORDER BY a_id, b_id""".stripMargin

  // ---- stratified train/val/test split ----

  /** Deterministic stratified split: each doc lands in train/val/test by a
    * salted hash residue (90/5/5 by default), independently of every other
    * sampler's salt — re-runs, partition layouts and engines all agree.
    * Emitted per (source, split) with doc and token counts: the
    * stratification report a data team checks before training. Pure
    * row-local assignment + one map-side-combined agg; at 100 TB the
    * assignment is a projection on the scan, no shuffle until the tiny
    * report agg.
    */
  def splitStratified(spark: SparkSession, dir: String, trainPct: Int = 90,
                      valPct: Int = 5): DataFrame = {
    require(trainPct > 0 && valPct > 0 && trainPct + valPct < 100,
      s"bad split percentages ($trainPct, $valPct)")
    val r = graft.Exprs.hex60(concat(lit("spl:"), col("doc_id").cast("string"))) % 100
    prepared(spark, dir)
      .select(col("source"), size(col("words")).cast("long").as("tok"),
        when(r < trainPct, "train")
          .when(r < trainPct + valPct, "val").otherwise("test").as("split"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("n_tokens"))
      .orderBy("source", "split")
  }

  def splitStratifiedSql(trainPct: Int = 90, valPct: Int = 5): String =
    s"""WITH d AS (
       |  SELECT source, CAST(len(words) AS BIGINT) AS tok,
       |    CASE WHEN ${graft.Exprs.hex60Sql("'spl:' || doc_id::VARCHAR")} % 100 < $trainPct
       |           THEN 'train'
       |         WHEN ${graft.Exprs.hex60Sql("'spl:' || doc_id::VARCHAR")} % 100 < ${trainPct + valPct}
       |           THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM (${preparedSql}))
       |SELECT source, split, count(*) AS n_docs,
       |  CAST(sum(tok) AS BIGINT) AS n_tokens
       |FROM d GROUP BY source, split ORDER BY source, split""".stripMargin

  /** Decontaminated eval-holdout construction — the artifact the
    * [[splitStratified]] report describes, actually built: each TEST-split
    * document is admitted to the eval set only if it shares no RARE
    * 3-gram shingle with any TRAIN-split document. Rarity (train-side
    * df ≤ `dfCap`) is the precision knob: on template-heavy corpora every
    * document shares boilerplate shingles with every other, so matching on
    * common shingles would empty the eval set for no leakage reason —
    * exactly the [[jaccardPairs]] df-cap contract, applied to the
    * train/eval boundary. A flagged doc carries its min-id leaking train
    * doc for audit. This is the eval-side complement of
    * [[contamination]]/[[decontamSpans]] (which protect TRAINING data from
    * benchmark leakage; this protects the EVAL set from training leakage).
    *
    * Scale shape: one shingle explode (shared shape with [[novelty]]),
    * split tags are row-local hash exprs, the rare-shingle index is a
    * map-side-combined agg filtered to df ≤ `dfCap` (tiny — rare by
    * construction), and the hit check is one equi-join on the shingle key.
    * No pairwise doc comparison anywhere.
    */
  def evalClean(spark: SparkSession, dir: String, trainPct: Int = 90,
                valPct: Int = 5, dfCap: Int = 10): DataFrame = {
    val r = Exprs.hex60(concat(lit("spl:"), col("doc_id").cast("string"))) % 100
    val sh3 = when(size(col("words")) >= 3,
      expr("transform(sequence(0, size(words)-3), i -> concat(words[i], ' ', words[i+1], ' ', words[i+2]))"))
      .otherwise(array(col("norm")))
    val tagged = prepared(spark, dir)
      .withColumn("split",
        when(r < trainPct, "train")
          .when(r < trainPct + valPct, "val").otherwise("test"))
    val sh = tagged.select(col("doc_id"), col("split"),
      explode(array_distinct(sh3)).as("sh"))
    val rareTrain = sh.filter(col("split") === "train")
      .groupBy("sh").agg(min("doc_id").as("leak_src"), count(lit(1)).as("df"))
      .filter(col("df") <= dfCap)
      .select("sh", "leak_src")
    val hits = sh.filter(col("split") === "test")
      .join(rareTrain, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_rare_hits"), min("leak_src").as("leak_doc"))
    tagged.filter(col("split") === "test").select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_rare_hits"), lit(0L)).as("n_rare_hits"),
        col("leak_doc"),
        col("n_rare_hits").isNull.as("keep"))
      .orderBy("doc_id")
  }

  def evalCleanSql(trainPct: Int = 90, valPct: Int = 5, dfCap: Int = 10): String =
    s"""WITH tagged AS (
       |  SELECT *, CASE WHEN ${Exprs.hex60Sql("'spl:' || doc_id::VARCHAR")} % 100 < $trainPct
       |                 THEN 'train'
       |                 WHEN ${Exprs.hex60Sql("'spl:' || doc_id::VARCHAR")} % 100 < ${trainPct + valPct}
       |                 THEN 'val' ELSE 'test' END AS split
       |  FROM ($preparedSql)),
       |sh AS (
       |  SELECT DISTINCT doc_id, split, sh FROM (
       |    SELECT doc_id, split,
       |      CASE WHEN len(words) >= 3
       |           THEN words[i] || ' ' || words[i+1] || ' ' || words[i+2]
       |           ELSE norm END AS sh
       |    FROM tagged,
       |         unnest(range(1, CASE WHEN len(words) >= 3 THEN len(words)-1 ELSE 2 END)) AS t(i))),
       |rare AS (
       |  SELECT sh, min(doc_id) AS leak_src
       |  FROM sh WHERE split = 'train'
       |  GROUP BY sh HAVING count(*) <= $dfCap),
       |hits AS (
       |  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_rare_hits,
       |         min(leak_src) AS leak_doc
       |  FROM sh s JOIN rare USING (sh)
       |  WHERE s.split = 'test'
       |  GROUP BY s.doc_id)
       |SELECT t.doc_id,
       |  COALESCE(h.n_rare_hits, 0) AS n_rare_hits,
       |  h.leak_doc,
       |  h.n_rare_hits IS NULL AS keep
       |FROM tagged t LEFT JOIN hits h ON t.doc_id = h.doc_id
       |WHERE t.split = 'test'
       |ORDER BY t.doc_id""".stripMargin

  // ---- LSH candidate recall vs the exact pair oracle ----

  /** Pair-level recall of the MinHash-LSH candidate generator against the
    * exact df-capped Jaccard pairs — the text-dedup analog of the ANN
    * recall matrix ([[graft.functions.VectorOps.recall]]): "how many of
    * the true ≥0.9 near-dup pairs does the banded index surface?", graded
    * per Jaccard bucket so threshold-edge loss is visible separately from
    * exact-duplicate recall. Fully differential: both inputs are
    * oracle-checked relations, and the comparison itself is mirrored in
    * SQL. The candidate side is pre-verification BY DESIGN (banding trades
    * precision for a bounded join); recall is the metric a dedup pipeline
    * gates on.
    */
  def lshRecall(spark: SparkSession, dir: String, threshold: Double = 0.9): DataFrame = {
    val exact = jaccardPairs(spark, dir, threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val cand = minhashPairs(spark, dir)
      .select(col("doc_a"), col("doc_b")).withColumn("hit", lit(1L))
    exact.join(cand, Seq("doc_a", "doc_b"), "left")
      // 0.02-wide buckets over [threshold, 1]: floor(j*50) is exact for the
      // 4-decimal rounded jaccard values both engines already agree on
      .groupBy(floor(col("jaccard") * 50).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("recall", round(col("n_hit") / col("n_pairs").cast("double"), 4))
      .orderBy("bucket")
  }

  def lshRecallSql(threshold: Double = 0.9): String =
    s"""WITH exact AS (
       |  SELECT doc_a, doc_b, jaccard FROM (${jaccardPairsSql(threshold)})),
       |cand AS (SELECT doc_a, doc_b, 1 AS hit FROM (${minhashPairsSql}))
       |SELECT CAST(floor(jaccard * 50) AS BIGINT) AS bucket,
       |  count(*) AS n_pairs,
       |  CAST(sum(COALESCE(hit, 0)) AS BIGINT) AS n_hit,
       |  round(sum(COALESCE(hit, 0)) / CAST(count(*) AS DOUBLE), 4) AS recall
       |FROM exact LEFT JOIN cand USING (doc_a, doc_b)
       |GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---- bounded-memory order statistics: the quantile sketch ----

  /** Bounded-memory quantile estimation — the order-statistics member of
    * the sketch tier ([[distinctKmv]] distinct, [[heavyHitters]]
    * frequency, this one quantiles), same cross-engine contract: per
    * source keep the `k` docs with the smallest salted
    * [[graft.Exprs.hex60]] hashes of `doc_id` — a deterministic uniform
    * sample, because the hash order is independent of the value order —
    * and estimate permille-percentile `p` of the token count as the
    * sample value at rank `(m-1)·p div 1000 + 1` (ascending,
    * `(v, doc_id)` tie-break). The exact column runs the SAME integer
    * rank math over the full relation, so `err_pm = |est−exact|·1000
    * div max(exact,1)` is an integer both engines compute identically:
    * the sketch is approximate w.r.t. the truth, never w.r.t. the
    * oracle. A sub-k source's sample IS the relation, so est == exact
    * there by construction.
    *
    * Scale shape: the serving state is `k` (hash, value) pairs per
    * source — a bottom-k-by-hash semilattice (order/batching/replay
    * insensitive; [[graft.streaming.QuantileStream]] gates arrivals on
    * its frozen p990) — versus the full per-source sort the exact
    * column needs. At 100 TB the exact side is the verification harness
    * this report prices, same posture as the KMV/CMS tiers; the
    * percentile probe is a 3-row broadcast literal, never a shuffle.
    */
  def quantileSketch(spark: SparkSession, dir: String, k: Int = 16,
                     pcts: Seq[Int] = Seq(500, 900, 990)): DataFrame = {
    import spark.implicits._
    // null text ⇒ null words: coalesce to 0 — Spark sorts nulls first,
    // DuckDB last, so a null v would silently skew the rank math
    val d = prepared(spark, dir).select(
      col("doc_id"), col("source"),
      coalesce(size(col("words")).cast("long"), lit(0L)).as("v"),
      Exprs.hex60(concat(lit("qs:"), col("doc_id"))).as("h"))
    val pdf = pcts.toDF("p")
    val nn = d.groupBy("source").agg(count(lit(1)).as("nn"))
    val wv = Window.partitionBy(col("source")).orderBy(col("v"), col("doc_id"))
    val ex = d.withColumn("rk", row_number().over(wv))
      .join(broadcast(nn), "source")
      .crossJoin(broadcast(pdf))
      .filter(col("rk") === expr("((nn - 1) * p) div 1000 + 1"))
      .select(col("source"), col("p"), col("nn").as("n"), col("v").as("exact"))
    val samp = Exprs.keepTop(d, Seq(col("source")), Seq(col("h"), col("doc_id")), k, "hrk")
    val mm = samp.groupBy("source").agg(count(lit(1)).as("mm"))
    val est = samp.withColumn("srk", row_number().over(wv))
      .join(broadcast(mm), "source")
      .crossJoin(broadcast(pdf))
      .filter(col("srk") === expr("((mm - 1) * p) div 1000 + 1"))
      .select(col("source"), col("p"), col("v").as("est"))
    ex.join(est, Seq("source", "p"))
      .withColumn("err_pm",
        expr("abs(est - exact) * 1000 div greatest(exact, 1)"))
      .orderBy("source", "p")
  }

  def quantileSketchSql(k: Int = 16, pcts: Seq[Int] = Seq(500, 900, 990)): String =
    s"""WITH d AS (
       |  SELECT doc_id, source, COALESCE(len(words), 0) AS v,
       |         ${Exprs.hex60Sql("'qs:' || doc_id::VARCHAR")} AS h
       |  FROM ($preparedSql)),
       |pcts AS (SELECT unnest([${pcts.mkString(", ")}]) AS p),
       |nn AS (SELECT source, count(*) AS nn FROM d GROUP BY source),
       |ex AS (
       |  SELECT r.source, p.p, nn.nn AS n, r.v AS exact
       |  FROM (SELECT source, v,
       |          ROW_NUMBER() OVER (PARTITION BY source ORDER BY v, doc_id) AS rk
       |        FROM d) r
       |  JOIN nn USING (source) CROSS JOIN pcts p
       |  WHERE r.rk = ((nn.nn - 1) * p.p) // 1000 + 1),
       |samp AS (
       |  SELECT source, doc_id, v FROM (
       |    SELECT source, doc_id, v,
       |      ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS hrk
       |    FROM d)
       |  WHERE hrk <= $k),
       |mm AS (SELECT source, count(*) AS mm FROM samp GROUP BY source),
       |est AS (
       |  SELECT r.source, p.p, r.v AS est
       |  FROM (SELECT source, v,
       |          ROW_NUMBER() OVER (PARTITION BY source ORDER BY v, doc_id) AS srk
       |        FROM samp) r
       |  JOIN mm USING (source) CROSS JOIN pcts p
       |  WHERE r.srk = ((mm.mm - 1) * p.p) // 1000 + 1)
       |SELECT e.source, e.p, e.n, e.exact, s.est,
       |  abs(s.est - e.exact) * 1000 // greatest(e.exact, 1) AS err_pm
       |FROM ex e JOIN est s ON e.source = s.source AND e.p = s.p
       |ORDER BY e.source, e.p""".stripMargin

  /** Quantile-threshold action — what a deployment does with
    * [[quantileSketch]]'s p990 estimate: use it as the per-source
    * length-truncation threshold (the "cut the longest tail" curate rule
    * every corpus build runs) WITHOUT the full per-source sort the exact
    * threshold needs, and price the substitution: `cut_pm_*` is the
    * permille of docs each threshold would cut, `delta_pm` the mis-cut
    * rate the k-bounded state costs. The sketch relation is |sources|×1
    * rows — broadcast to the doc scan, so the action adds ONE pass over
    * the data with no extra shuffle.
    */
  def lenCap(spark: SparkSession, dir: String, k: Int = 16,
             p: Int = 990): DataFrame = {
    val q = quantileSketch(spark, dir, k, Seq(p))
      .select(col("source"), col("n"), col("exact"), col("est"))
    val d = prepared(spark, dir)
      .select(col("source"), coalesce(size(col("words")), lit(0)).as("v"))
    d.join(broadcast(q), "source")
      .groupBy(col("source"), col("n"), col("exact"), col("est"))
      .agg(sum(when(col("v") > col("est"), 1L).otherwise(0L)).as("cut_sketch"),
        sum(when(col("v") > col("exact"), 1L).otherwise(0L)).as("cut_exact"))
      .select(col("source"), col("n"),
        col("est").as("thr_sketch"), col("exact").as("thr_exact"),
        expr("cut_sketch * 1000 div n").as("cut_pm_sketch"),
        expr("cut_exact * 1000 div n").as("cut_pm_exact"),
        expr("cut_sketch * 1000 div n - cut_exact * 1000 div n").as("delta_pm"))
      .orderBy("source")
  }

  def lenCapSql(k: Int = 16, p: Int = 990): String =
    s"""WITH q AS (
       |  SELECT source, n, exact, est FROM (${quantileSketchSql(k, Seq(p))})),
       |d AS (SELECT source, COALESCE(len(words), 0) AS v FROM ($preparedSql))
       |SELECT d.source, q.n,
       |  q.est AS thr_sketch, q.exact AS thr_exact,
       |  CAST(sum(CASE WHEN d.v > q.est THEN 1 ELSE 0 END) * 1000 // q.n
       |    AS BIGINT) AS cut_pm_sketch,
       |  CAST(sum(CASE WHEN d.v > q.exact THEN 1 ELSE 0 END) * 1000 // q.n
       |    AS BIGINT) AS cut_pm_exact,
       |  CAST(sum(CASE WHEN d.v > q.est THEN 1 ELSE 0 END) * 1000 // q.n
       |    - sum(CASE WHEN d.v > q.exact THEN 1 ELSE 0 END) * 1000 // q.n
       |    AS BIGINT) AS delta_pm
       |FROM d JOIN q USING (source)
       |GROUP BY d.source, q.n, q.exact, q.est
       |ORDER BY d.source""".stripMargin

  // ---- LSH banding S-curve sweep ----

  /** The (bands × rows) tuning sweep a dedup deployment runs before
    * committing to a banding: from the SAME 8-hash signature matrix
    * ([[bandedSignatures]] — built once, session-shared), generate the
    * candidate sets of 1×8 (strictest), 2×4 (deployed by
    * [[minhashPairs]]) and 4×2 (loosest) bandings and price each against
    * the exact Jaccard-≥-threshold pairs: recall_pm (true pairs
    * surfaced) vs precision_pm (candidates that are true) — the two ends
    * of the classic S-curve trade, as integer permille both engines
    * compute identically.
    *
    * The three candidate sets are NESTED by construction — an r-row band
    * match implies both its (r/2)-row halves match, so 1×8 ⊆ 2×4 ⊆ 4×2
    * and n_cand / recall_pm are monotone in the band count (the spec
    * pins this containment; it is what makes the sweep a CURVE rather
    * than three unrelated points). Each config dedups pairs with the
    * first-agreeing-band guard (band i joins carry "bands < i differ"),
    * the [[minhashPairs]] idiom — no global DISTINCT shuffle; the join
    * keys are band values, so every join is a bounded hash-bucket join,
    * and the true-pair probe is a small broadcast. At 100 TB the sweep
    * runs on a sampled corpus slab; the relative S-curve shape, not the
    * absolute counts, is the decision input.
    */
  /** The (bands → minhash index groups) table of the sweep: 1×8 / 2×4 /
    * 4×2 over the shared 8-hash signature matrix.
    */
  private val lshGroupsOf: Map[Int, Seq[Range]] = Map(
    1 -> Seq(0 until 8),
    2 -> Seq(0 until 4, 4 until 8),
    4 -> Seq(0 until 2, 2 until 4, 4 until 6, 6 until 8))

  /** Candidate pairs at one banding, the first-agreeing-band dedup idiom
    * of [[minhashPairs]] generalized to any group split — the guard also
    * makes each banding's pair set DISTINCT, which is what licenses the
    * retune's drift-by-subtraction (OperatorsSpec verifies the set
    * differences against the sweep's counts).
    */
  private def lshCandidates(sig: DataFrame, groups: Seq[Range]): DataFrame = {
    val bnd = sig.select(col("doc_id") +:
      groups.zipWithIndex.map { case (g, i) =>
        concat_ws(",", g.map(j => col(s"m$j")): _*).as(s"bb$i")
      }: _*)
    groups.indices.map { i =>
      val guard = (0 until i)
        .map(j => col(s"a.bb$j") =!= col(s"b.bb$j"))
        .foldLeft(col("a.doc_id") < col("b.doc_id"))(_ && _)
      bnd.as("a").join(bnd.as("b"),
          col(s"a.bb$i") === col(s"b.bb$i") && guard)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    }.reduce(_ union _)
  }

  /** The candidate relation at one banding. NOT a SharedRel key (r19):
    * its only production consumer is [[lshSweep]] — itself memoized
    * under `lshsweep` — so a key here would violate the shared_build
    * contract's ≥2-consumers rule (PLANS.md) and merely relabel the same
    * one-time cost. (It WAS shared in r18, when the retune consumed the
    * chosen + default candidate sets; the retune's drift is arithmetic
    * on the sweep now.) The spec's set-difference verification calls it
    * live.
    */
  private[graft] def lshCandidatesAt(spark: SparkSession, dir: String,
                                         nb: Int): DataFrame =
    lshCandidates(bandedSignatures(spark, dir), lshGroupsOf(nb))

  def lshSweep(spark: SparkSession, dir: String, threshold: Double = 0.9): DataFrame =
    // session-shared: the 3-row S-curve feeds its own query AND the retune
    // action's pick
    graft.SharedRel(spark, s"lshsweep|$dir|$threshold") {
      val exact = jaccardPairs(spark, dir, threshold)
        .select(col("doc_a"), col("doc_b"))
      val nTrue = exact.agg(count(lit(1)).as("n_true"))
      val perConfig = lshGroupsOf.keys.toSeq.sorted.map { nb =>
        val cand = lshCandidatesAt(spark, dir, nb)
        cand.join(exact.withColumn("istrue", lit(1L)), Seq("doc_a", "doc_b"), "left")
          .agg(count(lit(1)).as("n_cand"),
            // sum over an empty (zero-candidate) config is null, not 0
            coalesce(sum(coalesce(col("istrue"), lit(0L))), lit(0L)).as("n_hit"))
          .select(lit(nb).as("bands"), lit(8 / nb).as("rows_per_band"),
            col("n_cand"), col("n_hit"))
      }.reduce(_ unionByName _)
      perConfig.crossJoin(broadcast(nTrue))
        .select(col("bands"), col("rows_per_band"), col("n_cand"),
          col("n_true"), col("n_hit"),
          expr("n_hit * 1000 div greatest(n_true, 1)").as("recall_pm"),
          expr("n_hit * 1000 div greatest(n_cand, 1)").as("precision_pm"))
        .orderBy("bands")
    }

  /** The sweep's CTE chain (sig → banded → candidate sets → exact pairs →
    * per-config stats), shared between [[lshSweepSql]] and
    * [[lshRetuneSql]] so the action's oracle serves from the same sweep.
    */
  private def lshSweepCtes(threshold: Double): String = {
    val bandExpr = Map(
      "b8" -> (0 until 8), "h0" -> (0 until 4), "h1" -> (4 until 8),
      "q0" -> (0 until 2), "q1" -> (2 until 4), "q2" -> (4 until 6),
      "q3" -> (6 until 8))
      .map { case (n, g) =>
        s"${g.map(i => s"m$i::VARCHAR").mkString(" || ',' || ")} AS $n" }
      .mkString(",\n    ")
    s"""sig AS ($minhashSigSqlInner),
       |sb AS (SELECT doc_id,
       |    $bandExpr
       |  FROM sig),
       |c1 AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sb a JOIN sb b ON a.b8 = b.b8 AND a.doc_id < b.doc_id),
       |c2 AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sb a JOIN sb b ON a.h0 = b.h0 AND a.doc_id < b.doc_id
       |  UNION ALL
       |  SELECT a.doc_id, b.doc_id
       |  FROM sb a JOIN sb b ON a.h1 = b.h1 AND a.h0 <> b.h0
       |                     AND a.doc_id < b.doc_id),
       |c4 AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sb a JOIN sb b ON a.q0 = b.q0 AND a.doc_id < b.doc_id
       |  UNION ALL
       |  SELECT a.doc_id, b.doc_id
       |  FROM sb a JOIN sb b ON a.q1 = b.q1 AND a.q0 <> b.q0
       |                     AND a.doc_id < b.doc_id
       |  UNION ALL
       |  SELECT a.doc_id, b.doc_id
       |  FROM sb a JOIN sb b ON a.q2 = b.q2 AND a.q0 <> b.q0 AND a.q1 <> b.q1
       |                     AND a.doc_id < b.doc_id
       |  UNION ALL
       |  SELECT a.doc_id, b.doc_id
       |  FROM sb a JOIN sb b ON a.q3 = b.q3 AND a.q0 <> b.q0 AND a.q1 <> b.q1
       |                     AND a.q2 <> b.q2 AND a.doc_id < b.doc_id),
       |ex AS (SELECT doc_a, doc_b, 1 AS istrue
       |       FROM (${jaccardPairsSql(threshold)})),
       |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM ex),
       |stats AS (
       |  SELECT 1 AS bands, 8 AS rows_per_band,
       |    CAST(count(*) AS BIGINT) AS n_cand,
       |    CAST(COALESCE(sum(COALESCE(istrue, 0)), 0) AS BIGINT) AS n_hit
       |  FROM c1 LEFT JOIN ex USING (doc_a, doc_b)
       |  UNION ALL
       |  SELECT 2, 4, CAST(count(*) AS BIGINT),
       |    CAST(COALESCE(sum(COALESCE(istrue, 0)), 0) AS BIGINT)
       |  FROM c2 LEFT JOIN ex USING (doc_a, doc_b)
       |  UNION ALL
       |  SELECT 4, 2, CAST(count(*) AS BIGINT),
       |    CAST(COALESCE(sum(COALESCE(istrue, 0)), 0) AS BIGINT)
       |  FROM c4 LEFT JOIN ex USING (doc_a, doc_b))""".stripMargin
  }

  /** The sweep's final per-config projection, shared with the retune. */
  private val lshSweepSelect: String =
    """SELECT bands, rows_per_band, n_cand, nt.n_true, n_hit,
      |  n_hit * 1000 // greatest(nt.n_true, 1) AS recall_pm,
      |  n_hit * 1000 // greatest(n_cand, 1) AS precision_pm
      |FROM stats CROSS JOIN nt""".stripMargin

  def lshSweepSql(threshold: Double = 0.9): String =
    s"""WITH ${lshSweepCtes(threshold)}
       |$lshSweepSelect
       |ORDER BY bands""".stripMargin

  /** The sweep's ACTION — close the LSH tuning loop (r17 VERDICT
    * prescription #4): pick the CHEAPEST banding meeting the recall floor
    * from [[lshSweep]]'s S-curve (fewest candidates with
    * `recall_pm >= floorPm`; when none meets the floor, fall back to the
    * highest-recall config), then price SERVING the pair relation at the
    * chosen banding against the deployed 2×4 default
    * ([[minhashPairs]]): candidate-set drift in both directions plus the
    * integer cost ratio. The three candidate sets are nested
    * (1×8 ⊆ 2×4 ⊆ 4×2), so one drift column is always 0 — its side says
    * whether the retune TIGHTENS (saves candidate cost) or LOOSENS (buys
    * recall).
    *
    * The pick itself is a deterministic sort of the integer 3-row sweep
    * — both engines order by (meets-floor DESC, n_cand-if-meeting else
    * −recall, bands) and take row 1, so the chosen config is
    * cross-engine exact.
    *
    * Scale shape: everything beyond the sweep is arithmetic on its 3
    * integer rows. The drift columns need NO pair relation: the three
    * candidate sets are nested (1×8 ⊆ 2×4 ⊆ 4×2 — an 8-row band match
    * implies both 4-row halves match, a 4-row match implies both 2-row
    * halves; each set holds DISTINCT pairs by the first-match-band
    * guard), so chosen-vs-default set drift is a subtraction on the
    * sweep's `n_cand` column with one side always 0 (`only_chosen` when
    * the retune LOOSENS past the default, `only_default` when it
    * TIGHTENS). The r18 form verified this with a full-outer join of two
    * |pairs| relations — the only part of the query that scaled with
    * pair count, and the r18 bench-budget violation; OperatorsSpec keeps
    * the set-difference verification as an assertion. No driver readout
    * remains (the r18 1-row `collect()` pick is now a broadcast 1-row
    * join), so an empty corpus degrades to a 0-candidate report instead
    * of an IndexOutOfBounds.
    */
  def lshRetune(spark: SparkSession, dir: String, threshold: Double = 0.9,
                floorPm: Long = 950): DataFrame = {
    val sweep = lshSweep(spark, dir, threshold)
    val pickOrder = Seq(
      (col("recall_pm") >= floorPm).desc,
      when(col("recall_pm") >= floorPm, col("n_cand"))
        .otherwise(-col("recall_pm")).asc,
      col("bands").asc)
    val chosen = sweep.orderBy(pickOrder: _*).limit(1)
    val defStats = sweep.filter(col("bands") === 2)
      .select(col("n_cand").as("n_cand_default"))
    chosen.crossJoin(broadcast(defStats))
      .select(col("bands"), col("rows_per_band"), col("n_cand"),
        col("n_true"), col("n_hit"), col("recall_pm"), col("precision_pm"),
        lit(floorPm).as("floor_pm"), col("n_cand_default"),
        expr("n_cand * 1000 div greatest(n_cand_default, 1)")
          .as("cost_ratio_pm"),
        greatest(col("n_cand") - col("n_cand_default"), lit(0L))
          .as("only_chosen"),
        greatest(col("n_cand_default") - col("n_cand"), lit(0L))
          .as("only_default"))
  }

  def lshRetuneSql(threshold: Double = 0.9, floorPm: Long = 950): String =
    s"""WITH ${lshSweepCtes(threshold)},
       |sweep AS (
       |  $lshSweepSelect),
       |chosen AS (
       |  SELECT * FROM sweep
       |  ORDER BY (recall_pm >= $floorPm) DESC,
       |    CASE WHEN recall_pm >= $floorPm THEN n_cand ELSE -recall_pm END,
       |    bands
       |  LIMIT 1),
       |ds AS (SELECT n_cand AS n_cand_default FROM sweep WHERE bands = 2)
       |SELECT chosen.bands, chosen.rows_per_band, chosen.n_cand,
       |  chosen.n_true, chosen.n_hit, chosen.recall_pm, chosen.precision_pm,
       |  ${floorPm}::BIGINT AS floor_pm, ds.n_cand_default,
       |  chosen.n_cand * 1000 // greatest(ds.n_cand_default, 1)
       |    AS cost_ratio_pm,
       |  greatest(chosen.n_cand - ds.n_cand_default, 0)::BIGINT
       |    AS only_chosen,
       |  greatest(ds.n_cand_default - chosen.n_cand, 0)::BIGINT
       |    AS only_default
       |FROM chosen, ds""".stripMargin
}
