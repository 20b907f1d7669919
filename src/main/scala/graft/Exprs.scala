package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Shared column expressions used across operators, and the per-key top-k
  * kernel ([[keepTop]]) every ranking query goes through.
  *
  * Everything here is built from codegen'd Spark built-ins AND is exactly
  * reproducible in ANSI SQL (DuckDB) so the driver's differential oracle can
  * check any query that uses these. No UDFs.
  */
object Exprs {

  /** Deterministic 60-bit hash of a string via the md5 hex prefix.
    *
    * Portable across engines: Spark `conv(substring(md5(x),1,15),16,10)`
    * equals DuckDB `('0x' || substr(md5(x),1,15))::BIGINT`. 15 hex chars =
    * 60 bits, always non-negative and inside Long range.
    */
  def hex60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** SQL-side rendering of [[hex60]] for DuckDB oracles. */
  def hex60Sql(expr: String): String =
    s"(('0x' || substr(md5($expr),1,15))::BIGINT)"

  /** Salted arrival split: `hex60('inc:' || id) % mod`, residue 0 = the
    * delta ("arrived since the last build"), every other residue = the
    * base. Salted rather than a bare `id % mod` so delta membership is
    * uncorrelated with id order and with every data column (the testdata's
    * `source` is a function of `doc_id % 20`, so an unsalted mod-5 residue
    * would select exactly 4 of the 20 sources); the delta approximates the
    * corpus's source distribution. One definition for every tier's
    * base/delta split (docs, vectors, media, videos).
    */
  def arrivalSplit(id: Column, mod: Int): Column =
    pmod(hex60(concat(lit("inc:"), id.cast("string"))), lit(mod))

  /** SQL-side rendering of [[arrivalSplit]] for DuckDB oracles. */
  def arrivalSplitSql(idExpr: String, mod: Int): String =
    s"${hex60Sql(s"'inc:' || $idExpr::VARCHAR")} % $mod"

  /** Per-key top-k — the engine's one ranking rule: rank each `key` group
    * by `order` and keep rank ≤ `bound`. `order` is total within a key (it
    * ends in a unique id), so ties are impossible and the kept set is deterministic (the oracle is
    * `ROW_NUMBER() OVER (PARTITION BY key ORDER BY order) <= bound`). The
    * rank stays in the output as `rankCol`. `bound` is a literal k or a
    * per-row column (a per-group quota joined onto the rows).
    */
  def keepTop(df: DataFrame, key: Seq[Column], order: Seq[Column], bound: Column,
              rankCol: String): DataFrame =
    rankWithin(df, key, order, rankCol).filter(col(rankCol) <= bound)

  def keepTop(df: DataFrame, key: Seq[Column], order: Seq[Column], bound: Int,
              rankCol: String): DataFrame =
    keepTop(df, key, order, lit(bound), rankCol)

  /** `df` plus `rankCol` = `row_number()` over (partition by `key` order by
    * `order`) — the rank [[keepTop]] filters on.
    */
  private[graft] def rankWithin(df: DataFrame, key: Seq[Column], order: Seq[Column],
                                 rankCol: String): DataFrame =
    df.withColumn(rankCol, row_number().over(Window.partitionBy(key: _*).orderBy(order: _*)))

  /** Event-time truncated to the second — the reference's cohort key
    * (`flink_process.py:298-308` keys windows by the wall-clock second).
    * Second precision also sidesteps the parquet ns-vs-us precision gap
    * between Spark (µs) and DuckDB (ns) readers.
    */
  def sec(ts: Column): Column = date_trunc("second", ts)

  /** Text normalization used by all text operators: lowercase, collapse
    * whitespace runs, trim.
    */
  def normText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  def normTextSql(expr: String): String =
    s"trim(regexp_replace(lower($expr), '\\s+', ' ', 'g'))"
}
