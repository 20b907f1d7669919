package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorOps
import graft.plans.ArrayExprs

/** The native DotProduct expression must agree bit-for-bit with the
  * higher-order built-in formulation (same accumulation order), in both
  * interpreted eval and whole-stage codegen paths.
  */
class DotProductSpec extends SparkSuite {
  import spark.implicits._

  test("native dot == built-in aggregate/zip_with dot, bit for bit") {
    val emb = VectorOps.prepared(spark, sf())
    val both = emb.select(
      col("vec_id"),
      ArrayExprs.dotNative(col("v"), col("v")).as("native"),
      VectorOps.dotBuiltin(col("v"), col("v")).as("builtin"))
    assert(both.filter(col("native") =!= col("builtin")).count() == 0)
  }

  test("null propagates; mismatched lengths fail loudly") {
    val ok = Seq(
      (Some(Seq(1.0, 2.0)), Some(Seq(3.0, 4.0))),
      (None, Some(Seq(1.0)))
    ).toDF("a", "b")
    val out = ok.select(ArrayExprs.dotNative(col("a"), col("b")).as("d"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(out.toSeq == Seq(Some(11.0), None))
    // corrupt (short) vector must not be ranked on a partial sum
    val bad = Seq((Seq(1.0, 2.0, 9.0), Seq(2.0, 3.0))).toDF("a", "b")
    val e = intercept[Exception] {
      bad.select(ArrayExprs.dotNative(col("a"), col("b"))).collect()
    }
    assert(e.getMessage != null)
  }

  test("null ELEMENT yields null, matching the zip_with/aggregate form") {
    val df = Seq(
      (Seq[Option[Double]](Some(1.0), None), Seq[Option[Double]](Some(2.0), Some(3.0))),
      (Seq[Option[Double]](Some(1.0), Some(2.0)), Seq[Option[Double]](Some(2.0), Some(3.0)))
    ).toDF("a", "b")
    val out = df.select(
        ArrayExprs.dotNative(col("a"), col("b")).as("native"),
        VectorOps.dotBuiltin(col("a"), col("b")).as("builtin"))
      .collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getDouble(0)),
                 if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    // row 1: null element → both null (NOT 2.0 from reading the unset slot);
    // row 2: clean → both 8.0
    assert(out.toSeq == Seq((None, None), (Some(8.0), Some(8.0))))
  }

  test("GraftExtensions registers dot_product for SQL") {
    // getOrCreate reuses the suite session, so exercise the live-session path
    graft.plans.GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").head()
    assert(r.getDouble(0) == 11.0)
  }
}
