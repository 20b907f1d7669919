package graft

import org.apache.spark.sql.functions._
import graft.operators.Skew

class SkewRetentionSpec extends SparkSuite {
  import spark.implicits._

  test("salted join returns exactly the plain join result on skewed data") {
    // 90% of left rows share one hot key
    val left = (1 to 1000).map(i => (if (i <= 900) 1L else i.toLong, i)).toDF("k", "payload")
    val right = (1 to 100).map(i => (i.toLong, s"dim_$i")).toDF("rk", "label")
    val plain = left.join(right, col("k") === col("rk")).select("k", "payload", "label")
    val salted = Skew.saltedJoin(left, right, "k", "rk", salts = 8)
      .select("k", "payload", "label")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
    // the shuffle must actually include the salt
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), s"salt must appear in the plan:\n$plan")
  }
}
