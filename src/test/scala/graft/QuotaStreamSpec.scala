package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.QuotaStream
import graft.streaming.QuotaStream.{Decision, QDoc}

/** Per-source token-quota admission: cumulative across micro-batches,
  * deterministic greedy order within a batch, best-effort packing.
  */
class QuotaStreamSpec extends SparkSuite {
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(s: String) = Timestamp.valueOf(s)

  test("quota admits greedily per source, carries state across batches") {
    import spark.implicits._
    val in = MemoryStream[QDoc]
    val q = QuotaStream(in.toDS(), quota = 100L).writeStream
      .format("memory").queryName("quota_t").outputMode("append").start()

    // batch 1: srcA consumes 90 of 100; the 40-tok doc is rejected mid-walk
    // but the later 10-tok doc still fits (best-effort packing)
    in.addData(
      QDoc(1L, "srcA", 50L, ts("2026-01-01 10:00:00")),
      QDoc(2L, "srcA", 40L, ts("2026-01-01 10:00:01")),
      QDoc(3L, "srcA", 40L, ts("2026-01-01 10:00:02")),
      QDoc(4L, "srcA", 10L, ts("2026-01-01 10:00:03")),
      QDoc(5L, "srcB", 99L, ts("2026-01-01 10:00:00")))
    q.processAllAvailable()
    // batch 2: srcA has 0 left (100 consumed); srcB has 1 left
    in.addData(
      QDoc(6L, "srcA", 1L, ts("2026-01-01 10:01:00")),
      QDoc(7L, "srcB", 1L, ts("2026-01-01 10:01:00")),
      QDoc(8L, "srcB", 2L, ts("2026-01-01 10:01:01")))
    q.processAllAvailable()

    val rows = spark.table("quota_t").as[Decision].collect()
      .map(d => d.doc_id -> d).toMap
    q.stop()

    assert(rows(1L).admitted && rows(1L).admitted_tok == 50L)
    assert(rows(2L).admitted && rows(2L).admitted_tok == 90L)
    assert(!rows(3L).admitted, "40-tok doc would overflow 100")
    assert(rows(3L).admitted_tok == 90L, "rejection leaves the total unchanged")
    assert(rows(4L).admitted && rows(4L).admitted_tok == 100L,
      "later smaller doc still fits after a rejection")
    assert(rows(5L).admitted, "sources have independent budgets")
    assert(!rows(6L).admitted, "srcA budget exhausted carries into batch 2")
    assert(rows(7L).admitted && rows(7L).admitted_tok == 100L)
    assert(!rows(8L).admitted, "srcB exhausted after doc 7")
  }

  test("quota: one batch yields the golden decisions") {
    import spark.implicits._
    val in = MemoryStream[QDoc]
    val q = QuotaStream(in.toDS(), quota = 100L).writeStream
      .format("memory").queryName("quota_golden_t").outputMode("append").start()
    in.addData(
      QDoc(1L, "srcA", 50L, ts("2026-01-01 10:00:00")),
      QDoc(2L, "srcA", 40L, ts("2026-01-01 10:00:01")),
      QDoc(3L, "srcA", 40L, ts("2026-01-01 10:00:02")),
      QDoc(4L, "srcA", 10L, ts("2026-01-01 10:00:03")),
      QDoc(5L, "srcB", 99L, ts("2026-01-01 10:00:00")))
    q.processAllAvailable()
    val rows = spark.table("quota_golden_t")
      .select("doc_id", "admitted", "admitted_tok")
      .as[(Long, Boolean, Long)].collect().sorted.toSeq
    q.stop()
    assert(rows == Seq((1L, true, 50L), (2L, true, 90L), (3L, false, 90L),
      (4L, true, 100L), (5L, true, 99L)))
  }
}
