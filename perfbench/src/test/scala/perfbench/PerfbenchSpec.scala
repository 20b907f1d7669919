package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry
import graft.streaming.RadiationPipeline

class PerfbenchSpec extends AnyFunSuite {

  private def stream(seed: Long): Seq[(String, String, Route, Boolean)] = {
    val g = new StreamGen(seed)
    (g.backlog(3000) ++ g.tick(250, StreamGen.BaseSec + 5000)).map(r => (r.line(0), r.key, r.route, r.dup))
  }

  test("the stream generator is deterministic per seed") {
    assert(stream(7) == stream(7))
    assert(stream(7) != stream(8))
  }

  test("the batch tables are deterministic per seed") {
    def rows(seed: Long) = BatchGen.tables(seed).map { case (n, _, rs) => n -> rs.map(_.toSeq) }
    assert(rows(7) == rows(7))
    assert(rows(7) != rows(8))
  }

  test("generated traffic has the documented shares") {
    val rows = new StreamGen(3).backlog(20000)
    def share(p: GenRow => Boolean) = rows.count(p).toDouble / rows.size
    assert(math.abs(share(_.dup) - StreamGen.DupShare) < 0.01)
    assert(math.abs(share(r => r.route == Route.Dirty && !r.dup) - StreamGen.DirtyShare) < 0.01)
    assert(share(r => r.route == Route.Critical && !r.dup) > 0.005)
    // in event-time order apart from re-sends, which stay inside the watermark
    val secs = rows.filterNot(_.dup).map(_.eventSec)
    assert(secs.zip(secs.tail).forall { case (a, b) => a <= b })
  }

  test("the tail percentile has at least ten samples beyond it") {
    assert(Stats.tailPercentile(5) == 50.0) // too few for any tail: the median
    assert(Stats.tailPercentile(99) == 50.0)
    assert(Stats.tailPercentile(100) == 90.0)
    assert(Stats.tailPercentile(999) == 95.0)
    assert(Stats.tailPercentile(1000) == 99.0)
    assert(Stats.tailPercentile(10000) == 99.9)
    (20 to 20000 by 37).foreach { n =>
      val p = Stats.tailPercentile(n)
      assert(Stats.beyond(n, p) >= 10, s"n=$n p=$p")
      Stats.ladder.find(_ > p).foreach(next => assert(Stats.beyond(n, next) < 10, s"n=$n next=$next"))
    }
    assert(Stats.quantile(Seq(4.0, 1.0, 3.0, 2.0), 0.5) == 2.5)
    assert(Stats.tail((1 to 1000).map(_.toDouble)) == (99.0, Stats.quantile((1 to 1000).map(_.toDouble), 0.99)))
  }

  test("pending lines may be delivered but need not be") {
    val rows = new StreamGen(9).backlog(200).filterNot(_.dup).groupBy(_.key).map(_._2.head).toSeq
    val (input, pending) = rows.splitAt(150)
    def sent(rs: Seq[GenRow]) = rs.map(r => Truth.Delivered(r.route, r.key, 0L))
    assert(Truth.check(input, sent(input), pending).failed == 0)
    assert(Truth.check(input, sent(input ++ pending.take(20)), pending).failed == 0)
    assert(Truth.check(input, sent(input ++ pending.take(20))).unexpected == 20)
    assert(Truth.check(input, sent(input.tail), pending).missing == 1)
  }

  test("a paced run is steady unless its later epochs carry more rows") {
    assert(StreamBench.steady(Seq(3000, 3500, 3500, 3500)))
    assert(StreamBench.steady(Seq(3000, 3000, 4000, 4400)))
    assert(!StreamBench.steady(Seq(2000, 2500, 4000, 5000)))
    assert(!StreamBench.steady(Seq(3000))) // too few epochs to tell
  }

  test("the host clock's memory chain visits every slot once per cycle") {
    val next = HostClock.ring(1000, 3L)
    assert(next.sorted.sameElements(0 until 1000))
    val visited = Iterator.iterate(0)(next(_)).take(1000).toSet
    assert(visited.size == 1000)
    assert(HostClock.chase(next, 0, 1000) == 0)
  }

  test("a host clock without samples in an interval fails instead of reading as the reference") {
    val clock = new HostClock
    intercept[IllegalStateException](clock.factor(0.0, Double.MaxValue))
  }

  test("dashboard staleness reads the keys a snapshot shows") {
    val body = """{"normal":[{"dedup_key":"a|1","raw":"{\\"x\\":1}"},{"dedup_key":"b|2"}],"critical":[]}"""
    assert(Dashboard.keys(body) == Seq("a|1", "b|2"))
    val at = Map("a|1" -> 100.0, "b|2" -> 250.0)
    val polls = Seq(Poll(290.0, 300.0, 0), Poll(390.0, 400.0, 1), Poll(500.0, 520.0, 0))
    assert(Dashboard.staleMs(polls, Vector(body, """{"normal":[],"critical":[]}"""), at.get) == Seq(50.0, 270.0))
  }

  test("the sink check passes on the pipeline's output and fails when one delivered row is removed") {
    val work = Files.createTempDirectory("perfbench-spec").toFile
    val spark = Main.session(2, work.getPath)
    try {
      val in = s"$work/in"
      val input = StreamBench.writeBacklog(new StreamGen(5), Seq(500, 1000), in).flatten
      val raw = spark.readStream.text(in).select("value")
      RadiationPipeline.run(raw, s"$work/out", s"$work/ckpt", SparkEntry.T).awaitTermination()
      val delivered = StreamBench.readSinks(spark, s"$work/out")
      val ok = Truth.check(input, delivered)
      assert(ok.failed == 0, ok)
      assert(ok.expected == ok.delivered)

      // drop one row from one epoch of the normal sink
      val epoch = delivered.find(_.route == Route.Normal).get.epoch
      val part = new File(s"$work/out/${Route.Normal.dir}/epoch=$epoch")
      val df = spark.read.parquet(part.getPath)
      val (schema, rows) = (df.schema, df.collect())
      StreamBench.rmrf(part)
      spark.createDataFrame(java.util.Arrays.asList(rows.tail: _*), schema)
        .write.mode(SaveMode.Overwrite).parquet(part.getPath)
      val bad = Truth.check(input, StreamBench.readSinks(spark, s"$work/out"))
      assert(bad.failed == 1 && bad.missing == 1, bad)
    } finally {
      spark.stop()
      StreamBench.rmrf(work)
    }
  }
}
