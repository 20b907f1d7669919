package perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.Locale

import scala.collection.mutable
import scala.util.Random
import scala.util.hashing.MurmurHash3

/** The sink topic a generated line must reach. */
sealed abstract class Route(val dir: String)
object Route {
  case object Normal extends Route("normal-data")
  case object Critical extends Route("critical-data")
  case object Dirty extends Route("dirty-data")
  val all: Seq[Route] = Seq(Normal, Critical, Dirty)
}

/** One generated input line. The ingestion stamp is appended when the line
  * is written (`line`), so a live generator can stamp each row with its due
  * time while everything else about the input is fixed by the seed.
  *
  * `key` is the pipeline's composite dedup key for the line, computed here
  * independently of the program; `dup` marks a deliberate re-send.
  */
final case class GenRow(prefix: String, stamped: Boolean, key: String,
                        route: Route, eventSec: Long, dup: Boolean) {
  def line(ingestMs: Long): String = if (stamped) s"$prefix$ingestMs}" else prefix
}

/** Seeded producer of the radiation JSON lines the pipeline reads
  * (`RadiationPipeline.rawSchema`), with the ground truth of where each
  * line must end up.
  *
  * Traffic shape: each event fans out to 1–5 sensors at the same second,
  * so a 1 s cohort holds several rows. Of all lines, about
  *  - 5 % are re-sends of a line whose event time lies at most 3 s behind
  *    the newest event time so far (inside the 5 s watermark);
  *  - 3 % are dirty: bad unit, non-positive value, missing field, or
  *    malformed JSON;
  *  - 1 % of the valid readings are critical spikes (value >= 400, the
  *    `SparkEntry.T` danger threshold).
  * Lines come out in event-time order apart from the re-sends, so a correct
  * pipeline drops nothing as late.
  */
final class StreamGen(seed: Long) {
  import StreamGen._

  private val rnd = new Random(seed)
  private val sensors: Vector[(Double, Double)] = Vector.fill(1000)(
    (-60.0 + 130.0 * rnd.nextDouble(), -180.0 + 360.0 * rnd.nextDouble()))
  private var clock = BaseSec
  private var current = BaseSec
  private val recent = mutable.ArrayDeque.empty[GenRow]

  /** `n` backlog lines; each new event advances event time by 1–2 s. */
  def backlog(n: Int): Vector[GenRow] = fill(n, () => {
    clock += (if (rnd.nextDouble() < 0.2) 2 else 1)
    clock
  })

  /** `n` lines of one live tick: every new event happens at second `sec`. */
  def tick(n: Int, sec: Long): Vector[GenRow] = fill(n, () => sec)

  private def fill(n: Int, nextSecond: () => Long): Vector[GenRow] = {
    val out = Vector.newBuilder[GenRow]
    var k = 0
    def emit(r: GenRow): Unit = { out += r; k += 1; if (r.stamped && !r.dup) recent += r }
    while (k < n) {
      while (recent.nonEmpty && recent.head.eventSec < current - ResendLagSec)
        recent.removeHead()
      val u = rnd.nextDouble()
      if (u < PickDup) {
        if (recent.nonEmpty) emit(recent(rnd.nextInt(recent.size)).copy(dup = true))
      } else if (u < PickDup + PickDirty) emit(dirty(current))
      else {
        current = nextSecond()
        val fanOut = 1 + rnd.nextInt(5)
        Iterator.continually(rnd.nextInt(sensors.size)).distinct.take(fanOut)
          .takeWhile(_ => k < n).foreach(s => emit(reading(current, s)))
      }
    }
    out.result()
  }

  private def reading(sec: Long, sensor: Int): GenRow = {
    val (lat, lon) = sensors(sensor)
    val critical = rnd.nextDouble() < CriticalShare
    val value =
      if (critical) 400.0 + 1100.0 * rnd.nextDouble()
      else math.min(380.0, 1.0 + -50.0 * math.log(1.0 - rnd.nextDouble()))
    val unit = if (rnd.nextBoolean()) "cpm" else "CPM"
    record(sec, Some(lat), Some(lon), value, Some(unit),
      if (critical) Route.Critical else Route.Normal)
  }

  private def dirty(sec: Long): GenRow = {
    val (lat, lon) = sensors(rnd.nextInt(sensors.size))
    val value = 1.0 + 100.0 * rnd.nextDouble()
    rnd.nextInt(10) match {
      case 0 | 1 | 2 | 3 => record(sec, Some(lat), Some(lon), value, Some("usv"), Route.Dirty)
      case 4 | 5 | 6 =>
        record(sec, Some(lat), Some(lon), Seq(0.0, -5.0, 0.4)(rnd.nextInt(3)), Some("cpm"),
          Route.Dirty)
      case 7 | 8 => record(sec, Some(lat), Some(lon), value, None, Route.Dirty)
      case _ =>
        // unquoted field names: the parser fails on the first field, so
        // every field is null and the line falls back to the all-default
        // dedup key (all malformed lines are one key to the pipeline)
        GenRow(s"""{captured_time: ${ts(sec)}, latitude: ${f5(lat)}}""", stamped = false,
          key = s"${f5(0.0)}|${f5(0.0)}|${f2(0.0)}||", Route.Dirty, sec, dup = false)
    }
  }

  private def record(sec: Long, lat: Option[Double], lon: Option[Double], value: Double,
                     unit: Option[String], route: Route): GenRow = {
    val fields = Seq(
      Some(s""""captured_time":"${ts(sec)}""""),
      lat.map(v => s""""latitude":${f5(v)}"""),
      lon.map(v => s""""longitude":${f5(v)}"""),
      Some(s""""value":${f2(value)}"""),
      unit.map(u => s""""unit":"$u"""")).flatten
    GenRow(fields.mkString("{", ",", ""","ingestion_timestamp":"""), stamped = true,
      key = Seq(f5(lat.getOrElse(0.0)), f5(lon.getOrElse(0.0)), f2(value), ts(sec),
        unit.getOrElse("")).mkString("|"),
      route, sec, dup = false)
  }

  /** A valid line far enough past `lastSec` that its watermark closes every
    * earlier cohort window; it stays in window state itself, so it is not
    * an operation and is never expected in a sink.
    */
  def sentinel(lastSec: Long): GenRow = {
    val r = record(lastSec + 60, Some(0.5), Some(0.5), 10.0, Some("cpm"), Route.Normal)
    r.copy(dup = true)
  }
}

object StreamGen {
  /** 2024-01-01T00:00:00Z: event time starts here for every seed. */
  val BaseSec: Long = 1704067200L
  val DupShare = 0.05
  val DirtyShare = 0.03
  val CriticalShare = 0.01
  val ResendLagSec = 3
  // one draw yields one re-send, one dirty line, or an event of 1-5 (mean
  // 3) lines: scale the draw odds so the shares above hold per line
  private val LinesPerDraw = 3.0 / (1 + 2 * (DupShare + DirtyShare))
  private val PickDup = DupShare * LinesPerDraw
  private val PickDirty = DirtyShare * LinesPerDraw

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)
  def ts(sec: Long): String = tsFmt.format(Instant.ofEpochSecond(sec))
  // the pipeline formats its key with java.util.Formatter too
  def f5(v: Double): String = String.format(Locale.US, "%.5f", Double.box(v))
  def f2(v: Double): String = String.format(Locale.US, "%.2f", Double.box(v))
}

/** Ground-truth check of the three sinks against the generated input. */
object Truth {

  /** One row read back from a sink: its route, dedup key and epoch. */
  final case class Delivered(route: Route, key: String, epoch: Long)

  /** Per-route count and order-free hash of a key multiset. */
  final case class Digest(count: Int, hash: Long)
  def digest(keys: Iterable[String]): Digest =
    Digest(keys.size, keys.foldLeft(0L)((h, k) => h + (MurmurHash3.stringHash(k) & 0xffffffffL)))

  /** `missing`: expected keys absent from their sink; `unexpected`: keys in
    * a sink that should not be there (misrouted, a re-send, or invented);
    * `repeated`: extra copies of one key in one sink.
    */
  final case class Verdict(expected: Map[Route, Digest], delivered: Map[Route, Digest],
                           missing: Int, unexpected: Int, repeated: Int) {
    def failed: Int = missing + unexpected + repeated
  }

  /** The pipeline delivers each distinct dedup key once, to its route;
    * every later line with the same key is a duplicate and is dropped.
    * Lines marked `dup` (re-sends, the sentinel) are never expected in
    * their own right.
    */
  def expected(input: Seq[GenRow]): Map[Route, Set[String]] = {
    val keys = input.filterNot(_.dup).groupBy(_.route).map { case (r, rows) => r -> rows.map(_.key).toSet }
    Route.all.map(r => r -> keys.getOrElse(r, Set.empty[String])).toMap
  }

  /** Check the sinks against `input`, every line of which must have
    * been delivered. Lines in `pending` were written but may still be in
    * the pipeline: their keys may be delivered, to their route, but need
    * not be.
    */
  def check(input: Seq[GenRow], delivered: Seq[Delivered], pending: Seq[GenRow] = Seq.empty): Verdict = {
    val exp = expected(input)
    val allowed = expected(pending)
    val got = delivered.groupBy(_.route).map { case (r, ds) => r -> ds.map(_.key) }
      .withDefaultValue(Seq.empty)
    val perRoute = Route.all.map { r =>
      val g = got(r)
      val gs = g.toSet
      ((exp(r) -- gs).size, (gs -- exp(r) -- allowed(r)).size, g.size - gs.size)
    }
    Verdict(
      expected = Route.all.map(r => r -> digest(exp(r))).toMap,
      delivered = Route.all.map(r => r -> digest(got(r))).toMap,
      missing = perRoute.map(_._1).sum,
      unexpected = perRoute.map(_._2).sum,
      repeated = perRoute.map(_._3).sum)
  }
}
