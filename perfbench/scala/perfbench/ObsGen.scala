package perfbench

import java.time.Instant
import java.util.{Locale, SplittableRandom}

import scala.collection.mutable

/** One generated observation. `station` None is a null station id;
  * `badTemp` sends a non-numeric temperature (parsed as null). */
final case class Rec(station: Option[String], tsMs: Long, temp: Double,
    humidity: Double, wind: Double, badTemp: Boolean) {

  def lat: Double = station.map(s => (600 + s.toInt % 17) / 10.0).getOrElse(60.0)
  def lon: Double = station.map(s => (210 + s.toInt % 31) / 10.0).getOrElse(21.0)
  def elev: Double = station.map(s => (s.toInt % 97).toDouble).getOrElse(0.0)
  def name: Option[String] = station.map("station " + _)
  def temperature: Option[Double] = if (badTemp) None else Some(temp)

  /** FMI-shaped Kafka wire JSON, as `kafka_stream.py` produces it. */
  def json: String = {
    def d(x: Double) = String.format(Locale.ROOT, "%.1f", Double.box(x))
    val st = station.map("\"" + _ + "\"").getOrElse("null")
    val nm = name.map("\"" + _ + "\"").getOrElse("null")
    val t = if (badTemp) "\"n/a\"" else d(temp)
    s"""{"station_id":$st,"station_name":$nm,"latitude":${d(lat)},""" +
      s""""longitude":${d(lon)},"elevation":${d(elev)},""" +
      s""""timestamp":"${Instant.ofEpochMilli(tsMs)}","temperature":$t,""" +
      s""""humidity":${d(humidity)},"wind_speed":${d(wind)}}"""
  }
}

/** Seeded generator of the observation stream. Fixed shares of each batch
  * are exact replays of earlier records, out-of-order (older) readings,
  * null station ids and malformed (non-numeric) measurements; the rest are
  * in-order readings 5-25 minutes apart, so a station reports several
  * times per hour and the hourly keep-last matters.
  */
final class ObsGen(seed: Long, stations: Int = ObsGen.Stations) {
  import ObsGen._
  private val rng = new SplittableRandom(seed)
  private val clock = Array.fill(stations)(Start + rng.nextLong(3600L) * 1000L)
  private val sent = mutable.ArrayBuffer.empty[Rec]
  private val used = mutable.HashSet.empty[(Int, Long)]

  private def round1(x: Double) = math.round(x * 10) / 10.0
  private def reading(s: Int, ts: Long, badTemp: Boolean) =
    Rec(Some((1000 + s).toString), ts, round1(12 + 8 * (rng.nextDouble() - 0.5) * 2),
      round1(40 + 55 * rng.nextDouble()), round1(15 * rng.nextDouble()), badTemp)

  private def inOrder(badTemp: Boolean): Rec = {
    val s = rng.nextInt(stations)
    clock(s) += (5 + rng.nextInt(21)) * 60000L
    used += ((s, clock(s)))
    reading(s, clock(s), badTemp)
  }

  /** Older than the station's clock and off its minute grid, never equal
    * to another reading of the station (so ties never decide the output). */
  private def outOfOrder(): Rec = {
    val s = rng.nextInt(stations)
    var ts = 0L
    do ts = clock(s) - rng.nextInt(6 * 60) * 60000L - 1000L * (1 + rng.nextInt(59)) -
      rng.nextInt(1000)
    while (used.contains((s, ts)))
    used += ((s, ts))
    reading(s, ts, badTemp = false)
  }

  def batch(n: Int): Seq[Rec] = {
    val out = (0 until n).map { _ =>
      val r = rng.nextDouble()
      if (r < ReplayShare && sent.nonEmpty) sent(sent.size - 1 - rng.nextInt(math.min(sent.size, 2 * n)))
      else if (r < ReplayShare + OutOfOrderShare) outOfOrder()
      else if (r < ReplayShare + OutOfOrderShare + NullStationShare)
        inOrder(badTemp = false).copy(station = None)
      else inOrder(badTemp = r < ReplayShare + OutOfOrderShare + NullStationShare + MalformedShare)
    }
    sent ++= out
    if (sent.size > 4 * n) sent.remove(0, sent.size - 4 * n)
    out
  }
}

object ObsGen {
  /** The reference's default `STATION_WHITELIST` fan-out. */
  val Stations = 6
  val Start: Long = Instant.parse("2024-06-01T00:00:00Z").toEpochMilli
  val ReplayShare = 0.05
  val OutOfOrderShare = 0.05
  val NullStationShare = 0.02
  val MalformedShare = 0.02
}

/** One warehouse row as the documented pipeline semantics produce it. */
final case class OutRow(rec: Rec, hourMs: Long, batchId: Int) {
  def cells: Seq[Any] = Seq(rec.station.orNull, rec.name.orNull, rec.lat, rec.lon,
    rec.elev, new java.sql.Timestamp(hourMs), rec.temperature.orNull, rec.humidity, rec.wind)
}

/** Plain-Scala replay of `StreamPipeline.writeHourly`'s documented
  * semantics: a per-station strictly-monotonic filter across batches,
  * null-key rows rejected, and within a batch the latest original reading
  * per (station, hour) kept, with its timestamp floored to the hour.
  */
final class Replay {
  private val hwm = mutable.HashMap.empty[Option[String], Long]
  val batches = mutable.ArrayBuffer.empty[Seq[OutRow]]

  def apply(batch: Seq[Rec]): Seq[OutRow] = {
    val id = batches.size
    val passed = batch.groupBy(_.station).toSeq.flatMap { case (st, rs) =>
      var mark = hwm.getOrElse(st, Long.MinValue)
      val kept = rs.sortBy(_.tsMs).filter { r =>
        if (r.tsMs > mark) { mark = r.tsMs; true } else false
      }
      if (kept.nonEmpty) hwm(st) = mark
      kept
    }
    val rows = passed.filter(_.station.isDefined)
      .groupBy(r => (r.station, Math.floorDiv(r.tsMs, 3600000L)))
      .values.map(_.maxBy(_.tsMs))
      .map(r => OutRow(r, Math.floorDiv(r.tsMs, 3600000L) * 3600000L, id)).toSeq
    batches += rows
    rows
  }

  def all: Seq[OutRow] = batches.flatten.toSeq
}
