package perfbench

import java.io.{BufferedWriter, FileWriter}
import java.sql.Timestamp
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable

import graft.ingest.FixtureFetcher
import graft.model.Location

/** Knobs of the seeded raw generator.
  *
  * Night `n` fetches a forecast that starts at 00:00 UTC of day `n` and
  * runs `forecastHours` hours, so with 168 hours each (dt, location)
  * group collects 7 overlapping forecasts × 24 hours = 168 candidate
  * rows, as successive nightly Open-Meteo runs do.
  *
  * @param tieShare     share of (payload, day) pairs in which a second
  *                     hour repeats that day's maximum swell exactly, so
  *                     the `timestamp desc` tie-break decides the winner
  * @param corruptShare share of payloads that are truncated JSON or an
  *                     API error body (both must be dead-lettered)
  * @param nullShare    share of metric array elements that are `null`
  */
final case class GenConfig(
    locations: Int,
    historyNights: Int,
    forecastHours: Int,
    tieShare: Double,
    corruptShare: Double,
    nullShare: Double)

/** Deterministic Open-Meteo payload source (FIXTURES.md §2 shape): the
  * same seed, night and location always give the same payload string.
  *
  * Swell heights carry the night number in their last three decimals, so
  * the same hour forecast on two different nights never ties exactly;
  * every tie the generator makes is between two hours of one payload and
  * is resolved by the later timestamp. This keeps the reference's
  * arg-max deterministic, which the DuckDB oracle compare relies on.
  */
final class RawGen(seed: Long, val cfg: GenConfig) {
  private val day0 = LocalDateTime.of(2026, 1, 1, 0, 0)
  private val hourFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm")
  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  val locations: IndexedSeq[Location] = {
    val r = new SplittableRandom(seed)
    (0 until cfg.locations).map { i =>
      Location(f"spot_$i%03d", 30.0 + r.nextInt(50000) / 10000.0,
        -125.0 + r.nextInt(80000) / 10000.0)
    }
  }
  private val indexOf: Map[String, Int] =
    locations.map(_.name).zipWithIndex.toMap

  /** Ingestion time of night `n`: 00:30 UTC, just after the window opens. */
  def ingestTime(night: Int): LocalDateTime =
    day0.plusDays(night.toLong).plusMinutes(30)

  def now(night: Int): () => Timestamp =
    () => Timestamp.valueOf(ingestTime(night))

  def fetcher(night: Int): FixtureFetcher =
    new FixtureFetcher(l => payload(night, indexOf(l.name)))

  private def rng(night: Int, loc: Int): SplittableRandom =
    new SplittableRandom(
      seed * 0x9E3779B97F4A7C15L ^ (night.toLong << 20) ^ loc.toLong)

  /** `v / 10^digits` as an exact decimal literal. */
  private def fixed(v: Int, digits: Int): String = {
    val frac = (v % math.pow(10, digits).toInt).toString
    s"${v / math.pow(10, digits).toInt}." + "0" * (digits - frac.length) + frac
  }

  private val timesCache = mutable.HashMap.empty[Int, String]

  /** `$.hourly.time` of night `n`'s forecast window */
  private def times(night: Int): String = timesCache.getOrElseUpdate(night, {
    val start = day0.plusDays(night.toLong)
    (0 until cfg.forecastHours)
      .map(h => "\"" + start.plusHours(h.toLong).format(hourFmt) + "\"")
      .mkString("[", ",", "]")
  })

  def payload(night: Int, loc: Int): String = {
    val r = rng(night, loc)
    val l = locations(loc)
    if (r.nextDouble() < cfg.corruptShare) {
      if (r.nextBoolean())
        """{"error":true,"reason":"Cannot initialize WeatherVariable"}"""
      else {
        val whole = goodPayload(night, l, r)
        whole.substring(0, 1 + r.nextInt(whole.length - 2))
      }
    } else goodPayload(night, l, r)
  }

  private def goodPayload(night: Int, l: Location,
                          r: SplittableRandom): String = {
    val n = cfg.forecastHours
    // swell in units of 1e-5 m: centimetres × 1000 + night tag
    val swell = Array.tabulate(n) { h =>
      val phase = math.sin((night * 24 + h) / 37.0 + l.lat)
      val cm = 120 + (phase * 80).toInt + r.nextInt(60)
      cm * 1000 + night % 1000
    }
    var d = 0
    while (d * 24 < n) {
      if (r.nextDouble() < cfg.tieShare) {
        val hours = (d * 24) until math.min(n, d * 24 + 24)
        val top = hours.maxBy(swell(_))
        val other = hours(r.nextInt(hours.length))
        swell(other) = swell(top)
      }
      d += 1
    }
    def arr(value: Int => String): String = {
      val sb = new StringBuilder("[")
      var h = 0
      while (h < n) {
        if (h > 0) sb.append(',')
        if (r.nextDouble() < cfg.nullShare) sb.append("null")
        else sb.append(value(h))
        h += 1
      }
      sb.append(']').toString
    }
    val swellJson = arr(h => fixed(swell(h), 5))
    s"""{"latitude":${l.lat},"longitude":${l.lon},""" +
      s""""timezone":"America/Los_Angeles",""" +
      """"hourly_units":{"time":"iso8601","wave_height":"m",""" +
      """"swell_wave_height":"m","swell_wave_period":"s"},""" +
      s""""hourly":{"time":${times(night)},""" +
      s""""wave_height":${arr(_ => fixed(60 + r.nextInt(300), 2))},""" +
      s""""wave_direction":${arr(_ => s"${180 + r.nextInt(120)}.0")},""" +
      s""""wind_wave_direction":${arr(_ => s"${r.nextInt(360)}.0")},""" +
      s""""swell_wave_height":$swellJson,""" +
      s""""swell_wave_direction":${arr(_ => s"${200 + r.nextInt(90)}.0")},""" +
      s""""swell_wave_period":${arr(_ => fixed(600 + r.nextInt(1400), 2))}}}"""
  }

  /** Writes the raw rows of `nights` as `ingest_ts \t location \t payload`
    * lines, the input of the DuckDB oracle. Generated payloads hold no
    * tab or newline.
    */
  def dump(nights: Seq[Int], path: String): Unit = {
    val w = new BufferedWriter(new FileWriter(path))
    try nights.foreach { n =>
      val ts = ingestTime(n).atOffset(ZoneOffset.UTC).format(tsFmt)
      locations.indices.foreach { i =>
        w.write(s"$ts\t${locations(i).name}\t${payload(n, i)}\n")
      }
    } finally w.close()
  }
}
