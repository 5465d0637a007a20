package perfbench

import java.io.{BufferedWriter, FileWriter}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}

import graft.weather.Weather

/** The paper's two MapReduce jobs over a generated weather CSV.
  *
  * The generator plants the edges the two jobs treat differently, at
  * a fixed density: blank and garbage numerics, empty keys, short and
  * long rows, an unknown location, mid-file headers, blank lines, and
  * two months whose island-wide precipitation totals tie exactly above
  * every other month. Every numeric is a multiple of 0.25, so double
  * sums are exact and the expected totals the generator computes on
  * its own must match the engine's bit for bit.
  */
final class WeatherWorkload(work: String, seed: Long, val lines: Int = 400000)
    extends Workload {
  val Cities = 26
  val UnknownLocation = 99
  val Years = Seq(2021, 2022, 2023)
  val nominalPassS = 2.5
  val csv = s"$work/weather.csv"
  val locCsv = s"$work/location.csv"

  /** (city, yyyy-MM) -> (total precipitation hours, mean temperature) */
  var q1Expected: Map[(String, String), (Double, Double)] = Map.empty
  var q2Expected: (String, Double) = ("", 0.0)
  var fileLines = 0L

  def city(id: Int): String = f"City_$id%02d"

  private def quarters(q: Int): String = {
    val aq = math.abs(q)
    val frac = aq % 4 match { case 0 => ""; case 1 => ".25"; case 2 => ".5"; case _ => ".75" }
    (if (q < 0) "-" else "") + (aq / 4) + frac
  }

  def prepare(): Unit = {
    new java.io.File(work).mkdirs()
    val loc = new BufferedWriter(new FileWriter(locCsv))
    loc.write("location_id,latitude,longitude,elevation,utc_offset_seconds," +
      "timezone,timezone_abbreviation,city_name\n")
    for (id <- 1 to Cities)
      loc.write(s"$id,${6 + id * 0.125},${80 + id * 0.0625},${id * 10},19800," +
        s"Asia/Colombo,+0530,${city(id)}\n")
    loc.close()

    val rng = new SplittableRandom(seed)
    val header = "location_id,date,weather_code,temperature_2m_max," +
      "temperature_2m_min,temperature_2m_mean,apparent_temperature_max," +
      "apparent_temperature_min,sunrise,sunset,daylight_duration," +
      "sunshine_duration,precipitation_sum,precipitation_hours"
    val months = for (y <- Years; m <- 1 to 12) yield (y, m)
    // Job1 accumulators (quarters, rows) per (city, month index) and
    // Job2 precipitation quarters per month index
    val j1p = Array.ofDim[Long](Cities + 1, months.size)
    val j1t = Array.ofDim[Long](Cities + 1, months.size)
    val j1n = Array.ofDim[Long](Cities + 1, months.size)
    val j2p = new Array[Long](months.size)
    val out = new BufferedWriter(new FileWriter(csv), 1 << 20)
    val sb = new java.lang.StringBuilder(128)
    var written = 0L

    def emit(loc: String, mi: Int, day: Int, temp: String, precip: String,
        fields: Int): Unit = {
      val (y, m) = months(mi)
      sb.setLength(0)
      sb.append(loc).append(',')
      if (day > 0) sb.append(m).append('/').append(day).append('/').append(y)
      for (f <- 2 until fields) {
        sb.append(',')
        f match {
          case 5 => sb.append(temp)
          case 13 => sb.append(precip)
          case _ => sb.append(f * 3 + day % 7)
        }
      }
      sb.append('\n')
      out.write(sb.toString)
      written += 1
    }

    /** One row with known numerics; updates both jobs' expectations. */
    def row(locId: Int, mi: Int, day: Int, tq: Option[Int], pq: Option[Int],
        tText: String, pText: String, fields: Int, emptyLoc: Boolean): Unit = {
      val locText = if (emptyLoc) "" else locId.toString
      emit(locText, mi, day, tText, pText, fields)
      if (fields >= 14) {
        if (!emptyLoc && day > 0 && locId <= Cities) {
          j1p(locId)(mi) += pq.getOrElse(0)
          j1t(locId)(mi) += tq.getOrElse(0)
          j1n(locId)(mi) += 1
        }
        if (day > 0) pq.foreach(j2p(mi) += _)
      }
    }

    out.write(header + "\n"); written += 1
    for (i <- 0 until lines) {
      if (i > 0 && i % 250000 == 0) { out.write(header + "\n"); written += 1 }
      if (i > 0 && i % 100000 == 50000) { out.write("\n"); written += 1 }
      val locId = 1 + rng.nextInt(Cities)
      val mi = rng.nextInt(months.size)
      val day = 1 + rng.nextInt(28)
      val tq = rng.nextInt(241) - 80
      val pq = rng.nextInt(97)
      rng.nextInt(1000) match {
        case 0 => row(locId, mi, day, Some(tq), Some(pq), quarters(tq), quarters(pq), 14, emptyLoc = true)
        case 1 => row(locId, mi, 0, Some(tq), Some(pq), quarters(tq), quarters(pq), 14, emptyLoc = false)
        case 2 => row(locId, mi, day, Some(tq), Some(pq), quarters(tq), quarters(pq), 10, emptyLoc = false)
        case 3 => row(UnknownLocation, mi, day, Some(tq), Some(pq), quarters(tq), quarters(pq), 14, emptyLoc = false)
        case 4 => row(locId, mi, day, None, Some(pq), "", quarters(pq), 14, emptyLoc = false)
        case 5 => row(locId, mi, day, None, Some(pq), "n/a", quarters(pq), 14, emptyLoc = false)
        case 6 => row(locId, mi, day, Some(tq), None, quarters(tq), "", 14, emptyLoc = false)
        case 7 => row(locId, mi, day, Some(tq), None, quarters(tq), "x", 14, emptyLoc = false)
        case 8 => row(locId, mi, day, Some(tq), Some(pq), quarters(tq), quarters(pq), 16, emptyLoc = false)
        case _ => row(locId, mi, day, Some(tq), Some(pq), quarters(tq), quarters(pq), 14, emptyLoc = false)
      }
    }
    // plant the tie: two seed-chosen months, the earlier one first,
    // topped up to exactly the same total, 100 hours above the rest
    val a = rng.nextInt(months.size / 2)
    val b = months.size / 2 + rng.nextInt(months.size / 2)
    val target = j2p.max + 400
    out.write(header + "\n"); written += 1
    for (mi <- Seq(a, b)) {
      while (j2p(mi) < target) {
        val pq = math.min(96L, target - j2p(mi)).toInt
        val tq = rng.nextInt(241) - 80
        row(1 + rng.nextInt(Cities), mi, 1 + rng.nextInt(28), Some(tq), Some(pq),
          quarters(tq), quarters(pq), 14, emptyLoc = false)
      }
    }
    out.close()
    fileLines = written

    def ym(mi: Int): String = f"${months(mi)._1}%d-${months(mi)._2}%02d"
    q1Expected = (for {
      c <- 1 to Cities; mi <- months.indices if j1n(c)(mi) > 0
    } yield (city(c), ym(mi)) ->
      ((j1p(c)(mi) / 4.0, (j1t(c)(mi) / 4.0) / j1n(c)(mi)))).toMap
    q2Expected = (ym(a), target / 4.0)
  }

  def inputs: Seq[(String, Any)] = Seq("weather_csv_lines" -> fileLines,
    "weather_csv_bytes" -> new java.io.File(csv).length(),
    "location_csv_lines" -> (Cities + 1), "q1_groups" -> q1Expected.size)

  def reset(s: SparkSession): Unit = ()

  private lazy val q1 = new Op("weather.q1", "read", fileLines + Cities + 1) {
    def run(s: SparkSession, ph: Phases): Any = ph.rows(Weather.q1CityMonthlyAgg(
      Weather.readWeather(s, csv), Weather.readLocation(s, locCsv)))
    def check(s: SparkSession, r: Any): Option[String] = {
      val got = r.asInstanceOf[Array[Row]].map(x =>
        (x.getString(0), x.getString(1)) -> ((x.getDouble(2), x.getDouble(3)))).toMap
      if (got.size != r.asInstanceOf[Array[Row]].length) Some("duplicate (city, month) groups")
      else if (got == q1Expected) None
      else {
        val bad = (got.keySet ++ q1Expected.keySet).filter(k => got.get(k) != q1Expected.get(k))
        Some(s"${bad.size} groups differ, e.g. ${bad.head}: got ${got.get(bad.head)} " +
          s"expected ${q1Expected.get(bad.head)}")
      }
    }
  }

  private lazy val q2 = new Op("weather.q2", "read", fileLines) {
    def run(s: SparkSession, ph: Phases): Any =
      ph.rows(Weather.q2MaxPrecipMonth(Weather.readWeather(s, csv)))
    def check(s: SparkSession, r: Any): Option[String] = {
      val got = r.asInstanceOf[Array[Row]].map(x => (x.getString(0), x.getDouble(1))).toSeq
      if (got == Seq(q2Expected)) None else Some(s"got $got expected $q2Expected")
    }
  }

  def pass(s: SparkSession, passNo: Int): Seq[Op] = Seq(q1, q2)
}

/** Writes one seed's weather inputs and the generator's own expected
  * answers, for checking the generator against an independent engine:
  *
  * {{{
  * perfbench.GenWeather <dir> <seed> <lines>
  * }}}
  */
object GenWeather {
  def main(args: Array[String]): Unit = {
    val w = new WeatherWorkload(args(0), args(1).toLong, args(2).toInt)
    w.prepare()
    val q1 = w.q1Expected.toSeq.sorted.map { case ((c, m), (p, t)) => Seq(c, m, p, t) }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"${args(0)}/expected.json"),
      Json.render(Json.obj("csv" -> w.csv, "location_csv" -> w.locCsv, "lines" -> w.fileLines,
        "q1" -> q1, "q2" -> Seq(w.q2Expected._1, w.q2Expected._2))).getBytes("UTF-8"))
  }
}
