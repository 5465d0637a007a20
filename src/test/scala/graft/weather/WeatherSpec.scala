package graft.weather

import java.nio.file.{Files, Paths}
import graft.SparkTestBase

/** Micro-fixture tests asserting the reference's sharpest behavioral
  * edges (SURVEY.md §1.3, FIXTURES.md §A.2) — one row per quirk.
  */
class WeatherSpec extends SparkTestBase {

  // 14-column weather line with only the load-bearing fields filled:
  // 0=location_id, 1=date, 5=temperature_2m_mean, 13=precipitation_hours.
  private def wrow(id: String, date: String, temp: String, precip: String) =
    s"$id,$date,,,,$temp,,,,,,,,$precip"

  private lazy val dir = {
    val d = Files.createTempDirectory("weather_fixture").toFile
    val location = Seq(
      "location_id,latitude,longitude,elevation,utc_offset_seconds,timezone,timezone_abbreviation,city_name",
      "0,6.92,79.90,4,19800,Asia/Colombo,530,Colombo",
      "10,9.38,80.38,19,19800,Asia/Colombo,530,Kilinochchi[1]")
    val weather = Seq(
      "location_id,date,a,b,c,temperature_2m_mean,d,e,f,g,h,i,j,precipitation_hours",
      wrow("0", "1/5/2023", "30.0", "10.0"),
      wrow("0", "1/20/2023", "20.0", "2.0"),
      wrow("0", "2/1/2023", "", "12.0"),     // blank temp: Q1 zero-fill, counted
      wrow("0", "2/2/2023", "10.0", ""),     // blank precip: Q1 zero-fill / Q2 drop
      wrow("10", "1/7/2023", "25.0", "4.0"),
      wrow("10", "3/1/2023", "24.0", "12.0"), // ties Feb total (12.0) → earliest wins
      wrow("", "1/9/2023", "21.0", "5.0"),    // empty location_id: Q1 drop; Q2 keeps!
      wrow("7", "", "21.0", "6.0"),           // empty date: Q1 drop, Q2 drop (no 3 parts)
      wrow("99", "1/2/2023", "20.0", "7.0"),  // unknown location: inner-join drop in Q1
      "1,1/3/2023,x,y,z,1.0,q,w,e",           // 9 fields: arity-dropped everywhere
      "   ",                                   // blank line
      wrow("0", "bad-date", "20.0", "3.0"))   // malformed date: Q2 drops (no '/'×2)
    Files.write(d.toPath.resolve("locationData.csv"),
      String.join("\n", location: _*).getBytes)
    Files.write(d.toPath.resolve("weatherData.csv"),
      String.join("\n", weather: _*).getBytes)
    d.getAbsolutePath
  }

  private lazy val location = Weather.readLocation(spark, s"$dir/locationData.csv")
  private lazy val weather = Weather.readWeather(spark, s"$dir/weatherData.csv")

  test("location passes city names through verbatim incl. Kilinochchi[1]") {
    val cities = location.select("city_name").collect().map(_.getString(0)).toSet
    assert(cities === Set("Colombo", "Kilinochchi[1]"))
  }

  test("arity dispatch: 9-field line dropped, 14-field kept, headers skipped") {
    // 12 data lines; the blank and the 9-field line drop → 10 survive
    assert(weather.count() === 10)
  }

  test("Q1: zero-fill-and-count AVG, zero-fill SUM, inner-join + row drops") {
    val q1 = Weather.q1CityMonthlyAgg(weather, location)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getDouble(3)))
      .toMap
    // Colombo 2023-01: precip 10+2=12, temp (30+20)/2=25
    assert(q1(("Colombo", "2023-01")) === ((12.0, 25.0)))
    // Colombo 2023-02: blank temp → 0.0 counted: (0+10)/2 = 5.0;
    // blank precip → 0.0 summed: 12+0 = 12
    assert(q1(("Colombo", "2023-02")) === ((12.0, 5.0)))
    // bad-date row: to_date returns NULL → groups under NULL month
    // (documented divergence from Job1's lenient SimpleDateFormat,
    // SURVEY.md §2.1 O7 — clean data is unaffected)
    // unknown location 99 and empty-id/date rows must not appear
    val cities = q1.keySet.map(_._1)
    assert(cities === Set("Colombo", "Kilinochchi[1]"))
  }

  test("Q2: row-drop for blank precip, string-surgery month, tie → earliest") {
    // totals: 2023-01 = 10+2+4+5(empty-id row KEPT: Job2 never looks
    // at location_id)+7(unknown loc kept) = 28 … wait, those are all
    // January. Feb: 12.0 (blank-precip row dropped). Mar: 12.0.
    // Max is 2023-01=28; to exercise the tie we check Feb/Mar below.
    val top = Weather.q2MaxPrecipMonth(weather).collect()(0)
    assert(top.getString(0) === "2023-01" && top.getDouble(1) === 28.0)

    // Tie-break: restrict to Feb+Mar (both 12.0) → earliest month wins
    import org.apache.spark.sql.functions.col
    val tied = Weather.q2MaxPrecipMonth(
      weather.where(!col("date").startsWith("1/")))
      .collect()(0)
    assert(tied.getString(0) === "2023-02" && tied.getDouble(1) === 12.0)
  }

  test("text-parity sinks match the reference output shapes") {
    val q1lines = Weather.q1Formatted(
      Weather.q1CityMonthlyAgg(weather, location))
      .collect().map(_.getString(0)).toSet
    assert(q1lines.contains("Colombo,2023-01\t12.000,25.000"))
    assert(q1lines.contains("Kilinochchi[1],2023-03\t12.000,24.000"))

    val q2line = Weather.q2Formatted(
      Weather.q2MaxPrecipMonth(weather)).collect()(0).getString(0)
    // Java Double.toString renders 28.0 (not 28) — cast parity
    assert(q2line === "2023-01,28.0")
  }

  test("real reference artifact: locationData.csv reads verbatim") {
    // the actual file the reference ships, not a synthesized twin
    assume(Files.exists(Paths.get(Weather.ReferenceLocationCsv)),
      s"reference artifact ${Weather.ReferenceLocationCsv} is not present")
    val loc = Weather.readLocation(spark, Weather.ReferenceLocationCsv)
    val rows = loc.collect()
    assert(rows.length === 27, "27 location rows (ids 0-26)")
    val byId = rows.map(r => r.getInt(0) -> r.getString(7)).toMap
    assert(byId(0) === "Colombo")
    assert(byId(10) === "Kilinochchi[1]", "data quirk must pass through verbatim")
    assert(byId(26) === "Bandarawela")
    // every row parses its full 8-column schema (no silent arity drops)
    assert(rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(4)))
    assert(rows.map(r => r.getInt(4)).toSet === Set(19800), "all UTC+5:30")
  }

  test("judged w1/w2 run end-to-end on the committed fixture") {
    val w1 = Weather.queries.find(_.name == "w1_city_month").get
      .fn(spark, "unused").collect()
    assert(w1.length === 324, "27 cities x 12 months")
    val w2 = Weather.queries.find(_.name == "w2_max_precip").get
      .fn(spark, "unused").collect()
    // the generator ties 2023-11 and 2023-12 at the max: earliest wins
    assert(w2.length === 1 && w2(0).getString(0) === "2023-11")
  }

  test("Q1 plan broadcasts the dim and Q2 plans as a top-k, not a global sort") {
    val q1Plan = Weather.q1CityMonthlyAgg(weather, location)
      .queryExecution.executedPlan.toString
    assert(q1Plan.contains("BroadcastHashJoin"))
    val q2Plan = Weather.q2MaxPrecipMonth(weather)
      .queryExecution.executedPlan.toString
    assert(q2Plan.contains("TakeOrderedAndProject"))
  }
}
