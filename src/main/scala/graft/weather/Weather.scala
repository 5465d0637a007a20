package graft.weather

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reference-parity weather analytics.
  *
  * Replicates the two MapReduce jobs of the reference
  * (reference `src/main/java/org/weather_analysis/Job1.java`,
  * `Job2.java`) including their per-query null/error semantics
  * (SURVEY.md §1.3) — which differ BETWEEN the jobs, so they are
  * encoded per-query here, never engine-wide:
  *
  *  - Job1: blank/garbage numerics coerce to 0.0 and still count in
  *    the AVG denominator (`Job1.java:97-99,116-123`); rows with
  *    empty location_id/date are dropped (`Job1.java:46`).
  *  - Job2: rows whose precipitation fails to parse are dropped
  *    entirely (`Job2.java:38-45`); malformed dates (≠3 '/'-parts)
  *    are dropped (`Job2.java:31-32`); the month is zero-padded by
  *    string surgery with NO calendar validation (`Job2.java:30-36`).
  *  - Ties in the global argmax resolve to the earliest month
  *    (`Job2.java:65` strict '>' over keys arriving in ascending
  *    sorted order).
  */
object Weather {

  /** `location` dim schema — 8 positional columns
    * (reference `input/locationData.csv:1`, dispatch on
    * `parts.length == 8` at `Job1.java:33`).
    */
  val locationSchema: StructType = StructType(Seq(
    StructField("location_id", IntegerType),
    StructField("latitude", DoubleType),
    StructField("longitude", DoubleType),
    StructField("elevation", IntegerType),
    StructField("utc_offset_seconds", IntegerType),
    StructField("timezone", StringType),
    StructField("timezone_abbreviation", StringType),
    StructField("city_name", StringType)))

  /** `weather` fact — ≥14 positional columns, of which only
    * 0 (location_id), 1 (date), 5 (temperature_2m_mean) and
    * 13 (precipitation_hours) are load-bearing
    * (`Job1.java:40-44`, `Job2.java:40`).
    */
  val weatherColumns: Seq[(String, Int)] = Seq(
    "location_id" -> 0, "date" -> 1,
    "temperature_2m_mean" -> 5, "precipitation_hours" -> 13)

  private def isHeader(line: Column): Column =
    // Header detection is by string prefix, not row position
    // (`Job1.java:27-28` skips `location_id,date` / `location_id,latitude`;
    // `Job2.java:26` skips any `location_id` prefix — we use the wider test).
    line.startsWith("location_id")

  /** Tokenized lines: trim, drop blanks and headers, split(",", -1)
    * preserving trailing empties (`Job1.java:23-30`, `Job2.java:25-28`).
    * Declarative (split/size/element_at), so the whole pipeline stays
    * inside whole-stage codegen — no UDFs, no driver loops.
    */
  private def tokensFromLines(lines: DataFrame): DataFrame =
    lines
      .select(trim(col("value")).as("line"))
      .where(col("line") =!= "" && !isHeader(col("line")))
      // split with limit -1 keeps trailing empty fields, matching
      // java.lang.String.split(",", -1)
      .select(split(col("line"), ",", -1).as("parts"))

  private def tokens(spark: SparkSession, path: String): DataFrame =
    tokensFromLines(spark.read.text(path))

  /** Location table from CSV. Arity dispatch `parts.length == 8`
    * (`Job1.java:33`); values pass through verbatim — the engine must
    * NOT clean data quirks like the literal `Kilinochchi[1]` city
    * name (`input/locationData.csv:12`).
    */
  def readLocation(spark: SparkSession, path: String): DataFrame =
    tokens(spark, path)
      .where(size(col("parts")) === 8)
      .select(
        element_at(col("parts"), 1).try_cast(IntegerType).as("location_id"),
        element_at(col("parts"), 2).try_cast(DoubleType).as("latitude"),
        element_at(col("parts"), 3).try_cast(DoubleType).as("longitude"),
        element_at(col("parts"), 4).try_cast(IntegerType).as("elevation"),
        element_at(col("parts"), 5).try_cast(IntegerType).as("utc_offset_seconds"),
        element_at(col("parts"), 6).as("timezone"),
        element_at(col("parts"), 7).as("timezone_abbreviation"),
        element_at(col("parts"), 8).as("city_name"))

  /** Weather fact from CSV. Arity dispatch `parts.length >= 14`
    * (`Job1.java:40`) — a 9–13-field line silently falls through both
    * branches and is dropped, which this filter replicates. Numeric
    * fields cast to double; unparseable text becomes NULL (the typed
    * analog of the reference's catch blocks — each query then applies
    * its own null policy).
    */
  def readWeather(spark: SparkSession, path: String): DataFrame =
    parseWeather(tokens(spark, path))

  /** Weather fact from an already-loaded single-column (`value`)
    * lines frame — same pipeline as [[readWeather]] minus the file
    * source; lets tests and in-memory feeds reuse the exact parse.
    */
  def readWeatherLines(lines: DataFrame): DataFrame =
    parseWeather(tokensFromLines(lines))

  private def parseWeather(toks: DataFrame): DataFrame =
    toks
      .where(size(col("parts")) >= 14)
      .select(
        element_at(col("parts"), 1).as("location_id"),
        element_at(col("parts"), 2).as("date"),
        // try_cast, not cast: Spark 4 ANSI mode would throw on the
        // reference's blank/garbage numerics; the reference semantics
        // are parse-failure -> null, each query applying its own
        // null policy (SURVEY.md 1.3).
        element_at(col("parts"), 6).try_cast(DoubleType).as("temperature_2m_mean"),
        element_at(col("parts"), 14).try_cast(DoubleType).as("precipitation_hours"))

  /** Job1 year-month key: `M/d/yyyy` parse then `yyyy-MM` format
    * (`Job1.java:61,88-95`). try_to_date (NULL on invalid, vs Job1's
    * lenient SimpleDateFormat roll-over / group-discarding handler,
    * `Job1.java:110-113`) — divergence documented at SURVEY.md §2.1
    * O7; identical on valid dates.
    */
  def yearMonthParsed(date: Column): Column =
    date_format(try_to_date(date, "M/d/yyyy"), "yyyy-MM")

  /** Job2 year-month key: pure string surgery — split on '/', zero-pad
    * the month, NO calendar validation (`Job2.java:30-36`), so
    * `2/31/2023` maps to `2023-02` here while Job1's parser would
    * handle it differently. Returns NULL unless the date has exactly
    * three '/'-parts (`Job2.java:31-32`).
    */
  def yearMonthSplit(date: Column): Column = {
    val p = split(date, "/")
    when(size(p) === 3,
      concat(element_at(p, 3), lit("-"), lpad(element_at(p, 1), 2, "0")))
  }

  /** Q1 (Job1): per (city, month) total precipitation hours and mean
    * temperature. Inner join drops weather rows whose location_id has
    * no dim row (`Job1.java:80` emits only when both sides present).
    * The 27-row dim is broadcast — the reference instead shuffled
    * every fact row to reducers keyed by location_id (`Job1.java:59-80`),
    * a plan that cannot scale past one hot reducer per city; a
    * broadcast hash join keeps the fact table's partitioning intact
    * and shuffles only the post-aggregation partials.
    */
  def q1CityMonthlyAgg(weather: DataFrame, location: DataFrame): DataFrame = {
    val w = weather
      // `Job1.java:46`: drop rows with empty location_id or date
      .where(col("location_id") =!= "" && col("date") =!= "")
      .select(
        col("location_id").try_cast(IntegerType).as("location_id"),
        yearMonthParsed(col("date")).as("year_month"),
        col("temperature_2m_mean"), col("precipitation_hours"))
    w.join(broadcast(location.select(col("location_id"), col("city_name"))),
        Seq("location_id"))
      .groupBy(col("city_name"), col("year_month"))
      .agg(
        // Job1 zero-fill-and-count policy (`Job1.java:116-123,97-99`):
        // NOT SQL AVG — blanks coerce to 0.0 and stay in the denominator.
        sum(coalesce(col("precipitation_hours"), lit(0.0))).as("total_precipitation_hours"),
        avg(coalesce(col("temperature_2m_mean"), lit(0.0))).as("mean_temperature"))
  }

  /** Q1 text-parity sink: `city,yyyy-MM<TAB>%.3f,%.3f`
    * (`Job1.java:106-107` + TextOutputFormat's tab separator).
    */
  def q1Formatted(q1: DataFrame): DataFrame =
    q1.select(concat_ws("\t",
      concat_ws(",", col("city_name"), col("year_month")),
      format_string("%.3f,%.3f",
        col("total_precipitation_hours"), col("mean_temperature"))).as("line"))

  /** Q2 (Job2): the single year-month with the greatest island-wide
    * total precipitation hours. Row-drop policy: NULL precipitation
    * (blank or garbage — both fail `parseDouble`, `Job2.java:38-45`)
    * and malformed dates are dropped. Ties resolve to the earliest
    * month. Plans as TakeOrderedAndProject — partial top-1 per
    * partition — where the reference forced ALL keys through a single
    * reducer (`Job2.java:100`).
    *
    * Determinism caveat (shared with the reference): totals are
    * double sums, so months whose totals are equal in decimal can
    * differ in the last ulp depending on partitioning/accumulation
    * order, flipping the argmax between runs. The tie-break makes
    * the result deterministic only up to float associativity —
    * surfaced by EngineProps' first falsification run.
    */
  def q2MaxPrecipMonth(weather: DataFrame): DataFrame =
    weather
      .select(yearMonthSplit(col("date")).as("year_month"),
        col("precipitation_hours"))
      .where(col("year_month").isNotNull &&
        col("precipitation_hours").isNotNull)
      .groupBy(col("year_month"))
      .agg(sum(col("precipitation_hours")).as("total_precipitation_hours"))
      .orderBy(desc("total_precipitation_hours"), asc("year_month"))
      .limit(1)

  /** Q2 text-parity sink: single line `yyyy-MM,<double>` where the
    * total renders like Java's `Double.toString` (`Job2.java:75-76`)
    * — Spark's double→string cast matches (`388.0`, not `388`).
    */
  def q2Formatted(q2: DataFrame): DataFrame =
    q2.select(concat_ws(",", col("year_month"),
      col("total_precipitation_hours").cast(StringType)).as("line"))

  // -- driver-judged parity queries ------------------------------------

  /** The location dim is the reference's own file when present, else
    * the committed twin (`fixtures/locationData.csv`: 27 rows, ids
    * 0-26, the `Kilinochchi[1]` quirk; FIXTURES.md §A.1 says which
    * rows are verbatim reference lines and which are placeholders).
    * The weather fact is the committed reconstruction
    * (`tools/gen_weather_fixture.py` — the reference's weather file
    * was stripped from its repo). Both are fixed-path fixtures, so the
    * judged fns ignore the sfDir argument: these two queries ARE the
    * reference, and don't scale with the synthetic TPC-H-ish tables.
    */
  val WeatherCsv = graft.sources.Fixtures.path("fixtures/weather.csv")
  val ReferenceLocationCsv = "/root/reference/input/locationData.csv"
  val LocationCsv: String =
    if (Files.exists(Paths.get(ReferenceLocationCsv))) ReferenceLocationCsv
    else graft.sources.Fixtures.path("fixtures/locationData.csv")

  /** Oracle-side equivalent of the engine's line-level CSV handling:
    * whole lines in, trim, drop blanks/headers, split keeping
    * trailing empties — so the DuckDB twin replicates tokenization,
    * not just the relational algebra.
    */
  private def linesCte(alias: String, path: String): String = s"""
    ${alias}_l AS (
      SELECT trim(line) AS line
      FROM read_csv('$path', delim='|', header=false, quote='',
                    columns={'line':'VARCHAR'})),
    $alias AS (
      SELECT str_split(line, ',') AS p FROM ${alias}_l
      WHERE line <> '' AND NOT starts_with(line, 'location_id'))"""

  val queries: Seq[graft.Catalog.Q] = Seq(
    graft.Catalog.Q("w1_city_month",
      (s, _) => q1CityMonthlyAgg(
        readWeather(s, WeatherCsv), readLocation(s, LocationCsv))
        .orderBy(col("city_name"), col("year_month")),
      Some(s"""
        WITH ${linesCte("wt", WeatherCsv)},
        w AS (
          SELECT p[1] AS lid, p[2] AS dt,
                 try_cast(p[6] AS DOUBLE) AS temp,
                 try_cast(p[14] AS DOUBLE) AS precip
          FROM wt WHERE len(p) >= 14),
        ${linesCte("lt", LocationCsv)},
        loc AS (
          SELECT try_cast(p[1] AS INTEGER) AS location_id, p[8] AS city_name
          FROM lt WHERE len(p) = 8)
        SELECT loc.city_name,
               strftime(try_strptime(w.dt, '%-m/%-d/%Y'), '%Y-%m') AS year_month,
               sum(coalesce(w.precip, 0.0)) AS total_precipitation_hours,
               avg(coalesce(w.temp, 0.0)) AS mean_temperature
        FROM w JOIN loc ON try_cast(w.lid AS INTEGER) = loc.location_id
        WHERE w.lid <> '' AND w.dt <> ''
        GROUP BY 1, 2
        ORDER BY 1, 2""")),
    graft.Catalog.Q("w2_max_precip",
      (s, _) => q2MaxPrecipMonth(readWeather(s, WeatherCsv)),
      Some(s"""
        WITH ${linesCte("wt", WeatherCsv)},
        w AS (
          SELECT str_split(p[2], '/') AS dp,
                 try_cast(p[14] AS DOUBLE) AS precip
          FROM wt WHERE len(p) >= 14)
        SELECT dp[3] || '-' || lpad(dp[1], 2, '0') AS year_month,
               sum(precip) AS total_precipitation_hours
        FROM w WHERE precip IS NOT NULL AND len(dp) = 3
        GROUP BY 1
        ORDER BY 2 DESC, 1 ASC
        LIMIT 1"""))
  )
}
