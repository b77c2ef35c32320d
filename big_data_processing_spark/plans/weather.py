"""Weather-domain parity: the reference's full analytical surface on a
single Spark engine.

The reference (HESHAN0119/big_data_processing) computes 8 named outputs
across four frameworks (Java MapReduce, HiveQL, PySpark, MLlib) over a
weather fact (daily, 27 districts) + location dim. This module
re-expresses every output as one declarative DataFrame plan; Catalyst
supplies what the reference hand-built (broadcast join instead of the
reduce-side tagged join, partial aggregation instead of the combiner,
TakeOrderedAndProject instead of the single-reducer running max).

Reference citations are per-function. Semantic quirks preserved
deliberately (SURVEY §7.3): the Jan-Mar season-year shift, "temperate =
closest to 22°C" (the code's semantics, not its comment), top-3 months
(not top-1 as the docs claim), ISO weekofyear, zero-padded year_month.

Scale: the fact is written partitioned by year (partition pruning);
the 27-row dim always broadcasts; every aggregate is a single shuffle
on its group keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.readers import read_csv_table

# --- schemas (reference src/spark/weather_spark_analysis_new.py:224-258) ---

LOCATION_SCHEMA = T.StructType(
    [
        T.StructField("location_id", T.IntegerType()),
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("elevation", T.IntegerType()),
        T.StructField("utc_offset_seconds", T.IntegerType()),
        T.StructField("timezone", T.StringType()),
        T.StructField("timezone_abbreviation", T.StringType()),
        T.StructField("city_name", T.StringType()),
    ]
)

_WEATHER_MEASURES = [
    "temperature_2m_max",
    "temperature_2m_min",
    "temperature_2m_mean",
    "apparent_temperature_max",
    "apparent_temperature_min",
    "apparent_temperature_mean",
    "daylight_duration",
    "sunshine_duration",
    "precipitation_sum",
    "rain_sum",
    "precipitation_hours",
    "wind_speed_10m_max",
    "wind_gusts_10m_max",
    "wind_direction_10m_dominant",
    "shortwave_radiation_sum",
    "et0_fao_evapotranspiration",
]

WEATHER_SCHEMA = T.StructType(
    [
        T.StructField("location_id", T.IntegerType()),
        T.StructField("date", T.StringType()),  # M/D/YYYY, not zero-padded
        T.StructField("weather_code", T.IntegerType()),
    ]
    + [T.StructField(m, T.DoubleType()) for m in _WEATHER_MEASURES]
    + [T.StructField("sunrise", T.StringType()), T.StructField("sunset", T.StringType())]
)


def round2(col: Column) -> Column:
    """HALF_UP 2-decimal rounding as a pure IEEE expression —
    floor(x*100+0.5)/100 — identical in any engine (reference F7 uses
    ROUND, whose half-case is engine-specific). Positive domain only."""
    return F.floor(col * 100 + F.lit(0.5)) / 100


# CAST AS DOUBLE inside: SQL decimal literals (e.g. 100.0) otherwise
# propagate DECIMAL types through Spark SQL where DuckDB yields DOUBLE
ROUND2_SQL = "(FLOOR(CAST(({x}) AS DOUBLE) * 100 + 0.5) / 100)"


# --- ingest (reference S1 + F1: date stored as M/D/YYYY string) ---


def ingest_weather_csv(spark: SparkSession, path: str) -> DataFrame:
    """CSV → typed fact with a real DateType column."""
    return clean_weather(read_csv_table(spark, path, WEATHER_SCHEMA))


def clean_weather(raw: DataFrame) -> DataFrame:
    """Raw weather rows (WEATHER_SCHEMA) → the typed fact: the one
    cleaning rule the batch ingest and the streaming ingest share.

    Replaces the reference's repeated from_unixtime(unix_timestamp(...))
    idiom (weather_spark_analysis_new.py:282-285) with one to_date at
    ingest; malformed dates (P6: RLIKE '^[0-9]+/[0-9]+/[0-9]+$') and
    unparsable measure rows (P10) are dropped here, once."""
    return (
        raw.filter(F.col("date").rlike(r"^[0-9]+/[0-9]+/[0-9]+$"))
        # try_to_date: ANSI-safe null on unparsable dates — the Spark
        # twin of the reference's silent drop (P10)
        .withColumn("obs_date", F.try_to_date("date", "M/d/yyyy"))
        .filter(F.col("obs_date").isNotNull() & F.col("location_id").isNotNull())
        .withColumn("year", F.year("obs_date"))
        .withColumn("month", F.month("obs_date"))
        .withColumn("week", F.weekofyear("obs_date"))
    )


def ingest_location_csv(spark: SparkSession, path: str) -> DataFrame:
    return read_csv_table(spark, path, LOCATION_SCHEMA).filter(
        F.col("location_id").isNotNull()
    )


def write_fact_partitioned(df: DataFrame, out_path: str) -> None:
    """Serving layout: parquet partitioned by year — the Spark answer to
    the reference's ClickHouse MergeTree ORDER BY keys (partition
    pruning + row-group min/max stats replace the primary index)."""
    (
        df.repartition("year")
        .sortWithinPartitions("location_id", "obs_date")
        .write.mode("overwrite")
        .partitionBy("year")
        .parquet(out_path)
    )


def joined(weather: DataFrame, location: DataFrame) -> DataFrame:
    """fact ⋈ broadcast(dim) — the reference's only join shape (J1/J2:
    the reduce-side tagged join in DistrictMonthlyWeather.java:97-146
    and the Spark join at weather_spark_analysis_new.py:295)."""
    return weather.join(F.broadcast(location), "location_id")


# --- the 8 analytical outputs ---


def district_monthly_weather(weather: DataFrame, location: DataFrame) -> DataFrame:
    """MapReduce job 1 (DistrictMonthlyWeather.java:97-146): per
    (district, year-month): Σ precipitation_hours, avg mean temperature.
    year_month is zero-padded (java String.format("%02d"), :78-82)."""
    return (
        joined(weather, location)
        .groupBy(
            F.col("city_name").alias("district"),
            F.concat_ws(
                "-", F.col("year").cast("string"), F.lpad(F.col("month").cast("string"), 2, "0")
            ).alias("year_month"),
        )
        .agg(
            round2(F.sum("precipitation_hours")).alias("total_precip_hours"),
            round2(F.avg("temperature_2m_mean")).alias("avg_temperature"),
        )
        .orderBy("district", "year_month")
    )


def highest_precipitation(weather: DataFrame) -> DataFrame:
    """MapReduce job 2 (HighestPrecipitationMonth.java:70-115): global
    argmax of Σ precipitation over year-months. The combiner (A2) and
    single-reducer running max (A3) become a partial-aggregated groupBy
    + TakeOrderedAndProject."""
    return (
        weather.groupBy(
            F.concat_ws(
                "-", F.col("year").cast("string"), F.lpad(F.col("month").cast("string"), 2, "0")
            ).alias("year_month")
        )
        .agg(round2(F.sum("precipitation_sum")).alias("total_precipitation"))
        .orderBy(F.desc("total_precipitation"), F.asc("year_month"))
        .limit(1)
    )


def top_temperate_cities(weather: DataFrame, location: DataFrame, k: int = 10) -> DataFrame:
    """Hive q1 (02_query1_top_cities.hql:7-19): cities ranked by
    ABS(avg max temp − 22) ascending — the code's distance-from-22
    semantics, not the comment's 'lowest temperature' (SURVEY F8)."""
    avg_t = F.avg("temperature_2m_max")
    return (
        joined(weather.filter(F.col("temperature_2m_max").isNotNull()), location)
        .groupBy(F.col("city_name").alias("city"))
        .agg(
            round2(avg_t).alias("avg_max_temp"),
            round2(F.abs(avg_t - 22.0)).alias("temp_deviation"),
        )
        .orderBy(F.asc("temp_deviation"), F.asc("city"))
        .limit(k)
    )


def season_expr() -> tuple[Column, Column]:
    """Maha (Sep-Mar) / Yala (Apr-Aug) with the reference's season-year
    shift: Jan-Mar belong to the PREVIOUS year's Maha
    (03_query2_evapotranspiration.hql:15-22 — the live script's
    semantics, which SURVEY §7.3 says wins over the legacy variant)."""
    mon, yr = F.col("month"), F.col("year")
    season = F.when(mon.isin(9, 10, 11, 12, 1, 2, 3), F.lit("Maha")).otherwise(F.lit("Yala"))
    season_year = F.when(mon.isin(1, 2, 3), yr - 1).otherwise(yr)
    return season, season_year


def evapotranspiration_by_season(weather: DataFrame, location: DataFrame) -> DataFrame:
    """Hive q2 (03_query2_evapotranspiration.hql:10-39): seasonal ET
    per district; rows with null ET or malformed dates excluded (P5/P6
    — the date regex is enforced at ingest)."""
    season, season_year = season_expr()
    return (
        joined(weather.filter(F.col("et0_fao_evapotranspiration").isNotNull()), location)
        .groupBy(
            F.col("city_name").alias("district"),
            season_year.cast("int").alias("season_year"),
            season.alias("season"),
        )
        .agg(
            round2(F.avg("et0_fao_evapotranspiration")).alias("avg_et0"),
            round2(F.sum("et0_fao_evapotranspiration")).alias("total_et0"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .orderBy("district", "season_year", "season")
    )


def radiation_analysis(weather: DataFrame, threshold: float = 15.0) -> DataFrame:
    """Spark 2.3a (weather_spark_analysis_new.py:316-338): per
    (year, month): days above threshold, total days, percentage,
    average radiation (A4/A5 sum-when + post-agg percentage)."""
    above = F.sum(
        F.when(F.col("shortwave_radiation_sum") > threshold, 1).otherwise(0)
    )
    return (
        weather.filter(F.col("shortwave_radiation_sum").isNotNull())
        .groupBy(F.col("year").cast("int").alias("year"), F.col("month").cast("int").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("total_days"),
            above.cast("long").alias("days_above_15"),
            round2(above * 100.0 / F.count(F.lit(1))).alias("percentage"),
            round2(F.avg("shortwave_radiation_sum")).alias("avg_radiation"),
        )
        .orderBy("year", "month")
    )


def weekly_max_temp_hottest_months(
    weather: DataFrame, location: DataFrame, top_k: int = 3
) -> DataFrame:
    """Spark 2.3b (weather_spark_analysis_new.py:358-402): top-3
    hottest months per year by avg max temp (top-3 per the LIVE code,
    not the docs' top-1 — SURVEY §7.3), join back, weekly per-city
    rollup. ISO weekofyear preserved exactly (F2)."""
    monthly = (
        weather.filter(F.col("temperature_2m_max").isNotNull())
        .groupBy("year", "month")
        .agg(F.avg("temperature_2m_max").alias("avg_max_temp"))
    )
    w = Window.partitionBy("year").orderBy(F.desc("avg_max_temp"), F.asc("month"))
    hottest = (
        monthly.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("year", "month")
    )
    return (
        joined(weather.filter(F.col("temperature_2m_max").isNotNull()), location)
        .join(F.broadcast(hottest), ["year", "month"])
        .groupBy(
            F.col("year").cast("int").alias("year"),
            F.col("month").cast("int").alias("month"),
            F.col("week").cast("int").alias("week"),
            F.col("city_name").alias("city"),
        )
        .agg(
            round2(F.max("temperature_2m_max")).alias("max_temp"),
            round2(F.avg("temperature_2m_max")).alias("avg_temp"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .orderBy("year", "month", "week", "city")
    )


def ml_feature_statistics(weather: DataFrame, by_month: bool = True) -> DataFrame:
    """MLlib feature stats keyed (month, feature) — the reference's
    ml_feature_statistics table contract (train_et_model.py:97-108:
    month UInt8 + feature_name keys, 12 months x 4 features = 48 rows;
    populated per-month at :168-171). One scan, all features, unpivoted
    (the reference loops one job per column per month). sunshine
    converted seconds→hours exactly as the trainer does (:252-255).

    ``by_month=False`` collapses to the 4-row global summary."""
    feats = {
        "sunshine_hours": F.col("sunshine_duration") / 3600.0,
        "precipitation_sum": F.col("precipitation_sum"),
        "wind_speed_10m_max": F.col("wind_speed_10m_max"),
        "et0_fao_evapotranspiration": F.col("et0_fao_evapotranspiration"),
    }
    aggs = []
    for name, c in feats.items():
        aggs += [
            round2(F.avg(c)).alias(f"{name}__mean"),
            round2(F.stddev_samp(c)).alias(f"{name}__stddev"),
            round2(F.min(c)).alias(f"{name}__min"),
            round2(F.max(c)).alias(f"{name}__max"),
            F.count(c).alias(f"{name}__count"),
        ]
    keys = [F.col("month").cast("int").alias("month")] if by_month else []
    wide = weather.groupBy(*keys).agg(*aggs)  # groupBy() == global agg
    stack = ", ".join(
        f"'{n}', {n}__mean, {n}__stddev, {n}__min, {n}__max, {n}__count" for n in feats
    )
    stacked = wide.selectExpr(
        *(["month"] if by_month else []),
        f"stack({len(feats)}, {stack}) as (feature, mean, stddev, min, max, count)",
    )
    order = (["month", "feature"] if by_month else ["feature"])
    return stacked.orderBy(*order)


# --- serving-query corpus (the dashboard's ~20 SQL queries) ---


def register_serving_views(
    spark: SparkSession, weather: DataFrame, location: DataFrame
) -> None:
    weather.createOrReplaceTempView("weather")
    location.createOrReplaceTempView("locations")


def serving_queries() -> dict[str, str]:
    """Parameterized serving SQL (weather-dashboard/app/queries/*,
    requirement1-4): run via spark.sql after register_serving_views.
    Parameters appear as {param} format slots with defaults in
    SERVING_DEFAULTS."""
    return {
        # requirement1: monthly precipitation by district + severity buckets
        "monthly_precipitation_by_district": """
            SELECT l.city_name AS district, w.year, w.month,
                   {round_total} AS total_precipitation,
                   CASE WHEN SUM(w.precipitation_sum) > {severe} THEN 'Severe'
                        WHEN SUM(w.precipitation_sum) > {moderate} THEN 'Moderate'
                        ELSE 'Normal' END AS severity
            FROM weather w JOIN locations l ON w.location_id = l.location_id
            WHERE w.year BETWEEN {year_from} AND {year_to}
            GROUP BY l.city_name, w.year, w.month
            ORDER BY district, year, month
        """,
        # requirement2: top-5 districts by precipitation hours (CTE join-back)
        "top_districts_precip_hours": """
            WITH top_districts AS (
                SELECT l.city_name AS district,
                       SUM(w.precipitation_hours) AS total_precip_hours,
                       MIN(w.year) AS first_year, MAX(w.year) AS last_year
                FROM weather w JOIN locations l ON w.location_id = l.location_id
                GROUP BY l.city_name
                ORDER BY total_precip_hours DESC, district ASC
                LIMIT {k}
            )
            SELECT t.district, {round_hours} AS total_precip_hours,
                   w.year, w.month,
                   {round_month_hours} AS month_precip_hours
            FROM top_districts t
            JOIN locations l ON l.city_name = t.district
            JOIN weather w ON w.location_id = l.location_id
            GROUP BY t.district, t.total_precip_hours, w.year, w.month
            ORDER BY t.total_precip_hours DESC, t.district, w.year, w.month
        """,
        # requirement3: % of days above 30°C per district/year
        "pct_days_above_30": """
            SELECT l.city_name AS district, w.year,
                   COUNT(*) AS total_days,
                   SUM(CASE WHEN w.temperature_2m_mean > {threshold} THEN 1 ELSE 0 END)
                       AS hot_days,
                   (FLOOR(SUM(CASE WHEN w.temperature_2m_mean > {threshold} THEN 1 ELSE 0 END)
                      * 100.0 / COUNT(*) * 100 + 0.5) / 100) AS pct_hot_days
            FROM weather w JOIN locations l ON w.location_id = l.location_id
            GROUP BY l.city_name, w.year
            ORDER BY district, year
        """,
        # requirement4: extreme weather events (compound predicate + severity)
        "extreme_weather_events": """
            SELECT l.city_name AS district, w.date, w.precipitation_sum,
                   w.wind_gusts_10m_max,
                   CASE WHEN w.precipitation_sum > {p_severe}
                             AND w.wind_gusts_10m_max > {g_severe} THEN 'Severe'
                        WHEN w.precipitation_sum > {p_mod}
                             OR w.wind_gusts_10m_max > {g_mod} THEN 'Moderate'
                        ELSE 'Normal' END AS severity
            FROM weather w LEFT JOIN locations l ON w.location_id = l.location_id
            WHERE w.precipitation_sum > {p_mod} AND w.wind_gusts_10m_max > {g_mod}
            ORDER BY w.precipitation_sum DESC, district, w.date
            LIMIT 1000
        """,
        # the ClickHouse materialized view (init.sql:73-85) as a query
        "monthly_summary_mv": """
            SELECT l.city_name AS district, w.year, w.month,
                   COUNT(*) AS n_obs,
                   {round_avg_temp} AS avg_temp,
                   {round_total} AS total_precipitation
            FROM weather w JOIN locations l ON w.location_id = l.location_id
            GROUP BY l.city_name, w.year, w.month
            ORDER BY district, year, month
        """,
    }


SERVING_DEFAULTS = {
    "year_from": 2010,
    "year_to": 2030,
    "k": 5,
    "threshold": 30,
    "severe": 400,
    "moderate": 200,
    "p_severe": 50,
    "g_severe": 70,
    "p_mod": 30,
    "g_mod": 50,
    "round_total": ROUND2_SQL.format(x="SUM(w.precipitation_sum)"),
    "round_hours": ROUND2_SQL.format(x="t.total_precip_hours"),
    "round_month_hours": ROUND2_SQL.format(x="SUM(w.precipitation_hours)"),
    "round_avg_temp": ROUND2_SQL.format(x="AVG(w.temperature_2m_mean)"),
}


def run_serving_query(spark: SparkSession, name: str, **params) -> DataFrame:
    sql = serving_queries()[name]
    args = {**SERVING_DEFAULTS, **params}
    return spark.sql(sql.format(**args))
