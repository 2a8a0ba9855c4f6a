"""Domain queries: the reference's environmental-data semantics as
Spark DataFrame plans over the fixture tables (SURVEY.md §2.2-§2.6,
§3). Each has a DuckDB oracle embedding the same fixture CTEs.

Scale posture: every query here is a scan -> narrow projection ->
(optional window or agg keyed on request_id) -> result. request_id is
high-cardinality and uniform (derived from event_id), so the shuffles
are skew-free; the per-request windows (W1/W2) are tiny groups. At
100 TB the fixture scans become real source tables partitioned by
ingest date — the plans are unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from env_data_pipeline_spark.functions import classifiers as C
from env_data_pipeline_spark.functions import scalar as S
from env_data_pipeline_spark.operators import validation as V
from env_data_pipeline_spark.plans.registry import query
from env_data_pipeline_spark.sources.fixtures import duck_with, ensure_fixtures

# ---------------------------------------------------------------------------
# F1-F6: request validation splitter
# ---------------------------------------------------------------------------


@query(
    "validate_requests",
    oracle=f"""
    {duck_with("requests")}
    SELECT request_id,
           {V.duck_reject_reason()} AS reject_reason,
           ({V.duck_reject_reason()}) IS NULL AS is_valid
    FROM requests
    """,
)
def validate_requests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F5 validation family over the requests fixture (SURVEY.md
    §2.3; reference orchestrator.py:89-212). Pure row-local filter
    logic — no shuffle at any scale."""
    (requests,) = ensure_fixtures(spark, sf_dir, ("requests",))
    return V.validate_requests(requests).select(
        "request_id", "reject_reason", "is_valid"
    )


@query(
    "validation_reject_summary",
    oracle=f"""
    {duck_with("requests")}
    SELECT coalesce({V.duck_reject_reason()}, 'VALID') AS reason,
           COUNT(*) AS n
    FROM requests
    GROUP BY 1 ORDER BY 1
    """,
)
def validation_reject_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reject-reason histogram (the engine-side A10-style summary of
    the validation stage)."""
    (requests,) = ensure_fixtures(spark, sf_dir, ("requests",))
    return (
        V.validate_requests(requests)
        .groupBy(F.coalesce(F.col("reject_reason"), F.lit("VALID")).alias("reason"))
        .agg(F.count("*").alias("n"))
        .orderBy("reason")
    )


# ---------------------------------------------------------------------------
# weather: P1/P3 projection + fire risk (S4 scan -> §2.10 classifier)
# ---------------------------------------------------------------------------


@query(
    "weather_current_conditions",
    oracle=f"""
    {duck_with("weather_current")}
    SELECT request_id,
           strftime(make_timestamp(dt * 1000000), '%Y-%m-%d %H:%M:%S') AS observation_time,
           temperature_celsius,
           humidity_percent,
           coalesce(wind_speed_mps, 0.0) AS wind_speed_mps,
           coalesce(wind_direction_deg, 0) AS wind_direction_deg,
           coalesce(visibility_meters, 0) AS visibility_meters,
           weather_description,
           CASE WHEN risk_score >= 7 THEN 'EXTREME'
                WHEN risk_score >= 5 THEN 'HIGH'
                WHEN risk_score >= 3 THEN 'MODERATE'
                ELSE 'LOW' END AS fire_weather_risk
    FROM (
      SELECT *,
        (CASE WHEN temperature_celsius > 30 THEN 3
              WHEN temperature_celsius > 25 THEN 2
              WHEN temperature_celsius > 20 THEN 1 ELSE 0 END
       + CASE WHEN humidity_percent < 20 THEN 3
              WHEN humidity_percent < 40 THEN 2
              WHEN humidity_percent < 60 THEN 1 ELSE 0 END
       + CASE WHEN coalesce(wind_speed_mps, 0.0) > 15 THEN 3
              WHEN coalesce(wind_speed_mps, 0.0) > 10 THEN 2
              WHEN coalesce(wind_speed_mps, 0.0) > 5 THEN 1 ELSE 0 END) AS risk_score
      FROM weather_current
    )
    """,
)
def weather_current_conditions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 projection/rename + P3 epoch->ISO + fire_weather_risk
    classifier (weather_container.py:146-165, 187-233). Defaulted-zero
    fields via coalesce (P1 note)."""
    (wc,) = ensure_fixtures(spark, sf_dir, ("weather_current",))
    return wc.select(
        "request_id",
        F.date_format(S.epoch_to_timestamp(F.col("dt")), "yyyy-MM-dd HH:mm:ss").alias(
            "observation_time"
        ),
        "temperature_celsius",
        "humidity_percent",
        F.coalesce("wind_speed_mps", F.lit(0.0)).alias("wind_speed_mps"),
        F.coalesce("wind_direction_deg", F.lit(0)).alias("wind_direction_deg"),
        F.coalesce("visibility_meters", F.lit(0)).alias("visibility_meters"),
        "weather_description",
        C.fire_weather_risk(
            F.col("temperature_celsius"), F.col("humidity_percent"), F.col("wind_speed_mps")
        ).alias("fire_weather_risk"),
    )


_DUCK_FORECAST_RISK = """
      SELECT request_id, temperature_celsius,
        coalesce(rain_3h, 0.0) + coalesce(snow_3h, 0.0) AS precipitation_mm,
        (CASE WHEN temperature_celsius > 30 THEN 3
              WHEN temperature_celsius > 25 THEN 2
              WHEN temperature_celsius > 20 THEN 1 ELSE 0 END
       + CASE WHEN humidity_percent < 20 THEN 3
              WHEN humidity_percent < 40 THEN 2
              WHEN humidity_percent < 60 THEN 1 ELSE 0 END
       + CASE WHEN coalesce(wind_speed_mps, 0.0) > 15 THEN 3
              WHEN coalesce(wind_speed_mps, 0.0) > 10 THEN 2
              WHEN coalesce(wind_speed_mps, 0.0) > 5 THEN 1 ELSE 0 END) AS risk_score
      FROM weather_forecast
"""


@query(
    "weather_forecast_summary",
    oracle=f"""
    {duck_with("weather_forecast")}
    SELECT request_id,
           COUNT(*) AS total_points,
           ROUND(MAX(temperature_celsius), 4) AS max_temperature_c,
           ROUND(MIN(temperature_celsius), 4) AS min_temperature_c,
           CAST(SUM(CASE WHEN risk_score >= 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS high_risk_periods,
           ROUND(SUM(precipitation_mm), 4) AS total_precipitation_mm
    FROM ({_DUCK_FORECAST_RISK})
    GROUP BY request_id
    """,
)
def weather_forecast_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 forecast projection + per-period risk + A5/A6/F12 summary
    (weather_container.py:167-185, 357-371). One hash agg keyed on
    request_id — the high-risk filter folds into a conditional sum so
    the forecast table is scanned once."""
    (fc,) = ensure_fixtures(spark, sf_dir, ("weather_forecast",))
    risk = C.fire_weather_score(
        F.col("temperature_celsius"), F.col("humidity_percent"), F.col("wind_speed_mps")
    )
    return (
        fc.select(
            "request_id",
            "temperature_celsius",
            S.precipitation_mm(F.col("rain_3h"), F.col("snow_3h")).alias("precipitation_mm"),
            risk.alias("risk_score"),
        )
        .groupBy("request_id")
        .agg(
            F.count("*").alias("total_points"),
            F.round(F.max("temperature_celsius"), 4).alias("max_temperature_c"),
            F.round(F.min("temperature_celsius"), 4).alias("min_temperature_c"),
            F.sum(F.when(F.col("risk_score") >= 5, 1).otherwise(0)).alias("high_risk_periods"),
            F.round(F.sum("precipitation_mm"), 4).alias("total_precipitation_mm"),
        )
    )


# ---------------------------------------------------------------------------
# MODIS: center pixel (P11) + scaling (P4/P5) + validity (F7/F8) +
# latest/first-valid windows (W1/W2) + health classification
# ---------------------------------------------------------------------------

_DUCK_NDVI_VALID = """
      SELECT request_id, calendar_date,
             data[(len(data) // 2) + 1] * CAST(0.0001 AS DOUBLE) AS scaled_ndvi
      FROM modis_observations
      WHERE product = 'MOD13Q1' AND band = '250m_16_days_NDVI'
        AND len(data) > 0
"""


@query(
    "modis_ndvi_latest",
    oracle=f"""
    {duck_with("modis_observations")},
    nd AS ({_DUCK_NDVI_VALID}),
    latest AS (
      SELECT request_id, scaled_ndvi, calendar_date,
             ROW_NUMBER() OVER (PARTITION BY request_id ORDER BY calendar_date DESC) AS rn
      FROM nd WHERE scaled_ndvi BETWEEN -1.0 AND 1.0
    )
    SELECT b.request_id,
           ROUND(l.scaled_ndvi, 4) AS ndvi_latest,
           CASE WHEN l.scaled_ndvi IS NULL THEN 'UNKNOWN'
                WHEN l.scaled_ndvi > 0.6 THEN 'HEALTHY'
                WHEN l.scaled_ndvi > 0.3 THEN 'MODERATE'
                WHEN l.scaled_ndvi > 0.1 THEN 'STRESSED'
                ELSE 'SEVERELY_STRESSED' END AS vegetation_health,
           CASE WHEN l.scaled_ndvi IS NULL THEN 'UNKNOWN'
                WHEN l.scaled_ndvi > 0.6 THEN 'LOW'
                WHEN l.scaled_ndvi > 0.3 THEN 'MODERATE'
                WHEN l.scaled_ndvi > 0.1 THEN 'HIGH'
                ELSE 'EXTREME' END AS fire_risk_vegetation,
           CAST(l.calendar_date AS STRING) AS last_observation_date
    FROM (SELECT DISTINCT request_id FROM nd) b
    LEFT JOIN (SELECT * FROM latest WHERE rn = 1) l USING (request_id)
    """,
)
def modis_ndvi_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 latest-valid-NDVI + health classification
    (modis_container.py:240-276). 'Latest valid' is pinned with an
    explicit date-desc window over only the F7-valid rows — the
    reference's implicit iteration order made explicit (SURVEY.md
    §7.3.1). Requests whose every observation is invalid keep a row
    with NULL ndvi and UNKNOWN health (modis_container.py:261-262)."""
    (obs,) = ensure_fixtures(spark, sf_dir, ("modis_observations",))
    nd = (
        obs.filter(
            (F.col("product") == "MOD13Q1")
            & (F.col("band") == "250m_16_days_NDVI")
            & (F.size("data") > 0)
        )
        .select(
            "request_id",
            "calendar_date",
            S.ndvi_scaled(S.center_element(F.col("data"))).alias("scaled_ndvi"),
        )
    )
    # One pass: max_by over a validity-gated ordering key (invalid rows
    # contribute a NULL key and are ignored; all-invalid requests keep
    # a NULL struct -> UNKNOWN). Replaces distinct + sort-window with a
    # single partially-aggregated shuffle — dates are unique per
    # (request, band) in this domain so max_by is deterministic (the
    # oracle stays the window formulation, proving equivalence).
    latest = nd.groupBy("request_id").agg(
        F.max_by(
            F.struct("scaled_ndvi", "calendar_date"),
            F.when(F.col("scaled_ndvi").between(-1.0, 1.0), F.col("calendar_date")),
        ).alias("s")
    )
    return latest.select(
        "request_id",
        F.round("s.scaled_ndvi", 4).alias("ndvi_latest"),
        C.vegetation_health(F.col("s.scaled_ndvi")).alias("vegetation_health"),
        C.fire_risk_vegetation(F.col("s.scaled_ndvi")).alias("fire_risk_vegetation"),
        F.col("s.calendar_date").cast("string").alias("last_observation_date"),
    )


@query(
    "modis_lst_first_valid",
    oracle=f"""
    {duck_with("modis_observations")},
    lst AS (
      SELECT request_id, calendar_date,
             data[(len(data) // 2) + 1] * CAST(0.02 AS DOUBLE)
               - CAST(273.15 AS DOUBLE) AS temp_c
      FROM modis_observations
      WHERE product = 'MOD11A2' AND band = 'LST_Day_1km' AND len(data) > 0
    ),
    first_valid AS (
      SELECT request_id, temp_c,
             ROW_NUMBER() OVER (PARTITION BY request_id ORDER BY calendar_date ASC) AS rn
      FROM lst WHERE temp_c BETWEEN -50.0 AND 60.0
    )
    SELECT b.request_id, ROUND(f.temp_c, 4) AS land_surface_temperature_c
    FROM (SELECT DISTINCT request_id FROM lst) b
    LEFT JOIN (SELECT * FROM first_valid WHERE rn = 1) f USING (request_id)
    """,
)
def modis_lst_first_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 first-valid-LST: the reference breaks on the FIRST
    plausibility-passing observation in date order
    (modis_container.py:291-301) — note the asymmetry with W1."""
    (obs,) = ensure_fixtures(spark, sf_dir, ("modis_observations",))
    lst = obs.filter(
        (F.col("product") == "MOD11A2")
        & (F.col("band") == "LST_Day_1km")
        & (F.size("data") > 0)
    ).select(
        "request_id",
        "calendar_date",
        S.lst_celsius(S.center_element(F.col("data"))).alias("temp_c"),
    )
    # single min_by aggregation, mirroring W1's max_by (see
    # modis_ndvi_latest for the rationale)
    first = lst.groupBy("request_id").agg(
        F.min_by(
            F.col("temp_c"),
            F.when(F.col("temp_c").between(-50.0, 60.0), F.col("calendar_date")),
        ).alias("temp_c")
    )
    return first.select(
        "request_id", F.round("temp_c", 4).alias("land_surface_temperature_c")
    )


@query(
    "modis_area_summary",
    oracle=f"""
    {duck_with("modis_observations")}
    SELECT request_id,
           COUNT(*) AS total_observations,
           CASE WHEN COUNT(*) > 10 THEN 'GOOD' ELSE 'LIMITED' END AS data_quality,
           string_agg(DISTINCT product, ',' ORDER BY product) AS products_available
    FROM modis_observations
    GROUP BY request_id
    """,
)
def modis_area_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/A8/A9: observation counts, quality bucket, products list
    (modis_container.py:306-316). products_available is a sorted CSV
    so the hash comparison is order-stable."""
    (obs,) = ensure_fixtures(spark, sf_dir, ("modis_observations",))
    return (
        obs.groupBy("request_id")
        .agg(
            F.count("*").alias("total_observations"),
            F.array_join(F.array_sort(F.collect_set("product")), ",").alias(
                "products_available"
            ),
        )
        .select(
            "request_id",
            "total_observations",
            C.data_quality_bucket(F.col("total_observations")).alias("data_quality"),
            "products_available",
        )
    )


@query(
    "modis_date_codes",
    oracle=f"""
    {duck_with("modis_observations")}
    SELECT DISTINCT calendar_date, modis_date,
           concat('A', cast(year(calendar_date) AS STRING),
                  lpad(cast(dayofyear(calendar_date) AS STRING), 3, '0')) AS recomputed_code
    FROM modis_observations
    ORDER BY calendar_date
    """,
)
def modis_date_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 AYYYYDDD date-code round-trip (modis_container.py:96-98) —
    the recomputed code must equal the stored one."""
    (obs,) = ensure_fixtures(spark, sf_dir, ("modis_observations",))
    return (
        obs.select("calendar_date", "modis_date")
        .distinct()
        .withColumn("recomputed_code", S.modis_date_code(F.col("calendar_date")))
        .orderBy("calendar_date")
    )


@query(
    "modis_request_windows",
    oracle=f"""
    {duck_with("requests")},
    shaped AS (
      SELECT request_id, latitude, longitude, ts,
             coalesce(buffer_meters, 1000) / 111000.0 AS d,
             CAST(greatest(CASE priority WHEN 'emergency' THEN 30
                                         WHEN 'urgent' THEN 60
                                         WHEN 'high' THEN 90
                                         WHEN 'normal' THEN 120
                                         ELSE 180 END, 90) AS INT) AS ext_days
      FROM requests
    )
    SELECT request_id,
           ROUND(d, 6) AS buffer_degrees,
           ROUND(longitude - d, 6) AS bbox_min_lon,
           ROUND(latitude  - d, 6) AS bbox_min_lat,
           ROUND(longitude + d, 6) AS bbox_max_lon,
           ROUND(latitude  + d, 6) AS bbox_max_lat,
           ext_days AS search_period_days,
           ts::DATE - ext_days AS window_start,
           concat('A', cast(year(ts::DATE - ext_days) AS STRING),
                  lpad(cast(dayofyear(ts::DATE - ext_days) AS STRING), 3, '0'))
             AS start_code,
           concat('A', cast(year(ts::DATE) AS STRING),
                  lpad(cast(dayofyear(ts::DATE) AS STRING), 3, '0')) AS end_code
    FROM shaped
    """,
)
def modis_request_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/P8/P10 in one request-shaping pass: buffer meters->degrees
    (landfire_container.py:221), the WCS bbox corners
    (landfire_container.py:259), and the MODIS temporal window —
    priority-derived days_back floored at 90 for the 16-day composites
    (modis_container.py:88-98) — plus the P9 AYYYYDDD codes for both
    window endpoints. Pure column math over one scan of requests;
    every expression folds into the same codegen stage."""
    (r,) = ensure_fixtures(spark, sf_dir, ("requests",))
    buf = F.coalesce(F.col("buffer_meters"), F.lit(1000))
    d = S.buffer_degrees(buf)
    days = (
        F.when(F.col("priority") == "emergency", 30)
        .when(F.col("priority") == "urgent", 60)
        .when(F.col("priority") == "high", 90)
        .when(F.col("priority") == "normal", 120)
        .otherwise(180)
    )
    bbox = S.bbox_struct(F.col("latitude"), F.col("longitude"), buf)
    start = S.modis_window_start(F.col("ts"), days)
    return r.select(
        "request_id",
        F.round(d, 6).alias("buffer_degrees"),
        F.round(bbox.getField("min_lon"), 6).alias("bbox_min_lon"),
        F.round(bbox.getField("min_lat"), 6).alias("bbox_min_lat"),
        F.round(bbox.getField("max_lon"), 6).alias("bbox_max_lon"),
        F.round(bbox.getField("max_lat"), 6).alias("bbox_max_lat"),
        F.greatest(days, F.lit(90)).cast("int").alias("search_period_days"),
        start.alias("window_start"),
        S.modis_date_code(start).alias("start_code"),
        S.modis_date_code(F.col("ts").cast("date")).alias("end_code"),
    )


# ---------------------------------------------------------------------------
# O5: event priority routing
# ---------------------------------------------------------------------------

ALL_SOURCES_CSV = "landfire,modis,weather,topography"


@query(
    "event_priority_routing",
    oracle=f"""
    {duck_with("requests")}
    SELECT request_id, event_type, priority,
           CASE WHEN priority = 'emergency' THEN '{ALL_SOURCES_CSV}'
                WHEN event_type = 'created' THEN '{ALL_SOURCES_CSV}'
                ELSE 'weather' END AS sources_scheduled,
           CASE WHEN priority = 'emergency' THEN 60
                WHEN event_type = 'created' THEN 120
                ELSE 30 END AS estimated_completion_seconds
    FROM requests
    WHERE event_type IN ('created', 'updated', 'location_changed')
      AND priority IN ('low', 'normal', 'high', 'emergency')
    """,
)
def event_priority_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 priority routing (orchestrator.py:923-935): emergency -> all
    sources / 60 s; created -> all / 120 s; else weather-only / 30 s.
    F6 vocab filters applied first (orchestrator.py:214-234)."""
    (requests,) = ensure_fixtures(spark, sf_dir, ("requests",))
    req = requests.filter(
        F.col("event_type").isin("created", "updated", "location_changed")
        & F.col("priority").isin("low", "normal", "high", "emergency")
    )
    all_src = F.lit(ALL_SOURCES_CSV)
    return req.select(
        "request_id",
        "event_type",
        "priority",
        F.when(F.col("priority") == "emergency", all_src)
        .when(F.col("event_type") == "created", all_src)
        .otherwise(F.lit("weather"))
        .alias("sources_scheduled"),
        F.when(F.col("priority") == "emergency", 60)
        .when(F.col("event_type") == "created", 120)
        .otherwise(30)
        .alias("estimated_completion_seconds"),
    )


# ---------------------------------------------------------------------------
# W3: ordered-forecast analysis beyond the F12 filter — longest
# consecutive high-risk streak (gaps-and-islands over the 3-hourly
# sequence, weather_container.py:171-185,371)
# ---------------------------------------------------------------------------


@query(
    "weather_risk_streaks",
    oracle=f"""
    {duck_with("weather_forecast")},
    risk AS (
      SELECT request_id, period_index,
        (CASE WHEN temperature_celsius > 30 THEN 3
              WHEN temperature_celsius > 25 THEN 2
              WHEN temperature_celsius > 20 THEN 1 ELSE 0 END
       + CASE WHEN humidity_percent < 20 THEN 3
              WHEN humidity_percent < 40 THEN 2
              WHEN humidity_percent < 60 THEN 1 ELSE 0 END
       + CASE WHEN coalesce(wind_speed_mps, 0.0) > 15 THEN 3
              WHEN coalesce(wind_speed_mps, 0.0) > 10 THEN 2
              WHEN coalesce(wind_speed_mps, 0.0) > 5 THEN 1 ELSE 0 END) AS risk_score
      FROM weather_forecast
    ),
    high AS (
      SELECT request_id, period_index,
             period_index - ROW_NUMBER() OVER (
               PARTITION BY request_id ORDER BY period_index) AS grp
      FROM risk WHERE risk_score >= 5
    ),
    streaks AS (
      SELECT request_id, grp, COUNT(*) AS streak_len
      FROM high GROUP BY request_id, grp
    )
    SELECT request_id,
           MAX(streak_len) AS max_consecutive_high,
           CAST(SUM(streak_len) AS BIGINT) AS n_high_periods
    FROM streaks GROUP BY request_id
    """,
)
def weather_risk_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: the forecast as an ORDERED sequence — longest consecutive
    run of high-risk (score >= 5) 3-hourly periods per request,
    via the gaps-and-islands pattern (row_number delta groups runs).
    One window + two hash aggs; the window partitions by request_id so
    state per key is the 40-period forecast, constant at any corpus
    size."""
    (fc,) = ensure_fixtures(spark, sf_dir, ("weather_forecast",))
    risk = C.fire_weather_score(
        F.col("temperature_celsius"), F.col("humidity_percent"), F.col("wind_speed_mps")
    )
    w = Window.partitionBy("request_id").orderBy("period_index")
    high = (
        fc.select("request_id", "period_index", risk.alias("risk_score"))
        .filter(F.col("risk_score") >= 5)
        .withColumn("grp", F.col("period_index") - F.row_number().over(w))
    )
    return (
        high.groupBy("request_id", "grp")
        .agg(F.count("*").alias("streak_len"))
        .groupBy("request_id")
        .agg(
            F.max("streak_len").alias("max_consecutive_high"),
            F.sum("streak_len").alias("n_high_periods"),
        )
    )


# ---------------------------------------------------------------------------
# O8: the declared-but-never-implemented 1-hour result cache
# (orchestrator.py:657; redis docker-compose.yml:68-81) — engine form:
# dedupe re-requests onto a cache key (coordinate, hour bucket)
# ---------------------------------------------------------------------------


@query(
    "request_cache_dedup",
    oracle=f"""
    {duck_with("requests")}
    SELECT latitude, longitude,
           date_trunc('hour', ts) AS hour_bucket,
           COUNT(*) AS n_requests,
           MIN(request_id) AS cached_request_id
    FROM requests
    GROUP BY 1, 2, 3
    """,
)
def request_cache_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O8: 'repeated requests within 1 hour return cached results' —
    requests collapse onto the cache key (lat, lon, hour bucket); the
    representative (min request_id) is the entry that would compute,
    n_requests - 1 are cache hits. One hash agg on the cache key —
    the same dropDuplicates shape at any scale."""
    (requests,) = ensure_fixtures(spark, sf_dir, ("requests",))
    return (
        requests.groupBy(
            "latitude",
            "longitude",
            F.date_trunc("hour", F.col("ts")).alias("hour_bucket"),
        )
        .agg(
            F.count("*").alias("n_requests"),
            F.min("request_id").alias("cached_request_id"),
        )
    )


# ---------------------------------------------------------------------------
# A9/A11: products-available + interpreted-products summary
# ---------------------------------------------------------------------------


@query(
    "modis_products_available",
    oracle=f"""
    {duck_with("modis_observations")}
    SELECT request_id,
           array_to_string(list_sort(list(DISTINCT product)), ',')
             AS products_available,
           COUNT(DISTINCT product) AS n_products
    FROM modis_observations
    GROUP BY request_id
    """,
)
def modis_products_available(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: products_available = keys of the per-request product dict
    (modis_container.py:316) — collect_set + sort for determinism,
    serialized comma-joined so the result is hashable downstream."""
    (obs,) = ensure_fixtures(spark, sf_dir, ("modis_observations",))
    return (
        obs.groupBy("request_id")
        .agg(
            F.array_join(F.array_sort(F.collect_set("product")), ",").alias(
                "products_available"
            ),
            F.countDistinct("product").alias("n_products"),
        )
    )


# ---------------------------------------------------------------------------
# P7: Web-Mercator reprojection as pure column math
# ---------------------------------------------------------------------------


@query(
    "requests_web_mercator",
    oracle=f"""
    {duck_with("requests")}
    SELECT request_id, latitude, longitude,
           ROUND(longitude * 20037508.342789244 / 180.0, 4) + 0.0 AS mercator_x,
           ROUND(ln(tan((90.0 + latitude) * pi() / 360.0))
                 * 20037508.342789244 / pi(), 4) + 0.0 AS mercator_y
    FROM requests
    WHERE latitude BETWEEN -85.06 AND 85.06
      AND longitude BETWEEN -180.0 AND 180.0
    """,
)
def requests_web_mercator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: EPSG:4326 -> EPSG:3857 as deterministic column math
    (topography_container.py:78-89 uses pyproj; the engine inlines the
    spherical-Mercator formula — radians/log/tan builtins, no UDF).
    Clamped to the Mercator latitude domain."""
    (requests,) = ensure_fixtures(spark, sf_dir, ("requests",))
    r = requests.filter(
        F.col("latitude").between(-85.06, 85.06)
        & F.col("longitude").between(-180.0, 180.0)
    )
    half_circumference = 20037508.342789244
    pi = 3.141592653589793
    y = F.log(F.tan((F.lit(90.0) + F.col("latitude")) * F.lit(pi) / 360.0))
    return r.select(
        "request_id",
        "latitude",
        "longitude",
        # + 0.0 normalizes IEEE -0.0 (ROUND of a tiny negative) to 0.0 on
        # both engines so value hashes agree at latitude/longitude ~ 0.
        (F.round(F.col("longitude") * half_circumference / 180.0, 4) + F.lit(0.0)).alias(
            "mercator_x"
        ),
        (F.round(y * half_circumference / pi, 4) + F.lit(0.0)).alias("mercator_y"),
    )


@query(
    "weather_forecast_moving_avg",
    oracle=f"""
    {duck_with("weather_forecast")}
    SELECT request_id, period_index,
           ROUND(temperature_celsius, 4) AS temperature_c,
           ROUND(AVG(temperature_celsius) OVER (
             PARTITION BY request_id ORDER BY period_index
             ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING), 4) AS temp_smoothed
    FROM weather_forecast
    """,
)
def weather_forecast_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 smoothing: centered 3-period moving average over the ordered
    forecast — the explicit rowsBetween frame SURVEY §2.6 W3 calls
    for. One sort per request partition; frame state is 3 rows."""
    (fc,) = ensure_fixtures(spark, sf_dir, ("weather_forecast",))
    w = (
        Window.partitionBy("request_id")
        .orderBy("period_index")
        .rowsBetween(-1, 1)
    )
    return fc.select(
        "request_id",
        "period_index",
        F.round("temperature_celsius", 4).alias("temperature_c"),
        F.round(F.avg("temperature_celsius").over(w), 4).alias("temp_smoothed"),
    )


_UNPIVOT_METRICS = (
    "temperature_celsius",
    "humidity_percent",
    "pressure_hpa",
    "wind_speed_mps",
)

@query(
    "weather_metrics_unpivot",
    oracle=f"""
    {duck_with("weather_current")}
    SELECT request_id, metric, ROUND(value, 4) AS value FROM (
      {" UNION ALL ".join(
          f"SELECT request_id, '{m}' AS metric, {m}::DOUBLE AS value FROM weather_current"
          for m in _UNPIVOT_METRICS)}
    )
    """,
)
def weather_metrics_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native unpivot (melt) — the inverse of the pivot surface:
    wide weather measurements to long (request_id, metric, value) form,
    the layout every per-metric operator downstream consumes.

    Scale: `unpivot` compiles to a single-scan Expand (one pass, 4
    output rows per input); the equivalent UNION-ALL formulation the
    oracle uses would scan the table once per metric. Mixed int/double
    measures are cast to double so the value column is one type."""
    (wc,) = ensure_fixtures(spark, sf_dir, ("weather_current",))
    wide = wc.select(
        "request_id",
        *[F.col(m).cast("double").alias(m) for m in _UNPIVOT_METRICS],
    )
    return wide.unpivot(
        "request_id", list(_UNPIVOT_METRICS), "metric", "value"
    ).withColumn("value", F.round("value", 4))


# --------------------------------------------------------------------------
# requests_spatial_neighbor_pairs: grid-bucketed spatial self-join (r9)
# --------------------------------------------------------------------------

_GEO_CELL = 250_000  # cell side in micro-degrees (0.25 deg)
_GEO_R2 = 100_000 * 100_000  # radius 0.1 deg, squared micro-degrees
_GEO_TOPK = 50


@query(
    "requests_spatial_neighbor_pairs",
    oracle=f"""
    {duck_with("requests")},
    pts AS (
      SELECT CAST(floor(latitude * 1000000) AS BIGINT) AS lat_u,
             CAST(floor(longitude * 1000000) AS BIGINT) AS lon_u,
             COUNT(*) AS n
      FROM requests
      WHERE latitude BETWEEN -90 AND 90
        AND longitude BETWEEN -180 AND 180
      GROUP BY 1, 2
    ),
    cells AS (
      SELECT lat_u, lon_u, n,
             (lon_u + 180000000) // {_GEO_CELL} AS cx,
             (lat_u + 90000000) // {_GEO_CELL} AS cy
      FROM pts
    ),
    probe AS (
      SELECT c.lat_u, c.lon_u, c.n,
             c.cx + dx.range AS cx, c.cy + dy.range AS cy
      FROM cells c
      CROSS JOIN range(-1, 2) dx CROSS JOIN range(-1, 2) dy
    ),
    pairs AS (
      SELECT a.lat_u AS lat_a_u, a.lon_u AS lon_a_u,
             b.lat_u AS lat_b_u, b.lon_u AS lon_b_u,
             a.n AS n_a, b.n AS n_b,
             (a.lat_u - b.lat_u) * (a.lat_u - b.lat_u)
             + (a.lon_u - b.lon_u) * (a.lon_u - b.lon_u) AS dist_sq
      FROM probe a JOIN cells b ON a.cx = b.cx AND a.cy = b.cy
      WHERE (a.lat_u < b.lat_u
             OR (a.lat_u = b.lat_u AND a.lon_u < b.lon_u))
    )
    SELECT lat_a_u, lon_a_u, lat_b_u, lon_b_u,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(n_a * n_b AS BIGINT) AS pair_weight,
           CAST(dist_sq AS BIGINT) AS dist_sq
    FROM pairs WHERE dist_sq <= {_GEO_R2}
    ORDER BY dist_sq, lat_a_u, lon_a_u, lat_b_u, lon_b_u
    LIMIT {_GEO_TOPK}
    """,
)
def requests_spatial_neighbor_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Grid-bucketed SPATIAL self-join — the missing spatial sibling
    of the bucketized interval join: request coordinates quantized to
    the 1e-6-degree integer grid, deduplicated to DISTINCT points
    with multiplicity FIRST (the synthetic corpus plants thousands of
    byte-identical coordinates; a naive point-level self-join would
    be quadratic in exactly those hot points), bucketed into 0.25-deg
    cells, probe side exploded over the 3x3 neighborhood, exact
    squared micro-degree distance filter at 0.1 deg. Each surviving
    pair appears exactly once (lexicographic point order beats the
    double probe). Top-50 nearest distinct-coordinate pairs with
    their point multiplicities — the blast-radius report for
    duplicate-submission detection.

    Scale: the self-join is an EQUI-join on the cell key (never a
    theta/cross join); per-cell work is bounded by the cell
    granularity exactly like the 5-minute rapid-repeat buckets; both
    sides are coordinate-vocabulary-sized after the dedup groupBy,
    and all distance math is exact BIGINT (no trig, no doubles in
    the ordering). Cell ids shift coordinates non-negative first so
    integer division is floor division on both engines."""
    (req,) = ensure_fixtures(spark, sf_dir, ("requests",))
    pts = (
        req.filter(
            F.col("latitude").between(-90, 90)
            & F.col("longitude").between(-180, 180)
        )
        .groupBy(
            F.floor(F.col("latitude") * 1000000)
            .cast("bigint")
            .alias("lat_u"),
            F.floor(F.col("longitude") * 1000000)
            .cast("bigint")
            .alias("lon_u"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cells = pts.select(
        "lat_u",
        "lon_u",
        "n",
        F.expr(f"(lon_u + 180000000) div {_GEO_CELL}").alias("cx"),
        F.expr(f"(lat_u + 90000000) div {_GEO_CELL}").alias("cy"),
    )
    offsets = F.expr(
        "explode(flatten(transform(sequence(-1, 1), dx -> "
        "transform(sequence(-1, 1), dy -> struct(dx, dy)))))"
    )
    probe = cells.select(
        F.col("lat_u").alias("lat_a_u"),
        F.col("lon_u").alias("lon_a_u"),
        F.col("n").alias("n_a"),
        "cx",
        "cy",
        offsets.alias("o"),
    ).select(
        "lat_a_u",
        "lon_a_u",
        "n_a",
        (F.col("cx") + F.col("o.dx")).alias("cx"),
        (F.col("cy") + F.col("o.dy")).alias("cy"),
    )
    base = cells.select(
        F.col("lat_u").alias("lat_b_u"),
        F.col("lon_u").alias("lon_b_u"),
        F.col("n").alias("n_b"),
        "cx",
        "cy",
    )
    dist = (F.col("lat_a_u") - F.col("lat_b_u")) * (
        F.col("lat_a_u") - F.col("lat_b_u")
    ) + (F.col("lon_a_u") - F.col("lon_b_u")) * (
        F.col("lon_a_u") - F.col("lon_b_u")
    )
    return (
        probe.hint("merge")
        .join(base, ["cx", "cy"])
        .filter(
            (F.col("lat_a_u") < F.col("lat_b_u"))
            | (
                (F.col("lat_a_u") == F.col("lat_b_u"))
                & (F.col("lon_a_u") < F.col("lon_b_u"))
            )
        )
        .withColumn("dist_sq", dist.cast("bigint"))
        .filter(F.col("dist_sq") <= _GEO_R2)
        .select(
            "lat_a_u",
            "lon_a_u",
            "lat_b_u",
            "lon_b_u",
            F.col("n_a").cast("bigint"),
            F.col("n_b").cast("bigint"),
            (F.col("n_a") * F.col("n_b")).cast("bigint").alias(
                "pair_weight"
            ),
            "dist_sq",
        )
        .orderBy("dist_sq", "lat_a_u", "lon_a_u", "lat_b_u", "lon_b_u")
        .limit(_GEO_TOPK)
    )


# --------------------------------------------------------------------------
# requests_density_hotspots: 3x3 box-kernel smoothed cell density (r10)
# --------------------------------------------------------------------------

_DENS_TOPK = 25


@query(
    "requests_density_hotspots",
    oracle=f"""
    {duck_with("requests")},
    cells AS (
      SELECT (CAST(floor(longitude * 1000000) AS BIGINT) + 180000000)
                 // {_GEO_CELL} AS cx,
             (CAST(floor(latitude * 1000000) AS BIGINT) + 90000000)
                 // {_GEO_CELL} AS cy,
             COUNT(*) AS n
      FROM requests
      WHERE latitude BETWEEN -90 AND 90
        AND longitude BETWEEN -180 AND 180
      GROUP BY 1, 2
    ),
    contrib AS (
      SELECT c.cx + dx.range AS cx, c.cy + dy.range AS cy, c.n
      FROM cells c
      CROSS JOIN range(-1, 2) dx CROSS JOIN range(-1, 2) dy
    ),
    sm AS (SELECT cx, cy, SUM(n) AS smoothed FROM contrib GROUP BY 1, 2)
    SELECT c.cx, c.cy,
           CAST(c.n AS BIGINT) AS n_requests,
           CAST(s.smoothed AS BIGINT) AS smoothed_density
    FROM cells c JOIN sm s USING (cx, cy)
    ORDER BY smoothed_density DESC, cx, cy
    LIMIT {_DENS_TOPK}
    """,
)
def requests_density_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kernel-smoothed request density: per 0.25-degree cell, the
    request count plus a 3x3 box-kernel smoothed density (each cell's
    neighborhood mass), top-25 hotspots — the coverage heat map an
    ingestion planner reads to place regional caches, robust to
    single-cell spikes because the kernel pools neighbors. Reuses the
    neighbor-pairs grid convention (shift-positive, floor cell ids).

    Exactness: counts and sums are exact BIGINTs end to end; the
    hotspot ordering ties break on the integer cell id pair.

    Scale: density lives on the CELL vocabulary (bounded by the
    coordinate domain / cell size, not by traffic); the kernel is a
    9-way explode of the cell frame + one map-side-combined groupBy —
    no join against the raw request stream and no pairwise work. The
    result join (cells x smoothed) is cell-keyed; only cell-grain
    rows ever shuffle."""
    (req,) = ensure_fixtures(spark, sf_dir, ("requests",))
    cells = (
        req.filter(
            F.col("latitude").between(-90, 90)
            & F.col("longitude").between(-180, 180)
        )
        .groupBy(
            F.expr(
                "(CAST(floor(longitude * 1000000) AS BIGINT)"
                f" + 180000000) div {_GEO_CELL}"
            ).alias("cx"),
            F.expr(
                "(CAST(floor(latitude * 1000000) AS BIGINT)"
                f" + 90000000) div {_GEO_CELL}"
            ).alias("cy"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    offsets = F.expr(
        "explode(flatten(transform(sequence(-1, 1), dx -> "
        "transform(sequence(-1, 1), dy -> struct(dx, dy)))))"
    )
    contrib = cells.select("cx", "cy", "n", offsets.alias("o")).select(
        (F.col("cx") + F.col("o.dx")).alias("cx"),
        (F.col("cy") + F.col("o.dy")).alias("cy"),
        "n",
    )
    sm = contrib.groupBy("cx", "cy").agg(F.sum("n").alias("smoothed"))
    return (
        cells.join(sm.hint("shuffle_hash"), ["cx", "cy"])
        .select(
            "cx",
            "cy",
            F.col("n").cast("bigint").alias("n_requests"),
            F.col("smoothed").cast("bigint").alias("smoothed_density"),
        )
        .orderBy(F.desc("smoothed_density"), "cx", "cy")
        .limit(_DENS_TOPK)
    )


# ---------------------------------------------------------------------------
# user trajectory accounting (round 9): haversine leg distances
# ---------------------------------------------------------------------------

# ONE formula string, evaluated by Spark (F.expr) and DuckDB verbatim:
# identical expression tree -> identical IEEE op sequence, so the only
# cross-engine divergence left is libm's sub-ulp rounding, absorbed by
# the whole-meter grid the legs land on before any aggregation.
_HAV_M_SQL = """CAST(floor(
  2.0 * 6371.0088 * asin(sqrt(
      sin(radians(lat - prev_lat) / 2) * sin(radians(lat - prev_lat) / 2)
    + cos(radians(prev_lat)) * cos(radians(lat))
      * sin(radians(lon - prev_lon) / 2) * sin(radians(lon - prev_lon) / 2)
  )) * 1000 + 0.5) AS BIGINT)"""


@query(
    "requests_user_trajectory",
    oracle=f"""
    {duck_with("requests")},
    pts AS (
      SELECT e.user_id,
             CAST(substr(r.request_id, 5) AS BIGINT) AS eid,
             r.ts, r.latitude AS lat, r.longitude AS lon
      FROM requests r
      JOIN events e ON e.event_id = CAST(substr(r.request_id, 5) AS BIGINT)
      WHERE r.latitude BETWEEN -90 AND 90
        AND r.longitude BETWEEN -180 AND 180
        AND NOT (r.latitude = 0 AND r.longitude = 0)
    ),
    legs AS (
      SELECT user_id, lat, lon,
             LAG(lat) OVER w AS prev_lat,
             LAG(lon) OVER w AS prev_lon
      FROM pts
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, eid)
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(COUNT(prev_lat) AS BIGINT) AS n_legs,
           ROUND(SUM(CASE WHEN prev_lat IS NOT NULL
                          THEN {_HAV_M_SQL} END) / 1000.0, 3) AS total_km,
           ROUND(MAX(CASE WHEN prev_lat IS NOT NULL
                          THEN {_HAV_M_SQL} END) / 1000.0, 3) AS max_leg_km
    FROM legs
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def requests_user_trajectory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trajectory accounting over the validated request
    coordinates: order each user's geocoded requests by time, measure
    consecutive-point haversine legs, and report point/leg counts,
    total path length, and the longest single hop — the geo-movement
    profile (fleet telemetry, sensor drift, bot detection) the
    spatial-neighbor query does not cover.

    Exactness: both engines evaluate the SAME haversine expression
    string and land each leg on a whole-meter integer grid before
    SUM/MAX, so aggregation order cannot move the result and libm
    sub-ulp differences die at the floor (+0.5).

    Scale: filter pushes to the scan; ONE user-keyed window (lag) and
    the same-keyed groupBy reuse a single hash partitioning — users
    are uniform high-cardinality keys, no skew, state per user is two
    doubles. 100 TB of pings keyed by device id runs this exact
    plan."""
    from env_data_pipeline_spark.catalog import table as _table

    (requests,) = ensure_fixtures(spark, sf_dir, ("requests",))
    ev = _table(spark, sf_dir, "events").select("event_id", "user_id")
    r = requests.select(
        F.expr("CAST(substr(request_id, 5) AS BIGINT)").alias("eid"),
        "ts",
        F.col("latitude").alias("lat"),
        F.col("longitude").alias("lon"),
    )
    pts = (
        r.filter(
            F.col("lat").between(-90, 90)
            & F.col("lon").between(-180, 180)
            & ~((F.col("lat") == 0) & (F.col("lon") == 0))
        )
        .join(ev, r["eid"] == ev["event_id"])
        .select("user_id", "eid", "ts", "lat", "lon")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "eid")
    legs = pts.select(
        "user_id",
        "lat",
        "lon",
        F.lag("lat").over(w).alias("prev_lat"),
        F.lag("lon").over(w).alias("prev_lon"),
    ).withColumn(
        "leg_m",
        F.when(F.col("prev_lat").isNotNull(), F.expr(_HAV_M_SQL)),
    )
    return (
        legs.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.count("prev_lat").cast("bigint").alias("n_legs"),
            F.round(F.sum("leg_m") / 1000.0, 3).alias("total_km"),
            F.round(F.max("leg_m") / 1000.0, 3).alias("max_leg_km"),
        )
        .orderBy("user_id")
    )
