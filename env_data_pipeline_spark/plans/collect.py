"""The /collect pipeline: multi-source wide merge (SURVEY.md §3.1, J3)
+ A10 success summary + S7 JSON sink.

The reference's primary entry point: validate -> fan out to 4 sources
-> gather with per-source failure tolerance -> one wide record per
request. Engine form: validation filter -> per-source summary
DataFrames (each an independent branch Catalyst schedules in parallel,
O1) -> 4-way LEFT OUTER equi-join on request_id -> success-rate
summary columns (orchestrator.py:759-806, 779-786).

Scale: request_id is unique per row on every input, so all joins are
1:1 equi-joins on a uniform key — at 100 TB AQE picks sort-merge and
co-partitions once; the summary branches each reduce their source
table to one row per request BEFORE the join, so the join inputs are
already minimal. No branch is re-scanned twice (each source table is
read exactly once).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from env_data_pipeline_spark.functions import scalar as S
from env_data_pipeline_spark.operators import validation as V
from env_data_pipeline_spark.plans import envpipe as E
from env_data_pipeline_spark.plans import raster as R
from env_data_pipeline_spark.plans.registry import BENCH_EXTRA, query
from env_data_pipeline_spark.sources.fixtures import duck_with, ensure_fixtures

_ALL_FIXTURES = (
    "requests",
    "weather_current",
    "weather_forecast",
    "modis_observations",
    "landfire_grid_meta",
    "landfire_pixels",
    "landfire_attributes",
    "elevation_cells",
)

_ORACLE = f"""
    {duck_with(*_ALL_FIXTURES)},
    valid AS (
      SELECT request_id FROM requests
      WHERE ({V.duck_reject_reason()}) IS NULL
    ),
    wc AS (
      SELECT request_id, temperature_celsius,
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
    ),
    fs AS (
      SELECT request_id,
             CAST(SUM(CASE WHEN risk_score >= 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS high_risk_periods
      FROM ({E._DUCK_FORECAST_RISK}) GROUP BY request_id
    ),
    nd AS ({E._DUCK_NDVI_VALID}),
    ndl AS (
      SELECT b.request_id, ROUND(l.scaled_ndvi, 4) AS ndvi_latest,
             CASE WHEN l.scaled_ndvi IS NULL THEN 'UNKNOWN'
                  WHEN l.scaled_ndvi > 0.6 THEN 'HEALTHY'
                  WHEN l.scaled_ndvi > 0.3 THEN 'MODERATE'
                  WHEN l.scaled_ndvi > 0.1 THEN 'STRESSED'
                  ELSE 'SEVERELY_STRESSED' END AS vegetation_health
      FROM (SELECT DISTINCT request_id FROM nd) b
      LEFT JOIN (
        SELECT request_id, scaled_ndvi,
               ROW_NUMBER() OVER (PARTITION BY request_id ORDER BY calendar_date DESC) AS rn
        FROM nd WHERE scaled_ndvi BETWEEN -1.0 AND 1.0
      ) l ON l.request_id = b.request_id AND l.rn = 1
    ),
    mas AS (
      SELECT request_id, CAST(COUNT(*) AS BIGINT) AS total_observations
      FROM modis_observations GROUP BY request_id
    ),
    target AS ({R._DUCK_ROWCOL}),
    ctr AS (
      SELECT t.request_id, t.product, px.pixel_value
      FROM target t
      JOIN landfire_pixels px
        ON px.grid_id = t.grid_id AND px.row = t.row AND px.col = t.col
      WHERE t.product IN ('vegetation_type', 'fuel_model')
    ),
    cls AS (
      SELECT p.request_id, p.product, {R._DUCK_CLASSIFY} AS interpreted
      FROM ctr p
      {R._DUCK_ATTR_JOINS}
    ),
    lfr AS (
      SELECT request_id,
             CASE WHEN contains(lower(coalesce(max(CASE WHEN product = 'vegetation_type' THEN interpreted END), '')), 'developed')
                    OR contains(lower(coalesce(max(CASE WHEN product = 'vegetation_type' THEN interpreted END), '')), 'urban')
                    OR contains(lower(coalesce(max(CASE WHEN product = 'vegetation_type' THEN interpreted END), '')), 'water')
                  THEN 'LOW'
                  WHEN contains(lower(coalesce(max(CASE WHEN product = 'fuel_model' THEN interpreted END), '')), 'chaparral')
                    OR contains(lower(coalesce(max(CASE WHEN product = 'fuel_model' THEN interpreted END), '')), 'timber')
                    OR contains(lower(coalesce(max(CASE WHEN product = 'fuel_model' THEN interpreted END), '')), 'grass')
                  THEN 'MODERATE_TO_HIGH'
                  ELSE 'MODERATE' END AS fire_risk_landfire
      FROM cls GROUP BY request_id
    ),
    dem AS (
      SELECT request_id,
             ROUND(AVG(elevation), 4) AS mean_elevation_m,
             CASE WHEN MAX(elevation) - MIN(elevation) > 100 THEN 'HIGH'
                  WHEN MAX(elevation) - MIN(elevation) > 50 THEN 'MODERATE'
                  ELSE 'LOW' END AS terrain_roughness
      FROM elevation_cells WHERE elevation != nodata
      GROUP BY request_id
    )
    SELECT v.request_id,
           wc.temperature_celsius, wc.fire_weather_risk,
           fs.high_risk_periods,
           ndl.ndvi_latest, ndl.vegetation_health,
           mas.total_observations,
           lfr.fire_risk_landfire,
           dem.mean_elevation_m, dem.terrain_roughness,
           (CASE WHEN wc.request_id IS NOT NULL THEN 1 ELSE 0 END
          + CASE WHEN mas.request_id IS NOT NULL THEN 1 ELSE 0 END
          + CASE WHEN lfr.request_id IS NOT NULL THEN 1 ELSE 0 END
          + CASE WHEN dem.request_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             AS sources_successful,
           ROUND((CASE WHEN wc.request_id IS NOT NULL THEN 1 ELSE 0 END
                + CASE WHEN mas.request_id IS NOT NULL THEN 1 ELSE 0 END
                + CASE WHEN lfr.request_id IS NOT NULL THEN 1 ELSE 0 END
                + CASE WHEN dem.request_id IS NOT NULL THEN 1 ELSE 0 END)
                 / CAST(4.0 AS DOUBLE), 4) AS success_rate
    FROM valid v
    LEFT JOIN wc  ON wc.request_id  = v.request_id
    LEFT JOIN fs  ON fs.request_id  = v.request_id
    LEFT JOIN ndl ON ndl.request_id = v.request_id
    LEFT JOIN mas ON mas.request_id = v.request_id
    LEFT JOIN lfr ON lfr.request_id = v.request_id
    LEFT JOIN dem ON dem.request_id = v.request_id
"""


def _wide_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full per-request wide record, including the per-source
    quality signals (P12/P14) the reference's ProcessingMetadata and
    errors/warnings carry (shared_schema.py:69-132).

    Per-source quality (P12 + the failure path at e.g.
    weather_container.py:345,430): 1.0 when the source produced clean
    data, 0.8 when it produced degraded data (missing wind fields /
    no valid NDVI / unclassifiable pixel / majority-nodata DEM),
    0.0 when the source produced nothing for the request."""
    requests, current, obs, cells = ensure_fixtures(
        spark,
        sf_dir,
        ("requests", "weather_current", "modis_observations", "elevation_cells"),
    )
    valid = (
        V.validate_requests(requests)
        .filter(F.col("is_valid"))
        .select("request_id", "event_id", "latitude", "longitude", "buffer_meters", "ts")
    )
    from env_data_pipeline_spark.functions import classifiers as C

    # weather branch: one scan carrying the degradation flag (the
    # fixture nulls wind fields together — weather_container.py:153's
    # defaulted-zero path) and the observation epoch for P14 latency
    wc = current.select(
        "request_id",
        "temperature_celsius",
        C.fire_weather_risk(
            F.col("temperature_celsius"), F.col("humidity_percent"), F.col("wind_speed_mps")
        ).alias("fire_weather_risk"),
        F.col("wind_speed_mps").isNull().alias("_wx_wind_missing"),
        F.col("dt").alias("_wx_dt"),
    )
    fs = E.weather_forecast_summary(spark, sf_dir).select(
        "request_id", "high_risk_periods"
    )
    # ndl + mas fused into ONE pass over modis_observations: the A7
    # count and the W1 latest-valid-NDVI selection are conditional
    # aggregates of the same scan (one shuffle instead of two). The
    # oracle keeps separate ndl/mas CTEs, so parity pins the fusion:
    # requests with modis rows but no NDVI rows keep NULL health (not
    # 'UNKNOWN'), matching the missing-ndl-row left join.
    is_nd = (
        (F.col("product") == "MOD13Q1")
        & (F.col("band") == "250m_16_days_NDVI")
        & (F.size("data") > 0)
    )
    scaled = S.ndvi_scaled(S.center_element(F.col("data")))
    fused = obs.groupBy("request_id").agg(
        F.count("*").alias("total_observations"),
        F.max(F.when(is_nd, 1)).alias("_has_nd"),
        F.max_by(
            scaled, F.when(is_nd & scaled.between(-1.0, 1.0), F.col("calendar_date"))
        ).alias("_nd"),
        F.max("calendar_date").alias("_modis_latest_date"),
    )
    ndl_mas = fused.select(
        "request_id",
        "total_observations",
        F.round("_nd", 4).alias("ndvi_latest"),
        F.when(F.col("_has_nd") == 1, C.vegetation_health(F.col("_nd"))).alias(
            "vegetation_health"
        ),
        F.col("_has_nd").isNull().alias("_modis_no_ndvi"),
        "_modis_latest_date",
    )
    unknown_cls = F.col("vegetation_class").isNull() | F.col(
        "vegetation_class"
    ).startswith("Unknown") | F.col("fuel_model_class").isNull() | F.col(
        "fuel_model_class"
    ).startswith("Unknown")
    lfr = R.landfire_combined_risk(spark, sf_dir).select(
        "request_id", "fire_risk_landfire", unknown_cls.alias("_lf_unknown")
    )
    dem = (
        cells.filter(F.col("elevation") != F.col("nodata"))
        .groupBy("request_id")
        .agg(
            F.round(F.avg("elevation"), 4).alias("mean_elevation_m"),
            (F.max("elevation") - F.min("elevation")).alias("rng"),
            F.count("*").alias("_dem_valid_cells"),
        )
        .select(
            "request_id",
            "mean_elevation_m",
            F.when(F.col("rng") > 100, "HIGH")
            .when(F.col("rng") > 50, "MODERATE")
            .otherwise("LOW")
            .alias("terrain_roughness"),
            "_dem_valid_cells",
        )
    )

    # presence markers for A10 before the join drops the distinction
    mark = lambda df, name: df.withColumn(name, F.lit(1))  # noqa: E731
    wide = (
        valid.join(mark(wc, "_w"), "request_id", "left")
        .join(fs, "request_id", "left")
        .join(mark(ndl_mas, "_m"), "request_id", "left")
        .join(mark(lfr, "_l"), "request_id", "left")
        .join(mark(dem, "_t"), "request_id", "left")
    )
    succ = (
        F.coalesce(F.col("_w"), F.lit(0))
        + F.coalesce(F.col("_m"), F.lit(0))
        + F.coalesce(F.col("_l"), F.lit(0))
        + F.coalesce(F.col("_t"), F.lit(0))
    )

    def q(present: str, degraded) -> F.Column:
        return (
            F.when(F.col(present).isNull(), F.lit(0.0))
            .when(degraded, F.lit(0.8))
            .otherwise(F.lit(1.0))
        )

    return wide.withColumns(
        {
            "sources_successful": succ.cast("long"),
            "success_rate": F.round(succ / F.lit(4.0), 4),
            "q_weather": q("_w", F.col("_wx_wind_missing")),
            "q_modis": q("_m", F.col("_modis_no_ndvi")),
            "q_landfire": q("_l", F.col("_lf_unknown")),
            "q_topography": q("_t", F.col("_dem_valid_cells") < 128),
        }
    )


_WIDE_COLUMNS = (
    "request_id",
    "temperature_celsius",
    "fire_weather_risk",
    "high_risk_periods",
    "ndvi_latest",
    "vegetation_health",
    "total_observations",
    "fire_risk_landfire",
    "mean_elevation_m",
    "terrain_roughness",
    "sources_successful",
    "success_rate",
)


def _wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _wide_enriched(spark, sf_dir).select(*_WIDE_COLUMNS)


@query("collect_aggregated", oracle=_ORACLE)
def collect_aggregated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 multi-source wide merge + A10 success summary — the engine's
    batch form of POST /collect (orchestrator.py:695-806)."""
    return _wide(spark, sf_dir)


BENCH_EXTRA.add("collect_aggregated")


def _container_struct(
    source: str,
    data_type: str,
    payload: F.Column,
    errors: F.Column,
    warnings: F.Column,
    quality: F.Column,
    data_currency: F.Column,
) -> F.Column:
    """One ContainerOutput document (shared_schema.py:96-132 to_dict):
    source/data_type/location/timestamp/metadata/errors/warnings plus
    the source's interpreted payload. location is shared response-level
    (LocationInfo, :60-66); per-source location duplicates it, so the
    engine emits it once at the response level and keeps the
    container's own fields here."""
    metadata = F.struct(
        F.when(
            data_currency.isNotNull(),
            F.abs(
                (data_currency.cast("double") - F.col("ts").cast("double")) * 1000
            ).cast("long"),
        ).alias("processing_time_ms"),
        F.date_format(data_currency, "yyyy-MM-dd'T'HH:mm:ss").alias("data_currency"),
        F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss").alias("retrieved_at"),
        quality.alias("quality_score"),
        F.lit(f"{source}-container-spark").alias("container_id"),
        F.lit("1.0.0").alias("container_version"),
    )
    return F.struct(
        F.lit(source).alias("source"),
        F.lit(data_type).alias("data_type"),
        F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss").alias("timestamp"),
        metadata.alias("metadata"),
        payload.alias("interpreted_data"),
        errors.alias("errors"),
        warnings.alias("warnings"),
    )


def _strs(*exprs) -> F.Column:
    """Array of the non-null string expressions (errors/warnings);
    empty-arg form yields a typed empty array<string>."""
    exprs = exprs or (F.lit(None).cast("string"),)
    return F.filter(F.array(*exprs), lambda x: x.isNotNull())


# --- byte-identical JSON oracle for collect_json_sink -----------------
#
# Spark's to_json drops null fields, writes no spaces, keeps struct
# field order, and formats doubles with Java Double.toString (decimal
# form for 1e-3 <= |x| < 1e7, E-notation below/above). The oracle
# rebuilds the document with string concatenation under exactly those
# rules, so the comparison is full-fidelity text equality — the same
# approach landfire_viz_arrays proved out (raster.py).


def _jd(e: str) -> str:
    """DuckDB SQL: format DOUBLE ``e`` as Java's Double.toString.

    Covers the value families this document contains: 0 (Spark's
    round() normalizes -0.0 to 0.0 upstream, verified empirically),
    plain decimals in [1e-3, 1e7) where DuckDB's shortest-round-trip
    VARCHAR cast matches Java, and the round(,4)-quantized sub-milli
    band k*1e-4 (k=1..9) that Java prints as 'k.0E-4' — only
    ndvi_latest can land there."""
    return (
        f"(CASE WHEN {e} = 0 THEN '0.0' "
        f"WHEN abs({e}) >= 0.001 THEN CAST({e} AS VARCHAR) "
        f"ELSE (CASE WHEN {e} < 0 THEN '-' ELSE '' END) || "
        f"CAST(CAST(round(abs({e}) * 10000, 0) AS BIGINT) AS VARCHAR) "
        f"|| '.0E-4' END)"
    )


def _fnum(name: str, e: str) -> str:
    """Nullable DOUBLE field fragment (NULL -> elided)."""
    return f"(CASE WHEN {e} IS NOT NULL THEN '\"{name}\":' || {_jd(e)} END)"


def _fint(name: str, e: str) -> str:
    """Nullable integer field fragment."""
    return f"(CASE WHEN {e} IS NOT NULL THEN '\"{name}\":' || CAST({e} AS VARCHAR) END)"


def _fstr(name: str, e: str) -> str:
    """Nullable string field fragment (values contain no JSON-escaped
    chars: ids, enums, ISO timestamps)."""
    return f"(CASE WHEN {e} IS NOT NULL THEN '\"{name}\":\"' || {e} || '\"' END)"


def _fobj(name: str, *frags: str) -> str:
    """Struct field: always present (Spark structs here are built from
    literals, never null); null MEMBER fragments elide via
    array_to_string skipping NULL elements. coalesce matters: an
    all-NULL list renders NULL (not ''), which would elide the whole
    struct instead of emitting '{}'."""
    body = f"coalesce(array_to_string([{', '.join(frags)}], ','), '')"
    return f"""'"{name}":{{' || {body} || '}}'"""


def _farr(name: str, *elems: str) -> str:
    """Array-of-strings field from conditional elements (empty -> [])."""
    inner = ", ".join(elems) if elems else "NULL"
    return f"""'"{name}":[' || coalesce(array_to_string([{inner}], ','), '') || ']'"""


def _elem(cond: str, msg: str) -> str:
    return f"""(CASE WHEN {cond} THEN '"{msg}"' END)"""


def _fcontainer(
    source: str,
    data_type: str,
    pt: str,
    dc: str,
    quality: str,
    interp: list[str],
    errors: list[str],
    warnings: list[str],
) -> str:
    """One ContainerOutput document mirroring _container_struct's field
    order: source, data_type, timestamp, metadata, interpreted_data,
    errors, warnings."""
    metadata = _fobj(
        "metadata",
        _fint("processing_time_ms", pt),
        _fstr("data_currency", dc),
        _fstr("retrieved_at", "tstr"),
        _fnum("quality_score", quality),
        f"""'"container_id":"{source}-container-spark"'""",
        """'"container_version":"1.0.0"'""",
    )
    return _fobj(
        source,
        f"""'"source":"{source}"'""",
        f"""'"data_type":"{data_type}"'""",
        _fstr("timestamp", "tstr"),
        metadata,
        _fobj("interpreted_data", *interp),
        _farr("errors", *errors),
        _farr("warnings", *warnings),
    )


_JSON_DOC = " || ',' || ".join(
    [
        """'{' || array_to_string([""" + ", ".join(
            [
                _fstr("request_id", "request_id"),
                _fstr("event_id", "event_id"),
                _fobj(
                    "location",
                    _fnum("latitude", "latitude"),
                    _fnum("longitude", "longitude"),
                    _fint("buffer_meters", "buffer_meters"),
                    """'"coordinate_system":"EPSG:4326"'""",
                ),
                _fstr("timestamp", "tstr"),
            ]
        ) + "], ',')",
        _fcontainer(
            "weather",
            "current_conditions_and_forecast",
            "pt_weather",
            "dc_weather",
            "q_weather",
            interp=[
                _fnum("temperature_celsius", "temperature_celsius"),
                _fstr("fire_weather_risk", "fire_weather_risk"),
                _fint("high_risk_periods", "high_risk_periods"),
            ],
            errors=[
                _elem("NOT w_ok", "Failed to retrieve current weather data"),
                _elem(
                    "coalesce(wind_missing, FALSE)",
                    "incomplete observation: wind fields missing",
                ),
            ],
            warnings=[
                _elem("coalesce(wind_missing, FALSE)", "wind_speed_mps defaulted to 0")
            ],
        ),
        _fcontainer(
            "modis",
            "vegetation_indices",
            "pt_modis",
            "dc_modis",
            "q_modis",
            interp=[
                _fnum("ndvi_latest", "ndvi_latest"),
                _fstr("vegetation_health", "vegetation_health"),
                _fint("total_observations", "total_observations"),
            ],
            errors=[
                _elem("NOT m_ok", "Failed to retrieve MODIS data"),
                _elem("modis_no_ndvi", "no valid NDVI observation"),
            ],
            warnings=[_elem("modis_no_ndvi", "vegetation_health unknown")],
        ),
        _fcontainer(
            "landfire",
            "vegetation_and_fuel",
            "NULL",
            "NULL",
            "q_landfire",
            interp=[_fstr("fire_risk_landfire", "fire_risk_landfire")],
            errors=[
                _elem("NOT l_ok", "Failed to retrieve LANDFIRE data"),
                _elem(
                    "coalesce(has_unknown, FALSE)",
                    "unclassified pixel value at coordinate",
                ),
            ],
            warnings=[],
        ),
        _fcontainer(
            "topography",
            "elevation_grid",
            "NULL",
            "NULL",
            "q_topography",
            interp=[
                _fnum("mean_elevation_m", "mean_elevation_m"),
                _fstr("terrain_roughness", "terrain_roughness"),
            ],
            errors=[
                _elem("NOT t_ok", "Failed to retrieve elevation data"),
                _elem("n_valid < 128", "majority nodata in DEM grid"),
            ],
            warnings=[
                _elem("n_valid BETWEEN 128 AND 255", "nodata pixels present in DEM grid")
            ],
        ),
        _fobj(
            "summary",
            _fint("sources_successful", "sources_successful"),
            _fnum("success_rate", "success_rate"),
        )
        + " || '}'",
    ]
)


_JSON_ORACLE = f"""
    {duck_with(*_ALL_FIXTURES)},
    valid AS (
      SELECT request_id, event_id, latitude, longitude, buffer_meters, ts
      FROM requests
      WHERE ({V.duck_reject_reason()}) IS NULL
    ),
    wc AS (
      SELECT request_id, temperature_celsius, dt,
             (wind_speed_mps IS NULL) AS wind_missing,
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
    ),
    fs AS (
      SELECT request_id,
             CAST(SUM(CASE WHEN risk_score >= 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS high_risk_periods
      FROM ({E._DUCK_FORECAST_RISK}) GROUP BY request_id
    ),
    nd AS ({E._DUCK_NDVI_VALID}),
    ndreq AS (SELECT DISTINCT request_id FROM nd),
    ndl AS (
      SELECT b.request_id, ROUND(l.scaled_ndvi, 4) AS ndvi_latest,
             CASE WHEN l.scaled_ndvi IS NULL THEN 'UNKNOWN'
                  WHEN l.scaled_ndvi > 0.6 THEN 'HEALTHY'
                  WHEN l.scaled_ndvi > 0.3 THEN 'MODERATE'
                  WHEN l.scaled_ndvi > 0.1 THEN 'STRESSED'
                  ELSE 'SEVERELY_STRESSED' END AS vegetation_health
      FROM (SELECT DISTINCT request_id FROM nd) b
      LEFT JOIN (
        SELECT request_id, scaled_ndvi,
               ROW_NUMBER() OVER (PARTITION BY request_id ORDER BY calendar_date DESC) AS rn
        FROM nd WHERE scaled_ndvi BETWEEN -1.0 AND 1.0
      ) l ON l.request_id = b.request_id AND l.rn = 1
    ),
    mas AS (
      SELECT request_id, CAST(COUNT(*) AS BIGINT) AS total_observations,
             MAX(calendar_date) AS latest_date
      FROM modis_observations GROUP BY request_id
    ),
    target AS ({R._DUCK_ROWCOL}),
    ctr AS (
      SELECT t.request_id, t.product, px.pixel_value
      FROM target t
      JOIN landfire_pixels px
        ON px.grid_id = t.grid_id AND px.row = t.row AND px.col = t.col
      WHERE t.product IN ('vegetation_type', 'fuel_model')
    ),
    cls AS (
      SELECT p.request_id, p.product, {R._DUCK_CLASSIFY} AS interpreted
      FROM ctr p
      {R._DUCK_ATTR_JOINS}
    ),
    lfr AS (
      SELECT request_id,
             CASE WHEN contains(lower(coalesce(max(CASE WHEN product = 'vegetation_type' THEN interpreted END), '')), 'developed')
                    OR contains(lower(coalesce(max(CASE WHEN product = 'vegetation_type' THEN interpreted END), '')), 'urban')
                    OR contains(lower(coalesce(max(CASE WHEN product = 'vegetation_type' THEN interpreted END), '')), 'water')
                  THEN 'LOW'
                  WHEN contains(lower(coalesce(max(CASE WHEN product = 'fuel_model' THEN interpreted END), '')), 'chaparral')
                    OR contains(lower(coalesce(max(CASE WHEN product = 'fuel_model' THEN interpreted END), '')), 'timber')
                    OR contains(lower(coalesce(max(CASE WHEN product = 'fuel_model' THEN interpreted END), '')), 'grass')
                  THEN 'MODERATE_TO_HIGH'
                  ELSE 'MODERATE' END AS fire_risk_landfire,
             (MAX(CASE WHEN interpreted LIKE 'Unknown%' THEN 1 ELSE 0 END) = 1
              OR COUNT(CASE WHEN product = 'vegetation_type' THEN 1 END) = 0
              OR COUNT(CASE WHEN product = 'fuel_model' THEN 1 END) = 0)
               AS has_unknown
      FROM cls GROUP BY request_id
    ),
    dem AS (
      SELECT request_id,
             ROUND(AVG(elevation), 4) AS mean_elevation_m,
             CASE WHEN MAX(elevation) - MIN(elevation) > 100 THEN 'HIGH'
                  WHEN MAX(elevation) - MIN(elevation) > 50 THEN 'MODERATE'
                  ELSE 'LOW' END AS terrain_roughness,
             COUNT(*) AS n_valid
      FROM elevation_cells WHERE elevation != nodata
      GROUP BY request_id
    ),
    w AS (
      SELECT v.request_id, v.event_id, v.latitude, v.longitude, v.buffer_meters,
             strftime(v.ts, '%Y-%m-%dT%H:%M:%S') AS tstr,
             wc.request_id IS NOT NULL AS w_ok,
             wc.temperature_celsius, wc.fire_weather_risk, wc.wind_missing,
             CASE WHEN wc.dt IS NOT NULL
                  THEN CAST(trunc(abs((wc.dt - epoch(v.ts)) * 1000)) AS BIGINT) END
               AS pt_weather,
             CASE WHEN wc.dt IS NOT NULL
                  THEN strftime(to_timestamp(wc.dt), '%Y-%m-%dT%H:%M:%S') END
               AS dc_weather,
             fs.high_risk_periods,
             mas.request_id IS NOT NULL AS m_ok,
             ndl.ndvi_latest, ndl.vegetation_health, mas.total_observations,
             (mas.request_id IS NOT NULL AND ndreq.request_id IS NULL) AS modis_no_ndvi,
             CASE WHEN mas.latest_date IS NOT NULL
                  THEN CAST(trunc(abs((epoch(CAST(mas.latest_date AS TIMESTAMP))
                                        - epoch(v.ts)) * 1000)) AS BIGINT) END
               AS pt_modis,
             CASE WHEN mas.latest_date IS NOT NULL
                  THEN strftime(CAST(mas.latest_date AS TIMESTAMP), '%Y-%m-%dT%H:%M:%S') END
               AS dc_modis,
             lfr.request_id IS NOT NULL AS l_ok,
             lfr.fire_risk_landfire, lfr.has_unknown,
             dem.request_id IS NOT NULL AS t_ok,
             dem.mean_elevation_m, dem.terrain_roughness, dem.n_valid,
             (CASE WHEN wc.request_id  IS NOT NULL THEN 1 ELSE 0 END
            + CASE WHEN mas.request_id IS NOT NULL THEN 1 ELSE 0 END
            + CASE WHEN lfr.request_id IS NOT NULL THEN 1 ELSE 0 END
            + CASE WHEN dem.request_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               AS sources_successful,
             ROUND((CASE WHEN wc.request_id  IS NOT NULL THEN 1 ELSE 0 END
                  + CASE WHEN mas.request_id IS NOT NULL THEN 1 ELSE 0 END
                  + CASE WHEN lfr.request_id IS NOT NULL THEN 1 ELSE 0 END
                  + CASE WHEN dem.request_id IS NOT NULL THEN 1 ELSE 0 END)
                   / CAST(4.0 AS DOUBLE), 4) AS success_rate,
             CASE WHEN wc.request_id IS NULL THEN 0.0
                  WHEN wc.wind_missing THEN 0.8 ELSE 1.0 END AS q_weather,
             CASE WHEN mas.request_id IS NULL THEN 0.0
                  WHEN ndreq.request_id IS NULL THEN 0.8 ELSE 1.0 END AS q_modis,
             CASE WHEN lfr.request_id IS NULL THEN 0.0
                  WHEN lfr.has_unknown THEN 0.8 ELSE 1.0 END AS q_landfire,
             CASE WHEN dem.request_id IS NULL THEN 0.0
                  WHEN dem.n_valid < 128 THEN 0.8 ELSE 1.0 END AS q_topography
      FROM valid v
      LEFT JOIN wc    ON wc.request_id    = v.request_id
      LEFT JOIN fs    ON fs.request_id    = v.request_id
      LEFT JOIN ndl   ON ndl.request_id   = v.request_id
      LEFT JOIN ndreq ON ndreq.request_id = v.request_id
      LEFT JOIN mas   ON mas.request_id   = v.request_id
      LEFT JOIN lfr   ON lfr.request_id   = v.request_id
      LEFT JOIN dem   ON dem.request_id   = v.request_id
    )
    SELECT request_id, {_JSON_DOC} AS document FROM w
"""


@query("collect_json_sink", oracle=_JSON_ORACLE)
def collect_json_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: the wide record as the full AggregatedResponse JSON document
    (shared_schema.py:96-195 to_dict / orchestrator.py:788-808
    assembly) — request_id/event_id/location/timestamp at the response
    level, one ContainerOutput per source carrying ProcessingMetadata
    (P14 processing_time_ms as data-currency latency, P12
    quality_score) and errors/warnings arrays, and the summary block.
    struct() only at the sink per SURVEY.md §1.4. The oracle rebuilds
    the document TEXT byte-identically (to_json conventions: null
    elision, struct order, Java double formatting — see _JSON_ORACLE),
    so this row is a full rows+schema+hash check.

    Deliberate omission: the reference's future-format arrays
    (pdf_data/excel_data/kml_data/satellite_imagery,
    shared_schema.py:151-158) are not emitted — the reference never
    populates them and its to_dict drops empty lists
    (shared_schema.py:182), so the emitted JSON is identical for all
    data that exists."""
    wide = _wide_enriched(spark, sf_dir)
    location = F.struct(
        F.col("latitude"),
        F.col("longitude"),
        F.col("buffer_meters"),
        F.lit("EPSG:4326").alias("coordinate_system"),
    )
    weather = _container_struct(
        "weather",
        "current_conditions_and_forecast",
        F.struct("temperature_celsius", "fire_weather_risk", "high_risk_periods"),
        _strs(
            F.when(F.col("_w").isNull(), "Failed to retrieve current weather data"),
            F.when(F.col("_wx_wind_missing"), "incomplete observation: wind fields missing"),
        ),
        _strs(F.when(F.col("_wx_wind_missing"), "wind_speed_mps defaulted to 0")),
        F.col("q_weather"),
        S.epoch_to_timestamp(F.col("_wx_dt")),
    )
    modis = _container_struct(
        "modis",
        "vegetation_indices",
        F.struct("ndvi_latest", "vegetation_health", "total_observations"),
        _strs(
            F.when(F.col("_m").isNull(), "Failed to retrieve MODIS data"),
            F.when(F.col("_modis_no_ndvi"), "no valid NDVI observation"),
        ),
        _strs(F.when(F.col("_modis_no_ndvi"), "vegetation_health unknown")),
        F.col("q_modis"),
        F.col("_modis_latest_date").cast("timestamp"),
    )
    landfire = _container_struct(
        "landfire",
        "vegetation_and_fuel",
        F.struct("fire_risk_landfire"),
        _strs(
            F.when(F.col("_l").isNull(), "Failed to retrieve LANDFIRE data"),
            F.when(F.col("_lf_unknown"), "unclassified pixel value at coordinate"),
        ),
        _strs(),
        F.col("q_landfire"),
        F.lit(None).cast("timestamp"),
    )
    topography = _container_struct(
        "topography",
        "elevation_grid",
        F.struct("mean_elevation_m", "terrain_roughness"),
        _strs(
            F.when(F.col("_t").isNull(), "Failed to retrieve elevation data"),
            F.when(F.col("_dem_valid_cells") < 128, "majority nodata in DEM grid"),
        ),
        _strs(
            F.when(
                F.col("_dem_valid_cells").between(128, 255),
                "nodata pixels present in DEM grid",
            )
        ),
        F.col("q_topography"),
        F.lit(None).cast("timestamp"),
    )
    payload = F.struct(
        F.col("request_id"),
        F.col("event_id"),
        location.alias("location"),
        F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss").alias("timestamp"),
        weather.alias("weather"),
        modis.alias("modis"),
        landfire.alias("landfire"),
        topography.alias("topography"),
        F.struct("sources_successful", "success_rate").alias("summary"),
    )
    return wide.select("request_id", F.to_json(payload).alias("document"))


@query(
    "collect_quality_summary",
    oracle=f"""
    {duck_with(*_ALL_FIXTURES)},
    valid AS (
      SELECT request_id FROM requests
      WHERE ({V.duck_reject_reason()}) IS NULL
    ),
    wcq AS (
      SELECT request_id, (wind_speed_mps IS NULL) AS wind_missing
      FROM weather_current
    ),
    nd AS ({E._DUCK_NDVI_VALID}),
    ndreq AS (SELECT DISTINCT request_id FROM nd),
    masq AS (SELECT DISTINCT request_id FROM modis_observations),
    target AS ({R._DUCK_ROWCOL}),
    p AS (
      SELECT t.request_id, t.product, px.pixel_value
      FROM target t
      JOIN landfire_pixels px
        ON px.grid_id = t.grid_id AND px.row = t.row AND px.col = t.col
      WHERE t.product IN ('vegetation_type', 'fuel_model')
    ),
    cls AS (
      SELECT p.request_id, p.product, {R._DUCK_CLASSIFY} AS interpreted
      FROM p
      {R._DUCK_ATTR_JOINS}
    ),
    lfq AS (
      SELECT request_id,
             (MAX(CASE WHEN interpreted LIKE 'Unknown%' THEN 1 ELSE 0 END) = 1
              OR COUNT(CASE WHEN product = 'vegetation_type' THEN 1 END) = 0
              OR COUNT(CASE WHEN product = 'fuel_model' THEN 1 END) = 0)
               AS has_unknown
      FROM cls GROUP BY request_id
    ),
    demq AS (
      SELECT request_id, COUNT(*) AS n_valid
      FROM elevation_cells WHERE elevation != nodata GROUP BY request_id
    ),
    qual AS (
      SELECT v.request_id,
        CASE WHEN wcq.request_id IS NULL THEN 0.0
             WHEN wcq.wind_missing THEN 0.8 ELSE 1.0 END AS weather,
        CASE WHEN masq.request_id IS NULL THEN 0.0
             WHEN ndreq.request_id IS NULL THEN 0.8 ELSE 1.0 END AS modis,
        CASE WHEN lfq.request_id IS NULL THEN 0.0
             WHEN lfq.has_unknown THEN 0.8 ELSE 1.0 END AS landfire,
        CASE WHEN demq.request_id IS NULL THEN 0.0
             WHEN demq.n_valid < 128 THEN 0.8 ELSE 1.0 END AS topography
      FROM valid v
      LEFT JOIN wcq   ON wcq.request_id   = v.request_id
      LEFT JOIN masq  ON masq.request_id  = v.request_id
      LEFT JOIN ndreq ON ndreq.request_id = v.request_id
      LEFT JOIN lfq   ON lfq.request_id   = v.request_id
      LEFT JOIN demq  ON demq.request_id  = v.request_id
    ),
    unp AS (
      SELECT 'weather' AS source, weather AS quality_score FROM qual
      UNION ALL SELECT 'modis', modis FROM qual
      UNION ALL SELECT 'landfire', landfire FROM qual
      UNION ALL SELECT 'topography', topography FROM qual
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_requests,
           CAST(SUM(CASE WHEN quality_score = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
           CAST(SUM(CASE WHEN quality_score = 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_degraded,
           CAST(SUM(CASE WHEN quality_score = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_failed,
           ROUND(AVG(quality_score), 4) AS avg_quality
    FROM unp GROUP BY source
    """,
)
def collect_quality_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12 quality_score aggregated per source across all valid
    requests (reference landfire_container.py:390,
    modis_container.py:228, weather_container.py:345,
    topography_container.py:342 + the 0.0 failure paths) — how many
    requests each source served cleanly / degraded / not at all.

    Scale: the quality columns ride the same 6-way 1:1 left join as
    the wide record; the unpivot is a zero-shuffle Expand and the
    final agg reduces to 4 rows."""
    wide = _wide_enriched(spark, sf_dir)
    long = wide.select(
        "request_id", "q_weather", "q_modis", "q_landfire", "q_topography"
    ).unpivot(
        ["request_id"],
        ["q_weather", "q_modis", "q_landfire", "q_topography"],
        "source",
        "quality_score",
    ).withColumn("source", F.expr("substring(source, 3)"))
    return long.groupBy("source").agg(
        F.count("*").alias("n_requests"),
        F.sum(F.when(F.col("quality_score") == 1.0, 1).otherwise(0)).alias("n_ok"),
        F.sum(F.when(F.col("quality_score") == 0.8, 1).otherwise(0)).alias("n_degraded"),
        F.sum(F.when(F.col("quality_score") == 0.0, 1).otherwise(0)).alias("n_failed"),
        F.round(F.avg("quality_score"), 4).alias("avg_quality"),
    )


# ---------------------------------------------------------------------------
# J5/A13: event-id propagation + coordination check
# ---------------------------------------------------------------------------


@query(
    "collect_event_id_coordination",
    oracle=f"""
    {duck_with("requests", "weather_current", "modis_observations",
               "landfire_grid_meta", "elevation_cells")},
    outputs AS (
      SELECT 'weather' AS source, request_id FROM weather_current
      UNION ALL
      SELECT DISTINCT 'modis' AS source, request_id FROM modis_observations
      UNION ALL
      SELECT DISTINCT 'landfire' AS source, request_id FROM landfire_grid_meta
      UNION ALL
      SELECT DISTINCT 'topography' AS source, request_id FROM elevation_cells
    ),
    tagged AS (
      SELECT o.source, o.request_id, r.event_id
      FROM outputs o JOIN requests r ON r.request_id = o.request_id
    )
    SELECT request_id,
           COUNT(DISTINCT source) AS n_sources,
           COUNT(DISTINCT event_id) AS n_event_ids,
           (COUNT(DISTINCT event_id) <= 1) AS coordinated
    FROM tagged GROUP BY request_id
    """,
)
def collect_event_id_coordination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/A13: event_id is propagated into every per-source output
    (orchestrator.py:814-818) and must be single-valued across them
    (tests/test_pipeline.py:252-264). Engine form: tag each source's
    output rows with the request's event_id (the J5 join), then check
    countDistinct(event_id) per request. The distinct projections
    reduce each source to its request keys BEFORE the union, so the
    shuffle carries one row per (source, request)."""
    requests, wc, obs, meta, cells = ensure_fixtures(
        spark,
        sf_dir,
        ("requests", "weather_current", "modis_observations",
         "landfire_grid_meta", "elevation_cells"),
    )
    outputs = (
        wc.select(F.lit("weather").alias("source"), "request_id")
        .unionByName(
            obs.select(F.lit("modis").alias("source"), "request_id").distinct()
        )
        .unionByName(
            meta.select(F.lit("landfire").alias("source"), "request_id").distinct()
        )
        .unionByName(
            cells.select(F.lit("topography").alias("source"), "request_id").distinct()
        )
    )
    tagged = outputs.join(requests.select("request_id", "event_id"), "request_id")
    return tagged.groupBy("request_id").agg(
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("event_id").alias("n_event_ids"),
        (F.countDistinct("event_id") <= 1).alias("coordinated"),
    )


# ---------------------------------------------------------------------------
# O7: health/status introspection — engine analog of /containers/status
# ---------------------------------------------------------------------------

_HEALTH_TABLES = ("requests", "weather_current", "weather_forecast",
                  "modis_observations", "landfire_pixels", "elevation_cells")


@query(
    "source_health_status",
    oracle=f"""
    {duck_with(*_ALL_FIXTURES)}
    """ + "\nUNION ALL\n".join(
        f"SELECT '{t}' AS source_table, COUNT(*) AS row_count, "
        f"(CASE WHEN COUNT(*) > 0 THEN 'UP' ELSE 'DOWN' END) AS status FROM {t}"
        for t in _HEALTH_TABLES
    ),
)
def source_health_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7: /health & /containers/status (orchestrator.py:1031-1084) —
    batch-engine analog: per source table, row count + UP/DOWN. Each
    count is a metadata-cheap column-less scan; the union is 6 rows.

    Scope: this is deliberately the STATIC analog only. The reference's
    live HTTP probe loop (aiohttp GET per container with a 10 s timeout,
    orchestrator.py:1031-1084) checks service liveness, which has no
    counterpart in a batch/streaming analytics engine — the engine-side
    notion of "a source is up" is "its table exists and has rows",
    which is exactly what this query reports.

    The ``landfire_pixels`` row sums ``n_rows * n_cols`` over the grid
    metadata (0 for no grids): summing the stored arrays' sizes decodes
    every pixel, about 1 s more at sf0.1 on a 4-core host."""
    names = ["landfire_grid_meta" if t == "landfire_pixels" else t for t in _HEALTH_TABLES]
    dfs = []
    for t, df in zip(_HEALTH_TABLES, ensure_fixtures(spark, sf_dir, names)):
        n = F.count("*")
        if t == "landfire_pixels":
            n = F.coalesce(F.sum(F.col("n_rows") * F.col("n_cols")), F.lit(0))
        dfs.append(df.agg(F.lit(t).alias("source_table"), n.alias("row_count"),
                          F.when(n > 0, "UP").otherwise("DOWN").alias("status")))
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out
