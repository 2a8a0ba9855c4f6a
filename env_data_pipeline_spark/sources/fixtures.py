"""Reference-shaped source tables, derived deterministically from the
driver's generic tables (FIXTURES.md §B; SURVEY.md §1.4).

The driver's DuckDB oracle only registers the 10 generic views, so the
domain tables (weather, MODIS observations, LANDFIRE rasters, DEM
grids, requests) are *derived* — pure integer/double arithmetic over
``events`` — with one SQL text per dialect where Spark and DuckDB
disagree (array literals, date arithmetic, range generators) and a
single shared text everywhere else. A pytest parity check runs every
fixture on both engines and compares multisets, so dialect drift is
caught immediately.

Scale note: fixtures derive from ``events`` so their row counts scale
linearly with SF. Grid-shaped fixtures (pixels, DEM cells) take a
1-in-4 request subset to keep the oracle tier tractable while still
covering every code path; at 100 TB the same derivations are ordinary
projections + generator joins — embarrassingly parallel, no shuffle.

Every derivation cites the reference structure it models (file:line
into /root/reference).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from env_data_pipeline_spark.catalog import register_views, table
from env_data_pipeline_spark.sources.sinks import write_dataset

# ---------------------------------------------------------------------------
# generators (per-dialect): a k-row integer relation t(k)
# ---------------------------------------------------------------------------


def _vals(n: int, col: str = "k") -> str:
    """Inline VALUES relation (0..n-1) — valid in both dialects."""
    body = ",".join(f"({i})" for i in range(n))
    return f"(VALUES {body}) AS t_{col}({col})"


# ---------------------------------------------------------------------------
# requests — models DataRequest + event fields
# (orchestrator.py:320-355, :405-447; FIXTURES.md §B1)
# ~15% of rows deliberately violate one of F1-F6.
# ---------------------------------------------------------------------------

REQUESTS_SQL = """
SELECT
  concat('req_', lpad(cast(e.event_id AS STRING), 12, '0')) AS request_id,
  CASE WHEN e.event_id % 41 = 3  THEN CAST(NULL AS STRING)
       WHEN e.event_id % 41 = 7  THEN concat('evt_select_', cast(e.event_id AS STRING))
       WHEN e.event_id % 41 = 11 THEN 'ab'
       WHEN e.event_id % 41 = 13 THEN concat('evt bad ', cast(e.event_id AS STRING))
       ELSE concat('evt_', cast(e.event_id AS STRING))
  END AS event_id,
  CASE WHEN e.event_id % 37 = 5  THEN 0.0
       WHEN e.event_id % 37 = 9  THEN 52.75
       WHEN e.event_id % 37 = 17 THEN 33.123456789
       WHEN e.event_id % 37 = 21 THEN 44.444445
       WHEN e.event_id % 37 = 29 THEN 91.5
       WHEN e.event_id % 3 = 1   THEN 55.0 + cast(e.event_id % 1650 AS DOUBLE) / 100.0
       WHEN e.event_id % 3 = 2   THEN 19.0 + cast(e.event_id % 900  AS DOUBLE) / 100.0
       ELSE 25.0 + cast(e.event_id % 2400 AS DOUBLE) / 100.0
  END AS latitude,
  CASE WHEN e.event_id % 37 = 5  THEN 0.0
       WHEN e.event_id % 37 = 9  THEN -128.25
       WHEN e.event_id % 37 = 17 THEN -117.123456789
       WHEN e.event_id % 37 = 21 THEN -111.111115
       WHEN e.event_id % 37 = 29 THEN -185.0
       WHEN e.event_id % 3 = 1   THEN CASE WHEN e.event_id % 2 = 0
                                           THEN 170.0  + cast(e.event_id % 95   AS DOUBLE) / 10.0
                                           ELSE -179.9 + cast(e.event_id % 495  AS DOUBLE) / 10.0 END
       WHEN e.event_id % 3 = 2   THEN -178.0 + cast(e.event_id % 2350 AS DOUBLE) / 100.0
       ELSE -125.0 + cast(e.event_id % 5750 AS DOUBLE) / 100.0
  END AS longitude,
  CASE WHEN e.event_id % 23 = 4  THEN 50
       WHEN e.event_id % 23 = 8  THEN 60000
       WHEN e.event_id % 23 = 12 THEN CAST(NULL AS INT)
       ELSE cast(100 + e.event_id % 49900 AS INT)
  END AS buffer_meters,
  CASE WHEN e.event_id % 11 = 0 THEN CAST(NULL AS STRING)
       WHEN e.event_id % 11 = 1 THEN 'weather'
       WHEN e.event_id % 11 = 2 THEN 'landfire,modis'
       WHEN e.event_id % 11 = 3 THEN 'landfire,landfire'
       WHEN e.event_id % 11 = 4 THEN 'weather,satellite'
       WHEN e.event_id % 11 = 5 THEN 'landfire,modis,weather,topography'
       WHEN e.event_id % 11 = 6 THEN 'modis,weather,topography'
       ELSE 'landfire,weather'
  END AS sources_csv,
  CASE WHEN e.event_id % 17 = 15 THEN 'deleted'
       WHEN e.event_id % 17 = 16 THEN CAST(NULL AS STRING)
       WHEN e.event_id % 3 = 0 THEN 'created'
       WHEN e.event_id % 3 = 1 THEN 'updated'
       ELSE 'location_changed'
  END AS event_type,
  CASE WHEN e.event_id % 19 = 18 THEN 'urgent'
       WHEN e.event_id % 4 = 0 THEN 'low'
       WHEN e.event_id % 4 = 1 THEN 'normal'
       WHEN e.event_id % 4 = 2 THEN 'high'
       ELSE 'emergency'
  END AS priority,
  e.ts AS ts
FROM events e
"""

# ---------------------------------------------------------------------------
# weather_current — parsed OpenWeatherMap current conditions, one row
# per request (weather_container.py:146-165; FIXTURES.md §B2).
# Value bands cross every fire-risk threshold (20/25/30 °C, 20/40/60 %,
# 5/10/15 m/s — weather_container.py:199-223).
# ---------------------------------------------------------------------------

WEATHER_CURRENT_SQL = """
SELECT
  concat('req_', lpad(cast(e.event_id AS STRING), 12, '0')) AS request_id,
  cast(1700000000 + e.event_id * 3600 AS BIGINT) AS dt,
  -30.0 + cast(e.event_id % 7500 AS DOUBLE) / 100.0 AS temperature_celsius,
  cast(5 + e.event_id % 96 AS INT) AS humidity_percent,
  cast(950 + e.event_id % 101 AS INT) AS pressure_hpa,
  CASE WHEN e.event_id % 20 = 0 THEN CAST(NULL AS DOUBLE)
       ELSE cast(e.event_id % 250 AS DOUBLE) / 10.0 END AS wind_speed_mps,
  CASE WHEN e.event_id % 20 = 0 THEN CAST(NULL AS INT)
       ELSE cast(e.event_id % 360 AS INT) END AS wind_direction_deg,
  CASE WHEN e.event_id % 5 = 0 THEN 'Clear'
       WHEN e.event_id % 5 = 1 THEN 'Clouds'
       WHEN e.event_id % 5 = 2 THEN 'Rain'
       WHEN e.event_id % 5 = 3 THEN 'Snow'
       ELSE 'Mist' END AS weather_main,
  CASE WHEN e.event_id % 5 = 0 THEN 'clear sky'
       WHEN e.event_id % 5 = 1 THEN 'scattered clouds'
       WHEN e.event_id % 5 = 2 THEN 'light rain'
       WHEN e.event_id % 5 = 3 THEN 'light snow'
       ELSE 'mist' END AS weather_description,
  CASE WHEN e.event_id % 20 = 0 THEN CAST(NULL AS INT)
       ELSE cast(1000 + (e.event_id % 9) * 1000 AS INT) END AS visibility_meters,
  CASE WHEN e.event_id % 10 = 9 THEN ''
       ELSE concat('city_', cast(e.event_id % 50 AS STRING)) END AS city_name
FROM events e
"""

# ---------------------------------------------------------------------------
# weather_forecast — 5-day / 3-hourly list, 40 rows per request
# (weather_container.py:127-144,167-185; FIXTURES.md §B3).
# rain_3h / snow_3h nullable to exercise the defaulted-zero precip sum
# (weather_container.py:181). Requests derive their own risk spread so
# some have HIGH/EXTREME periods and some none (F12/A5 coverage).
# ---------------------------------------------------------------------------

WEATHER_FORECAST_SQL = """
SELECT
  concat('req_', lpad(cast(e.event_id AS STRING), 12, '0')) AS request_id,
  cast(1700000000 + e.event_id * 3600 + t_k.k * 10800 AS BIGINT) AS dt,
  cast(t_k.k AS INT) AS period_index,
  -5.0 + cast((e.event_id * 7 + t_k.k * 11) % 4200 AS DOUBLE) / 100.0 AS temperature_celsius,
  cast(5 + (e.event_id * 3 + t_k.k * 17) % 96 AS INT) AS humidity_percent,
  cast(950 + (e.event_id + t_k.k) % 101 AS INT) AS pressure_hpa,
  CASE WHEN (e.event_id + t_k.k) % 25 = 0 THEN CAST(NULL AS DOUBLE)
       ELSE cast((e.event_id * 13 + t_k.k * 7) % 220 AS DOUBLE) / 10.0 END AS wind_speed_mps,
  cast((e.event_id + t_k.k * 9) % 360 AS INT) AS wind_direction_deg,
  CASE WHEN (e.event_id + t_k.k) % 4 = 0 THEN 'Rain' ELSE 'Clear' END AS weather_main,
  CASE WHEN (e.event_id + t_k.k) % 4 = 0 THEN 'light rain' ELSE 'clear sky' END AS weather_description,
  CASE WHEN (e.event_id + t_k.k) % 4 = 0
       THEN cast((e.event_id + t_k.k * 3) % 80 AS DOUBLE) / 10.0
       ELSE CAST(NULL AS DOUBLE) END AS rain_3h,
  CASE WHEN (e.event_id + t_k.k) % 10 = 1
       THEN cast((e.event_id + t_k.k) % 30 AS DOUBLE) / 10.0
       ELSE CAST(NULL AS DOUBLE) END AS snow_3h
FROM events e CROSS JOIN {K40}
"""

# ---------------------------------------------------------------------------
# modis_observations — long-form ORNL subset entries
# (modis_container.py:124-171 scan, :240-301 consumption; FIXTURES.md §B4).
# One row per (request, product, band, date); pixel list = 9-element
# array with the determining value at center index len//2 = 4
# (modis_container.py:253-255). Covers: latest-dated NDVI invalid but
# earlier valid (W1), multiple valid LST (W2 takes first), all-invalid
# request -> UNKNOWN health (modis_container.py:261-262), absent
# products (error path modis_container.py:115).
# ---------------------------------------------------------------------------

# product/band inline table: (product, band, band_idx)
_MODIS_BANDS = """
(VALUES
  ('MOD13Q1', '250m_16_days_NDVI', 0),
  ('MOD13Q1', '250m_16_days_EVI', 1),
  ('MOD11A2', 'LST_Day_1km', 2),
  ('MOD11A2', 'LST_Night_1km', 3),
  ('MOD15A2H', 'Lai_500m', 4),
  ('MOD17A2H', 'Gpp_500m', 5),
  ('MYD13Q1', '250m_16_days_NDVI', 6),
  ('MYD11A2', 'LST_Day_1km', 7)
) AS pb(product, band, band_idx)
"""

# center value per (event, band_idx, k): NDVI raw, LST raw, or generic
_MODIS_CENTER = """
CASE
  WHEN pb.band = '250m_16_days_NDVI' THEN
    CASE WHEN e.event_id % 23 = 1 THEN 31000
         WHEN (e.event_id + t_k.k) % 5 = 0 THEN 15000
         ELSE cast(-8000 + (e.event_id * 11 + t_k.k * 97) % 16001 AS INT) END
  WHEN pb.band = 'LST_Day_1km' THEN
    CASE WHEN (e.event_id + t_k.k) % 4 = 1 THEN 30000
         ELSE cast(11200 + (e.event_id * 13 + t_k.k * 31) % 5400 AS INT) END
  ELSE cast((e.event_id * 7 + t_k.k * 13 + pb.band_idx * 29) % 10000 AS INT)
END
"""

_MODIS_BODY = """
SELECT
  concat('req_', lpad(cast(v.eid AS STRING), 12, '0')) AS request_id,
  v.product, v.band,
  {CAL_DATE} AS calendar_date,
  concat('A', {DATE_CODE}) AS modis_date,
  {DATA_ARRAY} AS data
FROM (
  SELECT e.event_id AS eid, pb.product, pb.band, t_k.k AS k,
         {CENTER} AS center_v
  FROM events e
  CROSS JOIN {BANDS}
  CROSS JOIN {K7}
  WHERE e.event_id % 4 = 0
    AND NOT (e.event_id % 13 = pb.band_idx)
) v
"""


def _modis_sql(dialect: str) -> str:
    """Render the modis_observations fixture for one dialect."""
    arr9 = "(v.center_v - 8, v.center_v - 6, v.center_v - 4, v.center_v - 2, v.center_v, v.center_v + 1, v.center_v + 3, v.center_v + 5, v.center_v + 7)"
    if dialect == "spark":
        cal = "date_add(DATE '2025-05-01', cast(v.k * 16 AS INT))"
        code = (
            "cast(year(date_add(DATE '2025-05-01', cast(v.k * 16 AS INT))) AS STRING), "
            "lpad(cast(dayofyear(date_add(DATE '2025-05-01', cast(v.k * 16 AS INT))) AS STRING), 3, '0')"
        )
        data = f"array{arr9}"
    else:
        cal = "DATE '2025-05-01' + cast(v.k * 16 AS INT)"
        code = (
            "cast(year(DATE '2025-05-01' + cast(v.k * 16 AS INT)) AS STRING), "
            "lpad(cast(dayofyear(DATE '2025-05-01' + cast(v.k * 16 AS INT)) AS STRING), 3, '0')"
        )
        data = f"list_value{arr9}"
    return (
        _MODIS_BODY.replace("{CAL_DATE}", cal)
        .replace("{DATE_CODE}", code)
        .replace("{DATA_ARRAY}", data)
        .replace("{CENTER}", _MODIS_CENTER)
        .replace("{BANDS}", _MODIS_BANDS)
        .replace("{K7}", _vals(7))
    )


# ---------------------------------------------------------------------------
# landfire_grids + landfire_grid_meta — 16x16 raster grids per
# (request, product), 9 products (landfire_container.py:179-194:
# 6 vegetation/fuel/canopy + slope/aspect/elevation; FIXTURES.md §B5/B6).
# Pixel values drawn from the attribute ranges at
# landfire_container.py:68-84 (vegetation 2000-7999, fuel 90-149,
# canopy 0-100) plus out-of-range unknowns to hit the default branch.
# ---------------------------------------------------------------------------

_LANDFIRE_PRODUCTS = """
(VALUES
  ('vegetation_type', 0), ('fuel_model', 1), ('canopy_cover', 2),
  ('canopy_height', 3), ('canopy_bulk_density', 4), ('canopy_base_height', 5),
  ('slope', 6), ('aspect', 7), ('elevation', 8)
) AS lp(product, p_idx)
"""

# pixel-value formula shared by the grid-form snapshot and the
# long-form oracle derivation — one template, two substitutions, so
# the layouts cannot drift
_LANDFIRE_PIXEL_VALUE = """CASE
    WHEN lp.product = 'vegetation_type' THEN
      CASE WHEN ({R} * 13 + {C} * 29 + e.event_id) % 31 = 0 THEN 9500
           ELSE cast(2000 + ({R} * 13 + {C} * 29 + e.event_id * 5) % 6000 AS INT) END
    WHEN lp.product = 'fuel_model' THEN
      CASE WHEN ({R} * 13 + {C} * 29 + e.event_id) % 31 = 0 THEN 200
           ELSE cast(90 + ({R} * 13 + {C} * 29 + e.event_id * 5) % 60 AS INT) END
    ELSE cast(({R} * 13 + {C} * 29 + e.event_id * 5 + lp.p_idx * 7) % 101 AS INT)
  END"""

_PIX_LONG = _LANDFIRE_PIXEL_VALUE.replace("{R}", "t_r.r").replace("{C}", "t_c.c")

_LANDFIRE_PIXELS_BODY = (
    """
SELECT
  concat('grid_', cast(e.event_id AS STRING), '_', lp.product) AS grid_id,
  concat('req_', lpad(cast(e.event_id AS STRING), 12, '0')) AS request_id,
  lp.product,
  cast(t_r.r AS INT) AS row,
  cast(t_c.c AS INT) AS col,
  """
    + _PIX_LONG
    + """ AS pixel_value,
  -9999 AS nodata
FROM events e
CROSS JOIN {PRODUCTS}
CROSS JOIN {R16}
CROSS JOIN {C16}
WHERE e.event_id % 4 = 0
"""
)

# grid-form layout: SAME pixels, one row per grid, 16x16 nested array.
# The one layout the engine reads (SURVEY.md §1.4 R2): a point lookup
# probes one row per grid instead of 256, and area aggregation (R3/A12)
# explodes the rows it keeps after product pruning. The long form above
# is DuckDB-only: the oracles' independent derivation of the pixels.
# Generated as a pure nested-HOF expression — no explode, no groupBy.
_LANDFIRE_GRIDS_SELECT = """
SELECT
  concat('grid_', cast(e.event_id AS STRING), '_', lp.product) AS grid_id,
  concat('req_', lpad(cast(e.event_id AS STRING), 12, '0')) AS request_id,
  lp.product,
  {ARRAYS} AS arrays,
  -9999 AS nodata
FROM events e
CROSS JOIN {PRODUCTS}
WHERE e.event_id % 4 = 0
"""


def _landfire_grids_sql(dialect: str) -> str:
    pix = _LANDFIRE_PIXEL_VALUE.replace("{R}", "r").replace("{C}", "c")
    if dialect == "spark":
        arrays = f"transform(sequence(0, 15), r -> transform(sequence(0, 15), c -> {pix}))"
    else:
        arrays = f"list_transform(range(0, 16), r -> list_transform(range(0, 16), c -> {pix}))"
    return _LANDFIRE_GRIDS_SELECT.replace("{ARRAYS}", arrays).replace(
        "{PRODUCTS}", _LANDFIRE_PRODUCTS
    )

# grid geometry: 16x16, 0.001-degree pixels, north-up rasterio-style
# transform (x0 = west edge, y0 = north edge; landfire_container.py:91),
# anchored so the request coordinate (req_lat/req_lon — the center of
# the P8 bbox, landfire_container.py:259) lands at a grid-dependent
# interior (row, col): col = event_id % 16, row = (event_id * 3) % 16.
LANDFIRE_GRID_META_SQL = """
SELECT
  concat('grid_', cast(e.event_id AS STRING), '_', lp.product) AS grid_id,
  concat('req_', lpad(cast(e.event_id AS STRING), 12, '0')) AS request_id,
  lp.product,
  38.0 + cast(e.event_id % 80 AS DOUBLE) / 100.0 AS req_lat,
  -120.0 - cast(e.event_id % 100 AS DOUBLE) / 100.0 AS req_lon,
  -120.0 - cast(e.event_id % 100 AS DOUBLE) / 100.0
    - (0.0005 + cast(e.event_id % 16 AS DOUBLE) * 0.001) AS x0,
  38.0 + cast(e.event_id % 80 AS DOUBLE) / 100.0
    + (0.0005 + cast((e.event_id * 3) % 16 AS DOUBLE) * 0.001) AS y0,
  0.001 AS px_w,
  0.001 AS px_h,
  16 AS n_rows,
  16 AS n_cols,
  'EPSG:4326' AS crs
FROM events e
CROSS JOIN {PRODUCTS}
WHERE e.event_id % 4 = 0
"""

# ---------------------------------------------------------------------------
# landfire_attributes — classification dimension (FIXTURES.md §B7):
# range fallback rows (landfire_container.py:68-84, J1) + a generated
# ~1000-class exact EVT table modeling the S3 CSV (README.md:124-127,
# J2). Exact match takes precedence over range match
# (landfire_container.py:122-130).
# ---------------------------------------------------------------------------

_LANDFIRE_ATTR_RANGES = """
(VALUES
  ('vegetation_type', 7000, 8000, 'Urban/Developed'),
  ('vegetation_type', 6000, 7000, 'Agriculture/Cropland'),
  ('vegetation_type', 3000, 4000, 'Forest'),
  ('vegetation_type', 2000, 3000, 'Grassland'),
  ('vegetation_type', 4000, 5000, 'Shrubland'),
  ('fuel_model', 90, 100, 'Non-burnable'),
  ('fuel_model', 100, 110, 'Grass'),
  ('fuel_model', 110, 130, 'Timber'),
  ('fuel_model', 140, 150, 'Shrub')
) AS ar(product, lo, hi, class_name)
"""

_LANDFIRE_ATTRIBUTES_BODY = """
SELECT product, lo, hi, CAST(NULL AS INT) AS exact_value, class_name,
       true AS is_fallback
FROM {RANGES}
UNION ALL
SELECT 'vegetation_type' AS product, CAST(NULL AS INT) AS lo,
       CAST(NULL AS INT) AS hi,
       cast(3000 + t_k.k AS INT) AS exact_value,
       concat('EVT Class ', cast(3000 + t_k.k AS STRING)) AS class_name,
       false AS is_fallback
FROM {K1000}
"""

# ---------------------------------------------------------------------------
# elevation_cells — DEM grids (topography_container.py:111-142 fetch,
# :233-296 analysis; FIXTURES.md §B8). Amplitude varies per grid so the
# terrain classes HIGH (>100 m range), MODERATE (>50) and LOW all occur
# (topography_container.py:265-274); some cells nodata; grid % 19 = 7
# entirely nodata (analysis aborts, :253-254).
# ---------------------------------------------------------------------------

_ELEVATION_CELLS_BODY = """
SELECT
  concat('dem_', cast(e.event_id AS STRING)) AS grid_id,
  concat('req_', lpad(cast(e.event_id AS STRING), 12, '0')) AS request_id,
  cast(t_r.r AS INT) AS row,
  cast(t_c.c AS INT) AS col,
  CASE WHEN e.event_id % 19 = 7 THEN -9999.0
       WHEN (t_r.r * 16 + t_c.c + e.event_id) % 41 = 0 THEN -9999.0
       ELSE 50.0 * cast(e.event_id % 7 AS DOUBLE)
            + cast((t_r.r * 31 + t_c.c * 17 + e.event_id * 7) % 229 AS DOUBLE)
              * (CASE WHEN e.event_id % 3 = 0 THEN 0.6
                      WHEN e.event_id % 3 = 1 THEN 0.3
                      ELSE 0.15 END)
  END AS elevation,
  -9999.0 AS nodata
FROM events e
CROSS JOIN {R16}
CROSS JOIN {C16}
WHERE e.event_id % 4 = 0
"""


def _grid_sql(body: str) -> str:
    return (
        body.replace("{PRODUCTS}", _LANDFIRE_PRODUCTS)
        .replace("{R16}", _vals(16, "r"))
        .replace("{C16}", _vals(16, "c"))
    )


# ---------------------------------------------------------------------------
# assembled fixture dictionary: name -> {"spark": sql, "duck": sql};
# an oracle-only fixture has no "spark" text
# ---------------------------------------------------------------------------


def _both(sql: str) -> dict[str, str]:
    return {"spark": sql, "duck": sql}


FIXTURES: dict[str, dict[str, str]] = {
    "requests": _both(REQUESTS_SQL),
    "weather_current": _both(WEATHER_CURRENT_SQL),
    "weather_forecast": _both(WEATHER_FORECAST_SQL.replace("{K40}", _vals(40))),
    "modis_observations": {
        "spark": _modis_sql("spark"),
        "duck": _modis_sql("duck"),
    },
    "landfire_pixels": {"duck": _grid_sql(_LANDFIRE_PIXELS_BODY)},
    "landfire_grids": {
        "spark": _landfire_grids_sql("spark"),
        "duck": _landfire_grids_sql("duck"),
    },
    "landfire_grid_meta": _both(
        LANDFIRE_GRID_META_SQL.replace("{PRODUCTS}", _LANDFIRE_PRODUCTS)
    ),
    "landfire_attributes": _both(
        _LANDFIRE_ATTRIBUTES_BODY.replace("{RANGES}", _LANDFIRE_ATTR_RANGES).replace(
            "{K1000}", _vals(1000)
        )
    ),
    "elevation_cells": _both(_grid_sql(_ELEVATION_CELLS_BODY)),
    # BPE-approximation merges table: all single characters of the
    # corpus vocabulary plus the top frequent 2/3/4-grams inside
    # words (occurrence-weighted, ties by string) — the deterministic
    # public-vocab stand-in a token-denominated corpus accounting
    # needs. Greedy longest-match over these pieces approximates a
    # real BPE segmentation; extensions/bpe.py owns the walk.
    "bpe_vocab": {
        "spark": """
            WITH words AS (
              SELECT word, COUNT(*) AS wc FROM (
                SELECT explode(split(text, ' ')) AS word FROM documents
              ) WHERE length(word) > 0 GROUP BY word
            ),
            grams AS (
              SELECT substr(word, p + 1, l) AS piece, l AS plen,
                     SUM(wc) AS freq
              FROM words
              LATERAL VIEW explode(array(2, 3, 4)) t1 AS l
              LATERAL VIEW explode(sequence(0, 15)) t2 AS p
              WHERE p + l <= length(word)
              GROUP BY 1, 2
            ),
            ranked AS (
              SELECT piece, plen,
                     ROW_NUMBER() OVER (PARTITION BY plen
                                        ORDER BY freq DESC, piece) AS rn
              FROM grams
            ),
            merges AS (
              SELECT piece FROM ranked
              WHERE (plen = 2 AND rn <= 24) OR (plen = 3 AND rn <= 16)
                 OR (plen = 4 AND rn <= 8)
            ),
            chars AS (
              SELECT DISTINCT substr(word, p + 1, 1) AS piece
              FROM words LATERAL VIEW explode(sequence(0, 15)) t AS p
              WHERE p < length(word)
            )
            SELECT piece, length(piece) AS piece_len
            FROM (SELECT piece FROM merges UNION SELECT piece FROM chars)
        """,
        "duck": """
            WITH words AS (
              SELECT u.x AS word, COUNT(*) AS wc
              FROM documents, unnest(string_split(text, ' ')) AS u(x)
              WHERE length(u.x) > 0 GROUP BY 1
            ),
            grams AS (
              SELECT substr(word, CAST(p.range AS INT) + 1,
                            CAST(l.range AS INT)) AS piece,
                     CAST(l.range AS INT) AS plen, SUM(wc) AS freq
              FROM words
              CROSS JOIN range(2, 5) l
              CROSS JOIN range(16) p
              WHERE p.range + l.range <= length(word)
              GROUP BY 1, 2
            ),
            ranked AS (
              SELECT piece, plen,
                     ROW_NUMBER() OVER (PARTITION BY plen
                                        ORDER BY freq DESC, piece) AS rn
              FROM grams
            ),
            merges AS (
              SELECT piece FROM ranked
              WHERE (plen = 2 AND rn <= 24) OR (plen = 3 AND rn <= 16)
                 OR (plen = 4 AND rn <= 8)
            ),
            chars AS (
              SELECT DISTINCT substr(word, CAST(p.range AS INT) + 1, 1)
                       AS piece
              FROM words CROSS JOIN range(16) p
              WHERE p.range < length(word)
            )
            SELECT piece, length(piece) AS piece_len
            FROM (SELECT piece FROM merges UNION SELECT piece FROM chars)
        """,
    },
    # hive-partitioned fact layout: lineitem laid out by ship month
    # (~80 directories) so joins against a filtered month dim get
    # DYNAMIC partition pruning — the runtime analog of the static
    # product-directory pruning the landfire fixtures pin. Slim
    # column set: the measures revenue/volume queries touch.
    "lineitem_by_month": {
        "spark": (
            "SELECT l_orderkey, l_partkey, l_suppkey, l_quantity, "
            "l_extendedprice, l_discount, l_returnflag, "
            "date_format(l_shipdate, 'yyyy-MM') AS ship_month "
            "FROM lineitem"
        ),
        "duck": (
            "SELECT l_orderkey, l_partkey, l_suppkey, l_quantity, "
            "l_extendedprice, l_discount, l_returnflag, "
            "strftime(l_shipdate, '%Y-%m') AS ship_month "
            "FROM lineitem"
        ),
    },
}


# The snapshot store. Every derived dataset the engine reads back is
# written once to Parquet and then served as a plain columnar scan with
# stats/pushdown: the fixture derivations (ingestion, SURVEY.md §2.1:
# network fetch -> snapshot table) and the trained index/model artifacts
# (IVF centroids / inverted lists / PQ codebooks in plans/vectorops.py,
# quality-classifier weights in plans/qualityclf.py). One key, one
# atomic publish, one reader:
#
# - key: md5 of the base tables' size+mtime signature, the snapshot
#   name and the caller's key text (a fixture's layout tag + SQL, an
#   artifact's training-parameter string), so regenerated source data,
#   an edited derivation or a changed hyperparameter maps to a new slot
#   and a stale snapshot can never serve;
# - publish: build into ``<path>.tmp-<pid>``, store the written files'
#   schema as ``_schema.json`` inside it (Spark's file listing skips
#   ``_``-prefixed names), then one ``os.rename``; a lost race discards
#   its own equivalent copy;
# - read: with the stored schema, so opening a snapshot runs no
#   footer-inference Spark job.
_CACHE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".fixtures",
)
_SCHEMA_FILE = "_schema.json"


# fixture layout tag, part of a fixture's key text: snapshots written
# under another layout (or without ``_schema.json``) are rebuilt. The
# core count is not in the key, since a snapshot's contents do not
# depend on how many files hold them.
_SNAPSHOT_LAYOUT = "range-event_id-schema"
# stale other-keyed snapshots younger than this survive cleanup — a
# concurrent session from another checkout may still be reading them
_STALE_SNAPSHOT_SECONDS = 6 * 3600

# hive-style partition columns per fixture: queries that filter on the
# partition column (e.g. 2 of 9 LANDFIRE products) prune whole
# directories instead of scanning and discarding
_SNAPSHOT_PARTITION: dict[str, tuple[str, ...]] = {
    "landfire_grids": ("product",),
    "lineitem_by_month": ("ship_month",),
}


def _source_signature(sf_dir: str) -> str:
    """Size+mtime fingerprint of every base-table parquet in sf_dir.

    The driver regenerates /root/testdata between rounds AT THE SAME
    PATH; a cache key that ignored the source would keep serving
    snapshots derived from the previous vintage — silently wrong
    against oracles computed on the fresh files. (The round-2 ts-type
    change was the loud variant of this failure; a value-only refresh
    would be the quiet one.)"""
    sig = []
    for name in sorted(os.listdir(sf_dir)) if os.path.isdir(sf_dir) else ():
        if name.endswith(".parquet"):
            st = os.stat(os.path.join(sf_dir, name))
            sig.append(f"{name}:{st.st_size}:{st.st_mtime_ns}")
    return ";".join(sig)


def _fixture_key(name: str) -> str:
    part = ",".join(_SNAPSHOT_PARTITION.get(name, ()))
    return f"{_SNAPSHOT_LAYOUT}|{part}|{FIXTURES[name]['spark']}"


def _snapshot_path(sf_dir: str, name: str, key: str | None = None) -> str:
    """Where snapshot ``name`` keyed on ``key`` lives (default: the
    fixture's own key text)."""
    if key is None:
        key = _fixture_key(name)
    digest = hashlib.md5(
        f"{_source_signature(sf_dir)}|{name}|{key}".encode()
    ).hexdigest()[:10]
    # tag includes a hash of the ABSOLUTE sf_dir: two checkouts whose
    # sf_dirs share a basename must not share (and stale-clean) one
    # snapshot directory
    abs_tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:6]
    sf_tag = (os.path.basename(sf_dir.rstrip("/")) or "sf") + "-" + abs_tag
    return os.path.join(_CACHE_ROOT, sf_tag, f"{name}-{digest}.parquet")


def _reap_stale(path: str, name: str) -> None:
    """Drop other-keyed snapshots of ``name`` beside ``path``, and any
    snapshot of an oracle-only fixture (no Spark text, so no reader).
    Runs only AFTER ``path`` is live, so a failed build never deletes
    the previous vintage first. AGE-GATED: a concurrently running
    session from another checkout (same sf_dir, different key or an
    older engine) may still read a fresh snapshot; only snapshots older
    than the horizon go."""
    root = os.path.dirname(path)
    horizon = time.time() - _STALE_SNAPSHOT_SECONDS
    unread = {n for n, texts in FIXTURES.items() if "spark" not in texts}
    for old in os.listdir(root):
        old_path = os.path.join(root, old)
        old_name = old.rsplit("-", 1)[0]
        if (
            old_path == path
            or not old.endswith(".parquet")
            or (old_name != name and old_name not in unread)
        ):
            continue
        try:
            if os.stat(old_path).st_mtime > horizon:
                continue
        except OSError:
            continue
        shutil.rmtree(old_path, ignore_errors=True)


def snapshot(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    key: str,
    build: Callable[[], DataFrame],
    partition_by: Sequence[str] = (),
) -> DataFrame:
    """The snapshot ``name`` for this sf_dir and ``key``, built on first
    use. ``build`` returns the DataFrame to persist; its partitioning is
    the file layout (one file per task, hive directories on
    ``partition_by``). A failed build removes its tmp directory and
    re-raises."""
    path = _snapshot_path(sf_dir, name, key)
    if not os.path.exists(path):
        tmp = f"{path}.tmp-{os.getpid()}"
        try:
            os.makedirs(os.path.dirname(path), exist_ok=True)
            write_dataset(build(), tmp, partition_by=partition_by)
            # the schema as a reader infers it from the written files
            # (nullability, partition columns last) — inferred once, here
            with open(os.path.join(tmp, _SCHEMA_FILE), "w") as fh:
                fh.write(spark.read.parquet(tmp).schema.json())
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        try:
            os.rename(tmp, path)
        except OSError:  # lost a concurrent race; ours is equivalent
            shutil.rmtree(tmp, ignore_errors=True)
        _reap_stale(path, name)
    with open(os.path.join(path, _SCHEMA_FILE)) as fh:
        schema = StructType.fromJson(json.load(fh))
    return spark.read.schema(schema).parquet(path)


def _generate(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One fixture's derivation, laid out for its snapshot.

    Partition the GENERATION, not the output: the events input is tiny
    (1-2 parquet files -> 1-2 tasks), so range-partition it into one
    slice per core BEFORE the cross-join derivations fan out (6.4M rows
    for elevation_cells at sf0.1) — a 100k-row shuffle instead of a
    6.4M-row one. The write keeps that layout: one file per core in each
    hive partition (more only past write_dataset's per-file row cap),
    each holding one contiguous event_id range. request_id is the
    zero-padded event_id, so a point filter on it skips every other
    file's row groups by their min/max stats.

    The derivation SQL names base tables (``events``, ``documents``,
    ``lineitem``), so building is the one place their views are
    registered."""
    register_views(spark, sf_dir)
    table(spark, sf_dir, "events").repartitionByRange(
        spark.sparkContext.defaultParallelism, "event_id"
    ).createOrReplaceTempView("_events_gen")
    return spark.sql(FIXTURES[name]["spark"].replace("FROM events e", "FROM _events_gen e"))


# (application id, snapshot path) -> the frame ensure_fixtures returned
# for it, snapshot or lazy fallback. Opening the 8 warm /collect inputs
# costs 0.1-0.2 s of driver work on a 4-core host (a memo hit ~2 ms),
# and a plan assembles several branches that each ensure their inputs.
# The path encodes the source signature, the key text and the store
# root, so an entry never goes stale. Keyed on applicationId, not
# id(spark): CPython can reuse an object id after a stopped session is
# collected.
_OPENED: dict[tuple[str, str], DataFrame] = {}


def ensure_fixtures(spark: SparkSession, sf_dir: str, names: Sequence[str]) -> list[DataFrame]:
    """One DataFrame per fixture in ``names``, in order; no view is
    registered.

    Each fixture is a snapshot in the store (see ``snapshot``), so the
    frame is a plain Parquet scan. Falls back to the lazy derivation
    over the base views if the snapshot cannot be written."""
    sid = spark.sparkContext.applicationId
    out = []
    for name in names:
        key = (sid, _snapshot_path(sf_dir, name))
        if key not in _OPENED:
            try:
                _OPENED[key] = snapshot(
                    spark,
                    sf_dir,
                    name,
                    _fixture_key(name),
                    lambda: _generate(spark, sf_dir, name),
                    partition_by=_SNAPSHOT_PARTITION.get(name, ()),
                )
            except Exception:
                register_views(spark, sf_dir)
                _OPENED[key] = spark.sql(FIXTURES[name]["spark"])
        out.append(_OPENED[key])
    return out


def duck_with(*names: str) -> str:
    """WITH-clause text for the DuckDB oracle embedding the fixtures."""
    parts = ",\n".join(f"{n} AS ({FIXTURES[n]['duck']})" for n in names)
    return f"WITH {parts}"
