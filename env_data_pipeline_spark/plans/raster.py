"""Raster/array query plans (SURVEY.md §2.7, §2.4 A1-A4, §2.5 J1/J2/J4).

LANDFIRE pixels are read in one layout, the grid-form snapshot (one
row per grid, a 16x16 nested array), plus grid metadata; every query
is oracle-checked, and the oracles derive the pixels independently
from the long-form fixture.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from env_data_pipeline_spark.functions import classifiers as C
from env_data_pipeline_spark.operators.joins import classify_pixels
from env_data_pipeline_spark.operators.raster import pixel_at_coordinate_grids
from env_data_pipeline_spark.plans.registry import query
from env_data_pipeline_spark.sources.fixtures import duck_with, ensure_fixtures

# shared duck snippets -------------------------------------------------------

_DUCK_ROWCOL = """
      SELECT g.grid_id, g.request_id, g.product,
             cast(floor((g.y0 - g.req_lat) / g.px_h) AS INT) AS row,
             cast(floor((g.req_lon - g.x0) / g.px_w) AS INT) AS col,
             g.n_rows, g.n_cols
      FROM landfire_grid_meta g
"""

_DUCK_CLASSIFY = """
      coalesce(
        ex.class_name,
        rg.class_name,
        CASE p.product
          WHEN 'vegetation_type' THEN 'Unknown Vegetation Type'
          WHEN 'fuel_model' THEN 'Unknown Fuel Model'
          ELSE concat('Unknown (', cast(p.pixel_value AS STRING), ')') END
      )
"""

_DUCK_ATTR_JOINS = """
    LEFT JOIN (SELECT * FROM landfire_attributes WHERE exact_value IS NOT NULL) ex
           ON ex.product = p.product AND ex.exact_value = p.pixel_value
    LEFT JOIN (SELECT * FROM landfire_attributes WHERE is_fallback) rg
           ON rg.product = p.product AND p.pixel_value >= rg.lo AND p.pixel_value < rg.hi
"""


@query(
    "landfire_center_classification",
    oracle=f"""
    {duck_with("landfire_grid_meta", "landfire_pixels", "landfire_attributes")},
    target AS ({_DUCK_ROWCOL}),
    p AS (
      SELECT t.grid_id, t.request_id, t.product, t.row, t.col, px.pixel_value
      FROM target t
      JOIN landfire_pixels px
        ON px.grid_id = t.grid_id AND px.row = t.row AND px.col = t.col
      WHERE t.row >= 0 AND t.row < t.n_rows AND t.col >= 0 AND t.col < t.n_cols
    )
    SELECT p.request_id, p.product, p.row, p.col, p.pixel_value,
           {_DUCK_CLASSIFY} AS interpreted
    FROM p
    {_DUCK_ATTR_JOINS}
    """,
)
def landfire_center_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 coordinate->pixel affine + R2 extraction + J1/J2
    classification with exact-over-range precedence
    (landfire_container.py:86-132). The tiny target set joins the grid
    snapshot on grid_id and reads its pixel with element_at on the
    nested array; the 1k-row attribute dim broadcasts for both lookup
    joins. The oracle recomputes from the long-form derivation, so the
    parity check also proves the two layouts hold identical pixels."""
    meta, grids, attrs = ensure_fixtures(
        spark, sf_dir, ("landfire_grid_meta", "landfire_grids", "landfire_attributes")
    )
    hit = pixel_at_coordinate_grids(meta, grids)
    return classify_pixels(hit, attrs).select(
        "request_id", "product", "row", "col", "pixel_value", "interpreted"
    )


@query(
    "landfire_area_summary",
    oracle=f"""
    {duck_with("landfire_pixels", "landfire_attributes")},
    classified AS (
      SELECT p.grid_id, p.request_id, p.product, {_DUCK_CLASSIFY} AS interpreted
      FROM (SELECT * FROM landfire_pixels
            WHERE product IN ('vegetation_type', 'fuel_model')) p
      {_DUCK_ATTR_JOINS}
    ),
    counts AS (
      SELECT grid_id, request_id, product, interpreted, COUNT(*) AS n
      FROM classified GROUP BY ALL
    ),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY grid_id
                                ORDER BY n DESC, interpreted ASC) AS rk,
             SUM(n) OVER (PARTITION BY grid_id) AS total,
             COUNT(*) OVER (PARTITION BY grid_id) AS n_classes
      FROM counts
    )
    SELECT grid_id, request_id, product,
           interpreted AS dominant_class,
           ROUND(n * CAST(100.0 AS DOUBLE) / total, 4) AS dominant_pct,
           n_classes
    FROM ranked WHERE rk = 1
    """,
)
def landfire_area_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11/A12/W4: per-grid class histogram -> dominant class +
    percentage (shared_schema.py:242-249 declared; engine computes it).
    Ties broken by class name so the result is deterministic.

    Scale: restricted to the CLASSIFIED products (vegetation/fuel —
    the reference's area summary is about vegetation interpretation,
    landfire_container.py:438-449; continuous rasters have no classes
    and would make every pixel value its own group). The product
    filter is directory pruning on the hive-partitioned grid snapshot,
    and each grid row explodes into its 256 pixels; classify is
    broadcast-join; histogram is a two-level agg keyed by (grid_id,
    class) then a per-grid window — both shuffles hash on grid_id
    which is uniformly distributed."""
    grids, attrs = ensure_fixtures(
        spark, sf_dir, ("landfire_grids", "landfire_attributes")
    )
    px = grids.filter(F.col("product").isin("vegetation_type", "fuel_model")).select(
        "grid_id", "request_id", "product",
        F.explode(F.flatten("arrays")).alias("pixel_value"),
    )
    classified = classify_pixels(px, attrs)
    counts = classified.groupBy("grid_id", "request_id", "product", "interpreted").agg(
        F.count("*").alias("n")
    )
    w = Window.partitionBy("grid_id")
    ranked = (
        counts.withColumn(
            "rk",
            F.row_number().over(w.orderBy(F.desc("n"), F.asc("interpreted"))),
        )
        .withColumn("total", F.sum("n").over(w))
        .withColumn("n_classes", F.count("*").over(w))
    )
    return ranked.filter(F.col("rk") == 1).select(
        "grid_id",
        "request_id",
        "product",
        F.col("interpreted").alias("dominant_class"),
        F.round(F.col("n") * F.lit(100.0) / F.col("total"), 4).alias("dominant_pct"),
        "n_classes",
    )


@query(
    "landfire_combined_risk",
    oracle=f"""
    {duck_with("landfire_grid_meta", "landfire_pixels", "landfire_attributes")},
    target AS ({_DUCK_ROWCOL}),
    p AS (
      SELECT t.request_id, t.product, px.pixel_value
      FROM target t
      JOIN landfire_pixels px
        ON px.grid_id = t.grid_id AND px.row = t.row AND px.col = t.col
      WHERE t.product IN ('vegetation_type', 'fuel_model')
    ),
    classified AS (
      SELECT p.request_id, p.product, {_DUCK_CLASSIFY} AS interpreted
      FROM p
      {_DUCK_ATTR_JOINS}
    ),
    wide AS (
      SELECT request_id,
             max(CASE WHEN product = 'vegetation_type' THEN interpreted END) AS vegetation_class,
             max(CASE WHEN product = 'fuel_model' THEN interpreted END) AS fuel_model_class
      FROM classified GROUP BY request_id
    )
    SELECT request_id, vegetation_class, fuel_model_class,
           CASE WHEN contains(lower(coalesce(vegetation_class, '')), 'developed')
                  OR contains(lower(coalesce(vegetation_class, '')), 'urban')
                  OR contains(lower(coalesce(vegetation_class, '')), 'water')
                THEN 'LOW'
                WHEN contains(lower(coalesce(fuel_model_class, '')), 'chaparral')
                  OR contains(lower(coalesce(fuel_model_class, '')), 'timber')
                  OR contains(lower(coalesce(fuel_model_class, '')), 'grass')
                THEN 'MODERATE_TO_HIGH'
                ELSE 'MODERATE' END AS fire_risk_landfire
    FROM wide
    """,
)
def landfire_combined_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: fire risk from the (vegetation_class, fuel_model_class)
    pair at the request coordinate (landfire_container.py:451-461) —
    a pivot of the per-product center classifications followed by the
    theta-style CASE over both columns. Reads the grid-shaped layout
    (point-lookup path); the product filter prunes 7/9 of the
    hive-partitioned snapshot before the scan."""
    meta, grids, attrs = ensure_fixtures(
        spark, sf_dir, ("landfire_grid_meta", "landfire_grids", "landfire_attributes")
    )
    hit = pixel_at_coordinate_grids(meta, grids).filter(
        F.col("product").isin("vegetation_type", "fuel_model")
    )
    classified = classify_pixels(hit, attrs)
    wide = classified.groupBy("request_id").agg(
        F.max(F.when(F.col("product") == "vegetation_type", F.col("interpreted"))).alias(
            "vegetation_class"
        ),
        F.max(F.when(F.col("product") == "fuel_model", F.col("interpreted"))).alias(
            "fuel_model_class"
        ),
    )
    return wide.select(
        "request_id",
        "vegetation_class",
        "fuel_model_class",
        C.landfire_combined_risk(
            F.col("vegetation_class"), F.col("fuel_model_class")
        ).alias("fire_risk_landfire"),
    )


@query(
    "elevation_grid_stats",
    oracle=f"""
    {duck_with("elevation_cells")},
    valid AS (
      SELECT grid_id, request_id, elevation
      FROM elevation_cells WHERE elevation != nodata
    ),
    stats AS (
      SELECT grid_id, request_id,
             ROUND(MIN(elevation), 4) AS min_elevation_m,
             ROUND(MAX(elevation), 4) AS max_elevation_m,
             ROUND(AVG(elevation), 4) AS mean_elevation_m,
             ROUND(STDDEV_POP(elevation), 4) AS std_elevation_m,
             ROUND(MAX(elevation) - MIN(elevation), 4) AS elevation_range_m,
             COUNT(*) AS pixel_count
      FROM valid GROUP BY grid_id, request_id
    )
    SELECT *,
           CASE WHEN elevation_range_m > 100 THEN 'HIGH'
                WHEN elevation_range_m > 50 THEN 'MODERATE'
                ELSE 'LOW' END AS terrain_roughness
    FROM stats
    """,
)
def elevation_grid_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3/A1-A4: DEM grid statistics pipeline
    (topography_container.py:233-296): nodata filter (F10) -> min/max/
    mean/POPULATION-stddev (numpy std is ddof=0 — A1 numerics note) ->
    range -> terrain class (A3). All-nodata grids vanish with the
    filter, matching the reference's early None return (:253-254).

    Scale: one scan, one hash agg keyed by grid_id — partial aggregation
    makes this the cheapest possible plan; no window needed."""
    (cells,) = ensure_fixtures(spark, sf_dir, ("elevation_cells",))
    valid = cells.filter(F.col("elevation") != F.col("nodata"))
    stats = valid.groupBy("grid_id", "request_id").agg(
        F.round(F.min("elevation"), 4).alias("min_elevation_m"),
        F.round(F.max("elevation"), 4).alias("max_elevation_m"),
        F.round(F.avg("elevation"), 4).alias("mean_elevation_m"),
        F.round(F.stddev_pop("elevation"), 4).alias("std_elevation_m"),
        F.round(F.max("elevation") - F.min("elevation"), 4).alias("elevation_range_m"),
        F.count("*").alias("pixel_count"),
    )
    return stats.withColumn(
        "terrain_roughness", C.terrain_class(F.col("elevation_range_m"))
    )


@query(
    "elevation_center_pixel",
    oracle=f"""
    {duck_with("elevation_cells")}
    SELECT grid_id, request_id, elevation AS center_elevation_m
    FROM elevation_cells
    WHERE row = 8 AND col = 8 AND elevation != nodata
    """,
)
def elevation_center_pixel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4: center pixel pixel_array[shape//2, shape//2] of each 16x16
    DEM grid (tests/test_pipeline.py:152-156 semantics). The (row,col)
    predicate pushes down to the scan — at scale this reads a tiny
    fraction of the pixel table."""
    (cells,) = ensure_fixtures(spark, sf_dir, ("elevation_cells",))
    return cells.filter(
        (F.col("row") == 8) & (F.col("col") == 8) & (F.col("elevation") != F.col("nodata"))
    ).select("grid_id", "request_id", F.col("elevation").alias("center_elevation_m"))


@query(
    "landfire_viz_arrays",
    oracle=f"""
    {{DUCK_WITH}},
    -- ZERO-AGGREGATION oracle: derive both the arrays JSON and the
    -- legend value sets from the GRID-form fixture (one 16x16 nested
    -- array per grid, a pure generator expression) instead of
    -- re-aggregating the 57.6M-row long form. The list()/string_agg
    -- ORDER BY aggregates buffer their whole input unspillably and
    -- could not materialize the sf0.1 tier inside one process's
    -- memory-map budget; the grid form streams 225k rows. DuckDB's
    -- generator is checked against the engine's Spark-built grid
    -- snapshot value for value.
    grids AS (
      SELECT grid_id, request_id, product,
             to_json(arrays)::VARCHAR AS arrays
      FROM landfire_grids
    ),
    p AS (
      SELECT grid_id, product,
             unnest(list_distinct(flatten(arrays))) AS pixel_value
      FROM landfire_grids
    ),
    cls AS (
      -- p is already distinct per (grid, value) (list_distinct) and
      -- both attribute joins match at most one row (unique
      -- exact_value; disjoint ranges), so no DISTINCT re-shuffle
      SELECT p.grid_id, p.pixel_value, {_DUCK_CLASSIFY} AS interpreted
      FROM p
      {_DUCK_ATTR_JOINS}
    ),
    legends AS (
      SELECT grid_id,
             '{{' || string_agg(
               '"' || pixel_value || '":' ||
               json_object('name', interpreted,
                           'color', '#' || upper(substr(md5(interpreted), 1, 6))),
               ',' ORDER BY pixel_value) || '}}' AS legend
      FROM cls GROUP BY grid_id
    )
    SELECT g.grid_id, g.request_id, g.product, g.arrays, l.legend
    FROM grids g JOIN legends l USING (grid_id)
    """.replace(
        "{DUCK_WITH}", duck_with("landfire_grids", "landfire_attributes")
    ),
)
def landfire_viz_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5: the 2-D visualization array + legend map per grid
    (shared_schema.py:79-86; populated at
    topography_container.py:357-376). The grid snapshot stores the
    array row-major, so nothing is re-pivoted. The 2-D array and the
    legend are serialized to JSON text so every output column is
    scalar (sortable / hashable by any downstream comparator); a real
    sink would keep the typed array/map forms one select earlier. The
    oracle assembles byte-identical JSON text (DuckDB to_json list
    formatting and string_agg-built object keys match Spark's to_json
    conventions; one product per grid, so legend keys cannot collide).

    Legend entries carry the reference's value -> {name, color} shape
    (shared_schema.py:250-264); color is a deterministic hex derived
    from md5(name), so it is stable across runs and engines. A class
    depends only on ``(product, pixel_value)``, and grids repeat few
    pairs (about 6.8k at sf0.1 against 225k grids of up to 256 values),
    so each distinct pair is classified once and joined back to every
    grid's distinct values (both attribute joins match at most one
    row)."""
    grids, attrs = ensure_fixtures(
        spark, sf_dir, ("landfire_grids", "landfire_attributes")
    )
    px = grids.select(
        "grid_id", "product",
        F.explode(F.array_distinct(F.flatten("arrays"))).alias("pixel_value"),
    )
    entries = classify_pixels(
        px.select("product", "pixel_value").distinct(), attrs
    ).select(
        "product",
        "pixel_value",
        F.struct(
            F.col("interpreted").alias("name"),
            F.concat(
                F.lit("#"), F.upper(F.substring(F.md5("interpreted"), 1, 6))
            ).alias("color"),
        ).alias("entry"),
    )
    # the pair set is bounded by the attribute value ranges, not the
    # grid count, so it is broadcast at any scale
    legends = (
        px.join(F.broadcast(entries), ["product", "pixel_value"])
        .groupBy("grid_id")
        .agg(
            F.to_json(
                F.map_from_entries(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                F.col("pixel_value").alias("key"),
                                F.col("entry").alias("value"),
                            )
                        )
                    )
                )
            ).alias("legend")
        )
    )
    return grids.select(
        "grid_id", "request_id", "product", F.to_json("arrays").alias("arrays")
    ).join(legends, "grid_id")


# ---------------------------------------------------------------------------
# A11: interpreted-products summary (the coordinate_specific maps)
# ---------------------------------------------------------------------------


@query(
    "landfire_interpreted_products",
    oracle=f"""
    {duck_with("landfire_grid_meta", "landfire_pixels", "landfire_attributes")},
    target AS ({_DUCK_ROWCOL}),
    p AS (
      SELECT t.request_id, t.product, px.pixel_value
      FROM target t
      JOIN landfire_pixels px
        ON px.grid_id = t.grid_id AND px.row = t.row AND px.col = t.col
    ),
    cls AS (
      SELECT p.request_id, p.product, p.pixel_value, {_DUCK_CLASSIFY} AS interpreted
      FROM p
      {_DUCK_ATTR_JOINS}
    )
    SELECT request_id,
           array_to_string(list_sort(list(product)), ',') AS products,
           array_to_string(list_sort(list(product || '=' || interpreted)), ',')
             AS interpretations,
           array_to_string(list_sort(list(product || '=' || cast(pixel_value AS STRING))), ',')
             AS pixel_values
    FROM cls GROUP BY request_id
    """,
)
def landfire_interpreted_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: the per-request coordinate_specific summary — product
    list, product=interpretation map, product=pixel_value map
    (landfire_container.py:438-449). Maps are emitted as sorted
    comma-joined 'k=v' strings so the result is order-deterministic
    and hashable by any downstream comparator; F.map_from_entries over
    the same pairs yields the MapType form at a real sink. Point
    lookups read the grid-shaped layout; the oracle recomputes from
    long form."""
    meta, grids, attrs = ensure_fixtures(
        spark, sf_dir, ("landfire_grid_meta", "landfire_grids", "landfire_attributes")
    )
    hit = pixel_at_coordinate_grids(meta, grids)
    cls = classify_pixels(hit, attrs)
    return cls.groupBy("request_id").agg(
        F.array_join(F.array_sort(F.collect_list("product")), ",").alias("products"),
        F.array_join(
            F.array_sort(F.collect_list(F.concat_ws("=", "product", "interpreted"))), ","
        ).alias("interpretations"),
        F.array_join(
            F.array_sort(
                F.collect_list(
                    F.concat_ws("=", "product", F.col("pixel_value").cast("string"))
                )
            ),
            ",",
        ).alias("pixel_values"),
    )
