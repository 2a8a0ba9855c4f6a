"""Raster operators over pixel grids (SURVEY.md §2.7).

The reference holds rasters as GeoTIFF byte blobs and indexes them
with rasterio; the engine models each LANDFIRE grid as one row with a
16x16 nested array (DEM grids as ``(grid_id, row, col, elevation)``
rows) plus a grid-metadata table with the affine transform — so every
raster operation is relational algebra that Catalyst can prune, push
down, and parallelize per grid.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def coord_to_rowcol(
    lat: Column, lon: Column, x0: Column, y0: Column, px_w: Column, px_h: Column
) -> tuple[Column, Column]:
    """R1: inverse affine, matching ``rasterio.transform.rowcol``
    floor semantics for a north-up transform
    (landfire_container.py:91; SURVEY.md §7.3.2: floor on both axes,
    y inverted)."""
    row = F.floor((y0 - lat) / px_h).cast("int")
    col = F.floor((lon - x0) / px_w).cast("int")
    return row, col


def pixel_at_coordinate_grids(grid_meta: DataFrame, grids: DataFrame) -> DataFrame:
    """R2: extract the pixel under each grid's request coordinate,
    bounds-checked (F11: landfire_container.py:95,112-113), on the
    grid-shaped layout (one row per grid, 16x16 nested array): join
    target (grid_id, product) -> element_at lookup.

    The point-lookup access path: probes one row per grid instead of
    256 long-form rows — at 100 TB the same data volume is scanned
    (arrays decode whole), but per-row join/probe overhead drops 256x
    and the output never explodes. Area aggregations explode the same
    grid rows (plans/raster.py::landfire_area_summary).

    Open finding (not fixed): a ``/collect`` point lookup still reads
    all 5,000 ``landfire_grids`` rows of both products at sf0.01, the
    largest scan left in a lookup (537 ms and 198 ms of scan time in
    two traces on a 4-core host). Catalyst infers join-side filters
    once (the ``Infer Filters`` batch), before the lookup's
    ``request_id`` predicate reaches this branch, so the grids scan
    gets no ``request_id`` filter. Putting ``grids`` on the
    streamed side moves ``EqualTo(request_id)`` onto the grids scan but
    takes it off ``landfire_grid_meta``; that loses AQE's
    empty-broadcast short cut, which today skips the grids scan
    entirely for the 3 in 4 requests that have no grid."""
    row, col = coord_to_rowcol(
        F.col("req_lat"), F.col("req_lon"),
        F.col("x0"), F.col("y0"), F.col("px_w"), F.col("px_h"),
    )
    target = grid_meta.select(
        "grid_id", "request_id", "product",
        row.alias("row"), col.alias("col"),
        "n_rows", "n_cols",
    ).filter(
        (F.col("row") >= 0) & (F.col("row") < F.col("n_rows"))
        & (F.col("col") >= 0) & (F.col("col") < F.col("n_cols"))
    )
    return (
        F.broadcast(target.drop("n_rows", "n_cols"))
        .join(grids.select("grid_id", "product", "arrays"), ["grid_id", "product"])
        .withColumn(
            "pixel_value",
            F.element_at(F.element_at("arrays", F.col("row") + 1), F.col("col") + 1),
        )
        .drop("arrays")
    )
