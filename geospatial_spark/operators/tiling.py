"""Raster↔vector tiling (N3, SURVEY §2.6): slippy z/x/y tile assignments.

"Raster" = per-tile aggregation of point/page density (the reference's
heatmap, ``karta.py:769-775``, *is* a cell aggregation); "vector" = tile →
bbox polygon → covering cells.  Tile math is pure JVM column arithmetic
(whole-stage codegen, SQL-expressible → DuckDB oracle); the S2 cell id
rides along from the pointcell UDF, or from a precomputed cell column
(``tile_cell_assignments(cell_col=...)``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import udfs


def tile_assignments(
    points_df: DataFrame,
    zooms: tuple[int, ...] = (8, 12),
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """points → (z, x, y, n_points) density raster, all zooms unioned.

    Scale note: one shuffle per zoom level (the groupBy) — at 100 TB the
    partial (map-side) aggregation collapses each partition to ≤ #distinct
    tiles rows before the exchange, so the shuffle is tiny relative to input.
    """
    outs = []
    for z in zooms:
        outs.append(
            points_df.select(
                F.lit(z).alias("z"),
                udfs.tile_x_col(F.col(lon), z).alias("x"),
                udfs.tile_y_col(F.col(lat), z).alias("y"),
            )
            .groupBy("z", "x", "y")
            .agg(F.count(F.lit(1)).alias("n_points"))
        )
    df = outs[0]
    for o in outs[1:]:
        df = df.unionAll(o)
    return df


def tile_cell_assignments(
    points_df: DataFrame,
    z: int = 12,
    s2_level: int = 12,
    lat: str = "lat",
    lon: str = "lon",
    cell_col: str | None = None,
) -> DataFrame:
    """The north rule's tile output: (z, x, y, cell_id, n_points) — which S2
    cells light up in which tile.  S2 id via Arrow pointcell UDF, unless
    ``cell_col`` names a column already holding the level-``s2_level``
    cell (then it becomes ``cell_id`` and no Python runs); everything
    else JVM-side."""
    if cell_col is None:
        cell = udfs.s2_cell_udf(s2_level)(F.col(lat), F.col(lon))
    else:
        cell = F.col(cell_col)
    return (
        points_df.select(
            F.lit(z).alias("z"),
            udfs.tile_x_col(F.col(lon), z).alias("x"),
            udfs.tile_y_col(F.col(lat), z).alias("y"),
            cell.alias("cell_id"),
        )
        .groupBy("z", "x", "y", "cell_id")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


def tile_to_cells(
    tiles_df: DataFrame, precision: int = 5, x: str = "x", y: str = "y", z_col: str = "z"
) -> DataFrame:
    """Vector path: tile → bbox → covering geohash cells (tile bbox polygon
    polyfill).  Exploded (z, x, y, cell) relation."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    from ..geo import geom as gm
    from ..geo import polyfill as pf
    from ..geo import tiles as tl

    @pandas_udf(ArrayType(StringType()))
    def _cover(z, xx, yy):
        # annotations omitted: `pd` is function-local, so string type hints
        # (from __future__ annotations) would not resolve in module globals
        out = []
        for zz, xv, yv in zip(z, xx, yy):
            w, s, e, n = tl.tile_bounds(np.array([xv]), np.array([yv]), int(zz))
            poly = gm.polygon(
                [(w[0], s[0]), (e[0], s[0]), (e[0], n[0]), (w[0], n[0])]
            )
            out.append(list(pf.geohash_polyfill(poly, precision, "intersects")))
        return pd.Series(out)

    return tiles_df.withColumn(
        "cell", F.explode(_cover(F.col(z_col), F.col(x), F.col(y)))
    )
