"""Web-Mercator slippy-map tile math (z/x/y) — vectorized numpy.

The reference consumes ``{z}/{y}/{x}`` raster tiles as URL templates
(``/root/reference/geoparse/karta.py:156``) but never computes tile indices;
the north rule requires emitting tile assignments ``(z, x, y, h3/s2 id)``
(SURVEY.md §2.6 N3).  The math below is the public OSM slippy-map scheme,
identical to mercantile's (reimplemented from the published formulas).
"""

from __future__ import annotations

import numpy as np

MAX_LAT = 85.0511287798066  # atan(sinh(pi)) in degrees — web-mercator clip


def lonlat_to_tile(lon, lat, z: int) -> tuple[np.ndarray, np.ndarray]:
    """lon/lat degrees → (tile_x, tile_y) at zoom z.

    tile_x = floor((lon+180)/360 * 2^z)
    tile_y = floor((1 - asinh(tan(lat_rad))/pi) / 2 * 2^z)
    """
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.clip(np.asarray(lat, dtype=np.float64), -MAX_LAT, MAX_LAT)
    n = float(1 << z)
    x = np.floor((lon + 180.0) / 360.0 * n)
    lat_rad = np.radians(lat)
    y = np.floor((1.0 - np.arcsinh(np.tan(lat_rad)) / np.pi) / 2.0 * n)
    x = np.clip(x, 0, n - 1).astype(np.int64)
    y = np.clip(y, 0, n - 1).astype(np.int64)
    return x, y


def tile_bounds(x, y, z: int) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(x, y, z) → (west, south, east, north) degrees."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n = float(1 << z)
    west = x / n * 360.0 - 180.0
    east = (x + 1) / n * 360.0 - 180.0
    north = np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * y / n))))
    south = np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * (y + 1) / n))))
    return west, south, east, north
