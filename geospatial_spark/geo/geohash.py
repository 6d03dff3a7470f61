"""Geohash cell kernel — vectorized numpy, no external geo libraries.

Implements the standard public geohash algorithm (Niemeyer 2008): lat/lon
interleaved-bit base-32 strings.  This is the cell system the reference uses
via ``polygon_geohasher`` / ``geohasher`` (see ``/root/reference/geoparse/
gindex.py:75`` for polygon fill, ``gindex.py:313`` for the resolution =
``len(cell)`` rule, ``gindex.py:322`` for cell→bbox polygon).

All functions are vectorized over numpy arrays so they can run inside
Arrow-batched pandas UDFs (BASELINE.json input_hint: "no per-row Python").

Conventions
-----------
* precision  = number of base-32 characters (reference "resolution").
* Internally a geohash of precision p is a (lon_q, lat_q) integer pair with
  lon_bits = ceil(5p/2), lat_bits = floor(5p/2).
* Encode/decode are exact bit operations; the only float ops are the initial
  quantization and final dequantization (deterministic IEEE arithmetic).
"""

from __future__ import annotations

import numpy as np

#: the geohash base-32 alphabet (no a, i, l, o); digit value = index
BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"
_B32 = np.frombuffer(BASE32.encode(), dtype=np.uint8)
_B32_INV = np.full(256, 255, dtype=np.uint8)
_B32_INV[_B32] = np.arange(32, dtype=np.uint8)

def _part1by1(x: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of x so bit k moves to bit 2k (Morton)."""
    x = x.astype(np.uint64)
    x &= np.uint64(0xFFFFFFFF)
    x = (x | (x << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    x = (x | (x << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    x = (x | (x << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    x = (x | (x << np.uint64(2))) & np.uint64(0x3333333333333333)
    x = (x | (x << np.uint64(1))) & np.uint64(0x5555555555555555)
    return x


def _compact1by1(x: np.ndarray) -> np.ndarray:
    """Inverse of _part1by1: keep even bits, compact them down."""
    x = x.astype(np.uint64)
    x &= np.uint64(0x5555555555555555)
    x = (x | (x >> np.uint64(1))) & np.uint64(0x3333333333333333)
    x = (x | (x >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    x = (x | (x >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    x = (x | (x >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    x = (x | (x >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return x


def _bits(precision: int) -> tuple[int, int]:
    total = 5 * precision
    lon_bits = (total + 1) // 2
    lat_bits = total // 2
    return lon_bits, lat_bits


def quantize(lat: np.ndarray, lon: np.ndarray, precision: int) -> tuple[np.ndarray, np.ndarray]:
    """lat/lon degrees → integer cell coordinates (lon_q, lat_q)."""
    lon_bits, lat_bits = _bits(precision)
    lon_q = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * (1 << lon_bits))
    lat_q = np.floor((np.asarray(lat, dtype=np.float64) + 90.0) / 180.0 * (1 << lat_bits))
    lon_q = np.clip(lon_q, 0, (1 << lon_bits) - 1).astype(np.uint64)
    lat_q = np.clip(lat_q, 0, (1 << lat_bits) - 1).astype(np.uint64)
    return lon_q, lat_q


def _code(lon_q: np.ndarray, lat_q: np.ndarray, precision: int) -> np.ndarray:
    """(lon_q, lat_q) → 5p-bit interleaved integer code (lon gets MSB)."""
    total = 5 * precision
    if total % 2:  # odd: lon has the extra (most-significant) bit
        return _part1by1(lon_q) | (_part1by1(lat_q) << np.uint64(1))
    return (_part1by1(lon_q) << np.uint64(1)) | _part1by1(lat_q)


def _uncode(code: np.ndarray, precision: int) -> tuple[np.ndarray, np.ndarray]:
    total = 5 * precision
    code = code.astype(np.uint64)
    if total % 2:
        return _compact1by1(code), _compact1by1(code >> np.uint64(1))
    return _compact1by1(code >> np.uint64(1)), _compact1by1(code)


def encode(lat, lon, precision: int) -> np.ndarray:
    """Vectorized geohash encode → numpy array of python strings."""
    lat = np.atleast_1d(np.asarray(lat, dtype=np.float64))
    lon = np.atleast_1d(np.asarray(lon, dtype=np.float64))
    lon_q, lat_q = quantize(lat, lon, precision)
    code = _code(lon_q, lat_q, precision)
    n = code.shape[0]
    shifts = np.arange(precision - 1, -1, -1, dtype=np.uint64) * np.uint64(5)
    idx = (code[:, None] >> shifts[None, :]) & np.uint64(31)
    chars = _B32[idx.astype(np.int64)]  # (n, p) uint8 ascii
    return chars.view(f"S{precision}").reshape(n).astype(str)


def decode_int(cells: np.ndarray, precision: int) -> tuple[np.ndarray, np.ndarray]:
    """Geohash strings (uniform precision) → (lon_q, lat_q) integer coords."""
    b = np.asarray(cells, dtype=f"S{precision}").view(np.uint8).reshape(-1, precision)
    vals = _B32_INV[b].astype(np.uint64)
    code = np.zeros(b.shape[0], dtype=np.uint64)
    for k in range(precision):
        code = (code << np.uint64(5)) | vals[:, k]
    return _uncode(code, precision)


def cell_bbox(cells, precision: int) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """cells → (min_lon, min_lat, max_lon, max_lat) arrays."""
    lon_bits, lat_bits = _bits(precision)
    lon_q, lat_q = decode_int(np.atleast_1d(cells), precision)
    lon_w = 360.0 / (1 << lon_bits)
    lat_w = 180.0 / (1 << lat_bits)
    min_lon = lon_q.astype(np.float64) * lon_w - 180.0
    min_lat = lat_q.astype(np.float64) * lat_w - 90.0
    return min_lon, min_lat, min_lon + lon_w, min_lat + lat_w


def decode(cells, precision: int) -> tuple[np.ndarray, np.ndarray]:
    """cells → (lat, lon) of cell centers."""
    min_lon, min_lat, max_lon, max_lat = cell_bbox(cells, precision)
    return (min_lat + max_lat) / 2.0, (min_lon + max_lon) / 2.0


def cells_to_codes(cells, precision: int) -> np.ndarray:
    """Geohash strings → 5p-bit interleaved integer codes (int64).

    The code is the same bit pattern the base-32 string encodes, so
    (string cell == string cell) ⇔ (code == code) at a fixed precision —
    used by the join operators to key on BIGINT instead of strings
    (JVM-side hashing + shuffle bytes; see udfs.geohash_int_col)."""
    lon_q, lat_q = decode_int(np.atleast_1d(cells), precision)
    return _code(lon_q, lat_q, precision).astype(np.int64)


def encode_from_int(lon_q: np.ndarray, lat_q: np.ndarray, precision: int) -> np.ndarray:
    code = _code(lon_q.astype(np.uint64), lat_q.astype(np.uint64), precision)
    n = code.shape[0]
    shifts = np.arange(precision - 1, -1, -1, dtype=np.uint64) * np.uint64(5)
    idx = (code[:, None] >> shifts[None, :]) & np.uint64(31)
    return _B32[idx.astype(np.int64)].view(f"S{precision}").reshape(n).astype(str)
