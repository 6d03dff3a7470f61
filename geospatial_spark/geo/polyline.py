"""Encoded-polyline (precision-6, Valhalla-style) decode/encode.

Reimplements the public Google encoded-polyline algorithm at 1e-6 precision,
matching the reference's decoder semantics (``/root/reference/geoparse/
osm.py:111-163``) including its golden vector:

    decode("_p~iF~ps|U_ulLnnqC_mqNvxq`@")
      == [[-120.2, 38.5], [-120.95, 40.7], [-126.453, 43.252]]   (lon, lat)

NB the reference decodes at 1e-6 but its golden vector is the classic 1e-5
example; it compensates by scaling. We expose ``precision`` explicitly and
default to 1e-6 like Valhalla.
"""

from __future__ import annotations


def decode(encoded: str, precision: int = 6) -> list[list[float]]:
    """Decode one polyline string → [[lon, lat], ...]."""
    inv = 10.0 ** -precision
    coords: list[list[float]] = []
    lat = lon = 0
    idx = 0
    n = len(encoded)
    while idx < n:
        for is_lon in (False, True):
            shift = 0
            result = 0
            while True:
                b = ord(encoded[idx]) - 63
                idx += 1
                result |= (b & 0x1F) << shift
                shift += 5
                if b < 0x20:
                    break
            delta = ~(result >> 1) if result & 1 else result >> 1
            if is_lon:
                lon += delta
            else:
                lat += delta
        coords.append([round(lon * inv, precision), round(lat * inv, precision)])
    return coords


def encode(coords, precision: int = 6) -> str:
    """[[lon, lat], ...] → polyline string (inverse, for round-trip tests)."""
    factor = 10 ** precision
    out = []
    prev_lat = prev_lon = 0
    for lon, lat in coords:
        ilat = int(round(lat * factor))
        ilon = int(round(lon * factor))
        for v, prev in ((ilat, prev_lat), (ilon, prev_lon)):
            d = v - prev
            d = ~(d << 1) if d < 0 else d << 1
            while d >= 0x20:
                out.append(chr((0x20 | (d & 0x1F)) + 63))
                d >>= 5
            out.append(chr(d + 63))
        prev_lat, prev_lon = ilat, ilon
    return "".join(out)


def decode_int(encoded: str) -> list[tuple[int, int]]:
    """Decode one polyline string → [(lon_e6, lat_e6), ...] exact ints (the
    varint accumulators themselves — float-free, oracle-friendly)."""
    coords: list[tuple[int, int]] = []
    lat = lon = 0
    idx = 0
    n = len(encoded)
    while idx < n:
        for is_lon in (False, True):
            shift = 0
            result = 0
            while True:
                b = ord(encoded[idx]) - 63
                idx += 1
                result |= (b & 0x1F) << shift
                shift += 5
                if b < 0x20:
                    break
            delta = ~(result >> 1) if result & 1 else result >> 1
            if is_lon:
                lon += delta
            else:
                lat += delta
        coords.append((lon, lat))
    return coords
