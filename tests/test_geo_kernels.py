"""Unit + property tests for the pure-numpy geo kernels (SURVEY.md §5)."""

from __future__ import annotations

import numpy as np
import pytest

from geospatial_spark.geo import compact as cpt
from geospatial_spark.geo import distance as dist
from geospatial_spark.geo import geohash as gh
from geospatial_spark.geo import geom as gm
from geospatial_spark.geo import polyfill as pf
from geospatial_spark.geo import polyline as pl
from geospatial_spark.geo import s2 as s2k
from geospatial_spark.geo import tiles as tl


# --------------------------------------------------------------------- geohash
def test_geohash_known_values():
    # public golden vectors (Wikipedia/geohash.org)
    assert gh.encode([57.64911], [10.40744], 11)[0] == "u4pruydqqvj"
    assert gh.encode([42.605], [-5.603], 5)[0] == "ezs42"


def test_geohash_roundtrip_grid():
    rng = np.random.default_rng(42)
    lat = rng.uniform(-89.9, 89.9, 500)
    lon = rng.uniform(-179.9, 179.9, 500)
    for p in (1, 4, 5, 6, 9, 12):
        cells = gh.encode(lat, lon, p)
        min_lon, min_lat, max_lon, max_lat = gh.cell_bbox(cells, p)
        assert np.all(lon >= min_lon - 1e-9) and np.all(lon <= max_lon + 1e-9)
        assert np.all(lat >= min_lat - 1e-9) and np.all(lat <= max_lat + 1e-9)
        # re-encoding the center gives the same cell
        clat, clon = gh.decode(cells, p)
        assert np.array_equal(gh.encode(clat, clon, p), cells)


# ------------------------------------------------------------------------- s2
def test_s2_face_cells():
    # face cell tokens are "1", "3", "5", "7", "9", "b" (public S2 fact)
    ids = np.array([(f << 61) | (1 << 60) for f in range(6)], dtype=np.uint64).astype(
        np.int64
    )
    assert list(s2k.to_token(ids)) == ["1", "3", "5", "7", "9", "b"]
    assert np.array_equal(s2k.level(ids), np.zeros(6, dtype=np.int64))


def test_s2_token_roundtrip():
    rng = np.random.default_rng(7)
    lat = rng.uniform(-85, 85, 200)
    lng = rng.uniform(-180, 180, 200)
    for lvl in (0, 5, 12, 20, 30):
        ids = s2k.latlng_to_cell(lat, lng, lvl)
        assert np.all(s2k.level(ids) == lvl)
        toks = s2k.to_token(ids)
        back = s2k.from_token(toks)
        assert np.array_equal(back, ids)


def test_s2_parent_child_containment():
    rng = np.random.default_rng(11)
    lat = rng.uniform(-85, 85, 300)
    lng = rng.uniform(-180, 180, 300)
    leaf = s2k.latlng_to_cell(lat, lng, 30)
    for lvl in (3, 10, 17):
        par = s2k.parent(leaf, lvl)
        lo, hi = s2k.range_min_max(par)
        lo_u = lo.astype(np.uint64)
        hi_u = hi.astype(np.uint64)
        leaf_u = leaf.astype(np.uint64)
        assert np.all((leaf_u >= lo_u) & (leaf_u <= hi_u))
        # parent of any child equals the cell
        ch = s2k.children(par[:5], lvl + 2)
        for row, p in zip(ch, par[:5]):
            assert np.all(s2k.parent(row, lvl) == p)
        assert ch.shape[1] == 16


def test_s2_center_reencodes_to_same_cell():
    rng = np.random.default_rng(3)
    lat = rng.uniform(-80, 80, 200)
    lng = rng.uniform(-179, 179, 200)
    for lvl in (8, 14, 22):
        ids = s2k.latlng_to_cell(lat, lng, lvl)
        clat, clng = s2k.cell_center_latlng(ids)
        again = s2k.latlng_to_cell(clat, clng, lvl)
        assert np.array_equal(ids, again)


def test_s2_hilbert_locality():
    # consecutive leaf ids along the curve are spatially adjacent: the four
    # children of any cell tile it exactly (range arithmetic)
    ids = s2k.latlng_to_cell(np.array([48.85]), np.array([2.35]), 10)
    kids = s2k.children(ids, 11)[0]
    lo_p, hi_p = s2k.range_min_max(ids)
    lo_k, _ = s2k.range_min_max(kids)
    _, hi_k = s2k.range_min_max(kids)
    assert lo_k.min() == lo_p[0]
    assert hi_k.max() == hi_p[0]
    # children ranges are disjoint + contiguous
    order = np.argsort(lo_k.astype(np.uint64))
    lo_s = lo_k.astype(np.uint64)[order]
    hi_s = hi_k.astype(np.uint64)[order]
    for k in range(3):
        assert int(hi_s[k]) + 2 == int(lo_s[k + 1])  # sibling min = prev max + 2


def test_s2_compact_uncompact_identity():
    base = s2k.latlng_to_cell(np.array([40.0]), np.array([-3.7]), 8)
    full = s2k.children(base, 11).ravel()  # 64 leaf-8 descendants at 11
    compacted = cpt.compact_s2(full)
    assert compacted.shape[0] == 1
    assert np.uint64(compacted[0]) == np.uint64(base[0])
    expanded = cpt.uncompact_s2(compacted, 11)
    assert np.array_equal(
        np.sort(expanded.astype(np.uint64)), np.sort(full.astype(np.uint64))
    )


def test_geohash_compact_uncompact_identity():
    kids = cpt.uncompact_geohash(["u4pr"], 5)
    assert len(kids) == 32
    assert cpt.compact_geohash(kids) == ["u4pr"]
    partial = kids[:31]
    assert cpt.compact_geohash(partial) == sorted(partial)


# ------------------------------------------------------------------- distance
def test_haversine_golden():
    # gutils.py:217-218 documents 1319743.483, but executing the reference's
    # own code (gutils.py:227-233) verbatim yields 1315511.9727 — the
    # docstring value is wrong (it matches no Earth radius used in the code).
    # We match the reference *code*, and note the docstring divergence.
    d = dist.haversine(52.2296756, 21.0122287, 41.8919300, 12.5113300)
    assert abs(float(d) - 1315511.9727160078) < 1e-6


def test_vincenty_vs_haversine():
    d_v = dist.vincenty([52.2296756], [21.0122287], [41.8919300], [12.5113300])
    # published geodesic distance for this pair ≈ 1316208.08 m (WGS-84)
    assert abs(float(d_v[0]) - 1316208.08) < 5.0
    assert float(dist.vincenty([10.0], [20.0], [10.0], [20.0])[0]) == 0.0


# ----------------------------------------------------------------------- geom
def _unit_square(shift_lon=0.0, shift_lat=0.0, size=1.0):
    return gm.polygon(
        [
            (shift_lon, shift_lat),
            (shift_lon + size, shift_lat),
            (shift_lon + size, shift_lat + size),
            (shift_lon, shift_lat + size),
        ]
    )


def test_wkb_roundtrip():
    poly = gm.polygon(
        [(0, 0), (2, 0), (2, 2), (0, 2)], holes=[[(0.5, 0.5), (1, 0.5), (1, 1), (0.5, 1)]]
    )
    buf = gm.to_wkb(poly)
    back = gm.parse_wkb(buf)
    assert back.geom_type == "Polygon"
    assert len(back.parts[0]) == 2
    assert np.allclose(back.parts[0][0], poly.parts[0][0])


def test_pip_with_hole():
    poly = gm.polygon(
        [(0, 0), (4, 0), (4, 4), (0, 4)], holes=[[(1, 1), (3, 1), (3, 3), (1, 3)]]
    )
    lons = np.array([2.0, 0.5, 5.0, 2.0])
    lats = np.array([2.0, 0.5, 2.0, 0.5])
    got = gm.points_in_polygon(lons, lats, poly)
    assert list(got) == [False, True, False, True]  # hole center is OUT


def test_geom_stats_unit_square():
    poly = _unit_square(shift_lon=10.0, shift_lat=45.0)
    n_shells, n_holes, n_points, area, border = gm.geom_stats(poly, unit="km")
    assert (n_shells, n_holes, n_points) == (1, 0, 5)
    # 1°x1° at 45N ≈ 111.1km * 78.8km ≈ 8750 km²; loose sanity bounds
    assert 8000 < area < 9500
    assert 370 < border < 400


def test_utm_zone_golden():
    # gutils.py:117-120: polygon near (-120.5, 35.5) → EPSG:32610
    assert int(gm.utm_zone_epsg(np.array([35.5]), np.array([-120.5]))[0]) == 32610
    assert int(gm.utm_zone_epsg(np.array([-33.9]), np.array([151.2]))[0]) == 32756


def test_clip_ring():
    sq = _unit_square(size=4.0)
    clipped = gm.clip_ring_to_rect(sq.parts[0][0], 1, 1, 2, 2)
    assert clipped is not None
    assert abs(abs(gm.ring_area_planar(clipped)) - 1.0) < 1e-12
    outside = gm.clip_ring_to_rect(sq.parts[0][0], 10, 10, 11, 11)
    assert outside is None


# ------------------------------------------------------------------- polyfill
def test_geohash_polyfill_semantics():
    poly = _unit_square(shift_lon=10.0, shift_lat=50.0, size=0.5)
    inter = pf.geohash_polyfill(poly, 5, mode="intersects")
    center = pf.geohash_polyfill(poly, 5, mode="center")
    assert len(inter) >= len(center) > 0
    assert set(center) <= set(inter)
    # every center-mode cell's center is inside
    clat, clon = gh.decode(np.array(center, dtype=object), 5)
    assert gm.points_in_polygon(clon, clat, poly).all()


def test_geohash_polyfill_hole_safe():
    poly = gm.polygon(
        [(10, 50), (11, 50), (11, 51), (10, 51)],
        holes=[[(10.3, 50.3), (10.7, 50.3), (10.7, 50.7), (10.3, 50.7)]],
    )
    cells = pf.geohash_polyfill(poly, 6, mode="center")
    clat, clon = gh.decode(np.array(cells, dtype=object), 6)
    in_hole = (
        (clon > 10.32) & (clon < 10.68) & (clat > 50.32) & (clat < 50.68)
    )
    assert not in_hole.any()


def test_s2_polyfill_contains_point_cell():
    poly = _unit_square(shift_lon=2.0, shift_lat=48.0, size=1.0)
    cells = pf.s2_polyfill(poly, 10, mode="intersects")
    assert cells.size > 0
    probe = s2k.latlng_to_cell(np.array([48.5]), np.array([2.5]), 10)
    assert int(np.uint64(probe[0])) in set(int(np.uint64(c)) for c in cells)
    # center-mode subset of intersects-mode
    center = pf.s2_polyfill(poly, 10, mode="center")
    assert set(center.astype(np.uint64).tolist()) <= set(
        cells.astype(np.uint64).tolist()
    )


# ---------------------------------------------------------------------- tiles
def test_tile_math_golden():
    # hand-computed: lon=0+eps,lat=0-eps at z=1 → (1,1); Paris z=12
    x, y = tl.lonlat_to_tile(np.array([2.3522]), np.array([48.8566]), 12)
    assert (int(x[0]), int(y[0])) == (2074, 1409)
    x, y = tl.lonlat_to_tile(np.array([0.0001]), np.array([-0.0001]), 1)
    assert (int(x[0]), int(y[0])) == (1, 1)
    x, y = tl.lonlat_to_tile(np.array([-180.0]), np.array([85.0]), 0)
    assert (int(x[0]), int(y[0])) == (0, 0)


def test_tile_bounds_roundtrip():
    z = 8
    xs = np.array([17, 200, 255])
    ys = np.array([5, 99, 255])
    w, s, e, n = tl.tile_bounds(xs, ys, z)
    cx = (w + e) / 2
    cy = (s + n) / 2
    bx, by = tl.lonlat_to_tile(cx, cy, z)
    assert np.array_equal(bx, xs) and np.array_equal(by, ys)


# ------------------------------------------------------------------- polyline
def test_polyline_golden():
    # osm.py:140-143 golden vector (classic precision-5 example)
    got = pl.decode("_p~iF~ps|U_ulLnnqC_mqNvxq`@", precision=5)
    assert got == [[-120.2, 38.5], [-120.95, 40.7], [-126.453, 43.252]]


def test_polyline_roundtrip6():
    coords = [[2.3522, 48.8566], [2.2945, 48.8584], [-0.1278, 51.5074]]
    enc = pl.encode(coords, precision=6)
    assert pl.decode(enc, precision=6) == coords


def test_clip_convex_concave_subject_disconnected_intersection():
    """Sutherland–Hodgman's subject may be CONCAVE (only the clip must be
    convex): a U-shaped subject clipped by a band across its two arms has
    a DISCONNECTED true intersection; S-H emits one ring with degenerate
    bridging edges whose shoelace contributions cancel, so the planar area
    equals the sum of the pieces.  This pins the kernel's real U10
    breadth: any-polygon ∩ convex-polygon area reporting, not just
    convex ∩ convex."""
    import numpy as np

    from geospatial_spark.geo import geom as gm

    u_shape = np.array(
        [(0, 0), (6, 0), (6, 5), (4, 5), (4, 2), (2, 2), (2, 5), (0, 5), (0, 0)],
        dtype=np.float64,
    )
    band = np.array(
        [(-1, 3), (7, 3), (7, 4), (-1, 4), (-1, 3)], dtype=np.float64
    )
    out = gm.clip_ring_convex(u_shape, band)
    assert out is not None
    # two 2x1 arm slices -> total area 4
    assert abs(abs(gm.ring_area_planar(out)) - 4.0) < 1e-9
    # and the reversed (CW) clip orientation gives the same result
    out2 = gm.clip_ring_convex(u_shape, band[::-1].copy())
    assert out2 is not None
    assert abs(abs(gm.ring_area_planar(out2)) - 4.0) < 1e-9


def test_split_ring_antimeridian():
    """A ring written naively across ±180 polyfills the whole longitude
    band in planar semantics (ours AND the reference's — measured 512
    cells instead of 4 at p3); split_ring_antimeridian yields valid
    [-180, 180] pieces whose union is the intended geometry."""
    import numpy as np

    from geospatial_spark.geo import polyfill as pf
    from geospatial_spark.geo.geom import (
        Geometry,
        ring_area_planar,
        split_ring_antimeridian,
    )

    ring = np.array(
        [(179.0, 10.0), (-179.0, 10.0), (-179.0, 12.0), (179.0, 12.0), (179.0, 10.0)]
    )
    pieces = split_ring_antimeridian(ring)
    assert len(pieces) == 2
    assert sorted(abs(ring_area_planar(p)) for p in pieces) == [2.0, 2.0]
    for p in pieces:
        assert p[:, 0].min() >= -180.0 and p[:, 0].max() <= 180.0
    total = sum(
        len(
            pf.geohash_polyfill(
                Geometry(geom_type="Polygon", parts=[[p]]), 3, "intersects"
            )
        )
        for p in pieces
    )
    assert total == 4  # the naive unsplit ring covers 512 cells

    # non-crossing ring: unchanged, single piece
    ring2 = np.array([(10.0, 10.0), (12.0, 10.0), (12.0, 12.0), (10.0, 12.0), (10.0, 10.0)])
    assert len(split_ring_antimeridian(ring2)) == 1

    # ring expressed entirely in 181..183-space normalizes into frame
    ring3 = np.array([(181.0, 10.0), (183.0, 10.0), (183.0, 12.0), (181.0, 12.0), (181.0, 10.0)])
    (p3,) = split_ring_antimeridian(ring3)
    assert p3[:, 0].min() == -179.0 and p3[:, 0].max() == -177.0


def _sq_wkt(x0, y0, x1, y1):
    return np.array(
        [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)], dtype=np.float64
    )


def test_parse_wkt_geometry_types():
    """WKT → Geometry for every modeled type, WKB-byte-equal to the
    constructor forms (Z dims dropped, EMPTY → zero parts)."""
    p = gm.parse_wkt("POINT (2.2945 48.8584)")
    assert gm.to_wkb(p) == gm.to_wkb(gm.point(2.2945, 48.8584))
    ls = gm.parse_wkt("LINESTRING (0 0, 1.5 2.25, 3 -1.125)")
    assert gm.to_wkb(ls) == gm.to_wkb(
        gm.linestring([(0, 0), (1.5, 2.25), (3, -1.125)])
    )
    poly = gm.parse_wkt(
        "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 3 1, 3 3, 1 3, 1 1))"
    )
    assert gm.to_wkb(poly) == gm.to_wkb(
        gm.polygon(_sq_wkt(0, 0, 4, 4), [_sq_wkt(1, 1, 3, 3)])
    )
    mp = gm.parse_wkt(
        "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((2 0, 3 0, 3 1, 2 1, 2 0)))"
    )
    assert gm.to_wkb(mp) == gm.to_wkb(
        gm.multipolygon(
            [gm.polygon(_sq_wkt(0, 0, 1, 1)), gm.polygon(_sq_wkt(2, 0, 3, 1))]
        )
    )
    assert gm.parse_wkt("MULTIPOLYGON EMPTY").parts == []
    with pytest.raises(ValueError, match="unsupported"):
        gm.parse_wkt("MULTIPOINT ((0 0))")


def test_parse_wkt_canonical_roundtrip_identity():
    """canonical-WKT → parse_wkt → canonical-WKT is the identity (fixed-9
    decimals land back on the identical e9 grid)."""
    subj = gm.l_ring_from_bbox(0.0, 0.0, 1.0, 1.0)
    star = gm.star_ring_numpy(0.45, 0.45, 40000.0, 22000.0, 16)
    for rings in gm.overlay_boolean_rings(subj, star):
        wkt = gm.rings_canonical_wkt(rings)
        if wkt is None:
            continue
        back = gm.parse_wkt(wkt)
        flat = [part[0] for part in back.parts]
        assert gm.rings_canonical_wkt(flat) == wkt
