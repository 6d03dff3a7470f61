"""DuckDB oracle SQL builders — CTE snippets that reconstruct the derived
``pages`` / ``gaz`` / ``regions`` / ``points`` tables bit-identically to the
Spark builders in ``sources.pages`` (exact integer LCG + IEEE doubles).

Every oracle query the driver runs is self-contained: it prefixes these CTEs
onto the per-query SELECT (the driver pre-registers only the base parquet
views: documents, events, ...).
"""

from __future__ import annotations

import functools as _functools
import hashlib as _hashlib

from ..functions.udfs import OVERLAY_GEOMS
from . import constants as C


def rnd_sql(x: str, salt: int) -> str:
    y = f"({x} + {C.SALT_STRIDE * salt})"
    for _ in range(3):
        y = f"((({y}) * {C.LCG_A} + {C.LCG_C}) % {C.LCG_M})"
    return y


def _dbl(v: float) -> str:
    return f"CAST({v!r} AS DOUBLE)"


def _dbl_exact(v: float) -> str:
    """Full-precision double literal.  A bare numeric literal parses through
    DECIMAL and silently loses the 17th significant digit (measured:
    CAST(54.829593719914556 AS DOUBLE) → ...1456); the VARCHAR → DOUBLE
    cast round-trips repr() exactly."""
    return f"CAST('{v!r}' AS DOUBLE)"


def gaz_cte() -> str:
    mega_name = " ".join(
        f"WHEN i = {C.N_SYNTH_CITIES + k} THEN '{name}'"
        for k, (name, _, _) in enumerate(C.MEGACITIES)
    )
    mega_lat = " ".join(
        f"WHEN i = {C.N_SYNTH_CITIES + k} THEN {_dbl(lat)}"
        for k, (_, lat, _) in enumerate(C.MEGACITIES)
    )
    mega_lon = " ".join(
        f"WHEN i = {C.N_SYNTH_CITIES + k} THEN {_dbl(lon)}"
        for k, (_, _, lon) in enumerate(C.MEGACITIES)
    )
    n = C.N_SYNTH_CITIES + C.N_MEGA
    return f"""gaz AS (
  SELECT i,
    CASE {mega_name} ELSE 'city_' || lpad(CAST(i AS VARCHAR), 3, '0') END AS name,
    CASE {mega_lat} ELSE {_dbl(-60.0)} + {_dbl(130.0)} * ({rnd_sql('i', C.SALT_GAZ_LAT)} / {_dbl(float(C.LCG_M))}) END AS lat,
    CASE {mega_lon} ELSE {_dbl(-180.0)} + {_dbl(360.0)} * ({rnd_sql('i', C.SALT_GAZ_LON)} / {_dbl(float(C.LCG_M))}) END AS lon,
    1000000000 // (1 + {rnd_sql('i', C.SALT_GAZ_POP)} % {n}) AS population
  FROM (SELECT CAST(range AS BIGINT) AS i FROM range({n}))
)"""


def pages_cte(replication: int = C.REPLICATION) -> str:
    idx_exprs = []
    for k in range(3):
        raw = rnd_sql("page_id", C.SALT_MENTION_BASE + k)
        idx_exprs.append(
            f"CASE WHEN {raw} % {C.MEGACITY_MOD} = 0 "
            f"THEN {C.N_SYNTH_CITIES} + (({raw}) // 4) % {C.N_MEGA} "
            f"ELSE {raw} % {C.N_SYNTH_CITIES} END AS idx{k}"
        )
    return f"""pages_base AS (
  SELECT d.doc_id * {replication} + r.rep AS page_id, d.text AS base_text, d.lang,
         {rnd_sql(f'(d.doc_id * {replication} + r.rep)', C.SALT_N_MENTIONS)} % 4 AS n_mentions
  FROM documents d
  CROSS JOIN (SELECT CAST(range AS BIGINT) AS rep FROM range({replication})) r
),
pages_idx AS (
  SELECT *, {', '.join(idx_exprs)} FROM pages_base
),
pages AS (
  SELECT
    'https://example.org/' || p.lang || '/' || CAST(p.page_id AS VARCHAR) AS url,
    e.ts AS warc_ts,
    p.base_text
      || CASE WHEN p.n_mentions > 0 THEN ' near ' || g0.name || '.' ELSE '' END
      || CASE WHEN p.n_mentions > 1 THEN ' near ' || g1.name || '.' ELSE '' END
      || CASE WHEN p.n_mentions > 2 THEN ' near ' || g2.name || '.' ELSE '' END AS text,
    p.lang, p.page_id
  FROM pages_idx p
  LEFT JOIN gaz g0 ON g0.i = p.idx0
  LEFT JOIN gaz g1 ON g1.i = p.idx1
  LEFT JOIN gaz g2 ON g2.i = p.idx2
  JOIN events e ON e.event_id = p.page_id % (SELECT count(*) FROM events)
)"""


def regions_cte() -> str:
    return f"""regions AS (
  SELECT r.i AS region_idx,
    'region_' || lpad(CAST(r.i AS VARCHAR), 2, '0') AS region_id,
    g.lon - (0.5 + 3.0 * ({rnd_sql('r.i', C.SALT_REGION_W)} / {_dbl(float(C.LCG_M))})) AS minx,
    g.lat - (0.5 + 2.0 * ({rnd_sql('r.i', C.SALT_REGION_H)} / {_dbl(float(C.LCG_M))})) AS miny,
    g.lon + (0.5 + 3.0 * ({rnd_sql('r.i', C.SALT_REGION_W)} / {_dbl(float(C.LCG_M))})) AS maxx,
    g.lat + (0.5 + 2.0 * ({rnd_sql('r.i', C.SALT_REGION_H)} / {_dbl(float(C.LCG_M))})) AS maxy
  FROM (SELECT CAST(range AS BIGINT) AS i FROM range({C.N_REGIONS})) r
  JOIN gaz g ON g.i = CASE WHEN r.i < {C.REGION_MEGA_START} THEN (r.i * 6) % {C.N_SYNTH_CITIES}
                           ELSE {C.N_SYNTH_CITIES} + (r.i - {C.REGION_MEGA_START}) END
)"""


def points_cte() -> str:
    # DuckDB regexp_extract_all(text, pattern, group)
    pat = C.ENTITY_REGEX.replace("'", "''")
    return f"""mentions AS (
  SELECT url, unnest(regexp_extract_all(text, '{pat}', 1)) AS entity FROM pages
),
points AS (
  SELECT m.url, m.entity, g.lat, g.lon
  FROM mentions m JOIN gaz g ON g.name = m.entity
)"""


def with_geo_ctes(select_sql: str, replication: int = C.REPLICATION) -> str:
    """Wrap a SELECT with the full derivation CTE chain."""
    return (
        "WITH "
        + ",\n".join([gaz_cte(), pages_cte(replication), regions_cte(), points_cte()])
        + "\n"
        + select_sql
    )


def ways_ctes() -> str:
    """The ways fixture as real coordinate arrays (mirrors
    operators.ways.ways_table): region rectangle rings (closed, 5 vertices)
    plus gazetteer trajectories (open, ordered by point index)."""
    return """rw AS (
  SELECT region_idx AS way_id,
    [struct_pack(lon := minx, lat := miny), struct_pack(lon := maxx, lat := miny),
     struct_pack(lon := maxx, lat := maxy), struct_pack(lon := minx, lat := maxy),
     struct_pack(lon := minx, lat := miny)] AS coords
  FROM regions),
tw AS (
  SELECT CAST(i // 10 AS BIGINT) + 1000 AS way_id,
         list(struct_pack(lon := lon, lat := lat) ORDER BY i ASC) AS coords
  FROM gaz GROUP BY 1),
ways AS (SELECT * FROM rw UNION ALL SELECT * FROM tw)"""


# ---------------------------------------------------------------------------
# kernel-computed inline maps (the SURVEY §5 "engine materializes the cell
# column" trick, driver-friendly form: the mapping is computed ONCE at
# oracle-generation time by the LOCAL numpy kernels over the constant
# gazetteer/region fixtures — sf-independent — and inlined as VALUES.  The
# kernels themselves are validated against published golden vectors in
# tests/test_geo_kernels.py; the oracle then independently verifies all
# relational structure (joins, grouping, counts) around them.)
# ---------------------------------------------------------------------------


@_functools.lru_cache(maxsize=None)
def s2_gaz_map_values(level: int = 12) -> str:
    """VALUES CTE body: (lat, lon, cell_id, token, center_lat, center_lon)
    for every gazetteer coordinate at the given S2 level."""
    import numpy as np

    from ..geo import s2 as s2k

    rows = C.gazetteer_rows()
    lat = np.array([r[2] for r in rows], dtype=np.float64)
    lon = np.array([r[3] for r in rows], dtype=np.float64)
    cid = s2k.latlng_to_cell(lat, lon, level)
    tok = s2k.to_token(cid)
    clat, clon = s2k.cell_center_latlng(cid)
    vals = ", ".join(
        f"({_dbl_exact(float(la))}, {_dbl_exact(float(lo))}, {int(c)}, '{t}', "
        f"{_dbl_exact(float(cla))}, {_dbl_exact(float(clo))})"
        for la, lo, c, t, cla, clo in zip(lat, lon, cid, tok, clat, clon)
    )
    return f"s2m(lat, lon, cell_id, token, center_lat, center_lon) AS (VALUES {vals})"


@_functools.lru_cache(maxsize=None)
def vincenty_gaz_map_values() -> str:
    """VALUES CTE body: (lat, lon, km_bucket) — Vincenty distance to London
    per gazetteer coordinate, whole-km bucket (iterative geodesic has no
    closed SQL form; the local kernel is golden-tested)."""
    import numpy as np

    from ..geo import distance as dist

    rows = C.gazetteer_rows()
    lat = np.array([r[2] for r in rows], dtype=np.float64)
    lon = np.array([r[3] for r in rows], dtype=np.float64)
    lond = [m for m in C.MEGACITIES if m[0] == "London"][0]
    d = dist.vincenty(lat, lon, np.full_like(lat, lond[1]), np.full_like(lon, lond[2]))
    bucket = np.floor(d / 1000.0).astype(np.int64)
    vals = ", ".join(
        f"({_dbl_exact(float(la))}, {_dbl_exact(float(lo))}, {int(b)})"
        for la, lo, b in zip(lat, lon, bucket)
    )
    return f"vm(lat, lon, km_bucket) AS (VALUES {vals})"


@_functools.lru_cache(maxsize=None)
def compact_regions_values_sql() -> str:
    """Pinned per-resolution histogram of compact(union of region covers at
    geohash p5), computed by the LOCAL compact twin (geo/compact.py) over the
    local polyfill — regions are sf-independent, so the histogram is a
    constant; the distributed operator must reproduce it exactly."""
    from collections import Counter

    from ..geo import compact as gc
    from ..geo import geom as gm
    from ..geo import polyfill as pf

    cells: set[str] = set()
    for _i, _rid, _cidx, minx, miny, maxx, maxy in C.region_rows():
        poly = gm.polygon([(minx, miny), (maxx, miny), (maxx, maxy), (minx, maxy)])
        cells.update(str(c) for c in pf.geohash_polyfill(poly, 5, "intersects"))
    comp = gc.compact_geohash(sorted(cells))
    hist = Counter(len(c) for c in comp)
    vals = ", ".join(f"({res}, {n})" for res, n in sorted(hist.items()))
    return (
        "SELECT CAST(res AS INT) AS res, CAST(n_cells AS BIGINT) AS n_cells "
        f"FROM (VALUES {vals}) t(res, n_cells)"
    )


@_functools.lru_cache(maxsize=None)
def geom_stats_values() -> str:
    """VALUES CTE body: (region_id, area_fl, border_fl) — UTM shoelace
    area / perimeter of every region polygon, computed by the LOCAL numpy
    kernel (geo/geom.py geom_stats — golden-tested against geodesic
    references) and floored to exact ints.  Turns the geom_stats oracle's
    measure columns into real kernel output instead of literals (round-1
    advice: non-vacuous parity)."""
    import math

    from ..geo import geom as gm

    vals = []
    for _i, rid, _cidx, minx, miny, maxx, maxy in C.region_rows():
        poly = gm.polygon([(minx, miny), (maxx, miny), (maxx, maxy), (minx, maxy)])
        g = gm.parse_wkb(gm.to_wkb(poly))
        _ns, _nh, _np, area, border = gm.geom_stats(g, "m")
        vals.append(f"('{rid}', {int(math.floor(area))}, {int(math.floor(border))})")
    return f"gsm(region_id, area_fl, border_fl) AS (VALUES {', '.join(vals)})"


# clip_general query constants: the conservative bbox-prefilter margin
# (10 km ≈ 0.09° lat; 0.3° covers the lon stretch up to |lat| 72°) — the
# margin expression is part of the query semantics and mirrored verbatim
# in Spark and SQL.
CLIP_CONVEX_MARGIN = 0.3


# general-overlay query constants: convex 16-gon radius (shared with
# clip_convex history), concave-star outer/inner radii, and the same
# conservative bbox-prefilter margin
CLIP_GENERAL_R_OUTER = 10000.0
CLIP_GENERAL_R_INNER = 6000.0


@_functools.lru_cache(maxsize=None)
def clip_general_values() -> str:
    """VALUES CTE body: (region_id, name, mode, n_pieces, inter_e12,
    union_e12, diff_e12) — boolean-overlay area metrics of the concave
    L-ring of each region bbox against BOTH clip shapes of each bbox-near
    gazetteer point: the convex 16-gon buffer (mode 'convex', direct
    Sutherland–Hodgman) and the concave 16-vertex star (mode 'star',
    ear-clip triangulation + per-triangle S-H — geo.geom.overlay_metrics,
    the SAME kernel the Spark UDF runs, so parity is bit-exact).  Disjoint
    pairs are omitted; the oracle LEFT JOIN surfaces them as NULLs,
    mirroring the UDF's NULL rows."""
    import numpy as np

    from ..geo import geom as gm

    m = CLIP_CONVEX_MARGIN
    vals = []
    for _i, rid, _cidx, minx, miny, maxx, maxy in C.region_rows():
        poly = gm.polygon([(minx, miny), (maxx, miny), (maxx, maxy), (minx, maxy)])
        shell = gm.parse_wkb(gm.to_wkb(poly)).parts[0][0]
        subj = gm.l_ring_from_bbox(
            float(shell[:, 0].min()), float(shell[:, 1].min()),
            float(shell[:, 0].max()), float(shell[:, 1].max()),
        )
        for _gi, name, glat, glon, _pop in C.gazetteer_rows():
            if not (
                glat >= miny - m
                and glat <= maxy + m
                and glon >= minx - m
                and glon <= maxx + m
            ):
                continue
            for mode in ("convex", "star"):
                if mode == "convex":
                    clip = gm.buffer_ring_numpy(glat, glon, CLIP_GENERAL_R_OUTER, 16)
                else:
                    clip = gm.star_ring_numpy(
                        glat, glon, CLIP_GENERAL_R_OUTER, CLIP_GENERAL_R_INNER, 16
                    )
                # ONE triangulate+clip pass (geo.geom.overlay_full — the
                # SAME call the Spark UDF makes, so parity is bit-exact);
                # geometry pins are md5(canonical WKT) of the dissolved
                # rings, value-checked cross-engine via Spark's F.md5
                res = gm.overlay_full(subj, clip, convex_clip=(mode == "convex"))
                if res.inter <= 0.0:
                    continue

                def _md5(rs):
                    # a sub-quantum sliver has metrics but no e9 geometry
                    # — NULL wkt/md5 on both engines
                    wkt = gm.rings_canonical_wkt(rs)
                    if wkt is None:
                        return "NULL"
                    return f"'{_hashlib.md5(wkt.encode()).hexdigest()}'"

                vals.append(
                    f"('{rid}', '{name}', '{mode}', {res.n_pieces}, "
                    f"{int(np.floor(res.inter * 1e12 + 0.5))}, "
                    f"{int(np.floor(res.union * 1e12 + 0.5))}, "
                    f"{int(np.floor(res.diff_ab * 1e12 + 0.5))}, "
                    f"{len(res.inter_rings)}, "
                    f"{sum(len(r) - 1 for r in res.inter_rings)}, "
                    f"{_md5(res.inter_rings)}, {_md5(res.diff_rings)}, "
                    f"{_md5(res.union_rings)})"
                )
    if not vals:
        raise RuntimeError("clip_general_values: empty kernel map")
    return (
        "cgm(region_id, name, mode, n_pieces, inter_e12, union_e12, diff_e12, "
        "n_rings, ring_pts, geom_md5, diff_md5, union_md5) "
        f"AS (VALUES {', '.join(vals)})"
    )


@_functools.lru_cache(maxsize=None)
def star_bbox_values() -> str:
    """VALUES CTE body: (name, sminx, sminy, smaxx, smaxy) — the bbox of
    every ``fixtures.star_polygon_rows`` WKB, computed from the SAME bytes
    ``operators.overlay.overlay_join``'s prefilter parses (geo.geom.bbox),
    so the SQL pairing join reproduces the Spark bbox-overlap prefilter
    bit-exactly (exact-repr double literals)."""
    from ..geo import geom as gm
    from . import fixtures as FX

    vals = []
    for name, w in FX.star_polygon_rows():
        x0, y0, x1, y1 = gm.bbox(gm.parse_wkb(w))
        vals.append(
            f"('{name}', {_dbl_exact(x0)}, {_dbl_exact(y0)}, "
            f"{_dbl_exact(x1)}, {_dbl_exact(y1)})"
        )
    return f"sbb(name, sminx, sminy, smaxx, smaxy) AS (VALUES {', '.join(vals)})"


@_functools.lru_cache(maxsize=None)
def overlay_join_values() -> str:
    """VALUES CTE body for the ``overlay_join`` registry entry: one row per
    bbox-candidate (region_id, name) pair of the holed-region × star fixture
    tables, carrying the full five-way boolean overlay — n_pieces, exact
    e12-int areas of A, B and all five regions, plus per-region ring/vertex
    counts and md5(canonical fixed-9 WKT) geometry pins.  Generated by the
    SAME kernel call the Spark UDF makes (``geo.geom.overlay_wkb`` over the
    shared ``sources.fixtures`` buffers), so parity is bit-exact.

    KERNEL-CIRCULAR by construction (like clip_general_values — acknowledged
    in the entry docstring): the independent evidence is the invariant sweep
    in tests/test_overlay_general.py / test_overlay_join.py (area algebra,
    even-odd membership parity), not this map."""
    import numpy as np

    from ..geo import geom as gm
    from . import fixtures as FX

    def _e12(x: float) -> int:
        return int(np.floor(x * 1e12 + 0.5))

    hr = dict(FX.holed_region_rows())
    sp = dict(FX.star_polygon_rows())
    vals = []
    for rid, name in FX.overlay_candidate_pairs():
        res = gm.overlay_wkb(hr[rid], sp[name])
        row = [
            f"'{rid}'", f"'{name}'", str(res.n_pieces),
            str(_e12(res.area_a)), str(_e12(res.area_b)),
        ]
        for area, rings in (
            (res.inter, res.inter_rings),
            (res.diff_ab, res.diff_rings),
            (res.diff_ba, res.diff_ba_rings),
            (res.union, res.union_rings),
            (res.symdiff, res.symdiff_rings),
        ):
            wkt = gm.rings_canonical_wkt(rings)
            md5 = (
                "NULL" if wkt is None
                else f"'{_hashlib.md5(wkt.encode()).hexdigest()}'"
            )
            row += [
                str(_e12(area)),
                str(len(rings)),
                str(sum(len(r) - 1 for r in rings)),
                md5,
            ]
        vals.append(f"({', '.join(row)})")
    if not vals:
        raise RuntimeError("overlay_join_values: empty kernel map")
    cols = ["region_id", "name", "n_pieces", "area_a_e12", "area_b_e12"]
    for g in OVERLAY_GEOMS:
        cols += [f"{g}_e12", f"{g}_n_rings", f"{g}_ring_pts", f"{g}_md5"]
    return f"ovm({', '.join(cols)}) AS (VALUES {', '.join(vals)})"


@_functools.lru_cache(maxsize=None)
def s2_roundtrip_values_sql(level: int = 12, child_level: int = 14) -> str:
    """Pinned expected result of compact(uncompact(gaz_cells, child_level))
    over the constant gazetteer S2 cell set, computed by the LOCAL twins
    (geo/compact.py): one row (n_cells, cells_xor).  The distributed
    compact MUST fully collapse the complete child families back to the
    same set — count + order-insensitive xor pin set equality."""
    import numpy as np

    from ..geo import compact as gc
    from ..geo import s2 as s2k

    rows = C.gazetteer_rows()
    lat = np.array([r[2] for r in rows], dtype=np.float64)
    lon = np.array([r[3] for r in rows], dtype=np.float64)
    cells = np.unique(s2k.latlng_to_cell(lat, lon, level))
    kids = gc.uncompact_s2(cells, child_level)
    back = np.asarray(gc.compact_s2(kids), dtype=np.int64)
    # xor in unsigned-64 space, then wrap to signed like Spark's BIGINT
    mask = (1 << 64) - 1
    x = 0
    for v in back:
        x ^= int(v) & mask
    if x >= 1 << 63:
        x -= 1 << 64
    return (
        f"SELECT CAST({len(back)} AS BIGINT) AS n_cells, "
        f"CAST({x} AS BIGINT) AS cells_xor"
    )
