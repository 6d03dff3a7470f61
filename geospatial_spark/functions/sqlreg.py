"""SQL-callable surface: register the engine's scalar vocabulary so users
can write plain ``spark.sql()`` queries against it.

``register_sql_functions(spark)`` installs two families under a ``gs_``
prefix:

1. **SQL scalar UDFs** (Spark 4 ``CREATE TEMPORARY FUNCTION ... RETURN
   <expr>``) for everything expressible as a pure expression — Catalyst
   inlines the body into the caller's plan, so these run entirely
   JVM-side inside whole-stage codegen with **no Python/Arrow crossing**
   (plan-pinned in tests/test_sqlreg.py).  Each body is the exact
   expression its Column-builder twin in ``functions/udfs.py`` emits
   (haversine_col, tile_x_col/tile_y_col, utm_zone_col/utm_epsg_col,
   color_idx_col/color_hex_from_idx, fixed6_col, geohash_int_col, and
   operators/domains.py's url_host_col/registrable_domain_col), so
   SQL results are bit-identical to the DataFrame API and to the numpy
   kernels those builders are property-tested against — including the
   lat=±90 / lon=±180 clamp edges.

2. **pandas-UDF registrations** (``spark.udf.register``) for the
   genuinely kernel-backed functions (vincenty, S2 cell math, geohash
   strings, polyline decode, WKB bbox) — Arrow-batched, never per-row.
   The cell encoders take level / precision as a real **column**
   argument (per-batch unique-value grouping over the vectorized
   kernel), so SQL callers don't need per-level function variants.
   ``gs_s2_cell`` / ``gs_s2_parent`` / ``gs_s2_token`` / ``gs_s2_level``
   are Arrow UDFs (``arrow_udf``) so a NULL argument yields NULL without
   rounding the batch's BIGINT ids.

Reference surface mirrored: geoparse exposes this vocabulary as plain
per-call Python functions (gutils.py:227 haversine, gutils.py:137
find_proj, gindex.py pointcell, karta.py:97-102 color_map); here the
same names are callable from ``spark.sql`` at cluster scale.

Why SQL UDFs and not ``spark.udf.register`` throughout: a registered
Python UDF puts an Arrow/pickle boundary in the middle of the plan and
blocks filter pushdown through it; a SQL UDF is gone after analysis —
the optimized plan is indistinguishable from hand-inlined expressions,
so predicate pushdown, constant folding, and codegen all apply.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql.functions import arrow_udf, pandas_udf
from pyspark.sql.types import LongType, StringType

from ..geo import geohash as gh
from ..geo import s2 as s2k
from . import udfs as U

def _morton_spread_sql(x: str) -> str:
    """Inline SQL twin of udfs._morton_spread_col (bit k → bit 2k)."""
    body = x
    for sh, mask in U.MORTON_STEPS:
        body = f"(({body} | shiftleft({body}, {sh})) & CAST({mask} AS BIGINT))"
    return body


def _sql_udf_defs() -> list[tuple[str, str]]:
    """(name, CREATE statement) for every pure-expression function."""
    hav = U.HAVERSINE_SQL.format(lat1="lat1", lon1="lon1", lat2="lat2", lon2="lon2")

    # tile math with z as a runtime argument (tile_x_col/tile_y_col have
    # compile-time z; shiftleft(1L, z) generalizes 1 << z)
    n_tiles = "CAST(shiftleft(CAST(1 AS BIGINT), z) AS DOUBLE)"
    clat = "greatest(-85.0511287798066, least(85.0511287798066, lat))"
    t = f"tan(radians({clat}))"
    asinh_t = f"ln(({t}) + sqrt(({t}) * ({t}) + 1.0))"
    ty = f"(1.0 - {asinh_t} / {float(np.pi)!r}) / 2.0 * {n_tiles}"

    # fixed6_col twin: exact e6-int fixed-point render (printf is not
    # engine-portable — see fixed6_col docstring)
    e6 = "CAST(floor(x * 1e6 + 0.5) AS BIGINT)"
    fixed6 = (
        f"concat(IF({e6} < 0, '-', ''), "
        f"CAST(CAST((abs({e6}) - abs({e6}) % 1000000) / 1000000 AS BIGINT) AS STRING), "
        f"'.', lpad(CAST(abs({e6}) % 1000000 AS STRING), 6, '0'))"
    )

    # color_idx_col twin: base-36 of the cleaned string mod 24 via the
    # last-two-digit closed form (36 ≡ 12, 36² ≡ 0 (mod 24))
    cleaned = r"lower(regexp_replace(CAST(v AS STRING), '[\\W_]', ''))"
    color_idx = (
        f"CASE WHEN length({cleaned}) = 0 THEN 0 ELSE "
        f"(gs__b36_digit(substr({cleaned}, length({cleaned}), 1)) "
        f"+ 12 * IF(length({cleaned}) >= 2, "
        f"gs__b36_digit(substr({cleaned}, length({cleaned}) - 1, 1)), 0)) % 24 END"
    )
    palette = ", ".join(f"'{c}'" for c in U.COLOR_PALETTE)

    # geohash_int_col twin with precision as a runtime argument:
    # lon_bits = (5p+1) div 2 takes the extra bit (geo.geohash._bits)
    lon_q = (
        "least(shiftleft(CAST(1 AS BIGINT), (5*p + 1) div 2) - 1, "
        "greatest(CAST(0 AS BIGINT), CAST(floor((lon + 180.0) / 360.0 * "
        "CAST(shiftleft(CAST(1 AS BIGINT), (5*p + 1) div 2) AS DOUBLE)) AS BIGINT)))"
    )
    lat_q = (
        "least(shiftleft(CAST(1 AS BIGINT), (5*p) div 2) - 1, "
        "greatest(CAST(0 AS BIGINT), CAST(floor((lat + 90.0) / 180.0 * "
        "CAST(shiftleft(CAST(1 AS BIGINT), (5*p) div 2) AS DOUBLE)) AS BIGINT)))"
    )
    gh_int = (
        "IF((5*p) % 2 = 1, "
        f"gs__morton_spread({lon_q}) | shiftleft(gs__morton_spread({lat_q}), 1), "
        f"shiftleft(gs__morton_spread({lon_q}), 1) | gs__morton_spread({lat_q}))"
    )

    defs = [
        ("gs__morton_spread", "(x BIGINT) RETURNS BIGINT RETURN " + _morton_spread_sql("x")),
        (
            "gs__b36_digit",
            "(ch STRING) RETURNS INT RETURN "
            "IF(ascii(ch) <= 57, ascii(ch) - 48, ascii(ch) - 87)",
        ),
        (
            "gs_haversine_m",
            "(lat1 DOUBLE, lon1 DOUBLE, lat2 DOUBLE, lon2 DOUBLE) "
            f"RETURNS DOUBLE RETURN {hav}",
        ),
        (
            "gs_tile_x",
            "(lon DOUBLE, z INT) RETURNS BIGINT RETURN "
            f"CAST(floor((lon + 180.0) / 360.0 * {n_tiles}) AS BIGINT)",
        ),
        (
            "gs_tile_y",
            "(lat DOUBLE, z INT) RETURNS BIGINT RETURN "
            f"least(shiftleft(CAST(1 AS BIGINT), z) - 1, "
            f"greatest(CAST(0 AS BIGINT), CAST(floor({ty}) AS BIGINT)))",
        ),
        (
            "gs_utm_zone",
            "(lon DOUBLE) RETURNS INT RETURN "
            "CAST(least(60, greatest(1, ceil(30.0 + lon / 6.0))) AS INT)",
        ),
        (
            "gs_utm_epsg",
            "(lat DOUBLE, lon DOUBLE) RETURNS INT RETURN "
            "CAST(IF(lat >= 0, 32600, 32700) + gs_utm_zone(lon) AS INT)",
        ),
        ("gs_fixed6", f"(x DOUBLE) RETURNS STRING RETURN {fixed6}"),
        ("gs_color_idx", f"(v STRING) RETURNS INT RETURN {color_idx}"),
        (
            "gs_color_hex",
            "(idx INT) RETURNS STRING RETURN "
            f"CASE WHEN idx >= 0 AND idx <= 23 THEN element_at(array({palette}), idx + 1) "
            f"ELSE '{U.COLOR_PALETTE[0]}' END",
        ),
        (
            "gs_geohash_int",
            f"(lat DOUBLE, lon DOUBLE, p INT) RETURNS BIGINT RETURN {gh_int}",
        ),
    ]

    # url_host_col / registrable_domain_col twins (operators/domains.py —
    # the web-corpus curation vocabulary): the host regexp contains no
    # quotes or backslashes, so it embeds verbatim; split's '\\.' is the
    # literal-dot regex after SQL string unescaping
    from ..operators.domains import _CC_SLD, _HOST_RE

    slds = ", ".join(f"'{s}'" for s in _CC_SLD)
    labels = "split(host, '\\\\.')"
    take = (
        f"IF(length(element_at({labels}, -1)) = 2 "
        f"AND element_at({labels}, -2) IN ({slds}) "
        f"AND size({labels}) >= 3, 3, 2)"
    )
    reg_dom = (
        f"CASE WHEN host RLIKE '^[0-9.]+$' OR size({labels}) <= 2 THEN host "
        f"ELSE array_join(slice({labels}, size({labels}) - {take} + 1, {take}), '.') END"
    )
    defs += [
        (
            "gs_url_host",
            "(url STRING) RETURNS STRING RETURN "
            f"lower(regexp_extract(url, '{_HOST_RE}', 1))",
        ),
        (
            "gs_registrable_domain",
            f"(host STRING) RETURNS STRING RETURN {reg_dom}",
        ),
    ]
    return defs


def _grouped_by_scalar(args: list[pa.Array], scalar: pa.Array, fn) -> pa.Array:
    """Run a (vectorized-values, python-int) kernel once per distinct
    scalar value in the batch — lets level/precision be a real column.
    A row with a NULL in ``args`` or ``scalar`` is NULL (SQL semantics)
    and never reaches the kernel.  Arrow in and out: in pandas, one NULL
    turns a BIGINT batch into float64 and rounds every 64-bit cell id."""
    valid = np.ones(len(scalar), dtype=bool)
    for a in (*args, scalar):
        valid &= a.is_valid().to_numpy(zero_copy_only=False)
    out = np.zeros(len(scalar), dtype=np.int64)
    sc = _filled(scalar)
    for v in np.unique(sc[valid]):
        mask = valid & (sc == v)
        out[mask] = fn(mask, int(v))
    return pa.array(out, mask=~valid)


def _filled(a: pa.Array) -> np.ndarray:
    """Null-free numpy view of an Arrow column (NULL slots hold 0)."""
    return a.fill_null(0).to_numpy(zero_copy_only=False)


def _pandas_udf_defs():
    @arrow_udf(LongType())
    def gs_s2_cell(lat: pa.Array, lon: pa.Array, level: pa.Array) -> pa.Array:
        la, lo = _filled(lat), _filled(lon)
        return _grouped_by_scalar(
            [lat, lon], level, lambda m, lv: s2k.latlng_to_cell(la[m], lo[m], lv)
        )

    @arrow_udf(LongType())
    def gs_s2_parent(cell: pa.Array, level: pa.Array) -> pa.Array:
        c = _filled(cell)
        return _grouped_by_scalar([cell], level, lambda m, lv: s2k.parent(c[m], lv))

    @pandas_udf(StringType())
    def gs_geohash(lat: pd.Series, lon: pd.Series, p: pd.Series) -> pd.Series:
        la, lo = lat.to_numpy(), lon.to_numpy()
        out = np.empty(len(lat), dtype=object)
        pv = p.to_numpy()
        for v in pd.unique(p.dropna()):
            mask = pv == v
            out[mask] = gh.encode(la[mask], lo[mask], int(v))
        return pd.Series(out)

    return [
        ("gs_s2_cell", gs_s2_cell),
        ("gs_s2_parent", gs_s2_parent),
        ("gs_geohash", gs_geohash),
        ("gs_s2_token", U.s2_token_udf),
        ("gs_s2_level", U.s2_level_udf),
        ("gs_geohash_resolution", U.geohash_resolution_udf),
        ("gs_vincenty_m", U.vincenty_udf),
        ("gs_polyline_decode", U.polyline_decode_udf()),
        ("gs_wkb_bbox", U.wkb_bbox_udf()),
    ]


#: names registered as Catalyst-inlined SQL UDFs (zero Python in the plan).
#: Static literals (not derived from the def lists) because building a
#: pandas UDF with a DDL-string return type needs an active SparkSession;
#: register_sql_functions asserts the lists agree at registration time.
SQL_INLINED = (
    "gs_haversine_m",
    "gs_tile_x",
    "gs_tile_y",
    "gs_utm_zone",
    "gs_utm_epsg",
    "gs_fixed6",
    "gs_color_idx",
    "gs_color_hex",
    "gs_geohash_int",
    "gs_url_host",
    "gs_registrable_domain",
)
#: names registered as Arrow-batched pandas UDFs (kernel-backed)
PANDAS_BACKED = (
    "gs_s2_cell",
    "gs_s2_parent",
    "gs_geohash",
    "gs_s2_token",
    "gs_s2_level",
    "gs_geohash_resolution",
    "gs_vincenty_m",
    "gs_polyline_decode",
    "gs_wkb_bbox",
)


def register_sql_functions(spark: SparkSession) -> tuple[str, ...]:
    """Install the ``gs_*`` function vocabulary on this session.

    Idempotent (CREATE OR REPLACE / re-register).  Returns the installed
    public names.
    """
    sql_defs = _sql_udf_defs()
    pandas_defs = _pandas_udf_defs()
    assert tuple(n for n, _ in sql_defs if not n.startswith("gs__")) == SQL_INLINED
    assert tuple(n for n, _ in pandas_defs) == PANDAS_BACKED
    for name, tail in sql_defs:
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{tail}")
    for name, fn in pandas_defs:
        spark.udf.register(name, fn)
    return SQL_INLINED + PANDAS_BACKED
