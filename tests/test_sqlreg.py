"""SQL-callable function surface (functions/sqlreg.py).

Two claims under test:

1. PARITY — every ``gs_*`` SQL function is bit-identical to its
   Column-builder / numpy-kernel twin, including the lat=±90 / lon=±180
   clamp edges (the boundary class ADVICE r4 flagged on the kNN quantizer)
   and mixed level/precision values within one Arrow batch (the
   per-batch unique-value grouping path).
2. PLAN — the SQL-UDF family leaves ZERO Python in the physical plan
   (Catalyst inlines the bodies), so a pure-SQL user gets the same
   whole-stage-codegen plan as the DataFrame API.
"""

from __future__ import annotations

import contextlib
import io

import numpy as np
import pytest
from pyspark.sql import functions as F

from geospatial_spark.functions import sqlreg
from geospatial_spark.functions import udfs as U
from geospatial_spark.geo import distance as dist
from geospatial_spark.geo import geohash as gh
from geospatial_spark.geo import s2 as s2k


@pytest.fixture(scope="module")
def sql_spark(spark):
    names = sqlreg.register_sql_functions(spark)
    assert set(sqlreg.SQL_INLINED) | set(sqlreg.PANDAS_BACKED) == set(names)
    rng = np.random.default_rng(7)
    lat = np.concatenate(
        [rng.uniform(-90, 90, 200), [-90.0, 90.0, 0.0, 89.999999, -89.999999]]
    )
    lon = np.concatenate(
        [rng.uniform(-180, 180, 200), [180.0, -180.0, 0.0, 179.999999, -179.999999]]
    )
    df = spark.createDataFrame(
        [(float(a), float(b), int(i)) for i, (a, b) in enumerate(zip(lat, lon))],
        "lat double, lon double, id long",
    )
    df.createOrReplaceTempView("sqlreg_pts")
    return spark


def _vals(df, col="v"):
    return [r[col] for r in df.orderBy("id").select("id", col).collect()]


def test_haversine_tile_utm_parity(sql_spark):
    spark = sql_spark
    got = spark.sql(
        """SELECT id,
                  gs_haversine_m(lat, lon, 48.8584, 2.2945) AS hav,
                  gs_tile_x(lon, 12) AS tx, gs_tile_y(lat, 12) AS ty,
                  gs_tile_x(lon, 0) AS tx0, gs_tile_y(lat, 0) AS ty0,
                  gs_utm_zone(lon) AS zone, gs_utm_epsg(lat, lon) AS epsg
           FROM sqlreg_pts"""
    )
    pts = spark.table("sqlreg_pts")
    want = pts.select(
        "id",
        U.haversine_col(F.col("lat"), F.col("lon"), F.lit(48.8584), F.lit(2.2945)).alias("hav"),
        U.tile_x_col(F.col("lon"), 12).alias("tx"),
        U.tile_y_col(F.col("lat"), 12).alias("ty"),
        U.tile_x_col(F.col("lon"), 0).alias("tx0"),
        U.tile_y_col(F.col("lat"), 0).alias("ty0"),
        U.utm_zone_col(F.col("lon")).alias("zone"),
        U.utm_epsg_col(F.col("lat"), F.col("lon")).alias("epsg"),
    )
    g = {r["id"]: r for r in got.collect()}
    for r in want.collect():
        for c in ("hav", "tx", "ty", "tx0", "ty0", "zone", "epsg"):
            assert g[r["id"]][c] == r[c], (r["id"], c)


def test_geohash_int_parity_and_edges(sql_spark):
    spark = sql_spark
    for p in (4, 5, 7):  # 5p even and odd interleave parities
        got = _vals(
            spark.sql(f"SELECT id, gs_geohash_int(lat, lon, {p}) AS v FROM sqlreg_pts")
        )
        want = _vals(
            spark.table("sqlreg_pts").select(
                "id", U.geohash_int_col(F.col("lat"), F.col("lon"), p).alias("v")
            )
        )
        assert got == want, f"precision {p}"


def test_fixed6_color_parity(sql_spark):
    spark = sql_spark
    got = spark.sql(
        """SELECT id, gs_fixed6(lat) AS f6, gs_fixed6(-lon) AS f6n,
                  gs_color_idx(CAST(id AS STRING)) AS ci,
                  gs_color_hex(gs_color_idx(concat('poi_', id))) AS hex
           FROM sqlreg_pts"""
    )
    pts = spark.table("sqlreg_pts")
    want = pts.select(
        "id",
        U.fixed6_col(F.col("lat")).alias("f6"),
        U.fixed6_col(-F.col("lon")).alias("f6n"),
        U.color_idx_col(F.col("id").cast("string")).alias("ci"),
        U.color_hex_from_idx(
            U.color_idx_col(F.concat(F.lit("poi_"), F.col("id")))
        ).alias("hex"),
    )
    g = {r["id"]: r for r in got.collect()}
    for r in want.collect():
        for c in ("f6", "f6n", "ci", "hex"):
            assert g[r["id"]][c] == r[c], (r["id"], c)


def test_pandas_backed_mixed_scalar_args(sql_spark):
    """level/precision as a COLUMN: per-batch unique grouping must match
    the fixed-scalar kernels value-for-value."""
    spark = sql_spark
    rows = spark.sql(
        """SELECT id, lat, lon,
                  1 + CAST(id % 3 AS INT) * 3 AS p,
                  4 + CAST(id % 5 AS INT) * 3 AS lvl,
                  gs_geohash(lat, lon, 1 + CAST(id % 3 AS INT) * 3) AS ghash,
                  gs_s2_cell(lat, lon, 4 + CAST(id % 5 AS INT) * 3) AS cell,
                  gs_vincenty_m(lat, lon, 0.0, 0.0) AS vin
           FROM sqlreg_pts"""
    ).collect()
    la = np.array([r["lat"] for r in rows])
    lo = np.array([r["lon"] for r in rows])
    for p in {r["p"] for r in rows}:
        m = np.array([r["p"] == p for r in rows])
        assert [r["ghash"] for r, keep in zip(rows, m) if keep] == list(
            gh.encode(la[m], lo[m], int(p))
        )
    for lvl in {r["lvl"] for r in rows}:
        m = np.array([r["lvl"] == lvl for r in rows])
        assert [r["cell"] for r, keep in zip(rows, m) if keep] == list(
            s2k.latlng_to_cell(la[m], lo[m], int(lvl))
        )
    want_vin = dist.vincenty(la, lo, np.zeros(len(la)), np.zeros(len(la)))
    got_vin = np.array([r["vin"] for r in rows])
    np.testing.assert_allclose(got_vin, want_vin, rtol=0, atol=1e-6)
    # token/level roundtrip through the registered helpers
    tok = spark.sql(
        "SELECT gs_s2_level(gs_s2_parent(gs_s2_cell(lat, lon, 10), 6)) AS v "
        "FROM sqlreg_pts LIMIT 5"
    ).collect()
    assert all(r["v"] == 6 for r in tok)


def test_s2_cell_parent_null_argument_is_null(sql_spark):
    """SQL NULL semantics: a NULL lat, lon, cell or level yields NULL (not
    cell 0), and the NULLs sharing one Arrow batch with valid rows leave
    those rows' 64-bit ids exact (a level-30 parent is the cell itself)."""
    spark = sql_spark
    c30 = int(s2k.latlng_to_cell(np.array([-33.9]), np.array([151.2]), 30)[0])
    want12 = int(s2k.latlng_to_cell(np.array([48.85]), np.array([2.29]), 12)[0])
    df = spark.createDataFrame(
        [
            (0, 48.85, 2.29, 12, c30, 30),
            (1, 48.85, 2.29, None, None, 30),
            (2, None, 2.29, 12, c30, None),
            (3, 48.85, None, 12, c30, 30),
        ],
        "id int, lat double, lon double, lvl int, cell long, plvl int",
    ).coalesce(1)
    got = {
        r["id"]: (r["c"], r["p"])
        for r in df.select(
            "id",
            F.expr("gs_s2_cell(lat, lon, lvl)").alias("c"),
            F.expr("gs_s2_parent(cell, plvl)").alias("p"),
        ).collect()
    }
    assert got == {
        0: (want12, c30),
        1: (None, None),
        2: (None, None),
        3: (None, c30),
    }


def test_url_host_registrable_domain_parity(sql_spark):
    """gs_url_host / gs_registrable_domain vs their Column-builder twins
    (operators/domains.py) over the goldens from tests/test_domains.py plus
    synthetic hosts hitting every branch (IP literal, bare host, ccTLD
    3-label suffix, deep subdomain chains, unparseable)."""
    from geospatial_spark.operators import domains as dm

    spark = sql_spark
    urls = [
        "https://Example.COM/path?q=1",
        "http://user:pw@Sub.Shop.Example.co.uk:8080/x",
        "https://a.b.example.com/",
        "ftp://192.168.0.1/file",
        "https://localhost/x",
        "not a url",
        "https://news.ycombinator.com",
        "http://foo.ne.jp/x",
        "https://www.gov.uk/vat",
        "s3+http://u@a.b.c.d.e.org:99/k#f",
        "",
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "id long, url string"
    )
    df.createOrReplaceTempView("sqlreg_urls")
    got = spark.sql(
        """SELECT id, gs_url_host(url) AS h,
                  gs_registrable_domain(gs_url_host(url)) AS d
           FROM sqlreg_urls"""
    )
    want = df.select(
        "id",
        dm.url_host_col(F.col("url")).alias("h"),
        dm.registrable_domain_col(dm.url_host_col(F.col("url"))).alias("d"),
    )
    g = {r["id"]: (r["h"], r["d"]) for r in got.collect()}
    for r in want.collect():
        assert g[r["id"]] == (r["h"], r["d"]), urls[r["id"]]


def test_sql_inlined_family_has_zero_python_in_plan(sql_spark):
    """The whole SQL-UDF family in one query must compile to a plan with
    no Arrow/Python eval node — Catalyst inlined every body."""
    spark = sql_spark
    df = spark.sql(
        """SELECT gs_haversine_m(lat, lon, 0.0, 0.0) AS hav,
                  gs_tile_x(lon, 8) AS tx, gs_tile_y(lat, 8) AS ty,
                  gs_utm_epsg(lat, lon) AS epsg,
                  gs_geohash_int(lat, lon, 6) AS code,
                  gs_fixed6(lat) AS f6,
                  gs_color_hex(gs_color_idx(CAST(id AS STRING))) AS hex,
                  gs_registrable_domain(gs_url_host(
                    concat('https://h', id, '.shop.example.co.uk/'))) AS dom
           FROM sqlreg_pts WHERE gs_utm_zone(lon) > 10"""
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "pythonUDF" not in plan and "PythonUDF" not in plan


def test_s2_token_level_null_argument_is_null(sql_spark):
    """SQL NULL semantics for gs_s2_token / gs_s2_level: a NULL cell yields
    NULL, and the real gs_s2_cell ids sharing its Arrow batch keep their
    exact 64-bit values (a pandas UDF saw that batch as float64, rounded
    every id and returned wrong tokens and levels for the valid rows)."""
    spark = sql_spark
    pts = [
        (0, 48.85, 2.29, 30),
        (1, None, 2.29, 30),
        (2, -33.9, 151.2, 30),
        (3, 40.7, -74.0, 12),
        (4, 64.1, -21.9, 17),
    ]
    df = spark.createDataFrame(
        pts, "id int, lat double, lon double, lvl int"
    ).coalesce(1)
    cells = df.select("id", F.expr("gs_s2_cell(lat, lon, lvl)").alias("cell"))
    got = {
        r["id"]: (r["cell"], r["t"], r["l"])
        for r in cells.select(
            "id",
            "cell",
            F.expr("gs_s2_token(cell)").alias("t"),
            F.expr("gs_s2_level(cell)").alias("l"),
        ).collect()
    }
    want = {1: (None, None, None)}
    for i, lat, lon, lvl in pts:
        if lat is not None:
            c = int(s2k.latlng_to_cell(np.array([lat]), np.array([lon]), lvl)[0])
            want[i] = (c, str(s2k.to_token(np.array([c]))[0]), lvl)
    assert got == want
    assert any(c < 0 for c, _, _ in want.values() if c is not None)
