"""GeoJSON source (reference gpd.read_file entry point — gutils.py:433):
distributed JSONL/FeatureCollection reader → WKB geometry DataFrame."""

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from geospatial_spark.geo import geom as gm
from geospatial_spark.sources import geojson as gj


def _sq(x0, y0, x1, y1):
    return np.array(
        [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)], dtype=np.float64
    )


GEOMS = {
    "pt": gm.point(2.2945, 48.8584),
    "ls": gm.linestring([(0.0, 0.0), (1.5, 2.25), (3.0, -1.125)]),
    "poly": gm.polygon(_sq(0, 0, 4, 4), [_sq(1, 1, 3, 3)]),
    "mpoly": gm.multipolygon(
        [gm.polygon(_sq(0, 0, 1, 1), [_sq(0.25, 0.25, 0.75, 0.75)]),
         gm.polygon(_sq(2, 0, 3, 1))]
    ),
}


def test_geojson_codec_roundtrip_exact():
    """geometry → GeoJSON text → geometry is WKB-byte-exact (json
    round-trips float repr)."""
    for name, g in GEOMS.items():
        d = json.loads(json.dumps(gj.geom_to_geojson_geometry(g)))
        back = gj.geojson_geometry_to_geom(d)
        assert gm.to_wkb(back) == gm.to_wkb(g), name


def test_geojson_z_coordinates_dropped():
    d = {"type": "Polygon",
         "coordinates": [[[0, 0, 7], [1, 0, 7], [1, 1, 7], [0, 0, 7]]]}
    g = gj.geojson_geometry_to_geom(d)
    assert g.parts[0][0].shape[1] == 2


def test_geojson_rejects_unsupported_types():
    with pytest.raises(ValueError, match="unsupported"):
        gj.geojson_geometry_to_geom({"type": "GeometryCollection", "geometries": []})


def _write_jsonl(tmp_path, rows):
    p = os.path.join(str(tmp_path), "feats.jsonl")
    with open(p, "w") as f:
        for fid, g, props in rows:
            f.write(json.dumps({
                "type": "Feature", "id": fid,
                "geometry": gj.geom_to_geojson_geometry(g),
                "properties": props,
            }) + "\n")
    return p


def test_read_geojson_jsonl(spark, tmp_path):
    """Distributed JSONL read: WKB bytes match the source geometries
    exactly; scalar property values keep their JSON literal form."""
    rows = [(n, g, {"name": n, "rank": i}) for i, (n, g) in enumerate(GEOMS.items())]
    p = _write_jsonl(tmp_path, rows)
    got = {r["feature_id"]: r for r in gj.read_geojson(spark, p).collect()}
    assert len(got) == len(rows)
    for i, (n, g) in enumerate(GEOMS.items()):
        r = got[n]
        assert r["error"] is None
        assert bytes(r["geometry"]) == gm.to_wkb(g)
        assert r["geom_type"] == g.geom_type
        assert r["properties"]["name"] == n
        assert r["properties"]["rank"] == str(i)


def test_read_geojson_collection_layout(spark, tmp_path):
    p = os.path.join(str(tmp_path), "fc.geojson")
    feats = [
        {"type": "Feature", "id": n,
         "geometry": gj.geom_to_geojson_geometry(g), "properties": {}}
        for n, g in GEOMS.items()
    ]
    with open(p, "w") as f:
        json.dump({"type": "FeatureCollection", "features": feats}, f)
    out = gj.read_geojson(spark, p, layout="collection")
    assert out.count() == len(GEOMS)
    assert out.filter(F.col("error").isNotNull()).count() == 0


def test_read_geojson_quarantines_bad_lines(spark, tmp_path):
    """A poison line must land in the error column, not kill the scan."""
    p = _write_jsonl(tmp_path, [("ok", GEOMS["poly"], {})])
    with open(p, "a") as f:
        f.write("{not json}\n")
        f.write(json.dumps({"type": "Feature", "geometry": {"type": "Nope"},
                            "properties": {}}) + "\n")
    out = gj.read_geojson(spark, p).collect()
    good = [r for r in out if r["error"] is None]
    bad = [r for r in out if r["error"] is not None]
    assert len(good) == 1 and bytes(good[0]["geometry"]) == gm.to_wkb(GEOMS["poly"])
    assert len(bad) == 2 and all(r["geometry"] is None for r in bad)


def test_read_geojson_feeds_the_operators(spark, tmp_path):
    """The read frame plugs straight into the engine's WKB surface: bboxes
    from wkb_bbox_udf match geo.geom.bbox, and overlay_join runs on two
    read-back tables (the gpd.read_file → overlay flow of the reference)."""
    from geospatial_spark.functions import udfs
    from geospatial_spark.operators import overlay as ov

    A = gm.polygon(_sq(0, 0, 4, 4), [_sq(1, 1, 3, 3)])
    B = gm.polygon(_sq(2, 0, 6, 4))
    pa = _write_jsonl(tmp_path, [("a", A, {})])
    left = gj.read_geojson(spark, pa).select("feature_id", "geometry")
    bb = left.select(udfs.wkb_bbox_udf()(F.col("geometry")).alias("b")).first()["b"]
    assert (bb["minx"], bb["miny"], bb["maxx"], bb["maxy"]) == gm.bbox(A)
    pb = os.path.join(str(tmp_path), "b")
    os.makedirs(pb)
    _write_jsonl(pb, [("b", B, {})])
    right = gj.read_geojson(spark, os.path.join(pb, "feats.jsonl")).select(
        F.col("feature_id").alias("rid"), "geometry"
    )
    row = ov.overlay_join(left, right, "intersection").first()
    # |A∩B| = 8 − 2 (hole part) = 6
    assert row["area_e12"] == 6_000_000_000_000


def test_read_geojson_plan_is_scan_plus_arrow(spark, tmp_path):
    """The reader must plan as text scan → one Arrow python stage — no
    shuffle, no driver collect (splittable at any executor count)."""
    p = _write_jsonl(tmp_path, [("x", GEOMS["poly"], {})])
    plan = (
        gj.read_geojson(spark, p)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


def test_write_geojson_roundtrip(spark, tmp_path):
    """write_geojson → read_geojson is WKB-byte-exact and preserves
    property literals (the sink twin of the reader — ref gindex.py:93-98
    JSON dump generalized to Features)."""
    rows = [
        (n, bytearray(gm.to_wkb(g)), {"name": n, "rank": str(i)})
        for i, (n, g) in enumerate(GEOMS.items())
    ]
    df = spark.createDataFrame(
        rows, "feature_id string, geometry binary, properties map<string,string>"
    )
    out = os.path.join(str(tmp_path), "out")
    gj.write_geojson(df, out)
    back = {r["feature_id"]: r for r in gj.read_geojson(spark, out).collect()}
    assert len(back) == len(GEOMS)
    for n, g in GEOMS.items():
        assert bytes(back[n]["geometry"]) == gm.to_wkb(g)
        assert back[n]["properties"]["name"] == n
        assert back[n]["error"] is None

