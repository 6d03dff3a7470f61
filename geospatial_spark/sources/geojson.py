"""GeoJSON source — the reference's ``gpd.read_file`` entry point
(``/root/reference/geoparse/gutils.py:433-434`` reads GeoJSON/shape files
into the GeoDataFrames every operator consumes) re-expressed Spark-first:
a distributed reader from GeoJSON Feature text to a DataFrame with a WKB
``geometry`` column plus flattened properties — the shape every operator
in this engine (pip_join, overlay_join, polyfill, geom_stats) takes.

Two layouts:

* ``layout='jsonl'`` (default — the scale path): newline-delimited
  GeoJSON, one Feature per line.  ``spark.read.text`` gives a plain
  distributed line scan (splittable, column-pruned to the one value
  column), and parsing runs in Arrow-batched ``mapInPandas`` — JSON
  decode + WKB encode are genuinely per-geometry kernels, the same class
  as the WKB codec itself.  At 100 TB this is the layout to use: line
  splits parallelize to any executor count with no driver involvement.
* ``layout='collection'``: a classic single-object FeatureCollection
  file.  One JSON document cannot be line-split, so each FILE is one
  task (``wholetext=True``) and its features explode inside the same
  Arrow batch parser.  Documented small-file path — fine for config-size
  layers (the gazetteer, a region set), wrong for bulk data.

Properties come back as ``map<string,string>`` with JSON-encoded values
(scalars keep their JSON literal form, so round-trips are exact);
malformed rows land in an ``error`` column instead of killing the scan —
at corpus scale a poison line must be quarantinable, not fatal.
"""

from __future__ import annotations

import json
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..geo import geom as gm

READ_SCHEMA = (
    "feature_id string, geom_type string, geometry binary, "
    "properties map<string,string>, error string"
)


def geojson_geometry_to_geom(g: dict) -> gm.Geometry:
    """GeoJSON geometry object → engine Geometry (Point / LineString /
    Polygon / MultiPolygon — the engine's geometry model; GeometryCollection
    and Multi* line/point types raise).  Coordinates keep full double
    precision (json round-trips Python float repr exactly)."""
    t = g.get("type")
    c = g.get("coordinates")
    if t == "Point":
        return gm.point(float(c[0]), float(c[1]))
    if t == "LineString":
        return gm.linestring([(float(x), float(y)) for x, y, *_ in c])
    if t == "Polygon":
        return gm.polygon(
            [(float(x), float(y)) for x, y, *_ in c[0]],
            [[(float(x), float(y)) for x, y, *_ in h] for h in c[1:]],
        )
    if t == "MultiPolygon":
        return gm.multipolygon(
            [
                gm.polygon(
                    [(float(x), float(y)) for x, y, *_ in part[0]],
                    [[(float(x), float(y)) for x, y, *_ in h] for h in part[1:]],
                )
                for part in c
            ]
        )
    raise ValueError(f"unsupported GeoJSON geometry type: {t!r}")


def geom_to_geojson_geometry(geom: gm.Geometry) -> dict:
    """Engine Geometry → GeoJSON geometry dict (inverse of
    ``geojson_geometry_to_geom``; rings closed, stored vertex order kept)."""
    if geom.geom_type == "Point":
        p = geom.parts[0][0][0]
        return {"type": "Point", "coordinates": [float(p[0]), float(p[1])]}
    if geom.geom_type == "LineString":
        return {
            "type": "LineString",
            "coordinates": [[float(x), float(y)] for x, y in geom.parts[0][0]],
        }
    if geom.geom_type == "Polygon":
        return {
            "type": "Polygon",
            "coordinates": [
                [[float(x), float(y)] for x, y in r] for r in geom.parts[0]
            ],
        }
    if geom.geom_type == "MultiPolygon":
        return {
            "type": "MultiPolygon",
            "coordinates": [
                [[[float(x), float(y)] for x, y in r] for r in part]
                for part in geom.parts
            ],
        }
    raise ValueError(f"unsupported geometry type: {geom.geom_type!r}")


def _parse_feature(obj: dict, idx: int):
    fid = obj.get("id")
    if fid is None:
        props0 = obj.get("properties") or {}
        fid = props0.get("id", f"_{idx}")
    geom = geojson_geometry_to_geom(obj["geometry"])
    props = {
        str(k): v if isinstance(v, str) else json.dumps(v)
        for k, v in (obj.get("properties") or {}).items()
    }
    return (str(fid), geom.geom_type, bytearray(gm.to_wkb(geom)), props, None)


def _rows_from_text(texts: Iterator[pd.Series], collection: bool):
    idx = 0
    for batch in texts:
        rows = []
        for line in batch:
            if line is None:
                continue
            s = line.strip().rstrip(",")
            if not s or s in ("[", "]"):
                continue
            try:
                obj = json.loads(s)
                feats = (
                    obj.get("features", [])
                    if collection and obj.get("type") == "FeatureCollection"
                    else [obj]
                )
                for f in feats:
                    rows.append(_parse_feature(f, idx))
                    idx += 1
            except Exception as exc:
                rows.append((None, None, None, None, f"{type(exc).__name__}: {exc}"))
        yield pd.DataFrame(
            rows,
            columns=["feature_id", "geom_type", "geometry", "properties", "error"],
        )


def feature_line_udf():
    """WKB geometry + id + properties map → one GeoJSON Feature per row
    (Arrow-batched; the JSON-side inverse of the reader's parse).  Property
    values that are valid JSON literals stay literals (the reader's
    encoding), so write→read round-trips are exact; NULL geometry → NULL."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _feat(wkb: pd.Series, fid: pd.Series, props: pd.Series) -> pd.Series:
        out = []
        for buf, i, p in zip(wkb, fid, props):
            if buf is None:
                out.append(None)
                continue
            properties = {}
            for k, v in (p or {}).items():
                try:
                    properties[k] = json.loads(v)
                except (ValueError, TypeError):
                    properties[k] = v
            out.append(
                json.dumps(
                    {
                        "type": "Feature",
                        "id": i,
                        "geometry": geom_to_geojson_geometry(
                            gm.parse_wkb(bytes(buf))
                        ),
                        "properties": properties,
                    },
                    separators=(",", ":"),
                )
            )
        return pd.Series(out, dtype=object)

    return _feat


def write_geojson(
    df: DataFrame,
    path: str,
    *,
    geometry: str = "geometry",
    feature_id: str = "feature_id",
    properties: str | None = "properties",
    mode: str = "error",
) -> None:
    """Write a WKB-geometry DataFrame as newline-delimited GeoJSON
    Features (the JSON dump sink of the reference, ``gindex.py:93-98``,
    generalized to full features): one text part-file per partition —
    the same splittable layout ``read_geojson(layout='jsonl')`` scales
    on, so write→read round-trips are byte-exact on the WKB.
    ``properties=None`` writes empty property objects."""
    from pyspark.sql import functions as F

    feat = feature_line_udf()
    props = (
        F.col(properties)
        if properties is not None
        else F.create_map().cast("map<string,string>")
    )
    lines = df.select(
        feat(F.col(geometry), F.col(feature_id).cast("string"), props).alias(
            "value"
        )
    ).filter(F.col("value").isNotNull())
    lines.write.mode(mode).text(path)


def read_geojson(
    spark: SparkSession, path: str, *, layout: str = "jsonl"
) -> DataFrame:
    """Distributed GeoJSON → DataFrame(feature_id, geom_type,
    geometry WKB, properties map<string,string>, error).

    ``layout='jsonl'``: one Feature per line (scale path — splittable
    scan, Arrow-batched parse).  ``layout='collection'``: one
    FeatureCollection object per FILE (wholetext read, one task per file
    — small layers only).  Rows that fail to parse carry the message in
    ``error`` with NULL geometry; filter ``error IS NULL`` downstream."""
    if layout not in ("jsonl", "collection"):
        raise ValueError(f"read_geojson: unknown layout {layout!r}")
    collection = layout == "collection"
    text = spark.read.text(path, wholetext=collection)
    return _parse_text_df(text, collection)


def _parse_text_df(text: DataFrame, collection: bool) -> DataFrame:
    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        yield from _rows_from_text((b["value"] for b in batches), collection)

    return text.mapInPandas(parse, READ_SCHEMA)
