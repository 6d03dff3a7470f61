"""Empty-input robustness: every operator family must return an empty
result (not raise) on empty point/page/embedding/polygon inputs — the
standard production edge (an empty partition of a date-partitioned feed,
a filter that matches nothing)."""

from __future__ import annotations

from pyspark.sql import functions as F

from geospatial_spark.operators import dedup as dd
from geospatial_spark.operators import knn as knn_ops
from geospatial_spark.operators import pip_join as pj
from geospatial_spark.operators import similarity as sim
from geospatial_spark.operators import textstats as ts
from geospatial_spark.sources import pages as src

SF = "/root/testdata/sf0.001"


def test_operators_handle_empty_inputs(spark):
    empty_pages = src.pages(spark, SF).filter(F.lit(False))
    empty_emb = spark.read.parquet(f"{SF}/embeddings.parquet").filter(F.lit(False))
    pts = src.extract_points(src.pages(spark, SF), src.gazetteer(spark))
    empty_pts = pts.filter(F.lit(False))

    assert dd.dedup_exact(empty_pages).count() == 0
    assert dd.dedup_minhash(empty_pages, max_bucket=8).count() == 0
    assert dd.dedup_simhash(empty_pages, max_bucket=8).count() == 0
    assert dd.dedup_ngram(empty_pages, max_block=16).count() == 0
    assert dd.dedup_embed(empty_emb).count() == 0
    assert sim.ann_topk(empty_emb).count() == 0
    assert sim.ann_lsh_topk(empty_emb).count() == 0
    assert sim.ann_ivf_topk(empty_emb).count() == 0
    assert (
        ts.lang_id(
            empty_pages.selectExpr("url as doc_id", "text", "lang"), spark
        ).count()
        == 0
    )
    assert ts.repetition_stats(empty_pages, id_col="url").count() == 0
    assert (
        pj.pip_join(empty_pts, src.regions(spark), point_cols=("url", "entity")).count()
        == 0
    )
    assert (
        pj.pip_join(
            pts,
            src.regions(spark).filter(F.lit(False)),
            point_cols=("url", "entity"),
        ).count()
        == 0
    )
    assert knn_ops.knn_join_broadcast(empty_pts, [("x", 0.0, 0.0)], k=5).count() == 0


def test_knn_cellring_handles_empty_inputs(spark):
    """The adaptive ring kNN returns 0 rows, with the point columns plus
    (neighbor_name, rank, dist_m), over an empty point relation and over
    an empty neighbor relation with either tail broadcast side."""
    schema = "pid string, lat double, lon double"
    pts = spark.createDataFrame([("p1", 48.3, 2.3), ("p2", -30.0, 60.0)], schema)
    nb = spark.createDataFrame([("a", 48.0, 2.0)], "name string, lat double, lon double")
    cases = [(pts.filter(F.lit(False)), nb, False)]
    cases += [(pts, nb.filter(F.lit(False)), b) for b in (False, True)]
    for p, n, bcast in cases:
        out = knn_ops.knn_join_cellring_adaptive(
            p, n, k=3, precision=2, rings=(1, 3), broadcast_neighbors=bcast
        )
        assert out.columns == ["pid", "lat", "lon", "neighbor_name", "rank", "dist_m"]
        assert out.count() == 0


def test_operators_handle_adversarial_text(spark):
    """NULL text, whitespace-only, sub-gram-length, unicode, CJK (no ascii
    tokens), and a 25k-char doc all flow through the dedup/textstats
    families without raising; the one genuine duplicate pair (u8/u9) is
    found by every scheme."""
    rows = [
        ("u1", None),
        ("u2", ""),
        ("u3", "  "),
        ("u4", "héllo wörld héllo wörld naïve café désert über"),
        ("u5", "a"),
        ("u6", "word " * 5000),
        ("u7", "你好世界 你好"),
        ("u8", "normal text with some words repeated words repeated words"),
        ("u9", "normal text with some words repeated words repeated words"),
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    assert dd.dedup_exact(df).count() == 1
    assert dd.dedup_minhash(df, max_bucket=8).count() == 1
    assert dd.dedup_simhash(df, max_bucket=8).count() == 1
    assert dd.dedup_ngram(df, max_block=16).count() == 1
    assert ts.text_quality(df, id_col="url").count() == len(rows)
    assert ts.repetition_stats(df, id_col="url").count() == 4


def test_overlay_join_edge_inputs(spark):
    """overlay_join: empty side → empty result; NULL geometry rows never
    pair (NULL bbox fails the overlap predicate in both strategies);
    non-polygonal WKB fails LOUDLY with the kernel's typed message, not a
    deep numpy error."""
    import numpy as np
    import pytest

    from geospatial_spark.geo import geom as gm
    from geospatial_spark.operators import overlay as ov

    def sq(x0, y0, x1, y1):
        return np.array(
            [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)], float
        )

    poly = bytearray(gm.to_wkb(gm.polygon(sq(0, 0, 2, 2))))
    left = spark.createDataFrame(
        [("a", poly), ("n", None)], "lid string, geometry binary"
    )
    right = spark.createDataFrame([("b", poly)], "rid string, geometry binary")
    empty = right.filter(F.lit(False))
    for strategy in ("broadcast", "grid"):
        assert ov.overlay_join(left, empty, "all", strategy=strategy).count() == 0
        assert ov.overlay_join(
            empty.withColumnRenamed("rid", "lid"), right, "all", strategy=strategy
        ).count() == 0
        rows = ov.overlay_join(left, right, "all", strategy=strategy).collect()
        assert [r["lid"] for r in rows] == ["a"]  # NULL-geom row dropped

    pt = bytearray(gm.to_wkb(gm.point(1.0, 1.0)))
    bad = spark.createDataFrame([("p", pt)], "rid string, geometry binary")
    with pytest.raises(Exception, match="not a polygonal"):
        ov.overlay_join(left, bad, "all").collect()
