"""Planner-lite decisions (plans/planner.py)."""

from __future__ import annotations

from geospatial_spark.plans import planner
from geospatial_spark.sources import pages as src


def test_pip_plan_small_polys_broadcasts(spark):
    pts = src.extract_points(
        src.pages(spark, "/root/testdata/sf0.001"), src.gazetteer(spark)
    )
    plan = planner.choose_pip_plan(pts, src.regions(spark))
    assert plan.strategy == "broadcast"  # 64 small boxes → tiny cell index
    assert plan.salt == 1


def test_knn_params_bounds():
    p, r = planner.choose_knn_params(n_neighbors_total=276, k=5)
    assert 1 <= p <= 6 and 1 <= r <= 3
    p2, r2 = planner.choose_knn_params(n_neighbors_total=10_000_000, k=10)
    assert p2 >= p  # denser neighbors → finer cells


def test_pip_plan_large_polys_shuffles_and_salts(spark):
    """A polygon side whose exploded cell index exceeds the broadcast budget
    must pick the shuffle strategy, and a skewed point side must derive a
    salt > 1 with a finite heavy-cell threshold."""
    import pyspark.sql.functions as F

    polys = spark.range(40_000).select(
        ((F.col("id") % 30) * 10.0 - 150.0).alias("minx"),
        ((F.col("id") % 15) * 10.0 - 75.0).alias("miny"),
        ((F.col("id") % 30) * 10.0 - 140.0).alias("maxx"),
        ((F.col("id") % 15) * 10.0 - 65.0).alias("maxy"),
    )
    # 90% of points piled on one coordinate (a megacity cell), 10% spread
    pts = spark.range(10_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(10.0))
        .otherwise((F.col("id") % 180) - 90.0 + 0.5)
        .alias("lat"),
        F.when(F.col("id") % 10 < 9, F.lit(10.0))
        .otherwise((F.col("id") % 360) - 180.0 + 0.5)
        .alias("lon"),
    )
    plan = planner.choose_pip_plan(pts, polys, sample_fraction=1.0)
    assert plan.strategy == "shuffle"
    assert plan.salt >= 2
    assert plan.heavy_cell_rows < 1 << 62


def test_force_strategy_still_derives_salt(spark):
    pts = src.extract_points(
        src.pages(spark, "/root/testdata/sf0.001"), src.gazetteer(spark)
    )
    plan = planner.choose_pip_plan(
        pts, src.regions(spark), force_strategy="shuffle"
    )
    assert plan.strategy == "shuffle"
    assert plan.salt >= 1 and plan.heavy_cell_rows < 1 << 62


def test_knn_cellring_planned_agrees_with_exact(spark):
    """The planner-parameterized cell-ring kNN (precision and first ring
    from ``choose_knn_params`` over the neighbor count, then
    ``knn_join_cellring_adaptive`` with a broadcast neighbor side — the
    way a serving caller runs it) must agree exactly with the brute-force
    baseline on the fixture."""
    from geospatial_spark.operators import knn as knn_ops
    from geospatial_spark.sources import constants as C

    SF = "/root/testdata/sf0.001"
    pts = (
        src.extract_points(src.pages(spark, SF), src.gazetteer(spark))
        .select("url", "entity", "lat", "lon")
        .distinct()
    )
    gaz_rows = [(n, la, lo) for _, n, la, lo, _ in C.gazetteer_rows()]
    keys = ["url", "entity", "neighbor_name", "rank"]
    exact = knn_ops.knn_join_broadcast(pts, gaz_rows, k=5).select(*keys)
    precision, ring = planner.choose_knn_params(len(gaz_rows), 5)
    planned = knn_ops.knn_join_cellring_adaptive(
        pts, src.gazetteer(spark).select("name", "lat", "lon"), k=5,
        precision=precision, rings=(ring, 3 * ring + 1),
        broadcast_neighbors=True,
    ).select(*keys)
    n_exact = exact.count()
    assert planned.count() == n_exact
    assert planned.join(exact, keys).count() == n_exact
