"""Adaptive per-point kNN ring escalation (round-3 review item 2): on a
density-skewed fixture — a dense megacity cluster plus sparse ocean
stations — the r3 fixed global ring returns short rows for sparse points;
the adaptive operator must return EXACT global kNN for every point."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from geospatial_spark.functions import udfs
from geospatial_spark.operators import knn as knn_ops


@pytest.fixture(scope="module")
def skewed(spark):
    """240 neighbors packed into ~1° around Paris + 4 lone ocean stations;
    query points in the dense core, at mid distance, and deep in the
    southern ocean (k-th neighbor far beyond geohash-p2 ring 3 ≈ 17° lat)."""
    dense = [
        (f"n{i:03d}", 48.0 + (i % 16) * 0.06, 2.0 + (i // 16) * 0.06)
        for i in range(240)
    ]
    sparse = [
        ("ocean_a", -52.0, -120.0),
        ("ocean_b", -48.0, 80.0),
        ("ocean_c", -55.0, 10.0),
        ("ocean_d", 5.0, -140.0),
    ]
    nb = spark.createDataFrame(dense + sparse, "name string, lat double, lon double")
    pts = spark.createDataFrame(
        [
            ("p_dense1", 48.3, 2.3),
            ("p_dense2", 48.9, 2.9),
            ("p_mid", 40.0, -3.7),
            ("p_ocean1", -60.0, -150.0),  # k-th neighbor thousands of km away
            ("p_ocean2", -30.0, 60.0),
            ("p_pole", 84.0, 10.0),  # cos(phi_cap) → 0: lon bound collapses
        ],
        "pid string, lat double, lon double",
    )
    return pts, nb


def _exact(pts, nb, k):
    """Brute-force reference built with the SAME JVM haversine + tie-break."""
    cand = pts.crossJoin(
        nb.select(
            F.col("name").alias("neighbor_name"),
            F.col("lat").alias("__nlat"),
            F.col("lon").alias("__nlon"),
        )
    ).withColumn(
        "dist_m",
        udfs.haversine_col(F.col("lat"), F.col("lon"), F.col("__nlat"), F.col("__nlon")),
    )
    w = Window.partitionBy("pid", "lat", "lon").orderBy(
        F.col("dist_m").asc(), F.col("neighbor_name").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("pid", "neighbor_name", "rank", "dist_m")
    )


def test_adaptive_exact_on_density_skew(spark, skewed):
    pts, nb = skewed
    got = (
        knn_ops.knn_join_cellring_adaptive(
            pts, nb, k=5, precision=2, rings=(1, 3, 7, 15)
        )
        .select("pid", "neighbor_name", "rank", "dist_m")
        .collect()
    )
    want = _exact(pts, nb, 5).collect()
    key = lambda r: (r["pid"], r["rank"])
    got_s = sorted(((r["pid"], r["rank"], r["neighbor_name"], r["dist_m"]) for r in got))
    want_s = sorted(((r["pid"], r["rank"], r["neighbor_name"], r["dist_m"]) for r in want))
    assert got_s == want_s  # bit-exact: same formula, same tie-break
    assert len(got_s) == 6 * 5


def test_adaptive_exact_when_neighbors_fewer_than_k(spark, skewed):
    """n_neighbors < k: no point can ever satisfy the ring guarantee, the
    whole input takes the fallback — must still equal brute force with
    min(k, n) rows per point."""
    pts, nb = skewed
    tiny = nb.limit(0).unionByName(
        spark.createDataFrame(
            [("only_a", 10.0, 10.0), ("only_b", -10.0, -10.0)],
            "name string, lat double, lon double",
        )
    )
    got = knn_ops.knn_join_cellring_adaptive(pts, tiny, k=5, precision=2, rings=(3,))
    want = _exact(pts, tiny, 5)
    assert sorted(map(tuple, got.select("pid", "neighbor_name", "rank").collect())) == sorted(
        map(tuple, want.select("pid", "neighbor_name", "rank").collect())
    )
    assert got.count() == 6 * 2


def test_adaptive_exact_at_boundary_coordinates(spark):
    """Round-4 advice (medium): lat=90 / lon=±180 must quantize into the
    LAST grid cell exactly like geo.geohash.quantize clips — an unclamped
    floor would alias the pole row into the adjacent lon column's row 0
    (invisible to the ring join) and break the EXACT claim.  Neighbors and
    query points sit on every boundary; result must equal brute force."""
    nb = spark.createDataFrame(
        [
            ("pole_n", 90.0, 0.0),
            ("pole_s", -90.0, 0.0),
            ("anti_e", 10.0, 180.0),
            ("anti_w", 10.0, -180.0),
            ("corner", 90.0, 180.0),
            ("mid_a", 45.0, 45.0),
            ("mid_b", -45.0, -45.0),
            ("mid_c", 0.0, 0.0),
        ],
        "name string, lat double, lon double",
    )
    pts = spark.createDataFrame(
        [
            ("q_pole", 89.5, -20.0),
            ("q_anti", 9.0, 179.5),
            ("q_anti_w", 9.0, -179.5),
            ("q_corner", 89.0, 179.0),
            ("q_mid", 44.0, 44.0),
        ],
        "pid string, lat double, lon double",
    )
    got = knn_ops.knn_join_cellring_adaptive(
        pts, nb, k=3, precision=2, rings=(1, 3, 7)
    )
    want = _exact(pts, nb, 3)
    g = sorted(map(tuple, got.select("pid", "neighbor_name", "rank").collect()))
    w = sorted(map(tuple, want.select("pid", "neighbor_name", "rank").collect()))
    assert g == w
    assert len(g) == 5 * 3


def test_adaptive_rejects_all_rings_spanning_lon_circle(spark, skewed):
    """Round-4 advice (low): a first ring spanning the lon circle used to
    fall through to broadcasting the ENTIRE point set; now too-wide rings
    are trimmed up front and an all-invalid ladder raises."""
    pts, nb = skewed
    with pytest.raises(ValueError, match="longitude grid"):
        knn_ops.knn_join_cellring_adaptive(
            pts, nb, k=5, precision=1, rings=(64,)
        )
    # a ladder whose WIDEST rings are invalid is trimmed, still exact
    got = knn_ops.knn_join_cellring_adaptive(
        pts, nb, k=5, precision=2, rings=(3, 10_000)
    )
    want = _exact(pts, nb, 5)
    assert sorted(
        map(tuple, got.select("pid", "neighbor_name", "rank").collect())
    ) == sorted(map(tuple, want.select("pid", "neighbor_name", "rank").collect()))


def test_adaptive_tail_broadcasts_neighbor_side_when_attested_small(spark, skewed):
    """broadcast_neighbors=True must flip the tail's broadcast side to the
    neighbor relation (the remainder's size is then irrelevant) AND stay
    exact."""
    pts, nb = skewed
    got = knn_ops.knn_join_cellring_adaptive(
        pts, nb, k=5, precision=2, rings=(1,), broadcast_neighbors=True
    )
    want = _exact(pts, nb, 5)
    assert sorted(
        map(tuple, got.select("pid", "neighbor_name", "rank").collect())
    ) == sorted(map(tuple, want.select("pid", "neighbor_name", "rank").collect()))


def test_adaptive_null_named_neighbor_counts_as_candidate(spark):
    """A neighbor whose name is NULL is a real candidate: here it is the
    point's nearest, one geohash-p2 cell east of the point's own cell.
    Counting or filtering candidates by ``neighbor_name`` would drop it
    and return (i, a, j) instead of the brute-force (NULL, i, a).  A point
    with a NULL latitude quantizes to the south-pole row, where s1-s3 give
    it k candidates with NULL distances: it must not be satisfied there
    but still get k rows (NULL distances, name order) from the exact tail,
    like the brute force."""
    nb = spark.createDataFrame(
        [
            (None, 48.3, 11.5),
            ("a", 48.0, 10.0),
            ("i", 48.5, 10.5),
            ("j", 47.5, 9.0),
            ("e", 60.0, 30.0),
            ("s1", -89.0, 11.0),
            ("s2", -88.5, 12.0),
            ("s3", -88.0, 10.0),
        ],
        "name string, lat double, lon double",
    )
    pts = spark.createDataFrame(
        [("p", 48.3, 11.0), ("q", None, 11.0)], "pid string, lat double, lon double"
    )
    got = knn_ops.knn_join_cellring_adaptive(pts, nb, k=3, precision=2, rings=(1, 3))
    cols = ("pid", "rank", "neighbor_name", "dist_m")
    g = sorted(map(tuple, got.select(*cols).collect()))
    w = sorted(map(tuple, _exact(pts, nb, 3).select(*cols).collect()))
    assert g == w
    assert [r[2] for r in g if r[0] == "p"] == [None, "i", "a"]
    assert len(g) == 6


def test_adaptive_frame_builds_without_running_jobs(spark, skewed):
    """The adaptive kNN is one lazy plan: building a two-ring frame runs
    no Spark job (no checkpoint, persist or driver count between rounds);
    the jobs all run under the caller's action."""
    pts, nb = skewed
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(group: str, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(tracker.getJobIdsForGroup(group))

    out, built = jobs(
        "knn-adaptive-build",
        lambda: knn_ops.knn_join_cellring_adaptive(pts, nb, k=5, precision=2, rings=(1, 3)),
    )
    assert built == 0
    rows, ran = jobs("knn-adaptive-action", lambda: out.select("pid", "rank", "neighbor_name").collect())
    assert ran > 0  # the tracker sees this group's jobs
    assert sorted(map(tuple, rows)) == sorted(
        map(tuple, _exact(pts, nb, 5).select("pid", "rank", "neighbor_name").collect())
    )
