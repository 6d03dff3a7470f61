"""Planner-lite (SURVEY §7.5): the small set of physical-strategy decisions
Catalyst cannot make for us, driven by cheap table stats.

The reference hard-codes these choices (quick_intersection vs intersection,
``gutils.py:463`` vs ``gutils.py:407``; slice counts ``gindex.py:163-175``);
we derive them from data:

* pip_join strategy  — broadcast the polygon cell index when its exploded
  (cell, poly) relation is comfortably under the broadcast threshold,
  else shuffle with salting.
* salt factor        — from a sampled heavy-hitter count of point cells
  (north rule N5: megacity cells).
* join precision     — coarsest geohash precision whose average
  cells-per-polygon stays under budget (bounds polyfill explode width).
* knn ring params    — neighbor density → ring radius covering ≥ k
  candidates in expectation.

Everything here runs at most one sampled aggregation over the inputs; the
decisions are plain Python so they are unit-testable without a cluster.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# geohash cell edge (degrees, lon x lat) per precision — from the bit layout
# (360/2^lon_bits, 180/2^lat_bits), used for cells-per-polygon estimates
_CELL_DEG = {
    p: (360.0 / (1 << ((5 * p + 1) // 2)), 180.0 / (1 << ((5 * p) // 2)))
    for p in range(1, 13)
}

BROADCAST_LIMIT_CELLS = 2_000_000  # (cell, poly) rows we are happy to ship
# Finest precision whose polyfill width stays under this bound.  The budget
# deliberately leans FINE: one extra precision level multiplies the (cell,
# poly) index ~32× but divides the exact-refine candidate set ~(cell
# shrink)² — and refine (Arrow + PIP kernel per candidate) dominates end to
# end (measured 4.5× slower at p3 vs p4 on the region fixture when a tight
# 256 budget tipped the choice one level coarse).
CELLS_PER_POLY_BUDGET = 1024


@dataclass
class PipPlan:
    strategy: str  # "broadcast" | "shuffle"
    precision: int
    salt: int
    heavy_cell_rows: int


def _poly_stats(polys_df: DataFrame) -> tuple[int, float, float]:
    """(row count, avg bbox width, avg bbox height) in ONE driver-blocking
    job — the planner's polygon-side stats are all derivable from this
    single tiny agg (count + two avgs share one scan)."""
    row = polys_df.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.col("maxx") - F.col("minx")).alias("w"),
        F.avg(F.col("maxy") - F.col("miny")).alias("h"),
    ).collect()[0]
    return int(row["n"]), row["w"] or 1.0, row["h"] or 1.0


def _precision_for(w: float, h: float) -> int:
    best = 1
    for p in range(1, 13):
        cw, ch = _CELL_DEG[p]
        est = max(1.0, w / cw + 1) * max(1.0, h / ch + 1)
        if est > CELLS_PER_POLY_BUDGET:
            break
        best = p
    return best


def choose_pip_plan(
    points_df: DataFrame,
    polys_df: DataFrame,
    *,
    sample_fraction: float = 0.01,
    skew_ratio: float = 8.0,
    force_strategy: str | None = None,
) -> PipPlan:
    """Pick strategy + salt for pip_join.

    One tiny agg on the polygon side (count + avg bbox dims share a scan),
    one sampled cell histogram on the point side — two driver-blocking jobs
    total, both JVM-only (the histogram keys on the codegen BIGINT cell
    code, not the pandas encode UDF: planner latency is serial time on
    every planned query, measured ~5 s → ~1.5 s at sf0.1).  Salt factor ≈
    how many times the heaviest sampled cell exceeds the mean cell load,
    capped at 16.  ``force_strategy`` pins the broadcast/shuffle choice
    (e.g. to exercise the salted shuffle path on a broadcast-sized input)
    while still deriving salt/heavy-cell stats."""
    n_polys, w, h = _poly_stats(polys_df)
    precision = _precision_for(w, h)
    cw, ch = _CELL_DEG[precision]
    est_cells = n_polys * max(1.0, (w / cw + 1) * (h / ch + 1))
    strategy = "broadcast" if est_cells <= BROADCAST_LIMIT_CELLS else "shuffle"
    if force_strategy is not None:
        strategy = force_strategy

    salt, heavy_rows = 1, 1 << 62
    if strategy == "shuffle":
        from ..functions import udfs

        sample = points_df.sample(fraction=sample_fraction, seed=42)
        hist = (
            sample.withColumn(
                "__c", udfs.geohash_int_col(F.col("lat"), F.col("lon"), precision)
            )
            .groupBy("__c")
            .count()
        )
        stats = hist.agg(
            F.max("count").alias("mx"), F.avg("count").alias("avg")
        ).collect()[0]
        mx, avg = stats["mx"] or 0, stats["avg"] or 1.0
        ratio = mx / max(avg, 1.0)
        if ratio >= skew_ratio:
            salt = min(16, max(2, int(ratio / skew_ratio) * 2))
        heavy_rows = max(1, int((avg * skew_ratio) / max(sample_fraction, 1e-9)))
    return PipPlan(strategy, precision, salt, heavy_rows)


def choose_knn_params(
    n_neighbors_total: int, k: int, max_candidates: int = 4096
) -> tuple[int, int]:
    """(precision, first ring) for knn_join_cellring_adaptive: coarse
    enough that the expected ring population ≥ 4k, fine enough to bound
    candidates.  Callers pass ``rings=(ring, 3 * ring + 1)`` so points in
    sparse regions escalate once before the exact tail."""
    for precision in range(6, 0, -1):
        lon_cells = 1 << ((5 * precision + 1) // 2)
        lat_cells = 1 << ((5 * precision) // 2)
        density = n_neighbors_total / float(lon_cells * lat_cells)
        for ring in range(1, 4):
            exp_cand = density * (2 * ring + 1) ** 2
            if exp_cand >= 4 * k and exp_cand <= max_candidates:
                return precision, ring
    return 2, 3  # safe default for sparse neighbor sets
