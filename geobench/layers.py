"""Per-layer figures of a traced run: span self times per layer, Spark
task and SQL metrics charged to spans through their job groups, and
direct driver-side timings of the geo kernels."""

from __future__ import annotations

import time

import numpy as np

from . import eventlog, stats
from .tracing import Span, descendants, group_id, self_times

# span name -> metric: summed per traced operation
PER_OP_SUMS = {
    "pipeline.run": "pipeline.run_s",
    "pipeline.compact_tables": "pipeline.compact_tables_s",
    "pipeline.run_corpus": "pipeline.run_corpus_s",
    "icelite.rewrite_files": "icelite.rewrite_files_s",
    "icelite.expire_snapshots": "icelite.expire_snapshots_s",
    "icelite.verify_table": "icelite.verify_table_s",
}
# span name -> metric: median call, in ms
CALL_MEDIANS = {
    "plans.choose_pip_plan": "plans.choose_pip_plan_ms",
    "plans.choose_knn_params": "plans.choose_knn_params_ms",
    "icelite.append_batch": "icelite.append_batch_ms",
}
ARROW_METRICS = {
    "functions.python_ms": "time to run Python workers",
    "functions.python_boot_ms": "time to start Python workers",
    "functions.python_init_ms": "time to initialize Python workers",
    "functions.arrow_bytes_sent": "data sent to Python workers",
    "functions.arrow_bytes_received": "data returned from Python workers",
}


def traced_metrics(spans: list[Span], events: list[dict], op_root: str) -> dict:
    """Figures from the traced operations (root spans named ``op_root``)
    and from the isolation spans a workload's ``layers`` opened at top
    level (``functions.s2_cell``, ``operators.pip_join``, ``operators.knn``)."""
    st = self_times(spans)
    by_group = eventlog.attribute(events)
    roots = [s for s in spans if s.name == op_root]
    n_ops = max(len(roots), 1)
    in_ops = set().union(*(descendants(spans, r.sid) for r in roots))

    def bucket(sids) -> dict:
        return eventlog.merge([by_group[group_id(s)] for s in sids if group_id(s) in by_group])

    def isolated(name: str) -> list[int]:
        return [s.sid for s in spans if s.parent is None and s.name == name]

    def under(sids: list[int]) -> set[int]:
        return set().union(*(descendants(spans, s) for s in sids))

    out: dict = {}
    for s in spans:
        if s.sid in in_ops:
            key = f"{s.layer}.self_s"
            out[key] = out.get(key, 0.0) + st[s.sid] / n_ops
    wall = sum(r.duration for r in roots)
    out["trace.unattributed_pct"] = 100.0 * out.pop("bench.self_s", 0.0) * n_ops / wall if wall else 0.0
    ops = bucket(in_ops)
    for k in ("jobs",) + eventlog.TASK_FIELDS:
        out[f"spark.{k}"] = ops[k] / n_ops
    for name, key in PER_OP_SUMS.items():
        d = [s.duration for s in spans if s.name == name and s.sid in in_ops]
        if d:
            out[key] = sum(d) / n_ops
    for name, key in CALL_MEDIANS.items():
        d = [s.duration for s in spans if s.name == name]
        if d:
            out[key] = 1e3 * stats.median(d)
    knn_calls = sum(s.name == "operators.knn_join_cellring_adaptive" for s in spans)
    if knn_calls:
        out["operators.knn_rounds"] = sum(s.name == "operators._ring_join" for s in spans) / knn_calls

    # these metric names exist only on Python evaluation nodes; no node
    # filter, since AQE metric updates do not always name their node
    udf = bucket(under(isolated("functions.s2_cell") + isolated("operators.pip_join")))
    for key, metric in ARROW_METRICS.items():
        out[key] = eventlog.sql_metric(udf, metric)
    for name, key, count in (
        ("operators.pip_join", "operators.pip_candidates_per_match", "matches"),
        ("operators.knn", "operators.knn_candidates_per_result", "results"),
    ):
        sids = isolated(name)
        joined = sum(
            v for (node, m), v in bucket(under(sids))["sql"].items()
            if m == "number of output rows" and node.endswith("Join")
        )
        n = sum(spans[s].counts.get(count, 0) for s in sids)
        if sids and joined and n:
            out[key] = joined / n
    return out


def kernel_timings(n: int = 200_000) -> dict:
    """Driver-side calls into the geo kernels on seeded arrays: ns per
    point (S2, geohash, PIP against a holed region) and ms per polygon
    (geohash polyfill of the 64 holed regions); median of 3 calls."""
    from geospatial_spark.geo import geohash, geom, polyfill, s2
    from geospatial_spark.sources import fixtures

    rng = np.random.default_rng(7)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
    lon = rng.uniform(-180, 180, n)
    polys = [geom.parse_wkb(w) for _, w in fixtures.holed_region_rows()]
    minx, miny, maxx, maxy = geom.bbox(polys[0])
    px, py = rng.uniform(minx, maxx, n), rng.uniform(miny, maxy, n)

    def median_s(fn, reps=3) -> float:
        times = []
        for _ in range(reps):
            t = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t)
        return stats.median(times)

    return {
        "geo.s2_cell_ns_per_point": median_s(lambda: s2.latlng_to_cell(lat, lon, 12)) / n * 1e9,
        "geo.geohash_ns_per_point": median_s(lambda: geohash.encode(lat, lon, 6)) / n * 1e9,
        "geo.pip_ns_per_point": median_s(lambda: geom.points_in_polygon(px, py, polys[0])) / n * 1e9,
        "geo.polyfill_ms_per_polygon": median_s(
            lambda: [polyfill.geohash_polyfill(g, 4, "intersects") for g in polys]
        ) / len(polys) * 1e3,
    }
