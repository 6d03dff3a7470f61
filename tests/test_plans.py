"""Physical-plan shape regressions — the 100 TB properties the bench can't
see at sandbox scale: which exchanges exist, what the scans read.

Planning only (explain, no job execution), so these are cheap."""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import functions as F

from geospatial_spark.operators import dedup as dd
from geospatial_spark.operators import pip_join as pj
from geospatial_spark.operators import tiling
from geospatial_spark.sources import pages as src

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _keyed_shuffles(plan: str) -> int:
    """Count Exchange nodes that hash-partition (keyed shuffles).  The
    deliberate RoundRobin split-widening exchange (sources.read_split)
    does not count."""
    n = 0
    for m in re.finditer(r"\(\d+\) Exchange\n(.*?)(?=\n\(\d+\)|\Z)", plan, re.S):
        if "hashpartitioning" in m.group(1):
            n += 1
    return n


def test_broadcast_pip_join_has_no_keyed_shuffle(spark):
    """The flagship broadcast PIP join must not shuffle the point side at
    all: broadcast hash join on the cell index + in-closure refine."""
    pts = src.extract_points(src.pages(spark, SF), src.gazetteer(spark))
    j = pj.pip_join(
        pts,
        src.regions(spark),
        poly_id="region_id",
        precision=4,
        strategy="broadcast",
        point_cols=("url", "entity"),
    )
    p = _plan(j)
    assert "BroadcastHashJoin" in p
    assert _keyed_shuffles(p) == 0


def test_minhash_signatures_reuse_partitioning(spark):
    """shingle_sets keys everything on id once: the shingle build itself is
    exchange-free (map-side slice/arrays_zip/explode), so the collect_set
    aggregation AND the 64-min signature aggregation must share a single
    keyed exchange — and since every doc is one source row, the partial
    aggs complete map-side and that exchange carries ~one row per doc.
    If an earlier test left the shingle relation cached, the cached scan
    preserves the id partitioning and the count drops to 0 — still the
    property under test (never MORE than one)."""
    spark.catalog.clearCache()
    sets = dd.shingle_sets(src.pages(spark, SF))
    sigs = dd.minhash_signatures(sets.select("id", F.explode("hs").alias("h")))
    assert _keyed_shuffles(_plan(sigs)) <= 1


def test_shingle_build_is_exchange_free(spark):
    """Late-r3: the (id, shingle-hash) relation is built entirely map-side
    (slice/arrays_zip/explode over the token array) — zero exchanges, zero
    Window nodes.  The old posexplode + window-lead formulation shuffled
    and sorted the FULL token stream (tokens ≫ docs at corpus scale)."""
    docs = spark.range(8).selectExpr(
        "cast(id as string) as url", "'a b c d e f g h' as text"
    )
    p = _plan(dd._shingle_hash_rows(docs))
    assert _keyed_shuffles(p) == 0
    assert "Window" not in p


def test_capped_lsh_candidates_no_selfjoin_single_bucket_exchange(spark):
    """Late-r3 candidate generation (_bucket_pairs): with a bucket cap,
    the LSH pair stage streams the cap through a row_number window
    (spillable — bounded buffers even on a million-member boilerplate
    bucket), collects the ≤cap survivors REUSING the window's hash
    partitioning (no second bucket exchange), and explodes pairs in-row —
    the plan contains NO join (the old bands⨝bands self-join) and exactly
    two keyed exchanges end-to-end: the window/groupBy partitioning and
    the pair distinct.  The signature relation is synthetic (spark.range)
    so the asserted plan is exactly the candidate stage — the pages
    fixture derivation itself contains a geocode join."""
    sigs = spark.range(64).selectExpr(
        "cast(id as string) as id", *[f"id * {b + 3} as m{b}" for b in range(64)]
    )
    p = _plan(dd.lsh_candidates(sigs, max_bucket=8))
    assert "Join" not in p  # no SortMergeJoin/BroadcastHashJoin/ShuffledHashJoin
    # window+groupBy shared exchange + pair distinct exchange, nothing else
    assert _keyed_shuffles(p) == 2


def test_tile_agg_single_shuffle_with_partial_agg(spark):
    pts = src.extract_points(src.pages(spark, SF), src.gazetteer(spark))
    p = _plan(tiling.tile_assignments(pts, zooms=(8,)))
    assert _keyed_shuffles(p) == 1
    assert "partial_count" in p or "HashAggregate" in p  # map-side combine


def test_events_scan_prunes_columns(spark):
    """A windowed aggregate touching (ts, event_type) must not read the
    other event columns from parquet."""
    ev = src.read_split(spark, f"{SF}/events.parquet")
    agg = ev.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    scans = [l for l in _plan(agg).splitlines() if "ReadSchema" in l]
    assert scans
    for line in scans:
        assert "props" not in line and "value" not in line and "user_id" not in line


def test_events_filter_pushdown(spark):
    ev = src.read_split(spark, f"{SF}/events.parquet")
    q = ev.filter(F.col("event_type") == "click").select("event_id")
    p = _plan(q)
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert pushed and any("event_type" in l for l in pushed)


def test_broadcast_pip_join_rect_fast_path_has_no_python(spark):
    """Round-3 rectilinear specialization: over a bbox-exact polygon set the
    whole broadcast join (JVM pointcell code + half-open box refine) must
    contain NO Python/Arrow eval node; the refine='force' escape hatch must
    keep exactly one ArrowEvalPython (the kernel refine)."""
    pts = src.extract_points(src.pages(spark, SF), src.gazetteer(spark))
    kw = dict(poly_id="region_id", precision=4, strategy="broadcast",
              point_cols=("url", "entity"))
    auto = _plan(pj.pip_join(pts, src.regions(spark), **kw))
    assert "ArrowEvalPython" not in auto and "BatchEvalPython" not in auto
    assert _keyed_shuffles(auto) == 0
    forced = _plan(pj.pip_join(pts, src.regions(spark), refine="force", **kw))
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", forced)) == 1


def test_knn_cellring_adaptive_probe_join_broadcast(spark):
    """Int-grid kNN: quantize + ring explode + probe join + haversine
    re-rank are all JVM — no Python eval node anywhere in the plan
    (ring rounds + windows + exact tail included).  The PROBE join itself
    must be a broadcast when the caller hints the small neighbor side
    (round-4 find: the createDataFrame-backed gazetteer is an ExistingRDD
    with no size stats, so without the hint Catalyst SortMergeJoins and
    shuffles the EXPLODED 49-cells-per-point relation — the worst shuffle
    this operator can emit at scale)."""
    from geospatial_spark.operators import knn as knn_ops

    pts = src.extract_points(src.pages(spark, SF), src.gazetteer(spark))
    out = knn_ops.knn_join_cellring_adaptive(
        pts.select("url", "entity", "lat", "lon"),
        src.gazetteer(spark).select("name", "lat", "lon"),
        k=5, precision=2, rings=(3,), broadcast_neighbors=True,
    )
    p = _plan(out)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert not re.findall(r"SortMergeJoin[^\n]*\n[^\n]*__probe", p), p[:2000]
    assert re.search(r"BroadcastHashJoin[^\n]*\n[^\n]*__probe", p)


def test_knn_cellring_final_plan_scans_points_once_uncached(spark):
    """The adaptive kNN is one lineage per point: in the final adaptive
    plan of the knn_cellring registry query the point derivation's
    documents scan runs ONCE — the satisfied rows and the tail's
    remainder share the ring round's shuffle through exchange reuse —
    and nothing is served from a cache (no persist, no checkpoint)."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["knn_cellring"](spark, SF)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().executedPlan().toString()
    assert p.count("documents.parquet") == 1, p[:3000]
    assert "InMemoryTableScan" not in p
    assert "ReusedExchange" in p


def test_bench_force_all_columns_set_matches_count_pruning_audit(spark):
    """TIMING-HONESTY PIN for bench.py's force_all_columns set: a bare
    count() must prune meaningful work (Arrow/regexp/agg/join nodes) for
    EXACTLY the queries in the set and for no others — if Catalyst ever
    changes what it prunes, the bench methodology must be re-audited.
    The per-column count aggregate must restore every pruned node."""
    import __spark_entry__ as entry_mod

    def counts(plan: str) -> tuple[int, int, int, int]:
        return (
            len(re.findall(r"ArrowEvalPython", plan)),
            len(re.findall(r"regexp_extract|regexp_replace|rlike", plan)),
            len(re.findall(r"HashAggregate|SortAggregate|ObjectHashAggregate", plan)),
            len(re.findall(r"Join", plan)),
        )

    qs = entry_mod.queries()
    bench_queries = [
        "extract_geocode", "pip_join", "pip_join_variants", "overlay_join",
        "pip_counts", "tiles", "knn_k5", "pages_invariant", "dedup_exact",
        "dedup_minhash", "dedup_simhash", "ann_topk", "text_quality",
        "lang_id", "polyfill_regions", "knn_cellring", "media_features",
    ]
    force = {"overlay_join", "text_quality", "polyfill_regions"}
    for name in bench_queries:
        df = qs[name](spark, SF)
        full = _plan(
            df.agg(F.count(F.lit(1)), *(F.count(c) for c in df.columns))
        )
        cnt = _plan(df.groupBy().count())
        pruned = any(c < f for c, f in zip(counts(cnt), counts(full)))
        assert pruned == (name in force), (
            f"{name}: count()-pruning audit changed — update "
            f"bench.py force_all_columns and BENCH/BASELINE.md §1e"
        )
