"""Distributed compact/uncompact (operators/compact.py) vs the local numpy
oracle kernels (geo/compact.py) — reference G4/G5 semantics."""

from __future__ import annotations

import numpy as np

from geospatial_spark.geo import compact as lc
from geospatial_spark.geo import s2 as s2k
from geospatial_spark.operators import compact as dc


def _gh_cells():
    # a full 32-family (parent 'u09t') + partial family + lone cell
    full = ["u09t" + c for c in "0123456789bcdefghjkmnpqrstuvwxyz"]
    partial = ["u09s" + c for c in "0123456789bcdef"]
    return full + partial + ["ezs42"]


def test_compact_geohash_df_matches_local(spark):
    cells = _gh_cells()
    df = spark.createDataFrame([(c,) for c in cells], "cell string")
    got = sorted(r["cell"] for r in dc.compact_geohash_df(df).collect())
    want = lc.compact_geohash(cells)
    assert got == want
    assert "u09t" in got and "u09s0" in got  # promoted / demoted


def test_compact_geohash_recursive_rollup(spark):
    # two levels roll up: all 1024 grandchildren of 'u0' compact to 'u0'
    cells = ["u0" + a + b for a in "0123456789bcdefghjkmnpqrstuvwxyz"
             for b in "0123456789bcdefghjkmnpqrstuvwxyz"]
    df = spark.createDataFrame([(c,) for c in cells], "cell string")
    got = sorted(r["cell"] for r in dc.compact_geohash_df(df).collect())
    assert got == lc.compact_geohash(cells) == ["u0"]


def test_uncompact_geohash_df_roundtrip(spark):
    compacted = ["u09t", "u09s0", "ezs42"]
    df = spark.createDataFrame([(c,) for c in compacted], "cell string")
    got = sorted(r["cell"] for r in dc.uncompact_geohash_df(df, 5).collect())
    want = lc.uncompact_geohash(compacted, 5)
    assert got == want
    assert len(got) == 32 + 1 + 1


def test_compact_s2_df_matches_local(spark):
    # children of two parents at level 10; one family complete, one partial
    base = s2k.latlng_to_cell(np.array([48.85, 35.69]), np.array([2.35, 139.69]), 10)
    fam = s2k.children(base, 11)  # (2, 4)
    cells = list(map(int, fam[0])) + list(map(int, fam[1][:3]))
    df = spark.createDataFrame([(c,) for c in cells], "cell_id bigint")
    got = sorted(np.uint64(r["cell_id"]) for r in dc.compact_s2_df(df).collect())
    want = sorted(np.uint64(c) for c in lc.compact_s2(cells))
    assert got == want
    assert int(np.uint64(int(base[0]))) in [int(c) for c in got]


def test_uncompact_s2_df_matches_local(spark):
    base = s2k.latlng_to_cell(np.array([48.85]), np.array([2.35]), 9)
    cells = [int(base[0])]
    df = spark.createDataFrame([(c,) for c in cells], "cell_id bigint")
    got = sorted(np.uint64(r["cell_id"]) for r in dc.uncompact_s2_df(df, 11).collect())
    want = sorted(np.uint64(c) for c in lc.uncompact_s2(cells, 11))
    assert got == want
    assert len(got) == 16


def test_compact_persists_released_by_release_all(spark):
    """The compact operators return a PERSISTED cell set; it must be
    registered with the cache tracker so release_all() reclaims the block —
    a long-lived session (bench loop, notebook) otherwise leaks one cached
    set per invocation."""
    from geospatial_spark.functions import caching

    caching.release_all()
    base = len(spark.sparkContext._jsc.getPersistentRDDs())
    df = spark.createDataFrame(
        [(p + c,) for p in ("u09", "u0a") for c in "0123456789bcdefghjkmnpqrstuvwxyz"],
        "cell string",
    )
    dc.compact_geohash_df(df).count()
    dc.compact_geohash_df(df).count()
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) > base
    caching.release_all()
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == base
