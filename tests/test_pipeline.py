"""End-to-end pipeline (pipeline.run): kill/resume across stages, the
Hilbert-range partitioning invariant (non-overlapping, ordered cell-id
ranges in the lineage — the file-pruning index), one S2 kernel pass per
point, and the tiles stage's reuse of the committed ``s2_cell`` column."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from geospatial_spark import pipeline
from geospatial_spark.functions import udfs
from geospatial_spark.geo import s2 as s2k
from geospatial_spark.icelite import catalog as ice
from geospatial_spark.operators import tiling

SF = "/root/testdata/sf0.001"


def _n_persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def counted_run(spark, tmp_path_factory):
    """One uninterrupted ``pipeline.run`` with ``udfs.s2_cell_udf`` wrapped
    so an accumulator counts the rows the S2 kernel sees.  The wrapper is
    defined here (a closure) so it pickles by value into the workers."""
    seen = spark.sparkContext.accumulator(0)

    def counting_s2_cell_udf(level: int):
        @pandas_udf(LongType())
        def _enc(lat: pd.Series, lon: pd.Series) -> pd.Series:
            seen.add(len(lat))
            return pd.Series(
                s2k.latlng_to_cell(lat.to_numpy(), lon.to_numpy(), level)
            )

        return _enc

    out = str(tmp_path_factory.mktemp("pipeline_counted"))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(udfs, "s2_cell_udf", counting_s2_cell_udf)
        manifests = pipeline.run(spark, SF, out, n_partitions=8, batch_size=2)
    return out, manifests, seen.value


def test_pipeline_runs_s2_kernel_once_per_point(counted_run):
    """The points lineage is persisted across the bounds sample and every
    write batch, and the tiles stage reuses ``s2_cell``: the kernel sees
    each committed point exactly once (unpersisted, the bounds pass, each
    batch, the gazetteer side of each batch's pushed-down filter and the
    tiles stage would each run it again)."""
    _, manifests, seen = counted_run
    n_points = sum(r["row_count"] for r in manifests["points"]["partitions"])
    assert n_points == 12000
    assert seen == n_points


def test_tiles_reuse_committed_cell_matches_udf_path(spark, counted_run):
    out, _, _ = counted_run
    pts = ice.read_table(spark, out, "points")
    reuse = tiling.tile_cell_assignments(
        pts, z=12, s2_level=pipeline.S2_LEVEL, cell_col="s2_cell"
    )
    udf_path = tiling.tile_cell_assignments(pts, z=12, s2_level=pipeline.S2_LEVEL)
    want = sorted(tuple(r) for r in udf_path.collect())
    assert sorted(tuple(r) for r in reuse.collect()) == want
    assert "ArrowEvalPython" in _executed_plan(udf_path)
    assert "ArrowEvalPython" not in _executed_plan(reuse)
    # the pipeline's committed tiles table is the default path's multiset
    committed = ice.read_table(spark, out, "tiles").select(*reuse.columns)
    assert sorted(tuple(r) for r in committed.collect()) == want


def test_pipeline_kill_resume_and_range_lineage(spark, tmp_path):
    out = str(tmp_path)
    # the points persist is released on failure and on success alike
    persisted = _n_persisted(spark)
    with pytest.raises(RuntimeError, match="injected failure"):
        pipeline.run(
            spark, SF, out, n_partitions=8, batch_size=2, fail_after_batches=2
        )
    assert _n_persisted(spark) == persisted
    # stage 1 partially committed, later stages untouched
    assert len(ice.committed_partitions(out, "points")) == 4
    assert ice.current_manifest(out, "joined") is None

    manifests = pipeline.run(spark, SF, out, n_partitions=8, batch_size=2)
    assert _n_persisted(spark) == persisted
    pts = ice.read_table(spark, out, "points")
    joined = ice.read_table(spark, out, "joined")
    assert pts.count() == 12000  # oracle-verified extract_geocode cardinality
    assert joined.count() == 9803  # oracle-verified pip_join cardinality

    # Hilbert-range partitioning: per-partition [key_min, key_max] ranges
    # in the lineage are non-overlapping and ordered by partition id
    lin = sorted(
        (
            (r["partition_id"], r["key_min"], r["key_max"])
            for r in ice.lineage(spark, out, "points").collect()
            if r["row_count"] > 0
        ),
    )
    for (p0, _, mx0), (p1, mn1, _) in zip(lin, lin[1:]):
        assert p0 < p1 and mx0 <= mn1, (p0, mx0, p1, mn1)

    # resume produced complete manifests for every stage
    assert {s for s in manifests} == {"points", "joined", "tiles"}
    assert len(manifests["points"]["partitions"]) == 8

    # maintenance pass (--compact): every stage bin-packed to one
    # key-sorted file per non-empty partition, rows identical, and the
    # range lineage still non-overlapping (compaction recomputes stats by
    # reading back the compacted files)
    before = {
        t: sorted(tuple(r) for r in ice.read_table(spark, out, t).collect())
        for t in manifests
    }
    rep = pipeline.compact_tables(spark, out, list(manifests))
    for t in manifests:
        assert rep[t]["files_after"] <= len(manifests[t]["partitions"])
        assert rep[t]["files_after"] < rep[t]["files_before"] or t == "tiles"
        after = sorted(
            tuple(r) for r in ice.read_table(spark, out, t).collect()
        )
        assert after == before[t], t
    lin2 = sorted(
        (r["partition_id"], r["key_min"], r["key_max"])
        for r in ice.lineage(spark, out, "points").collect()
        if r["row_count"] > 0
    )
    for (p0, _, mx0), (p1, mn1, _) in zip(lin2, lin2[1:]):
        assert p0 < p1 and mx0 <= mn1, (p0, mx0, p1, mn1)
