"""icelite small-file compaction (round-5 verdict item 5 — the Iceberg
rewrite_data_files / expire_snapshots split): row+checksum identity across
a rewrite, one file per partition afterwards, pinned-reader isolation
during compaction, replay idempotency for compacted-away streaming
batches, crash-window safety, and space reclaim via snapshot expiry."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from geospatial_spark.icelite import catalog as ice

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def workdir(tmp_path):
    yield str(tmp_path)
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def _src(spark):
    return (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "lang", "n_chars")
        .withColumn("key", F.col("doc_id"))
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _xor_checksum(man):
    x = 0
    for rec in man["partitions"]:
        x ^= rec["checksum"]
    return x


def _data_files(workdir, table):
    return glob.glob(f"{workdir}/{table}/data/__batch=*/__pid=*/*.parquet")


def test_rewrite_batch_table_identity_and_file_count(spark, workdir):
    # 6 input tasks x 8 pids x 4 batches: every batch write fans out to
    # several files per pid — the small-file fragmentation being compacted
    df = _src(spark).repartition(6)
    man0 = ice.write_partitioned(
        df, workdir, "t", stage="s1", key_col="key", n_partitions=8, batch_size=2
    )
    before = _rows(ice.read_table(spark, workdir, "t"))
    files_before = len(_data_files(workdir, "t"))
    man1 = ice.rewrite_files(spark, workdir, "t")
    # identity: same rows, same global xor checksum, same total count
    assert _rows(ice.read_table(spark, workdir, "t")) == before
    assert _xor_checksum(man1) == _xor_checksum(man0)
    assert sum(r["row_count"] for r in man1["partitions"]) == len(before)
    # compaction: exactly one file per partition in ONE batch dir
    live = {
        f for f in _data_files(workdir, "t")
        if f"__batch={man1['partitions'][0]['batch']}" in f
    }
    assert len(live) == 8 and files_before > 8
    assert man1["version"] == man0["version"] + 1
    # per-pid lineage agrees with the pre-compaction records
    old = {r["pid"]: r for r in man0["partitions"]}
    for rec in man1["partitions"]:
        o = old[rec["pid"]]
        assert (rec["row_count"], rec["key_min"], rec["key_max"], rec["checksum"]) \
            == (o["row_count"], o["key_min"], o["key_max"], o["checksum"])
    # a write_partitioned resume over the compacted table is a no-op
    man2 = ice.write_partitioned(
        df, workdir, "t", stage="s1", key_col="key", n_partitions=8, batch_size=2
    )
    assert _rows(ice.read_table(spark, workdir, "t")) == before
    assert {r["batch"] for r in man2["partitions"]} == {
        man1["partitions"][0]["batch"]
    }


def test_rewrite_preserves_pinned_snapshots_until_expiry(spark, workdir):
    df = _src(spark)
    ice.write_partitioned(
        df, workdir, "t", stage="s1", key_col="key", n_partitions=4, batch_size=1
    )
    pin_v = ice._version_pointer(workdir, "t")
    pinned_before = _rows(ice.read_table(spark, workdir, "t", as_of=pin_v))
    man1 = ice.rewrite_files(spark, workdir, "t")
    # pinned reader still binds to the ORIGINAL batch dirs, bit-identical
    assert _rows(ice.read_table(spark, workdir, "t", as_of=pin_v)) == pinned_before
    # ... and a post-compaction writer's GC must not collect them either
    ice._gc_orphan_batches(workdir, "t", man1)
    assert _rows(ice.read_table(spark, workdir, "t", as_of=pin_v)) == pinned_before
    # expiry reclaims: old manifests gone, old batch dirs gone, head intact
    expired = ice.expire_snapshots(workdir, "t", keep_last=1)
    assert pin_v in expired
    assert _rows(ice.read_table(spark, workdir, "t")) == pinned_before
    batches = {
        p.split("__batch=")[1].split("/")[0] for p in _data_files(workdir, "t")
    }
    assert batches == {man1["partitions"][0]["batch"]}
    with pytest.raises(FileNotFoundError):
        ice.read_table(spark, workdir, "t", as_of=pin_v)


def test_rewrite_append_table_and_replay_noop_after_compaction(spark, workdir):
    df = _src(spark)
    a = df.filter(F.col("doc_id") % 3 == 0)
    b = df.filter(F.col("doc_id") % 3 == 1)
    for tag, part in (("sb0", a), ("sb1", b)):
        ice.append_batch(
            part, workdir, "t", stage="ing", key_col="key",
            n_partitions=4, batch_tag=tag,
        )
    before = _rows(ice.read_table(spark, workdir, "t"))
    man1 = ice.rewrite_files(spark, workdir, "t")
    assert _rows(ice.read_table(spark, workdir, "t")) == before
    assert set(man1["retired_batches"]) == {"sb0", "sb1"}
    # checkpoint replay of a compacted-away micro-batch: MUST be a no-op
    man2 = ice.append_batch(
        a, workdir, "t", stage="ing", key_col="key",
        n_partitions=4, batch_tag="sb0",
    )
    assert man2["version"] == man1["version"]
    assert _rows(ice.read_table(spark, workdir, "t")) == before
    # ... even after snapshot expiry removed the old manifests
    ice.expire_snapshots(workdir, "t", keep_last=1)
    man3 = ice.append_batch(
        b, workdir, "t", stage="ing", key_col="key",
        n_partitions=4, batch_tag="sb1",
    )
    assert _rows(ice.read_table(spark, workdir, "t")) == before
    # a genuinely NEW micro-batch still appends normally
    c = df.filter(F.col("doc_id") % 3 == 2)
    ice.append_batch(
        c, workdir, "t", stage="ing", key_col="key",
        n_partitions=4, batch_tag="sb2",
    )
    assert len(_rows(ice.read_table(spark, workdir, "t"))) == df.count()
    assert man3["version"] + 1 == ice._version_pointer(workdir, "t")


def test_rewrite_sorts_by_key_within_files(spark, workdir):
    """The Iceberg sort-order-rewrite analogue: every compacted parquet
    file is key-sorted, so its row groups carry tight disjoint min/max
    stats on the key (the intra-partition pruning tier).  Checked at the
    parquet-metadata level with pyarrow — row-group key ranges must be
    monotone non-overlapping per file — and disabled via sort_by_key=False
    (result identity must hold either way: bit_xor checksum is order-free)."""
    import pyarrow.parquet as pq

    # big enough that a shrunken parquet block yields SEVERAL row groups
    # per compacted file — at the default 128 MB block every sandbox-scale
    # file is a single row group and monotonicity would hold vacuously;
    # the at-scale shape this pins is multi-GB files with many row groups
    df = (
        spark.range(0, 200_000)
        .select(
            F.col("id").alias("key"),
            F.xxhash64("id").cast("string").alias("payload"),
        )
        .repartition(16)
    )
    ice.write_partitioned(
        df, workdir, "t", stage="s1", key_col="key", n_partitions=8,
        batch_size=4,
    )
    before = _rows(ice.read_table(spark, workdir, "t"))
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old_block = hconf.get("parquet.block.size")
    old_page = hconf.get("parquet.page.size")
    hconf.setInt("parquet.block.size", 64 * 1024)
    hconf.setInt("parquet.page.size", 16 * 1024)
    try:
        man1 = ice.rewrite_files(spark, workdir, "t")
    finally:
        for k, old in (("parquet.block.size", old_block),
                       ("parquet.page.size", old_page)):
            if old is None:
                hconf.unset(k)
            else:
                hconf.set(k, old)
    # inspect ONLY the compacted batch's files (older snapshots' batch
    # dirs remain on disk for pinned readers until expire_snapshots)
    ctag = man1["partitions"][0]["batch"]
    paths = glob.glob(f"{workdir}/t/data/__batch={ctag}/__pid=*/*.parquet")
    key_idx = None
    checked_groups = 0
    for path in paths:
        meta = pq.ParquetFile(path).metadata
        if key_idx is None:
            key_idx = [
                meta.schema.column(i).name for i in range(meta.num_columns)
            ].index("key")
        prev_max = None
        for g in range(meta.num_row_groups):
            st = meta.row_group(g).column(key_idx).statistics
            assert st is not None and st.min <= st.max
            if prev_max is not None:
                assert st.min >= prev_max, (path, g)
            prev_max = st.max
            checked_groups += 1
    # meaningful only if files genuinely carry SEVERAL row groups — a
    # single-group file is monotone by definition
    assert len(paths) == 8 and checked_groups >= 3 * len(paths), (
        len(paths),
        checked_groups,
    )
    assert _rows(ice.read_table(spark, workdir, "t")) == before

    # unsorted rewrite: identity still holds (order-free checksum)
    man2 = ice.rewrite_files(spark, workdir, "t", sort_by_key=False)
    assert man2["version"] == man1["version"] + 1
    assert _rows(ice.read_table(spark, workdir, "t")) == before


def test_rewrite_files_per_partition_splits_key_disjoint(spark, workdir):
    """files_per_partition > 1 — the target-file-size knob for partitions
    that outgrow one parquet file: the range shuffle on (pid, key) must
    cut every partition directory into multiple KEY-DISJOINT sorted files
    (footer min/max prune whole files), with rows and reads identical."""
    import pyarrow.parquet as pq

    df = (
        spark.range(0, 100_000)
        .select(
            F.col("id").alias("key"),
            F.xxhash64("id").cast("string").alias("payload"),
        )
        .repartition(16)
    )
    bounds = [25_000, 50_000, 75_000]
    ice.write_partitioned(
        df, workdir, "t", stage="s1", key_col="key", n_partitions=4,
        batch_size=4, range_bounds=bounds,
    )
    before = _rows(ice.read_table(spark, workdir, "t"))
    man1 = ice.rewrite_files(spark, workdir, "t", files_per_partition=3)
    ctag = man1["partitions"][0]["batch"]
    by_pid: dict[str, list] = {}
    for path in glob.glob(
        f"{workdir}/t/data/__batch={ctag}/__pid=*/*.parquet"
    ):
        pid = path.split("__pid=")[1].split("/")[0]
        meta = pq.ParquetFile(path).metadata
        names = [meta.schema.column(i).name for i in range(meta.num_columns)]
        ki = names.index("key")
        mins = [meta.row_group(g).column(ki).statistics.min
                for g in range(meta.num_row_groups)]
        maxs = [meta.row_group(g).column(ki).statistics.max
                for g in range(meta.num_row_groups)]
        by_pid.setdefault(pid, []).append((min(mins), max(maxs)))
    # genuinely split: more files than partitions, and every pid's files
    # carry non-overlapping key ranges (a range-partition slice can span
    # a pid boundary, so per-pid counts vary — disjointness is the claim)
    total = sum(len(v) for v in by_pid.values())
    assert len(by_pid) == 4 and total >= 8, by_pid
    for pid, ranges in by_pid.items():
        ranges.sort()
        for (_, mx0), (mn1, _) in zip(ranges, ranges[1:]):
            assert mn1 > mx0, (pid, ranges)
    assert _rows(ice.read_table(spark, workdir, "t")) == before
    # range reads over the split files stay exact
    lo, hi = 30_000, 60_000
    want = [t for t in before if lo <= t[0] <= hi]
    assert _rows(ice.read_range(spark, workdir, "t", lo, hi)) == want

    import pytest as _pt

    with _pt.raises(ValueError, match="files_per_partition"):
        ice.rewrite_files(spark, workdir, "t", files_per_partition=0)


def test_rewrite_crash_window_then_retry(spark, workdir):
    df = _src(spark)
    ice.write_partitioned(
        df, workdir, "t", stage="s1", key_col="key", n_partitions=4, batch_size=1
    )
    before = _rows(ice.read_table(spark, workdir, "t"))
    v = ice._version_pointer(workdir, "t")
    with pytest.raises(RuntimeError, match="injected failure"):
        ice.rewrite_files(spark, workdir, "t", fail_before_swap=True)
    # data written, manifest not swapped: readers see the old snapshot only
    assert ice._version_pointer(workdir, "t") == v
    assert _rows(ice.read_table(spark, workdir, "t")) == before
    # retry GCs the orphan and commits exactly one compacted copy
    man = ice.rewrite_files(spark, workdir, "t")
    assert _rows(ice.read_table(spark, workdir, "t")) == before
    assert sum(r["row_count"] for r in man["partitions"]) == len(before)


def test_rewrite_range_partitioned_reuses_bounds(spark, workdir):
    df = _src(spark)
    bounds = [100, 200, 400]
    man0 = ice.write_partitioned(
        df, workdir, "t", stage="s1", key_col="key",
        batch_size=1, range_bounds=bounds,
    )
    lo, hi = 150, 350
    before = _rows(ice.read_range(spark, workdir, "t", lo, hi))
    man1 = ice.rewrite_files(spark, workdir, "t")
    assert man1["range_bounds"] == bounds
    # range pruning still correct over the compacted files
    assert _rows(ice.read_range(spark, workdir, "t", lo, hi)) == before
    old = {r["pid"]: r for r in man0["partitions"]}
    for rec in man1["partitions"]:
        assert rec["checksum"] == old[rec["pid"]]["checksum"]

    # randomized range sweep over the compacted table: pruning via the
    # RECOMPUTED lineage bounds must agree with an unpruned filter for
    # every range shape (inside one partition, spanning bounds, empty,
    # full) — the class a stats-recompute bug would corrupt silently
    import random

    rng = random.Random(7)
    full = ice.read_table(spark, workdir, "t")
    ranges = [(0, 10_000_000), (401, 402), (-5, -1), (200, 200)] + [
        tuple(sorted((rng.randrange(0, 600), rng.randrange(0, 600))))
        for _ in range(10)
    ]
    for lo2, hi2 in ranges:
        want = _rows(
            full.filter((F.col("key") >= lo2) & (F.col("key") <= hi2))
        )
        got = _rows(ice.read_range(spark, workdir, "t", lo2, hi2))
        assert got == want, (lo2, hi2)


def test_swap_manifest_cas_rejects_stale_base_version(workdir):
    """Commit CAS at the primitive level: a manifest computed from a base
    version the table has moved past must be rejected."""
    man1 = {"version": 1, "partitions": []}
    ice._swap_manifest(workdir, "t", man1, expected_version=None)
    assert ice._version_pointer(workdir, "t") == 1
    with pytest.raises(ice.ConcurrentCommitError, match="now at 1"):
        ice._swap_manifest(
            workdir, "t", {"version": 2, "partitions": []}, expected_version=None
        )
    with pytest.raises(ice.ConcurrentCommitError, match="based on version 0"):
        ice._swap_manifest(
            workdir, "t", {"version": 2, "partitions": []}, expected_version=0
        )
    ice._swap_manifest(
        workdir, "t", {"version": 2, "partitions": []}, expected_version=1
    )
    assert ice._version_pointer(workdir, "t") == 2


def test_concurrent_append_during_rewrite_cas_loses_nothing(spark, workdir):
    """The lost-update window (r5 self-found; same contract class as the
    r4 no-loss advice): a streaming micro-batch committing DURING a
    (minutes-long at scale) compaction job must survive.  Before the CAS,
    rewrite_files built version+1 from its base manifest and swapped
    unconditionally — overwriting the append's snapshot and silently
    dropping its rows from every read.  Now the compaction loses LOUDLY,
    the append survives, and a retry compacts all three batches."""
    df = _src(spark)
    a = df.filter(F.col("doc_id") % 3 == 0)
    b = df.filter(F.col("doc_id") % 3 == 1)
    c = df.filter(F.col("doc_id") % 3 == 2)
    for tag, part in (("sb0", a), ("sb1", b)):
        ice.append_batch(
            part, workdir, "t", stage="ing", key_col="key",
            n_partitions=4, batch_tag=tag,
        )
    before = _rows(ice.read_table(spark, workdir, "t"))

    def concurrent_append():
        ice.append_batch(
            c, workdir, "t", stage="ing", key_col="key",
            n_partitions=4, batch_tag="sb2",
        )

    with pytest.raises(ice.ConcurrentCommitError, match="concurrent writer"):
        ice.rewrite_files(spark, workdir, "t", on_before_swap=concurrent_append)
    # the concurrently-committed micro-batch survived, nothing was lost
    got = _rows(ice.read_table(spark, workdir, "t"))
    assert set(before) <= set(got)
    assert len(got) == df.count()
    # the compaction retry works over the fresh manifest: GCs the loser's
    # orphan dir, keeps every row, retires all three batches
    man = ice.rewrite_files(spark, workdir, "t")
    assert _rows(ice.read_table(spark, workdir, "t")) == got
    assert {"sb0", "sb1", "sb2"} <= set(man["retired_batches"])
    assert sum(r["row_count"] for r in man["partitions"]) == df.count()
    # replay of the mid-compaction batch stays a no-op after its retirement
    man2 = ice.append_batch(
        c, workdir, "t", stage="ing", key_col="key",
        n_partitions=4, batch_tag="sb2",
    )
    assert man2["version"] == man["version"]
    assert len(_rows(ice.read_table(spark, workdir, "t"))) == df.count()


def test_gc_shields_inflight_foreign_batch(spark, workdir):
    """A writer's start-of-run orphan GC must NOT delete another writer's
    in-flight (marked, uncommitted) batch directory — only its own writer
    family's crashed attempts, or markers past the TTL."""
    df = _src(spark)
    a = df.filter(F.col("doc_id") % 2 == 0)
    b = df.filter(F.col("doc_id") % 2 == 1)
    ice.append_batch(
        a, workdir, "t", stage="ing", key_col="key", n_partitions=4,
        batch_tag="sb0",
    )
    # an append killed between data write and swap: dir + live marker stay
    with pytest.raises(RuntimeError, match="injected failure"):
        ice.append_batch(
            b, workdir, "t", stage="ing", key_col="key", n_partitions=4,
            batch_tag="sb1", fail_before_swap=True,
        )
    inflight_dir = os.path.join(workdir, "t", "data", "__batch=sb1")
    assert os.path.isdir(inflight_dir)
    # a compaction (different writer family) runs: sb1's dir must survive
    ice.rewrite_files(spark, workdir, "t")
    assert os.path.isdir(inflight_dir)
    # the append's own retry reclaims its crashed attempt and lands ONE copy
    ice.append_batch(
        b, workdir, "t", stage="ing", key_col="key", n_partitions=4,
        batch_tag="sb1",
    )
    assert len(_rows(ice.read_table(spark, workdir, "t"))) == df.count()
    # an expired marker no longer shields: TTL=0 → any writer's GC reclaims
    with pytest.raises(RuntimeError, match="injected failure"):
        ice.append_batch(
            b, workdir, "t", stage="ing", key_col="key", n_partitions=4,
            batch_tag="sb9", fail_before_swap=True,
        )
    stale = os.path.join(workdir, "t", "data", "__batch=sb9")
    assert os.path.isdir(stale)
    old_ttl = ice.GC_INFLIGHT_TTL_S
    try:
        ice.GC_INFLIGHT_TTL_S = 0.0
        ice._gc_orphan_batches(workdir, "t", ice.current_manifest(workdir, "t"))
    finally:
        ice.GC_INFLIGHT_TTL_S = old_ttl
    assert not os.path.isdir(stale)


def test_rewrite_row_conservation_guard(spark, workdir):
    """If the compacted files vanish (or shrink) between the write and the
    commit — the GC-race / partial-write class — the rewrite must abort
    loudly instead of committing a manifest that silently emptied the
    table."""
    df = _src(spark)
    ice.write_partitioned(
        df, workdir, "t", stage="s1", key_col="key", n_partitions=4,
        batch_size=2,
    )
    before = _rows(ice.read_table(spark, workdir, "t"))

    def sabotage():
        for d in glob.glob(f"{workdir}/t/data/__batch=c*"):
            shutil.rmtree(d)

    with pytest.raises(RuntimeError, match="row-conservation"):
        ice.rewrite_files(spark, workdir, "t", on_before_swap=sabotage)
    # nothing committed: table unchanged, version unchanged, retry works
    assert _rows(ice.read_table(spark, workdir, "t")) == before
    man = ice.rewrite_files(spark, workdir, "t")
    assert _rows(ice.read_table(spark, workdir, "t")) == before
    assert sum(r["row_count"] for r in man["partitions"]) == len(before)


def _second_commit(df, workdir, writer):
    """Commit the first of two commits of ``df`` through ``writer`` (v1)
    and return ``write`` for the second: a write_partitioned resume of the
    pids batch 0 left, or an append_batch of the other half."""
    halves = [df.filter(F.col("doc_id") % 2 == r) for r in (0, 1)]

    def write(i):
        if writer == "write_partitioned":
            # batch i commits pids {2i, 2i+1}; a resume picks up the rest
            return ice.write_partitioned(
                df, workdir, "t", stage="s1", key_col="key", n_partitions=4,
                batch_size=2, fail_after_batches=1 if i == 0 else None,
            )
        return ice.append_batch(
            halves[i], workdir, "t", stage="ing", key_col="key",
            n_partitions=4, batch_tag=f"sb{i}",
        )

    if writer == "write_partitioned":
        with pytest.raises(RuntimeError, match="injected failure"):
            write(0)
    else:
        write(0)
    assert ice._version_pointer(workdir, "t") == 1
    return lambda: write(1)


def _gc_orphans_now(workdir):
    """Remove every batch directory the committed manifest does not
    reference — what a concurrent orphan GC does to an in-flight batch."""
    live = {r["batch"] for r in ice.current_manifest(workdir, "t")["partitions"]}
    for d in glob.glob(f"{workdir}/t/data/__batch=*"):
        if d.split("__batch=")[1] not in live:
            shutil.rmtree(d)


def _refused_then_retried(spark, df, workdir, monkeypatch, write, match):
    """The patched ``write`` must raise ``match`` with nothing committed
    and no marker left; an unpatched retry lands one copy that verifies."""
    with pytest.raises(RuntimeError, match=match):
        write()
    monkeypatch.undo()
    assert ice._version_pointer(workdir, "t") == 1
    assert not os.listdir(os.path.join(workdir, "t", "metadata", "inflight"))

    man = write()
    assert man["version"] == 2
    got = _rows(ice.read_table(spark, workdir, "t"))
    assert got == _rows(df)
    assert sum(r["row_count"] for r in man["partitions"]) == len(got)
    assert ice.verify_table(spark, workdir, "t")["ok"]


@pytest.mark.parametrize("writer", ["write_partitioned", "append_batch"])
def test_batch_writers_row_conservation_guard(spark, workdir, monkeypatch, writer):
    """Both batch writers refuse a commit whose read-back lost rows: a
    batch directory deleted between the data write and the stats read-back
    (the concurrent-GC / partial-write class) must abort the commit loudly
    with nothing committed — before, the two batch writers recorded
    row_count 0 for the lost partitions and silently shrank the table."""
    df = _src(spark)
    write = _second_commit(df, workdir, writer)
    orig = ice._partition_stats

    def racing_gc(frame, key_col, group_cols):
        _gc_orphans_now(workdir)
        return orig(frame, key_col, group_cols)

    monkeypatch.setattr(ice, "_partition_stats", racing_gc)
    _refused_then_retried(spark, df, workdir, monkeypatch, write, "row-conservation")


@pytest.mark.parametrize("writer", ["write_partitioned", "append_batch"])
def test_gc_after_read_back_is_refused_at_swap(spark, workdir, monkeypatch, writer):
    """A batch directory an orphan GC deletes AFTER the commit's read-back
    (which found its rows) but before the manifest swap must not be
    committed: the swap re-checks the directory under the commit lock and
    refuses, so the manifest never points at rows that are gone."""
    df = _src(spark)
    write = _second_commit(df, workdir, writer)
    orig = ice._partition_stats

    def gc_after_read_back(frame, key_col, group_cols):
        stats = orig(frame, key_col, group_cols)
        assert sum(r["row_count"] for r in stats) > 0
        _gc_orphans_now(workdir)
        return stats

    monkeypatch.setattr(ice, "_partition_stats", gc_after_read_back)
    _refused_then_retried(
        spark, df, workdir, monkeypatch, write,
        "removed after its rows were read back",
    )


def test_orphan_gc_waits_for_the_commit_lock(spark, workdir):
    """Orphan GC runs under the commit flock: while another holder has the
    lock, an unmarked orphan directory must survive; once the lock is
    released the GC pass removes it (and leaves committed batches)."""
    import fcntl
    import threading
    import time

    man = ice.append_batch(
        _src(spark), workdir, "t", stage="ing", key_col="key",
        n_partitions=4, batch_tag="sb0",
    )
    committed = os.path.join(workdir, "t", "data", "__batch=sb0")
    orphan = os.path.join(workdir, "t", "data", "__batch=sb-orphan", "__pid=0")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-0.parquet"), "wb") as f:
        f.write(b"x")

    with open(os.path.join(workdir, "t", "metadata", ".commit.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        gc = threading.Thread(
            target=ice._gc_orphan_batches, args=(workdir, "t", man), daemon=True
        )
        try:
            gc.start()
            time.sleep(0.5)
            assert os.path.isdir(orphan)
        finally:
            fcntl.flock(lock, fcntl.LOCK_UN)
    gc.join(timeout=30)
    assert not gc.is_alive()
    assert not os.path.exists(os.path.dirname(orphan))
    assert os.path.isdir(committed)
