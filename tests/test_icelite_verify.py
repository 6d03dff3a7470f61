"""Table fsck (icelite.verify_table): the manifest's per-partition stats
are a correctness-bearing index (read_range prunes on key bounds, resume
trusts row_count/checksum) — verify_table is the audit proving the index
still describes the bytes on disk.  Clean tables (batch, append,
compacted, pinned snapshot) must verify ok; a deleted file and a
duplicated file must be flagged with the right mismatch kind."""

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


def test_verify_clean_batch_append_and_compacted(spark, workdir):
    df = _src(spark)
    ice.write_partitioned(
        df, workdir, "tb", stage="s1", key_col="key", n_partitions=4,
        batch_size=2,
    )
    rep = ice.verify_table(spark, workdir, "tb")
    assert rep["ok"] and rep["partitions_checked"] == 4, rep

    ice.append_batch(
        df.filter("doc_id % 2 = 0"), workdir, "ta", stage="ing",
        key_col="key", n_partitions=4, batch_tag="sb0",
    )
    ice.append_batch(
        df.filter("doc_id % 2 = 1"), workdir, "ta", stage="ing",
        key_col="key", n_partitions=4, batch_tag="sb1",
    )
    rep = ice.verify_table(spark, workdir, "ta")
    assert rep["ok"] and rep["partitions_checked"] == 8, rep

    # post-compaction: the fresh snapshot verifies, and the PINNED
    # pre-compaction snapshot still verifies against its own (retained)
    # files — as_of reads and the fsck bind to the same manifest
    v0 = ice.current_manifest(workdir, "ta")["version"]
    ice.rewrite_files(spark, workdir, "ta")
    assert ice.verify_table(spark, workdir, "ta")["ok"]
    assert ice.verify_table(spark, workdir, "ta", as_of=v0)["ok"]


def test_verify_flags_missing_and_duplicated_files(spark, workdir):
    df = _src(spark)
    ice.write_partitioned(
        df, workdir, "t", stage="s1", key_col="key", n_partitions=4,
        batch_size=4,
    )
    ice.rewrite_files(spark, workdir, "t")  # exactly one file per pid
    ice.expire_snapshots(workdir, "t", keep_last=1)
    assert ice.verify_table(spark, workdir, "t")["ok"]

    files = sorted(glob.glob(f"{workdir}/t/data/__batch=*/__pid=*/*.parquet"))
    assert len(files) == 4

    # duplicate one partition's single file: rows double, xor checksum of
    # a doubled multiset cancels to 0 — row_count must still flag it
    dup_dir = os.path.dirname(files[0])
    shutil.copy(files[0], os.path.join(dup_dir, "part-dup.parquet"))
    rep = ice.verify_table(spark, workdir, "t")
    assert not rep["ok"]
    kinds = {m["kind"] for m in rep["mismatches"]}
    assert "row_count" in kinds, rep
    pid0 = int(dup_dir.split("__pid=")[1])
    assert all(m["pid"] == pid0 for m in rep["mismatches"]), rep
    os.remove(os.path.join(dup_dir, "part-dup.parquet"))
    assert ice.verify_table(spark, workdir, "t")["ok"]

    # delete another partition's file outright: missing_data
    os.remove(files[1])
    rep = ice.verify_table(spark, workdir, "t")
    assert not rep["ok"]
    pid1 = int(os.path.dirname(files[1]).split("__pid=")[1])
    assert rep["mismatches"] == [
        {
            "batch": rep["mismatches"][0]["batch"],
            "pid": pid1,
            "kind": "missing_data",
            "expected": rep["mismatches"][0]["expected"],
            "observed": 0,
        }
    ], rep
    assert rep["mismatches"][0]["expected"] > 0


def test_column_name_needing_quotes_round_trips(spark, workdir):
    """A data column named ``n-chars`` is a name, not an expression: the
    lineage checksum must quote it in every writer's read-back and in the
    fsck.  Spliced unquoted into SQL text it failed to resolve after the
    data write, leaving an orphan batch directory behind."""
    df = _src(spark).withColumnRenamed("n_chars", "n-chars")
    want = sorted(tuple(r) for r in df.collect())
    ice.write_partitioned(
        df, workdir, "tb", stage="s1", key_col="key", n_partitions=4,
        batch_size=2,
    )
    for i in (0, 1):
        ice.append_batch(
            df.filter(F.col("doc_id") % 2 == i), workdir, "ta", stage="ing",
            key_col="key", n_partitions=4, batch_tag=f"sb{i}",
        )
    for t in ("tb", "ta"):
        assert ice.verify_table(spark, workdir, t)["ok"]
        ice.rewrite_files(spark, workdir, t)
        assert ice.verify_table(spark, workdir, t)["ok"]
        got = ice.read_table(spark, workdir, t)
        assert "n-chars" in got.columns
        assert sorted(tuple(r) for r in got.collect()) == want
    # for ordinary names the quoted checksum is bit-identical to the
    # expression spliced as SQL text; and column names never enter
    # xxhash64, so the renamed table committed the same checksums
    plain = ice.write_partitioned(
        _src(spark), workdir, "tp", stage="s1", key_col="key",
        n_partitions=4, batch_size=2,
    )
    spliced = {
        r["__pid"]: r["c"]
        for r in spark.read.parquet(f"{workdir}/tp/data")
        .groupBy("__pid")
        .agg(F.expr("bit_xor(xxhash64(doc_id, lang, n_chars, key))").alias("c"))
        .collect()
    }
    assert {r["pid"]: r["checksum"] for r in plain["partitions"]} == spliced
    assert [r["checksum"] for r in plain["partitions"]] == [
        r["checksum"] for r in ice.manifest_at(workdir, "tb", 2)["partitions"]
    ]


def test_stray_files_in_inflight_batch_are_never_scanned(spark, workdir):
    """A crashed append leaves an in-flight ``__batch=`` directory; stray
    files landing there — a zero-byte ``*.parquet`` and a complete parquet
    file of a foreign schema — must not reach the fsck or a reader: both
    scan only the (batch, pid) pairs the manifest commits."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    df = _src(spark)
    a = df.filter(F.col("doc_id") % 2 == 0)
    ice.append_batch(
        a, workdir, "t", stage="ing", key_col="key", n_partitions=4,
        batch_tag="sb0",
    )
    with pytest.raises(RuntimeError, match="injected failure"):
        ice.append_batch(
            df.filter(F.col("doc_id") % 2 == 1), workdir, "t", stage="ing",
            key_col="key", n_partitions=4, batch_tag="sb1",
            fail_before_swap=True,
        )
    pid_dir = sorted(glob.glob(f"{workdir}/t/data/__batch=sb1/__pid=*"))[0]
    open(os.path.join(pid_dir, "part-zero.parquet"), "wb").close()
    pq.write_table(
        pa.table({"foreign": ["x", "y"], "other": [1.5, 2.5]}),
        os.path.join(pid_dir, "part-foreign.parquet"),
    )
    rep = ice.verify_table(spark, workdir, "t")
    assert rep["ok"], rep
    got = sorted(tuple(r) for r in ice.read_table(spark, workdir, "t").collect())
    assert got == sorted(tuple(r) for r in a.collect())
