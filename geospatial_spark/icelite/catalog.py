"""icelite — minimal Iceberg-style table emulation with per-partition
lineage and resumable commits (north rule: "every stage writes per-partition
lineage rows (cell-range, row-count, checksum) to a metrics table so a
killed job resumes from the last committed partition").

No Iceberg runtime jar exists in this sandbox, so the on-disk contract is
emulated; the interface is deliberately narrow (load / write_partitioned /
committed_partitions / lineage) so a real cluster binds the same call sites
to ``spark.read.format("iceberg")`` + a real metrics table untouched.

Layout::

    {root}/{table}/data/__batch=<tag>/__pid=<P>/*.parquet
                                        -- partition P's rows, as written by
                                           the commit whose batch tag is <tag>
    {root}/{table}/metadata/v{N}.json   -- snapshot manifest
    {root}/{table}/metadata/VERSION     -- atomic pointer (rename swap)
    {root}/{table}/metadata/inflight/<tag>
                                        -- marker: <tag>'s directory is being
                                           written by a live, uncommitted job
    {root}/{table}/metadata/.commit.lock
                                        -- flock serializing the manifest CAS
                                           and the orphan GC

Batch tags: ``b<V>-<uuid>`` (write_partitioned), the caller's ``batch_tag``
(append_batch), ``c<V>-<uuid>`` (rewrite_files).

Manifest keys: ``table``, ``schema`` (frozen DDL), ``stage``, ``key_col``,
``n_partitions``, ``version``, ``range_bounds`` (None for hash tables),
``writer`` (``"batch"`` for write_partitioned tables, ``"append"`` for
append_batch tables), ``partitions`` and — after a compaction —
``retired_batches`` (every batch tag compacted away, so streaming replays
stay no-ops).  Each ``partitions`` record holds ``partition_id`` (the
lineage key: the raw pid for batch tables, ``version*n + pid`` for append
tables), ``pid`` (the raw ``__pid`` its files carry), ``batch`` (its tag),
``row_count``, ``key_min``, ``key_max``, ``checksum``, ``stage`` and
``committed_at``.

Commit protocol: every write goes through ``_commit_batch`` — mark the tag
in flight, write the batch directory, read its per-partition stats back
from the files, check that the read-back holds exactly the rows written
(row conservation), then CAS-swap the new manifest in (temp file +
``os.rename``).  A kill before the swap leaves an orphan directory no
reader lists; a rerun skips every partition already in the manifest
(resume = anti-join on partition_id) and garbage-collects the orphan.

Scale notes: each batch is one distributed filter+write job over only that
batch's partitions (partition pruning on the hash key), plus one partial-agg
stats job; there is no driver collect of data — only the per-partition stat
rows (n_partitions rows total) ever reach the driver.  The checksum is an
order-insensitive ``bit_xor(xxhash64(...))`` so it is shuffle-free to verify.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import time
import uuid
from typing import Any, Callable, Iterable, Iterator

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructType

LINEAGE_SCHEMA = (
    "stage string, partition_id int, key_min bigint, key_max bigint, "
    "row_count bigint, checksum bigint, committed_at double"
)


def _assert_local_root(root: str) -> None:
    """icelite's manifest protocol is LOCAL-filesystem only (os.rename
    atomic swaps, os.listdir batch GC, and — correctness-bearing — the
    post-write stats read-back that guards read_range's pruning bounds).
    On a remote FS the ``os.path.isdir(batch_dir)`` check would silently
    miss a non-empty batch and record row_count 0 / NULL key bounds, and
    read_range would then prune committed rows.  Fail loudly instead; a
    real cluster binds these call sites to an actual Iceberg catalog."""
    if "://" in root:
        raise NotImplementedError(
            f"icelite supports local filesystem paths only, got {root!r}: "
            "manifest swap/GC/stats read-back use os.* primitives; bind to "
            "a real Iceberg catalog for remote storage"
        )


def _meta_dir(root: str, table: str) -> str:
    return os.path.join(root, table, "metadata")


def _data_dir(root: str, table: str) -> str:
    return os.path.join(root, table, "data")


def _version_pointer(root: str, table: str) -> int | None:
    """The committed snapshot version (VERSION pointer), or None."""
    vfile = os.path.join(_meta_dir(root, table), "VERSION")
    if not os.path.exists(vfile):
        return None
    with open(vfile) as f:
        return int(f.read().strip())


def current_manifest(root: str, table: str) -> dict[str, Any] | None:
    _assert_local_root(root)
    v = _version_pointer(root, table)
    if v is None:
        return None
    with open(os.path.join(_meta_dir(root, table), f"v{v}.json")) as f:
        return json.load(f)


def committed_partitions(root: str, table: str) -> set[int]:
    man = current_manifest(root, table)
    if man is None:
        return set()
    return {rec["partition_id"] for rec in man["partitions"]}


def _committed_batch_pid_filter(recs: Iterable[dict[str, Any]]) -> Column | None:
    """Reader-side committed-data predicate over manifest records: OR over
    batches of ``(__batch == b) & __pid.isin(raw pids of b)``.  The
    round-4 reader filtered ``__pid.isin(all partition_ids)`` — but
    ``partition_id`` is a NAMESPACED lineage key for appended batches
    (version*n + pid) while the parquet files carry the raw ``__pid``, so
    any appended batch writing a pid the version-0 batch did not cover was
    silently dropped (round-4 advice, high).  Both ``__batch`` and
    ``__pid`` are partition columns, so the disjunction of conjunctions
    still prunes at file-listing time.  Returns None when no record has a
    batch."""
    by_batch: dict[str, set[int]] = {}
    for rec in recs:
        by_batch.setdefault(rec["batch"], set()).add(rec["pid"])
    cond = None
    for b in sorted(by_batch):
        c = (F.col("__batch") == b) & F.col("__pid").isin(sorted(by_batch[b]))
        cond = c if cond is None else (cond | c)
    return cond


class ConcurrentCommitError(RuntimeError):
    """Another writer committed a snapshot after this commit's base
    manifest was read (Iceberg's optimistic-concurrency CAS failure).
    Nothing was lost: the loser's data files are an orphan batch the next
    writer GCs, and the caller retries from the fresh manifest."""


@contextlib.contextmanager
def _commit_lock(root: str, table: str) -> Iterator[None]:
    """Hold the table's exclusive flock on ``metadata/.commit.lock`` (the
    root is asserted local, where flock is reliable).  The manifest swap
    and the orphan GC both run under it, so a GC can never delete a batch
    directory between a commit's directory check and its swap.  Not
    reentrant — its holders never nest (a second flock on a fresh file
    description would deadlock the process against itself)."""
    md = _meta_dir(root, table)
    os.makedirs(md, exist_ok=True)
    with open(os.path.join(md, ".commit.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        try:
            yield
        finally:
            fcntl.flock(lock, fcntl.LOCK_UN)


def _swap_manifest(
    root: str, table: str, manifest: dict[str, Any], *,
    expected_version: int | None, batch_dir: str | None = None,
) -> None:
    """Commit ``manifest`` iff the table is still at ``expected_version``
    and, when ``batch_dir`` is given, that directory still exists.

    Optimistic concurrency (Iceberg's commit CAS): every writer computes
    its new snapshot from a base manifest; if the VERSION pointer moved in
    the meantime — e.g. a streaming ``append_batch`` landing DURING a
    minutes-long ``rewrite_files`` job — an unconditional swap would
    overwrite the concurrent snapshot and its rows would silently vanish
    from reads (a lost update violating the exactly-once sink's no-loss
    contract).  The check-and-swap runs under ``_commit_lock``, so the
    window is closed, not merely shrunk.  On conflict the commit raises
    ``ConcurrentCommitError`` and the already-written batch directory
    stays an orphan for the next writer's GC.

    ``batch_dir`` is the directory whose read-back rows the manifest
    commits: an orphan GC (which runs under the same lock) that removed it
    after the read-back would otherwise leave a manifest pointing at rows
    that are gone, so the swap refuses with a ``RuntimeError``.
    """
    md = _meta_dir(root, table)
    with _commit_lock(root, table):
        if batch_dir is not None and not os.path.isdir(batch_dir):
            raise RuntimeError(
                f"table {table!r}: batch directory {batch_dir!r} was removed "
                "after its rows were read back; aborting without commit "
                "(row-conservation guard)"
            )
        cur = _version_pointer(root, table)
        if cur != expected_version:
            raise ConcurrentCommitError(
                f"table {table!r}: commit based on version "
                f"{expected_version} but the table is now at {cur} — "
                "a concurrent writer committed; retry from the fresh "
                "manifest"
            )
        v = manifest["version"]
        tmp = os.path.join(md, f".v{v}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.rename(tmp, os.path.join(md, f"v{v}.json"))
        tmpv = os.path.join(md, ".VERSION.tmp")
        with open(tmpv, "w") as f:
            f.write(str(v))
        os.rename(tmpv, os.path.join(md, "VERSION"))  # atomic pointer swap


def _pid_column(key_col: str, n: int, range_bounds: list[int] | None) -> Column:
    """The partition id of a row: RANGE over the key when ``range_bounds``
    is given (pid i holds keys in (bounds[i-1], bounds[i]]), else
    ``pmod(xxhash64(key), n)``.  The one expression every writer buckets
    rows with, so a compaction re-buckets exactly like the commit did."""
    if range_bounds is None:
        return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n)).cast("int")
    pid = F.lit(len(range_bounds))
    for i in range(len(range_bounds) - 1, -1, -1):
        pid = F.when(F.col(key_col) <= F.lit(range_bounds[i]), F.lit(i)).otherwise(pid)
    return pid.cast("int")


def _quoted(name: str) -> Column:
    return F.col("`" + name.replace("`", "``") + "`")


def _partition_stats(frame: DataFrame, key_col: str, group_cols: list[str]) -> list:
    """Per-partition lineage stats of ``frame`` grouped by ``group_cols``:
    row count, key min/max and the order-insensitive checksum
    ``bit_xor(xxhash64(data columns))`` over the data columns in
    file-schema order (xxhash64 is column-order sensitive; ``__batch`` and
    ``__pid`` are directory-derived, not data).  The commit's read-back and
    ``verify_table`` both call this, so the manifest index and the fsck
    can never disagree on how a partition is summarized.  Column names are
    backtick-quoted: a name like ``n-chars`` is data, not an expression."""
    data = [c for c in frame.columns if c not in ("__batch", "__pid")]
    key = _quoted(key_col).cast("bigint")
    return (
        frame.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("row_count"),
            F.min(key).alias("key_min"),
            F.max(key).alias("key_max"),
            F.bit_xor(F.xxhash64(*[_quoted(c) for c in data])).alias("checksum"),
        )
        .collect()
    )


def _new_manifest(
    df: DataFrame, table: str, *, stage: str, key_col: str, n_partitions: int,
    range_bounds: list[int] | None, writer: str,
) -> dict[str, Any]:
    return {
        "table": table,
        "schema": df.schema.simpleString(),
        "stage": stage,
        "key_col": key_col,
        "n_partitions": n_partitions,
        "version": 0,
        "range_bounds": range_bounds,
        "writer": writer,
        "partitions": [],
    }


def _check_frozen(
    man: dict[str, Any], df: DataFrame, table: str, key_col: str,
    n_partitions: int | None, verb: str,
) -> None:
    """Guards shared by a write_partitioned resume and an append: the
    committed key, schema and hash width are the only valid ones —
    silently proceeding with others would assign the new rows under a
    partitioning inconsistent with the committed files (round-2 advice).
    ``n_partitions`` None skips the width check (a range table's width is
    fixed by its committed ``range_bounds``)."""
    if man["key_col"] != key_col:
        raise ValueError(
            f"{verb} table {table!r} with key_col={key_col!r} but "
            f"manifest committed key_col={man['key_col']!r}"
        )
    if df.schema.simpleString() != man["schema"]:
        # schema drift guard: mixed-schema batch dirs under one table make
        # the parquet scan's inferred schema depend on which file footer
        # Spark samples — columns silently null out or vanish.  This
        # catalog does NOT do Iceberg-style schema evolution; fail loudly
        # instead (documented divergence).
        raise ValueError(
            f"{verb} table {table!r} with schema {df.schema.simpleString()} "
            f"but manifest committed {man['schema']}; icelite tables are "
            "schema-frozen"
        )
    if n_partitions is not None and n_partitions != man["n_partitions"]:
        # the per-batch partition_id namespace of append tables is
        # version*n_partitions + pid — mixed widths would interleave ids
        raise ValueError(
            f"{verb} table {table!r} with n_partitions={n_partitions} but "
            f"manifest committed {man['n_partitions']} partitions"
        )


def _raiser(message: str) -> Callable[[], None]:
    """An ``after_write`` hook that crashes the commit (injected-failure
    knobs of the crash-window tests)."""

    def crash() -> None:
        raise RuntimeError(message)

    return crash


def _commit_batch(
    man: dict[str, Any],
    staged: DataFrame,
    root: str,
    table: str,
    tag: str,
    *,
    stage: str,
    required_pids: Iterable[int],
    replace: bool,
    after_write: Callable[[], None] | None = None,
    expected_rows: int | None = None,
) -> dict[str, Any]:
    """Write ``staged`` (carrying ``__pid`` and ``__batch`` = ``tag``) as
    one batch directory and commit it on top of ``man``; returns the new
    manifest.  The one commit path of every icelite writer:

    1. mark ``tag`` in flight (shields the directory from other writers'
       GC until the swap), then write it;
    2. ``after_write()`` — the writers' injected crashes fire here, after
       the data write and before anything is committed;
    3. read the per-partition stats back from the written FILES (not by
       re-evaluating the input lineage): read_range treats (key_min,
       key_max) as a correctness-bearing pruning index, and a
       nondeterministic source re-evaluated for a second stats job could
       record bounds that disagree with the committed data;
    4. row conservation: the read-back must hold exactly the rows the
       write wrote — counted by an ``Observation`` on the write itself, or
       ``expected_rows`` when the caller knows the figure (a compaction
       must re-commit exactly its base manifest's rows).  Any loss — a
       concurrent GC deleting the in-flight directory, a partial write —
       aborts loudly instead of committing a manifest that silently
       shrank the table.  The read-back ignores files that vanish after
       listing, so that race lands here too;
    5. one record per pid in ``required_pids`` ∪ the pids that hold rows
       (a single empty placeholder record when both are empty, so the tag
       is still committed and a replay skips it), appended to — or with
       ``replace``, replacing — the manifest's records; a replace retires
       every batch tag it compacts away;
    6. CAS-swap the manifest against ``man``'s version — refused if a GC
       removed the batch directory after the read-back — then clear the
       in-flight marker whether the commit won, lost or was refused.

    A crash in steps 1-3 keeps the marker, like a killed job would: the
    directory stays shielded until the writer's own retry (or the marker
    TTL) reclaims it.
    """
    obs = None
    if expected_rows is None:
        # the write's own row count: a CollectMetrics node on the write
        # plan, no extra job (observe must stay the LAST step before the
        # write — on a shuffle+sort plan it would perturb the sort)
        obs = Observation()
        staged = staged.observe(obs, F.count(F.lit(1)).alias("rows"))
    _mark_inflight(root, table, tag)
    staged.write.mode("append").partitionBy("__batch", "__pid").parquet(
        _data_dir(root, table)
    )
    if after_write is not None:
        after_write()
    batch_dir = os.path.join(_data_dir(root, table), f"__batch={tag}")
    stats = []  # an empty batch writes no directory at all
    if os.path.isdir(batch_dir):
        reader = staged.sparkSession.read.option("ignoreMissingFiles", True)
        written = reader.parquet(batch_dir)
        stats = _partition_stats(written, man["key_col"], ["__pid"])
    try:
        wrote = expected_rows if obs is None else obs.get["rows"]
        read_back = sum(r["row_count"] for r in stats)
        if read_back != wrote:
            raise RuntimeError(
                f"commit of batch {tag!r} into {table!r} read back "
                f"{read_back} rows but {wrote} were written (base manifest "
                f"v{man['version']}); aborting without commit "
                "(row-conservation guard)"
            )
        n = man["n_partitions"]
        base_pid = man["version"] * n if man["writer"] == "append" else 0
        by_pid = {int(r["__pid"]): r for r in stats}
        now = time.time()
        recs = []
        for p in sorted(set(required_pids) | set(by_pid)) or [0]:
            r = by_pid.get(p)
            recs.append(
                {
                    "partition_id": base_pid + p,
                    "pid": p,
                    "batch": tag,
                    "row_count": r["row_count"] if r else 0,
                    "key_min": r["key_min"] if r else None,
                    "key_max": r["key_max"] if r else None,
                    "checksum": r["checksum"] if r else 0,
                    "stage": stage,
                    "committed_at": now,
                }
            )
        new = dict(man, version=man["version"] + 1)
        if replace:
            new["partitions"] = recs
            new["retired_batches"] = sorted(
                set(man.get("retired_batches", []))
                | {rec["batch"] for rec in man["partitions"]}
            )
        else:
            new["partitions"] = man["partitions"] + recs
        # a fresh table's unsaved manifest is v0; committed ones are >= v1
        _swap_manifest(
            root, table, new, expected_version=man["version"] or None,
            batch_dir=batch_dir if read_back else None,
        )
    finally:
        _clear_inflight(root, table, tag)
    return new


def write_partitioned(
    df: DataFrame,
    root: str,
    table: str,
    *,
    stage: str,
    key_col: str,
    n_partitions: int = 16,
    batch_size: int = 4,
    fail_after_batches: int | None = None,
    fail_mid_commit: int | None = None,
    range_bounds: list[int] | None = None,
) -> dict[str, Any]:
    """Resumably materialize ``df`` into ``root/table``.

    Partitioning: hash (``pid = pmod(xxhash64(key), n)``) by default, or
    RANGE over the key when ``range_bounds`` is given — with an S2 cell-id
    key the id space is Hilbert-ordered, so range partitions are spatially
    contiguous and the per-partition (key_min, key_max) lineage doubles as
    a file-pruning index for cell-range predicates.

    Skips partitions already committed (resume).  ``fail_after_batches``
    injects a crash for the resume test.  Returns the final manifest.

    Crash atomicity (round-1 advice): every batch attempt writes into a
    FRESH ``__batch=<unique>`` subtree; the manifest records which batch
    directory holds each committed partition and ``read_table`` scans ONLY
    manifest-listed batches — a kill between the data write and the
    manifest swap leaves an orphan directory that no reader ever sees (and
    the next writer garbage-collects).  ``range_bounds`` are persisted in
    the manifest and REUSED on resume, so a rerun whose recomputed bounds
    drift can never mis-assign rows relative to committed partitions.
    """
    _assert_local_root(root)
    man = current_manifest(root, table)
    if man is None:
        if range_bounds is not None:
            n_partitions = len(range_bounds) + 1
        man = _new_manifest(
            df, table, stage=stage, key_col=key_col, n_partitions=n_partitions,
            range_bounds=range_bounds, writer="batch",
        )
    else:
        # cross-mode guard (round-4 advice): a resume over an APPENDED
        # table would misread namespaced append partition_ids as its own
        # raw pids and silently skip those partitions forever
        if man["writer"] != "batch":
            raise ValueError(
                f"table {table!r} was committed by append_batch "
                "(streaming-append mode); write_partitioned cannot resume it"
            )
        if man["range_bounds"] is None and range_bounds is not None:
            raise ValueError(
                f"resume of hash-partitioned table {table!r} with "
                "range_bounds; the committed partitioning is hash"
            )
        _check_frozen(
            man, df, table, key_col,
            n_partitions if man["range_bounds"] is None else None, "resume of",
        )
        # committed bounds win over recomputed/omitted bounds (a rerun
        # whose recomputed bounds drift can never mis-assign rows
        # relative to committed partitions)
        range_bounds = man["range_bounds"]
        n_partitions = man["n_partitions"]
    staged = df.withColumn("__pid", _pid_column(key_col, n_partitions, range_bounds))

    done = {rec["partition_id"] for rec in man["partitions"]}
    todo = [p for p in range(n_partitions) if p not in done]
    _gc_orphan_batches(root, table, man, own_prefixes=("b",))

    batches = [todo[i : i + batch_size] for i in range(0, len(todo), batch_size)]
    for bi, batch in enumerate(batches):
        if fail_after_batches is not None and bi >= fail_after_batches:
            raise RuntimeError(f"injected failure before batch {bi} (resume test)")
        bname = f"b{man['version'] + 1}-{uuid.uuid4().hex[:8]}"
        part = staged.filter(F.col("__pid").isin(batch)).withColumn(
            "__batch", F.lit(bname)
        )
        # crash INSIDE the commit window: data written, manifest not yet
        # swapped — the batch dir is an orphan the resume must ignore
        crash = fail_mid_commit is not None and bi >= fail_mid_commit
        man = _commit_batch(
            man, part, root, table, bname, stage=stage, required_pids=batch,
            replace=False,
            after_write=_raiser(
                f"injected failure after data write of batch {bi}, before "
                "manifest swap (crash-window resume test)"
            ) if crash else None,
        )
    return man


def append_batch(
    df: DataFrame,
    root: str,
    table: str,
    *,
    stage: str,
    key_col: str,
    n_partitions: int = 16,
    batch_tag: str,
    fail_before_swap: bool = False,
) -> dict[str, Any]:
    """IDEMPOTENT append of one tagged batch — the icelite half of an
    exactly-once streaming sink (streaming/sink.py): the caller derives
    ``batch_tag`` deterministically from the Structured Streaming batch id,
    and a tag already in the manifest is a REPLAY — skipped without
    touching data, so checkpoint recovery can re-offer a committed batch
    any number of times (the standard exactly-once contract: replayable
    source + idempotent sink).

    A batch that previously CRASHED mid-write (data dir present, manifest
    never swapped) is an orphan: the normal GC removes it before the
    rewrite, so a retry can never double its rows.  Partition ids are
    namespaced per batch (manifest record keys are (batch_tag, pid));
    ``read_table``/``lineage`` work unchanged.  ``fail_before_swap``
    injects the crash for tests."""
    _assert_local_root(root)
    if "/" in batch_tag or "=" in batch_tag:
        raise ValueError(f"invalid batch_tag {batch_tag!r}")
    man = current_manifest(root, table)
    if man is None:
        man = _new_manifest(
            df, table, stage=stage, key_col=key_col, n_partitions=n_partitions,
            range_bounds=None, writer="append",
        )
    else:
        if any(rec["batch"] == batch_tag for rec in man["partitions"]):
            return man  # replayed batch — already committed, exactly-once
        if batch_tag in man.get("retired_batches", []):
            # the batch was committed and later COMPACTED away
            # (rewrite_files): its rows live on in the compacted files, so
            # a checkpoint replay must stay a no-op — re-appending would
            # double them (the replay-after-compaction hazard)
            return man
        if man["writer"] != "append":
            # cross-mode guard (round-4 advice): appending to a
            # write_partitioned table would interleave hash-append pids
            # with the committed (possibly RANGE) partitioning, and a
            # later write_partitioned resume would misread the namespace
            raise ValueError(
                f"table {table!r} was committed by write_partitioned "
                "(batch mode); append_batch cannot extend it"
            )
        _check_frozen(man, df, table, key_col, n_partitions, "append to")
    # removes THIS tag's crashed try too (own prefix = the exact tag; other
    # streaming tags' in-flight dirs stay shielded by their markers)
    _gc_orphan_batches(root, table, man, own_prefixes=(batch_tag,))

    staged = df.withColumn(
        "__pid", _pid_column(key_col, n_partitions, None)
    ).withColumn("__batch", F.lit(batch_tag))
    # an empty micro-batch still commits its tag (replay skip).  A
    # conflicting concurrent commit (e.g. a compaction finishing during
    # this micro-batch) raises ConcurrentCommitError → the streaming query
    # fails and its restart REPLAYS the batch: the tag was never
    # committed, the orphan data dir is GC'd, and the append is attempted
    # again — exactly-once holds through the conflict
    return _commit_batch(
        man, staged, root, table, batch_tag, stage=stage, required_pids=[],
        replace=False,
        after_write=_raiser(
            f"injected failure after data write of batch {batch_tag!r}, "
            "before manifest swap (exactly-once crash-window test)"
        ) if fail_before_swap else None,
    )


def rewrite_files(
    spark: SparkSession,
    root: str,
    table: str,
    *,
    sort_by_key: bool = True,
    files_per_partition: int = 1,
    fail_before_swap: bool = False,
    on_before_swap: Callable[[], None] | None = None,
) -> dict[str, Any]:
    """Iceberg ``rewrite_data_files`` analogue (round-5 verdict item 5):
    bin-pack ALL committed data files into ONE fresh batch directory with
    exactly one parquet file per partition, and commit it as a new
    snapshot whose ``partitions`` list references only the compacted batch.

    Why it exists: ``append_batch`` writes up to ``n_partitions`` files per
    micro-batch, so a long-running stream accretes thousands of small
    files — the classic Iceberg operational hazard at 100 TB.  After
    compaction every read lists exactly ``n_partitions`` files.

    Guarantees:
      * row/checksum identity — the rows are re-bucketed with the SAME
        committed partitioning (hash or the persisted range_bounds), and
        the new per-partition lineage stats come from reading back the
        compacted files (``_commit_batch``), so the manifest can never
        disagree with the data; the read-back must hold exactly the base
        manifest's row count (row-conservation guard);
      * pinned-reader isolation — older snapshots' batch directories stay
        referenced by their manifest files, which GC now consults
        (``_live_batches``), so ``read_table(as_of=N)`` is untouched until
        ``expire_snapshots`` explicitly reclaims them;
      * replay idempotency — every compacted-away batch tag is recorded in
        ``retired_batches`` (carried forward forever), so a streaming
        checkpoint replaying a pre-compaction micro-batch stays a no-op;
      * crash safety — data is written before the manifest swap; a kill in
        between leaves an orphan directory the next writer GCs
        (``fail_before_swap`` injects it for tests);
      * concurrent-writer safety — the final swap is a CAS against the
        base manifest's version: a snapshot committed DURING the (at
        100 TB, minutes-long) rewrite job — e.g. a streaming micro-batch
        append — makes the compaction lose with ``ConcurrentCommitError``
        instead of silently overwriting that snapshot and dropping its
        rows; the caller re-runs the compaction over the fresh manifest
        (``on_before_swap`` injects a concurrent commit for tests).

    ``sort_by_key`` (default on) is the Iceberg *sort-order rewrite*
    analogue: rows are sorted by ``key_col`` within each compacted file, so
    every parquet row group carries tight min/max stats on the key and a
    key-range scan skips row groups INSIDE a partition file — the second
    pruning tier under the manifest's per-partition (key_min, key_max)
    index.  Safe by construction: the lineage checksum is an
    order-insensitive bit_xor, and no reader contract depends on row
    order.  Off only for pathological keys where the sort would dominate
    the rewrite.

    ``files_per_partition`` (default 1) is the target-file-size knob for
    tables whose partitions outgrow a sane parquet file (at 100 TB one
    file per partition is too big): >1 switches the shuffle to a range
    partitioning on (pid, key), cutting every partition directory into
    that many KEY-DISJOINT sorted files — parquet footer min/max stats
    then prune whole files before row groups.  The manifest tracks
    partition directories, not files, so readers are agnostic to the
    split.

    Scale note: the rewrite is one distributed read→repartition(__pid)→
    write job (every partition's rows land in one task → one file); only
    the per-partition stat rows reach the driver."""
    if files_per_partition < 1:
        raise ValueError(
            f"files_per_partition must be >= 1, got {files_per_partition}"
        )
    _assert_local_root(root)
    man = _resolve_manifest(root, table, None)
    # clear a prior crashed compaction (own prefix "c"); live streaming
    # appends' in-flight dirs stay shielded by their markers
    _gc_orphan_batches(root, table, man, own_prefixes=("c",))

    n = man["n_partitions"]
    key_col = man["key_col"]
    tag = f"c{man['version'] + 1}-{uuid.uuid4().hex[:8]}"
    staged = (
        read_table(spark, root, table)
        .withColumn("__pid", _pid_column(key_col, n, man["range_bounds"]))
        .withColumn("__batch", F.lit(tag))
    )
    if files_per_partition == 1:
        # one shuffle keyed on __pid: each partition's rows land in ONE
        # task, so each pid directory holds exactly one compacted file
        staged = staged.repartition(n, F.col("__pid"))
    else:
        # range shuffle on (pid, key): each task holds a contiguous
        # (pid, key) slice, so every pid directory is cut into
        # ~files_per_partition KEY-DISJOINT files — footer min/max stats
        # then prune whole files, the tier above row groups.  The range
        # partitioner samples the input (one extra job) and balances
        # skewed keys by construction; this is the path for tables whose
        # partitions outgrow a sane parquet file size.
        staged = staged.repartitionByRange(
            n * files_per_partition, F.col("__pid"), F.col(key_col)
        )
    if sort_by_key:
        # sort (pid, key) within each task: hash collisions can co-locate
        # two pids in one task, and the leading __pid keeps each output
        # file's rows contiguous AND key-sorted
        staged = staged.sortWithinPartitions("__pid", key_col)
    # batch tables track every pid (empty ones too); append tables track
    # only the pids a batch wrote.  The row figure is the base manifest's:
    # an Observation on this shuffle+sort plan would perturb the sort.
    return _commit_batch(
        man, staged, root, table, tag, stage="compact",
        required_pids=range(n) if man["writer"] == "batch" else [],
        replace=True,
        after_write=_raiser(
            f"injected failure after compacted write of {tag!r}, before "
            "manifest swap (compaction crash-window test)"
        ) if fail_before_swap else on_before_swap,
        expected_rows=sum(rec["row_count"] for rec in man["partitions"]),
    )


def expire_snapshots(
    root: str, table: str, *, keep_last: int = 1
) -> list[int]:
    """Iceberg ``expire_snapshots`` analogue — the space-reclaim half of
    compaction: delete manifest files older than the newest ``keep_last``
    snapshots, then remove every batch directory no surviving manifest
    references (this is where compacted-away small files actually
    disappear).  ``retired_batches`` in the head manifest is untouched —
    the replay no-op contract survives expiry.  Pinned readers of an
    expired version fail loudly (``manifest_at`` → FileNotFoundError)
    rather than silently reading GC'd data.  Returns the expired
    versions."""
    _assert_local_root(root)
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    head = _version_pointer(root, table)
    if head is None:
        return []
    cut = head - keep_last + 1
    expired = []
    md = _meta_dir(root, table)
    for v in snapshots(root, table):
        if v < cut:
            os.remove(os.path.join(md, f"v{v}.json"))
            expired.append(v)
    man = current_manifest(root, table)
    _gc_orphan_batches(root, table, man or {})
    return expired


def _live_batches(root: str, table: str, man: dict[str, Any]) -> set[str]:
    """Batch directories referenced by ANY committed snapshot ≤ the VERSION
    pointer, plus the (possibly in-flight) manifest passed in.  Before
    round 5 the current manifest alone sufficed (its partitions list was a
    superset of every older one — append-only); ``rewrite_files`` breaks
    that superset property by REPLACING records, so GC must keep every
    batch a pinned ``as_of`` reader could still bind to.  Space for
    compacted-away files is reclaimed by ``expire_snapshots``, exactly like
    Iceberg's rewrite_data_files / expire_snapshots split."""
    live = {rec.get("batch") for rec in man.get("partitions", [])}
    for v in snapshots(root, table):
        try:
            old = manifest_at(root, table, v)
        except FileNotFoundError:  # expired snapshot
            continue
        live.update(rec.get("batch") for rec in old.get("partitions", []))
    return live


#: how long an in-flight marker shields an uncommitted batch dir from other
#: writers' GC.  A writer killed mid-write leaves a stale marker; after the
#: TTL the orphan is reclaimable by anyone (Iceberg's remove_orphan_files
#: has the same age-threshold design for the same reason).  A job that
#: legitimately outlives the TTL loses only its own uncommitted attempt —
#: and loses LOUDLY (the row-conservation read-back, or the swap's
#: directory check when the GC lands after the read-back), never silently.
GC_INFLIGHT_TTL_S = 6 * 3600.0


def _inflight_dir(root: str, table: str) -> str:
    return os.path.join(_meta_dir(root, table), "inflight")


def _mark_inflight(root: str, table: str, tag: str) -> None:
    """Declare ``tag``'s batch directory as being written by a live job.
    GC (``_gc_orphan_batches``) skips marked orphans until the marker
    expires or the owning writer family reclaims it — without this, a
    CONCURRENT writer's start-of-run GC could delete another writer's
    data files in the window between its data write and its manifest swap
    (e.g. a streaming micro-batch's dir vanishing under a running
    compaction, or vice versa), silently dropping the committed rows."""
    d = _inflight_dir(root, table)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, tag), "w") as f:
        f.write(str(time.time()))


def _clear_inflight(root: str, table: str, tag: str) -> None:
    try:
        os.remove(os.path.join(_inflight_dir(root, table), tag))
    except FileNotFoundError:
        pass


def _gc_orphan_batches(
    root: str,
    table: str,
    man: dict[str, Any],
    *,
    own_prefixes: tuple[str, ...] = (),
) -> None:
    """Remove ``__batch=...`` directories no committed manifest references —
    the leftovers of a write that was killed before its manifest swap.
    Readers never see these dirs either way, GC just reclaims the space.

    Concurrent-writer safety: an orphan whose tag carries a LIVE in-flight
    marker belongs to a job that may still be between its data write and
    its manifest swap — deleting it would lose that job's rows.  Such dirs
    are skipped unless (a) the tag matches one of the caller's
    ``own_prefixes`` (a retry reclaiming its own writer family's crashed
    attempt — append retries reuse the tag, batch/compaction retries share
    the ``b``/``c`` prefix; two concurrent same-family writers are already
    serialized by the commit CAS, so reclaiming a same-family dir can only
    strand a job that would lose the CAS anyway — loudly, not silently) or
    (b) the marker is older than ``GC_INFLIGHT_TTL_S`` (a long-dead
    writer).

    Computing ``live`` and every removal run under ``_commit_lock``, so
    GC never interleaves with a manifest swap: a batch committed before
    the pass is live, and one removed before its commit's swap is refused
    by the swap's directory check."""
    import shutil

    dd = _data_dir(root, table)
    if not os.path.isdir(dd):
        return
    with _commit_lock(root, table):
        live = _live_batches(root, table, man)
        now = time.time()
        for name in os.listdir(dd):
            if not name.startswith("__batch="):
                continue
            tag = name.split("=", 1)[1]
            if tag in live:
                continue
            marker = os.path.join(_inflight_dir(root, table), tag)
            if not any(tag.startswith(p) for p in own_prefixes):
                try:
                    if now - os.path.getmtime(marker) < GC_INFLIGHT_TTL_S:
                        continue  # a live concurrent writer's in-flight batch
                except FileNotFoundError:
                    pass  # unmarked orphan — pre-marker era or already cleared
            shutil.rmtree(os.path.join(dd, name), ignore_errors=True)
            _clear_inflight(root, table, tag)


def snapshots(root: str, table: str) -> list[int]:
    """Committed snapshot versions available for time travel (every
    manifest file ever swapped in — the writer only appends, so version N
    remains readable after N+1 commits).

    Pinned to ≤ the VERSION pointer: a ``v{N}.json`` written by a writer
    killed between the manifest rename and the pointer swap is NOT
    committed — its batch directory is referenced by no committed manifest
    and the next writer's orphan GC may remove it, so exposing it here
    would offer a snapshot whose data can vanish."""
    _assert_local_root(root)
    md = _meta_dir(root, table)
    if not os.path.isdir(md):
        return []
    head = _version_pointer(root, table)
    if head is None:
        return []
    out = []
    for name in os.listdir(md):
        if name.startswith("v") and name.endswith(".json"):
            try:
                v = int(name[1:-5])
            except ValueError:
                continue
            if v <= head:
                out.append(v)
    return sorted(out)


def manifest_at(root: str, table: str, version: int) -> dict[str, Any]:
    """The manifest exactly as of snapshot ``version`` (1-based batch
    commits; the VERSION pointer names the latest).  Refuses versions
    beyond the pointer — see ``snapshots`` for why an un-swapped
    ``v{N}.json`` is not a committed snapshot."""
    _assert_local_root(root)
    head = _version_pointer(root, table)
    if head is None or version > head:
        raise FileNotFoundError(
            f"no committed snapshot v{version} for {table} under {root}; "
            f"available: {snapshots(root, table)}"
        )
    path = os.path.join(_meta_dir(root, table), f"v{version}.json")
    if not os.path.exists(path):
        raise FileNotFoundError(
            f"no snapshot v{version} for {table} under {root}; "
            f"available: {snapshots(root, table)}"
        )
    with open(path) as f:
        return json.load(f)


def _resolve_manifest(root: str, table: str, as_of: int | None) -> dict[str, Any]:
    """The manifest a reader binds to: the head, or snapshot ``as_of``.
    Raises FileNotFoundError when there is none."""
    if as_of is not None:
        return manifest_at(root, table, as_of)
    man = current_manifest(root, table)
    if man is None:
        raise FileNotFoundError(f"no committed manifest for {table} under {root}")
    return man


def _scan_committed(
    spark: SparkSession,
    root: str,
    table: str,
    man: dict[str, Any],
    recs: Iterable[dict[str, Any]],
) -> DataFrame:
    """The rows of the committed partitions ``recs`` (records of ``man``),
    with their ``__batch``/``__pid`` partition columns.  The (batch, raw
    pid) filter prunes at file-listing time, so orphan and in-flight batch
    directories — whatever stray files they hold — are never opened.  When
    no record has data the result is a schema-stable empty frame built
    from the manifest, without touching the filesystem (an all-empty
    committed table has a manifest but may have no parquet files at
    all)."""
    cond = _committed_batch_pid_filter(recs)
    if cond is None or not os.path.isdir(_data_dir(root, table)):
        schema = StructType.fromDDL(man["schema"])
        return spark.createDataFrame(
            [], schema.add("__batch", StringType()).add("__pid", IntegerType())
        )
    return spark.read.parquet(_data_dir(root, table)).filter(cond)


def read_table(
    spark: SparkSession, root: str, table: str, as_of: int | None = None
) -> DataFrame:
    """Read only COMMITTED data: manifest-listed batch directories, pruned
    further to committed partition ids (both are partition columns, so the
    filters prune at the file-listing level — orphan batches are never
    touched).

    ``as_of=<version>`` time-travels to that snapshot (Iceberg
    ``VERSION AS OF`` semantics): the reader binds to manifest v{N}'s
    batch/partition lists, which are immutable once written — a writer
    committing v{N+1} concurrently only ADDS new ``__batch=...``
    directories and a new manifest file, so a pinned read is
    snapshot-isolated by construction (tests/test_icelite_snapshots.py).
    GC can never break a pinned read either: orphan collection only
    removes batch dirs referenced by NO committed manifest, and since
    ``rewrite_files`` can REPLACE partition records, ``_live_batches``
    consults every committed snapshot's manifest — not just the head —
    so a batch stays on disk until ``expire_snapshots`` drops the last
    manifest that references it."""
    man = _resolve_manifest(root, table, as_of)
    return _scan_committed(spark, root, table, man, man["partitions"]).drop(
        "__batch", "__pid"
    )


def _records_in_range(man: dict[str, Any], lo: int, hi: int) -> list[dict[str, Any]]:
    """Committed records whose [key_min, key_max] lineage bounds overlap
    [lo, hi] (empty partitions carry NULL bounds and never match)."""
    return [
        rec
        for rec in man["partitions"]
        if rec["key_min"] is not None
        and rec["key_max"] is not None
        and rec["key_max"] >= lo
        and rec["key_min"] <= hi
    ]


def partitions_for_range(
    man: dict[str, Any], lo: int, hi: int
) -> list[tuple[int, str]]:
    """(raw ``__pid``, batch) of committed partitions whose
    [key_min, key_max] lineage bounds overlap [lo, hi] — the manifest-side
    half of the cell-range pruning contract (empty partitions carry NULL
    bounds and never match).  The pid is the RAW file-partition value, not
    the namespaced lineage ``partition_id`` — appended batches namespace
    the latter (round-4 advice fix)."""
    return [(rec["pid"], rec["batch"]) for rec in _records_in_range(man, lo, hi)]


def read_range(
    spark: SparkSession,
    root: str,
    table: str,
    lo: int,
    hi: int,
    as_of: int | None = None,
) -> DataFrame:
    """Cell-range read using the per-partition lineage bounds as a
    file-pruning index — the payoff of range-partitioning on the
    Hilbert-ordered S2 id space (north star: contiguous id ranges are
    spatially contiguous).  Only partitions whose committed
    [key_min, key_max] overlaps [lo, hi] are listed; ``__batch``/``__pid``
    are partition columns, so the isin filters prune at file-listing time
    and non-overlapping partition directories are never opened.  The exact
    residual key predicate then applies on the survivors.

    ``as_of=<version>`` prunes against snapshot vN's manifest instead
    (same time-travel semantics as ``read_table``)."""
    man = _resolve_manifest(root, table, as_of)
    key = F.col(man["key_col"]).cast("bigint")
    return (
        _scan_committed(spark, root, table, man, _records_in_range(man, lo, hi))
        .filter((key >= F.lit(int(lo))) & (key <= F.lit(int(hi))))
        .drop("__batch", "__pid")
    )


def lineage(
    spark: SparkSession, root: str, table: str, as_of: int | None = None
) -> DataFrame:
    """The lineage/metrics table as a DataFrame (from the manifest; pass
    ``as_of=<version>`` for the metrics exactly as of that snapshot).  A
    table with no commit yet has an empty lineage."""
    try:
        recs = _resolve_manifest(root, table, as_of)["partitions"]
    except FileNotFoundError:
        if as_of is not None:
            raise
        recs = []
    rows = [
        (
            rec["stage"],
            rec["partition_id"],
            rec["key_min"],
            rec["key_max"],
            rec["row_count"],
            rec["checksum"],
            rec["committed_at"],
        )
        for rec in recs
    ]
    return spark.createDataFrame(rows, LINEAGE_SCHEMA)


def verify_table(
    spark: SparkSession, root: str, table: str, as_of: int | None = None
) -> dict[str, Any]:
    """Table fsck (Iceberg has no direct analogue; closest is a manual
    metadata/content audit): re-derive every committed partition's lineage
    stats from the data files ON DISK and diff them against the manifest.

    ``read_range`` treats the manifest's (key_min, key_max) as a
    correctness-bearing pruning index and resume trusts row_count/checksum
    — this is the audit that proves the index still describes the bytes,
    e.g. after a filesystem migration, a restore from backup, or any
    suspected partial write.  One distributed scan (grouped by the
    (batch, pid) file-partition columns, so stats come from the same
    files a reader would open, with the same ``_partition_stats``
    expression the commit recorded); only per-partition stat rows reach
    the driver.

    Returns ``{"ok": bool, "partitions_checked": int, "mismatches":
    [...]}`` where each mismatch carries the batch, raw pid, kind
    (``missing_data`` — manifest says rows exist but no file does;
    ``unexpected_rows`` — manifest says empty but files hold rows; or the
    disagreeing field ``row_count``/``key_min``/``key_max``/``checksum``)
    plus the expected and observed values."""
    man = _resolve_manifest(root, table, as_of)
    expected = {(rec["batch"], rec["pid"]): rec for rec in man["partitions"]}
    scan = _scan_committed(spark, root, table, man, man["partitions"])
    observed = {
        (r["__batch"], int(r["__pid"])): r
        for r in _partition_stats(scan, man["key_col"], ["__batch", "__pid"])
    }

    mismatches: list[dict[str, Any]] = []
    for (batch, pid), rec in expected.items():
        ob = observed.get((batch, pid))
        if rec["row_count"] == 0:
            diffs = [] if ob is None else [("unexpected_rows", 0, ob["row_count"])]
        elif ob is None:
            diffs = [("missing_data", rec["row_count"], 0)]
        else:
            diffs = [
                (field, rec[field], ob[field])
                for field in ("row_count", "key_min", "key_max", "checksum")
                if ob[field] != rec[field]
            ]
        mismatches += [
            {"batch": batch, "pid": pid, "kind": kind, "expected": e, "observed": o}
            for kind, e, o in diffs
        ]
    return {
        "ok": not mismatches,
        "partitions_checked": len(expected),
        "mismatches": mismatches,
    }
