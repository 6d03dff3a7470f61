"""The benchmark's workloads.  Each one is a closed loop with one client:
the next operation starts when the previous one returns.

A workload supplies ``setup`` (inputs and any table it reads; repeated to
time set-up), ``warmup``, ``op`` (one timed operation), ``check``
(correctness, outside the timed region) and ``layers`` (the traced run's
per-layer figures, forcing each lazy layer's output on its own).
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import shutil
import time

import numpy as np

from . import inputs, stats
from .tracing import Tracer

# the sf0.01 shape of the testdata pages: 500 documents x 16 replicas.
# At the sf0.1 shape the first iterations after a warm-up keep speeding
# up for ~4 iterations as the JIT compiles the per-row paths (15, 13, 14,
# 13, 10 s measured on 4 cores); at this size, with the session's task
# slots, the iterations after the warm-up show no trend (9.4, 9.0, 10.0,
# 10.5 s and 11.2, 9.9, 9.4 s on 4 cores), so the first one stands for
# the rest.
N_DOCS = 500
N_EVENTS = 10_000
QUERIES_PER_RUN = 200
# geo_serve: a base table of SERVE_BASE_FILES point files, restored before
# every cycle; each cycle streams in one of SERVE_PAIRS pairs of new files
SERVE_POINTS_PER_FILE = 2000
SERVE_BASE_FILES = 8
SERVE_FILES_PER_CYCLE = 2
SERVE_PAIRS = 8

# the program's layers and the public functions the traced run wraps
INSTRUMENT = [
    ("geospatial_spark.pipeline", "pipeline", ["run", "run_corpus", "compact_tables", "hilbert_range_bounds"]),
    ("geospatial_spark.sources.pages", "sources", ["pages", "gazetteer", "regions", "regions_holed", "extract_points"]),
    ("geospatial_spark.functions.udfs", "functions", ["s2_cell_udf"]),
    ("geospatial_spark.plans.planner", "plans", ["choose_pip_plan", "choose_knn_params"]),
    ("geospatial_spark.operators.pip_join", "operators", ["pip_join"]),
    ("geospatial_spark.operators.knn", "operators", ["knn_join_cellring_adaptive", "knn_join_broadcast", "_ring_join"]),
    ("geospatial_spark.operators.tiling", "operators", ["tile_cell_assignments"]),
    ("geospatial_spark.operators.dedup", "operators", ["shingle_sets", "minhash_signatures", "lsh_star_edges", "jaccard_verify_sets", "dedup_clusters"]),
    ("geospatial_spark.icelite.catalog", "icelite", ["write_partitioned", "append_batch", "rewrite_files", "expire_snapshots", "read_table", "read_range", "verify_table"]),
    ("geospatial_spark.streaming.sink", "streaming", ["stream_to_icelite"]),
]


def noop(df) -> None:
    """Run ``df`` to completion without keeping its rows."""
    df.write.format("noop").mode("overwrite").save()


def summary(df) -> tuple[int, int]:
    """(rows, order-free checksum over every column) in one job.  Hashing
    every column keeps Catalyst from pruning work a bare count() would
    skip, and lets a check compare result multisets without re-running
    the timed path."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*[F.col(c) for c in sorted(df.columns)]), F.lit(2147483647))).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def committed_rows(root: str, table: str) -> int:
    from geospatial_spark.icelite import catalog as ice

    return sum(r["row_count"] for r in ice.current_manifest(root, table)["partitions"])


def committed_bytes(root: str, table: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(f"{root}/{table}/data/**/*.parquet", recursive=True))


class Workload:
    name = ""
    tables: tuple[str, ...] = ()  # committed tables the final state holds
    op_unit = ""  # what one timed operation is
    rows_unit = ""

    def __init__(self, spark, work: str, seed: int, slots: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        # Spark's task slots, also the partition count of every table written
        self.slots = slots
        self.final_root: str | None = None
        self.input_sha256 = ""
        # set by the runner for the traced half of a traced run
        self.tracer: Tracer | None = None

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else contextlib.nullcontext()

    def _pages_inputs(self, d: str) -> None:
        paths = inputs.write_pages_inputs(d, self.seed, N_DOCS, N_EVENTS)
        self.input_sha256 = inputs.sha256_files(paths)

    # --- interface -------------------------------------------------------
    def setup(self, rep: int) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        raise NotImplementedError

    def op(self, i: int) -> dict:
        """One timed operation: {"lat_ms": [...], "rows": n, "extra": {...}}.
        ``lat_ms`` holds one latency per completed unit of work."""
        raise NotImplementedError

    def check(self) -> dict[str, str | None]:
        """Correctness checks: name -> failure message, None when passed."""
        raise NotImplementedError

    def layers(self, tracer: Tracer) -> dict:
        """Per-layer figures from spans this method opens itself."""
        return {}

    def named_metrics(self, s, e2e: dict) -> dict:
        """The run's end-to-end figures under their workload-specific
        names, each {"value", "unit"}; ``s`` is the untraced Samples."""
        out = {k: (e2e[k], u) for k, u in (("setup_s", "s"), ("cpu_s", "s"), ("peak_rss_mb", "MB"),
                                           ("scan_ms", "ms"), ("stored_bytes_per_row", "B/row"))}
        out.update(self._named(s, e2e))
        return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}

    def _named(self, s, e2e: dict) -> dict:
        return {"input_rows_per_s": (e2e["rows_per_s"], "rows/s")}

    # --- shared checks and final-state metrics -----------------------------
    def verify_tables(self) -> dict[str, str | None]:
        from geospatial_spark.icelite import catalog as ice

        out = {}
        for t in self.tables:
            res = ice.verify_table(self.spark, self.final_root, t)
            out[f"verify_table({t})"] = None if res["ok"] else str(res["mismatches"][:2])
        return out

    def scan_ms(self, reps: int = 5) -> float:
        """Median of full read_table counts of the final tables."""
        from geospatial_spark.icelite import catalog as ice

        times = []
        for _ in range(reps):
            t = time.perf_counter()
            for tb in self.tables:
                ice.read_table(self.spark, self.final_root, tb).count()
            times.append((time.perf_counter() - t) * 1e3)
        return float(np.median(times))

    def stored_bytes_per_row(self) -> float:
        rows = sum(committed_rows(self.final_root, t) for t in self.tables)
        return sum(committed_bytes(self.final_root, t) for t in self.tables) / max(rows, 1)


# ---------------------------------------------------------------------------


class GeoPipeline(Workload):
    """pipeline.run on seeded pages into a fresh root, then compact_tables."""

    name = "geo_pipeline"
    tables = ("points", "joined", "tiles")
    op_unit = "iteration (pipeline.run + compact_tables)"
    rows_unit = "pages"

    def setup(self, rep: int) -> None:
        self.inputs = fresh_dir(f"{self.work}/inputs{rep}")
        self._pages_inputs(self.inputs)
        self.n_pages = N_DOCS * 16

    def _iteration(self, inputs_dir: str, root: str) -> dict:
        from geospatial_spark import pipeline

        man = pipeline.run(self.spark, inputs_dir, root, n_partitions=self.slots, batch_size=self.slots)
        pipeline.compact_tables(self.spark, root, list(self.tables))
        return man

    def warmup(self) -> None:
        d = fresh_dir(f"{self.work}/warm_inputs")
        inputs.write_pages_inputs(d, self.seed + 1, N_DOCS, N_EVENTS)
        self._iteration(d, fresh_dir(f"{self.work}/warm_out"))

    def op(self, i: int) -> dict:
        root = fresh_dir(f"{self.work}/out")
        t = time.perf_counter()
        man = self._iteration(self.inputs, root)
        wall = time.perf_counter() - t
        self.final_root = root
        n_pts = sum(r["row_count"] for r in man["points"]["partitions"])
        n_join = sum(r["row_count"] for r in man["joined"]["partitions"])
        return {
            "lat_ms": [wall * 1e3],
            "rows": self.n_pages,
            # one tile assignment per point at the pipeline's single zoom
            "extra": {"points": n_pts, "joined": n_join, "tile_assignments": n_pts},
        }

    def _named(self, s, e2e: dict) -> dict:
        return {
            "input_rows_per_s": (e2e["rows_per_s"], "rows/s"),
            "join_rows_per_s": (s.extra["joined"] / s.wall_s, "rows/s"),
            "tile_assign_per_s": (s.extra["tile_assignments"] / s.wall_s, "assignments/s"),
        }

    def check(self) -> dict[str, str | None]:
        from pyspark.sql import functions as F

        from geospatial_spark.icelite import catalog as ice
        from geospatial_spark.sources import constants as C

        bad = self.verify_tables()
        # joined rows == half-open box containment against the 64 rect
        # regions, counted in numpy from the committed points' coordinates
        pts = (
            ice.read_table(self.spark, self.final_root, "points")
            .groupBy("lat", "lon")
            .agg(F.count(F.lit(1)).alias("n"))
            .toPandas()
        )
        lat, lon, n = pts["lat"].to_numpy(), pts["lon"].to_numpy(), pts["n"].to_numpy()
        expect = 0
        for _i, _rid, _c, minx, miny, maxx, maxy in C.region_rows():
            inside = (lon >= minx) & (lon < maxx) & (lat >= miny) & (lat < maxy)
            expect += int(n[inside].sum())
        got = committed_rows(self.final_root, "joined")
        bad["joined_rows_match_box_containment"] = None if got == expect else f"{got} != {expect}"
        return bad

    def layers(self, tracer: Tracer) -> dict:
        """Each lazy layer forced alone over a materialized input."""
        from pyspark.sql import functions as F

        from geospatial_spark import pipeline
        from geospatial_spark.functions import udfs
        from geospatial_spark.icelite import catalog as ice
        from geospatial_spark.operators import pip_join as pj
        from geospatial_spark.operators import tiling
        from geospatial_spark.sources import pages as src

        out = {}
        pages = src.pages(self.spark, self.inputs).localCheckpoint(eager=True)
        gaz = src.gazetteer(self.spark).localCheckpoint(eager=True)
        with tracer.span("sources.extract_points") as sp:
            noop(src.extract_points(pages, gaz))
        out["sources.extract_points_s"] = sp.duration
        pts = src.extract_points(pages, gaz).localCheckpoint(eager=True)
        out["sources.points_per_page"] = pts.count() / self.n_pages
        s2c = udfs.s2_cell_udf(pipeline.S2_LEVEL)
        with tracer.span("functions.s2_cell") as sp:
            noop(pts.withColumn("s2_cell", s2c(F.col("lat"), F.col("lon"))))
        out["functions.s2_cell_s"] = sp.duration
        pts = pts.withColumn("s2_cell", s2c(F.col("lat"), F.col("lon"))).localCheckpoint(eager=True)
        regions = src.regions(self.spark).localCheckpoint(eager=True)
        with tracer.span("operators.pip_join") as sp:
            noop(pj.pip_join(pts, regions, poly_id="region_id", precision=4, strategy="broadcast"))
        sp.counts["matches"] = pj.pip_join(pts, regions, poly_id="region_id", precision=4).count()
        out["operators.pip_join_s"] = sp.duration
        with tracer.span("operators.tiling") as sp:
            noop(tiling.tile_cell_assignments(pts, z=12, s2_level=pipeline.S2_LEVEL))
        out["operators.tiling_s"] = sp.duration
        root = fresh_dir(f"{self.work}/layer_out")
        bounds = pipeline.hilbert_range_bounds(pts, "s2_cell", self.slots)
        with tracer.span("icelite.write_partitioned") as sp:
            ice.write_partitioned(
                pts, root, "points", stage="extract_geocode", key_col="s2_cell",
                batch_size=self.slots, range_bounds=bounds,
            )
        out["icelite.write_partitioned_s"] = sp.duration
        out["icelite.files_written"] = len(glob.glob(f"{root}/points/data/**/*.parquet", recursive=True))
        out["icelite.bytes_written"] = committed_bytes(root, "points")
        return out


class QueryMix:
    """The geo_serve queries over a points table keyed by ``s2_cell``: each
    query restricts to a seeded cell range, then counts the range
    (``range``), joins it into the holed regions with the planner's plan
    (``pip``, forcing the exact Arrow PIP refine), ranks the 5 nearest
    gazetteer points for a sample of it (``knn``), or assigns its tiles
    (``tiles``)."""

    KINDS = ("range", "pip", "knn", "tiles")

    def __init__(self, spark):
        self.spark = spark
        self._polys = None

    def polys(self):
        """Holed regions with their bbox columns (the planner reads them)."""
        if self._polys is None:
            from geospatial_spark.sources import pages as src

            bbox = src.regions(self.spark).select("region_id", "minx", "miny", "maxx", "maxy")
            self._polys = src.regions_holed(self.spark).join(bbox, "region_id").localCheckpoint(eager=True)
        return self._polys

    @staticmethod
    def knn_sample(rng, q: dict):
        """One point in 20 of the range, chosen by url hash (the same rows
        whatever plan or partitioning produced the range)."""
        from pyspark.sql import functions as F

        return rng.select("url", "entity", "lat", "lon").filter(
            F.pmod(F.xxhash64("url", F.lit(q["id"])), F.lit(20)) == 0
        )

    def df(self, root: str, q: dict, *, reference: bool = False):
        """The query's result; ``reference`` builds it through an
        independent path for the correctness check."""
        from pyspark.sql import functions as F

        from geospatial_spark.icelite import catalog as ice

        lo, hi = q["lo"], q["hi"]
        if reference:
            key = F.col("s2_cell")
            rng = ice.read_table(self.spark, root, "points").filter((key >= F.lit(lo)) & (key <= F.lit(hi)))
        else:
            rng = ice.read_range(self.spark, root, "points", lo, hi)
        return self.over(rng, q, reference=reference)

    def over(self, rng, q: dict, *, reference: bool = False):
        """The query's operator over the rows of its range."""
        from pyspark.sql import functions as F

        from geospatial_spark.operators import knn
        from geospatial_spark.operators import pip_join as pj
        from geospatial_spark.operators import tiling
        from geospatial_spark.plans import planner
        from geospatial_spark.sources import constants as C
        from geospatial_spark.sources import pages as src

        kind = q["kind"]
        if kind == "range":
            return rng
        if kind == "tiles":
            return tiling.tile_cell_assignments(rng, z=12, s2_level=12)
        if kind == "pip":
            plan = planner.choose_pip_plan(rng, self.polys())
            strategy = plan.strategy
            if reference:
                strategy = "shuffle" if plan.strategy == "broadcast" else "broadcast"
            return pj.pip_join(
                rng, self.polys(), poly_id="region_id", precision=plan.precision,
                strategy=strategy, salt=plan.salt, heavy_cell_rows=plan.heavy_cell_rows,
                point_cols=("url", "entity", "lat", "lon"),
            )
        sample = self.knn_sample(rng, q)
        if reference:
            out = knn.knn_join_broadcast(sample, [(g[1], g[2], g[3]) for g in C.gazetteer_rows()], k=5)
        else:
            precision, ring = planner.choose_knn_params(len(C.gazetteer_rows()), 5)
            out = knn.knn_join_cellring_adaptive(
                sample, src.gazetteer(self.spark).select("name", "lat", "lon"), k=5,
                precision=precision, rings=(ring, 3 * ring + 1), broadcast_neighbors=True,
            )
        return out.select(
            "url", "entity", "neighbor_name", "rank",
            F.floor(F.col("dist_m") * 1000 + F.lit(0.5)).cast("bigint").alias("dist_mm"),
        )

    def run(self, root: str, q: dict, span) -> tuple[int, int]:
        """Answer ``q``; its execution is charged to the layer that does
        the work (the range scan, or the operator over it)."""
        layer = "icelite" if q["kind"] == "range" else "operators"
        with span(f"{layer}.{q['kind']}_query"):
            return summary(self.df(root, q))

    def check(self, root: str, answered: dict[int, tuple[dict, tuple[int, int]]]) -> dict[str, str | None]:
        """The first answered query of each kind, rebuilt through the
        independent path on the same table: same rows and checksum as the
        timed answer."""
        out = {}
        for q, timed in answered.values():
            name = f"{q['kind']}_matches_reference"
            if name not in out:
                ref = summary(self.df(root, q, reference=True))
                out[name] = None if ref == timed else f"query {q['id']}: timed {timed}, reference {ref}"
        return out

    # isolation span and metric per query kind; the count recorded with
    # each span is the denominator of its candidates-per-output ratio
    ISOLATED = {"pip": ("operators.pip_join", "matches"), "knn": ("operators.knn", "results"),
                "tiles": ("operators.tiling", "rows")}

    def layer_figs(self, root: str, queries: list[dict], tracer: Tracer) -> dict:
        """Each query's layers forced alone: the range read, then the
        operator over the materialized range."""
        from geospatial_spark.icelite import catalog as ice

        man = ice.current_manifest(root, "points")
        pids = {(r["batch"], r["partition_id"]) for r in man["partitions"]}
        files = glob.glob(f"{root}/points/data/**/*.parquet", recursive=True)
        out = {"icelite.files_per_partition": len(files) / max(len(pids), 1)}
        times: dict[str, list[float]] = {}
        sel_ratio = []
        for q in queries:
            lo, hi = q["lo"], q["hi"]
            sel_ratio.append(len(ice.partitions_for_range(man, lo, hi)) / max(len(pids), 1))
            with tracer.span("icelite.read_range") as sp:
                noop(ice.read_range(self.spark, root, "points", lo, hi))
            times.setdefault(sp.name, []).append(sp.duration)
            if q["kind"] == "range":
                continue
            name, count = self.ISOLATED[q["kind"]]
            res = self.over(ice.read_range(self.spark, root, "points", lo, hi).localCheckpoint(eager=True), q)
            with tracer.span(name) as sp:
                noop(res)
            sp.counts[count] = res.count()
            times.setdefault(name, []).append(sp.duration)
        out["icelite.read_range_ms"] = 1e3 * stats.median(times["icelite.read_range"])
        out["icelite.partitions_selected_ratio"] = stats.median(sel_ratio)
        for name, _ in self.ISOLATED.values():
            if name in times:
                out[f"{name}_s"] = stats.median(times[name])
        return out


def isolation_queries(queries: list[dict]) -> list[dict]:
    """The first megacity and the first uniform query of each kind."""
    return [next(q for q in queries if q["kind"] == k and q["megacity"] == m)
            for k in QueryMix.KINDS for m in (True, False)]


def stream_matches_input(spark, root: str, files: list[str]) -> str | None:
    """Row count and an order-free checksum of url hashes of the streamed
    table equal those of the input files (None when they match)."""
    import pyarrow.parquet as pq

    from geospatial_spark.icelite import catalog as ice

    src = [u for p in files for u in pq.read_table(p, columns=["url"]).column("url").to_pylist()]
    got = ice.read_table(spark, root, "points").select("url").toPandas()["url"].tolist()

    def digest(urls) -> int:
        return sum(int(hashlib.sha256(u.encode()).hexdigest()[:16], 16) for u in urls) % (1 << 64)

    if len(got) == len(src) and digest(got) == digest(src):
        return None
    return f"{len(got)} rows vs input {len(src)}, or url checksums differ"


def start_stream(spark, src_dir: str, root: str, ckpt: str, slots: int, *, files_per_trigger: int, compact_every: int):
    """stream_to_icelite of the points in a parquet file directory, keyed
    by their S2 cell, ``files_per_trigger`` files per micro-batch,
    compacting every ``compact_every`` batches."""
    from pyspark.sql import functions as F

    from geospatial_spark.functions import udfs
    from geospatial_spark.streaming import sink

    stream = (
        spark.readStream.schema(inputs.STREAM_SCHEMA).option("maxFilesPerTrigger", files_per_trigger).parquet(src_dir)
        .withColumn("s2_cell", udfs.s2_cell_udf(12)(F.col("lat"), F.col("lon")))
    )
    return sink.stream_to_icelite(
        stream, root, "points", stage="ingest", key_col="s2_cell", n_partitions=slots,
        checkpoint_dir=ckpt, compact_every=compact_every,
    )


def finished(q) -> list:
    """Await an availableNow query; its non-empty progress reports."""
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"stream failed: {q.exception()}")
    return [p for p in q.recentProgress if p.numInputRows > 0]


def streaming_figs(progress: list[tuple[float, float]]) -> dict:
    """Per micro-batch trigger and addBatch medians from the progress
    reports; their difference is the streaming engine's own overhead."""
    trig = [t for t, _ in progress]
    add = [a for _, a in progress]
    return {
        "streaming.trigger_ms": float(np.median(trig)),
        "streaming.add_batch_ms": float(np.median(add)),
        "streaming.overhead_ms": float(np.median(np.subtract(trig, add))),
        "streaming.batches": len(progress),
    }


class GeoServe(Workload):
    """Ingest while serving, on a table of fixed size.  Set-up streams
    SERVE_BASE_FILES point files into a base table and keeps a copy of the
    table and of the stream's checkpoint.  Every cycle starts from that
    copy (restored outside the timed region), streams in one pair of newly
    arrived files (an availableNow run of stream_to_icelite, one
    micro-batch per file, compacting the whole table after the second),
    then answers the next block of the seeded query mix (inputs.MIX:
    40/30/15/15 % range/pip/knn/tiles) against the table as it now stands.
    Every cycle commits into, compacts and reads a table of the same size,
    so its latency does not drift with the number of cycles before it."""

    name = "geo_serve"
    tables = ("points",)
    op_unit = (f"cycle ({SERVE_FILES_PER_CYCLE} micro-batch commits and a compaction, then "
               f"{inputs.MIX_BLOCK} range/pip/knn/tiles queries)")
    rows_unit = "points ingested"

    def setup(self, rep: int) -> None:
        from geospatial_spark.sources import constants as C

        d = fresh_dir(f"{self.work}/serve_files{rep}")
        n_files = SERVE_BASE_FILES + SERVE_PAIRS * SERVE_FILES_PER_CYCLE
        self.files = inputs.write_stream_files(d, self.seed, n_files * SERVE_POINTS_PER_FILE, n_files,
                                               C.gazetteer_rows())
        self.queries = inputs.query_sample(self.seed, QUERIES_PER_RUN, C.MEGACITIES)
        inputs.write_query_sample(f"{d}/queries.json", self.queries)
        self.input_sha256 = inputs.sha256_files(glob.glob(f"{d}/*"))
        self.mix = QueryMix(self.spark)
        self.sub_ms: dict[str, list[float]] = {}
        self.progress: list[tuple[float, float]] = []
        # the base table is built by the same stream in as many micro-batches
        # as a cycle commits, so the cycles' batch ids continue its checkpoint
        # and each cycle's last commit is a compacting one
        self.live, self.final_root, self.ckpt = (f"{self.work}/{t}{rep}" for t in ("live", "ice", "ckpt"))
        self._stage(self.files[:SERVE_BASE_FILES])
        finished(start_stream(self.spark, self.live, fresh_dir(self.final_root), fresh_dir(self.ckpt), self.slots,
                              files_per_trigger=SERVE_BASE_FILES // SERVE_FILES_PER_CYCLE,
                              compact_every=SERVE_FILES_PER_CYCLE))
        for p in (self.final_root, self.ckpt):
            shutil.rmtree(f"{p}.base", ignore_errors=True)
            shutil.copytree(p, f"{p}.base")

    def _stage(self, files: list[str]) -> None:
        """The stream's source directory holding exactly ``files``, with
        their pinned mtimes (the file source orders files by them)."""
        fresh_dir(self.live)
        for f in files:
            shutil.copy2(f, self.live)
        self.ingested = list(files)

    def _restore(self, i: int) -> list[dict]:
        """Cycle ``i``'s untimed preparation: the base table and checkpoint
        back in place and the cycle's pair of new files staged beside the
        base files.  Returns the cycle's block of queries."""
        for p in (self.final_root, self.ckpt):
            shutil.rmtree(p)
            shutil.copytree(f"{p}.base", p)
        at = SERVE_BASE_FILES + (i % SERVE_PAIRS) * SERVE_FILES_PER_CYCLE
        self._stage(self.files[:SERVE_BASE_FILES] + self.files[at : at + SERVE_FILES_PER_CYCLE])
        at = (i * inputs.MIX_BLOCK) % len(self.queries)
        return self.queries[at : at + inputs.MIX_BLOCK]

    def _cycle(self, queries: list[dict]) -> int:
        """Stream in the staged files, then answer ``queries`` in order;
        returns the rows ingested."""
        self.answered: dict[int, tuple[dict, tuple[int, int]]] = {}
        t = time.perf_counter()
        with self.span("streaming.ingest"):
            prog = finished(start_stream(self.spark, self.live, self.final_root, self.ckpt, self.slots,
                                         files_per_trigger=1, compact_every=SERVE_FILES_PER_CYCLE))
        self.sub_ms.setdefault("ingest", []).append((time.perf_counter() - t) * 1e3)
        for p in prog:
            trig = float(p.durationMs["triggerExecution"])
            self.sub_ms.setdefault("commit", []).append(trig)
            self.progress.append((trig, float(p.durationMs.get("addBatch", 0))))
        for q in queries:
            t = time.perf_counter()
            self.answered[q["id"]] = (q, self.mix.run(self.final_root, q, self.span))
            self.sub_ms.setdefault(q["kind"], []).append((time.perf_counter() - t) * 1e3)
        return sum(p.numInputRows for p in prog)

    def warmup(self) -> None:
        # the last pair of files, and a megacity and a uniform query of each
        # kind (the two range shapes the planner picks different plans for),
        # taken from the end of the sample.  The first timed cycle still runs
        # 7-18 % slower than the cycles after it (4 runs on 4 cores, 2 slots
        # and 4); a whole block as warm-up cost ~10 s more per run, and the
        # timed cycle after it was no faster in the runs tried (17-20 s)
        self._restore(-1)
        self._cycle(isolation_queries(self.queries[::-1]))
        self.sub_ms.clear()
        self.progress.clear()

    def op(self, i: int) -> dict:
        # i counts from 0 in both halves of a traced run, so the untraced
        # and the traced half do the same work
        queries = self._restore(i)
        t = time.perf_counter()
        rows = self._cycle(queries)
        wall = time.perf_counter() - t
        return {"lat_ms": [wall * 1e3], "rows": rows, "extra": {"cycles": 1}, "wall_s": wall}

    def _named(self, s, e2e: dict) -> dict:
        sub = self.sub_ms
        queries = [x for k in QueryMix.KINDS for x in sub.get(k, [])]
        out = {
            "input_rows_per_s": (e2e["rows_per_s"], "rows/s"),
            "commit_p50_ms": (stats.median(sub["commit"]), "ms"),
            "commit_tail_ms": (stats.tail(sub["commit"]), "ms"),
            "query_p50_ms": (stats.median(queries), "ms"),
            "query_tail_ms": (stats.tail(queries), "ms"),
            "queries_per_s": (len(queries) / (sum(queries) / 1e3), "1/s"),
        }
        for k in QueryMix.KINDS:
            out[f"{k}_p50_ms"] = (stats.median(sub[k]), "ms")
        return out

    def check(self) -> dict[str, str | None]:
        return {**self.verify_tables(),
                "rows_and_url_checksum_match_input": stream_matches_input(self.spark, self.final_root, self.ingested),
                **self.mix.check(self.final_root, self.answered)}

    def layers(self, tracer: Tracer) -> dict:
        out = streaming_figs(self.progress)
        out.update(self.mix.layer_figs(self.final_root, isolation_queries(self.queries), tracer))
        return out


class CorpusCurate(Workload):
    """pipeline.run_corpus on seeded pages into a fresh root."""

    name = "corpus_curate"
    tables = ("corpus", "audit")
    op_unit = "iteration (pipeline.run_corpus)"
    rows_unit = "pages"

    def setup(self, rep: int) -> None:
        self.inputs = fresh_dir(f"{self.work}/inputs{rep}")
        self._pages_inputs(self.inputs)
        self.n_pages = N_DOCS * 16

    def warmup(self) -> None:
        from geospatial_spark import pipeline

        d = fresh_dir(f"{self.work}/warm_inputs")
        inputs.write_pages_inputs(d, self.seed + 1, N_DOCS, N_EVENTS)
        pipeline.run_corpus(self.spark, d, fresh_dir(f"{self.work}/warm_out"),
                            n_partitions=self.slots, batch_size=self.slots)

    def op(self, i: int) -> dict:
        from geospatial_spark import pipeline

        root = fresh_dir(f"{self.work}/out")
        t = time.perf_counter()
        pipeline.run_corpus(self.spark, self.inputs, root, n_partitions=self.slots, batch_size=self.slots)
        wall = time.perf_counter() - t
        self.final_root = root
        return {"lat_ms": [wall * 1e3], "rows": self.n_pages,
                "extra": {"kept": committed_rows(root, "corpus"), "audited": committed_rows(root, "audit")}}

    def check(self) -> dict[str, str | None]:
        from pyspark.sql import functions as F

        from geospatial_spark.icelite import catalog as ice

        bad = self.verify_tables()
        ids = ice.read_table(self.spark, self.final_root, "corpus").select("page_id").unionByName(
            ice.read_table(self.spark, self.final_root, "audit").select("page_id")
        )
        row = ids.agg(F.count(F.lit(1)).alias("n"), F.countDistinct("page_id").alias("d")).collect()[0]
        ok = row["n"] == row["d"] == self.n_pages
        bad["corpus_plus_audit_cover_each_page_once"] = (
            None if ok else f"{row['d']} distinct of {row['n']} rows, expected {self.n_pages}"
        )
        return bad

    def layers(self, tracer: Tracer) -> dict:
        from pyspark.sql import functions as F

        from geospatial_spark.operators import dedup as dd
        from geospatial_spark.sources import pages as src

        pages = src.pages(self.spark, self.inputs).select("page_id", "text").localCheckpoint(eager=True)
        out = {}
        with tracer.span("operators.dedup_shingle") as sp:
            sets = dd.shingle_sets(pages, id_col="page_id").localCheckpoint(eager=True)
        out["operators.dedup_shingle_s"] = sp.duration
        with tracer.span("operators.dedup_minhash") as sp:
            sigs = dd.minhash_signatures(sets.select("id", F.explode("hs").alias("h"))).localCheckpoint(eager=True)
        out["operators.dedup_minhash_s"] = sp.duration
        with tracer.span("operators.dedup_lsh") as sp:
            cand = dd.lsh_star_edges(sigs).localCheckpoint(eager=True)
        out["operators.dedup_lsh_s"] = sp.duration
        with tracer.span("operators.dedup_verify") as sp:
            edges = dd.jaccard_verify_sets(cand, sets, 850_000).localCheckpoint(eager=True)
        out["operators.dedup_verify_s"] = sp.duration
        n_cand, n_edges = cand.count(), edges.count()
        out["operators.lsh_verified_ratio"] = n_edges / max(n_cand, 1)
        with tracer.span("operators.dedup_cc") as sp:
            noop(dd.dedup_clusters(edges))
        out["operators.dedup_cc_s"] = sp.duration
        return out


WORKLOADS = {w.name: w for w in (GeoPipeline, GeoServe, CorpusCurate)}
