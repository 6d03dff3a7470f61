"""The flagship end-to-end pipeline, materialized through icelite with
per-partition lineage (north rule: every stage writes lineage rows; a
killed run resumes from the last committed partition).

Stages (each an icelite table with its own manifest + lineage):

  1. points   — pages → geo-entity extraction → gazetteer geocode,
                partitioned by S2 cell id (RANGE partitioning over the
                Hilbert curve: S2 ids at a fixed level are Hilbert-ordered
                by construction, so contiguous id ranges are spatially
                contiguous — the north star's "range-partition by
                Hilbert-ordered cells" for large-large joins, giving
                file-level pruning for cell-range predicates).  The
                lineage is persisted across the bounds sample and every
                write batch, so extraction and the S2 Arrow UDF run once
                per point.
  2. joined   — broadcast PIP join into the region polygons.
  3. tiles    — z12 tile-cell assignments; the cell id is the committed
                ``s2_cell`` column (same level), not a second UDF pass.

Run via ``run(spark, sf_dir, out_root)`` (used by spark-submit and the
resume test).  Each stage skips partitions already committed — rerunning
after a kill completes only the remainder.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import udfs
from .icelite import catalog as ice
from .operators import pip_join as pj
from .operators import tiling
from .sources import pages as src

S2_LEVEL = 12


def compact_tables(
    spark: SparkSession, root: str, tables: list[str], *, keep_last: int = 1
) -> dict:
    """The scheduled maintenance pass a production run pairs with ingest
    (Iceberg's rewrite_data_files + expire_snapshots loop): bin-pack every
    table's committed files into one key-sorted file per partition, expire
    the pre-compaction snapshots, then ``verify_table`` — the fsck proving
    the rewritten manifest still describes the bytes on disk before the
    maintenance run reports success.  Returns per-table
    files_before/files_after/version/verified for the run report; raises
    if any table fails verification (a maintenance pass must never
    silently leave a corrupt index behind)."""
    import glob

    out = {}
    for table in tables:
        pat = f"{root}/{table}/data/__batch=*/__pid=*/*.parquet"
        before = len(glob.glob(pat))
        man = ice.rewrite_files(spark, root, table)
        ice.expire_snapshots(root, table, keep_last=keep_last)
        fsck = ice.verify_table(spark, root, table)
        if not fsck["ok"]:
            raise RuntimeError(
                f"post-compaction verify_table failed for {table!r}: "
                f"{fsck['mismatches'][:3]}"
            )
        out[table] = {
            "files_before": before,
            "files_after": len(glob.glob(pat)),
            "version": man["version"],
            "verified": fsck["partitions_checked"],
        }
    return out


def hilbert_range_bounds(
    df: DataFrame, key_col: str, n_partitions: int
) -> list[int]:
    """Range-partition bounds over the Hilbert-ordered S2 id space from a
    sample (driver-side quantiles; deterministic given the data).

    Ids are stored as signed int64, so the range order is the Hilbert
    order with one seam where uint64 ids ≥ 2^63 (faces 4-5) wrap to
    negative — contiguity holds within every partition except the single
    seam partition, and min/max pruning stays exact because query ranges
    use the same signed order."""
    qs = [i / n_partitions for i in range(1, n_partitions)]
    return [int(b) for b in df.stat.approxQuantile(key_col, qs, 0.001)]


def run(
    spark: SparkSession,
    sf_dir: str,
    out_root: str,
    *,
    n_partitions: int = 16,
    batch_size: int = 4,
    fail_after_batches: int | None = None,
) -> dict:
    """Execute all stages with lineage; returns {stage: manifest}."""
    s2c = udfs.s2_cell_udf(S2_LEVEL)
    # the bounds sample and every write batch each run an action over this
    # lineage; unpersisted, each re-runs extraction and the S2 UDF (and a
    # batch's __pid filter is pushed into the gazetteer broadcast side,
    # running the UDF there too)
    points = (
        src.extract_points(src.pages(spark, sf_dir), src.gazetteer(spark))
        .withColumn("s2_cell", s2c(F.col("lat"), F.col("lon")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    manifests = {}
    try:
        bounds = hilbert_range_bounds(points, "s2_cell", n_partitions)
        manifests["points"] = ice.write_partitioned(
            points,
            out_root,
            "points",
            stage="extract_geocode",
            key_col="s2_cell",
            batch_size=batch_size,
            fail_after_batches=fail_after_batches,
            range_bounds=bounds,
        )
    finally:
        points.unpersist()

    pts = ice.read_table(spark, out_root, "points")
    joined = pj.pip_join(
        pts,
        src.regions(spark),
        poly_id="region_id",
        precision=4,
        strategy="broadcast",
        point_cols=("url", "entity", "lat", "lon", "s2_cell"),
    )
    manifests["joined"] = ice.write_partitioned(
        joined,
        out_root,
        "joined",
        stage="pip_join",
        key_col="s2_cell",
        n_partitions=n_partitions,
        batch_size=batch_size,
    )

    tiles = tiling.tile_cell_assignments(
        pts, z=12, s2_level=S2_LEVEL, cell_col="s2_cell"
    )
    manifests["tiles"] = ice.write_partitioned(
        tiles,
        out_root,
        "tiles",
        stage="tile_assign",
        key_col="cell_id",
        n_partitions=max(2, n_partitions // 4),
        batch_size=batch_size,
    )
    return manifests


# ---------------------------------------------------------------------------
# corpus-curation pipeline (the web-corpus twin of run())
# ---------------------------------------------------------------------------


def run_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_root: str,
    *,
    n_partitions: int = 16,
    batch_size: int = 4,
    quality_floor_ppm: int = 400_000,
    jaccard_ppm: int = 850_000,
    domain_cap_n: int | None = None,
) -> dict:
    """End-to-end training-corpus curation, materialized through icelite
    with per-partition lineage (resumable like ``run``):

      pages → exact-dup keeper election (min page_id per sha256(text))
            → quality gate (same exact-int ppm score the driver-checked
              ``corpus_curate`` query pins)
            → near-dup keeper election (MinHash-LSH star edges, exact
              Jaccard verify at ``jaccard_ppm``, connected components —
              the scale-safe star formulation of ``dedup_clusters_star``)
            → optional per-registrable-domain cap (``domains.domain_cap``,
              highest-quality docs kept; off by default — the synthetic
              pages table is single-host, so a cap there is a corpus cap)
            → deterministic content-stable train/val/test split
            → ``corpus`` table (kept docs) + ``audit`` table (one row per
              dropped doc with its drop reason), both icelite-committed.

    Every stage is JVM-side except the shingle kernels the dedup family
    already owns; drop reasons are mutually exclusive and evaluated in
    the order above (a doc is audited under the FIRST gate it fails)."""
    from pyspark.sql import Window

    from .functions import caching
    from .functions import texthash as TH
    from .operators import dedup as dd
    from .operators import domains as dm
    from .operators import textstats as ts

    pg = src.pages(spark, sf_dir)
    t = TH.tokens(F.col("text"))
    n_tok = F.size(t)
    uniq = F.size(F.array_distinct(t))
    safe = F.greatest(n_tok, F.lit(1))
    quality = F.floor(
        F.lit(1e6)
        * (
            F.lit(0.5) * uniq / safe
            + F.lit(0.5) * F.least(n_tok, F.lit(200)) / F.lit(200.0)
        )
    ).cast("bigint")
    w = Window.partitionBy(F.sha2(F.col("text"), 256))
    scored = pg.select(
        "page_id",
        "url",
        "lang",
        "text",
        quality.alias("quality_ppm"),
        (F.col("page_id") == F.min("page_id").over(w)).alias("__exact_keeper"),
    )

    exact_dropped = scored.filter(~F.col("__exact_keeper")).select(
        "page_id", "url", F.lit("dup_exact").alias("status")
    )
    lowq_dropped = scored.filter(
        F.col("__exact_keeper") & (F.col("quality_ppm") < quality_floor_ppm)
    ).select("page_id", "url", F.lit("lowq").alias("status"))
    surv = scored.filter(
        F.col("__exact_keeper") & (F.col("quality_ppm") >= quality_floor_ppm)
    )

    # near-dup election among survivors: star candidates → exact verify →
    # connected components; keeper = min page_id per component
    sets = caching.track(
        dd.shingle_sets(surv, id_col="page_id").persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    sigs = dd.minhash_signatures(sets.select("id", F.explode("hs").alias("h")))
    edges = dd.jaccard_verify_sets(dd.lsh_star_edges(sigs), sets, jaccard_ppm)
    labels = dd.dedup_clusters(edges)  # localCheckpointed — independent of sets
    near_ids = labels.filter(F.col("id") != F.col("cluster")).select(
        F.col("id").alias("page_id")
    )
    sets.unpersist()
    near_dropped = surv.join(near_ids, "page_id").select(
        "page_id", "url", F.lit("dup_near").alias("status")
    )
    surv = surv.join(near_ids, "page_id", "left_anti")

    if domain_cap_n is not None:
        kept = dm.domain_cap(
            surv,
            domain_cap_n,
            id_col="page_id",
            order_by=[F.col("quality_ppm").desc()],
        ).drop("dom_rank")
        cap_dropped = surv.join(
            kept.select("page_id"), "page_id", "left_anti"
        ).select("page_id", "url", F.lit("over_domain_cap").alias("status"))
    else:
        kept = surv.withColumn(
            "domain", dm.registrable_domain_col(dm.url_host_col(F.col("url")))
        )
        cap_dropped = spark.createDataFrame(
            [], "page_id long, url string, status string"
        )

    corpus = ts.split_assign(kept, id_col="url").select(
        "page_id",
        "url",
        "lang",
        "domain",
        "quality_ppm",
        F.length("text").cast("bigint").alias("n_chars"),
        "split",
    )
    audit = (
        exact_dropped.unionByName(lowq_dropped)
        .unionByName(near_dropped)
        .unionByName(cap_dropped)
    )

    manifests = {}
    manifests["corpus"] = ice.write_partitioned(
        corpus,
        out_root,
        "corpus",
        stage="corpus_curate",
        key_col="page_id",
        n_partitions=n_partitions,
        batch_size=batch_size,
    )
    manifests["audit"] = ice.write_partitioned(
        audit,
        out_root,
        "audit",
        stage="corpus_audit",
        key_col="page_id",
        n_partitions=max(2, n_partitions // 4),
        batch_size=batch_size,
    )
    return manifests
